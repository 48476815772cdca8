package graft

import graft.contract._
import graft.core.FeatureType._
import graft.expr._
import graft.store.ContractStore
import org.scalatest.funsuite.AnyFunSuite

/** The contracts behind the checked-in registry texts under
  * `src/test/resources/graft/`: `registry_v1.json` is what
  * `ContractStore.saveTo` wrote for [[RegistryFixtures.store]] before the
  * codec moved to Jackson, and `registry_legacy.json` is the bare view array
  * the first registry writer emitted for [[RegistryFixtures.legacyViews]]. */
object RegistryFixtures {
  val events: FeatureView = FeatureView(
    name = "events",
    source = graft.sources.LogUpsertSource("/data/events_log", Seq("user_id"),
      autoCompactEvery = 7, boundFiles = false),
    entities = Seq(Feature("user_id", FInt64)),
    features = Seq(
      Feature("clicks", FInt64, description = Some("tab\tcr\rctl\u0001 \ud83d\ude00"),
        constraints = Seq(Constraint.LowerBound(Double.NegativeInfinity),
          Constraint.UpperBound(1e9, inclusive = false), Constraint.Required),
        defaultValue = Some(0L)),
      Feature("country", FString,
        constraints = Seq(Constraint.InDomain(Seq("DE", "FR", "\"quoted\"")),
          Constraint.MinLength(2), Constraint.MaxLength(3), Constraint.Optional),
        defaultValue = Some("n/a")),
      Feature("url", FString,
        constraints = Seq(Constraint.StartsWith("https://"), Constraint.EndsWith("/"),
          Constraint.Regex("^[a-z]+\\d*\\\\$")))),
    derived = Seq(
      DerivedFeature("clicks_k", FFloat64, Binary("div", Ref("clicks"), Lit(1000.0)), Seq("clicks")),
      DerivedFeature("tagged", FString,
        AppendStrings(Seq(Ref("country"), Lit("\\"), Lit(7), Lit(7L), Lit(null), Lit(true)), "\n"),
        Seq("country")),
      DerivedFeature("bounded", FFloat64,
        Clip(FillNa(Ref("clicks"), 0.0, alsoNan = true), -1.5, 2.5e20), Seq("clicks"))),
    aggregates = Seq(AggregatedFeature("clicks_7d", FInt64, AggFunc.Sum, "clicks",
      Some(AggregationWindow(java.time.Duration.ofDays(7), Some(java.time.Duration.ofDays(1)),
        Some(java.time.Duration.ofHours(2)))))),
    eventTimestamp = Some(EventTimestamp("ts", Some(java.time.Duration.ofDays(30)))),
    mappingKeys = Map("uid" -> "user_id", "n_clicks" -> "clicks"),
    description = Some("events \"log\" \\ store"),
    acceptableFreshness = Some(java.time.Duration.ofHours(6)),
    unacceptableFreshness = Some(java.time.Duration.ofDays(2)))

  val profiles: FeatureView = FeatureView(
    name = "profiles",
    source = graft.sources.BucketedLogUpsertSource("/data/profiles", Seq("user_id"), 16, 9),
    entities = Seq(Feature("user_id", FInt64)),
    features = Seq(Feature("age", FInt32), Feature("score", FFloat64, defaultValue = Some(0.5))),
    aggregates = Seq(
      AggregatedFeature("score_p90", FFloat64, AggFunc.Percentile(0.9), "score"),
      AggregatedFeature("names", FString, AggFunc.ConcatString("|"), "age")))

  val model: ModelContract = ModelContract("churn", Seq("events:clicks", "profiles:age"),
    predictionView = Some(FeatureView("churn_preds",
      graft.sources.ParquetSource("/data/churn_preds"),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("p_churn", FFloat64)))),
    description = Some("churn model"))

  val recipe: CurationRecipe = CurationRecipe("web_clean", decontamCol = Some("split"),
    decontamValue = "eval", decontamMode = "excise", gopherMinWords = 30,
    nearDupThreshold = 0.7, qualityScoreCol = Some("q"), ccnetRefCol = Some("src"),
    ccnetRefValue = "wiki", dsirTargetCol = Some("domain"), dsirTargetValue = "news",
    dsirKeepPct = 60, trainPct = 90, description = Some("web \"crawl\"\tcleanup"))

  def store: ContractStore =
    new ContractStore().addView(events).addView(profiles).addModel(model).addRecipe(recipe)

  val legacyViews: Seq[FeatureView] = Seq(events, profiles)
}

/** Registry texts written by the earlier codec load to equal contracts, and
  * the registry opens on its own path's filesystem. */
class RegistryCompatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import RegistryFixtures._

  private def resource(name: String): String =
    getClass.getResource(s"/graft/$name").toURI.toString

  test("a checked-in registry text loads to equal contracts") {
    val loaded = new ContractStore().loadFrom(spark, resource("registry_v1.json"))
    assert(loaded.views == Map("events" -> events, "profiles" -> profiles))
    assert(loaded.models == Map("churn" -> model))
    assert(loaded.recipes == Map("web_clean" -> recipe))
  }

  test("a checked-in legacy bare view array loads to equal views") {
    val loaded = new ContractStore().loadFrom(spark, resource("registry_legacy.json"))
    assert(loaded.views == legacyViews.map(v => v.name -> v).toMap)
    assert(loaded.models.isEmpty && loaded.recipes.isEmpty)
  }

  test("a file: registry saves and loads while the default filesystem is another one") {
    val path = java.nio.file.Files.createTempDirectory("graft_reg_fs").toUri.toString +
      "contracts.json"
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "graftnofs:///")
    try {
      store.saveTo(spark, path)
      val loaded = new ContractStore().loadFrom(spark, path)
      assert(loaded.views == Map("events" -> events, "profiles" -> profiles))
    } finally conf.set("fs.defaultFS", prior)
    assert(conf.get("fs.defaultFS") == prior)
  }
}
