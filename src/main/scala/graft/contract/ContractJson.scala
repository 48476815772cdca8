package graft.contract

import graft.core.FeatureType
import graft.expr.ExprJson
import graft.expr.JsonValue.{quote => q}

/** JSON serialization of feature-view contracts — the analog of the
  * reference's mashumaro-codable `CompiledFeatureView`
  * (schemas/feature_view.py:40), so contracts can live in a registry file and
  * be loaded by later sessions/other processes.
  *
  * Code-valued members are the documented non-serializable escape hatches
  * (SURVEY §7.4): function sources (TransformSource/CustomSource/...) are
  * emitted as `{"kind":"opaque"}` and must be re-bound on load via the
  * `sources` map; `AggFunc.Custom` refuses serialization.
  */
object ContractJson {

  private def opt(o: Option[String]): String = o.fold("null")(q)
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  // ---------- constraints ----------

  private def constraintJson(c: Constraint): String = c match {
    case Constraint.Required => """{"kind":"required"}"""
    case Constraint.Optional => """{"kind":"optional"}"""
    case Constraint.LowerBound(v, inc) => s"""{"kind":"lower_bound","v":$v,"inclusive":$inc}"""
    case Constraint.UpperBound(v, inc) => s"""{"kind":"upper_bound","v":$v,"inclusive":$inc}"""
    case Constraint.InDomain(vs) => s"""{"kind":"in_domain","values":${arr(vs.map(q))}}"""
    case Constraint.MinLength(n) => s"""{"kind":"min_length","n":$n}"""
    case Constraint.MaxLength(n) => s"""{"kind":"max_length","n":$n}"""
    case Constraint.StartsWith(p) => s"""{"kind":"starts_with","p":${q(p)}}"""
    case Constraint.EndsWith(p) => s"""{"kind":"ends_with","p":${q(p)}}"""
    case Constraint.Regex(p) => s"""{"kind":"regex","p":${q(p)}}"""
  }

  private def constraintFrom(m: Map[String, Any]): Constraint = m("kind") match {
    case "required" => Constraint.Required
    case "optional" => Constraint.Optional
    case "lower_bound" => Constraint.LowerBound(num(m("v")), m("inclusive").asInstanceOf[Boolean])
    case "upper_bound" => Constraint.UpperBound(num(m("v")), m("inclusive").asInstanceOf[Boolean])
    case "in_domain" => Constraint.InDomain(m("values").asInstanceOf[Seq[Any]].map(_.toString))
    case "min_length" => Constraint.MinLength(num(m("n")).toInt)
    case "max_length" => Constraint.MaxLength(num(m("n")).toInt)
    case "starts_with" => Constraint.StartsWith(m("p").toString)
    case "ends_with" => Constraint.EndsWith(m("p").toString)
    case "regex" => Constraint.Regex(m("p").toString)
  }

  private def num(v: Any): Double = v.asInstanceOf[Number].doubleValue()

  // ---------- aggregation functions (nominal, like the reference's transformation names) ----------

  private def aggJson(a: AggFunc): String = a match {
    case AggFunc.Sum => q("sum")
    case AggFunc.Mean => q("mean")
    case AggFunc.Min => q("min")
    case AggFunc.Max => q("max")
    case AggFunc.Count => q("count")
    case AggFunc.CountDistinct => q("count_distinct")
    case AggFunc.ApproxCountDistinct(rsd) => q(s"approx_count_distinct:$rsd")
    case AggFunc.Std => q("std")
    case AggFunc.Variance => q("variance")
    case AggFunc.Median => q("median")
    case AggFunc.Percentile(p) => q(s"percentile:$p")
    case AggFunc.ConcatString(sep) => q(s"concat_string:$sep")
    case AggFunc.Custom(_) => throw new IllegalArgumentException(
      "AggFunc.Custom wraps code and is not serializable")
  }

  private def aggFrom(s: String): AggFunc = s.split(":", 2) match {
    case Array("sum") => AggFunc.Sum
    case Array("mean") => AggFunc.Mean
    case Array("min") => AggFunc.Min
    case Array("max") => AggFunc.Max
    case Array("count") => AggFunc.Count
    case Array("count_distinct") => AggFunc.CountDistinct
    case Array("approx_count_distinct", rsd) => AggFunc.ApproxCountDistinct(rsd.toDouble)
    case Array("std") => AggFunc.Std
    case Array("variance") => AggFunc.Variance
    case Array("median") => AggFunc.Median
    case Array("percentile", p) => AggFunc.Percentile(p.toDouble)
    case Array("concat_string", sep) => AggFunc.ConcatString(sep)
    case other => throw new IllegalArgumentException(s"unknown agg: ${other.mkString(":")}")
  }

  // ---------- sources ----------

  private def sourceJson(s: graft.sources.BatchSource): String = s match {
    case graft.sources.ParquetSource(p) => s"""{"kind":"parquet","path":${q(p)}}"""
    case graft.sources.PartitionedParquetSource(p, keys) =>
      s"""{"kind":"partitioned_parquet","path":${q(p)},"keys":${arr(keys.map(q))}}"""
    case graft.sources.BucketedParquetSource(p, keys, b) =>
      s"""{"kind":"bucketed_parquet","path":${q(p)},"keys":${arr(keys.map(q))},"buckets":$b}"""
    case graft.sources.LogUpsertSource(p, keys, ce, bf) =>
      s"""{"kind":"log_upsert","path":${q(p)},"keys":${arr(keys.map(q))},"compact_every":$ce,""" +
        s""""bound_files":$bf}"""
    case graft.sources.BucketedLogUpsertSource(p, keys, b, ce) =>
      s"""{"kind":"bucketed_log","path":${q(p)},"keys":${arr(keys.map(q))},""" +
        s""""buckets":$b,"compact_every":$ce}"""
    case graft.sources.CsvSource(p, sep, header, df) =>
      s"""{"kind":"csv","path":${q(p)},"sep":${q(sep)},"header":$header,"date_format":${opt(df)}}"""
    case graft.sources.JdbcSource(url, table, _) =>
      s"""{"kind":"jdbc","url":${q(url)},"table":${q(table)}}"""
    case graft.sources.StorageSource(p, g) => s"""{"kind":"storage","path":${q(p)},"glob":${opt(g)}}"""
    // transactional / columnar formats are pure path-or-name configs
    case graft.sources.DeltaSource(p) => s"""{"kind":"delta","path":${q(p)}}"""
    case graft.sources.IcebergSource(t) => s"""{"kind":"iceberg","table":${q(t)}}"""
    case graft.sources.OrcSource(p) => s"""{"kind":"orc","path":${q(p)}}"""
    // jsonl with an explicit schema is code (StructType) → opaque; the
    // schema-inferring form round-trips
    case graft.sources.JsonLinesSource(p, None) => s"""{"kind":"jsonl","path":${q(p)}}"""
    // typed cloud sources: env-var NAMES serialize (never secret values) —
    // the reference's Codable config model, sources/s3.py:44-60
    case graft.sources.S3ParquetSource(cfg, key) =>
      s"""{"kind":"s3_parquet","bucket":${q(cfg.bucket)},"region":${opt(cfg.region)},""" +
        s""""access_key_env":${opt(cfg.accessKeyEnv)},"secret_key_env":${opt(cfg.secretKeyEnv)},""" +
        s""""key":${q(key)}}"""
    case graft.sources.AzureBlobParquetSource(cfg, bp) =>
      s"""{"kind":"azure_parquet","account":${q(cfg.accountName)},""" +
        s""""container":${q(cfg.container)},"account_key_env":${opt(cfg.accountKeyEnv)},""" +
        s""""blob_path":${q(bp)}}"""
    case graft.sources.UCTableSource(c, s2, t) =>
      s"""{"kind":"uc_table","catalog":${q(c)},"schema":${q(s2)},"table":${q(t)}}"""
    case graft.sources.FilteredSource(inner, _) =>
      s"""{"kind":"opaque","note":"filtered(${inner.getClass.getSimpleName})"}"""
    case other => s"""{"kind":"opaque","note":${q(other.getClass.getSimpleName)}}"""
  }

  private def sourceFrom(m: Map[String, Any],
      rebind: Map[String, graft.sources.BatchSource], viewName: String): graft.sources.BatchSource =
    m("kind") match {
      case "parquet" => graft.sources.ParquetSource(m("path").toString)
      case "partitioned_parquet" => graft.sources.PartitionedParquetSource(
        m("path").toString, m("keys").asInstanceOf[Seq[Any]].map(_.toString))
      case "bucketed_parquet" => graft.sources.BucketedParquetSource(
        m("path").toString, m("keys").asInstanceOf[Seq[Any]].map(_.toString),
        m("buckets").toString.toDouble.toInt)
      // compact_every and bound_files default for JSONs persisted before
      // they were serialized
      case "log_upsert" => graft.sources.LogUpsertSource(
        m("path").toString, m("keys").asInstanceOf[Seq[Any]].map(_.toString),
        m.get("compact_every").map(_.toString.toDouble.toInt)
          .getOrElse(graft.sources.GenLog.defaultAutoCompactEvery),
        m.get("bound_files").forall(_.asInstanceOf[Boolean]))
      case "bucketed_log" => graft.sources.BucketedLogUpsertSource(
        m("path").toString, m("keys").asInstanceOf[Seq[Any]].map(_.toString),
        m("buckets").toString.toDouble.toInt,
        m.get("compact_every").map(_.toString.toDouble.toInt)
          .getOrElse(graft.sources.GenLog.defaultAutoCompactEvery))
      case "csv" => graft.sources.CsvSource(m("path").toString, m("sep").toString,
        m("header").asInstanceOf[Boolean], Option(m("date_format")).map(_.toString))
      case "jdbc" => graft.sources.JdbcSource(m("url").toString, m("table").toString)
      case "storage" => graft.sources.StorageSource(m("path").toString,
        Option(m("glob")).map(_.toString))
      case "delta" => graft.sources.DeltaSource(m("path").toString)
      case "iceberg" => graft.sources.IcebergSource(m("table").toString)
      case "orc" => graft.sources.OrcSource(m("path").toString)
      case "jsonl" => graft.sources.JsonLinesSource(m("path").toString)
      case "s3_parquet" => graft.sources.S3ParquetSource(
        graft.sources.AwsS3Config(m("bucket").toString,
          Option(m("region")).map(_.toString),
          Option(m("access_key_env")).map(_.toString),
          Option(m("secret_key_env")).map(_.toString)),
        m("key").toString)
      case "azure_parquet" => graft.sources.AzureBlobParquetSource(
        graft.sources.AzureBlobConfig(m("account").toString, m("container").toString,
          Option(m("account_key_env")).map(_.toString)),
        m("blob_path").toString)
      case "uc_table" => graft.sources.UCTableSource(
        m("catalog").toString, m("schema").toString, m("table").toString)
      case "opaque" => rebind.getOrElse(viewName, throw new IllegalArgumentException(
        s"view '$viewName' has an opaque (code) source; pass a rebind entry"))
    }

  // ---------- feature defaults ----------

  /** A feature default as JSON: numbers and booleans bare, strings
    * quoted, dates as quoted ISO days and timestamps as quoted ISO instants
    * (zone-free, so a reader in another time zone reads back the same
    * instant). Any other value (bytes, collections, durations) has no text
    * that reads back to the value it fills, so the view is refused. */
  private def defaultJson(feature: String, v: Any): String = v match {
    case n @ (_: Number | _: Boolean) => n.toString
    case s: String => q(s)
    case t: java.sql.Timestamp => q(t.toInstant.toString)
    case d: java.sql.Date => q(d.toLocalDate.toString)
    case other => throw new IllegalArgumentException(
      s"feature '$feature' has a default of ${other.getClass.getName}, which has no JSON form")
  }

  /** Read a default back so that the fill `lit(default).cast(dtype)` yields
    * the value the original default filled: a date or timestamp feature's
    * ISO text becomes the `java.sql` value it was written from; text that
    * does not parse stays text (Spark's cast reads it as before). */
  private def defaultFrom(dtype: FeatureType, v: Any): Any = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    (dtype.sparkType, v) match {
      case (DateType, s: String) =>
        scala.util.Try(java.sql.Date.valueOf(java.time.LocalDate.parse(s))).getOrElse(s)
      case (TimestampType | TimestampNTZType, s: String) =>
        scala.util.Try(java.sql.Timestamp.from(java.time.Instant.parse(s))).getOrElse(s)
      case _ => v
    }
  }

  // ---------- feature view ----------

  def toJson(v: FeatureView): String = {
    def featureJson(f: Feature) = {
      val default = f.defaultValue.fold("null")(defaultJson(f.name, _))
      s"""{"name":${q(f.name)},"dtype":${q(f.dtype.name)},"description":${opt(f.description)},""" +
        s""""constraints":${arr(f.constraints.map(constraintJson))},"default":$default}"""
    }
    def derivedJson(d: DerivedFeature) =
      s"""{"name":${q(d.name)},"dtype":${q(d.dtype.name)},"expr":${ExprJson.toJson(d.expr)},""" +
        s""""depends_on":${arr(d.dependingOn.map(q))}}"""
    def windowJson(w: AggregationWindow) =
      s"""{"window_s":${w.window.getSeconds},""" +
        s""""every_s":${w.everyInterval.fold("null")(_.getSeconds.toString)},""" +
        s""""offset_s":${w.offsetInterval.fold("null")(_.getSeconds.toString)}}"""
    def aggregateJson(a: AggregatedFeature) =
      s"""{"name":${q(a.name)},"dtype":${q(a.dtype.name)},"agg":${aggJson(a.agg)},""" +
        s""""source_column":${q(a.sourceColumn)},"window":${a.window.fold("null")(windowJson)}}"""
    s"""{"name":${q(v.name)},""" +
      s""""source":${sourceJson(v.source)},""" +
      s""""entities":${arr(v.entities.map(featureJson))},""" +
      s""""features":${arr(v.features.map(featureJson))},""" +
      s""""derived":${arr(v.derived.map(derivedJson))},""" +
      s""""aggregates":${arr(v.aggregates.map(aggregateJson))},""" +
      s""""event_timestamp":${v.eventTimestamp.fold("null")(t =>
        s"""{"name":${q(t.name)},"ttl_s":${t.ttl.fold("null")(_.getSeconds.toString)}}""")},""" +
      s""""mapping_keys":${v.mappingKeys.toSeq.sortBy(_._1)
        .map { case (k, x) => s"${q(k)}:${q(x)}" }.mkString("{", ",", "}")},""" +
      s""""acceptable_freshness_s":${v.acceptableFreshness.fold("null")(_.getSeconds.toString)},""" +
      s""""unacceptable_freshness_s":${v.unacceptableFreshness.fold("null")(_.getSeconds.toString)},""" +
      s""""description":${opt(v.description)}}"""
  }

  /** Model contract JSON: input refs + optional prediction view; the
    * exposed-model CODE is opaque (like code sources) and rebinds at load —
    * the reference's RepoDefinition serializes models the same way
    * (schemas/repo_definition.py:130). */
  def modelToJson(m: graft.contract.ModelContract): String =
    s"""{"name":${q(m.name)},"input_features":${arr(m.inputFeatures.map(q))},""" +
      s""""prediction_view":${m.predictionView.fold("null")(toJson)},""" +
      s""""description":${opt(m.description)}}"""

  /** Curation recipe ↔ JSON: every field is plain data by design
    * ([[CurationRecipe]] scaladoc), so the round trip is total — no rebind
    * map needed, unlike views with opaque code sources. */
  def recipeToJson(r: CurationRecipe): String =
    s"""{"name":${q(r.name)},"text_col":${q(r.textCol)},"id_col":${q(r.idCol)},""" +
      s""""decontam_col":${opt(r.decontamCol)},"decontam_value":${q(r.decontamValue)},""" +
      s""""decontam_n":${r.decontamN},"decontam_mode":${q(r.decontamMode)},""" +
      s""""gopher_min_words":${r.gopherMinWords},"gopher_rule_mask":${r.gopherRuleMask},""" +
      s""""near_dup_threshold":${r.nearDupThreshold},"near_dup_bands":${r.nearDupBands},""" +
      s""""near_dup_k":${r.nearDupK},"quality_score_col":${opt(r.qualityScoreCol)},""" +
      s""""ccnet_ref_col":${opt(r.ccnetRefCol)},"ccnet_ref_value":${q(r.ccnetRefValue)},""" +
      s""""dsir_target_col":${opt(r.dsirTargetCol)},"dsir_target_value":${q(r.dsirTargetValue)},""" +
      s""""dsir_keep_pct":${r.dsirKeepPct},"dsir_buckets":${r.dsirBuckets},""" +
      s""""train_pct":${r.trainPct},"cc_max_iter":${r.ccMaxIter},""" +
      s""""description":${opt(r.description)}}"""

  def recipeFromValue(m: Map[String, Any]): CurationRecipe = CurationRecipe(
    name = m("name").toString,
    textCol = m("text_col").toString,
    idCol = m("id_col").toString,
    // absent-key tolerant like the CCNet fields: registries serialized
    // before the decontamination stage existed load as "stage skipped"
    decontamCol = m.get("decontam_col").flatMap(Option(_)).map(_.toString),
    decontamValue = m.get("decontam_value").flatMap(Option(_)).fold("")(_.toString),
    decontamN = m.get("decontam_n").flatMap(Option(_)).map(v => num(v).toInt).getOrElse(5),
    decontamMode = m.get("decontam_mode").flatMap(Option(_)).fold("drop")(_.toString),
    gopherMinWords = num(m("gopher_min_words")).toInt,
    gopherRuleMask = num(m("gopher_rule_mask")).toLong,
    nearDupThreshold = num(m("near_dup_threshold")),
    nearDupBands = num(m("near_dup_bands")).toInt,
    nearDupK = num(m("near_dup_k")).toInt,
    qualityScoreCol = Option(m("quality_score_col")).map(_.toString),
    // absent-key tolerant: registries serialized before the CCNet stage
    // existed must load as "stage skipped", not throw
    ccnetRefCol = m.get("ccnet_ref_col").flatMap(Option(_)).map(_.toString),
    ccnetRefValue = m.get("ccnet_ref_value").flatMap(Option(_)).fold("")(_.toString),
    dsirTargetCol = Option(m("dsir_target_col")).map(_.toString),
    dsirTargetValue = m("dsir_target_value").toString,
    dsirKeepPct = num(m("dsir_keep_pct")).toInt,
    dsirBuckets = num(m("dsir_buckets")).toInt,
    trainPct = num(m("train_pct")).toInt,
    ccMaxIter = num(m("cc_max_iter")).toInt,
    description = Option(m("description")).map(_.toString))

  def modelFromValue(mv: Map[String, Any],
      rebindSources: Map[String, graft.sources.BatchSource] = Map.empty,
      rebindModels: Map[String, graft.ml.ExposedModel] = Map.empty): graft.contract.ModelContract = {
    val name = mv("name").toString
    graft.contract.ModelContract(
      name = name,
      inputFeatures = mv("input_features").asInstanceOf[Seq[Any]].map(_.toString),
      predictionView = Option(mv("prediction_view"))
        .map(v => fromValue(v.asInstanceOf[Map[String, Any]], rebindSources)),
      model = rebindModels.get(name),
      description = Option(mv("description")).map(_.toString))
  }

  def fromJson(json: String,
      rebindSources: Map[String, graft.sources.BatchSource] = Map.empty): FeatureView =
    fromValue(graft.expr.JsonValue.parseObject(json), rebindSources)

  def fromValue(m: Map[String, Any],
      rebindSources: Map[String, graft.sources.BatchSource]): FeatureView = {
    def feats(k: String): Seq[Feature] = m(k).asInstanceOf[Seq[Any]].map { x =>
      val f = x.asInstanceOf[Map[String, Any]]
      val dtype = FeatureType.fromName(f("dtype").toString)
      Feature(f("name").toString, dtype,
        Option(f("description")).map(_.toString),
        f("constraints").asInstanceOf[Seq[Any]].map(c => constraintFrom(c.asInstanceOf[Map[String, Any]])),
        Option(f("default")).map(defaultFrom(dtype, _)))
    }
    val name = m("name").toString
    FeatureView(
      name = name,
      source = sourceFrom(m("source").asInstanceOf[Map[String, Any]], rebindSources, name),
      entities = feats("entities"),
      features = feats("features"),
      derived = m("derived").asInstanceOf[Seq[Any]].map { x =>
        val d = x.asInstanceOf[Map[String, Any]]
        DerivedFeature(d("name").toString, FeatureType.fromName(d("dtype").toString),
          graft.expr.ExprJson.fromValue(d("expr").asInstanceOf[Map[String, Any]]),
          d("depends_on").asInstanceOf[Seq[Any]].map(_.toString))
      },
      aggregates = m("aggregates").asInstanceOf[Seq[Any]].map { x =>
        val a = x.asInstanceOf[Map[String, Any]]
        AggregatedFeature(a("name").toString, FeatureType.fromName(a("dtype").toString),
          aggFrom(a("agg").toString), a("source_column").toString,
          Option(a("window")).map { w0 =>
            val w = w0.asInstanceOf[Map[String, Any]]
            AggregationWindow(java.time.Duration.ofSeconds(num(w("window_s")).toLong),
              Option(w("every_s")).map(x => java.time.Duration.ofSeconds(num(x).toLong)),
              Option(w("offset_s")).map(x => java.time.Duration.ofSeconds(num(x).toLong)))
          })
      },
      eventTimestamp = Option(m("event_timestamp")).map { t0 =>
        val t = t0.asInstanceOf[Map[String, Any]]
        EventTimestamp(t("name").toString,
          Option(t("ttl_s")).map(x => java.time.Duration.ofSeconds(num(x).toLong)))
      },
      mappingKeys = m("mapping_keys").asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString },
      description = Option(m("description")).map(_.toString),
      // absent in registries written before these fields existed
      acceptableFreshness = m.get("acceptable_freshness_s").flatMap(Option(_))
        .map(x => java.time.Duration.ofSeconds(num(x).toLong)),
      unacceptableFreshness = m.get("unacceptable_freshness_s").flatMap(Option(_))
        .map(x => java.time.Duration.ofSeconds(num(x).toLong)))
  }
}
