package graft.store

import graft.contract._
import graft.ops.{Aggregations, Joins}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped contract catalog — the analog of the reference's
  * `ContractStore` (aligned/feature_store.py:148-188). Holds feature views and
  * model contracts; answers the three core queries (SURVEY §3):
  *   - `view(name).all(spark)` — full view materialization with derivation;
  *   - `featuresFor(entities, refs)` — point-in-time feature lookup;
  *   - `executeSql(sql)` — SQL over all registered contracts.
  * Everything compiles to ONE DataFrame plan per query; Catalyst does
  * pruning/pushdown, so the reference's hand-built optimizer passes
  * (SURVEY §4) are either free or live here as cheap metadata checks.
  */
final class ContractStore {
  // Registration is rare (setup-time) and reads are the hot path, so the
  // concurrency discipline is: immutable-Map snapshots behind @volatile,
  // add* under the store lock. A reader (plan build, executeSql, Verify
  // thread pool) sees a consistent point-in-time catalog with zero lock
  // traffic; concurrent registration publishes atomically. This matches
  // how a long-lived store is actually used on a cluster: one writer
  // wiring contracts, many threads planning queries (ConcurrencySpec).
  @volatile private var viewsMap: Map[String, FeatureView] = Map.empty
  @volatile private var modelsMap: Map[String, ModelContract] = Map.empty
  @volatile private var recipesMap: Map[String, graft.contract.CurationRecipe] = Map.empty

  def addView(v: FeatureView): ContractStore =
    synchronized { viewsMap += v.name -> v; this }
  def addModel(m: ModelContract): ContractStore =
    synchronized { modelsMap += m.name -> m; this }
  def addRecipe(r: graft.contract.CurationRecipe): ContractStore =
    synchronized { recipesMap += r.name -> r; this }
  def views: Map[String, FeatureView] = viewsMap
  def models: Map[String, ModelContract] = modelsMap
  def recipes: Map[String, graft.contract.CurationRecipe] = recipesMap
  def recipe(name: String): graft.contract.CurationRecipe = recipesMap(name)

  def view(name: String): ViewStore = new ViewStore(this, viewsMap(name))
  def model(name: String): ModelStore = new ModelStore(this, modelsMap(name))

  /** Persist every serializable view contract as a JSON registry file (the
    * analog of the reference's contract store JSON,
    * ContractStore.as_json/from_json). Views with opaque code sources are
    * included; loading them requires a rebind entry. */
  def saveTo(spark: SparkSession, path: String): Unit = {
    val views = viewsMap.values.toSeq.sortBy(_.name)
      .map(graft.contract.ContractJson.toJson).mkString("[", ",\n", "]")
    val models = modelsMap.values.toSeq.sortBy(_.name)
      .map(graft.contract.ContractJson.modelToJson).mkString("[", ",\n", "]")
    val recipes = recipesMap.values.toSeq.sortBy(_.name)
      .map(graft.contract.ContractJson.recipeToJson).mkString("[", ",\n", "]")
    val json = s"""{"views":$views,\n"models":$models,\n"recipes":$recipes}"""
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def loadFrom(spark: SparkSession, path: String,
      rebindSources: Map[String, graft.sources.BatchSource] = Map.empty,
      rebindModels: Map[String, graft.ml.ExposedModel] = Map.empty): ContractStore = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    // a legacy registry is a bare array of view objects
    val m = graft.expr.JsonValue.parseObject(
      if (json.startsWith("[")) s"""{"views":$json}""" else json)
    m("views").asInstanceOf[Seq[Any]].foreach(v => addView(
      graft.contract.ContractJson.fromValue(v.asInstanceOf[Map[String, Any]], rebindSources)))
    m.get("models").toSeq.flatMap(_.asInstanceOf[Seq[Any]]).foreach(x => addModel(
      graft.contract.ContractJson.modelFromValue(
        x.asInstanceOf[Map[String, Any]], rebindSources, rebindModels)))
    m.get("recipes").toSeq.flatMap(_.asInstanceOf[Seq[Any]]).foreach(x => addRecipe(
      graft.contract.ContractJson.recipeFromValue(x.asInstanceOf[Map[String, Any]])))
    this
  }

  /** Direct view dependencies: views this view's source reads through
    * (ViewReferenceSource, possibly nested inside composite sources) —
    * the edges of the reference's contract graph (depends_on). */
  def dependenciesOf(name: String): Seq[String] = {
    def walk(s: graft.sources.BatchSource): Seq[String] = s match {
      case graft.sources.ViewReferenceSource(_, v) => Seq(v)
      case graft.sources.FilteredSource(inner, _) => walk(inner)
      case graft.sources.TransformSource(inner, _) => walk(inner)
      case graft.sources.JoinSource(l, r, _, _) => walk(l) ++ walk(r)
      case s: graft.sources.JoinAsofSource => walk(s.left) ++ walk(s.right)
      case s: graft.sources.StackSource => walk(s.top) ++ walk(s.bottom)
      case graft.sources.LoadedAtSource(inner, _, _) => walk(inner)
      case _ => Nil
    }
    walk(viewsMap(name).source).distinct
  }

  /** Topological materialization order over the view-reference DAG
    * (materialize_all ordering): every view appears after all views it
    * reads. Deterministic (name-sorted within a rank); throws on cycles. */
  def materializationOrder(names: Seq[String] = viewsMap.keys.toSeq.sorted): Seq[String] = {
    val pending = scala.collection.mutable.LinkedHashSet(names.sorted: _*)
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    while (pending.nonEmpty) {
      val ready = pending.filter(n => dependenciesOf(n).forall(d => done(d) || !pending(d)))
      if (ready.isEmpty)
        throw new IllegalStateException(s"view dependency cycle among: ${pending.mkString(", ")}")
      ready.foreach { n => pending -= n; done += n }
    }
    done.toSeq
  }

  /** Materialize every view that declares a materialized source, in
    * dependency order, so a view reading another view sees its FRESH
    * materialization (feature_view.py:497-506 materialize_all). Returns the
    * names materialized, in order. */
  def materializeAll(spark: SparkSession, incremental: Boolean = false): Seq[String] =
    materializationOrder().filter(viewsMap(_).materializedSource.isDefined).map { n =>
      val v = viewsMap(n)
      // incremental append needs an event timestamp and row-wise semantics;
      // aggregated views rebuild in full (materializeIncremental scaladoc)
      if (incremental && v.aggregates.isEmpty && v.eventTimestamp.isDefined)
        view(n).materializeIncremental(spark)
      else view(n).materialize(spark)
      n
    }

  /** Execute a REGISTERED curation recipe against a source and UPSERT the
    * curated corpus (input columns + component + split) into `sink`, keyed
    * by the recipe's id column — the recipe analog of [[materializeAll]]:
    * "run the registered pipeline, publish the corpus". Upsert rather than
    * overwrite because every router in the pipeline is an md5 hash:
    * re-running after an ingest re-derives the SAME component/split for
    * unchanged documents, so only genuinely new/changed rows move. */
  def materializeRecipe(spark: SparkSession, name: String,
      source: graft.sources.BatchSource,
      sink: graft.sources.WritableSource): Unit = {
    val r = recipesMap(name)
    sink.upsert(r.run(source.read(spark)), Seq(r.idCol))
  }

  /** Freshness classification against the view's SLOs (acceptable /
    * unacceptable_freshness, feature_view.py:84-85): `fresh`, `stale`
    * (update due), `unhealthy` (SLO broken; alert), or `unknown` (no data /
    * no event timestamp). The scheduling primitive behind "update views
    * whose data aged out" — pair with [[materializeAll]]. */
  def freshnessStatus(spark: SparkSession, name: String,
      asOf: java.sql.Timestamp): String = {
    val v = viewsMap(name)
    freshness(spark, name) match {
      case None => "unknown"
      case Some(ts) =>
        val age = java.time.Duration.ofMillis(asOf.getTime - ts.getTime)
        if (v.unacceptableFreshness.exists(age.compareTo(_) > 0)) "unhealthy"
        else if (v.acceptableFreshness.exists(age.compareTo(_) > 0)) "stale"
        else "fresh"
    }
  }

  /** Views due for an update at `asOf`: stale or unhealthy per their SLOs. */
  def staleViews(spark: SparkSession, asOf: java.sql.Timestamp): Seq[String] =
    viewsMap.keys.toSeq.sorted.filter { n =>
      val s = freshnessStatus(spark, n, asOf)
      s == "stale" || s == "unhealthy"
    }

  /** schema-drift check (reference: source_validation.py): contract columns
    * missing from the physical source. */
  def validateSchema(spark: SparkSession, name: String): Seq[String] = {
    val v = viewsMap(name)
    val actual = v.source.read(spark).columns.map(c => v.mappingKeys.getOrElse(c, c)).toSet
    (v.entities ++ v.features).map(_.name).filterNot(actual.contains)
  }

  /** Store-level model wiring check (reference: checks.py:11-85,
    * ModelHaveNeededFeaturesCheck / check_exposed_models_have_needed_
    * features): every `view:feature` input ref of every registered model
    * must resolve against a view's full schema or another model's
    * prediction view. Pure metadata — no source is scanned — so it runs in
    * CI/registration time, before a missing feature becomes a runtime
    * AnalysisException three stages into a pipeline. Returns model name →
    * unresolvable refs (malformed refs included); empty map = all wired. */
  def checkModelFeatures(): Map[String, Seq[String]] = {
    def schemaOf(loc: String): Option[Set[String]] =
      viewsMap.get(loc).map(_.allFeatureNames.toSet)
        .orElse(modelsMap.get(loc).flatMap(_.predictionView)
          .map(_.allFeatureNames.toSet))
    modelsMap.values.toSeq.sortBy(_.name).map { m =>
      m.name -> m.inputFeatures.filter { ref =>
        ref.split(":") match {
          case Array(loc, feat) => !schemaOf(loc).exists(_.contains(feat))
          case _ => true
        }
      }
    }.filter(_._2.nonEmpty).toMap
  }

  /** max event-ts of a view's source (feature_store.py:276-298). */
  def freshness(spark: SparkSession, name: String): Option[java.sql.Timestamp] = {
    val v = viewsMap(name)
    v.eventTimestamp.flatMap(ts => v.source.freshness(spark, ts.name))
  }

  /** Identifier-ish tokens of a SQL statement, string literals stripped —
    * the light scan [[executeSql]] uses to register only the contracts a
    * statement can actually reference (the reference does the same with a
    * real sqlglot parse, sql.py:104-183; a token scan can only
    * OVER-approximate — e.g. a column alias that collides with a view
    * name — which costs one spurious registration, never a miss, because
    * every reachable table reference IS such a token in the unquoted
    * single-statement grammar this store speaks).
    *
    * Matching is case-INSENSITIVE, mirroring Spark's own resolution: a view
    * registered as `Sales` referenced as `sales` must register, or the
    * statement would die in TABLE_OR_VIEW_NOT_FOUND that vanilla Spark
    * would have resolved.
    *
    * View names outside the bare-identifier grammar (dashes, spaces — only
    * referencable back-quoted) are outside the scan too, by design: the
    * scan tokenizes through the quoting, no token equals the name, the view
    * never registers, and Spark raises its standard TABLE_OR_VIEW_NOT_FOUND
    * — a loud, attributable error, never a wrong result. Spec-pinned in
    * SqlReferencedViewsSpec. */
  private def sqlIdentifiers(sql: String): Set[String] =
    """[A-Za-z_][A-Za-z0-9_]*""".r
      .findAllIn(sql.replaceAll("'[^']*'", " "))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** SQL entry point (feature_store.py:457-499): register each REFERENCED
    * contract as a temp view, run Spark SQL. The reference needs sqlglot
    * parsing + manual pushdown; Catalyst does all of that natively (SURVEY
    * §3.3). Only contracts whose name appears in the statement register —
    * per-statement driver work is O(referenced), not O(all registered), so
    * a 1,000-contract store pays nothing for the 997 views a statement
    * never touches, and a broken source on an UNREFERENCED view cannot
    * fail an unrelated statement. `VALUES`-only statements short-circuit
    * past registration entirely (reference sql.py:85-101).
    *
    * Concurrency contract: safe for concurrent statements on one store +
    * one session. Temp-view names are the contract names; concurrent
    * statements referencing the same view re-register an EQUIVALENT plan
    * (the catalog snapshot is immutable per call — see the @volatile
    * fields), so the race is idempotent. What is NOT promised: two
    * DIFFERENT stores sharing one SparkSession with colliding contract
    * names — last registration wins, as with any session-global temp
    * view. Gated by ConcurrencySpec.
    */
  def executeSql(spark: SparkSession, sql: String): DataFrame = {
    if (!sql.trim.toLowerCase(java.util.Locale.ROOT).startsWith("values")) {
      val referenced = sqlIdentifiers(sql)
      viewsMap.values.filter(v => referenced.contains(v.name.toLowerCase(java.util.Locale.ROOT))).foreach { v =>
        val declared = v.entities ++ v.features
        val src = v.materializedSource.getOrElse(v.source)
        val isWriteTarget = src.isInstanceOf[graft.sources.WritableSource]
        if (isWriteTarget && declared.nonEmpty && !src.exists(spark)) {
          // a registered-but-not-yet-written WRITE TARGET (an
          // executeSqlWrite target before its first INSERT) is an EMPTY
          // table with the contract schema — incl. the declared event
          // timestamp, so the view's visible schema does not change after
          // the first write. Restricted to writable sources: a missing
          // path behind a read-only composite source is a typo or a
          // deleted artifact, and silently-empty results would mask it —
          // those keep the loud read error, as do contract-less views
          // (no declared columns = no schema to present).
          // It runs through the same conform + aggregate tail as a read,
          // so derived and aggregate columns show before the first write too.
          val schema = org.apache.spark.sql.types.StructType(
            (declared.map(f =>
              org.apache.spark.sql.types.StructField(f.name, f.dtype.sparkType)) ++
             v.eventTimestamp.map(ts =>
              org.apache.spark.sql.types.StructField(ts.name,
                org.apache.spark.sql.types.TimestampType))))
          view(v.name).allFrom(v.conform(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)), None)
            .createOrReplaceTempView(v.name)
        } else view(v.name).all(spark).createOrReplaceTempView(v.name)
      }
      modelsMap.values.filter(m => referenced.contains(m.name.toLowerCase(java.util.Locale.ROOT))).foreach { m =>
        m.predictionView.foreach(pv =>
          new ViewStore(this, pv).all(spark).createOrReplaceTempView(m.name))
      }
    }
    spark.sql(sql)
  }

  /** SQL WRITE surface — the INSERT/CTAS half of [[executeSql]] (the
    * reference's feature_store.py:457-499 SQL surface only READS; a
    * Spark-native store can also prove that SQL writes keep contract
    * types). A deliberately small grammar, parsed here rather than via a
    * Catalyst catalog plugin — the targets are contract views over file
    * sources, not catalog tables:
    *
    *   INSERT INTO <view> [(col, …)] <select…>      → conform + append
    *   INSERT OVERWRITE <view> [(col, …)] <select…> → conform + replace
    *   UPSERT INTO <view> [(col, …)] <select…>      → conform + merge on
    *     the view's ENTITY keys (the reference's upsert algebra,
    *     sources/local.py:317-340 — here through SQL; Delta/Iceberg
    *     sources lower it to MERGE INTO, plain files stage-and-swap)
    *   CREATE TABLE <name> LOCATION '<path>' AS <select…>
    *     → CTAS: register a NEW parquet-backed view whose contract is
    *       inferred from the SELECT's schema (FeatureType.fromSpark),
    *       write, return the registered view's name
    *
    * GRAMMAR LIMITS, loudly: ONE statement per call; view/column names
    * are unquoted `\w+` identifiers (no qualified `db.view`, no quoted
    * `"mixed case"` names — contract names are registry keys, not
    * catalog paths); the optional `(col, …)` list maps the SELECT's
    * output columns POSITIONALLY onto the listed contract names
    * (standard SQL column-list semantics — arity must match).
    *
    * The SELECT body runs through [[executeSql]], so it sees every
    * registered contract as a temp view. Before an INSERT lands, the
    * frame is CONFORMED to the target contract: unknown columns are
    * REJECTED loudly (a typo'd projection must not silently widen a
    * contract table); a missing ENTITY-KEY column with no declared
    * default is REJECTED loudly too (a NULL-keyed row poisons every
    * later UPSERT merge); a contract-declared EVENT TIMESTAMP the
    * SELECT omits is REJECTED (PIT semantics die silently without it);
    * other missing columns fill with their declared defaults and dtype
    * mismatches conform exactly as a read conforms them
    * ([[FeatureView.conform]]: try_cast, JSON strings decoded into
    * array/struct columns), so the artifact on disk is contract-typed no
    * matter what the SELECT emitted. Columns land in contract declaration
    * order (parquet readers see one stable layout). At 100 TB both writes are one
    * narrow projection over the SELECT's plan — conformance adds no
    * shuffle and no extra pass. */
  def executeSqlWrite(spark: SparkSession, sql: String): String = {
    val write = """(?is)^\s*(INSERT\s+INTO|INSERT\s+OVERWRITE|UPSERT\s+INTO)\s+(\w+)\s*(\([\w\s,]*\))?\s*(SELECT.*|VALUES.*|WITH.*|TABLE.*)$""".r
    val ctas = """(?is)^\s*CREATE\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+(.*)$""".r
    // optional `(col, …)` list → rename the SELECT's output positionally
    def applyColumnList(op: String, viewName: String, colList: String, df: DataFrame): DataFrame =
      Option(colList).map(_.stripPrefix("(").stripSuffix(")")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
        case None | Some(Seq()) => df
        case Some(names) =>
          require(names.length == df.columns.length,
            s"executeSqlWrite: $op $viewName (${names.mkString(", ")}) " +
              s"lists ${names.length} column(s) but the SELECT emits " +
              s"${df.columns.length} — the list maps positionally, arity must match")
          df.toDF(names: _*)
      }
    def conformTo(v: FeatureView, df: DataFrame): DataFrame = {
      val declared = v.entities ++ v.features
      val declaredNames = declared.map(_.name).toSet ++ v.eventTimestamp.map(_.name)
      val unknown = df.columns.filterNot(declaredNames.contains)
      require(unknown.isEmpty, s"executeSqlWrite: SELECT emits column(s) " +
        s"${unknown.mkString(", ")} not in contract '${v.name}' — writes " +
        "cannot widen a contract table; alias or drop them in the SELECT")
      // an omitted entity key with no declared default would fill NULL —
      // and a later UPSERT would merge on NULL keys. Reject loudly instead
      // (the unknown-column discipline, applied to the key side).
      val missingKeys = v.entities.filter(e =>
        !df.columns.contains(e.name) && e.defaultValue.isEmpty).map(_.name)
      require(missingKeys.isEmpty, s"executeSqlWrite: SELECT omits entity " +
        s"key column(s) ${missingKeys.mkString(", ")} of contract " +
        s"'${v.name}' with no declared default — NULL keys would poison " +
        "every later UPSERT merge; emit them in the SELECT")
      // same for a declared event timestamp: silently writing rows with
      // no event time breaks PIT reads later and is invisible at write time
      v.eventTimestamp.map(_.name).filterNot(df.columns.contains).foreach { ts =>
        throw new IllegalArgumentException(s"executeSqlWrite: SELECT omits " +
          s"the contract-declared event timestamp '$ts' of '${v.name}' — " +
          "emit it in the SELECT (PIT reads need it on every row)")
      }
      // derived columns are not stored, so the view conforms without them:
      // a derived expression over a column the write cannot carry must not
      // fail the write
      val order = declared.map(_.name) ++
        v.eventTimestamp.map(_.name).filter(df.columns.contains)
      v.copy(derived = Nil).conform(df).select(order.map(col): _*)
    }
    def writable(v: FeatureView): graft.sources.WritableSource = v.source match {
      case w: graft.sources.WritableSource => w
      case other => throw new IllegalStateException(
        s"executeSqlWrite: view '${v.name}' source ${other.getClass.getSimpleName} is not writable")
    }
    sql match {
      case write(verb, viewName, colList, select) =>
        val v = viewsMap.getOrElse(viewName, throw new NoSuchElementException(
          s"executeSqlWrite: unknown view '$viewName'"))
        val op = verb.toUpperCase(java.util.Locale.ROOT).split("\\s+").mkString(" ")
        val keys = v.entities.map(_.name)
        if (op == "UPSERT INTO")
          require(keys.nonEmpty, s"executeSqlWrite: UPSERT INTO '$viewName' " +
            "needs entity keys on the contract — declare entities or use INSERT")
        val target = writable(v)
        val df = conformTo(v, applyColumnList(op, viewName, colList, executeSql(spark, select)))
        op match {
          case "INSERT INTO" => target.insert(df)
          case "INSERT OVERWRITE" => target.overwrite(df)
          case _ => target.upsert(df, keys)
        }
        viewName
      case ctas(name, path, select) =>
        require(!viewsMap.contains(name),
          s"executeSqlWrite: view '$name' already exists — use INSERT OVERWRITE")
        val df = executeSql(spark, select)
        val feats = df.schema.fields.toSeq.map(f =>
          graft.contract.Feature(f.name, graft.core.FeatureType.fromSpark(f.dataType)))
        val src = graft.sources.ParquetSource(path)
        src.overwrite(df)
        addView(FeatureView(name, src, features = feats))
        name
      case _ => throw new IllegalArgumentException(
        "executeSqlWrite: expected INSERT INTO <view> <select>, INSERT " +
          "OVERWRITE <view> <select>, UPSERT INTO <view> <select>, or " +
          "CREATE TABLE <name> LOCATION '<path>' AS <select>")
    }
  }

  /** Mid-pipeline lookup of another contract's features by entity key
    * (LoadFeature, transformation.py:3027-3080): left-join the referenced
    * view's columns onto an in-flight frame. With `explodeCol`, the column is
    * exploded before the lookup and results re-collected per original row
    * (the reference's list-handling path). */
  def loadFeature(spark: SparkSession, df: DataFrame, ref: String,
      explodeCol: Option[String] = None): DataFrame = {
    val Array(viewName, featName) = ref.split(":")
    val v = viewsMap(viewName)
    val keys = v.entities.map(_.name)
    val lookup = new ViewStore(this, v).baseWithDerived(spark)
      .select((keys :+ featName).map(col): _*)
    explodeCol match {
      case None => df.join(lookup, keys, "left")
      case Some(c) =>
        // ONE row-id assignment feeding both the exploded lookup and the
        // join-back (the ids must match between the two branches; two
        // independent assignments would be two nondeterministic columns)
        val rid = "__graft_lf_rid"
        val withId = df.withColumn(rid, monotonically_increasing_id())
        val exploded = withId.withColumn(keys.head, explode(col(c)))
        val joined = exploded.join(lookup, keys, "left")
        val grouped = joined.groupBy(col(rid)).agg(collect_list(col(featName)).as(featName))
        withId.join(grouped, rid).drop(rid)
    }
  }

  /** Combined view: features assembled point-in-time from several views plus
    * CROSS-VIEW derived features computed on the merged frame (the
    * reference's combined_view location type + CombineFactualJob's
    * derive-after-merge, retrieval_job.py:3117-3147). */
  def combinedFeaturesFor(spark: SparkSession, entities: DataFrame, refs: Seq[String],
      derived: Seq[graft.contract.DerivedFeature],
      factTs: String = "event_timestamp"): DataFrame = {
    FeatureView.derivedRounds(derived, "the cross-view set")
      .foldLeft(featuresFor(spark, entities, refs, factTs)) { (df, round) =>
        df.withColumns(round.map(d => d.name -> d.column).toMap)
      }
  }

  /** "view:feature" (or "project:view:feature") refs grouped by view
    * (RawStringFeatureRequest, feature_store.py:108-145). */
  private def featuresByView(refs: Seq[String]): Map[String, Seq[String]] =
    refs.map { r =>
      r.split(":") match {
        case Array(v, f) => (v, f)
        case Array(_, v, f) => (v, f)
        case _ => throw new IllegalArgumentException(s"bad feature ref: $r")
      }
    }.groupBy(_._1).map { case (v, fs) => v -> fs.map(_._2) }

  /** Point-in-time feature lookup (SURVEY §3.1, feature_store.py:501-655):
    * `refs` are "view:feature" strings; `entities` must carry the entity key
    * columns and, when any referenced view has an event timestamp, an
    * `event_timestamp` column for PIT correctness.
    */
  def featuresFor(spark: SparkSession, entities: DataFrame, refs: Seq[String],
      factTs: String = "event_timestamp"): DataFrame = {
    val byView = featuresByView(refs)

    // per view: assemble the needed frame and PIT-join onto the entity frame.
    // Features already present on the entity frame are satisfied — drop them
    // (request pruning, feature_store.py:703-728).
    byView.foldLeft(entities) { case (acc, (viewName, wantedRaw)) =>
      val wanted = wantedRaw.filterNot(acc.columns.contains)
      if (wanted.isEmpty) acc else {
      val v = viewsMap(viewName)
      val vs = new ViewStore(this, v)
      val keys = v.entities.map(_.name)
      v.eventTimestamp match {
        case Some(ts) if acc.columns.contains(factTs) =>
          // a wanted set can MIX plain/derived features and aggregates of
          // the same view: plain ones attach via the PIT join, aggregates
          // via the PIT windowed aggregation — both onto the same fact frame
          val aggs = v.aggregates.filter(a => wanted.contains(a.name))
          val plainWanted = wanted.filterNot(aggs.map(_.name).toSet)
          var cur = acc
          if (plainWanted.nonEmpty) {
            val feat = vs.baseWithDerived(spark)
              .select((keys :+ ts.name).map(col) ++ plainWanted.map(col): _*)
            cur = Joins.pointInTimeSorted(cur, feat, keys, ts.name, factTs, ts.ttl)
          }
          if (aggs.nonEmpty) {
            val base = vs.baseWithDerived(spark)
            // time-bucketed join (bounded fan-in per fact) whenever every
            // aggregate declares a window; unwindowed aggs need full history
            cur =
              if (aggs.forall(_.window.isDefined))
                Aggregations.pointInTimeAggBucketed(cur, base, keys, ts.name, factTs, aggs)
              else
                Aggregations.pointInTimeAgg(cur, base, keys, ts.name, factTs, aggs)
          }
          cur
        case _ =>
          val feat = vs.all(spark).select((keys ++ wanted).map(col): _*)
          acc.join(feat, keys, "left")
      }
      }
    }
  }

  /** ONLINE point lookup (reference contract: RedisSource's pipelined
    * per-entity HMGET, sources/redis.py:181-307, 218-224): the LATEST
    * feature row per requested entity, read from the view's materialized
    * source with the entity keys PUSHED INTO THE SCAN. Where the reference
    * round-trips a key-value store, the Spark-native shape bakes the
    * (bounded) key set into the plan as a set-membership predicate
    * ([[ContractStore.keyPredicate]]) — `.explain` shows long, string and
    * timestamp keys under `PushedFilters`, so the columnar scan prunes
    * row-groups and hive partitions server-side and reads only the
    * matching slivers. A materialized source partitioned or bucketed by the
    * entity key makes this a true point read at 100 TB; the predicate
    * pushdown is plan-asserted in OnlineLookupSpec.
    *
    * `entities` must be BOUNDED (point lookups are, by contract — the
    * reference caps its redis pipeline batches the same way). Beyond
    * `maxInlineKeys` distinct keys the lookup degrades to a broadcast
    * semi-join: still one scan and no driver-side literals, just no
    * row-group pruning. An entity frame whose rows are already on the
    * driver (`createDataFrame(rows)`, `Seq(...).toDF`) has its keys
    * deduped and, on a bucketed-log store, its bucket ids derived there,
    * with no job. Rows carry the latest value per entity; entities absent
    * from the view surface as nulls, like a missing HMGET key. The pruned
    * bucketed-log path (below) takes the generation resolve's one row per
    * key, the latest write; every other base, and a bucketed-log store
    * that path declines, runs one `row_number` window for the latest event
    * timestamp per key (exact ties broken arbitrarily — online semantics).
    *
    * A bucketed-log store ([[graft.sources.BucketedLogUpsertSource]])
    * whose keys the view names unrenamed, with the declared key types,
    * takes the pruned path. There an entity frame of driver rows within
    * `maxInlineKeys` keys, keyed by long, int, short, byte, string, date or
    * timestamp columns, is answered on the driver: the latest rows of the
    * probed keys are collected in one action HERE, when
    * `onlineFeaturesFor` is called, and left-joined to the entity rows on
    * the driver. The returned frame holds its rows, so its `collect` runs
    * no job, and it does not see writes made after the call. A null key
    * never matches. Every other lookup returns a lazy plan that reads the
    * store when it runs. */
  def onlineFeaturesFor(spark: SparkSession, entities: DataFrame, refs: Seq[String],
      maxInlineKeys: Int = 1024): DataFrame = {
    val byView = featuresByView(refs)

    byView.foldLeft(entities) { case (acc, (viewName, wantedRaw)) =>
      val wanted = wantedRaw.filterNot(acc.columns.contains)
      if (wanted.isEmpty) acc else {
        val v = viewsMap(viewName)
        val vs = new ViewStore(this, v)
        val keys = v.entities.map(_.name)
        require(keys.nonEmpty, s"online lookup needs entity keys on view $viewName")
        val keyFrame = acc.select(keys.map(col): _*)
        // bounded-by-contract: up to maxInlineKeys+1 distinct keys — the +1
        // detects overflow without counting the whole frame. Key rows already
        // on the driver (the serving shape, DriverRows) are collected by a
        // local scan and deduped here, with no job; any other entity frame
        // runs the distinct-limit-collect
        val localKeys =
          if (graft.sources.DriverRows.isLocal(keyFrame)) Some(keyFrame.collect().distinct)
          else None
        val keyRows = localKeys.fold(
          keyFrame.distinct().limit(maxInlineKeys + 1).collect())(_.take(maxInlineKeys + 1))
        val overflow = keyRows.length > maxInlineKeys
        // every distinct probe key as a frame: the collected rows when they
        // are all of them (a local frame, so neither the bucket-id
        // derivation nor the semi-join re-runs the entity frame's lineage);
        // an overflowing frame that is not local keeps its distributed
        // distinct — its collected subset is incomplete
        val probe =
          if (overflow && localKeys.isEmpty) keyFrame.distinct()
          else spark.createDataFrame(
            java.util.Arrays.asList(localKeys.getOrElse(keyRows): _*), keyFrame.schema)
        // LSM point-lookup fast path: a bucketed-log store prunes the scan
        // to the probed keys' buckets BEFORE the latest-wins resolve — a
        // plain log store would window over every emission per lookup
        // (VERDICT r14 #3). The view must address the store by its own key
        // names, untouched by renames; the store decides the rest
        // (BucketedLogUpsertSource.latestFor)
        val lsm = v.materializedSource.getOrElse(v.source) match {
          case b: graft.sources.BucketedLogUpsertSource
              if b.keys.sorted == keys.sorted &&
                v.mappingKeys.forall { case (f, t2) =>
                  !b.keys.contains(f) && !b.keys.contains(t2) } =>
            b.latestFor(spark, probe, v.entities.map(e => e.name -> e.dtype.sparkType).toMap)
              .map(v.conform)
          case _ => None
        }
        val base = lsm.getOrElse(vs.baseWithDerived(spark))
        val baseTypes = keys.map(k => base.schema.find(_.name == k).map(_.dataType))
        val filtered =
          if (overflow)
            base.join(broadcast(probe), keys, "left_semi")
          else if (keyRows.isEmpty) // empty entity frame: nothing to read
            base.filter(lit(false))
          else
            base.filter(ContractStore.keyPredicate(keys, keyFrame.schema.map(_.dataType),
              baseTypes, keyRows.toSeq))
        // the bucketed resolve already leaves one row per key, and neither
        // the key filter nor the semi-join adds rows; any other base keeps
        // its latest event-ts row per key
        val latest = (v.eventTimestamp, lsm) match {
          case (Some(ts), None) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*).orderBy(col(ts.name).desc)
            filtered.withColumn("__graft_rn", row_number().over(w))
              .filter(col("__graft_rn") === 1).drop("__graft_rn")
          case _ => filtered
        }
        val answer = latest.select((keys ++ wanted).map(col): _*)
        if (lsm.isDefined && !overflow && graft.sources.DriverRows.isLocal(acc) &&
            ContractStore.driverJoinable(acc, keys, baseTypes))
          ContractStore.leftJoinOnDriver(spark, acc, answer, keys)
        else acc.join(answer, keys, "left")
      }
    }
  }
}

object ContractStore {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, InSet, Literal}
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}

  /** Key types whose values compare equal as Catalyst set members and, after
    * [[driverKey]], as driver objects exactly when Spark's `=` holds. */
  private def exactEquality(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | StringType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }
  private def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** A key value as the driver compares it: integers widened to long,
    * as Spark widens them to compare. */
  private def driverKey(v: Any): Any = v match {
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case other => other
  }

  /** Can [[leftJoinOnDriver]] stand in for Spark's left join of `acc` on
    * `keys`: every key is one of `acc`'s columns by its exact name, and
    * its type and the answer's compare on the driver as Spark compares
    * them (equal types, or two integer types). */
  private[store] def driverJoinable(acc: DataFrame, keys: Seq[String],
      baseTypes: Seq[Option[DataType]]): Boolean =
    keys.zip(baseTypes).forall {
      case (k, Some(t)) =>
        acc.schema.find(_.name == k).exists(f => exactEquality(t) &&
          (f.dataType == t || (integral(f.dataType) && integral(t))))
      case _ => false
    }

  /** `acc.join(answer, keys, "left")` computed on the driver: `acc` holds
    * its rows on the driver, and `answer` (keys, then features, at most one
    * row per key) is collected in one action. The result has the join's
    * columns — keys, `acc`'s other columns, then the nullable features — and
    * holds its rows, so collecting it runs no job. */
  private[store] def leftJoinOnDriver(spark: SparkSession, acc: DataFrame, answer: DataFrame,
      keys: Seq[String]): DataFrame = {
    val accIdx = keys.map(acc.schema.fieldIndex)
    val rest = acc.schema.fields.indices.filterNot(accIdx.contains)
    val features = answer.schema.fields.drop(keys.length)
    val byKey: Map[Seq[Any], Row] = answer.collect().map(r =>
      keys.indices.map(i => driverKey(r.get(i))) -> r).toMap
    val none = Seq.fill(features.length)(null)
    val rows = acc.collect().map { r: Row =>
      val key = accIdx.map(i => r.get(i))
      val hit = if (key.contains(null)) None else byKey.get(key.map(driverKey))
      Row.fromSeq(key ++ rest.map(r.get) ++
        hit.fold[Seq[Any]](none)(_.toSeq.drop(keys.length)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      accIdx.map(acc.schema(_)) ++ rest.map(acc.schema(_)) ++ features.map(_.copy(nullable = true))))
  }

  /** The lookup's key predicate: the rows of `base` whose `keys` equal one
    * of the probe's key rows. Its generated code must not depend on the
    * key set, so a new key set reuses the compiled classes. For keys of
    * long, int, short, byte, string, date and timestamp types it is one
    * set-membership rule:
    *   - each long, string or timestamp key column gets an `InSet` of its
    *     values, whose code references the value set (an `isin` of 10 or
    *     fewer values becomes an `In` that inlines every literal). It
    *     pushes to the scan as `In(k, …)`.
    *   - beside them, one `InSet` over the key struct pins the exact rows
    *     (an `InSet` of an int-like or date column would inline its values
    *     as a switch; the struct's code references its set). A single key
    *     that has its own `InSet` needs no struct.
    * A probe row with a null key matches nothing, as under `=`. Every
    * other case keeps `isin` (one key) or an OR of per-row
    * conjunctions: floating-point, binary and complex keys, whose
    * driver-side equality can differ from Spark's, and probes whose type
    * differs from the base's, which need the comparison's coercion. */
  private[store] def keyPredicate(keys: Seq[String], probeTypes: Seq[DataType],
      baseTypes: Seq[Option[DataType]], rows: Seq[Row]): Column = {
    def pushable(t: DataType) = t match {
      case LongType | StringType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    // always a HashSet: the generated code casts the set to its runtime
    // class, and a default immutable Set of four or fewer values is a
    // Set1..Set4, so a new key-set size would compile afresh
    def inSet(e: Expression, values: Seq[Any]) = toColumn(InSet(e,
      scala.collection.immutable.HashSet.from(values.map(CatalystTypeConverters.convertToCatalyst))))
    val same = probeTypes.zip(baseTypes).forall { case (p, b) => b.contains(p) && exactEquality(p) }
    val live = rows.filterNot(_.anyNull)
    if (same) {
      val columns = keys.zip(probeTypes).zipWithIndex.collect { case ((k, t), i) if pushable(t) =>
        inSet(toExpr(col(k)), live.map(_.get(i)))
      }
      val struct = if (keys.length == 1 && columns.nonEmpty) None else Some(inSet(
        CreateNamedStruct(keys.flatMap(k => Seq(Literal(k), toExpr(col(k))))), live))
      (struct ++ columns).reduce(_ && _)
    } else if (keys.length == 1) col(keys.head).isin(rows.map(_.get(0)): _*)
    else rows.map(r => keys.zipWithIndex.map { case (k, i) => col(k) === lit(r.get(i)) }
      .reduce(_ && _)).reduce(_ || _)
  }
}

/** Per-view query surface (reference: FeatureViewStore, feature_store.py:1461+). */
final class ViewStore(store: ContractStore, val view: FeatureView) {

  /** Scan → [[FeatureView.conform]] (rename → fill → ensure types →
    * derive): the FileFullJob pipeline (local/job.py:218-292) as one
    * DataFrame plan. No aggregates. */
  def baseWithDerived(spark: SparkSession): DataFrame =
    view.conform(view.materializedSource.getOrElse(view.source).read(spark))

  /** rows with the view's event timestamp in [start, end)
    * (all_between_dates, batch_data_source.py:229). The range filter applies
    * to the RAW frame — before any aggregation, like the reference's
    * source-level date range — so aggregated views aggregate only in-range
    * rows (and Catalyst pushes the predicate into the scan). */
  def between(spark: SparkSession, start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame = {
    val ts = view.eventTimestamp.getOrElse(
      throw new IllegalStateException(s"${view.name} has no event timestamp")).name
    allFrom(baseWithDerived(spark).filter(col(ts) >= lit(start) && col(ts) < lit(end)), None)
  }

  /** Full view materialization incl. aggregates (SURVEY §3.2). Window groups
    * run in DECLARATION order: rolling windows add columns to the raw frame
    * and chain; sliding (every_interval) windows each aggregate the raw
    * frame and multiple groups are stitched as-of on (keys, window_ts) —
    * the reference's multi-window combine (local/job.py:146-159) — never
    * aggregated on top of one another. */
  def all(spark: SparkSession, limit: Option[Int] = None): DataFrame =
    allFrom(baseWithDerived(spark), limit)

  /** aggregation/limit tail of [[all]], reusable with a pre-filtered base
    * ([[between]]) or an empty one (a SQL write target before its first
    * write, [[ContractStore.executeSql]]). */
  private[store] def allFrom(base: DataFrame, limit: Option[Int]): DataFrame = {
    var df = base
    if (view.aggregates.nonEmpty) {
      val keys = view.entities.map(_.name)
      val (windowed, plain) = view.aggregates.partition(_.window.isDefined)
      if (plain.nonEmpty) {
        df = Aggregations.groupBy(df, keys, plain)
      }
      if (windowed.nonEmpty) {
        val ts = view.eventTimestamp.map(_.name).getOrElse(
          throw new IllegalStateException(s"windowed aggregate on ${view.name} needs an event timestamp"))
        val groups = windowed.map(_.window.get).distinct
          .map(w => w -> windowed.filter(_.window.get == w))
        val (slidingGs, rollingGs) = groups.partition(_._1.everyInterval.isDefined)
        rollingGs.foreach { case (_, aggs) => df = Aggregations.rolling(df, keys, ts, aggs) }
        if (slidingGs.nonEmpty) {
          // spine = densest group (smallest every-interval) — the
          // deterministic, count-free analog of the reference's
          // "larger frame goes on the left of join_asof"
          // (local/job.py:146-159): denser windows ⇒ more rows, without
          // the extra count() job per group that a literal row-count
          // comparison would cost at scale
          val ordered = slidingGs.sortBy(_._1.everyInterval.map(_.getSeconds).getOrElse(Long.MaxValue))
          val results = ordered.map { case (w, aggs) => Aggregations.sliding(df, keys, ts, aggs, w) }
          df = results.reduceLeft((acc, next) =>
            Joins.pointInTimeSorted(acc, next, keys, "window_ts", "window_ts"))
        }
      }
    }
    limit.fold(df)(df.limit)
  }

  /** Validation filters from constraints (retrieval_job.py:1365-1480). */
  private def validPredicate: Column =
    (view.entities ++ view.features).flatMap { f =>
      f.constraints.map {
        case Constraint.Required => col(f.name).isNotNull
        case c => col(f.name).isNull || c.toPredicate(col(f.name))
      }
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** rows passing all constraints (DropInvalidJob, retrieval_job.py:2264-2310). */
  def dropInvalid(spark: SparkSession): DataFrame = all(spark).filter(validPredicate)
  /** rows FAILING any constraint (ReturnInvalidJob, retrieval_job.py:1514-1557). */
  def returnInvalid(spark: SparkSession): DataFrame = all(spark).filter(!validPredicate)

  /** materialize the view into its materialized source (materialize_all,
    * feature_view/feature_view.py:497-506). */
  def materialize(spark: SparkSession): Unit =
    view.materializedSource match {
      case Some(w: graft.sources.WritableSource) =>
        // read from the raw source, write to the materialized one
        val df = new ViewStore(store, view.copy(materializedSource = None)).all(spark)
        w.overwrite(df)
      case _ => throw new IllegalStateException(s"${view.name} has no writable materialized source")
    }

  /** INCREMENTAL materialization: append only raw-source rows with event
    * timestamp strictly after the materialized table's freshness watermark —
    * the nightly shape at 100 TB, where a full rewrite re-reads the world.
    * Falls back to a full [[materialize]] when the materialized table does
    * not exist yet, and REFUSES views with aggregates (windowed aggregates
    * over old+new rows cannot be appended row-wise; rebuild those or stream
    * them — Streaming.windowedAggregate is the incremental form). */
  def materializeIncremental(spark: SparkSession): Unit = {
    val ts = view.eventTimestamp.getOrElse(throw new IllegalStateException(
      s"${view.name}: incremental materialization needs an event timestamp")).name
    require(view.aggregates.isEmpty,
      s"${view.name}: aggregated views cannot materialize incrementally")
    view.materializedSource match {
      case Some(w: graft.sources.WritableSource) =>
        // existence probe, not try/catch: a failed freshness read on an
        // EXISTING table must abort, or the fallback full materialize would
        // overwrite it from a possibly-degraded raw read
        val watermark = if (w.exists(spark)) w.freshness(spark, ts) else None
        watermark match {
          case None => materialize(spark)
          case Some(t) =>
            val fresh = new ViewStore(store, view.copy(materializedSource = None))
              .all(spark).filter(col(ts) > lit(t))
            if (!fresh.isEmpty) w.insert(fresh)
        }
      case _ => throw new IllegalStateException(s"${view.name} has no writable materialized source")
    }
  }
}

/** Model query surface (model_store.py). */
final class ModelStore(store: ContractStore, val contract: ModelContract) {
  /** assemble inputs point-in-time, run the exposed model, stamp version
    * (PredictionJob, retrieval_job.py:3328-3451). */
  def predictOver(spark: SparkSession, entities: DataFrame): DataFrame = {
    val inputs = store.featuresFor(spark, entities, contract.inputFeatures)
    val m = contract.model.getOrElse(throw new IllegalStateException(s"${contract.name} has no exposed model"))
    m.predict(inputs)
      .withColumn("model_version", lit(m.version))
      .withColumn("predicted_at", current_timestamp())
  }

  /** Cache-aside inference (predict_when_missing, feature_store.py:335-352):
    * serve stored predictions where they exist; run the model only for
    * entities with no stored row, persist those, and return the union. */
  def predictWhenMissing(spark: SparkSession, entities: DataFrame): DataFrame = {
    val pv = contract.predictionView.getOrElse(
      throw new IllegalStateException(s"${contract.name} has no prediction view"))
    val keys = pv.entities.map(_.name)
    // existence probe, not try/catch: a transient read failure must surface
    // rather than re-running the model over every entity and upserting on top
    // of a table we could not read
    if (!pv.source.exists(spark)) {
      predictAndStore(spark, entities); pv.source.read(spark).join(entities, keys, "left_semi")
    } else {
      val stored = pv.source.read(spark)
      val hit = stored.join(entities, keys, "left_semi")
      val missing = entities.join(stored, keys, "left_anti")
      if (!missing.isEmpty) {
        predictAndStore(spark, missing)
        pv.source.read(spark).join(entities, keys, "left_semi")
      } else hit
    }
  }

  /** predict + persist into the prediction view's source (PredictionJob,
    * retrieval_job.py:3328-3451): upsert on the prediction view's entities
    * when it has them, else append. */
  def predictAndStore(spark: SparkSession, entities: DataFrame): Unit = {
    val preds = predictOver(spark, entities)
    val pv = contract.predictionView.getOrElse(
      throw new IllegalStateException(s"${contract.name} has no prediction view"))
    pv.source match {
      case w: graft.sources.WritableSource =>
        val keys = pv.entities.map(_.name)
        if (keys.nonEmpty) w.upsert(preds, keys) else w.insert(preds)
      case _ => throw new IllegalStateException(s"${pv.name}'s source is not writable")
    }
  }
}

/** Vector-index maintenance + query (reference: VectorIndexStore,
  * feature_store.py:1734-1798; UpdateVectorIndexJob, retrieval_job.py:2131-2163).
  * The "index" is a writable source holding (id, embedding [, payload]);
  * queries run through the similarity operators — brute-force for exact,
  * IVF for approximate at scale. */
final class VectorIndex(
    val source: graft.sources.WritableSource,
    val idCol: String = "vec_id",
    val vecCol: String = "embedding",
    val embedder: Option[graft.ml.ExposedModel] = None) {

  /** upsert embeddings by id (UpdateVectorIndexJob). */
  def upsert(df: DataFrame): Unit = source.upsert(df, Seq(idCol))

  /** nearest-n: if the query frame lacks the embedding column, run the
    * exposed embedding model first (feature_store.py:1740-1760). */
  def nearestN(spark: SparkSession, queries: DataFrame, n: Int, exact: Boolean = true): DataFrame = {
    val withVec =
      if (queries.columns.contains(vecCol)) queries
      else embedder.map(_.predict(queries)).getOrElse(
        throw new IllegalStateException(s"queries lack '$vecCol' and no embedder is attached"))
    val corpus = source.read(spark)
    if (exact)
      graft.ops.Similarity.bruteForceTopK(corpus, withVec, n, vecCol, vecCol, idCol, idCol)
    else
      graft.ops.Similarity.ivfTopK(corpus, withVec, n, corpusVec = vecCol, queryVec = vecCol,
        corpusId = idCol, queryId = idCol)
  }
}
