package graft

import graft.contract._
import graft.core.FeatureType._
import graft.expr._
import graft.ops._
import graft.sources.ParquetSource
import graft.store.ContractStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — one entry per operator from SURVEY.md §2, each with a
  * DuckDB oracle where SQL-expressible.
  *
  * Hash-stability discipline: every aggregated float goes through exact
  * DECIMAL aggregation (the test data is 2-decimal money), averages are
  * exact-sum/count, timestamps are emitted as DATE or epoch seconds, and
  * orderings always carry a unique tiebreaker — so Spark and DuckDB agree
  * bit-for-bit, not just approximately.
  */
object SparkEntry {

  // ---------- table readers ----------

  /** Fan an UNSPLITTABLE small scan out across the session's cores
    * (optimization r15, guide §2.5 "input skew: one huge unsplittable
    * file … repartition immediately after the read"): a parquet file whose
    * total size fits ONE scan split is read — and, crucially, has its whole
    * scan-stage pipeline (explodes, kernels, partial aggregates) executed —
    * by a single task, leaving every other core idle. The condition is
    * scale-adaptive by construction: it fires only when the file is at or
    * below one split (`spark.sql.files.maxPartitionBytes`), so any
    * production-sized table is untouched and the plan is the stock narrow
    * scan. The 256 KB floor keeps trivially small dimension tables
    * (nation/region/supplier) out — for those the exchange would cost more
    * than the single-task work. Round-robin repartition is retry-safe
    * (sort-before-repartition is on by default) and result-neutral: every
    * query's output is row-set-equal regardless of partitioning (the
    * oracle's hash discipline), and monotonically_increasing_id uses are
    * intra-plan correlation ids only. */
  private def fanOutUnsplittable(s: SparkSession, df: DataFrame,
      bytes: Long, rows: Long): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val oneSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes"))
    // the payload-width gate (compressed bytes/row ≥ 64) is the
    // catalog-statistics stand-in: only tables whose rows carry heavy
    // payloads (text, vectors) have scan-stage per-row kernel work worth an
    // exchange; narrow fact/dimension rows (≈20 B) lose more to the shuffle
    // than the parallelism returns (measured both ways, OPTIMIZATION_r15.md)
    if (cores > 1 && bytes >= 262144L && bytes <= oneSplit &&
        rows > 0 && bytes / rows >= 64L)
      df.repartition(math.min(cores, math.max(2, (bytes / 65536L).toInt)))
    else df
  }

  /** (bytes, rows, schema) from the parquet FOOTER only — no Spark job
    * ([[graft.sources.ParquetFooter]]); single-file tables then read with
    * that schema, so opening one runs no schema-inference job either.
    * Cached per (path, len, mtime, nanosAsLong): a file regenerated at the
    * same path gets a fresh entry — a stale schema would be a wrong
    * result, not just a mis-sized fan-out — and the nanos conf decides
    * how a TIMESTAMP(NANOS) column converts. Multi-file directory tables
    * keep stock inference. */
  private val tableStats = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Boolean), (Long, Long, Option[org.apache.spark.sql.types.StructType])]()

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val (bytes, rows, schema) = scala.util.Try(
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)).toOption
      .filterNot(_.isDirectory).map { st =>
        tableStats.computeIfAbsent(
          (path, st.getLen, st.getModificationTime, s.sessionState.conf.legacyParquetNanosAsLong), { _ =>
            try {
              val (rows, schema) = graft.sources.ParquetFooter.read(s, st)
              (st.getLen, rows, Some(schema))
            } catch { case _: Exception => (0L, 0L, None) }
          })
      }.getOrElse((0L, 0L, None))
    fanOutUnsplittable(s, schema.fold(s.read)(s.read.schema(_)).parquet(path), bytes, rows)
  }

  /** events.parquet's `ts` physical type has varied across driver testdata
    * generations: TIMESTAMP(NANOS) (Spark rejects → read nanos as long and
    * convert) vs plain µs TIMESTAMP (read directly, normalize NTZ → session-TZ
    * timestamp; session is pinned UTC so the instant is unchanged). Dispatch
    * on the actual schema so both generations load identically — downstream
    * queries always see a µs TimestampType `ts`, matching DuckDB's TIMESTAMP. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => df
      // fail AT THE LOADER, descriptively: round 6 proved an unrecognized
      // ts encoding flowing through silently breaks 27 queries downstream
      // with obscure errors (or, worse, wrong timestamps that still run)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — teach SparkEntry.events " +
        "to decode it (known: LongType nanos, TimestampNTZ, Timestamp)")
    }
  }

  // ---------- exact-aggregation helpers ----------

  /** exact decimal sum of a 2-decimal double column, emitted at a fixed type. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")
  /** exact average = exact decimal sum / count (bit-identical across engines). */
  private def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)
  private def sqlDsum(x: String, scale: Int = 2): String =
    s"CAST(sum(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE)"
  private def sqlDavg(x: String, scale: Int = 2): String =
    s"CAST(sum(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE) / count($x)"

  // ---------- query registry ----------

  /** Bench FAMILIES, with structurally different cost models:
    *   - "stream": the staged streaming-runtime gates — wall-clock is
    *     micro-batch lifecycle staging (seconds each, by design);
    *   - "recipe": multi-stage curation-recipe composites (one shared
    *     CC run + several corpus passes each);
    *   - "batch": everything else (one Catalyst plan, sub-second core).
    * Bench's rung-6 short line rolls its unkeyed remainder up PER FAMILY,
    * in this order, so a slow streaming gate can never hide inside a
    * "fast tail" aggregate. */
  val families: Seq[String] = Seq("stream", "recipe", "batch")

  final case class Q(name: String, fn: (SparkSession, String) => DataFrame, oracle: Option[String],
      family: String = "batch") {
    require(families.contains(family), s"$name: unknown family '$family'")
  }

  /** q37's constrained customer view (bound, required, domain). */
  private[graft] def customerChecked(dir: String): FeatureView =
    FeatureView("customer_checked", ParquetSource(s"$dir/customer.parquet"),
      entities = Seq(Feature("c_custkey", FInt64)),
      features = Seq(
        Feature("c_acctbal", FFloat64, constraints = Seq(Constraint.LowerBound(0.0))),
        Feature("c_name", FString, constraints = Seq(Constraint.Required)),
        Feature("c_mktsegment", FString,
          constraints = Seq(Constraint.InDomain(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))))

  private val relational: Seq[Q] = Seq(
    // --- scan + filter + group-by aggregate (SURVEY §2.1, §2.6 shape 1) ---
    Q("q1_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
            .cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        ${sqlDavg("l_quantity")} AS avg_qty,
        ${sqlDavg("l_extendedprice")} AS avg_price,
        ${sqlDavg("l_discount")} AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")),

    // --- contract with derived features + constraint filter (SURVEY §2.2-2.4):
    // goes through the FeatureView/Expr ADT path, not raw DataFrame ops ---
    Q("q2_derived_features",
      (s, dir) => {
        val view = FeatureView(
          name = "lineitem",
          source = ParquetSource(s"$dir/lineitem.parquet"),
          entities = Seq(Feature("l_orderkey", FInt64), Feature("l_linenumber", FInt32)),
          features = Seq(
            Feature("l_quantity", FFloat64), Feature("l_extendedprice", FFloat64),
            Feature("l_discount", FFloat64), Feature("l_tax", FFloat64),
            Feature("l_returnflag", FString), Feature("l_shipdate", FDatetime())),
          derived = Seq(
            DerivedFeature("disc_price", FFloat64,
              Ref("l_extendedprice") * (Lit(1.0) - Ref("l_discount")), Seq("l_extendedprice", "l_discount")),
            DerivedFeature("charge", FFloat64,
              Ref("l_extendedprice") * (Lit(1.0) - Ref("l_discount")) * (Lit(1.0) + Ref("l_tax")),
              Seq("l_extendedprice", "l_discount", "l_tax")),
            DerivedFeature("is_returned", FBool,
              Ref("l_returnflag") === Lit("R"), Seq("l_returnflag")),
            DerivedFeature("qty_bucket", FInt32,
              Binary("floor_div", Ref("l_quantity"), Lit(10.0)), Seq("l_quantity"), depth = 1),
            DerivedFeature("price_per_unit", FFloat64,
              Ref("disc_price") / Ref("l_quantity"), Seq("disc_price", "l_quantity"), depth = 2)),
          eventTimestamp = Some(EventTimestamp("l_shipdate")))
        val store = new ContractStore().addView(view)
        store.view("lineitem").all(s)
          .filter(col("l_quantity") > 45)
          .select("l_orderkey", "l_linenumber", "disc_price", "charge", "is_returned",
            "qty_bucket", "price_per_unit")
      },
      Some("""SELECT l_orderkey, l_linenumber,
        l_extendedprice * (1 - l_discount) AS disc_price,
        l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        l_returnflag = 'R' AS is_returned,
        CAST(floor(l_quantity / 10) AS INT) AS qty_bucket,
        (l_extendedprice * (1 - l_discount)) / l_quantity AS price_per_unit
        FROM lineitem WHERE l_quantity > 45""")),

    // --- multi-way join with broadcast dims + aggregate (SURVEY §2.5) ---
    Q("q3_revenue_by_nation",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""")),

    // --- order-by + limit (top-k) with deterministic tiebreak (SURVEY §2.7) ---
    Q("q4_top_customers",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("o_custkey").asc)
        .limit(10),
      Some(s"""SELECT o_custkey, ${sqlDsum("o_totalprice")} AS total_spent, count(*) AS n_orders
        FROM orders GROUP BY o_custkey
        ORDER BY total_spent DESC, o_custkey LIMIT 10""")),

    // --- ranking window function (SURVEY §2.7) ---
    Q("q5_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, dir, "customer")
          .withColumn("rank_in_segment", row_number().over(w))
          .filter(col("rank_in_segment") <= 3)
          .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "rank_in_segment")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
        CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INT)
          AS rank_in_segment
        FROM customer
        QUALIFY rank_in_segment <= 3""")),

    // --- UNION ALL with provenance (StackJob/StackSource, SURVEY §2.8) ---
    Q("q6_union_parties",
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("party_key"), col("c_name").as("party_name"),
          col("c_acctbal").as("acctbal"), col("c_nationkey").as("nationkey"))
          .withColumn("party_type", lit("customer"))
        val su = t(s, dir, "supplier").select(
          col("s_suppkey").as("party_key"), col("s_name").as("party_name"),
          col("s_acctbal").as("acctbal"), col("s_nationkey").as("nationkey"))
          .withColumn("party_type", lit("supplier"))
        c.unionByName(su)
      },
      Some("""SELECT c_custkey AS party_key, c_name AS party_name, c_acctbal AS acctbal,
          c_nationkey AS nationkey, 'customer' AS party_type FROM customer
        UNION ALL
        SELECT s_suppkey, s_name, s_acctbal, s_nationkey, 'supplier' FROM supplier""")),

    // --- dedup keep-latest (UniqueRowsJob, SURVEY §2.7) ---
    Q("q7_latest_order",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        t(s, dir, "orders")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_orderdate"),
            col("o_totalprice").as("latest_totalprice"))
      },
      Some("""SELECT o_custkey, o_orderkey AS latest_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate, o_totalprice AS latest_totalprice
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""")),

    // --- semi + anti join (SURVEY §2.5) ---
    Q("q8_customers_without_big_orders",
      (s, dir) => {
        val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        t(s, dir, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""")),
    Q("q8b_customers_with_urgent_orders",
      (s, dir) => {
        val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        t(s, dir, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"""))
  )

  // ---------- time-based queries: as-of, point-in-time, windows (SURVEY §2.5-2.7) ----------

  private def purchases(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "purchase")

  /** clicks deduped to one row per (user_id, ts) so as-of tie-breaks are
    * engine-independent. */
  private def clicksByTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))

  /** Oracle CTE `name(event_id, user_id, ts[, value])` of the purchase
    * events, [[purchases]] restated with ts cast to the µs TIMESTAMP Spark
    * reads. */
  private def sqlPurchasesCte(name: String = "p", withValue: Boolean = false): String =
    s"""$name AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts${if (withValue) ", value" else ""}
                FROM events WHERE event_type = 'purchase')"""

  /** Purchases joined as-of to [[clicksByTs]] per user (q9 backward, q95
    * forward, q127 nearest), as (event_id, user_id, ts_sec,
    * purchase_value, `out`). */
  private def purchaseClickAsof(out: String, tolerance: Option[java.time.Duration] = None,
      direction: String = "backward"): (SparkSession, String) => DataFrame = (s, dir) => {
    val p = purchases(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("purchase_value"))
    Joins.asofJoin(p, clicksByTs(s, dir), "ts", "ts", Seq("user_id"), tolerance,
        direction = direction)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("ts_sec"),
        col("purchase_value"), col("click_value").as(out))
  }

  /** [[purchaseClickAsof]] restated for the oracle: the clicks of a
    * purchase's user that satisfy `on`, first by `order`. */
  private def sqlPurchaseClickAsof(out: String, on: String, order: String): String =
    s"""WITH ${sqlPurchasesCte(withValue = true)},
          c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.event_id, p.user_id, epoch_us(p.ts) // 1000000 AS ts_sec,
          p.value AS purchase_value, c.click_value AS $out
        FROM p LEFT JOIN c ON c.user_id = p.user_id $on
        QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY $order) = 1"""

  /** Oracle CTEs `p(event_id, user_id, ts)` of purchases and
    * `c(user_id, ts, value)` of every click, for the windowed click
    * features of a purchase. */
  private def sqlPurchaseClickCtes: String =
    s"""${sqlPurchasesCte()},
          c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                FROM events WHERE event_type = 'click')"""

  private val timeQueries: Seq[Q] = Seq(
    // --- backward as-of join (JoinAsofJob, SURVEY §2.5) ---
    Q("q9_asof_last_click", purchaseClickAsof("last_click_value"),
      Some(sqlPurchaseClickAsof("last_click_value", "AND c.ts <= p.ts",
        "c.ts DESC NULLS LAST"))),

    // --- point-in-time lookup through the ContractStore, with TTL (SURVEY §3.1) ---
    Q("q10_pit_last_view",
      (s, dir) => {
        val viewEvents = graft.sources.TransformSource(
          graft.sources.ParquetSource(s"$dir/events.parquet"),
          _ => events(s, dir).filter(col("event_type") === "view")
            .groupBy("user_id", "ts").agg(max(col("value")).as("value")))
        val v = FeatureView(
          name = "user_views",
          source = viewEvents,
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("value", FFloat64)),
          eventTimestamp = Some(EventTimestamp("ts", Some(java.time.Duration.ofDays(1)))))
        val store = new ContractStore().addView(v)
        val facts = purchases(s, dir)
          .select(col("event_id"), col("user_id"), col("ts").as("event_timestamp"))
        store.featuresFor(s, facts, Seq("user_views:value"))
          .select(col("event_id"), col("user_id"), col("value").as("last_view_value"))
      },
      Some(s"""WITH ${sqlPurchasesCte("pp")},
          v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT pp.event_id, pp.user_id, v.value AS last_view_value
        FROM pp LEFT JOIN v ON v.user_id = pp.user_id AND v.ts <= pp.ts
          AND v.ts >= pp.ts - INTERVAL 1 DAY
        QUALIFY row_number() OVER (PARTITION BY pp.event_id ORDER BY v.ts DESC NULLS LAST) = 1""")),

    // --- point-in-time windowed aggregates per fact row (SURVEY §2.6 shape 3) ---
    Q("q11_pit_click_aggs",
      (s, dir) => {
        val v = FeatureView(
          name = "user_clicks",
          source = graft.sources.TransformSource(
            graft.sources.ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir).filter(col("event_type") === "click")),
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("value", FFloat64)),
          aggregates = Seq(
            AggregatedFeature("n_clicks_24h", FInt64, AggFunc.Count, "value",
              Some(AggregationWindow(java.time.Duration.ofDays(1)))),
            AggregatedFeature("sum_clicks_24h", FFloat64,
              AggFunc.Custom(c => sum(c.cast(DecimalType(18, 2))).cast("double")), "value",
              Some(AggregationWindow(java.time.Duration.ofDays(1))))),
          eventTimestamp = Some(EventTimestamp("ts")))
        val store = new ContractStore().addView(v)
        val facts = purchases(s, dir)
          .select(col("event_id"), col("user_id"), col("ts").as("event_timestamp"))
        store.featuresFor(s, facts, Seq("user_clicks:n_clicks_24h", "user_clicks:sum_clicks_24h"))
          .select("event_id", "user_id", "n_clicks_24h", "sum_clicks_24h")
      },
      Some(s"""WITH $sqlPurchaseClickCtes
        SELECT p.event_id, p.user_id, count(c.value) AS n_clicks_24h,
          CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_clicks_24h
        FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 1 DAY
        GROUP BY p.event_id, p.user_id""")),

    // --- rolling trailing window per row (SURVEY §2.6 shape 2a) ---
    Q("q12_rolling_1h",
      (s, dir) => {
        val aggs = Seq(
          AggregatedFeature("n_1h", FInt64, AggFunc.Count, "value",
            Some(AggregationWindow(java.time.Duration.ofHours(1)))),
          AggregatedFeature("sum_1h", FFloat64,
            AggFunc.Custom(c => sum(c.cast(DecimalType(18, 2)))), "value",
            Some(AggregationWindow(java.time.Duration.ofHours(1)))))
        Aggregations.rolling(events(s, dir), Seq("user_id"), "ts", aggs)
          .select(col("event_id"), col("n_1h"), col("sum_1h").cast("double").as("sum_1h"))
      },
      // lower bound EXCLUSIVE like polars rolling: (ts-1h, ts] = on integer
      // micros, [ts-1h+1µs, ts]
      Some("""SELECT event_id,
          count(value) OVER w AS n_1h,
          CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        FROM (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""")),

    // --- tumbling event-time window aggregate (SURVEY §2.6 shape 2b) ---
    Q("q13_hourly_by_type",
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total_value")),
      Some(s"""SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
        FROM events GROUP BY 1, 2""")),

    // --- sliding event-time windows (every_interval semantics, SURVEY §2.6) ---
    Q("q14_sliding_1h_15m",
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total_value")),
      Some(s"""SELECT strftime(time_bucket(INTERVAL 15 MINUTES, CAST(ts AS TIMESTAMP)) - k.k * INTERVAL 15 MINUTES, '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
        FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) k
        GROUP BY 1, 2""")),

    // --- freshness = max event-ts (SURVEY §2.13) ---
    Q("q15_freshness",
      (s, dir) => events(s, dir).agg(
        max(col("ts")).cast("long").as("max_ts_sec"),
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users")),
      Some("""SELECT epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000000 AS max_ts_sec,
          count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM events"""))
  )

  // ---------- scalar expression coverage (SURVEY §2.4) ----------

  private val scalarQueries: Seq[Q] = Seq(
    // --- date components ---
    Q("q16_date_parts",
      (s, dir) => {
        events(s, dir).select(
          col("event_id"),
          DateComponent("year", Ref("ts")).toColumn.as("y"),
          DateComponent("month", Ref("ts")).toColumn.as("mo"),
          DateComponent("day", Ref("ts")).toColumn.as("d"),
          DateComponent("hour", Ref("ts")).toColumn.as("h"),
          DateComponent("minute", Ref("ts")).toColumn.as("mi"),
          DateComponent("second", Ref("ts")).toColumn.as("sec"),
          DateComponent("weekday", Ref("ts")).toColumn.as("dow"),
          DateComponent("ordinal_day", Ref("ts")).toColumn.as("doy"),
          DateComponent("week", Ref("ts")).toColumn.as("wk"),
          DateComponent("epoch", Ref("ts")).toColumn.as("epoch_sec"))
      },
      Some("""SELECT event_id,
          CAST(year(t) AS INT) AS y, CAST(month(t) AS INT) AS mo, CAST(day(t) AS INT) AS d,
          CAST(hour(t) AS INT) AS h, CAST(minute(t) AS INT) AS mi, CAST(second(t) AS INT) AS sec,
          CAST(isodow(t) AS INT) AS dow, CAST(dayofyear(t) AS INT) AS doy,
          CAST(week(t) AS INT) AS wk, epoch_us(t) // 1000000 AS epoch_sec
        FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events)""")),

    // --- string functions ---
    Q("q17_string_funcs",
      (s, dir) => t(s, dir, "part").select(
        col("p_partkey"),
        Unary("str_to_upper", Ref("p_name")).toColumn.as("name_upper"),
        Unary("str_to_lower", Ref("p_brand")).toColumn.as("brand_lower"),
        Unary("str_len_char", Ref("p_name")).toColumn.as("name_len"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        ReplaceStrings(Ref("p_type"), Seq((" ", "_"))).toColumn.as("type_snake"),
        AppendStrings(Seq(Ref("p_brand"), Ref("p_type")), "/").toColumn.as("brand_type"),
        element_at(split(col("p_type"), " "), 1).as("type_first_word"),
        Binary("str_contains", Ref("p_name"), Lit("red")).toColumn.as("has_red"),
        Binary("str_starts_with", Ref("p_type"), Lit("STANDARD")).toColumn.as("is_standard"),
        Binary("str_ends_with", Ref("p_name"), Lit("e")).toColumn.as("ends_e"),
        trim(lpad(col("p_brand"), 12, "#")).as("brand_padded")),
      Some("""SELECT p_partkey, upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
          CAST(length(p_name) AS INT) AS name_len, substr(p_name, 1, 8) AS name_prefix,
          replace(p_type, ' ', '_') AS type_snake,
          concat(p_brand, '/', p_type) AS brand_type,
          string_split(p_type, ' ')[1] AS type_first_word,
          contains(p_name, 'red') AS has_red,
          starts_with(p_type, 'STANDARD') AS is_standard,
          p_name LIKE '%e' AS ends_e,
          trim(lpad(p_brand, 12, '#'), ' ') AS brand_padded
        FROM part""")),

    // --- math functions (transcendentals rounded: libm vs JDK last-ulp) ---
    Q("q18_math_funcs",
      (s, dir) => t(s, dir, "lineitem").filter(col("l_linenumber") === 1).select(
        col("l_orderkey"),
        Unary("abs", Ref("l_discount") - Lit(0.05)).toColumn.as("abs_v"),
        Unary("ceil", Ref("l_quantity") / Lit(7.0)).toColumn.cast("long").as("ceil_v"),
        Unary("floor", Ref("l_quantity") / Lit(7.0)).toColumn.cast("long").as("floor_v"),
        Unary("sqrt", Ref("l_extendedprice")).toColumn.as("sqrt_v"),
        round(Unary("log", Ref("l_extendedprice")).toColumn, 6).as("ln_v"),
        round(Unary("log10", Ref("l_extendedprice")).toColumn, 6).as("log10_v"),
        round(Unary("exp", Ref("l_discount")).toColumn, 6).as("exp_v"),
        Unary("sign", Ref("l_discount") - Lit(0.05)).toColumn.as("sign_v"),
        Binary("pow", Ref("l_quantity"), Lit(2.0)).toColumn.as("pow_v"),
        Binary("mod", Ref("l_orderkey"), Lit(7L)).toColumn.as("mod_v"),
        Binary("min", Ref("l_quantity"), Lit(25.0)).toColumn.as("min_v"),
        Binary("max", Ref("l_quantity"), Lit(25.0)).toColumn.as("max_v"),
        // divide by 3: the quotient never lands on an exact decimal rounding
        // tie, so HALF_UP (JVM) and C-lib rounding agree bit-for-bit
        round(col("l_extendedprice") / 3.0, 2).as("round_v")),
      Some("""SELECT l_orderkey, abs(l_discount - 0.05) AS abs_v,
          CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil_v,
          CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor_v,
          sqrt(l_extendedprice) AS sqrt_v,
          round(ln(l_extendedprice), 6) AS ln_v,
          round(log10(l_extendedprice), 6) AS log10_v,
          round(exp(l_discount), 6) AS exp_v,
          CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_v,
          pow(l_quantity, 2.0) AS pow_v,
          CAST(l_orderkey % 7 AS BIGINT) AS mod_v,
          least(l_quantity, 25.0) AS min_v,
          greatest(l_quantity, 25.0) AS max_v,
          round(l_extendedprice / 3.0, 2) AS round_v
        FROM lineitem WHERE l_linenumber = 1""")),

    // --- JSON extraction (SURVEY §2.4 JsonPath/StructField) ---
    Q("q19_json_extract",
      (s, dir) => events(s, dir)
        // one JSON parse per row: materialize the extract, derive both outputs
        .withColumn("k_value", JsonPath(Ref("props"), "$.k").toColumn.cast("int"))
        .select(col("event_id"), col("k_value"), col("k_value").isNotNull.as("has_k")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
          json_extract_string(props, '$.k') IS NOT NULL AS has_k FROM events""")),

    // --- conditionals: clip, between, isin, fill-na, case (SURVEY §2.4) ---
    Q("q20_conditionals",
      (s, dir) => t(s, dir, "customer").select(
        col("c_custkey"),
        Clip(Ref("c_acctbal"), 0.0, 5000.0).toColumn.as("bal_clipped"),
        IsBetween(Ref("c_acctbal"), Lit(1000.0), Lit(2000.0)).toColumn.as("bal_mid"),
        IsIn(Ref("c_mktsegment"), Seq("BUILDING", "MACHINERY")).toColumn.as("seg_flag"),
        FillNaColumn(Ref("c_name"), Ref("c_mktsegment")).toColumn.as("name_filled"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "low").otherwise("high").as("bal_band"),
        Ordinal(Ref("c_mktsegment"),
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).toColumn.as("seg_ord")),
      Some("""SELECT c_custkey,
          greatest(least(c_acctbal, 5000.0), 0.0) AS bal_clipped,
          c_acctbal BETWEEN 1000.0 AND 2000.0 AS bal_mid,
          c_mktsegment IN ('BUILDING', 'MACHINERY') AS seg_flag,
          coalesce(c_name, c_mktsegment) AS name_filled,
          CASE WHEN c_acctbal < 0 THEN 'negative' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
          CAST(CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1 WHEN 'FURNITURE' THEN 2
            WHEN 'HOUSEHOLD' THEN 3 WHEN 'MACHINERY' THEN 4 END AS INT) AS seg_ord
        FROM customer""")),

    // --- exact stats aggregations (SURVEY §2.6 function set) ---
    Q("q21_stats_by_flag",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val dec = col("l_quantity").cast(DecimalType(18, 2))
        // exact percentiles via the histogram path (O(distinct values) agg
        // state, not O(rows) like percentile()'s buffer — Aggregations
        // .exactPercentiles scaladoc); moments/distinct in a parallel agg,
        // joined on the tiny grouped result
        val stats = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          count_distinct(col("l_orderkey")).as("n_orders"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          (sum(dec * dec).cast("double") / count(lit(1)) -
            (sum(dec).cast("double") / count(lit(1))) * (sum(dec).cast("double") / count(lit(1))))
            .as("pop_variance"))
        val pct = Aggregations.exactPercentiles(li, Seq("l_returnflag"), "l_quantity",
          Seq(0.5, 0.25), Seq("median_qty", "q25_qty"))
        stats.join(pct, Seq("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n, count(DISTINCT l_orderkey) AS n_orders,
          min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
              * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)) AS pop_variance,
          quantile_cont(l_quantity, 0.5) AS median_qty,
          quantile_cont(l_quantity, 0.25) AS q25_qty
        FROM lineitem GROUP BY l_returnflag"""))
  )

  // ---------- training-data pipeline: dedup / similarity / text (BASELINE north star) ----------

  private val docQueries: Seq[Q] = Seq(
    // --- exact dedup (hash groupBy) ---
    Q("q22_dedup_exact",
      (s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "canonical_id", "is_duplicate"),
      Some("""SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
          doc_id > min(doc_id) OVER (PARTITION BY text) AS is_duplicate
        FROM documents""")),

    // --- MinHash + LSH near-dup (banding → bucket join → jaccard verify)
    // at a SECOND operating point of the portable hash family: 8 narrow
    // bands (2 rows each — high recall at low thresholds) over word
    // 2-grams, vs q67's 4×4 banding over 3-grams. Fully hash-checked; the
    // xxhash64 production form ([[Dedup.nearDuplicates]]) stays the
    // generic-speed path, its banding/verify algebra spec-gated against
    // this one ---
    Q("q23_minhash_neardup",
      (s, dir) => Dedup.nearDuplicatesPortable(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.35, bands = 8, k = 2),
      Some(sqlMinhashOracle(threshold = 0.35, bands = 8, k = 2))),

    // --- exact n-gram Jaccard within same-source blocks. The oracle
    // mirrors the ENGINE's own candidate discipline (VERDICT r13 #4): any
    // pair with jaccard > 0 shares ≥1 shingle, so candidates come from a
    // posting-list self-join (O(candidate pairs)) and the exact verify runs
    // on candidates only — result-identical to the old all-pairs block
    // cross-join (proven equal at sf0.001/sf0.01) but it finishes at the
    // synthetic ×10/×100 corpora where the O(block²) form timed out ---
    Q("q24_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairsInverted(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.2, blockBy = Seq("source"), k = 3)
        .select(col("source"), col("id_a"), col("id_b"), col("jaccard")),
      Some("""WITH sh AS (
          SELECT doc_id, source, list_distinct([array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, greatest(len(w)-2, 0))]) AS s
          FROM (SELECT doc_id, source, list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w FROM documents)),
        ex AS (SELECT doc_id, source, unnest(s) AS g FROM sh),
        cand AS (SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
          FROM ex a JOIN ex b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id)
        SELECT c.source, c.id_a, c.id_b,
          CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.2""")),

    // --- SimHash + Hamming near-dup, ALL-PAIRS within source blocks (the
    // small-block demo shape; the banded pigeonhole q61/q81 is the scale
    // form) — over the PORTABLE 24-bit signature so every pair and distance
    // hash-checks; the 64-bit xxhash form ([[Dedup.withSimhash]]) stays the
    // production signature, equivalence spec-gated ---
    Q("q25_simhash_pairs",
      (s, dir) => {
        val d = Dedup.withSimhashPortable(
          t(s, dir, "documents").select("source", "doc_id", "text"), "text", "sig",
          bits = 24, k = 2).drop("text")
        val a = d.select(col("source"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
        val b = d.select(col("source"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
        a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
          .withColumn("hamming", Dedup.hamming(col("sig_a"), col("sig_b")).cast("int"))
          .filter(col("hamming") <= 5)
          .select("source", "id_a", "id_b", "hamming")
      },
      Some(sqlSimhashOracle(bits = 24, maxHamming = 5, k = 2,
        blockBy = Some("source"), allPairs = true))),

    // --- token counting: whitespace + BPE-ish regex ---
    Q("q26_token_stats",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"),
        length(col("text")).as("n_chars_actual"),
        (col("n_chars") === length(col("text"))).as("n_chars_ok")),
      Some(s"""SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0)) AS INT) AS n_tokens_ws,
          CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeTokenPattern}')) AS INT) AS n_tokens_bpe,
          CAST(length(text) AS INT) AS n_chars_actual,
          n_chars = length(text) AS n_chars_ok
        FROM documents""")),

    // --- quality scoring (C4/Gopher-style heuristics) ---
    Q("q27_quality_score",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.meanWordLength(col("text")).as("mean_word_len"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.digitRatio(col("text")).as("digit_ratio"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      Some("""WITH t AS (SELECT doc_id, text,
            list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w,
            CAST(length(text) AS DOUBLE) AS total
          FROM documents)
        SELECT doc_id,
          CASE WHEN len(w) = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / len(w) END AS mean_word_len,
          CASE WHEN len(w) = 0 THEN 0.0
            ELSE CAST(len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE) / len(w) END AS stopword_ratio,
          CASE WHEN total = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / total END AS digit_ratio,
          CASE WHEN total = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / total END AS punct_ratio,
          ((CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / len(w) END) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN total = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / total END) <= 0.3 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN total = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / total END) <= 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
        FROM t""")),

    // --- n-gram-heuristic language ID (deterministic priority chain) ---
    Q("q28_lang_id",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langIdDeterministic(col("text")).as("predicted_lang")),
      Some(s"""WITH sc AS (SELECT doc_id, lang, $sqlLangScores
          FROM (SELECT doc_id, lang, lower(text) AS t FROM documents))
        SELECT doc_id, lang, ${sqlLangPick("predicted_lang")}
        FROM sc""")),

    // --- rolling-hash document fingerprint (portable md5 variant) ---
    Q("q29_fingerprint",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprintPortable(col("text")).as("fp")),
      Some("""SELECT doc_id,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              [CAST(concat('0x', substr(md5(x), 1, 14)) AS BIGINT) % 1099511627776
                for x in list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)]),
            (a, b) -> (a * 31 + b) % 1099511627776) AS fp
        FROM documents""")),

    // --- brute-force cosine top-k (exact kNN baseline) ---
    Q("q30_knn_bruteforce",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
          .select("query_id", "neighbor_id", "cosine", "rank")
      },
      Some("""WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 20),
          c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_inner_product(q.v, c.v) /
            (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine,
          CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id) AS INT) AS rank
        FROM q JOIN c ON c.vec_id != q.vec_id
        QUALIFY rank <= 5""")),

    // --- exact cosine similarity pairs within label blocks ---
    Q("q31_cosine_pairs",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
          .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
          .filter(col("cosine") >= 0.3)
          .select("label", "id_a", "id_b", "cosine")
      },
      Some("""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT * FROM (
          SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
            list_inner_product(a.v, b.v) /
              (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cosine >= 0.3""")),

    // --- IVF ANN with the PORTABLE plan-time centroid matrix: coarse
    // argmax → nprobe probe → inverted-list equi-join → exact cosine rank,
    // every stage hash-checked against DuckDB restating the same literals
    // (the trained-k-means ivfTopK stays the recall-quality path, gated in
    // SimilaritySpec) ---
    Q("q32_ivf_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopKPortable(emb, emb.filter(col("vec_id") < 20), k = 5, dim = 64,
          nlist = 8, nprobe = 3)
          .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      },
      Some(sqlIvfPortableOracle(k = 5, nlist = 8, nprobe = 3, dim = 64,
        queryPred = "vec_id < 20"))),

    // --- random-hyperplane LSH embedding near-dup at a SECOND operating
    // point of the portable plane family: 5 planes / threshold 0.25 (finer
    // buckets, looser verify) vs q68's 4 planes / 0.3. Fully hash-checked ---
    Q("q33_embedding_neardup",
      (s, dir) => Dedup.embeddingNearDupPortable(t(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.25, planes = 5, dim = 64),
      Some(sqlEmbeddingNearDupOracle(threshold = 0.25, planes = 5, dim = 64))),

    // --- near-dup pairs → clusters → canonical docs: connected components
    // (min-label propagation) over the PORTABLE minhash pairs at its own
    // threshold; the iterative clustering + canonicalize step is
    // oracle-checked via a recursive-CTE transitive closure over the same
    // deterministic edges (the q69/q123 pattern) ---
    Q("q60_dedup_groups",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
          threshold = 0.6, bands = 4, k = 3)
        Dedup.canonicalize(docs, pairs, "doc_id").select("doc_id", "lang")
      },
      Some(s"""WITH RECURSIVE ${minhashCtes(0.6)},
          ${sqlClosureCtes("pairs", "comp")}
        SELECT d.doc_id, d.lang FROM documents d
        LEFT JOIN comp ON comp.id = d.doc_id
        WHERE comp.comp IS NULL OR comp.comp = d.doc_id""")),

    // --- banded simhash near-dup (exact-recall pigeonhole buckets; the
    // scale form of q25's all-pairs demo) at a SECOND portable operating
    // point: 20-bit signature in 5 bands (Hamming ≤ 4) blocked by source,
    // vs q81's global 24-bit/4-band gate. Fully hash-checked; the 64-bit
    // xxhash form ([[Dedup.simhashNearDup]]) stays the production path,
    // its pigeonhole algebra spec-gated banded-vs-pairwise ---
    Q("q61_simhash_banded",
      (s, dir) => Dedup.simhashNearDupPortable(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 4, bits = 20, k = 2, blockBy = Seq("source")),
      Some(sqlSimhashOracle(bits = 20, maxHamming = 4, k = 2,
        blockBy = Some("source")))),

    // --- unpack embedding into scalar columns + array ops ---
    Q("q34_vector_ops",
      (s, dir) => {
        val e = Similarity.unpackEmbedding(t(s, dir, "embeddings"), "embedding", 4)
          .withColumn("label_arr", array(col("label"), col("label") + 1))
        e.select(
          col("vec_id"),
          col("dim_0"), col("dim_1"), col("dim_2"), col("dim_3"),
          size(col("embedding")).as("dims"),
          Similarity.dot(col("embedding").cast("array<double>"), col("embedding").cast("array<double>")).as("self_dot"),
          ArrayAtIndex(Ref("embedding"), 10).toColumn.as("elem_10"),
          ArrayContainsAny(Ref("label_arr"), Seq(1, 2)).toColumn.as("label_in_12"))
      },
      Some("""SELECT vec_id,
          embedding[1] AS dim_0, embedding[2] AS dim_1, embedding[3] AS dim_2, embedding[4] AS dim_3,
          CAST(len(embedding) AS INT) AS dims,
          list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot,
          embedding[11] AS elem_10,
          list_has_any([label, label + 1], [1, 2]) AS label_in_12
        FROM embeddings""")),

    // --- SQL entry point over registered contracts (SURVEY §3.3) ---
    Q("q35_sql_entry",
      (s, dir) => {
        val store = new ContractStore()
          .addView(FeatureView("orders_v", ParquetSource(s"$dir/orders.parquet"),
            entities = Seq(Feature("o_orderkey", FInt64)),
            features = Seq(Feature("o_custkey", FInt64), Feature("o_totalprice", FFloat64),
              Feature("o_orderstatus", FString))))
          .addView(FeatureView("customer_v", ParquetSource(s"$dir/customer.parquet"),
            entities = Seq(Feature("c_custkey", FInt64)),
            features = Seq(Feature("c_name", FString), Feature("c_mktsegment", FString))))
        store.executeSql(s,
          """SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             FROM orders_v JOIN customer_v ON o_custkey = c_custkey
             GROUP BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment""")),

    // --- temporal train/test/validate split (SURVEY §2.11) ---
    Q("q36_train_split",
      (s, dir) => {
        val (tr, te, va) = graft.ml.MLOps.trainTestValidate(
          t(s, dir, "orders"), 0.7, 0.2, orderBy = Some("o_orderdate"))
        def summarize(df: DataFrame, label: String) =
          df.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
            .withColumn("split", lit(label))
        summarize(tr, "train").unionByName(summarize(te, "test")).unionByName(summarize(va, "validate"))
      },
      Some(s"""WITH r AS (SELECT o_totalprice, o_orderdate,
            percent_rank() OVER (ORDER BY o_orderdate) AS pr FROM orders),
          lab AS (SELECT *, CASE WHEN pr <= 0.7 THEN 'train'
            WHEN pr <= 0.9 THEN 'test' ELSE 'validate' END AS split FROM r)
        SELECT split, count(*) AS n, ${sqlDsum("o_totalprice")} AS total,
          strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
        FROM lab GROUP BY split""")),

    // --- constraint validation: returnInvalid (SURVEY §2.3) ---
    Q("q37_invalid_rows",
      (s, dir) => new ContractStore().addView(customerChecked(dir))
        .view("customer_checked").returnInvalid(s)
        .select("c_custkey", "c_acctbal", "c_mktsegment"),
      Some("""SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        WHERE NOT ((c_acctbal IS NULL OR c_acctbal >= 0.0)
          AND c_name IS NOT NULL
          AND (c_mktsegment IS NULL OR c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')))""")),

    // --- A/B model routing with the md5 router: assignment, per-model
    // prediction math, and the union are all verified against the oracle
    // (the xxhash64 default router stays unit-tested in CoreSpec) ---
    Q("q38_ab_routing",
      (s, dir) => {
        import graft.ml._
        val a = ExpressionModel("m_a", "v1", "prediction", col("o_totalprice") * 0.1)
        val b = ExpressionModel("m_b", "v2", "prediction", col("o_totalprice") * 0.2)
        MLOps.abTest(a, b, 0.5, "o_orderkey",
          router = Some(MLOps.md5Bucket(col("o_orderkey"), 10000)))(t(s, dir, "orders"))
          .select("o_orderkey", "model_version", "prediction")
      },
      Some("""WITH r AS (SELECT o_orderkey, o_totalprice,
            CAST('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,8) AS BIGINT) % 10000 AS bucket
          FROM orders)
        SELECT o_orderkey,
          CASE WHEN bucket < 5000 THEN 'v1' ELSE 'v2' END AS model_version,
          CASE WHEN bucket < 5000 THEN o_totalprice * 0.1 ELSE o_totalprice * 0.2 END AS prediction
        FROM r""")),

    // --- multimodal plumbing: fake media + feature extraction + frame
    // sampling. The decode KERNEL is stubbed, but the metadata pipeline
    // (md5-derived fake dims → resize shape math) is exact and
    // oracle-checked; n_features pins the kernel's output arity ---
    Q("q39_multimodal",
      (s, dir) => {
        val d = Multimodal.withFakeMedia(t(s, dir, "documents").select("doc_id"), "doc_id")
        val feat = Multimodal.extractFeatures(d, "media_bytes", dims = 8)
        Multimodal.resizeMeta(feat, "media_meta", 256)
          .select(col("doc_id"),
            col("media_meta.width").as("w"), col("media_meta.height").as("h"),
            size(col("media_features")).as("n_features"))
      },
      Some("""WITH m AS (SELECT doc_id,
            CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS hv
          FROM documents),
        wh AS (SELECT doc_id, CAST(hv % 1024 + 32 AS INT) AS w0,
            CAST(hv % 768 + 32 AS INT) AS h0 FROM m),
        sc AS (SELECT doc_id, w0, h0,
            least(1.0, 256.0 / greatest(w0, h0)) AS scale FROM wh)
        SELECT doc_id, CAST(trunc(w0 * scale) AS INT) AS w,
          CAST(trunc(h0 * scale) AS INT) AS h, CAST(8 AS INT) AS n_features
        FROM sc"""))
  )

  // ---------- remaining operator surface (SURVEY §2.2, §2.8, §2.13) ----------

  private val miscQueries: Seq[Q] = Seq(
    // --- source-column → contract-name mapping (ColumnFeatureMappable) ---
    Q("q40_rename_mapping",
      (s, dir) => {
        val v = FeatureView("nations", ParquetSource(s"$dir/nation.parquet"),
          entities = Seq(Feature("nation_id", FInt32)),
          features = Seq(Feature("nation_name", FString), Feature("region_id", FInt32)),
          mappingKeys = Map("n_nationkey" -> "nation_id", "n_name" -> "nation_name",
            "n_regionkey" -> "region_id"))
        new ContractStore().addView(v).view("nations").all(s)
          .select("nation_id", "nation_name", "region_id")
      },
      Some("SELECT n_nationkey AS nation_id, n_name AS nation_name, n_regionkey AS region_id FROM nation")),

    // --- one-hot encoding (compiler DSL one_hot_encode) ---
    Q("q41_one_hot",
      (s, dir) => Encoding.oneHot(t(s, dir, "customer"), "c_mktsegment",
        Seq("BUILDING", "MACHINERY", "AUTOMOBILE"))
        .select("c_custkey", "c_mktsegment_is_building", "c_mktsegment_is_machinery",
          "c_mktsegment_is_automobile"),
      Some("""SELECT c_custkey,
          c_mktsegment = 'BUILDING' AS c_mktsegment_is_building,
          c_mktsegment = 'MACHINERY' AS c_mktsegment_is_machinery,
          c_mktsegment = 'AUTOMOBILE' AS c_mktsegment_is_automobile
        FROM customer""")),

    // --- string-concat aggregation (ConcatStringAggregation) with an explicit
    // sort for engine-independent element order ---
    Q("q42_concat_agg",
      (s, dir) => t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n")),
      Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
          count(*) AS n FROM nation GROUP BY n_regionkey""")),

    // --- INTERSECT / EXCEPT (SURVEY §2.8 — free in Spark, absent in reference) ---
    Q("q43_set_ops",
      (s, dir) => {
        val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
        val both = custNations.intersect(suppNations).withColumn("membership", lit("both"))
        val custOnly = custNations.except(suppNations).withColumn("membership", lit("customers_only"))
        both.unionByName(custOnly)
      },
      Some("""SELECT nationkey, 'both' AS membership FROM
          (SELECT DISTINCT c_nationkey AS nationkey FROM customer
           INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'customers_only' AS membership FROM
          (SELECT DISTINCT c_nationkey AS nationkey FROM customer
           EXCEPT SELECT DISTINCT s_nationkey FROM supplier)""")),

    // --- mid-pipeline feature lookup (LoadFeature, transformation.py:3027) ---
    Q("q44_load_feature",
      (s, dir) => {
        val store = new ContractStore()
          .addView(FeatureView("nations", ParquetSource(s"$dir/nation.parquet"),
            entities = Seq(Feature("c_nationkey", FInt32)),
            features = Seq(Feature("nation_name", FString)),
            mappingKeys = Map("n_nationkey" -> "c_nationkey", "n_name" -> "nation_name")))
        store.loadFeature(s, t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          "nations:nation_name")
          .select("c_custkey", "c_nationkey", "nation_name")
      },
      Some("""SELECT c_custkey, c_nationkey, n_name AS nation_name
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""")),

    // --- write-through file cache (FileCachedJob): the cached result must
    // equal the underlying query ---
    Q("q45_file_cached",
      (s, dir) => {
        val path = java.nio.file.Files.createTempDirectory("graft_cache").toString + "/agg"
        Caching.fileCached(s, path) {
          t(s, dir, "orders").groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        }
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n, ${sqlDsum("o_totalprice")} AS total
        FROM orders GROUP BY o_orderstatus""")),

    // --- gap-based sessionization (lag + running sum — the batch analog of
    // streaming session windows) ---
    Q("q46_sessionize",
      (s, dir) => {
        val us = unix_micros(col("ts"))
        val w = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
        val gap = 30L * 60 * 1000000 // 30 min in µs
        events(s, dir)
          .withColumn("__new", when(us - lag(us, 1).over(w) > gap || lag(us, 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min(us).as("session_start_us"),
            (max(us) - min(us)).as("session_len_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          marked AS (SELECT user_id, us,
            CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          sess AS (SELECT user_id, us,
            CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM marked)
        SELECT user_id, session_id, count(*) AS n_events,
          min(us) AS session_start_us, max(us) - min(us) AS session_len_us
        FROM sess GROUP BY user_id, session_id""")),

    // --- one featuresFor call spanning TWO views (fold/combine path):
    // rolling click aggregates from one view + latest view-event value from
    // another, point-in-time correct per purchase ---
    Q("q47_multi_view_pit",
      (s, dir) => {
        val clicks = FeatureView("mv_clicks",
          graft.sources.TransformSource(ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir).filter(col("event_type") === "click")),
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("value", FFloat64)),
          aggregates = Seq(AggregatedFeature("n_clicks_24h", FInt64, AggFunc.Count, "value",
            Some(AggregationWindow(java.time.Duration.ofDays(1))))),
          eventTimestamp = Some(EventTimestamp("ts")))
        val views = FeatureView("mv_views",
          graft.sources.TransformSource(ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir).filter(col("event_type") === "view")
              .groupBy("user_id", "ts").agg(max(col("value")).as("value"))),
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("value", FFloat64)),
          eventTimestamp = Some(EventTimestamp("ts")))
        val store = new ContractStore().addView(clicks).addView(views)
        val facts = purchases(s, dir)
          .select(col("event_id"), col("user_id"), col("ts").as("event_timestamp"))
        store.featuresFor(s, facts,
          Seq("mv_clicks:n_clicks_24h", "mv_views:value"))
          .select(col("event_id"), col("user_id"), col("n_clicks_24h"),
            col("value").as("last_view_value"))
      },
      Some(s"""WITH $sqlPurchaseClickCtes,
          v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          agg AS (SELECT p.event_id, count(c.value) AS n_clicks_24h
            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 1 DAY
            GROUP BY p.event_id),
          lastv AS (SELECT p.event_id, v.value
            FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
            QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC NULLS LAST) = 1)
        SELECT p.event_id, p.user_id, agg.n_clicks_24h, lastv.value AS last_view_value
        FROM p JOIN agg USING (event_id) JOIN lastv USING (event_id)"""))
  )

  private val textQueries2: Seq[Q] = Seq(
    // --- corpus vocabulary: top-10 words per source ---
    Q("q48_top_words",
      (s, dir) => TextAnalysis.topWords(t(s, dir, "documents"), "text", Seq("source"), 10)
        .select("source", "word", "n", "word_rank"),
      Some("""WITH w AS (SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS word
              FROM documents),
          counts AS (SELECT source, word, count(*) AS n FROM w
            WHERE length(word) > 0 GROUP BY source, word)
        SELECT source, word, n,
          CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS INT) AS word_rank
        FROM counts QUALIFY word_rank <= 10""")),

    // --- PII scrubbing (emails / URLs / long digit runs → placeholders) ---
    Q("q49_pii_scrub",
      (s, dir) => t(s, dir, "documents")
        // plant PII deterministically so the redaction is observable
        .withColumn("dirty", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or https://ex.co/"),
          col("doc_id"), lit(" tel 55512340"), col("doc_id")))
        .select(col("doc_id"), TextAnalysis.scrubPii(col("dirty")).as("clean"),
          (length(col("dirty")) - length(TextAnalysis.scrubPii(col("dirty")))).as("chars_removed")),
      Some("""WITH d AS (SELECT doc_id,
            concat(text, ' contact user', doc_id, '@example.com or https://ex.co/', doc_id,
                   ' tel 55512340', doc_id) AS dirty
          FROM documents),
        s AS (SELECT doc_id, dirty,
            regexp_replace(regexp_replace(regexp_replace(dirty,
              'https?://[^\s]+', '<URL>', 'g'),
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]{7,}', '<NUM>', 'g') AS clean
          FROM d)
        SELECT doc_id, clean, CAST(length(dirty) - length(clean) AS INT) AS chars_removed FROM s""")),

    // --- Gopher-style repetition ratio ---
    Q("q50_repetition_ratio",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio")),
      Some("""WITH sh AS (SELECT doc_id,
            [array_to_string(w[i:i+2], ' ') for i in generate_series(1, greatest(len(w)-2, 0))] AS s
          FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w FROM documents))
        SELECT doc_id,
          CASE WHEN len(s) = 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s) END AS rep_ratio
        FROM sh"""))
  )

  private val statsQueries: Seq[Q] = Seq(
    // --- exact Pearson correlation: built-in corr() accumulates doubles in
    // engine-specific order; computing it from exact decimal co-moments makes
    // the result bit-identical across engines ---
    Q("q51_corr_exact",
      (s, dir) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("__n"),
            sum(x).cast("double").as("__sx"), sum(y).cast("double").as("__sy"),
            sum((x * y).cast(DecimalType(28, 4))).cast("double").as("__sxy"),
            sum((x * x).cast(DecimalType(28, 4))).cast("double").as("__sxx"),
            sum((y * y).cast(DecimalType(28, 4))).cast("double").as("__syy"))
          .select(col("l_returnflag"), col("__n").as("n"),
            // round(9): decimal→double conversion can double-round differently
            // across engines (int128/scale vs BigDecimal) — a 1-ulp hazard
            round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
              sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
                (col("__n") * col("__syy") - col("__sy") * col("__sy"))), 9).as("corr_qty_price"))
      },
      Some("""WITH m AS (SELECT l_returnflag, count(*) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS corr_qty_price
        FROM m""")),

    // --- pivot (orderstatus × orderpriority counts) ---
    Q("q52_pivot",
      (s, dir) => {
        val renames = Seq(
          "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high", "3-MEDIUM" -> "p3_medium",
          "4-NOT SPECIFIED" -> "p4_none", "5-LOW" -> "p5_low")
        val pivoted = t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", renames.map(_._1))
          .agg(count(lit(1)))
        // an empty (status, priority) cell is NULL out of Spark's pivot but 0
        // out of a conditional-count oracle — normalize to int64 zero
        pivoted.select(col("o_orderstatus") +: renames.map { case (from, to) =>
          coalesce(col(from), lit(0L)).as(to)
        }: _*)
      },
      // count(CASE…) is BIGINT in duckdb; sum(CASE…) would be HUGEINT and
      // hash differently than int64
      Some("""SELECT o_orderstatus,
          count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1_urgent,
          count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2_high,
          count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3_medium,
          count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4_none,
          count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5_low
        FROM orders GROUP BY o_orderstatus""")),

    // --- native kernels through the SQL entry point: registered functions in
    // spark.sql match DuckDB's vector primitives bit-for-bit ---
    Q("q53_sql_native_kernels",
      (s, dir) => {
        graft.functions.Native.registerAll(s)
        t(s, dir, "embeddings").createOrReplaceTempView("emb_sql")
        s.sql("""SELECT vec_id,
            graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) AS self_dot,
            graft_cosine(embedding, embedding) AS self_cos
          FROM emb_sql WHERE vec_id < 100""")
      },
      Some("""SELECT vec_id,
          list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot,
          list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) /
            (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS self_cos
        FROM embeddings WHERE vec_id < 100"""))
  )

  private val analyticQueries: Seq[Q] = Seq(
    // --- ROLLUP hierarchical aggregation (free in Spark; absent in reference) ---
    Q("q54_rollup",
      (s, dir) => t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total")),
      Some(s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n, ${sqlDsum("o_totalprice")} AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    // --- analytic window functions: lag / lead / running totals / ntile ---
    Q("q55_order_analytics",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(run).cast("double").as("running_total"),
          row_number().over(w).as("order_seq"),
          ntile(4).over(w).as("quartile"),
          // o_orderdate is TIMESTAMP_NTZ: route through TIMESTAMP (UTC session) for epoch
          (col("o_orderdate").cast("timestamp").cast("long")
            - lag(col("o_orderdate").cast("timestamp").cast("long"), 1).over(w))
            .as("secs_since_prev"))
      },
      Some("""SELECT o_custkey, o_orderkey,
          lag(o_totalprice) OVER w AS prev_price,
          lead(o_totalprice) OVER w AS next_price,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
          CAST(row_number() OVER w AS INT) AS order_seq,
          CAST(ntile(4) OVER w AS INT) AS quartile,
          epoch_us(o_orderdate) // 1000000 - lag(epoch_us(o_orderdate) // 1000000) OVER w AS secs_since_prev
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""))
  )

  private val storeQueries: Seq[Q] = Seq(
    // --- between-dates read through the ViewStore (all_between_dates) ---
    Q("q56_between_dates",
      (s, dir) => {
        val v = FeatureView("ev_between",
          graft.sources.TransformSource(ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir)),
          entities = Seq(Feature("event_id", FInt64)),
          features = Seq(Feature("user_id", FInt64), Feature("event_type", FString),
            Feature("value", FFloat64)),
          eventTimestamp = Some(EventTimestamp("ts")))
        new ContractStore().addView(v).view("ev_between")
          .between(s, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
            java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      },
      Some(s"""SELECT event_type, count(*) AS n, ${sqlDsum("value")} AS total
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
          AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type""")),

    // --- combined view: multi-view PIT + cross-view derived feature ---
    Q("q57_combined_view",
      (s, dir) => {
        val clicks = FeatureView("cv_clicks",
          graft.sources.TransformSource(ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir).filter(col("event_type") === "click")),
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("value", FFloat64)),
          aggregates = Seq(AggregatedFeature("n_clicks", FInt64, AggFunc.Count, "value",
            Some(AggregationWindow(java.time.Duration.ofDays(1))))),
          eventTimestamp = Some(EventTimestamp("ts")))
        val views = FeatureView("cv_views",
          graft.sources.TransformSource(ParquetSource(s"$dir/events.parquet"),
            _ => events(s, dir).filter(col("event_type") === "view")
              .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))),
          entities = Seq(Feature("user_id", FInt64)),
          features = Seq(Feature("view_value", FFloat64)),
          eventTimestamp = Some(EventTimestamp("ts")))
        val store = new ContractStore().addView(clicks).addView(views)
        val facts = purchases(s, dir)
          .select(col("event_id"), col("user_id"), col("ts").as("event_timestamp"))
        store.combinedFeaturesFor(s, facts,
          Seq("cv_clicks:n_clicks", "cv_views:view_value"),
          Seq(DerivedFeature("clicks_x_view", FFloat64,
            Binary("mul", Ref("n_clicks"), FillNa(Ref("view_value"), 0.0)),
            Seq("n_clicks", "view_value"))))
          .select("event_id", "user_id", "n_clicks", "view_value", "clicks_x_view")
      },
      Some(s"""WITH $sqlPurchaseClickCtes,
          v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS view_value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          agg AS (SELECT p.event_id, count(c.value) AS n_clicks
            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 1 DAY
            GROUP BY p.event_id),
          lastv AS (SELECT p.event_id, v.view_value
            FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
            QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC NULLS LAST) = 1)
        SELECT p.event_id, p.user_id, agg.n_clicks, lastv.view_value,
          agg.n_clicks * coalesce(lastv.view_value, 0.0) AS clicks_x_view
        FROM p JOIN agg USING (event_id) JOIN lastv USING (event_id)""")),

    // --- CUBE aggregation (free in Spark, like ROLLUP q54) ---
    Q("q58_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("qty")),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
          coalesce(l_linestatus, 'ALL') AS lstatus,
          count(*) AS n, ${sqlDsum("l_quantity")} AS qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // --- skew-salted join (Joins.saltedJoin): results equal the plain join ---
    Q("q59_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"), col("l_extendedprice"))
        val ord = t(s, dir, "orders").select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        Joins.saltedJoin(li, ord, Seq("okey"), "inner", salt = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n, ${sqlDsum("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority"""))
  )

  // ---------- round 2: corpus-pipeline ops (decontamination, sampling,
  // LM counts, binning, repetition signals, oracle-checked LSH) ----------

  /** [[Dedup.connectedComponents]] restated for the DuckDB oracle over an
    * undirected edge relation `edges(id_a, id_b)`: `sym` holds both
    * directions and `reach` is its recursive transitive closure (the
    * statement needs `WITH RECURSIVE`). */
  private def sqlReachCtes(edges: String): String =
    s"""sym AS (SELECT id_a AS a, id_b AS b FROM $edges
            UNION SELECT id_b, id_a FROM $edges),
          reach AS (SELECT a, b FROM sym
            UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)"""

  /** each node of `reach` with the smallest id it reaches: `(id, comp)` */
  private def sqlComponents: String = "SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a"

  /** [[sqlReachCtes]] plus an `out(id, comp)` CTE of [[sqlComponents]]. */
  private def sqlClosureCtes(edges: String, out: String): String =
    s"""${sqlReachCtes(edges)},
          $out AS ($sqlComponents)"""

  /** Gopher's word/line split (q152) over `from`: `ws` holds the
    * lower-cased whitespace words, `ls` the trimmed non-empty lines. */
  private def sqlGopherSplit(cols: String, from: String = "documents"): String =
    s"""SELECT $cols, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS ws,
            list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
              l -> length(l) > 0) AS ls
            FROM $from"""

  /** Gopher's per-doc counts (q152) over a [[sqlGopherSplit]] relation;
    * `stopHits` adds the English-stopword count that rule 64 reads. */
  private def sqlGopherMetrics(from: String, stopHits: Boolean = false): String = {
    val stop = if (!stopHits) "" else """,
              CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
                sw -> list_contains(ws, sw))) AS BIGINT) AS stop_hits"""
    s"""SELECT doc_id,
              CAST(len(ws) AS BIGINT) AS n_words,
              CAST(len(ls) AS BIGINT) AS n_lines,
              CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_len,
              CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_cnt,
              CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS dots_cnt,
              CAST(len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* ')
                OR starts_with(l, '• '))) AS BIGINT) AS bullet_cnt,
              CAST(len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…')))
                AS BIGINT) AS ellipsis_cnt,
              CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_cnt$stop
            FROM $from"""
  }

  /** Ids of the [[sqlGopherMetrics]] CTE `m` that pass Gopher rules 1-32
    * (the recipe gate: minWords 20, the stopword rule masked out). */
  private def sqlGopherGate(): String =
    s"""SELECT doc_id FROM (SELECT doc_id,
              CASE WHEN n_words < 20 OR n_words > 100000 THEN 1 ELSE 0 END
              + CASE WHEN n_words = 0 OR CAST(sum_len AS DOUBLE) / n_words < 3.0
                  OR CAST(sum_len AS DOUBLE) / n_words > 10.0 THEN 2 ELSE 0 END
              + CASE WHEN n_words > 0
                  AND CAST(hash_cnt + dots_cnt AS DOUBLE) / n_words >= 0.1 THEN 4 ELSE 0 END
              + CASE WHEN n_lines > 0
                  AND CAST(bullet_cnt AS DOUBLE) / n_lines >= 0.9 THEN 8 ELSE 0 END
              + CASE WHEN n_lines > 0
                  AND CAST(ellipsis_cnt AS DOUBLE) / n_lines >= 0.3 THEN 16 ELSE 0 END
              + CASE WHEN n_words = 0
                  OR CAST(alpha_cnt AS DOUBLE) / n_words < 0.8 THEN 32 ELSE 0 END AS mask
            FROM m) WHERE (mask & 63) = 0"""

  /** DSIR's hashed-unigram bucket stats toward the lang='en' target
    * (q151): `tok` explodes the `ws` words of `docs`, `tb` hashes each word
    * into one of 4096 md5 buckets and `bs` scores each bucket by its
    * add-one target ratio, scaled to an integer. */
  private def sqlDsirBucketCtes(docs: String, tok: String = "tok"): String =
    s"""$tok AS (SELECT doc_id, lang = 'en' AS tgt, unnest(ws) AS w FROM $docs),
          tb AS (SELECT doc_id, tgt,
              CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 4096 AS b FROM $tok),
          bs AS (SELECT b,
              ((count(CASE WHEN tgt THEN 1 END) + 1) * 1000000) // (count(*) + 1) AS sc
            FROM tb GROUP BY b)"""

  /** q151's DSIR scoring over the whole corpus: `r(doc_id, dsir_score,
    * rn, total)` ranks every document by its summed bucket score, highest
    * first, ties by id. */
  private def sqlDsirRankCtes: String =
    s"""d AS (SELECT doc_id, lang, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          ${sqlDsirBucketCtes("d")},
          ds AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS dsir_score
            FROM tb JOIN bs USING (b) GROUP BY doc_id),
          al AS (SELECT d.doc_id, CAST(coalesce(ds.dsir_score, 0) AS BIGINT) AS dsir_score
            FROM d LEFT JOIN ds ON ds.doc_id = d.doc_id),
          r AS (SELECT doc_id, dsir_score,
              row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rn,
              count(*) OVER () AS total FROM al)"""

  /** The recipe's threshold-DSIR stage (q151b's cut at 50%) over `docs`,
    * ending in `sel(doc_id)`: the docs whose summed bucket score reaches
    * the score of the last doc in the top half. `materialize` pins `al`
    * and `sel` for statements that read them again. */
  private def sqlDsirSelectCtes(docs: String, tok: String = "tok",
      materialize: Boolean = false): String = {
    val m = if (materialize) " MATERIALIZED" else ""
    s"""${sqlDsirBucketCtes(docs, tok)},
          dsc AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score
            FROM tb JOIN bs USING (b) GROUP BY doc_id),
          al AS$m (SELECT $docs.doc_id, CAST(coalesce(score, 0) AS BIGINT) AS score
            FROM $docs LEFT JOIN dsc USING (doc_id)),
          rk AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
              count(*) OVER () AS total FROM al),
          thr AS (SELECT min(score) AS thr FROM rk
            WHERE rn <= (total * 50 + 99) // 100),
          sel AS$m (SELECT doc_id FROM al WHERE score >= (SELECT thr FROM thr))"""
  }

  /** Keep-best canonicalization over `comp(doc_id, component, n_tok)`:
    * each component's longest doc, lowest id on ties. */
  private def sqlKeepBest: String =
    """SELECT doc_id, component FROM (SELECT doc_id, component,
              row_number() OVER (PARTITION BY component
                ORDER BY n_tok DESC, doc_id ASC) AS rn FROM comp) WHERE rn = 1"""

  /** The leakage-safe split router (q163): a component's md5 coin sends
    * 80% of components to 'train', the rest to 'test'. */
  private def sqlComponentSplit(component: String): String =
    s"""CASE WHEN CAST(concat('0x', substr(md5(CAST($component AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 < 80 THEN 'train' ELSE 'test' END"""

  /** The static hourly per-event-type aggregate that the streaming
    * window-store gates (q165, q212, q212b) must reproduce. */
  private def sqlHourlyEventAgg: String =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
            AS window_start,
          event_type, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2"""

  /** `r` after a registry JSON round trip, so the recipe gates execute
    * what serialization preserved. */
  private def recipeRoundTrip(r: graft.contract.CurationRecipe): graft.contract.CurationRecipe = {
    import graft.contract.ContractJson.{recipeFromValue, recipeToJson}
    recipeFromValue(graft.expr.JsonValue.parseObject(recipeToJson(r)))
  }

  /** The file-store round-trip gates' rows: documents' doc_id, lang,
    * source and n_chars. */
  private def storeDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")

  /** A store's read back in [[storeDocs]]' columns, n_chars as a long
    * whatever type the file format inferred. */
  private def storeDocsOut(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), col("source"), col("n_chars").cast("long").as("n_chars"))

  /** The 2×2 PCA of the first two embedding dims (q240) up to its one
    * Jacobi rotation: `q` holds each row's dims, `ev` the rotated
    * diagonal `f00`/`f11` beside the rotation's `cc`/`ss` and the means. */
  private def sqlPcaRotationCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        q AS (SELECT vec_id, v[1] AS x1, v[2] AS x2,
            CAST(floor(v[1]*1048576.0) AS BIGINT) AS q1,
            CAST(floor(v[2]*1048576.0) AS BIGINT) AS q2 FROM e),
        m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(q1) AS BIGINT) AS s1, CAST(sum(q2) AS BIGINT) AS s2,
            CAST(sum(q1*q1) AS BIGINT) AS s11, CAST(sum(q1*q2) AS BIGINT) AS s12,
            CAST(sum(q2*q2) AS BIGINT) AS s22 FROM q),
        c AS (SELECT n,
            (CAST(s11 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))/1099511627776.0 AS c00,
            (CAST(s12 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n))/1099511627776.0 AS c01,
            (CAST(s22 AS DOUBLE)/n - (CAST(s2 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n))/1099511627776.0 AS c11,
            CAST(s1 AS DOUBLE)/n/1048576.0 AS m1,
            CAST(s2 AS DOUBLE)/n/1048576.0 AS m2 FROM m),
        r AS (SELECT *, (c11 - c00)/(2.0*c01) AS theta FROM c),
        t1 AS (SELECT *, CASE WHEN theta = 0.0 THEN 1.0 ELSE
            (CASE WHEN theta > 0.0 THEN 1.0 ELSE -1.0 END)
              / (abs(theta) + sqrt(theta*theta + 1.0)) END AS t FROM r),
        cs AS (SELECT *, 1.0/sqrt(t*t + 1.0) AS cc FROM t1),
        cs2 AS (SELECT *, t*cc AS ss FROM cs),
        rot AS (SELECT *,
            cc*c00 - ss*c01 AS b00, ss*c00 + cc*c01 AS b01,
            cc*c01 - ss*c11 AS b10, ss*c01 + cc*c11 AS b11 FROM cs2),
        ev AS (SELECT *, cc*b00 - ss*b10 AS f00, ss*b01 + cc*b11 AS f11 FROM rot)"""

  /** Clicks left-outer joined by the streaming runtime to the same
    * user's purchases within the next hour (q187, q187b). */
  private def clickConversionOuter(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.stagedOuterIntervalJoinRun(
      s, events(s, dir).select("ts", "user_id", "event_type", "event_id"),
      tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
      leftPred = "event_type = 'click'",
      rightPred = "event_type = 'purchase'", after = "1 hour")

  /** [[clickConversionOuter]] as a static LEFT JOIN: -1 marks a click
    * with no conversion. */
  private def sqlClickConversionOuter: String =
    """SELECT a.user_id, a.event_id AS a_id,
          coalesce(b.event_id, -1) AS b_id_key,
          epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS lag_us
        FROM events a LEFT JOIN events b ON a.user_id = b.user_id
          AND b.event_type = 'purchase'
          AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
          AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        WHERE a.event_type = 'click'"""

  /** Every event delivered twice, collapsed on event_id by the streaming
    * dedup (q176, q176b). */
  private def doubleDeliveryDedup(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select("ts", "user_id", "event_type", "value", "event_id")
    graft.streaming.Streaming.stagedDedupRun(s, e.unionAll(e), "ts", Seq("event_id"))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** [[doubleDeliveryDedup]]'s expected store: the events table itself. */
  private def sqlEventsById: String =
    """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
          user_id, event_type, value FROM events"""

  /** q188's contaminated runs: `g` holds each doc's word 3-gram hashes by
    * position, `bench` the grams of the eval docs (doc_id % 97 = 0), and
    * `m(doc_id, pos, grp)` each corpus doc's matching positions, with
    * consecutive positions sharing one `grp`. */
  private def sqlContaminationRunCtes: String =
    s"""w AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              xf -> length(xf) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos FROM w),
          g AS (SELECT doc_id, pos, CAST(concat('0x',
              substr(md5(array_to_string(ws[pos:pos+2], ' ')), 1, 14)) AS BIGINT)
                % ${Dedup.PortableP} AS h
            FROM g0),
          bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
          m AS (SELECT g.doc_id, g.pos,
              g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
            FROM g JOIN bench USING (h) WHERE g.doc_id % 97 <> 0)"""

  /** The token prefix sum of [[graft.ml.MLOps.tokenShards]] (q117):
    * `o(doc_id, n_tok, pre)`, with `pre` the tokens of every doc before
    * this one in md5 order. */
  private def sqlTokenPrefixCtes: String =
    """t AS (SELECT doc_id,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n_tok,
            CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % 1000000 AS u
          FROM documents),
          o AS (SELECT doc_id, n_tok,
            coalesce(sum(n_tok) OVER (ORDER BY u, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
          FROM t)"""

  /** [[TextAnalysis.langIdDeterministic]]'s per-language scores over a
    * lower-cased text column `t`: `zh` is 100 when any CJK character
    * occurs, and en/es/de/fr count whole-word stopword hits. */
  private def sqlLangScores: String = {
    def hits(words: Seq[String]) =
      words.map(w => s"CAST(regexp_matches(t, '(^|\\s)$w(\\s|$$)') AS INT)").mkString(" + ")
    val en = hits(Seq("the", "and", "of", "to", "is", "that", "with", "for"))
    val es = hits(Seq("el", "la", "los", "las", "es", "una", "que", "por", "con"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"))
    val fr = hits(Seq("le", "les", "est", "et", "une", "dans", "pour", "des"))
    s"""CASE WHEN regexp_matches(t, '[\\x{4e00}-\\x{9fff}]') THEN 100 ELSE 0 END AS zh,
            $en AS en, $es AS es, $de AS de, $fr AS fr"""
  }

  /** The language [[sqlLangScores]] picks, as column `out`: the highest
    * positive score, ties going to the earlier of zh, en, es, de, fr. */
  private def sqlLangPick(out: String): String =
    s"""CASE WHEN zh > 0 AND zh >= greatest(en, es, de, fr) THEN 'zh'
            WHEN en > 0 AND en >= greatest(es, de, fr) THEN 'en'
            WHEN es > 0 AND es >= greatest(de, fr) THEN 'es'
            WHEN de > 0 AND de >= fr THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'unknown' END AS $out"""

  /** `w(doc_id, w)`: the lower-cased whitespace words of `from`'s text,
    * the tokenization every shingle oracle starts from. */
  private def sqlWordsCte(from: String = "documents"): String =
    s"""w AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0) AS w
            FROM $from)"""

  /** [[sqlWordsCte]] plus `g(doc_id, gs)`: each doc's distinct word
    * `k`-shingles as portable 56-bit md5 hashes mod [[Dedup.PortableP]]. */
  private def sqlShingleHashCtes(k: Int): String =
    s"""${sqlWordsCte()},
          g AS (SELECT doc_id, list_distinct([CAST(concat('0x',
                substr(md5(array_to_string(w[i:i+${k - 1}], ' ')), 1, 14)) AS BIGINT) % ${Dedup.PortableP}
              for i in generate_series(1, greatest(len(w)-${k - 1}, 0))]) AS gs
            FROM w)"""

  /** q67's portable hash family restated for the DuckDB oracle as a CTE
    * chain ending in `pairs(id_a, id_b, jaccard)`: must stay in lockstep
    * with [[Dedup.portableCoeffs]] / [[Dedup.PortableP]]. Shared by q67
    * (pairs), q69/q123/q132 (connected components over the pairs) and q60
    * (canonicalize, at its own threshold). */
  private def minhashCtes(threshold: Double = 0.5, bands: Int = 4, k: Int = 3,
      from: String = "documents"): String = {
    val p = Dedup.PortableP
    val n = Dedup.portableCoeffs.size
    require(n % bands == 0, s"bands=$bands must divide $n coefficients")
    val rpb = n / bands
    val sigExprs = Dedup.portableCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(h, x -> ($a * x + $b) % $p)) AS s$i"
    }.mkString(",\n            ")
    val bandSelects = (0 until bands).map { j =>
      val cols = (0 until rpb).map(r => s"CAST(s${j * rpb + r} AS VARCHAR)").mkString(", ", ", ", "")
      s"SELECT doc_id, $j AS band, concat_ws('_'$cols) AS bucket FROM sigs"
    }.mkString("\n          UNION ALL ")
    s"""${sqlWordsCte(from)},
        g AS (SELECT doc_id, [array_to_string(w[i:i+${k - 1}], ' ')
            for i in generate_series(1, greatest(len(w)-${k - 1}, 0))] AS grams FROM w),
        h AS (SELECT doc_id, list_transform(grams,
            s -> CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % $p) AS h
          FROM g WHERE len(grams) > 0),
        sigs AS (SELECT doc_id,
            $sigExprs
          FROM h),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
            AND a.doc_id < b.doc_id),
        sets AS (SELECT doc_id, list_distinct(grams) AS s FROM g),
        pairs AS (SELECT id_a, id_b,
            CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
          FROM cand JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= $threshold)"""
  }

  private def sqlMinhashOracle(threshold: Double = 0.5, bands: Int = 4, k: Int = 3): String =
    s"WITH ${minhashCtes(threshold, bands, k)} SELECT id_a, id_b, jaccard FROM pairs"

  /** Shared oracle of the estimate-only near-dup algebra (q157 batch form,
    * q172 genuine streaming run): banded LSH candidates from [[minhashCtes]]'
    * sigs+cand CTEs, the signature-AGREEMENT estimator restated as integer
    * coordinate agreement / numHashes, NO exact-verify join. */
  private def sqlNearDupEstimateOracle(threshold: Double, bands: Int = 4,
      k: Int = 3): String = {
    val nH = Dedup.portableCoeffs.size
    val matches = (0 until nH).map(i =>
      s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString("\n            + ")
    s"""WITH ${minhashCtes(threshold, bands, k)}
        SELECT id_a, id_b, CAST(($matches) AS DOUBLE) / $nH AS est_jaccard
        FROM cand JOIN sigs sa ON sa.doc_id = id_a
          JOIN sigs sb ON sb.doc_id = id_b
        WHERE CAST(($matches) AS DOUBLE) / $nH >= $threshold"""
  }

  /** [[graft.functions.Native.VecCosine]] restated in DuckDB: sequential
    * dot / (sqrt(Σa²)·sqrt(Σb²)), 0.0 on a zero denominator. Both engines
    * accumulate left-to-right over identical doubles, so the result is
    * bit-identical (proven by q30's hash match). */
  private def sqlCos(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)) = 0
        THEN 0.0 ELSE list_inner_product($a, $b)
          / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))) END"""

  /** VALUES rows `(id, [v0, v1, ...])` for a plan-time centroid matrix —
    * the SAME literals the Spark plan bakes into
    * [[graft.functions.Native.nearestCentroids]]. */
  private def sqlCentroidValues(ids: Seq[Int], mat: Seq[Seq[Double]]): String =
    ids.zip(mat).map { case (id, v) => s"($id, ${v.mkString("[", ", ", "]")})" }
      .mkString(",\n            ")

  /** Shared CTE chain for the portable-centroid ANN oracles (q32/q86/q91):
    * embeddings cast to double, cross-scored against the literal centroid
    * matrix, ranked per vector by [[sqlCos]] DESC with ties to the lowest
    * centroid id — exactly [[graft.functions.Native.NearestCentroids]].
    * Ends with `sims(vec_id, v, cid, rn)`. */
  private def sqlCentroidSims(nlist: Int, dim: Int): String = {
    val cents = sqlCentroidValues(1 to nlist, Dedup.portablePlanes(nlist, dim))
    s"""cents(cid, cv) AS (VALUES $cents),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sims AS (SELECT e.vec_id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.cid) AS rn
          FROM e, cents c)"""
  }

  /** q32's portable-IVF oracle: coarse argmax assignment, nprobe probing,
    * inverted-list equi-join, exact cosine, per-query rank — every stage
    * restating the literals [[graft.ops.Similarity.ivfTopKPortable]] bakes
    * into the Spark plan. */
  private def sqlIvfPortableOracle(k: Int, nlist: Int, nprobe: Int, dim: Int,
      queryPred: String): String =
    s"""WITH ${sqlCentroidSims(nlist, dim)},
        asg AS (SELECT vec_id, v, cid AS centroid_id FROM sims WHERE rn = 1),
        probe AS (SELECT vec_id, v, cid AS centroid_id FROM sims
          WHERE $queryPred AND rn <= $nprobe),
        scored AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
            ${sqlCos("p.v", "a.v")} AS cosine
          FROM probe p JOIN asg a ON a.centroid_id = p.centroid_id
            AND a.vec_id <> p.vec_id)
      SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored QUALIFY rank <= $k"""

  /** q86's portable IVF-PQ oracle: the coarse stage of
    * [[sqlIvfPortableOracle]] plus the PQ fine stage — per-subspace code
    * argmax against the literal codebooks, reconstruction by ordered
    * codebook lookup, ADC cosine, top-`rerankDepth` candidates, exact
    * re-rank on raw vectors. Mirrors
    * [[graft.ops.Similarity.ivfpqTopKPortable]] literal for literal. */
  private def sqlIvfpqPortableOracle(k: Int, nlist: Int, nprobe: Int,
      dim: Int, m: Int, kpq: Int, rerankDepth: Int, queryPred: String): String = {
    val sub = dim / m
    val cbRows = graft.ops.Similarity.portablePqCodebooks(dim, m, kpq)
      .zipWithIndex.flatMap { case (cb, s) =>
        cb.map { case (code, v) => s"($s, $code, ${v.mkString("[", ", ", "]")})" }
      }.mkString(",\n            ")
    s"""WITH ${sqlCentroidSims(nlist, dim)},
        cb(s, code, cv) AS (VALUES $cbRows),
        asg AS (SELECT vec_id, v, cid AS centroid_id FROM sims WHERE rn = 1),
        probe AS (SELECT vec_id, v, cid AS centroid_id FROM sims
          WHERE $queryPred AND rn <= $nprobe),
        codes AS (SELECT vec_id, s, code FROM (
            SELECT e.vec_id, cb.s, cb.code,
              row_number() OVER (PARTITION BY e.vec_id, cb.s
                ORDER BY ${sqlCos(s"e.v[cb.s * $sub + 1 : cb.s * $sub + $sub]", "cb.cv")} DESC,
                  cb.code) AS rn
            FROM e, cb) WHERE rn = 1),
        recon AS (SELECT codes.vec_id, flatten(list(cb.cv ORDER BY cb.s)) AS pv
          FROM codes JOIN cb ON cb.s = codes.s AND cb.code = codes.code
          GROUP BY codes.vec_id),
        adc AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, p.v AS qv,
            ${sqlCos("p.v", "r.pv")} AS adc_cosine
          FROM probe p JOIN asg a ON a.centroid_id = p.centroid_id
            AND a.vec_id <> p.vec_id
          JOIN recon r ON r.vec_id = a.vec_id),
        cand AS (SELECT query_id, neighbor_id, qv FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_cosine DESC, neighbor_id) AS rn FROM adc)
          WHERE rn <= ${math.max(k, rerankDepth)}),
        exact AS (SELECT c.query_id, c.neighbor_id, ${sqlCos("c.qv", "e.v")} AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM exact QUALIFY rank <= $k"""
  }

  /** q91's portable semantic-dedup oracle: portable-centroid cluster
    * assignment, within-cluster cosine-threshold pairs, lowest-id-wins —
    * [[graft.ops.Dedup.semanticDedupPortable]] restated. */
  private def sqlSemanticDedupOracle(nlist: Int, threshold: Double, dim: Int): String =
    s"""WITH ${sqlCentroidSims(nlist, dim)},
        asg AS (SELECT vec_id, v, cid AS cluster_id FROM sims WHERE rn = 1),
        dup AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${sqlCos("a.v", "b.v")} >= $threshold)
      SELECT a.vec_id, a.cluster_id FROM asg a JOIN dup USING (vec_id)"""

  /** q68's portable hyperplane-LSH oracle: the SAME plane literals the Spark
    * plan bakes in ([[Dedup.portablePlanes]]), restated in SQL. */
  private def sqlEmbeddingNearDupOracle(threshold: Double, planes: Int, dim: Int): String = {
    val mat = Dedup.portablePlanes(planes, dim)
    val bucketExpr = mat.zipWithIndex.map { case (plane, p) =>
      val lits = plane.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(v, $lits) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n            + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v,
            $bucketExpr AS bucket
          FROM e)
      SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_inner_product(a.v, b.v) /
            (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cosine
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cosine >= $threshold"""
  }

  /** DuckDB restatement of [[Dedup.semanticDecontaminate]]: the salted
    * per-band plane matrices enter as the SAME plan-time literals, the
    * OR of band-bucket equalities IS the candidate dedup, and the worst
    * match joins back on exact max cosine (min bench id under ties). */
  private def sqlSemanticDecontamOracle(threshold: Double, bands: Int,
      planesPerBand: Int, dim: Int): String = {
    val bandCols = (0 until bands).map { b =>
      val mat = Dedup.portablePlanesSalt(s"sdc$b", planesPerBand, dim)
      val expr = mat.zipWithIndex.map { case (plane, p) =>
        val lits = plane.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $lits) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n            + ")
      s"$expr AS b$b"
    }.mkString(",\n          ")
    val orMatch = (0 until bands).map(b => s"c.b$b = b.b$b").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v,
          $bandCols
          FROM e),
        hits AS (SELECT c.vec_id AS doc_id, b.vec_id AS bench_id,
            list_inner_product(c.v, b.v) /
              (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(b.v, b.v)))
              AS cosine
          FROM sig c JOIN sig b ON ($orMatch)
          WHERE c.vec_id % 97 <> 0 AND b.vec_id % 97 = 0),
        hv AS (SELECT * FROM hits WHERE cosine >= $threshold),
        agg AS (SELECT doc_id, count(*) AS n_bench_hits, max(cosine) AS max_cosine
          FROM hv GROUP BY 1),
        worst AS (SELECT hv.doc_id, CAST(min(bench_id) AS BIGINT) AS worst_bench_id
          FROM hv JOIN agg USING (doc_id) WHERE hv.cosine = agg.max_cosine
          GROUP BY hv.doc_id)
      SELECT agg.doc_id AS vec_id, n_bench_hits, max_cosine, worst_bench_id
      FROM agg JOIN worst USING (doc_id)"""
  }

  /** DuckDB restatement of [[graft.ml.MLOps.bootstrapMeanCI]] on
    * documents(source, n_chars): the SAME integer Poisson thresholds via
    * [[graft.functions.Portable.sqlPoissonCount]], exact long resample
    * sums, the same (mean, b) rank order and ceil-index CI picks. */
  private def sqlBootstrapCiOracle(b: Int, tailMilli: Int): String = {
    val pc = graft.functions.Portable.sqlPoissonCount(
      "CAST('0x'||substr(md5(k||':'||CAST(b AS VARCHAR)),1,8) AS BIGINT)")
    s"""WITH base AS (SELECT source, n_chars AS x, CAST(doc_id AS VARCHAR) AS k FROM documents),
        wide AS (SELECT source, x, k, t.b AS b FROM base, generate_series(0, ${b - 1}) t(b)),
        cnt AS (SELECT source, x, b, $pc AS c FROM wide),
        perb AS (SELECT source, b, sum(c*x) AS swx, sum(c) AS sw FROM cnt GROUP BY 1, 2),
        means AS (SELECT source, b, CAST(swx AS DOUBLE)/CAST(sw AS DOUBLE) AS m
          FROM perb WHERE sw > 0),
        ranked AS (SELECT source, m,
            row_number() OVER (PARTITION BY source ORDER BY m, b) AS rn,
            count(*) OVER (PARTITION BY source) AS bk FROM means),
        ci AS (SELECT source,
            max(CASE WHEN rn = (bk*$tailMilli+999)//1000 THEN m END) AS ci_lo,
            max(CASE WHEN rn = bk - (bk*$tailMilli+999)//1000 + 1 THEN m END) AS ci_hi,
            CAST(max(bk) AS BIGINT) AS b_kept FROM ranked GROUP BY 1),
        tot AS (SELECT source, count(*) AS n_rows,
            CAST(sum(x) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS mean_x
          FROM base GROUP BY 1)
      SELECT tot.source, n_rows, mean_x, ci_lo, ci_hi, b_kept
      FROM tot LEFT JOIN ci USING (source)"""
  }

  /** DuckDB restatement of [[graft.ops.Similarity.groupFrechetDiag]]:
    * integer-nano moment sums, identical IEEE pair-term tree, exact
    * integer Σ over dimensions. */
  private def sqlFrechetOracle: String =
    """WITH s AS (SELECT label AS g,
            unnest(generate_series(1, len(embedding))) AS pos,
            unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings),
        st AS (SELECT g, pos, count(*) AS n,
            sum(CAST(round(x * 1000000000.0) AS BIGINT)) AS sx,
            sum(CAST(round(x * x * 1000000000.0) AS BIGINT)) AS sxx
          FROM s GROUP BY 1, 2),
        mv AS (SELECT g, pos, n,
            CAST(sx AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE)) AS mu,
            CAST(sxx AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE)) AS ex2
          FROM st),
        v AS (SELECT g, pos, n, mu, greatest(ex2 - mu * mu, 0.0) AS vr FROM mv),
        pair AS (SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
            CAST(round((((a.mu - b.mu) * (a.mu - b.mu) + (a.vr + b.vr))
              - 2.0 * sqrt(a.vr * b.vr)) * 1000000000.0) AS BIGINT) AS term
          FROM v a JOIN v b ON a.pos = b.pos AND a.g < b.g)
      SELECT group_a, group_b, CAST(max(n_a) AS BIGINT) AS n_a,
        CAST(max(n_b) AS BIGINT) AS n_b,
        CAST(sum(term) AS DOUBLE) / 1000000000.0 AS frechet_diag
      FROM pair GROUP BY 1, 2"""

  /** DuckDB restatement of [[graft.ops.TextAnalysis.zipfSlope]]: the same
    * polynomial fixed-point log2 ([[graft.functions.Portable.sqlLog2Micro]]),
    * exact integer OLS sums, the same double divisions. */
  private def sqlZipfOracle(topN: Int): String = {
    val x = graft.functions.Portable.sqlLog2Micro("r")
    val y = graft.functions.Portable.sqlLog2Micro("f")
    s"""WITH w AS (SELECT source AS grp, list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0) AS w FROM documents),
        tok AS (SELECT grp, unnest(w) AS word FROM w),
        freq AS (SELECT grp, word, count(*) AS f FROM tok GROUP BY 1, 2),
        ranked AS (SELECT grp, f,
            row_number() OVER (PARTITION BY grp ORDER BY f DESC, word) AS r FROM freq),
        xy AS (SELECT grp, $x AS x, $y AS y FROM ranked WHERE r <= $topN),
        s AS (SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
            sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM xy GROUP BY 1)
      SELECT grp, CAST(n AS BIGINT) AS n_terms,
        CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS zipf_slope,
        (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
          / (CAST(n*sxx - sx*sx AS DOUBLE)
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
      FROM s WHERE n >= 2"""
  }

  private val pipelineQueries3: Seq[Q] = Seq(
    // --- test-set decontamination: corpus docs sharing any word 3-gram with
    // the benchmark slice (docs with doc_id % 97 == 0). 13-grams in the
    // GPT-3/PaLM recipe; 3 here because the synthetic docs are ~60 words of
    // a tiny vocabulary. Gram keys are md5-derived 8-byte hashes, benchmark
    // side distinct-reduced + broadcast — the corpus never shuffles
    // (TextAnalysis.decontaminate scaladoc) ---
    Q("q62_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3)
      },
      Some(s"""WITH ${sqlShingleHashCtes(3)},
          bench AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 97 = 0),
          corpus AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % 97 <> 0)
        SELECT corpus.doc_id, count(*) AS n_shared
        FROM corpus JOIN bench USING (h) GROUP BY corpus.doc_id""")),

    // --- deterministic stratified sampling: per-source keep rates via the
    // auditable md5 router; pure narrow filter, reproducible in any engine ---
    Q("q63_sample_stratified",
      (s, dir) => graft.ml.MLOps.stratifiedSampleHash(
        t(s, dir, "documents"), "doc_id", "source",
        Map("src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "source", "lang", "n_chars"),
      Some("""SELECT doc_id, source, lang, n_chars FROM documents
        WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000
          < CASE source WHEN 'src1' THEN 500000 WHEN 'src2' THEN 250000 ELSE 100000 END""")),

    // --- bigram LM count table: n-gram count + conditional probability given
    // the prefix — top 100 by count (deterministic tiebreak on the gram) ---
    Q("q64_bigram_lm",
      (s, dir) => TextAnalysis.ngramLmCounts(t(s, dir, "documents"), "text", n = 2)
        .orderBy(col("n_gram").desc, col("gram").asc)
        .limit(100),
      Some("""WITH w AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w FROM documents),
          g AS (SELECT unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS gram FROM w),
          gc AS (SELECT gram, count(*) AS n_gram FROM g GROUP BY gram),
          pc AS (SELECT split_part(gram, ' ', 1) AS prefix, sum(n_gram) AS n_prefix
            FROM gc GROUP BY 1)
        SELECT gram, n_gram, CAST(n_gram AS DOUBLE) / CAST(n_prefix AS DOUBLE) AS p_cond
        FROM gc JOIN pc ON split_part(gc.gram, ' ', 1) = pc.prefix
        ORDER BY n_gram DESC, gram LIMIT 100""")),

    // --- quantile binning (feature bucketization): per-flag quartile cut
    // points from the exact-percentile histogram, rows assigned by cut
    // comparison (order-independent, ties deterministic) — the cut table is a
    // 3-row broadcast, so binning adds NO shuffle over the fact scan ---
    Q("q65_quantile_bins",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // histogram path — measured faster than exactPercentilesBracketed at
        // sf0.1 (1.2-1.6 s vs ~1.9 s warm: 600k rows is small enough that
        // the bracketed plan's extra passes cost more than the per-key
        // window saves). The bracketed variant is the documented scale path
        // once per-key distinct counts dwarf executor memory; both are
        // equivalence-tested (BracketedPercentileSpec)
        val cuts = Aggregations.exactPercentiles(li, Seq("l_returnflag"), "l_extendedprice",
          Seq(0.25, 0.5, 0.75), Seq("c1", "c2", "c3"))
        li.join(broadcast(cuts), Seq("l_returnflag"))
          .withColumn("bin",
            (col("l_extendedprice") > col("c1")).cast("int")
              + (col("l_extendedprice") > col("c2")).cast("int")
              + (col("l_extendedprice") > col("c3")).cast("int"))
          .groupBy("l_returnflag", "bin")
          .agg(count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"),
            dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some(s"""WITH cuts AS (SELECT l_returnflag,
            quantile_cont(l_extendedprice, 0.25) AS c1,
            quantile_cont(l_extendedprice, 0.5) AS c2,
            quantile_cont(l_extendedprice, 0.75) AS c3
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag,
          CAST(l_extendedprice > c1 AS INT) + CAST(l_extendedprice > c2 AS INT)
            + CAST(l_extendedprice > c3 AS INT) AS bin,
          count(*) AS n, min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
          ${sqlDsum("l_extendedprice")} AS sum_price
        FROM lineitem l JOIN cuts USING (l_returnflag)
        GROUP BY 1, 2""")),

    // --- Gopher repetition signals needing a per-doc mode: top-2-gram
    // fraction + duplicate-word fraction (explode → two partial-agg shuffles;
    // O(len) per doc, never a per-row O(len²) HOF) ---
    Q("q66_repetition_signals",
      (s, dir) => TextAnalysis.repetitionSignals(t(s, dir, "documents"), "text", "doc_id"),
      Some("""WITH w AS (SELECT doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
          FROM documents),
          bg AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS g FROM w),
          bgc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total_c
            FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id),
          wc AS (SELECT doc_id, count(*) AS n_distinct, sum(c) AS n_words
            FROM (SELECT doc_id, x, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS x FROM w) GROUP BY doc_id, x)
            GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(CAST(top_c AS DOUBLE) / CAST(total_c AS DOUBLE), 0.0) AS top_bigram_frac,
          coalesce(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 0.0) AS dup_word_frac
        FROM documents d LEFT JOIN bgc ON bgc.doc_id = d.doc_id
          LEFT JOIN wc ON wc.doc_id = d.doc_id""")),

    // --- MinHash-LSH near-dup with the PORTABLE hash family: the full
    // signature → band → bucket-join → jaccard-verify pipeline is
    // hash-checked against DuckDB (q23's xxhash64 variant stays the
    // production-speed path; this one proves the algebra) ---
    Q("q67_minhash_portable",
      (s, dir) => Dedup.nearDuplicatesPortable(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5, bands = 4, k = 3),
      Some(sqlMinhashOracle())),

    // --- embedding near-dup with the PORTABLE hyperplane matrix: plan-time
    // literal planes (no per-row hashing), sign-bucket equi-join, exact
    // cosine verify — hash-checked against DuckDB (q33's xxhash variant
    // stays the generic path) ---
    Q("q68_embedding_neardup_portable",
      (s, dir) => Dedup.embeddingNearDupPortable(t(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.3, planes = 4, dim = 64),
      Some(sqlEmbeddingNearDupOracle(threshold = 0.3, planes = 4, dim = 64))),

    // --- near-dup GROUPS: distributed connected components (min-label
    // propagation, localCheckpoint lineage truncation) over the PORTABLE
    // minhash pairs — the iterative clustering itself is oracle-checked via
    // a recursive-CTE transitive closure on the same deterministic edges
    // (q60's xxhash variant stays rows-only) ---
    Q("q69_dedup_groups_portable",
      (s, dir) => Dedup.connectedComponents(
        Dedup.nearDuplicatesPortable(t(s, dir, "documents"), "text", "doc_id",
          threshold = 0.5, bands = 4, k = 3)),
      Some(s"""WITH RECURSIVE ${minhashCtes()},
          ${sqlReachCtes("pairs")}
        $sqlComponents""")),

    // --- MERGEABLE distinct-count sketches at a SECOND portable operating
    // point: per-LANGUAGE vocabulary registers at lgK=6 (coarser sketch,
    // different key) + the elementwise-max rollup, vs q137's per-source
    // lgK=8 gate — sketch AND merge hash-checked. The DataSketches HLL
    // ([[Aggregations.hllSketches]], binary-opaque to any oracle) stays the
    // production default; its ≤5% error envelope and merge = direct-global
    // property are spec-gated (PipelineOpsSpec) ---
    Q("q70_hll_distinct",
      (s, dir) => {
        val tokens = t(s, dir, "documents").select(col("lang"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
        val regs = Aggregations.hllPortableRegisters(tokens, Seq("lang"), "w", lgK = 6)
        val allRegs = Aggregations.hllPortableRollup(regs, Nil)
          .withColumn("lang", lit("ALL"))
        Aggregations.hllPortableEstimate(regs, Seq("lang"), lgK = 6)
          .unionByName(Aggregations.hllPortableEstimate(allRegs, Seq("lang"), lgK = 6))
      },
      Some(sqlHllPortableOracle(lgK = 6, key = "lang"))),

    // --- incremental exact dedup: a "new batch" (doc_id % 5 == 0) deduped
    // against the accumulated corpus via an 8-byte-key anti-join, then
    // within itself (keep-first) — the daily-ingest shape ---
    Q("q71_dedup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.dedupAgainst(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id")
          .select("doc_id", "source", "lang")
      },
      Some("""WITH nb AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
          fresh AS (SELECT * FROM nb WHERE text NOT IN
            (SELECT text FROM documents WHERE doc_id % 5 <> 0))
        SELECT doc_id, source, lang FROM fresh
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""")),

    // --- sequence packing: concat-and-split every 512 tokens within each
    // source shard (one window pass per shard — shards are the parallel
    // unit, no global ordering) ---
    Q("q72_pack_sequences",
      (s, dir) => TextAnalysis.packSequences(t(s, dir, "documents"),
        "text", "doc_id", budget = 512, shardBy = "source"),
      Some("""WITH t AS (SELECT doc_id, source,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n_tokens
          FROM documents),
          o AS (SELECT doc_id, source, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS off
          FROM t)
        SELECT doc_id, source, n_tokens,
          CAST(off // 512 AS BIGINT) AS chunk_id,
          ((off + n_tokens - 1) // 512) > (off // 512) AS crosses_boundary
        FROM o""")),

    // --- bucketed RANGE JOIN (point-in-interval without a nested loop):
    // events against a 3-day period calendar — the range predicate rides an
    // equi-join on time buckets (Joins.rangeJoin scaladoc), so the plan
    // stays a hash join even when neither side broadcasts ---
    Q("q73_range_join",
      (s, dir) => {
        val epoch0 = 1704067200L // 2024-01-01 00:00:00 UTC
        val periodSec = 3L * 86400
        val periods = s.range(0, 20).select(
          col("id").as("period_id"),
          timestamp_seconds(lit(epoch0) + col("id") * periodSec).as("pstart"),
          (timestamp_seconds(lit(epoch0) + (col("id") + 1) * periodSec)
            - expr("INTERVAL 1 MICROSECOND")).as("pend"))
        Joins.rangeJoin(events(s, dir), "ts", periods, "pstart", "pend",
          bucketSeconds = periodSec)
          .groupBy("period_id")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      },
      Some(s"""WITH periods AS (SELECT i AS period_id,
            TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3 DAY AS pstart,
            TIMESTAMP '2024-01-01 00:00:00' + (i+1) * INTERVAL 3 DAY
              - INTERVAL 1 MICROSECOND AS pend
          FROM generate_series(0, 19) t(i))
        SELECT period_id, count(*) AS n, ${sqlDsum("value")} AS total
        FROM events JOIN periods
          ON CAST(ts AS TIMESTAMP) BETWEEN pstart AND pend
        GROUP BY period_id""")),

    // --- TF-IDF-style distinctive terms per doc: ratio idf (no ln — libm
    // ulp differences are an oracle hazard; ranking identical since ln is
    // monotonic), deterministic tiebreak on the term ---
    Q("q74_tfidf_terms",
      (s, dir) => TextAnalysis.distinctiveTerms(t(s, dir, "documents"),
        "text", "doc_id", topK = 3),
      Some("""WITH words AS (SELECT doc_id, x AS term
            FROM (SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS x
            FROM documents)),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, term, tf, df,
          tf * CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tf * CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) DESC, term)
            AS INT) AS term_rank
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        QUALIFY term_rank <= 3""")),

    // --- data-quality outlier screen: per-group z-scores from EXACT decimal
    // moments (mean and population std are exact-sum-derived, so z is
    // bit-identical across engines — no sampling, no approx stddev), rows
    // flagged at |z| > 3, per-group outlier stats. The grouped-moments
    // frame is 3 rows → broadcast back over the scan, no second shuffle ---
    Q("q75_outliers",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val x = col("l_extendedprice").cast(DecimalType(18, 2))
        val m = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("__n"),
          sum(x).cast("double").as("__s"),
          sum((x * x).cast(DecimalType(28, 4))).cast("double").as("__ss"))
          .select(col("l_returnflag"),
            (col("__s") / col("__n")).as("__mean"),
            sqrt(col("__ss") / col("__n") - (col("__s") / col("__n")) * (col("__s") / col("__n")))
              .as("__std"))
        li.join(broadcast(m), Seq("l_returnflag"))
          .withColumn("__z", (col("l_extendedprice") - col("__mean")) / col("__std"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("__z")) > 3, 1).otherwise(0)).as("n_outliers"),
            // round(9): the decimal->double casts feeding mean/std can
            // double-round one ulp apart across engines (sf0.001 showed a
            // 4e-16 max_z divergence)
            round(max(col("__z")), 9).as("max_z"), round(min(col("__z")), 9).as("min_z"))
      },
      Some("""WITH m AS (SELECT l_returnflag,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
            sqrt(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) / count(*)
              - (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                * (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))) AS std
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag, count(*) AS n,
          CAST(sum(CASE WHEN abs((l_extendedprice - mean) / std) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          round(max((l_extendedprice - mean) / std), 9) AS max_z,
          round(min((l_extendedprice - mean) / std), 9) AS min_z
        FROM lineitem l JOIN m USING (l_returnflag)
        GROUP BY l.l_returnflag""")),

    // --- group-aware train/test split: all of a user's events share a fold
    // (row-level splits leak correlated rows across folds); md5 router ---
    Q("q76_group_split",
      (s, dir) => graft.ml.MLOps.groupSplit(events(s, dir), "user_id", trainFrac = 0.8)
        .groupBy("split")
        .agg(count(lit(1)).as("n_rows"), count_distinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("total_value")),
      Some(s"""SELECT CASE WHEN CAST('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8) AS BIGINT)
            % 1000000 < 800000 THEN 'train' ELSE 'test' END AS split,
          count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
          ${sqlDsum("value")} AS total_value
        FROM events GROUP BY 1""")),

    // --- per-column data profile in ONE wide aggregate (no per-column
    // jobs); min/max stringified so heterogeneous columns stack — the money
    // column routes through DECIMAL so both engines format it identically ---
    Q("q77_profile",
      (s, dir) => Profiling.profile(
        t(s, dir, "orders").withColumn("o_totalprice",
          col("o_totalprice").cast(DecimalType(18, 2))),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")),
      Some("""SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
          count(*) - count(o_custkey) AS n_nulls, count(DISTINCT o_custkey) AS n_distinct,
          CAST(min(o_custkey) AS VARCHAR) AS min_value, CAST(max(o_custkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
          count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders
        UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
          count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority) FROM orders
        UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
          count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))),
          CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
          CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM orders""")),

    // --- distribution drift between two date slices: reference-quartile
    // binning + triangular-discrimination score (PSI minus the ln — counts,
    // ratios and squares only, so it is bit-stable across engines) ---
    Q("q78_drift",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cut = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
        Profiling.drift(
          o.filter(col("o_orderdate") < lit(cut)),
          o.filter(col("o_orderdate") >= lit(cut)), "o_totalprice")
          .select(round(col("drift_score"), 9).as("drift_score"),
            col("n_bins"), col("n_ref"), col("n_cur"))
      },
      Some("""WITH ref AS (SELECT o_totalprice FROM orders
            WHERE o_orderdate < TIMESTAMP '1995-06-01 00:00:00'),
          cur AS (SELECT o_totalprice FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'),
          cuts AS (SELECT quantile_cont(o_totalprice, 0.25) AS c1,
            quantile_cont(o_totalprice, 0.5) AS c2,
            quantile_cont(o_totalprice, 0.75) AS c3 FROM ref),
          rb AS (SELECT CAST(o_totalprice > c1 AS INT) + CAST(o_totalprice > c2 AS INT)
              + CAST(o_totalprice > c3 AS INT) AS bin, count(*) AS n_ref
            FROM ref CROSS JOIN cuts GROUP BY 1),
          cb AS (SELECT CAST(o_totalprice > c1 AS INT) + CAST(o_totalprice > c2 AS INT)
              + CAST(o_totalprice > c3 AS INT) AS bin, count(*) AS n_cur
            FROM cur CROSS JOIN cuts GROUP BY 1),
          j AS (SELECT coalesce(rb.bin, cb.bin) AS bin,
              coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
            FROM rb FULL JOIN cb USING (bin)),
          t AS (SELECT bin, n_ref, n_cur,
              CAST(n_ref AS DOUBLE) / CAST(sum(n_ref) OVER () AS DOUBLE) AS p,
              CAST(n_cur AS DOUBLE) / CAST(sum(n_cur) OVER () AS DOUBLE) AS q
            FROM j)
        SELECT round(sum(CASE WHEN p + q > 0 THEN (p-q)*(p-q)/(p+q) ELSE 0.0 END), 9)
            AS drift_score,
          count(*) AS n_bins, CAST(sum(n_ref) AS BIGINT) AS n_ref,
          CAST(sum(n_cur) AS BIGINT) AS n_cur
        FROM t""")),

    // --- CAPSTONE: the whole corpus-preparation pipeline composed end-to-
    // end — length filter → exact dedup (keep-first) → decontaminate
    // against the benchmark slice → stratified downsample → sequence-pack —
    // every stage deterministic, so the five-op composition hash-matches
    // the oracle, not just each op alone ---
    Q("q79_corpus_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 97 === 0)
        val base = docs.filter(col("doc_id") % 97 =!= 0)
          .filter(length(trim(col("text"))) >= 100)
        val deduped = Dedup.exact(base, "text", "doc_id")
          .filter(!col("is_duplicate")).drop("canonical_id", "is_duplicate")
        val contaminated = TextAnalysis.decontaminate(deduped, bench, "text", "doc_id", 3)
          .select("doc_id")
        val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        val sampled = graft.ml.MLOps.stratifiedSampleHash(
          clean, "doc_id", "source", Map("src1" -> 0.5), defaultRate = 0.2)
        TextAnalysis.packSequences(sampled, "text", "doc_id", budget = 256, shardBy = "source")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("chunk_id")).as("n_chunks"),
            sum(col("n_tokens")).as("n_tokens"))
      },
      Some(s"""WITH base AS (SELECT doc_id, source, text FROM documents
            WHERE doc_id % 97 <> 0 AND length(trim(text)) >= 100),
          dedup AS (SELECT * FROM base
            QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
          wds AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0) AS w
            FROM documents),
          g AS (SELECT doc_id, list_distinct([CAST(concat('0x',
                substr(md5(array_to_string(w[i:i+2], ' ')), 1, 14)) AS BIGINT) % ${Dedup.PortableP}
              for i in generate_series(1, greatest(len(w)-2, 0))]) AS gs
            FROM wds),
          benchg AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 97 = 0),
          cg AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % 97 <> 0),
          contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN benchg USING (h)),
          clean AS (SELECT * FROM dedup
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
          sampled AS (SELECT * FROM clean
            WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000
              < CASE source WHEN 'src1' THEN 500000 ELSE 200000 END),
          tok AS (SELECT doc_id, source,
            CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n_tokens
            FROM sampled),
          o AS (SELECT doc_id, source, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS off
            FROM tok)
        SELECT source, count(*) AS n_docs,
          count(DISTINCT off // 256) AS n_chunks,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM o GROUP BY source""")),

    // --- importance sampling: keep-probability proportional to document
    // length (longer docs kept more often), deterministic via the md5
    // router — the continuous-rate cousin of q63's stratified rates ---
    Q("q80_weighted_sample",
      (s, dir) => {
        val rate = least(lit(1.0), col("n_chars").cast("double") / 400.0)
        graft.ml.MLOps.sampleByRate(t(s, dir, "documents"), "doc_id", rate)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      },
      Some("""SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        FROM documents
        WHERE CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000
            AS DOUBLE) < least(1.0, CAST(n_chars AS DOUBLE) / 400.0) * 1000000
        GROUP BY source""")),

    // --- PORTABLE SimHash near-dup: 24-bit signature from md5-derived word
    // 2-gram hashes, 4-band pigeonholing (exact recall at Hamming ≤ 3),
    // bit_count verify — completes the oracle-checked near-dup trifecta
    // (minhash q67, hyperplane q68, simhash here; q25/q61 stay the 64-bit
    // xxhash production forms) ---
    Q("q81_simhash_portable",
      (s, dir) => Dedup.simhashNearDupPortable(t(s, dir, "documents"),
        "text", "doc_id", maxHamming = 3, bits = 24, k = 2),
      Some(sqlSimhashOracle()))
  )

  private val pipelineQueries4: Seq[Q] = Seq(
    // --- INTRA-corpus duplicated-span detection: distinct word 8-grams per
    // doc, each gram owned by its min doc_id; n_shared = grams already seen
    // in an earlier doc. Flags embedded boilerplate that document-level
    // dedup misses. Gram keys are 8-byte md5-derived hashes — the only
    // shuffle moves (hash, id) pairs, never text, never doc pairs ---
    Q("q82_selfoverlap",
      (s, dir) => TextAnalysis.selfOverlap(t(s, dir, "documents"), "text", "doc_id", k = 8),
      Some(s"""WITH ${sqlShingleHashCtes(8)},
          e AS (SELECT doc_id, unnest(gs) AS h FROM g),
          o AS (SELECT h, min(doc_id) AS owner FROM e GROUP BY h)
        SELECT e.doc_id, count(*) AS n_grams,
          CAST(sum(CASE WHEN o.owner < e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          CAST(sum(CASE WHEN o.owner < e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS dup_frac
        FROM e JOIN o USING (h) GROUP BY e.doc_id""")),

    // --- bigram-LM coverage scoring (the hash-portable perplexity-filter
    // stand-in: log-prob sums are libm/order-dependent, so the signals are
    // integer-exact coverage + mean training frequency): LM counts from
    // even doc_ids, odd doc_ids scored against them ---
    Q("q83_lm_coverage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.lmCoverage(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id")
      },
      Some(s"""WITH ${sqlWordsCte()},
          g AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS gram FROM w),
          cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt
            FROM g WHERE doc_id % 2 = 0 GROUP BY gram),
          sc AS (SELECT g.doc_id, g.gram, cnt.cnt FROM g LEFT JOIN cnt USING (gram)
            WHERE g.doc_id % 2 = 1)
        SELECT doc_id, count(*) AS n_bigrams, CAST(count(cnt) AS BIGINT) AS n_known,
          CAST(count(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage,
          CAST(sum(coalesce(cnt, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cnt
        FROM sc GROUP BY doc_id""")),

    // --- packing-efficiency stats per shard (the planning companion to
    // q72): chunk count at 512 tokens and the fill ratio, both from ONE
    // partial-aggregated sum — the ratio is a single IEEE division ---
    Q("q84_pack_stats",
      (s, dir) => TextAnalysis.packStats(t(s, dir, "documents"), "text",
        budget = 512, shardBy = "source"),
      Some("""WITH t AS (SELECT source,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n
          FROM documents)
        SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
          CAST((sum(n) + 511) // 512 AS BIGINT) AS n_chunks,
          CAST(sum(n) AS DOUBLE)
            / CAST(((sum(n) + 511) // 512) * 512 AS DOUBLE) AS fill_ratio
        FROM t GROUP BY source""")),

    // --- symmetric int8 embedding quantization (4× storage cut, no
    // codebook): codes via the single-pass native kernel, scale = maxabs/127
    // — every step IEEE-exact, so even the codes STRING hash-matches ---
    Q("q85_int8_quantize",
      (s, dir) => Similarity.int8Quantize(t(s, dir, "embeddings"), "embedding", "vec_id"),
      Some("""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          m AS (SELECT vec_id, v,
            list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
        SELECT vec_id, maxabs / 127 AS scale,
          array_to_string(list_transform(v, x -> CAST(CAST(floor(
            CASE WHEN maxabs = 0 THEN 0 ELSE x * 127 / maxabs + 0.5 END)
            AS BIGINT) AS VARCHAR)), ',') AS codes
        FROM m""")),

    // --- IVF-PQ ANN with exact re-rank, PORTABLE plan-time models: the
    // candidate index is (centroid_id, m-byte pq_code), raw vectors touched
    // only by the final per-query re-rank join. Coarse argmax, per-subspace
    // code argmax, ADC cosine and the re-rank are ALL hash-checked against
    // DuckDB restating the identical centroid/codebook literals (the
    // trained-k-means ivfpqTopK stays the recall path, SimilaritySpec) ---
    Q("q86_ivfpq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfpqTopKPortable(emb, emb.filter(col("vec_id") < 20), k = 5, dim = 64,
          nlist = 8, nprobe = 3, m = 8, kpq = 16, rerankDepth = 20)
          .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      },
      Some(sqlIvfpqPortableOracle(k = 5, nlist = 8, nprobe = 3, dim = 64,
        m = 8, kpq = 16, rerankDepth = 20, queryPred = "vec_id < 20"))),

    // --- MIXTURE RESAMPLING to target domain weights (DoReMi/Pile-style):
    // data-driven keep rates from the per-source counts (window-totaled,
    // broadcast back — never a 1-row join), md5-thresholded so the kept
    // set is auditable in any engine ---
    Q("q87_mixture_sample",
      (s, dir) => graft.ml.MLOps.mixtureResample(
        t(s, dir, "documents"), "doc_id", "source",
        Map("src1" -> 0.10, "src2" -> 0.30))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept")),
      Some("""WITH c AS (SELECT source, count(*) AS n,
            sum(count(*)) OVER () AS total FROM documents GROUP BY source),
          r AS (SELECT source,
            CASE source
              WHEN 'src1' THEN least(1.0, 0.10 * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
              WHEN 'src2' THEN least(1.0, 0.30 * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
              ELSE 1.0 END AS rate FROM c)
        SELECT d.source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        FROM documents d JOIN r USING (source)
        WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000
          < CAST(round(rate * 1000000) AS BIGINT)
        GROUP BY d.source""")),

    // --- sliding chunk spans (the RAG/embedding chunker): windows of 48
    // tokens every 32, truncated at doc end — a narrow integer map off ONE
    // token count per document, no per-token rows ---
    Q("q88_chunk_spans",
      (s, dir) => TextAnalysis.chunkSpans(t(s, dir, "documents"), "text", "doc_id",
        window = 48, stride = 32),
      Some("""WITH t AS (SELECT doc_id,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n
          FROM documents),
          e AS (SELECT doc_id, n,
            unnest([i for i in generate_series(0, CAST((n - 1) // 32 AS BIGINT))]) AS i
          FROM t WHERE n > 0)
        SELECT doc_id, i AS chunk_idx, i * 32 AS start_tok,
          least(i * 32 + 48, n) AS end_tok,
          least(i * 32 + 48, n) - i * 32 AS chunk_len
        FROM e""")),

    // --- per-group deterministic cap (C4-style per-domain limits): at most
    // 40 docs per source, chosen by md5 hash order — reproducible
    // "reservoir" selection, independent of scan order ---
    Q("q89_group_cap",
      (s, dir) => graft.ml.MLOps.groupCap(t(s, dir, "documents"),
        "doc_id", "source", k = 40)
        .select("doc_id", "source", "sample_rank"),
      Some("""SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source
            ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000,
              doc_id) AS INT) AS sample_rank
        FROM documents
        QUALIFY sample_rank <= 40""")),

    // --- corpus NOVELTY screen: distinct bigrams of the "new" slice (odd
    // doc_ids) unseen in the "old" slice — the freshness complement of
    // q78's numeric drift; 8-byte gram hashes, anti-join of two distinct
    // sets ---
    Q("q99_ngram_novelty",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the portable md5-prefix hash of the WHOLE gram string (the
        // established cross-engine key family)
        def gramHash(c: Column) =
          conv(substring(md5(c), 1, 14), 16, 10).cast("long") % Dedup.PortableP
        def grams(filter: Column) = docs.filter(filter)
          .select(explode(graft.functions.Native.wordShingleStrings(col("text"), 2)).as("g"))
          .select(gramHash(col("g")).as("h")).distinct()
        // flag-join instead of anti-join + count + crossJoin: ONE aggregation,
        // no 1×1 cartesian (the plan invariants ban CartesianProduct)
        grams(col("doc_id") % 2 === 1)
          .join(grams(col("doc_id") % 2 === 0).withColumn("__seen", lit(true)),
            Seq("h"), "left")
          .agg(count(lit(1)).as("n_new_distinct"),
            sum(col("__seen").isNull.cast("long")).as("n_novel"))
          .withColumn("novelty_rate",
            col("n_novel").cast("double") / col("n_new_distinct").cast("double"))
      },
      Some(s"""WITH ${sqlWordsCte()},
          g AS (SELECT doc_id, [CAST(concat('0x',
                substr(md5(array_to_string(w[i:i+1], ' ')), 1, 14)) AS BIGINT) % ${Dedup.PortableP}
              for i in generate_series(1, greatest(len(w)-1, 0))] AS gs
            FROM w),
          newg AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 2 = 1),
          oldg AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 2 = 0),
          novel AS (SELECT h FROM newg WHERE h NOT IN (SELECT h FROM oldg))
        SELECT (SELECT count(*) FROM newg) AS n_new_distinct,
          (SELECT count(*) FROM novel) AS n_novel,
          CAST((SELECT count(*) FROM novel) AS DOUBLE)
            / CAST((SELECT count(*) FROM newg) AS DOUBLE) AS novelty_rate""")),

    // --- TYPE-TOKEN RATIO per source (lexical diversity): distinct words /
    // total words, one explode + two counts ---
    Q("q100_type_token",
      // two-stage distinct: groupBy (source, w) then re-aggregate — one
      // shuffle with map-side partials instead of count_distinct's Expand,
      // which doubles every exploded token row (measured 2.6 s -> ~1 s)
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("__n"))
        .groupBy("source")
        .agg(sum(col("__n")).as("n_tokens"), count(lit(1)).as("n_types"))
        .withColumn("ttr", col("n_types").cast("double") / col("n_tokens").cast("double")),
      Some("""WITH w AS (SELECT source, unnest(list_filter(
            string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS w
          FROM documents)
        SELECT source, count(*) AS n_tokens, count(DISTINCT w) AS n_types,
          CAST(count(DISTINCT w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ttr
        FROM w GROUP BY source""")),

    // --- ordered FUNNEL (view → click within 7d → purchase within 7d):
    // per-stage filtered aggregation joined to the previous stage's
    // skeleton — k user-key passes, never an event×event self-join ---
    Q("q97_funnel",
      (s, dir) => {
        val e = events(s, dir)
        EventAnalytics.funnelCounts(e, "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"),
          maxStepGap = Some(java.time.Duration.ofDays(7)))
      },
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
          s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND e.ts >= t1
              AND e.ts <= t1 + INTERVAL 7 DAY GROUP BY e.user_id),
          s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND e.ts >= t2
              AND e.ts <= t2 + INTERVAL 7 DAY GROUP BY e.user_id)
        SELECT 1 AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT 2, count(*) FROM s2
        UNION ALL SELECT 3, count(*) FROM s3""")),

    // --- COHORT RETENTION: cohort = first-activity ISO week; distinct
    // active users per (cohort, week offset) — two user-key aggregations,
    // exact integer week arithmetic, dates emitted as strings ---
    Q("q98_retention",
      (s, dir) => EventAnalytics.retention(events(s, dir), "user_id", "ts")
        .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_users")),
      Some("""WITH e AS (SELECT user_id,
            date_trunc('week', CAST(ts AS TIMESTAMP)) AS w FROM events),
          f AS (SELECT user_id, min(w) AS cohort FROM e GROUP BY user_id),
          a AS (SELECT DISTINCT user_id, w FROM e)
        SELECT strftime(CAST(cohort AS DATE), '%Y-%m-%d') AS cohort_week,
          CAST((epoch(w) - epoch(cohort)) // 604800 AS BIGINT) AS week_offset,
          count(DISTINCT a.user_id) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2""")),

    // --- winsorization (percentile clipping): per-flag [5%, 95%] exact
    // cuts broadcast over the scan (no extra shuffle); summary avoids
    // ordering-dependent double sums — counts clipped either side + the
    // cut values themselves (deterministic doubles, q65's discipline) ---
    Q("q96_winsorize",
      (s, dir) => {
        val w = Aggregations.winsorize(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice", 0.05, 0.95, "price_w")
        w.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum((col("l_extendedprice") < col("price_w_lo")).cast("long")).as("n_clip_lo"),
            sum((col("l_extendedprice") > col("price_w_hi")).cast("long")).as("n_clip_hi"),
            min(col("price_w_lo")).as("lo_cut"), max(col("price_w_hi")).as("hi_cut"))
      },
      Some("""WITH cuts AS (SELECT l_returnflag,
            quantile_cont(l_extendedprice, 0.05) AS lo_cut,
            quantile_cont(l_extendedprice, 0.95) AS hi_cut
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag, count(*) AS n,
          CAST(sum(CASE WHEN l_extendedprice < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
          CAST(sum(CASE WHEN l_extendedprice > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
          min(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut
        FROM lineitem l JOIN cuts USING (l_returnflag)
        GROUP BY l.l_returnflag""")),

    // --- FORWARD as-of join (polars join_asof strategy="forward"; q9 is
    // backward): for each purchase, the NEXT click within 2 hours ---
    Q("q95_asof_next_click",
      purchaseClickAsof("next_click_value", Some(java.time.Duration.ofHours(2)), "forward"),
      Some(sqlPurchaseClickAsof("next_click_value",
        "AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 2 HOUR", "c.ts ASC NULLS LAST"))),

    // --- CAPSTONE 2 (round-3 chain): drop boilerplate-heavy docs
    // (selfOverlap dup_frac ≥ 0.5) → rebalance the domain mixture →
    // chunk for embedding — three round-3 ops composed and hash-verified
    // as ONE query, like q79 for the round-2 layer ---
    Q("q94_corpus_pipeline2",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val overlap = TextAnalysis.selfOverlap(docs, "text", "doc_id", k = 8)
        val clean = docs.join(
          overlap.filter(col("dup_frac") < 0.5).select("doc_id"), Seq("doc_id"))
        val balanced = graft.ml.MLOps.mixtureResample(clean, "doc_id", "source",
          Map("src1" -> 0.20, "src2" -> 0.40))
        TextAnalysis.chunkSpans(balanced, "text", "doc_id", window = 48, stride = 48)
          .groupBy(col("doc_id") % 10)
          .agg(count(lit(1)).as("n_chunks"), sum(col("chunk_len")).as("total_len"))
          .withColumnRenamed("(doc_id % 10)", "bucket")
      },
      Some(s"""WITH ${sqlShingleHashCtes(8)},
          e AS (SELECT doc_id, unnest(gs) AS h FROM g),
          o AS (SELECT h, min(doc_id) AS owner FROM e GROUP BY h),
          ov AS (SELECT e.doc_id,
              sum(CASE WHEN o.owner < e.doc_id THEN 1 ELSE 0 END) * 2 < count(*) AS keep
            FROM e JOIN o USING (h) GROUP BY e.doc_id),
          clean AS (SELECT d.* FROM documents d JOIN ov ON d.doc_id = ov.doc_id AND ov.keep),
          c AS (SELECT source, count(*) AS n, sum(count(*)) OVER () AS total
            FROM clean GROUP BY source),
          r AS (SELECT source, CASE source
              WHEN 'src1' THEN least(1.0, 0.20 * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
              WHEN 'src2' THEN least(1.0, 0.40 * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
              ELSE 1.0 END AS rate FROM c),
          bal AS (SELECT d.* FROM clean d JOIN r USING (source)
            WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000
              < CAST(round(rate * 1000000) AS BIGINT)),
          tok AS (SELECT doc_id,
            CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n
            FROM bal),
          ch AS (SELECT doc_id, n,
              unnest([i for i in generate_series(0, CAST((n - 1) // 48 AS BIGINT))]) AS i
            FROM tok WHERE n > 0)
        SELECT doc_id % 10 AS bucket, count(*) AS n_chunks,
          CAST(sum(least(i * 48 + 48, n) - i * 48) AS BIGINT) AS total_len
        FROM ch GROUP BY doc_id % 10""")),

    // --- deterministic epoch shuffle: the first 100-doc shard of epoch 7's
    // training order (md5(epoch:id) sort — reproducible across engines and
    // retries, unlike ORDER BY rand(); Spark executes orderBy+limit as
    // TakeOrderedAndProject, no global window) ---
    Q("q93_epoch_shard",
      (s, dir) => graft.ml.MLOps.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 7)
        .limit(100)
        .select("doc_id", "source", "lang"),
      Some("""SELECT doc_id, source, lang FROM documents
        ORDER BY CAST('0x'||substr(md5(7 || ':' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
            % 1000000, doc_id
        LIMIT 100""")),

    // --- EXACT top-k words WITHOUT a vocabulary shuffle: Misra-Gries
    // per-partition candidates (count > n/capacity guaranteed to survive)
    // + broadcast semi-join exact verification — same answer as a full
    // groupBy (the oracle IS the full groupBy), corpus never shuffles ---
    Q("q92_heavy_hitters",
      (s, dir) => TextAnalysis.heavyHitters(t(s, dir, "documents"), "text",
        k = 20, capacity = 256)
        .withColumn("rank", col("rank").cast("int")),
      Some("""WITH w AS (SELECT unnest(list_filter(
            string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS word
          FROM documents),
          c AS (SELECT word, count(*) AS n FROM w GROUP BY word)
        SELECT word, n, CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank
        FROM c QUALIFY rank <= 20""")),

    // --- SemDeDup-shaped semantic dedup with PORTABLE plan-time centroids:
    // cluster assignment argmax, within-cluster equi-join cosine threshold,
    // lowest id wins — end-to-end hash-checked against DuckDB restating the
    // same centroid literals (the trained-k-means semanticDedup stays the
    // cluster-quality path; soundness + recall gated in Round3OpsSpec) ---
    Q("q91_semantic_dedup",
      (s, dir) => Dedup.semanticDedupPortable(t(s, dir, "embeddings"), "embedding", "vec_id",
        nlist = 8, threshold = 0.3, dim = 64)
        .filter(col("is_duplicate"))
        .select("vec_id", "cluster_id"),
      Some(sqlSemanticDedupOracle(nlist = 8, threshold = 0.3, dim = 64))),

    // --- per-label mean embeddings (class centroids / SemDeDup prototype
    // vectors), long-form; elementwise sums through DECIMAL(18,9) so the
    // means are order-independent and engine-exact ---
    Q("q90_label_centroids",
      (s, dir) => Similarity.groupCentroids(t(s, dir, "embeddings"), "embedding", "label"),
      Some("""SELECT label, i AS dim,
          CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
            / (1e9 * count(*)) AS mean_val,
          count(*) AS n
        FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
        GROUP BY label, i"""))
  )

  /** The portable simhash (q81/q61/q25) restated for DuckDB: same md5 base
    * hashes as [[minhashCtes]], bit votes as integer div/mod arithmetic.
    * `blockBy` carries a blocking column through sigs and into the join;
    * `allPairs` swaps the band-pigeonhole candidate join for the all-pairs
    * (within-block) demo shape. */
  private[graft] def sqlSimhashOracle(bits: Int = 24, maxHamming: Int = 3, k: Int = 2,
      blockBy: Option[String] = None, allPairs: Boolean = false): String = {
    val p = Dedup.PortableP
    val bands = maxHamming + 1
    // the divisibility contract only exists for the band-pigeonhole path;
    // all-pairs never builds bands, and the registry is eager — a require
    // here on a valid all-pairs registration (bits=24, maxHamming=6) would
    // throw at class-init and take down EVERY query, not just the new one
    require(allPairs || bits % bands == 0, s"bits=$bits must split into $bands bands")
    val width = if (allPairs) 1 else bits / bands
    val bitExprs = (0 until bits).map { i =>
      val p2 = 1L << i
      s"""(CASE WHEN list_sum(list_transform(h,
         x -> CASE WHEN (x // $p2) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         THEN $p2 ELSE 0 END)"""
    }.mkString("\n            + ")
    val blkSel = blockBy.map(c => s"$c, ").getOrElse("")
    val blkOut = blockBy.map(c => s"a.$c AS $c, ").getOrElse("")
    val blkJoin = blockBy.map(c => s" AND a.$c = b.$c").getOrElse("")
    val blkFinal = blockBy.map(c => s"$c, ").getOrElse("")
    def bandSelects = (0 until bands).map { j =>
      val div = 1L << (width * j)
      s"SELECT $blkSel doc_id, $j AS band, (sig // $div) % ${1L << width} AS bits, sig FROM sigs"
    }.mkString("\n          UNION ALL ")
    val candCte =
      if (allPairs)
        s"""cand AS (SELECT $blkOut a.doc_id AS id_a, b.doc_id AS id_b,
            a.sig AS sa, b.sig AS sb
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id$blkJoin)"""
      else
        s"""bands AS ($bandSelects),
        cand AS (SELECT DISTINCT $blkOut a.doc_id AS id_a, b.doc_id AS id_b,
            a.sig AS sa, b.sig AS sb
          FROM bands a JOIN bands b ON a.band = b.band AND a.bits = b.bits
            AND a.doc_id < b.doc_id$blkJoin)"""
    s"""WITH w AS (SELECT $blkSel doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0) AS w FROM documents),
        g AS (SELECT $blkSel doc_id, [array_to_string(w[i:i+${k - 1}], ' ')
            for i in generate_series(1, greatest(len(w)-${k - 1}, 0))] AS grams FROM w),
        h AS (SELECT $blkSel doc_id, list_transform(grams,
            s -> CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % $p) AS h
          FROM g WHERE len(grams) > 0),
        sigs AS (SELECT $blkSel doc_id,
            $bitExprs AS sig
          FROM h),
        $candCte
      SELECT $blkFinal id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming"""
  }

  /** Shared by q140 (window demo form) and q140b (hashKey scale form):
    * the two plans are output-identical by construction (CoreSpec
    * hot-gram equivalence), so both gate against the SAME oracle. */
  private val sqlDuplicateSpansOracle: String =
    """WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos FROM d),
          g AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+4], ' ') AS gram FROM g0),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          q AS (SELECT doc_id, pos,
              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM g JOIN dup USING (gram))
        SELECT doc_id, span_start, span_end, span_end - span_start + 1 AS span_tokens
        FROM (SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
          FROM q GROUP BY doc_id, grp)"""

  /** Shared by q142 / q142b, same reasoning as [[sqlDuplicateSpansOracle]]. */
  private val sqlCrossDocDupFracOracle: String =
    """WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos FROM d),
          g AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+2], ' ') AS gram FROM g0),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          f AS (SELECT g.doc_id, count(*) AS n_grams,
              CAST(sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS dup_frac
            FROM g LEFT JOIN dup USING (gram) GROUP BY g.doc_id)
        SELECT doc_id, coalesce(n_grams, 0) AS n_grams,
          coalesce(dup_frac, 0.0) AS dup_frac
        FROM documents LEFT JOIN f USING (doc_id)"""

  /** The q181 ingest-path CTE chain (batch gate, corpus-probe near-dup,
    * corpus-dup drop, within-batch CC + keep-best) — shared verbatim by
    * the ingest result oracle (q181) and the ingest funnel-audit oracle
    * (q191), so the two restatements cannot drift. Heavy CTEs are
    * MATERIALIZED: inlined references through the recursive CC chain
    * re-evaluate multiplicatively (the q178 lesson). */
  private def sqlIngestCtes: String =
    s"""nb AS (${sqlGopherSplit("doc_id, lang, text", "documents WHERE doc_id % 5 = 0")}),
          m AS (${sqlGopherMetrics("nb")}),
          gm AS (${sqlGopherGate()}),
          gnew AS MATERIALIZED (SELECT nb.* FROM nb JOIN gm USING (doc_id)),
          uni AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
            UNION ALL SELECT doc_id, text FROM gnew),
          ${minhashCtes(0.5, 4, 3, from = "uni")},
          ap AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
          cdrop AS MATERIALIZED (SELECT DISTINCT
              CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS doc_id
            FROM ap WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)),
          np AS MATERIALIZED (SELECT id_a, id_b FROM ap
            WHERE id_a % 5 = 0 AND id_b % 5 = 0),
          surv AS MATERIALIZED (SELECT gnew.* FROM gnew
            WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),
          ${sqlClosureCtes("np", "cc")},
          comp AS (SELECT surv.doc_id, coalesce(cc.comp, surv.doc_id) AS component,
              CAST(len(ws) AS BIGINT) AS n_tok
            FROM surv LEFT JOIN cc ON cc.id = surv.doc_id),
          canon AS ($sqlKeepBest)"""

  private val pipelineQueries5: Seq[Q] = Seq(
    // --- SCD TYPE-2 from a changelog: purchases as per-user value updates →
    // validity intervals + current-row flag. One window shuffle on the
    // entity key; ties on ts break by event_id so the chain is total ---
    Q("q101_scd2",
      (s, dir) => {
        val p = purchases(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        EventAnalytics.scd2(p, "user_id", "ts", "event_id")
          .select(col("user_id"), col("event_id"),
            col("valid_from").cast("long").as("valid_from_sec"),
            col("valid_to").cast("long").as("valid_to_sec"),
            col("value"), col("is_current"))
      },
      Some(s"""WITH ${sqlPurchasesCte(withValue = true)}
        SELECT user_id, event_id,
          epoch_us(ts) // 1000000 AS valid_from_sec,
          epoch_us(lead(ts) OVER w) // 1000000 AS valid_to_sec,
          value, (lead(ts) OVER w) IS NULL AS is_current
        FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // --- CONTAINMENT pairs (asymmetric Jaccard |A∩B|/min(|A|,|B|)): the
    // short-doc-embedded-in-long-doc detector symmetric Jaccard misses.
    // Inverted-index plan — only shared-shingle pairs ever materialize ---
    Q("q102_containment",
      (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.6, k = 3),
      Some(s"""WITH ${sqlWordsCte()},
          g AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, greatest(len(w)-2, 0))]) AS gs FROM w),
          s AS (SELECT doc_id, gs, len(gs) AS z FROM g WHERE len(gs) > 0),
          e AS (SELECT doc_id, z, unnest(gs) AS h FROM s),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.z AS za, b.z AS zb,
              count(*) AS inter
            FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b,
          CAST(inter AS DOUBLE) / least(za, zb) AS containment,
          CAST(inter AS DOUBLE) / (za + zb - inter) AS jaccard
        FROM p WHERE CAST(inter AS DOUBLE) / least(za, zb) >= 0.6""")),

    // --- hashed-BoW LINEAR quality scoring (fastText-filter inference
    // shape): narrow plan-time expression, integer milli-weight sums so the
    // score is order-independent and engine-exact ---
    Q("q103_linear_score",
      (s, dir) => TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "text", "doc_id"),
      Some(s"""WITH w AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w
            FROM documents),
          h AS (SELECT doc_id, list_transform(w, s ->
              CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % ${Dedup.PortableP}) AS h
            FROM w)
        SELECT doc_id, CAST(len(h) AS BIGINT) AS n_tokens,
          CASE WHEN len(h) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(h, x -> x % 2001 - 1000)) AS DOUBLE)
              / (len(h) * 1000.0) END AS score,
          CASE WHEN len(h) = 0 THEN FALSE
            ELSE CAST(list_sum(list_transform(h, x -> x % 2001 - 1000)) AS DOUBLE)
              / (len(h) * 1000.0) > 0 END AS keep
        FROM h""")),

    // --- MERGEABLE histogram sketches: fine-grain (flag, status) sketches
    // roll up to per-flag without rescanning, and the merged sketch answers
    // the median via integer-rank arithmetic — HLL's quantile sibling, but
    // plain-integer portable, so hash-checked rather than rows-only ---
    Q("q104_hist_quantile",
      (s, dir) => {
        val sketch = Aggregations.histSketch(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), "l_extendedprice", binWidth = 100.0)
        val rolled = Aggregations.histRollup(sketch, Seq("l_returnflag"))
        val q = Aggregations.histQuantile(rolled, Seq("l_returnflag"), 0.5, 100.0)
        val stats = rolled.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_bins"), sum(col("n")).as("total"))
        q.join(stats, Seq("l_returnflag"))
      },
      Some("""WITH s AS (SELECT l_returnflag, l_linestatus,
            CAST(floor(CAST(l_extendedprice AS DOUBLE) / 100.0) AS BIGINT) AS bin,
            count(*) AS n FROM lineitem GROUP BY 1, 2, 3),
          r AS (SELECT l_returnflag, bin, sum(n) AS n FROM s GROUP BY 1, 2),
          c AS (SELECT l_returnflag, bin, n,
            sum(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
            CAST(ceil(0.5 * sum(n) OVER (PARTITION BY l_returnflag)) AS BIGINT) AS rnk
            FROM r),
          q AS (SELECT l_returnflag, bin * 100.0 AS quantile_lo FROM c
            WHERE cum >= rnk AND cum - n < rnk),
          t AS (SELECT l_returnflag, count(*) AS n_bins, CAST(sum(n) AS BIGINT) AS total
            FROM r GROUP BY 1)
        SELECT q.l_returnflag, quantile_lo, n_bins, total FROM q JOIN t USING (l_returnflag)""")),

    // --- BLOOM-prefiltered decontamination: same split and same ANSWER as
    // q62 (false positives die in the exact verify; false negatives are
    // impossible) — the bloom is a constant-size codegen'd prune inside the
    // scan stage, so only ~FPR·grams ever reach the join at 100 TB ---
    Q("q105_bloom_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.bloomDecontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3, mBits = 1 << 16, numProbes = 3)
      },
      Some(s"""WITH ${sqlShingleHashCtes(3)},
          bench AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 97 = 0),
          corpus AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % 97 <> 0)
        SELECT corpus.doc_id, count(*) AS n_shared
        FROM corpus JOIN bench USING (h) GROUP BY corpus.doc_id""")),

    // --- CROSS-CORPUS linkage (crawl-snapshot diff): each even-id doc's
    // best fuzzy match among odd-id docs — inverted-index blocking, exact
    // Jaccard, top-1 window (WindowGroupLimit) ---
    Q("q106_cross_link",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.crossCorpusLink(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", threshold = 0.5, k = 3)
      },
      Some(s"""WITH ${sqlWordsCte()},
          g AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, greatest(len(w)-2, 0))]) AS gs FROM w),
          s AS (SELECT doc_id, gs, len(gs) AS z FROM g WHERE len(gs) > 0),
          e AS (SELECT doc_id, z, unnest(gs) AS h FROM s),
          p AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id, a.z AS za, b.z AS zb,
              count(*) AS inter
            FROM e a JOIN e b ON a.h = b.h AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            GROUP BY 1, 2, 3, 4),
          j AS (SELECT left_id, right_id,
              CAST(inter AS DOUBLE) / (za + zb - inter) AS jaccard
            FROM p WHERE CAST(inter AS DOUBLE) / (za + zb - inter) >= 0.5)
        SELECT left_id, right_id, jaccard FROM j
        QUALIFY row_number() OVER (PARTITION BY left_id
          ORDER BY jaccard DESC, right_id) = 1""")),

    // --- VOCABULARY GROWTH (Heaps-law curve): distinct bigrams at nested
    // md5-ordered 25% corpus prefixes — ONE scan; each gram keeps its
    // earliest prefix, buckets cumulate in a 4-row window ---
    Q("q107_vocab_growth",
      (s, dir) => TextAnalysis.vocabGrowth(t(s, dir, "documents"), "text", "doc_id",
        n = 2, steps = 4),
      Some("""WITH d AS (SELECT doc_id, text,
            CAST((CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % 1000000) // 250000 AS INT) AS b
            FROM documents),
          w AS (SELECT doc_id, b, list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w FROM d),
          g AS (SELECT doc_id, b, list_distinct([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS gs FROM w),
          e AS (SELECT b, unnest(gs) AS h FROM g),
          fs AS (SELECT h, min(b) AS fb FROM e GROUP BY h),
          ng AS (SELECT fb, count(*) AS ngrams FROM fs GROUP BY fb),
          nd AS (SELECT b AS fb, count(*) AS ndocs FROM d GROUP BY b),
          m AS (SELECT coalesce(ng.fb, nd.fb) AS fb,
              coalesce(ngrams, 0) AS ngrams, coalesce(ndocs, 0) AS ndocs
            FROM ng FULL JOIN nd ON ng.fb = nd.fb)
        SELECT CAST(fb + 1 AS DOUBLE) / 4 AS fraction,
          CAST(sum(ndocs) OVER (ORDER BY fb) AS BIGINT) AS n_docs,
          CAST(sum(ngrams) OVER (ORDER BY fb) AS BIGINT) AS distinct_grams
        FROM m""")),

    // --- CORPUS-SLICE similarity matrix: bigram Jaccard between every
    // source pair — which sources overlap enough to need cross-source
    // dedup before mixing. Corpus reduces to distinct (slice, gram) rows;
    // one equi-join on the gram ---
    Q("q108_source_similarity",
      (s, dir) => TextAnalysis.sliceSimilarity(t(s, dir, "documents"), "text",
        "source", k = 2),
      Some("""WITH w AS (SELECT source, list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w
            FROM documents),
          g AS (SELECT source, list_distinct([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS gs FROM w),
          e AS (SELECT DISTINCT source, unnest(gs) AS h FROM g),
          z AS (SELECT source, count(*) AS z FROM e GROUP BY source),
          p AS (SELECT a.source AS slice_a, b.source AS slice_b, count(*) AS inter
            FROM e a JOIN e b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
        SELECT slice_a, slice_b, za.z AS za, zb.z AS zb, inter,
          CAST(inter AS DOUBLE) / (za.z + zb.z - inter) AS jaccard
        FROM p JOIN z za ON p.slice_a = za.source
          JOIN z zb ON p.slice_b = zb.source""")),

    // --- Johnson-Lindenstrauss random projection (portable plane matrix,
    // plan-time literals, native dot kernel): 64-d -> 8-d, long form —
    // the pre-ANN dimensionality cut as a pure narrow map ---
    Q("q109_random_projection",
      (s, dir) => Similarity.randomProject(t(s, dir, "embeddings"), "embedding",
        "vec_id", outDim = 8, dim = 64),
      Some {
        val mat = Dedup.portablePlanes(8, 64)
        mat.zipWithIndex.map { case (plane, j) =>
          val lits = plane.mkString("[", ", ", "]")
          s"""SELECT vec_id, ${j + 1} AS out_dim,
            list_inner_product(CAST(embedding AS DOUBLE[]), $lits) AS value
          FROM embeddings"""
        }.mkString("\n          UNION ALL ")
      }),

    // --- embedding corpus HEALTH screen: zero vectors, wrong widths, and
    // the mean squared norm through one double->DECIMAL cast per row
    // (order-independent, engine-exact) ---
    Q("q110_embedding_audit",
      (s, dir) => Profiling.embeddingProfile(t(s, dir, "embeddings"), "embedding",
        "label", expectedDim = 64),
      Some("""WITH s AS (SELECT label, len(embedding) AS w,
            CAST(round(list_inner_product(CAST(embedding AS DOUBLE[]),
              CAST(embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS sq,
            len(list_filter(embedding, x -> x <> 0)) = 0 AS zero
          FROM embeddings)
        SELECT label, count(*) AS n,
          CAST(sum(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          CAST(sum(CASE WHEN w <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
          CAST(sum(sq) AS DOUBLE) / (1e6 * count(*)) AS mean_sq_norm
        FROM s GROUP BY label""")),

    // --- top-FRACTION quality filter: best 30% of each source by score
    // (integer rank <= ceil(frac*n), ties total on doc_id) — groupCap's
    // score-driven sibling ---
    Q("q111_top_fraction",
      (s, dir) => graft.ml.MLOps.topFractionByScore(t(s, dir, "documents"),
        "source", "n_chars", "doc_id", 0.3)
        .select("doc_id", "source", "n_chars"),
      Some("""SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
            row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn,
            count(*) OVER (PARTITION BY source) AS n
          FROM documents)
        WHERE rn <= CAST(ceil(0.3 * n) AS BIGINT)""")),

    // --- HARD-NEGATIVE mining (contrastive training pairs): top-5 most
    // similar DIFFERENT-label neighbors per query — broadcast query batch,
    // one corpus pass (the q30 kNN shape with a label-mismatch condition);
    // at corpus scale: ivfpqTopK + label filter ---
    Q("q112_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), k = 5)
          .withColumn("rank", col("rank").cast("int"))
      },
      Some("""WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 20),
          c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_inner_product(q.v, c.v) /
            (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cosine,
          CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY cosine DESC, c.vec_id) AS INT) AS rank
        FROM q JOIN c ON c.label IS DISTINCT FROM q.label
        QUALIFY rank <= 5""")),

    // --- inverse-frequency class weights (sklearn "balanced"): the loss
    // reweighting table for skewed labels; totals from windows over the
    // O(classes) count frame ---
    Q("q113_class_weights",
      (s, dir) => graft.ml.MLOps.classWeights(t(s, dir, "documents"), "lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
        SELECT lang, n,
          CAST(sum(n) OVER () AS DOUBLE) / (count(*) OVER () * n) AS weight
        FROM c""")),

    // --- TIME-DECAYED engagement aggregate with DYADIC decay (2^-⌊age/hl⌋):
    // cents shifted left by (12 - bucket) sum as exact integers, ONE
    // division at the end — the exp(-λ·age) feature restated so it is
    // order-independent and engine-exact; decays against a PINNED as-of
    // timestamp so backfills reproduce ---
    Q("q114_decayed_sum",
      (s, dir) => Aggregations.decayedSum(purchases(s, dir), Seq("user_id"), "value",
        "ts", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        halfLifeSeconds = 259200),
      Some("""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase'),
          t AS (SELECT user_id, value,
              CAST(floor(CAST(epoch_us(TIMESTAMP '2024-02-01 00:00:00') // 1000000
                - epoch_us(ts) // 1000000 AS DOUBLE) / 259200.0) AS INT) AS b
            FROM p WHERE ts <= TIMESTAMP '2024-02-01 00:00:00')
        SELECT user_id,
          CAST(sum(CAST(round(value * 100) AS BIGINT) * (1 << (12 - b))) AS DOUBLE)
            / (100.0 * 4096.0) AS decayed_sum,
          count(*) AS n_events
        FROM t WHERE b <= 12 GROUP BY user_id""")),

    // --- tokenizer COVERAGE: corpus vocab at a frequency cutoff, per-source
    // out-of-vocabulary token fraction — the domain-shift early warning.
    // One explode feeds vocab build and scoring join ---
    Q("q115_oov_rate",
      (s, dir) => TextAnalysis.oovRate(t(s, dir, "documents"), "text", "source",
        minCount = 50),
      Some("""WITH w AS (SELECT source, unnest(list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS word
            FROM documents),
          v AS (SELECT word, TRUE AS inv FROM
            (SELECT word, count(*) AS c FROM w GROUP BY word) WHERE c >= 50)
        SELECT source, count(*) AS n_tokens,
          CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) AS oov_rate
        FROM w LEFT JOIN v USING (word) GROUP BY source""")),

    // --- TOKENIZE to vocab ids (freq-desc rank ids, OOV -> 0), long form:
    // the binarization step between OOV coverage and packed shards ---
    Q("q116_token_ids",
      (s, dir) => TextAnalysis.tokenizeToIds(t(s, dir, "documents"), "text", "doc_id",
        minCount = 50),
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          w AS (SELECT doc_id, unnest(ws) AS word,
              unnest(generate_series(1, len(ws))) AS pos FROM d),
          v AS (SELECT word, CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
              AS token_id
            FROM (SELECT word, count(*) AS c FROM w GROUP BY word) WHERE c >= 50)
        SELECT doc_id, pos, coalesce(token_id, 0) AS token_id
        FROM w LEFT JOIN v USING (word)""")),

    // --- EQUAL-TOKEN shard assignment via a DISTRIBUTED PREFIX SUM:
    // per-bucket totals prefix-summed on the driver + in-bucket windows —
    // the global cumulative order without a single-partition window ---
    Q("q117_token_shards",
      (s, dir) => {
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        graft.ml.MLOps.tokenShards(t(s, dir, "documents"), "doc_id", tok,
          targetTokens = 2000, buckets = 16)
          .select(col("doc_id"), col("__n").as("n_tok"), col("shard"))
      },
      Some(s"""WITH $sqlTokenPrefixCtes
        SELECT doc_id, n_tok, CAST(pre // 2000 AS BIGINT) AS shard FROM o""")),

    // --- SNAPSHOT DIFF (pre-promotion audit): added/removed/changed/
    // unchanged between two materializations — one full outer join on the
    // keys, null-safe struct equality for change detection ---
    Q("q118_snapshot_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val oldSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
        val newSnap = orders.filter(col("o_orderkey") % 89 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
              .otherwise(col("o_totalprice")))
        Caching.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_orderkey % 97 <> 0),
          n AS (SELECT o_orderkey, o_orderstatus,
              CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 89 <> 0)
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
          CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
              AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice THEN 'unchanged'
            ELSE 'changed' END AS diff_status
        FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey""")),

    // --- EVENT-TRANSITION matrix (first-order Markov counts + conditional
    // probabilities): one lead() window on the user key, one aggregation
    // over the O(types²) pair space ---
    Q("q119_transitions",
      (s, dir) => EventAnalytics.transitions(events(s, dir), "user_id", "ts",
        "event_type", "event_id"),
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
              event_type FROM events),
          p AS (SELECT event_type AS from_type,
              lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS to_type FROM e),
          c AS (SELECT from_type, to_type, count(*) AS n FROM p
            WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
          CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p_cond
        FROM c""")),

    // --- CONVERSION-LAG distribution: ordered view→purchase funnel lags
    // binned by the histogram sketch — two round-4 families composed ---
    Q("q120_conversion_lag",
      (s, dir) => {
        val f = EventAnalytics.funnel(events(s, dir), "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "purchase"))
        val lags = f.filter(col("ts_2").isNotNull)
          .select((col("ts_2").cast("long") - col("ts_1").cast("long")).as("lag_sec"))
        Aggregations.histSketch(lags, Nil, "lag_sec", binWidth = 3600.0)
      },
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
              FROM events),
          s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
            GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'purchase' AND e.ts >= t1 GROUP BY 1),
          l AS (SELECT epoch_us(t2) // 1000000 - epoch_us(t1) // 1000000 AS lag
            FROM s2 JOIN s1 USING (user_id))
        SELECT CAST(floor(CAST(lag AS DOUBLE) / 3600.0) AS BIGINT) AS bin,
          count(*) AS n
        FROM l GROUP BY 1""")),

    // --- JOIN-KEY SKEW diagnostic: top-10 heaviest customer keys with
    // share and uniform-ratio — the "does this join need salting" number,
    // from one partial-agged groupBy + an O(keys) top-k window ---
    Q("q121_key_skew",
      (s, dir) => Profiling.keySkew(t(s, dir, "orders"), Seq("o_custkey"), k = 10),
      Some("""WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
        SELECT o_custkey, n,
          CAST(n AS DOUBLE) / sum(n) OVER () AS share,
          CAST(n AS DOUBLE) * count(*) OVER () / sum(n) OVER () AS skew_vs_uniform,
          CAST(row_number() OVER (ORDER BY n DESC, o_custkey) AS INT) AS key_rank
        FROM c QUALIFY key_rank <= 10""")),

    // --- CLASS-BALANCED downsampling: every language capped at the
    // minority language's count, members by md5 hash order (deterministic,
    // auditable); cap = plan-time scalar, never a 1-row join ---
    Q("q122_class_balance",
      (s, dir) => graft.ml.MLOps.balanceClasses(t(s, dir, "documents"), "lang", "doc_id")
        .select("doc_id", "lang", "sample_rank"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          m AS (SELECT min(n) AS mc FROM c),
          r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
              ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                % 1000000, doc_id) AS INT) AS sample_rank
            FROM documents)
        SELECT doc_id, lang, sample_rank FROM r JOIN m ON sample_rank <= mc""")),

    // --- DEDUP IMPACT report: near-dup cluster-size histogram (how much of
    // the corpus collapses, and into how many clusters) — the iterative
    // min-label clustering re-checked through a recursive-CTE closure, then
    // two tiny aggregations ---
    Q("q123_dedup_cluster_sizes",
      (s, dir) => Dedup.connectedComponents(
          Dedup.nearDuplicatesPortable(t(s, dir, "documents"), "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3))
        .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters")),
      Some(s"""WITH RECURSIVE ${minhashCtes()},
          ${sqlClosureCtes("pairs", "comp")},
          sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
        SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1""")),

    // --- CAPSTONE 3 (round-4 chain): hashed linear quality scores →
    // per-source top-50% filter → equal-token shards → per-shard stats —
    // four round-4 ops composed and hash-verified as ONE query (q79/q94's
    // successors) ---
    Q("q124_corpus_pipeline3",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = docs.join(
          TextAnalysis.hashedLinearScore(docs, "text", "doc_id")
            .select("doc_id", "score"), Seq("doc_id"))
        val kept = graft.ml.MLOps.topFractionByScore(scored, "source", "score",
          "doc_id", 0.5)
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        graft.ml.MLOps.tokenShards(kept, "doc_id", tok, targetTokens = 4000, buckets = 16)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("total_tokens"))
      },
      Some(s"""WITH w AS (SELECT doc_id, source, text, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS wl
            FROM documents),
          h AS (SELECT doc_id, source, text, list_transform(wl, s ->
              CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % ${Dedup.PortableP}) AS hl
            FROM w),
          sc AS (SELECT doc_id, source, text,
              CASE WHEN len(hl) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(hl, x -> x % 2001 - 1000)) AS DOUBLE)
                  / (len(hl) * 1000.0) END AS score FROM h),
          tf AS (SELECT doc_id, text, score,
              row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY source) AS cnt FROM sc),
          kept AS (SELECT doc_id, text FROM tf WHERE rn <= CAST(ceil(0.5 * cnt) AS BIGINT)),
          tok AS (SELECT doc_id,
              CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0)) AS BIGINT) AS n,
              CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                % 1000000 AS u
            FROM kept),
          o AS (SELECT doc_id, n,
              coalesce(sum(n) OVER (ORDER BY u, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
            FROM tok)
        SELECT CAST(pre // 4000 AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(n) AS BIGINT) AS total_tokens
        FROM o GROUP BY 1""")),

    // --- BINARY payload chunking with per-chunk digests (blob-level dedup/
    // upload prep): hex once, O(chunks) explode, digest per fixed window —
    // cross-engine digests over the uppercase hex ---
    Q("q125_byte_chunks",
      (s, dir) => Multimodal.chunkBytes(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "payload", "doc_id", chunkSize = 64),
      Some("""WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
          n AS (SELECT doc_id, hx, CAST(ceil(length(hx) / 128.0) AS BIGINT) AS nc
            FROM b WHERE length(hx) > 0),
          c AS (SELECT doc_id, hx,
            unnest([i for i in generate_series(0, nc - 1)]) AS chunk_idx FROM n)
        SELECT doc_id, chunk_idx,
          CAST(length(substring(hx, CAST(chunk_idx * 128 + 1 AS BIGINT), 128)) // 2
            AS BIGINT) AS chunk_len,
          md5(substring(hx, CAST(chunk_idx * 128 + 1 AS BIGINT), 128)) AS digest
        FROM c""")),

    // --- CONTENT-DEFINED chunking (rolling-hash boundaries, rsync/LBFS
    // shape): boundaries move WITH the content, so chunk digests survive
    // insertions — the shift-robust complement to q125's fixed windows ---
    Q("q126_cdc_chunks",
      (s, dir) => TextAnalysis.cdcChunks(t(s, dir, "documents"), "text", "doc_id",
        k = 8, divisor = 64),
      Some(s"""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w
            FROM documents),
          d2 AS (SELECT doc_id, w FROM d WHERE len(w) > 0),
          h AS (SELECT doc_id, w, [CAST(concat('0x',
                substr(md5(array_to_string(w[i:i+7], ' ')), 1, 14)) AS BIGINT)
                % ${Dedup.PortableP}
              for i in generate_series(1, greatest(len(w)-7, 0))] AS hs FROM d2),
          c AS (SELECT doc_id, w, [i + 7 for i in generate_series(1, len(hs))
              if hs[i] % 64 = 0] AS cuts FROM h),
          c2 AS (SELECT doc_id, w, CASE WHEN len(cuts) = 0 OR cuts[-1] <> len(w)
              THEN list_append(cuts, len(w)) ELSE cuts END AS cuts FROM c),
          e AS (SELECT doc_id, w, cuts,
            unnest(generate_series(1, len(cuts))) AS j FROM c2)
        SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
          CAST(CASE WHEN j = 1 THEN 1 ELSE cuts[j-1] + 1 END AS BIGINT) AS start_word,
          CAST(cuts[j] AS BIGINT) AS end_word,
          md5(array_to_string(
            w[(CASE WHEN j = 1 THEN 1 ELSE cuts[j-1] + 1 END):cuts[j]], ' ')) AS digest
        FROM e""")),

    // --- NEAREST as-of join at the gate level (q9 backward, q95 forward):
    // for each purchase the closest click within ±1 h, exact-µs distance,
    // ties to the earlier (backward) row ---
    Q("q127_asof_nearest",
      purchaseClickAsof("nearest_click_value", Some(java.time.Duration.ofHours(1)), "nearest"),
      Some(sqlPurchaseClickAsof("nearest_click_value",
        "AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts + INTERVAL 1 HOUR",
        "abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC NULLS LAST, c.ts ASC"))),

    // --- TIME-based CV folds: event-time quantile bins (exact epoch cuts
    // broadcast) — the temporal split next to the random/group routers;
    // fold k strictly precedes fold k+1 ---
    Q("q128_time_folds",
      (s, dir) => graft.ml.MLOps.timeFolds(events(s, dir), "ts", nFolds = 5)
        .groupBy("fold")
        .agg(count(lit(1)).as("n"),
          min(unix_micros(col("ts"))).as("min_us"), max(unix_micros(col("ts"))).as("max_us")),
      Some("""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          c AS (SELECT quantile_cont(CAST(us AS DOUBLE), 0.2) AS c0,
              quantile_cont(CAST(us AS DOUBLE), 0.4) AS c1,
              quantile_cont(CAST(us AS DOUBLE), 0.6) AS c2,
              quantile_cont(CAST(us AS DOUBLE), 0.8) AS c3 FROM e)
        SELECT (CASE WHEN us > c0 THEN 1 ELSE 0 END + CASE WHEN us > c1 THEN 1 ELSE 0 END
            + CASE WHEN us > c2 THEN 1 ELSE 0 END + CASE WHEN us > c3 THEN 1 ELSE 0 END)
            AS fold,
          count(*) AS n, min(us) AS min_us, max(us) AS max_us
        FROM e, c GROUP BY 1""")),

    // --- CALIBRATION table: score bins vs observed positive rate (does
    // "0.8 mean 80%") — exact integer rates, decimal-exact mean score ---
    Q("q129_calibration",
      (s, dir) => {
        val e = events(s, dir)
          // when/otherwise, not a bare boolean cast: a null event_type must
          // label 0 like the oracle's CASE, not null
          .withColumn("label",
            when(col("event_type") === "purchase", 1).otherwise(0))
        graft.ml.MLOps.calibrationTable(e, "value", "label", binWidth = 10.0)
      },
      Some("""WITH e AS (SELECT value,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
          FROM events)
        SELECT CAST(floor(CAST(value AS DOUBLE) / 10.0) AS BIGINT) AS bin,
          count(*) AS n, CAST(sum(label) AS BIGINT) AS n_pos,
          CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
            / (1e6 * count(*)) AS mean_score,
          CAST(sum(label) AS DOUBLE) / count(*) AS pos_rate
        FROM e GROUP BY 1""")),

    // --- per-group exact MODE with a total tie order (ties -> smallest
    // value): only (keys, value, count) rows shuffle; builtin mode() makes
    // no tie promise and buffers O(distinct) per group ---
    Q("q130_mode",
      (s, dir) => Aggregations.groupMode(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "l_quantity"),
      Some("""SELECT l_returnflag, l_linestatus, l_quantity AS mode_value,
          count(*) AS mode_count
        FROM lineitem WHERE l_quantity IS NOT NULL
        GROUP BY 1, 2, 3
        QUALIFY row_number() OVER (PARTITION BY l_returnflag, l_linestatus
          ORDER BY count(*) DESC, l_quantity) = 1""")),

    // --- INTER-ARRIVAL distribution: per-user event gaps binned by the
    // histogram sketch (cadence features / session-gap calibration) ---
    Q("q131_interarrival",
      (s, dir) => Aggregations.histSketch(
        EventAnalytics.interArrival(events(s, dir), "user_id", "ts", "event_id"),
        Nil, "gap_sec", binWidth = 600.0),
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events),
          g AS (SELECT epoch_us(ts) // 1000000
              - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                // 1000000 AS gap_sec
            FROM e QUALIFY lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NOT NULL)
        SELECT CAST(floor(CAST(gap_sec AS DOUBLE) / 600.0) AS BIGINT) AS bin,
          count(*) AS n
        FROM g GROUP BY 1""")),

    // --- SOFT dedup: weight = 1/cluster_size over the portable near-dup
    // graph (keep repeated content, downweight its loss contribution) —
    // the clustering re-checked through the recursive closure like q123 ---
    Q("q132_dup_weights",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.duplicateWeights(docs,
          Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3), "doc_id")
          .select("doc_id", "cluster_size", "weight")
      },
      Some(s"""WITH RECURSIVE ${minhashCtes()},
          ${sqlClosureCtes("pairs", "comp")},
          sizes AS (SELECT comp, count(*) AS sz FROM comp GROUP BY comp)
        SELECT d.doc_id,
          coalesce(sz, 1) AS cluster_size,
          1.0 / coalesce(sz, 1) AS weight
        FROM documents d
        LEFT JOIN comp ON d.doc_id = comp.id
        LEFT JOIN sizes USING (comp)""")),

    // --- TEMPERATURE resampling (α = 0.5): target fraction per language
    // ∝ sqrt(n) — flattens the natural skew toward uniform; sqrt is IEEE
    // correctly-rounded so the whole mixture is hash-portable, and the
    // normalizing sum runs in sorted-group order on both engines ---
    Q("q133_temperature_mix",
      (s, dir) => graft.ml.MLOps.temperatureResample(
          t(s, dir, "documents"), "doc_id", "lang")
        .groupBy("lang").agg(count(lit(1)).as("n_kept")),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          t AS (SELECT max(cum) AS wt, max(tot) AS nt FROM (
            SELECT sum(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY lang
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(n) OVER () AS tot FROM c)),
          r AS (SELECT lang,
            least(1.0, sqrt(CAST(n AS DOUBLE)) / wt * CAST(nt AS DOUBLE)
              / CAST(n AS DOUBLE)) AS rate FROM c, t),
          k AS (SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
            WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % 1000000 < CAST(round(rate * 1000000) AS BIGINT))
        SELECT lang, count(*) AS n_kept FROM k GROUP BY lang""")),

    // --- CONFUSION at a threshold: tp/fp/tn/fn + exact precision/recall —
    // calibrationTable's sibling (one aggregation) ---
    Q("q134_confusion",
      (s, dir) => graft.ml.MLOps.confusionAtThreshold(
        events(s, dir).withColumn("label",
          when(col("event_type") === "purchase", 1).otherwise(0)),
        "value", "label", threshold = 50.0),
      Some("""WITH e AS (SELECT CAST(value AS DOUBLE) >= 50.0 AS pred,
            CASE WHEN event_type = 'purchase' THEN TRUE ELSE FALSE END AS label
          FROM events)
        SELECT CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn,
          CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          CASE WHEN sum(CASE WHEN pred THEN 1 ELSE 0 END) = 0 THEN 0.0
            ELSE CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN pred THEN 1 ELSE 0 END) END AS precision,
          CASE WHEN sum(CASE WHEN label THEN 1 ELSE 0 END) = 0 THEN 0.0
            ELSE CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN label THEN 1 ELSE 0 END) END AS recall
        FROM e""")),

    // --- token-ID ARRAYS per document (the shard-export form of q116's
    // long output): order-exact assembly via sorted (pos, id) structs.
    // The operator returns a real ARRAY column; the registered query
    // exports it space-joined (the reference's own wire format for
    // string-encoded arrays, aligned/retrieval_job.py:2928-2941) so the
    // driver comparator — which sorts every output column — sees a
    // scalar VARCHAR on both engines. ---
    Q("q135_token_id_arrays",
      (s, dir) => TextAnalysis.tokenizeToIdArrays(t(s, dir, "documents"), "text",
          "doc_id", minCount = 50)
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), " ")),
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          w AS (SELECT doc_id, unnest(ws) AS word,
              unnest(generate_series(1, len(ws))) AS pos FROM d),
          v AS (SELECT word, CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
              AS token_id
            FROM (SELECT word, count(*) AS c FROM w GROUP BY word) WHERE c >= 50),
          t AS (SELECT doc_id, pos, coalesce(token_id, 0) AS token_id
            FROM w LEFT JOIN v USING (word))
        SELECT doc_id,
          array_to_string(list(token_id ORDER BY pos), ' ') AS token_ids,
          CAST(len(list(token_id ORDER BY pos)) AS BIGINT) AS n_tokens
        FROM t GROUP BY doc_id""")),

    // --- MinHash ESTIMATE vs exact Jaccard on verified pairs: sketch
    // calibration (how many hashes before the exact verify join can be
    // dropped); agreement fraction = the classic unbiased estimator ---
    Q("q136_minhash_estimate",
      (s, dir) => Dedup.minhashJaccardEstimate(t(s, dir, "documents"), "text",
        "doc_id", threshold = 0.5, bands = 4, k = 3),
      Some {
        // derive width from portableCoeffs like minhashCtes does — a
        // hardcoded 16 would silently diverge if the family ever grows
        val nH = Dedup.portableCoeffs.size
        val matches = (0 until nH).map(i =>
          s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString("\n            + ")
        s"""WITH ${minhashCtes()}
        SELECT id_a, id_b, jaccard,
          CAST(($matches) AS DOUBLE) / $nH AS jaccard_est,
          abs(CAST(($matches) AS DOUBLE) / $nH - jaccard) AS est_error
        FROM pairs JOIN sigs sa ON sa.doc_id = id_a
          JOIN sigs sb ON sb.doc_id = id_b"""
      }),

    // --- PORTABLE HyperLogLog: per-source distinct-word sketch + the ALL
    // rollup built by ELEMENTWISE-MAX register merge (the HLL union) —
    // unlike q70's DataSketches binary, every register and the dyadic
    // estimator denominator are exact integers, so sketch AND merge are
    // hash-checked against DuckDB; the raw-estimator accuracy envelope is
    // spec-gated (PortableHllSpec) ---
    Q("q137_hll_portable",
      (s, dir) => {
        val tokens = t(s, dir, "documents").select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
        val regs = Aggregations.hllPortableRegisters(tokens, Seq("source"), "w")
        val allRegs = Aggregations.hllPortableRollup(regs, Nil)
          .withColumn("source", lit("ALL"))
        Aggregations.hllPortableEstimate(regs, Seq("source"))
          .unionByName(Aggregations.hllPortableEstimate(allRegs, Seq("source")))
      },
      Some(sqlHllPortableOracle(lgK = 8))),

    // --- CROSS-SOURCE duplication matrix over the portable near-dup pairs:
    // which sources duplicate which (crawl overlap / mixture-design
    // diagnostic); count + min/max jaccard per unordered source pair —
    // order-independent stats only, so the whole chain stays hash-exact ---
    Q("q138_dup_matrix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.dupMatrix(docs,
          Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3),
          "doc_id", "source")
      },
      Some(s"""WITH ${minhashCtes()},
          dg AS (SELECT doc_id, source FROM documents),
          m AS (SELECT least(ga.source, gb.source) AS group_lo,
              greatest(ga.source, gb.source) AS group_hi, jaccard
            FROM pairs JOIN dg ga ON ga.doc_id = id_a
              JOIN dg gb ON gb.doc_id = id_b)
        SELECT group_lo, group_hi, count(*) AS n_pairs,
          min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard
        FROM m GROUP BY 1, 2""")),

    // --- ONLINE point lookup under the oracle gate: latest feature row per
    // requested entity, entity keys pushed into the scan (the spec asserts
    // the PushedFilters plan; this asserts the VALUES). ts derives from the
    // unique o_orderkey so "latest" is deterministic; absent entities
    // surface as nulls, like a missing HMGET key ---
    Q("q139_online_lookup",
      (s, dir) => {
        val v = graft.contract.FeatureView("cust_latest",
          source = graft.sources.TransformSource(
            graft.sources.ParquetSource(s"$dir/orders.parquet"),
            df => df.withColumn("ts", timestamp_seconds(col("o_orderkey")))),
          entities = Seq(graft.contract.Feature("o_custkey", graft.core.FeatureType.FInt64)),
          features = Seq(
            graft.contract.Feature("o_totalprice", graft.core.FeatureType.FFloat64),
            graft.contract.Feature("o_orderstatus", graft.core.FeatureType.FString)),
          eventTimestamp = Some(graft.contract.EventTimestamp("ts")))
        val store = new graft.store.ContractStore().addView(v)
        store.onlineFeaturesFor(s,
          s.range(1, 101).select(col("id").as("o_custkey")),
          Seq("cust_latest:o_totalprice", "cust_latest:o_orderstatus"))
      },
      Some("""WITH e AS (SELECT CAST(range AS BIGINT) AS o_custkey FROM range(1, 101)),
          r AS (SELECT o_custkey, o_totalprice, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
            FROM orders WHERE o_custkey BETWEEN 1 AND 100)
        SELECT e.o_custkey, r.o_totalprice, r.o_orderstatus
        FROM e LEFT JOIN r ON r.o_custkey = e.o_custkey AND r.rn = 1""")),

    // --- EXACT SUBSTRING DEDUP SPANS (Lee et al. 2021): maximal runs of
    // word positions whose 5-gram recurs in >=2 documents. Gram agg + join
    // back + per-doc gap-and-island window — no n-squared pair join, no
    // global window ---
    Q("q140_duplicate_spans",
      (s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"), "text", "doc_id",
        k = 5, minDocs = 2),
      Some(sqlDuplicateSpansOracle)),

    // --- the 100 TB form of q140 oracle-proven in its own right (r7
    // verdict #5): hashKey=true folds hot grams with map-side combine
    // (agg + join-back) and crosses the shuffles on an 8-byte xxhash64 key
    // instead of the 5-word string. Output-identical to the window form
    // (CoreSpec equivalence on a hot-gram fixture) → SAME oracle SQL ---
    Q("q140b_duplicate_spans_hashkey",
      (s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"), "text", "doc_id",
        k = 5, minDocs = 2, hashKey = true),
      Some(sqlDuplicateSpansOracle)),

    // --- SEGMENT-LEVEL EXACT DEDUP (RefinedWeb repeated-paragraph removal
    // on a fixed 8-word segmenter): keep the globally first occurrence of
    // each segment, reassemble surviving text per document ---
    Q("q141_segment_dedup",
      (s, dir) => Dedup.segmentDedup(t(s, dir, "documents"), "text", "doc_id",
        segWords = 8),
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          s0 AS (SELECT doc_id, ws, unnest(generate_series(1,
              CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS seg_idx FROM d),
          s AS (SELECT doc_id, seg_idx,
              array_to_string(ws[(seg_idx-1)*8+1 : seg_idx*8], ' ') AS seg FROM s0),
          k AS (SELECT doc_id, seg_idx, seg,
              row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS kept
            FROM s)
        SELECT doc_id,
          coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS text_clean,
          count(*) AS n_seg,
          CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM k GROUP BY doc_id""")),

    // --- CROSS-DOC DUPLICATE FRACTION (Dolma/Gopher quality signal): share
    // of each document's 3-gram positions whose gram occurs in >=2 docs.
    // long/long IEEE division — deterministic across engines ---
    Q("q142_crossdoc_dup_frac",
      (s, dir) => Dedup.crossDocDupFraction(t(s, dir, "documents"), "text", "doc_id",
        k = 3, minDocs = 2),
      Some(sqlCrossDocDupFracOracle)),

    // --- the 100 TB form of q142 (r7 verdict #5): same skew switch as
    // q140b — pre-aggregated grams + join-back under an 8-byte hash key;
    // output-identical (skewed-corpus equivalence spec) → SAME oracle ---
    Q("q142b_crossdoc_dup_frac_hashkey",
      (s, dir) => Dedup.crossDocDupFraction(t(s, dir, "documents"), "text", "doc_id",
        k = 3, minDocs = 2, hashKey = true),
      Some(sqlCrossDocDupFracOracle)),

    // --- TOKEN-BUDGET MIXTURE ALLOCATION (the pretraining data-recipe
    // planning step): integer relative weights renormalized over present
    // groups (exact integer window sum — the double-weight form would be
    // an order-dependent float sum), per-source sampling rate and epoch
    // count for a 1M-token budget. srcX is absent from the corpus and
    // must renormalize away ---
    Q("q143_token_budget",
      (s, dir) => {
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        graft.ml.MLOps.tokenBudget(t(s, dir, "documents"), "source", tok,
          totalBudget = 1000000L,
          weights = Map("src0" -> 4L, "src1" -> 2L, "src2" -> 2L, "srcX" -> 2L))
      },
      Some("""WITH w(source, rw) AS (VALUES ('src0', CAST(4 AS BIGINT)),
              ('src1', 2), ('src2', 2), ('srcX', 2)),
          t AS (SELECT source, count(*) AS n_docs,
              CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
          j AS (SELECT t.source, n_docs, n_tokens, rw FROM t JOIN w USING (source))
        SELECT source, n_docs, n_tokens,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) AS weight,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 1000000.0 AS target_tokens,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 1000000.0
            / CAST(n_tokens AS DOUBLE) AS rate,
          CAST(ceil(CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 1000000.0
            / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS epochs
        FROM j""")),

    // --- WITHIN-DOCUMENT segment dedup (the C4 "discard repeated lines in
    // a page" rule on the fixed word-window segmenter): winner election
    // partitioned by (doc, segment), so cross-doc repeats survive ---
    Q("q144_perdoc_segment_dedup",
      (s, dir) => Dedup.segmentDedup(t(s, dir, "documents"), "text", "doc_id",
        segWords = 2, perDoc = true),
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          s0 AS (SELECT doc_id, ws, unnest(generate_series(1,
              CAST(ceil(len(ws) / 2.0) AS BIGINT))) AS seg_idx FROM d),
          s AS (SELECT doc_id, seg_idx,
              array_to_string(ws[(seg_idx-1)*2+1 : seg_idx*2], ' ') AS seg FROM s0),
          k AS (SELECT doc_id, seg_idx, seg,
              row_number() OVER (PARTITION BY doc_id, seg ORDER BY doc_id, seg_idx) = 1 AS kept
            FROM s)
        SELECT doc_id,
          coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS text_clean,
          count(*) AS n_seg,
          CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM k GROUP BY doc_id""")),

    // --- MATERIALIZE the token-budget recipe: floor(rate) full epochs per
    // row + one md5-coin fractional copy; rate<1 downsamples, rate>1
    // epoch-repeats, absent groups drop. epoch = 0-based copy index ---
    Q("q145_budget_materialize",
      (s, dir) => graft.ml.MLOps.materializeBudget(
        t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.0))
        .select("doc_id", "source", "epoch"),
      Some("""WITH r(source, nc, fc, thr) AS (VALUES
              ('src0', 3, CAST(2 AS BIGINT), CAST(500000 AS BIGINT)),
              ('src1', 1, 0, 250000), ('src2', 1, 1, 0)),
          j AS (SELECT doc_id, d.source, nc, fc, thr
            FROM documents d JOIN r USING (source)),
          e AS (SELECT doc_id, source, fc, thr,
              unnest(generate_series(0, nc - 1)) AS ep FROM j)
        SELECT doc_id, source, CAST(ep AS BIGINT) AS epoch
        FROM e WHERE ep < fc OR
          CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'||CAST(ep AS VARCHAR)), 1, 8)
            AS BIGINT) % 1000000 < thr""")),

    // --- QUALITY-THRESHOLD RETENTION CURVE (the filter-ablation table):
    // docs/tokens a score>=t filter keeps, per candidate threshold. One
    // banded scan + driver-side suffix sum over the bounded band table ---
    Q("q146_retention_curve",
      (s, dir) => {
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        TextAnalysis.retentionCurve(t(s, dir, "documents"),
          col("n_chars"), tok, Seq(250.0, 280.0, 300.0, 320.0))
      },
      Some("""WITH t(threshold) AS (VALUES (CAST(250 AS DOUBLE)), (280), (300), (320)),
          d AS (SELECT n_chars, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS tok
            FROM documents),
          x AS (SELECT threshold, n_chars, tok FROM t CROSS JOIN d)
        SELECT threshold,
          CAST(count(CASE WHEN n_chars >= threshold THEN 1 END) AS BIGINT) AS n_docs_kept,
          CAST(coalesce(sum(CASE WHEN n_chars >= threshold THEN tok END), 0) AS BIGINT)
            AS n_tokens_kept,
          CAST(count(CASE WHEN n_chars >= threshold THEN 1 END) AS DOUBLE) / count(*)
            AS doc_frac,
          CAST(coalesce(sum(CASE WHEN n_chars >= threshold THEN tok END), 0) AS DOUBLE)
            / sum(tok) AS token_frac
        FROM x GROUP BY threshold""")),

    // --- ROUND-5 CAPSTONE RECIPE CHAIN, hash-verified as ONE query:
    // cross-doc dup-fraction screen (keep dup_frac <= 0.8) -> token-budget
    // rates over the surviving corpus (integer weights src0:3 src1:1,
    // 50k-token budget) -> deterministic epoch materialization (floor(rate)
    // epochs + md5-coin fractional copy). Every stage's arithmetic is
    // exact-operand IEEE, so the three-operator composition stays
    // bit-portable end to end ---
    Q("q147_corpus_recipe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val frac = Dedup.crossDocDupFraction(docs, "text", "doc_id", k = 3, minDocs = 2)
        val kept = docs.join(
          frac.filter(col("dup_frac") <= 0.8).select("doc_id"), Seq("doc_id"))
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        val budget = graft.ml.MLOps.tokenBudget(kept, "source", tok, 50000L,
          Map("src0" -> 3L, "src1" -> 1L))
        // O(groups) driver pull — the rates table is the broadcast-scale
        // side by construction
        val rates = budget.select(col("source"), col("rate")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        graft.ml.MLOps.materializeBudget(kept, "doc_id", "source", rates)
          .select("doc_id", "source", "epoch")
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos FROM d),
          g AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+2], ' ') AS gram FROM g0),
          dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          f AS (SELECT g.doc_id, CAST(sum(CASE WHEN dupg.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS dup_frac
            FROM g LEFT JOIN dupg USING (gram) GROUP BY g.doc_id),
          kept AS (SELECT d0.doc_id, d0.source, d0.text
            FROM documents d0 LEFT JOIN f USING (doc_id)
            WHERE coalesce(dup_frac, 0.0) <= 0.8),
          w(source, rw) AS (VALUES ('src0', CAST(3 AS BIGINT)), ('src1', 1)),
          t AS (SELECT source, CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0))) AS BIGINT) AS n_tokens
            FROM kept GROUP BY source),
          r AS (SELECT t.source, CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE)
                * 50000.0 / CAST(n_tokens AS DOUBLE) AS rate
            FROM t JOIN w USING (source)),
          p AS (SELECT source, CAST(ceil(rate) AS BIGINT) AS nc,
              CAST(floor(rate) AS BIGINT) AS fc,
              CAST(floor((rate - floor(rate)) * 1000000) AS BIGINT) AS thr FROM r),
          j AS (SELECT k.doc_id, k.source, nc, fc, thr FROM kept k JOIN p USING (source)),
          e AS (SELECT doc_id, source, fc, thr,
              unnest(generate_series(0, nc - 1)) AS ep FROM j)
        SELECT doc_id, source, CAST(ep AS BIGINT) AS epoch FROM e
        WHERE ep < fc OR
          CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'||CAST(ep AS VARCHAR)), 1, 8)
            AS BIGINT) % 1000000 < thr""")),

    // --- SPAN-LEVEL BOILERPLATE EXCISION (the removal step of exact
    // substring dedup): strip every word position covered by a cross-doc
    // duplicated >=5-gram run, reassemble the survivors ---
    Q("q148_strip_spans",
      (s, dir) => Dedup.stripDuplicateSpans(t(s, dir, "documents"), "text", "doc_id",
        k = 5, minDocs = 2),
      Some("""WITH d AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos FROM d),
          g AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+4], ' ') AS gram FROM g0),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          q0 AS (SELECT doc_id, pos,
              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM g JOIN dup USING (gram)),
          spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
            FROM q0 GROUP BY doc_id, grp),
          w AS (SELECT doc_id, unnest(ws) AS word,
              unnest(generate_series(1, len(ws))) AS pos FROM d),
          cut AS (SELECT DISTINCT w.doc_id, w.pos FROM w JOIN spans s
            ON s.doc_id = w.doc_id AND w.pos BETWEEN s.span_start AND s.span_end)
        SELECT w.doc_id,
          coalesce(string_agg(word, ' ' ORDER BY w.pos) FILTER (WHERE cut.pos IS NULL), '')
            AS text_clean,
          count(*) AS n_words,
          CAST(sum(CASE WHEN cut.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM w LEFT JOIN cut ON cut.doc_id = w.doc_id AND cut.pos = w.pos
        GROUP BY w.doc_id""")),

    // --- PER-GROUP retention curves (per-source threshold tuning):
    // fractions within each source, same banded-scan + driver suffix-sum
    // shape as q146 ---
    Q("q149_retention_by_source",
      (s, dir) => {
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        TextAnalysis.retentionCurveBy(t(s, dir, "documents"),
          col("n_chars"), tok, Seq(260.0, 300.0), groupCol = Some("source"))
      },
      Some("""WITH t(threshold) AS (VALUES (CAST(260 AS DOUBLE)), (300)),
          d AS (SELECT source, n_chars, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tws -> length(tws) > 0)) AS BIGINT) AS tok
            FROM documents),
          x AS (SELECT threshold, source, n_chars, tok FROM t CROSS JOIN d)
        SELECT source AS "group", threshold,
          CAST(count(CASE WHEN n_chars >= threshold THEN 1 END) AS BIGINT) AS n_docs_kept,
          CAST(coalesce(sum(CASE WHEN n_chars >= threshold THEN tok END), 0) AS BIGINT)
            AS n_tokens_kept,
          CAST(count(CASE WHEN n_chars >= threshold THEN 1 END) AS DOUBLE) / count(*)
            AS doc_frac,
          CAST(coalesce(sum(CASE WHEN n_chars >= threshold THEN tok END), 0) AS DOUBLE)
            / sum(tok) AS token_frac
        FROM x GROUP BY source, threshold""")),

    // --- PORTABLE COUNT-MIN SKETCH: the frequency sibling of q137's
    // portable HLL — integer counters, counter-wise-sum merge, min-over-
    // depth point estimates; sketch, rollup AND estimates all recomputed by
    // the oracle. exact_count rides along so the never-undercounts
    // guarantee is visible in the result itself ---
    Q("q150_cms_portable",
      (s, dir) => {
        val probes = Seq("spark", "table", "hash", "value", "the", "zz_absent")
        val tokens = t(s, dir, "documents").select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
        val sk = Aggregations.cmsPortableSketch(tokens, Seq("source"), "w")
        val allSk = Aggregations.cmsPortableRollup(sk, Nil)
          .withColumn("source", lit("ALL"))
        val est = Aggregations.cmsPortableEstimate(sk, Seq("source"), probes)
          .unionByName(Aggregations.cmsPortableEstimate(allSk, Seq("source"), probes))
        val exact = tokens.filter(col("w").isin(probes: _*))
          .groupBy("source", "w").agg(count(lit(1)).as("exact_count"))
        val exactAll = exact.groupBy("w")
          .agg(sum(col("exact_count")).as("exact_count"))
          .withColumn("source", lit("ALL"))
        est.join(exact.unionByName(exactAll).withColumnRenamed("w", "probe"),
            Seq("source", "probe"), "left")
          .na.fill(0L, Seq("exact_count"))
      },
      Some("""WITH w AS (SELECT source,
            unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS val FROM documents),
          dep(dep) AS (VALUES (0), (1), (2), (3)),
          hx AS (SELECT source, dep,
              CAST(concat('0x', substr(md5(val), dep * 8 + 1, 8))
                AS BIGINT) % 1024 AS slot
            FROM w CROSS JOIN dep),
          sk AS (SELECT source, dep, slot, count(*) AS n FROM hx GROUP BY 1, 2, 3),
          skall AS (SELECT 'ALL' AS source, dep, slot, CAST(sum(n) AS BIGINT) AS n
            FROM sk GROUP BY 2, 3),
          u AS (SELECT * FROM sk UNION ALL SELECT * FROM skall),
          p(probe) AS (VALUES ('spark'), ('table'), ('hash'), ('value'), ('the'), ('zz_absent')),
          ph AS (SELECT probe, dep,
              CAST(concat('0x', substr(md5(probe), dep * 8 + 1, 8))
                AS BIGINT) % 1024 AS slot
            FROM p CROSS JOIN dep),
          grp AS (SELECT DISTINCT source FROM u),
          est AS (SELECT grp.source, ph.probe,
              CAST(min(coalesce(u.n, 0)) AS BIGINT) AS est_count
            FROM grp CROSS JOIN ph
              LEFT JOIN u ON u.source = grp.source AND u.dep = ph.dep AND u.slot = ph.slot
            GROUP BY 1, 2),
          ex AS (SELECT source, val AS probe, count(*) AS c FROM w
            WHERE val IN ('spark', 'table', 'hash', 'value', 'the', 'zz_absent')
            GROUP BY 1, 2),
          exall AS (SELECT 'ALL' AS source, probe, CAST(sum(c) AS BIGINT) AS c
            FROM ex GROUP BY 2),
          exu AS (SELECT * FROM ex UNION ALL SELECT * FROM exall)
        SELECT est.source, est.probe, est_count,
          CAST(coalesce(exu.c, 0) AS BIGINT) AS exact_count
        FROM est LEFT JOIN exu ON exu.source = est.source AND exu.probe = est.probe""")),

    // --- DSIR data selection (Xie et al. 2023), integer-quantized: hashed-
    // unigram likelihood-ratio scores toward the lang='en' target, exact
    // long sums, top-25% selection with integer k and deterministic ties ---
    Q("q151_dsir_select",
      (s, dir) => graft.ml.MLOps.dsirSelect(t(s, dir, "documents"), "text", "doc_id",
        targetPred = col("lang") === "en", buckets = 4096, scale = 1000000L, keepPct = 25),
      Some(s"""WITH $sqlDsirRankCtes
        SELECT doc_id, dsir_score, CAST(rn AS BIGINT) AS "rank",
          rn <= (total * 25 + 99) // 100 AS selected FROM r""")),

    // --- DSIR THRESHOLD SELECT — the 100 TB form of q151: same integer
    // scores, but the top-25% cut is a score THRESHOLD found by
    // iteratively-refined banded histograms (O(bands) driver longs per
    // round, <= 6 rounds) instead of a global single-task sort; ties AT the
    // cut are all kept. The oracle restates the convention directly: the
    // k-th largest score is the threshold, selected = score >= threshold ---
    Q("q151b_dsir_threshold",
      (s, dir) => graft.ml.MLOps.dsirSelectByThreshold(t(s, dir, "documents"),
        "text", "doc_id", targetPred = col("lang") === "en",
        buckets = 4096, scale = 1000000L, keepPct = 25),
      Some(s"""WITH $sqlDsirRankCtes,
          t AS (SELECT min(dsir_score) AS thr FROM r
            WHERE rn <= (total * 25 + 99) // 100)
        SELECT doc_id, dsir_score, dsir_score >= (SELECT thr FROM t) AS selected
        FROM al""")),

    // --- GOPHER rule-set filter (Rae et al. 2021 A1.1): the published hard
    // quality gate with a per-rule failure bitmask; counting + single IEEE
    // divisions only, so the whole rule table hash-matches. minWords
    // lowered to 20 for this corpus (30-60-word synthetic docs) — the
    // paper's 50 is the default ---
    Q("q152_gopher_filter",
      (s, dir) => TextAnalysis.gopherFilter(t(s, dir, "documents"), "text", "doc_id",
        minWords = 20),
      Some(s"""WITH d AS (${sqlGopherSplit("doc_id, text")}),
          m AS (${sqlGopherMetrics("d", stopHits = true)}),
          x AS (SELECT doc_id, n_words,
              CASE WHEN n_words = 0 THEN NULL
                ELSE CAST(sum_len AS DOUBLE) / n_words END AS mean_word_len,
              CASE WHEN n_words = 0 THEN NULL
                ELSE CAST(hash_cnt + dots_cnt AS DOUBLE) / n_words END AS symbol_ratio,
              CASE WHEN n_lines = 0 THEN 0.0
                ELSE CAST(bullet_cnt AS DOUBLE) / n_lines END AS bullet_frac,
              CASE WHEN n_lines = 0 THEN 0.0
                ELSE CAST(ellipsis_cnt AS DOUBLE) / n_lines END AS ellipsis_frac,
              CASE WHEN n_words = 0 THEN NULL
                ELSE CAST(alpha_cnt AS DOUBLE) / n_words END AS alpha_frac,
              stop_hits AS n_stop_hits
            FROM m),
          y AS (SELECT *,
              CAST(CASE WHEN n_words < 20 OR n_words > 100000 THEN 1 ELSE 0 END
                + CASE WHEN mean_word_len IS NULL OR mean_word_len < 3.0
                    OR mean_word_len > 10.0 THEN 2 ELSE 0 END
                + CASE WHEN symbol_ratio IS NOT NULL AND symbol_ratio >= 0.1 THEN 4 ELSE 0 END
                + CASE WHEN bullet_frac >= 0.9 THEN 8 ELSE 0 END
                + CASE WHEN ellipsis_frac >= 0.3 THEN 16 ELSE 0 END
                + CASE WHEN alpha_frac IS NULL OR alpha_frac < 0.8 THEN 32 ELSE 0 END
                + CASE WHEN n_stop_hits < 2 THEN 64 ELSE 0 END AS BIGINT) AS fail_mask
            FROM x)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
          ellipsis_frac, alpha_frac, n_stop_hits, fail_mask, fail_mask = 0 AS keep
        FROM y""")),

    // --- QUALITY->SELECTION->RECIPE CAPSTONE, hash-verified as ONE query:
    // Gopher rule gate (q152, bits 0-5 — the English-stopword bit 6 is
    // masked out for this multilingual corpus, exactly the per-language
    // rule adaptation the bitmask exists for) -> DSIR top-50% toward the
    // lang='en' target in its THRESHOLD form (q151b, bucket stats over the
    // GATED corpus; banded-histogram cut, no global sort) ->
    // per-language token-budget rates (q143 arithmetic, integer weights
    // en4/de2/es2/fr1/zh1, 100k-token budget). The three-stage composition
    // is the curation pipeline a pretraining run actually executes, and
    // every stage is exact-operand arithmetic so the chain stays
    // bit-portable end to end ---
    Q("q153_quality_dsir_recipe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // each stage's surviving-id set is tiny (O(docs) ids, no text) and
        // reused by every downstream stage — localCheckpoint truncates the
        // lineage so the Gopher HOFs and the DSIR token fan run ONCE, not
        // once per downstream reuse
        // ruleMask=63 disables the English-stopword rule AT PLAN TIME, so
        // its 8 array_contains passes never run (fail_mask(63) ≡
        // fail_mask & 63, spec-gated) — post-hoc masking would still
        // compute the metric inside the sum
        val gateIds = TextAnalysis.gopherFilter(docs, "text", "doc_id", minWords = 20,
            ruleMask = 63L)
          .filter(col("fail_mask") === 0L)
          .select("doc_id").localCheckpoint(true)
        val kept = docs.join(gateIds, Seq("doc_id"))
        // THE 100 TB DSIR form (threshold select, r7 verdict #2): the
        // flagship recipe a user copies must be the shape that survives
        // 10^9 docs — banded-histogram threshold refinement (O(bands)
        // driver longs per round), not the exact-k global sort. Ties AT
        // the threshold are all kept; the oracle states the same rule
        val selIds = graft.ml.MLOps.dsirSelectByThreshold(kept, "text", "doc_id",
            targetPred = col("lang") === "en", buckets = 4096, keepPct = 50)
          .filter(col("selected")).select("doc_id").localCheckpoint(true)
        val corpus = kept.join(selIds, Seq("doc_id"))
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        graft.ml.MLOps.tokenBudget(corpus, "lang", tok, 100000L,
          Map("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L, "zh" -> 1L))
      },
      Some(s"""WITH d0 AS (${sqlGopherSplit("doc_id, lang, text")}),
          m AS (${sqlGopherMetrics("d0")}),
          gm AS (${sqlGopherGate()}),
          kept AS (SELECT d0.* FROM d0 JOIN gm USING (doc_id)),
          ${sqlDsirSelectCtes("kept")},
          corpus AS (SELECT kept.* FROM kept JOIN sel USING (doc_id)),
          wt(lang, rw) AS (VALUES ('en', CAST(4 AS BIGINT)), ('de', 2), ('es', 2),
            ('fr', 1), ('zh', 1)),
          t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0))) AS BIGINT) AS n_tokens
            FROM corpus GROUP BY lang)
        SELECT t.lang, n_docs, n_tokens,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) AS weight,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 100000.0 AS target_tokens,
          CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 100000.0
            / CAST(n_tokens AS DOUBLE) AS rate,
          CAST(ceil(CAST(rw AS DOUBLE) / CAST(sum(rw) OVER () AS DOUBLE) * 100000.0
            / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS epochs
        FROM t JOIN wt USING (lang)"""))
  )

  /** Closed-form Morton-interleave SQL for [[Layout.zorderKey]]: per
    * dimension d (of n) and bit b, ((bucket_d >> b) & 1) << (b*n + d) —
    * generated term-by-term so the oracle needs no per-row grouping key. */
  private def sqlZorderTerms(buckets: Seq[String], bits: Int): String =
    (for {
      b <- 0 until bits
      (bk, i) <- buckets.zipWithIndex
    } yield s"((($bk >> $b) & 1) << ${b * buckets.length + i})").mkString(" + ")

  // ---------- layout / graph-rank queries (round 5) ----------

  private val layoutQueries: Seq[Q] = Seq(
    // --- Z-ORDER (Morton) layout audit: two-dimensional clustering key +
    // per-file min/max envelopes — the file-skipping table-maintenance
    // operator (Delta OPTIMIZE ZORDER BY analog), exact integer rescale +
    // bit interleave so the whole layout plan hash-matches. 64 files over
    // a 16-bit key space; the envelope widths ARE the skipping quality ---
    Q("q154_zorder_layout",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // plan-time bounds (the TF-IDF corpus-count idiom: one O(1) agg,
        // baked as literals — a 1-row join would plan a banned BNL join)
        val b = li.agg(min("l_orderkey"), max("l_orderkey"),
          min("l_partkey"), max("l_partkey")).collect().head
        Layout.zorderFileSummary(li, Seq("l_orderkey", "l_partkey"),
          mins = Seq(b.getLong(0), b.getLong(2)), maxs = Seq(b.getLong(1), b.getLong(3)),
          bits = 8, nFiles = 64)
      },
      Some(s"""WITH bd AS (SELECT min(l_orderkey) AS mn1, max(l_orderkey) AS mx1,
              min(l_partkey) AS mn2, max(l_partkey) AS mx2 FROM lineitem),
          bk AS (SELECT l_orderkey AS k1, l_partkey AS k2,
              ((l_orderkey - mn1) * 256) // (mx1 - mn1 + 1) AS b1,
              ((l_partkey - mn2) * 256) // (mx2 - mn2 + 1) AS b2
            FROM lineitem CROSS JOIN bd),
          z AS (SELECT k1, k2,
              CAST(${sqlZorderTerms(Seq("b1", "b2"), 8)} AS BIGINT) AS zkey FROM bk)
        SELECT zkey // 1024 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(min(k1) AS BIGINT) AS min_l_orderkey, CAST(max(k1) AS BIGINT) AS max_l_orderkey,
          CAST(min(k2) AS BIGINT) AS min_l_partkey, CAST(max(k2) AS BIGINT) AS max_l_partkey,
          min(zkey) AS min_zkey, max(zkey) AS max_zkey
        FROM z GROUP BY 1""")),

    // --- SMALL-FILE COMPACTION PLAN: next-fit bin-packing of a per-source
    // file manifest (window cumsum DIV target over METADATA rows, never
    // data) — the OPTIMIZE/rewrite work list for upsert-decayed tables ---
    Q("q155_compaction_plan",
      (s, dir) => {
        val manifest = t(s, dir, "documents")
          .groupBy(col("source"), (col("doc_id") % 40).as("file_id"))
          .agg(sum("n_chars").cast("long").as("bytes"))
        Layout.compactionPlan(manifest, Seq("source"), "file_id", "bytes",
          targetBytes = 1500L)
      },
      Some("""WITH f AS (SELECT source, doc_id % 40 AS file_id,
              CAST(sum(n_chars) AS BIGINT) AS bytes
            FROM documents GROUP BY 1, 2),
          c AS (SELECT source, file_id, bytes,
              CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM f)
        SELECT source, file_id, bytes, cum_before, cum_before // 1500 AS out_bin
        FROM c""")),

    // --- INTEGER-MASS PAGERANK (3 fixed iterations, damping 85%) over the
    // customer-nation -> supplier-nation trade graph: the CommonCrawl-style
    // source-ranking primitive, made hash-exact by integer mass
    // (contrib = mass*85*w DIV (100*outw); float PageRank is
    // addition-order-dependent and unverifiable cross-engine) ---
    Q("q156_nation_rank",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        val ranks = GraphRank.pageRank(edges, t(s, dir, "nation").select("n_nationkey"),
          "n_nationkey", "src", "dst", "w", iterations = 3)
        ranks.join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          Seq("n_nationkey"))
      },
      Some("""WITH e0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
              CAST(count(*) AS BIGINT) AS w
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2),
          ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e0 GROUP BY 1),
          e AS (SELECT e0.src, e0.dst, e0.w, ow.outw FROM e0 JOIN ow USING (src)),
          nd AS (SELECT n_nationkey AS node, n_name FROM nation),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS mass FROM nd),
          c1 AS (SELECT dst AS node, CAST(sum((mass * 85 * w) // (100 * outw)) AS BIGINT) AS m
            FROM e JOIN r0 ON r0.node = e.src GROUP BY 1),
          r1 AS (SELECT nd.node, CAST(150000 + coalesce(m, 0) AS BIGINT) AS mass
            FROM nd LEFT JOIN c1 USING (node)),
          c2 AS (SELECT dst AS node, CAST(sum((mass * 85 * w) // (100 * outw)) AS BIGINT) AS m
            FROM e JOIN r1 ON r1.node = e.src GROUP BY 1),
          r2 AS (SELECT nd.node, CAST(150000 + coalesce(m, 0) AS BIGINT) AS mass
            FROM nd LEFT JOIN c2 USING (node)),
          c3 AS (SELECT dst AS node, CAST(sum((mass * 85 * w) // (100 * outw)) AS BIGINT) AS m
            FROM e JOIN r2 ON r2.node = e.src GROUP BY 1),
          r3 AS (SELECT nd.node, CAST(150000 + coalesce(m, 0) AS BIGINT) AS mass
            FROM nd LEFT JOIN c3 USING (node))
        SELECT nd.node AS n_nationkey, nd.n_name, r3.mass AS rank_mass,
          CAST(coalesce(ow.outw, 0) AS BIGINT) AS out_weight
        FROM nd JOIN r3 ON r3.node = nd.node LEFT JOIN ow ON ow.src = nd.node""")),

    // --- STREAMING NEAR-DUP, batch-equivalent form under the oracle gate
    // (r7 verdict #6): the exact operator algebra of
    // Streaming.nearDupStream — banded LSH candidates filtered by the
    // signature-AGREEMENT estimator, NO exact-verify join (a stream never
    // sees shingle sets, only retained signatures) — run as a batch over
    // documents in the portable hash family. The incremental≡batch
    // property is spec-gated on the streamed op itself
    // (StreamingNearDupIncrementalSpec); this row hash-proves the shared
    // pipeline. Oracle reuses minhashCtes' sigs+cand CTEs and restates the
    // estimator as integer coordinate agreement / 16 ---
    Q("q157_stream_neardup_batch",
      (s, dir) => Dedup.nearDupByEstimate(t(s, dir, "documents"), "text",
        "doc_id", threshold = 0.5, bands = 4, k = 3),
      Some(sqlNearDupEstimateOracle(0.5, bands = 4, k = 3))),

    // --- QUALITY-AWARE cluster canonicalization: per near-dup cluster keep
    // the LONGEST doc (n_chars, ties by doc_id) — the production keep-rule
    // (RefinedWeb keeps the highest-quality duplicate, not the min-id one).
    // CC labels per q69's portable pair chain; one component-partitioned
    // top-1 window, singletons keep themselves ---
    Q("q158_canonicalize_quality",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.canonicalizeBy(docs,
          Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3),
          "doc_id", col("n_chars"))
          .select("doc_id", "source", "lang", "n_chars")
      },
      Some(s"""WITH RECURSIVE ${minhashCtes()},
          ${sqlClosureCtes("pairs", "cc")},
          d AS (SELECT doc_id, source, lang, n_chars,
              coalesce(cc.comp, doc_id) AS comp
            FROM documents LEFT JOIN cc ON cc.id = doc_id),
          win AS (SELECT doc_id, source, lang, n_chars,
              row_number() OVER (PARTITION BY comp
                ORDER BY n_chars DESC, doc_id) AS rn FROM d)
        SELECT doc_id, source, lang, n_chars FROM win WHERE rn = 1""")),

    // --- INCREMENTAL NEAR-DUP (daily-ingest shape, near-dup analog of
    // q71): the new batch (doc_id % 5 = 0) bands against the full band
    // index — corpus×corpus never pairs, so the ingest is O(new ×
    // collisions). Result ≡ the union's full pair set filtered to
    // new-touching pairs, which is exactly what the oracle states ---
    Q("q159_neardup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.nearDuplicatesAgainstPortable(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id", threshold = 0.5, bands = 4, k = 3)
      },
      Some(s"""WITH ${minhashCtes()}
        SELECT id_a, id_b, jaccard FROM pairs
        WHERE id_a % 5 = 0 OR id_b % 5 = 0""")),

    // --- DISTRIBUTION DISTANCE (mixture-shift diagnostic): exact
    // total-variation distance between per-source unigram OCCURRENCE
    // distributions — integer numerator (shared-word |cA·TB − cB·TA| sum
    // plus the closed-form one-sided mass), ONE final IEEE division.
    // Complements q108's Jaccard (set overlap) with rate shift — the
    // signal DoReMi-style domain reweighting actually moves ---
    Q("q160_distribution_distance",
      (s, dir) => TextAnalysis.distributionDistance(
        t(s, dir, "documents"), "text", "source"),
      Some("""WITH w AS (SELECT source AS slice,
            unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS w
          FROM documents),
        c AS (SELECT slice, w, CAST(count(*) AS BIGINT) AS n FROM w
          WHERE len(w) > 0 GROUP BY 1, 2),
        t AS (SELECT slice, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1),
        shared AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
            CAST(sum(abs(a.n * tb.t - b.n * ta.t)) AS BIGINT) AS shared_diff,
            CAST(sum(a.n) AS BIGINT) AS sa, CAST(sum(b.n) AS BIGINT) AS sb
          FROM c a JOIN c b ON a.w = b.w AND a.slice < b.slice
          JOIN t ta ON ta.slice = a.slice JOIN t tb ON tb.slice = b.slice
          GROUP BY 1, 2),
        pairs AS (SELECT ta.slice AS slice_a, tb.slice AS slice_b,
            ta.t AS ta, tb.t AS tb
          FROM t ta JOIN t tb ON ta.slice < tb.slice)
      SELECT p.slice_a, p.slice_b, p.ta, p.tb,
        CAST(coalesce(shared_diff, 0)
          + (p.ta - coalesce(sa, 0)) * p.tb
          + (p.tb - coalesce(sb, 0)) * p.ta AS DOUBLE)
          / (2.0 * p.ta * p.tb) AS tv_distance
      FROM pairs p LEFT JOIN shared
        ON shared.slice_a = p.slice_a AND shared.slice_b = p.slice_b""")),

    // --- BPE trainer, round-1 slice (tokenizer training upstream of
    // q116's tokenize-to-ids): occurrence-weighted adjacent character-pair
    // counts over the bounded (word, cnt) vocabulary, top-20 with
    // deterministic (count desc, l, r) ties. The iterative merge rounds
    // are driver-steered (one O(1) pull per round) and spec-gated against
    // a single-threaded reference trainer (BpeSpec) ---
    Q("q161_bpe_pair_counts",
      (s, dir) => graft.ops.Bpe.firstRoundPairs(t(s, dir, "documents"), "text", 20),
      Some("""WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS word
            FROM documents),
        wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w
          WHERE len(word) > 0 GROUP BY 1),
        p AS (SELECT substr(word, CAST(i AS INTEGER), 1) AS l,
            substr(word, CAST(i AS INTEGER) + 1, 1) AS r, cnt
          FROM (SELECT word, cnt,
              unnest(generate_series(1, len(word) - 1)) AS i FROM wc)),
        pc AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n FROM p GROUP BY 1, 2)
      SELECT l, r, n FROM pc ORDER BY n DESC, l, r LIMIT 20""")),

    // --- CORPUS CARD capstone: the per-source data card a curation run
    // publishes — size, token mass, vocabulary, language mix, quality-gate
    // pass rate, exact- and near-duplicate exposure — composed from the
    // registered operators (q28 lang-id, q152 Gopher gate with the
    // stopword bit masked, q22-family exact dup, q136-family portable
    // near-dup) and hash-verified as ONE query. Every rate is an
    // integer÷integer IEEE division; the only corpus-wide shuffles are
    // the (doc, text-hash) dup window, the word-distinct count, and the
    // near-dup band join — each already individually plan-audited ---
    Q("q162_corpus_card",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val tok = TextAnalysis.tokenCountWs(col("text")).cast("long")
        // dup window keyed on md5(text), MIRRORED in the oracle (PARTITION
        // BY md5(text)): both engines see identical collisions (md5 is the
        // same function in Spark and DuckDB), so the hash-match is exact
        // while the exchange key stays 32 bytes instead of the full text —
        // the scale reason to hash at all
        val base = docs.select(col("doc_id"), col("source"), tok.as("n_tok"),
          (TextAnalysis.langIdDeterministic(col("text")) === "en")
            .cast("long").as("is_en"),
          md5(col("text")).as("__th"))
        val perDoc = base.withColumn("dup",
          (count(lit(1)).over(Window.partitionBy(col("__th"))) > 1).cast("long"))
        val gop = TextAnalysis.gopherFilter(docs, "text", "doc_id",
            minWords = 20, ruleMask = 63L)
          .select(col("doc_id"), (col("fail_mask") === 0L).cast("long").as("gpass"))
        val ndIds = Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3)
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct().withColumn("near", lit(1L))
        val dw = docs.select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("source").agg(countDistinct(col("w")).as("n_distinct_words"))
        perDoc.join(gop, "doc_id")
          .join(ndIds, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
            sum("is_en").as("__en"), sum("gpass").as("__gp"),
            sum("dup").as("__dup"), sum(coalesce(col("near"), lit(0L))).as("__nd"))
          .join(dw, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_distinct_words"),
            (col("n_tokens").cast("double") / col("n_docs").cast("double"))
              .as("mean_doc_tokens"),
            (col("__en").cast("double") / col("n_docs").cast("double")).as("pct_en"),
            (col("__gp").cast("double") / col("n_docs").cast("double"))
              .as("gopher_pass_frac"),
            (col("__dup").cast("double") / col("n_docs").cast("double"))
              .as("exact_dup_frac"),
            (col("__nd").cast("double") / col("n_docs").cast("double"))
              .as("near_dup_frac"))
      },
      Some(s"""WITH ${minhashCtes()},
          nd AS (SELECT DISTINCT id FROM
            (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
          lang AS (SELECT doc_id, ${sqlLangPick("plang")}
            FROM (SELECT doc_id, $sqlLangScores
              FROM (SELECT doc_id, lower(text) AS t FROM documents))),
          gm AS (${sqlGopherMetrics(s"(${sqlGopherSplit("doc_id, text")})")}),
          gp AS (SELECT doc_id,
              CASE WHEN n_words >= 20 AND n_words <= 100000
                AND n_words > 0 AND CAST(sum_len AS DOUBLE) / n_words >= 3.0
                AND CAST(sum_len AS DOUBLE) / n_words <= 10.0
                AND CAST(hash_cnt + dots_cnt AS DOUBLE) / n_words < 0.1
                AND (n_lines = 0 OR CAST(bullet_cnt AS DOUBLE) / n_lines < 0.9)
                AND (n_lines = 0 OR CAST(ellipsis_cnt AS DOUBLE) / n_lines < 0.3)
                AND CAST(alpha_cnt AS DOUBLE) / n_words >= 0.8
              THEN 1 ELSE 0 END AS gpass
            FROM gm),
          d AS (SELECT doc_id, source, text,
              len(list_filter(string_split_regex(trim(text), '\\s+'), tws -> length(tws) > 0)) AS n_tok,
              CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1 THEN 1 ELSE 0 END AS dup
            FROM documents),
          dw AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_words
            FROM (SELECT source, unnest(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'),
                x -> length(x) > 0)) AS w FROM documents)
            GROUP BY source),
          card AS (SELECT d.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN plang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
              CAST(sum(gpass) AS BIGINT) AS n_gp,
              CAST(sum(dup) AS BIGINT) AS n_dup,
              CAST(sum(CASE WHEN nd.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_nd
            FROM d JOIN lang USING (doc_id) JOIN gp USING (doc_id)
              LEFT JOIN nd ON nd.id = d.doc_id
            GROUP BY d.source)
        SELECT card.source, n_docs, n_tokens, n_distinct_words,
          CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_tokens,
          CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pct_en,
          CAST(n_gp AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gopher_pass_frac,
          CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS exact_dup_frac,
          CAST(n_nd AS DOUBLE) / CAST(n_docs AS DOUBLE) AS near_dup_frac
        FROM card JOIN dw ON dw.source = card.source""")),

    // --- LEAKAGE-SAFE train/test split: route whole near-dup COMPONENTS
    // through one md5 coin — a test doc's near-duplicate can never sit in
    // train (the dedup-before-eval guard of Lee et al. 2021). CC labels
    // per q69's chain; singletons are their own component ---
    Q("q163_leakage_safe_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ml.MLOps.leakageSafeSplit(docs,
          Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
            threshold = 0.5, bands = 4, k = 3),
          "doc_id", trainPct = 80)
          .select("doc_id", "component", "split")
      },
      Some(s"""WITH RECURSIVE ${minhashCtes()},
          ${sqlClosureCtes("pairs", "cc")},
          d AS (SELECT doc_id, coalesce(cc.comp, doc_id) AS component
            FROM documents LEFT JOIN cc ON cc.id = doc_id)
        SELECT doc_id, component,
          ${sqlComponentSplit("component")} AS split
        FROM d""")),

    // --- TRAINED-WEIGHT linear scoring under the oracle gate: the
    // broadcast weight-table join `MLOps.linearScoreWith` runs for a
    // perceptron-trained model, exercised here with a plan-time literal
    // lexicon (training itself is driver-steered and spec-gated,
    // PerceptronSpec — like the BPE merge loop). Buckets are the portable
    // token hash mod 2^15, named identically on both sides via
    // `Dedup.portableTokenHash`; scores are exact integer sums ---
    Q("q164_trained_linear_score",
      (s, dir) => {
        import s.implicits._
        val w = SparkEntry.scoringLexicon
          .map { case (t, wt) => (Dedup.portableTokenHash(t) % 32768L, wt) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
          .toDF("bucket", "weight")
        graft.ml.MLOps.linearScoreWith(t(s, dir, "documents"), "text", "doc_id", w)
      },
      Some {
        val values = SparkEntry.scoringLexicon
          .map { case (t, wt) => (Dedup.portableTokenHash(t) % 32768L, wt) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sorted
          .map { case (b, wt) => s"($b, $wt)" }.mkString(", ")
        s"""WITH wt(bucket, weight) AS (VALUES $values),
          tok AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT)
                % 2147483647 % 32768 AS b
            FROM (SELECT doc_id,
                unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0)) AS t
              FROM documents WHERE length(trim(text)) > 0)),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(coalesce(weight, 0)) AS BIGINT) AS score
            FROM tok LEFT JOIN wt ON wt.bucket = tok.b GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
          CAST(coalesce(score, 0) AS BIGINT) AS score,
          coalesce(score, 0) > 0 AS keep
        FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id"""
      }),

    // --- TRAIN-then-score under the oracle gate (retires q164's literal-
    // lexicon caveat): the epoch-1 batch-perceptron step from zero weights
    // is pure SQL — at w=0 EVERY doc is misclassified, so the full-batch
    // gradient is one per-bucket sum of token label signs — which makes a
    // weight table that was actually TRAINED in-engine restatable and
    // hash-checkable end to end. Label: lang = 'en' (the FineWeb-style
    // seed-set shape). Further epochs depend on the epoch-1 weights and
    // stay spec-gated (PerceptronSpec, the declared iterative-trainer
    // policy) ---
    Q("q164b_perceptron_epoch1_score",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val w = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id",
          col("lang") === "en", buckets = 32768, maxEpochs = 1)
        graft.ml.MLOps.linearScoreWith(docs, "text", "doc_id", w)
      },
      Some("""WITH tok AS (SELECT doc_id,
            CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
            CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT)
              % 2147483647 % 32768 AS b
          FROM (SELECT doc_id, lang,
              unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS t
            FROM documents WHERE length(trim(text)) > 0)),
        wt AS (SELECT b AS bucket, CAST(sum(y) AS BIGINT) AS weight
          FROM tok GROUP BY b HAVING sum(y) <> 0),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(coalesce(weight, 0)) AS BIGINT) AS score
          FROM tok LEFT JOIN wt ON wt.bucket = tok.b GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(score, 0) AS BIGINT) AS score,
        coalesce(score, 0) > 0 AS keep
      FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""")),

    // --- BPE ENCODE under the oracle gate (closes the trainer family's
    // encode side): the Spark side is the PRODUCTION encode path — the
    // memoized mapPartitions lowest-rank-first loop (the documented
    // justified mapPartitions case; each DISTINCT word pays the merge
    // loop once per partition, the scale-correct shape since vocabulary
    // is Zipf-bounded while occurrences are corpus-scale). Its
    // equivalence to the rank-order Column fold (Bpe.applyMergesColumn,
    // the no-new-old-adjacency argument) is property-gated in
    // BpeColumnEncodeSpec, and the ORACLE restates that fold as nested
    // DuckDB list_reduce with a tab-delimited symbol-string accumulator
    // (list_reduce seeds from the first element, so the accumulator must
    // be element-typed; symbols never contain whitespace, making the tab
    // unambiguous). Rules are the ACTUAL top-8 merges Bpe.train learns
    // on the sf0.01 corpus — frozen as literals because the oracle SQL
    // is static (same policy as q164's lexicon) ---
    Q("q161b_bpe_encode",
      (s, dir) => {
        graft.ops.Bpe.encode(t(s, dir, "documents"), "text", "doc_id",
            SparkEntry.bpeLiteralMerges)
          .select(col("doc_id"), array_join(col("tokens"), " ").as("tokens_str"),
            size(col("tokens")).cast("long").as("n_syms"))
      },
      Some(sqlBpeEncodeOracle(SparkEntry.bpeLiteralRules))),

    // --- GENUINE Structured-Streaming execution under the oracle gate
    // (the one §2 family whose RUNTIME path had no green ledger row —
    // q157 proves the batch restatement of the streamed algebra; THIS row
    // is produced by an actual readStream job): events staged as a
    // time-ordered multi-file stream with RAW source columns (evt_type,
    // value-as-string), one micro-batch per file (maxFilesPerTrigger=1,
    // so watermark state genuinely carries across batches), the worker's
    // CONTRACT PIPELINE (rename evt_type→event_type, ensure-types
    // string→double — worker.py:172-204) running inside the streaming
    // job, then event-time watermark + tumbling 1-hour window aggregate,
    // update-mode foreachBatch upserting a parquet online store through
    // the idempotent batch sink; the returned frame is the FINAL STORE
    // STATE, which the staging order + update-mode-upsert + exact decimal
    // partials make equal to the static aggregate (argument:
    // Streaming.stagedWindowAggRun scaladoc). Oracle = the same aggregate
    // stated over the static table ---
    Q("q165_streaming_window_store",
      (s, dir) => {
        import graft.core.FeatureType._
        val raw = events(s, dir).select(col("ts"),
          col("event_type").as("evt_type"), col("value").cast("string"))
        val view = graft.contract.FeatureView("events_stream",
          graft.sources.CustomSource(_.emptyDataFrame),
          entities = Seq(graft.contract.Feature("event_type", FString)),
          features = Seq(graft.contract.Feature("value", FFloat64)),
          eventTimestamp = Some(graft.contract.EventTimestamp("ts")),
          mappingKeys = Map("evt_type" -> "event_type"))
        graft.streaming.Streaming.stagedWindowAggRun(
          s, raw, "ts", "event_type", "value",
          pipeline = view.conform)
      },
      Some(sqlHourlyEventAgg),
      family = "stream"),

    // --- The SECOND streaming-runtime modality under the gate: CUSTOM
    // KEYED STATE (flatMapGroupsWithState), not just built-in window
    // aggregation — statefulLatest's per-entity latest-row changelog
    // compaction (the online-store update stream, reference
    // sources/redis.py:225-307 upsert semantics) run as a REAL streaming
    // job over staged time-ordered chunks; one row of state per user
    // carries across micro-batches, update emissions upsert the store.
    // The (ts, event_id) tiebreak makes the winner reproducible and the
    // oracle exact: final store = top-1 per user by (ts DESC, id DESC) ---
    Q("q167_streaming_stateful_latest",
      (s, dir) => graft.streaming.Streaming.stagedStatefulLatestRun(
          s, events(s, dir).select("ts", "user_id", "event_type", "value", "event_id"),
          keys = Seq("user_id"), tsCol = "ts", tieCol = Some("event_id"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"), col("event_id")),
      Some("""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
          event_type, value, event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1"""),
      family = "stream"),

    // --- SHARD MANIFEST: the per-shard integrity card of an exported
    // training set — row count + an order-independent 32-bit-summand md5
    // checksum per shard, so a copy / re-export / engine port verifies
    // shard-by-shard in any read order (the artifact-integrity companion
    // of q117's equal-token sharding and q93's epoch shards). Shard
    // assignment here is the auditable md5 router ---
    Q("q168_shard_manifest",
      (s, dir) => graft.ml.MLOps.shardManifest(
        t(s, dir, "documents").withColumn("shard",
          graft.ml.MLOps.md5Bucket(col("doc_id"), 16)),
        "shard", Seq("doc_id", "text")),
      Some("""SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) % 16 AS shard,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(concat('0x', substr(md5(concat_ws(chr(1),
            CAST(doc_id AS VARCHAR), text)), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
        FROM documents GROUP BY 1""")),

    // --- The CURATION RECIPE CONTRACT itself under the oracle gate: the
    // registered, JSON-round-tripped CurationRecipe executes all five
    // stages (Gopher gate → banded near-dup → keep-best canonicalize →
    // threshold-DSIR → leakage-safe split) and the WHOLE composition is
    // hash-checked as one query — the contract-as-code story, proven, not
    // just spec'd. The Spark side deliberately runs the recipe that
    // SURVIVED a registry JSON round trip, so serialization is inside the
    // gate too. Oracle = the proven per-stage CTEs composed: q153's
    // Gopher mask + DSIR threshold chains, the minhash pair CTEs over the
    // GATED corpus, q163's recursive-CC + md5 split router, and the
    // keep-best top-1 window (score = token count, id tiebreak) ---
    Q("q166_curation_recipe",
      (s, dir) => {
        val r = graft.contract.CurationRecipe(name = "q166_recipe",
          gopherMinWords = 20, dsirTargetCol = Some("lang"),
          dsirTargetValue = "en", dsirKeepPct = 50)
        val roundTripped = recipeRoundTrip(r)
        roundTripped.run(t(s, dir, "documents"))
          .select("doc_id", "component", "split")
      },
      Some(s"""WITH RECURSIVE d0 AS (${sqlGopherSplit("doc_id, lang, text")}),
          m AS (${sqlGopherMetrics("d0")}),
          gm AS (${sqlGopherGate()}),
          kept AS (SELECT d0.* FROM d0 JOIN gm USING (doc_id)),
          ${minhashCtes(0.5, 4, 3, from = "kept")},
          ${sqlClosureCtes("pairs", "cc")},
          comp AS (SELECT kept.doc_id, coalesce(cc.comp, kept.doc_id) AS component,
              CAST(len(ws) AS BIGINT) AS n_tok
            FROM kept LEFT JOIN cc ON cc.id = kept.doc_id),
          canon AS ($sqlKeepBest),
          ckept AS (SELECT kept.* FROM kept JOIN canon USING (doc_id)),
          ${sqlDsirSelectCtes("ckept")}
        SELECT canon.doc_id, canon.component,
          ${sqlComponentSplit("canon.component")} AS split
        FROM canon JOIN sel USING (doc_id)"""),
      family = "recipe"),

    // --- CCNET LM-QUALITY TERCILES (Wenzek et al. 2020): unigram model
    // on the en reference slice, saturating fixed-point log2 magnitude
    // (length(bin(m^3))-1, m capped at 2^20 so the cube stays in a long),
    // milli-mean integer doc score, head/middle/tail by threshold cutoffs
    // from the bounded score histogram — the LM member of the quality
    // family (rules = q152, trained-linear = q164b); exact integers end
    // to end, terciles without a global sort ---
    Q("q169_ccnet_partition",
      (s, dir) => {
        val d = t(s, dir, "documents")
        TextAnalysis.lmQualityPartition(
          d.filter(col("lang") === "en"), d, "text", "doc_id")
      },
      Some("""WITH ref AS (SELECT unnest(list_filter(
              string_split_regex(lower(trim(text)), '\s+'),
              xf -> length(xf) > 0)) AS w
            FROM documents WHERE lang = 'en'),
          freq AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM ref GROUP BY w),
          tok AS (SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(trim(text)), '\s+'),
              xf -> length(xf) > 0)) AS w
            FROM documents),
          pd AS (SELECT t.doc_id,
              CAST(sum(length(bin(least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576))) - 1) AS BIGINT) AS sumb,
              CAST(count(*) AS BIGINT) AS cnt
            FROM tok t LEFT JOIN freq f USING (w) GROUP BY t.doc_id),
          sc AS (SELECT d.doc_id,
              CAST(coalesce((1000 * pd.sumb) // pd.cnt, -1) AS BIGINT) AS lm_milli
            FROM documents d LEFT JOIN pd USING (doc_id)),
          hist AS (SELECT lm_milli AS s, count(*) AS c FROM sc GROUP BY 1),
          cum AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum FROM hist),
          nn AS (SELECT count(*) AS n FROM sc),
          cuts AS (SELECT
              (SELECT max(s) FROM cum, nn WHERE cum >= (n + 2) // 3) AS s1,
              (SELECT max(s) FROM cum, nn WHERE cum >= (2 * n + 2) // 3) AS s2)
        SELECT sc.doc_id, sc.lm_milli,
          CASE WHEN sc.lm_milli >= c.s1 THEN 'head'
               WHEN sc.lm_milli >= c.s2 THEN 'middle'
               ELSE 'tail' END AS part
        FROM sc, cuts c""")),

    // --- TOKENIZER FERTILITY per source: chars-per-token under the
    // learned BPE rules (the standard tokenizer-eval metric — how many
    // characters one token "buys" on each slice; low fertility = the
    // vocabulary fits the slice, high = the slice fragments). Rides the
    // q161b memoized encode; per-source sums are one partial-aggregated
    // pass and the ratio is milli-scaled integer division, so the whole
    // card hash-matches. nullif guards an all-empty source (ANSI div) ---
    Q("q170_tokenizer_fertility",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val enc = graft.ops.Bpe.encode(d, "text", "doc_id",
            SparkEntry.bpeLiteralMerges)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_syms"))
        d.select(col("doc_id"), col("source"), col("n_chars"))
          .join(enc, Seq("doc_id"))
          .groupBy("source")
          .agg(sum("n_chars").as("sum_chars"), sum("n_syms").as("sum_syms"),
            expr("(1000 * sum(n_chars)) div nullif(sum(n_syms), 0)")
              .as("fertility_milli"))
      },
      Some(s"""WITH enc AS (${sqlBpeEncodeOracle(SparkEntry.bpeLiteralRules)})
        SELECT d.source, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
          CAST(sum(e.n_syms) AS BIGINT) AS sum_syms,
          CAST((1000 * sum(d.n_chars)) // nullif(sum(e.n_syms), 0) AS BIGINT)
            AS fertility_milli
        FROM documents d JOIN enc e USING (doc_id)
        GROUP BY d.source""")),

    // --- CCNet-STAGED curation recipe under the gate: the recipe contract
    // with its optional stage 3b enabled (dedup THEN LM-filter — CCNet's
    // own order; keep head+middle, drop tail, the LLaMA practice). Gopher
    // mask 0 makes the gate identity so the oracle composes just the
    // proven CTEs: q136's minhash pairs, q163's recursive CC, q158's
    // keep-best window, q169's tercile chain over the CANONICAL corpus
    // (keep ⟺ lm_milli ≥ s2), q163's md5 component router. The executed
    // recipe again survives a registry JSON round trip first, so the new
    // fields' serialization sits inside the gate too ---
    Q("q171_ccnet_recipe",
      (s, dir) => {
        val r = graft.contract.CurationRecipe(name = "q171_recipe",
          gopherRuleMask = 0L, ccnetRefCol = Some("lang"), ccnetRefValue = "en")
        val roundTripped = recipeRoundTrip(r)
        roundTripped.run(t(s, dir, "documents"))
          .select("doc_id", "component", "split")
      },
      Some(s"""WITH RECURSIVE ${minhashCtes(0.5, 4, 3)},
          ${sqlClosureCtes("pairs", "cc")},
          dtok AS (SELECT doc_id, lang, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              xq -> length(xq) > 0) AS ws
            FROM documents),
          comp AS (SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS component,
              CAST(len(d.ws) AS BIGINT) AS n_tok
            FROM dtok d LEFT JOIN cc ON cc.id = d.doc_id),
          canon AS ($sqlKeepBest),
          ckept AS (SELECT dtok.* FROM dtok JOIN canon USING (doc_id)),
          ref AS (SELECT unnest(ws) AS w0 FROM ckept WHERE lang = 'en'),
          freq AS (SELECT w0, CAST(count(*) AS BIGINT) AS n FROM ref GROUP BY w0),
          tok AS (SELECT doc_id, unnest(ws) AS w0 FROM ckept),
          pd AS (SELECT t.doc_id,
              CAST(sum(length(bin(least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576))) - 1) AS BIGINT) AS sumb,
              CAST(count(*) AS BIGINT) AS cnt
            FROM tok t LEFT JOIN freq f USING (w0) GROUP BY t.doc_id),
          sc AS (SELECT k.doc_id,
              CAST(coalesce((1000 * pd.sumb) // pd.cnt, -1) AS BIGINT) AS lm_milli
            FROM ckept k LEFT JOIN pd USING (doc_id)),
          hist AS (SELECT lm_milli AS s0, count(*) AS c FROM sc GROUP BY 1),
          cum AS (SELECT s0, sum(c) OVER (ORDER BY s0 DESC) AS cum FROM hist),
          nn AS (SELECT count(*) AS n FROM sc),
          cuts AS (SELECT
              (SELECT max(s0) FROM cum, nn WHERE cum >= (2 * n + 2) // 3) AS s2),
          lmkeep AS (SELECT sc.doc_id FROM sc, cuts c WHERE sc.lm_milli >= c.s2)
        SELECT canon.doc_id, canon.component,
          ${sqlComponentSplit("canon.component")} AS split
        FROM canon JOIN lmkeep USING (doc_id)"""),
      family = "recipe"),

    // --- ONE LLOYD K-MEANS ROUND under the oracle gate — the distributed
    // content of [[graft.ops.Similarity.kmeansCentroids]]'s trainer loop
    // (the IVF coarse quantizer's training step, the declared-policy gap
    // for iterative trainers closed the q164b way): nearest-centroid
    // assignment against the q32 portable plane matrix (the same argmax
    // the asg CTE proves ≡ the Native.nearestCentroids kernel), then the
    // EXACT integer update statistic per (centroid, dim) — member count +
    // Σ floor(v·2^20). Power-of-two scaling never rounds a double and
    // floor is engine-independent on identical doubles, so the statistic
    // hash-matches where a double mean would be summation-order-dependent.
    // Output is k·d rows; the only exchange is the partial-sum shuffle ---
    Q("q173_kmeans_round",
      (s, dir) => Similarity.kmeansRoundStats(t(s, dir, "embeddings"),
        "embedding", 1 to 8, Dedup.portablePlanes(8, 64)),
      Some(s"""WITH ${sqlCentroidSims(8, 64)},
          asg AS (SELECT vec_id, v, cid FROM sims WHERE rn = 1),
          ex AS (SELECT cid, unnest(range(0, len(v))) AS pos, unnest(v) AS val
            FROM asg)
        SELECT cid AS centroid_id, CAST(pos AS INT) AS pos,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(val * 1048576) AS BIGINT)) AS BIGINT) AS sum_q
        FROM ex GROUP BY 1, 2""")),

    // --- PROTOTYPICALITY PRUNING (Sorscher et al. 2022, "Beyond neural
    // scaling laws"): drop the 10% most prototypical members of each
    // embedding cluster — nearest-centroid assignment + quantized cosine
    // (bucket-granular, deterministic), per-cluster cutoff from an
    // O(k·buckets) driver histogram pull, literal-threshold filter. The
    // q169 tercile shape, NOT a per-cluster window (k≈8 partitions would
    // each sort corpus/k rows in one task at 100 TB). Oracle restates the
    // histogram suffix-sum cutoff over the same integer buckets ---
    Q("q174_prototype_prune",
      (s, dir) => Similarity.prototypePrune(t(s, dir, "embeddings"),
        "embedding", "vec_id", 1 to 8, Dedup.portablePlanes(8, 64),
        dropFrac = 0.1, buckets = 1000),
      Some(s"""WITH ${sqlCentroidSims(8, 64)},
          asg AS (SELECT vec_id, v, cid FROM sims WHERE rn = 1),
          scored AS (SELECT a.vec_id, a.cid,
              CAST(floor(${sqlCos("a.v", "c.cv")} * 1000) AS BIGINT) AS qcos
            FROM asg a JOIN cents c ON c.cid = a.cid),
          hist AS (SELECT cid, qcos, CAST(count(*) AS BIGINT) AS cnt
            FROM scored GROUP BY 1, 2),
          tot AS (SELECT cid, count(*) AS n FROM scored GROUP BY 1),
          sfx AS (SELECT cid, qcos,
              sum(cnt) OVER (PARTITION BY cid ORDER BY qcos DESC) AS suffix
            FROM hist),
          cut AS (SELECT s.cid, min(s.qcos) AS cutb
            FROM sfx s JOIN tot t0 ON t0.cid = s.cid
            WHERE s.suffix <= CAST(floor(0.1 * t0.n) AS BIGINT) GROUP BY s.cid)
        SELECT sc.vec_id, sc.cid AS centroid_id, sc.qcos
        FROM scored sc LEFT JOIN cut ON cut.cid = sc.cid
        WHERE cut.cutb IS NULL OR sc.qcos < cut.cutb""")),

    // --- The THIRD streaming-runtime modality under the oracle gate:
    // APPEND-mode custom keyed state — the incremental LSH near-dup
    // (Streaming.nearDupStream) run as a GENUINE streaming job over
    // id-ordered staged chunks, portable signature family, cross-chunk
    // pairs found only via bucket state carried across micro-batches,
    // upsert-by-pair-key compacting the per-band/per-batch emissions.
    // Zero bucket evictions are REQUIRED (accumulator-checked) — eviction
    // is exactly where stream ≠ batch. Oracle = the q157 batch
    // restatement of the same algebra ---
    Q("q172_streaming_neardup_run",
      (s, dir) => graft.streaming.Streaming.stagedNearDupRun(
        s, t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5, bands = 4, k = 3),
      Some(sqlNearDupEstimateOracle(0.5, bands = 4, k = 3)),
      family = "stream"),

    // --- The FOURTH streaming-runtime modality: STREAM-STREAM JOIN —
    // click⋈purchase attribution via Streaming.intervalJoin (two
    // watermarked branches of one readStream, inner join with a time
    // bound) run as a genuine streaming job; ts-ordered arrival means the
    // watermark never late-drops a matching pair and state eviction only
    // releases lefts no future right can reach. Final store state = the
    // static interval join, which is the oracle ---
    Q("q175_streaming_interval_join",
      (s, dir) => graft.streaming.Streaming.stagedIntervalJoinRun(
        s, events(s, dir).select("ts", "user_id", "event_type", "event_id"),
        tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
        leftPred = "event_type = 'click'",
        rightPred = "event_type = 'purchase'", after = "1 hour"),
      Some("""SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
          epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS lag_us
        FROM events a JOIN events b ON a.user_id = b.user_id
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
          AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
          AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR"""),
      family = "stream"),

    // --- The EIGHTH streaming-runtime modality: WATERMARK-CLOSED LEFT
    // OUTER stream-stream join — which clicks did NOT convert. The
    // unmatched-left null row exists only because the runtime's watermark
    // EVICTED the click's buffered state (no per-row function produces
    // it); far-future per-branch sentinels close every real click's
    // verdict. b_id_key = -1 materializes "no conversion" as an
    // upsertable training label. Oracle = the static LEFT JOIN under the
    // same time bound ---
    Q("q187_streaming_outer_join_run", clickConversionOuter,
      // chunk count stays at the default 3 DELIBERATELY (optimization r16):
      // trimming to 2 saved ~1 s of per-batch engine constants at sf0.1 and
      // x10 but cost +10 s at x100 — fewer watermark advances mean the
      // join state evicts in bigger waves; measured both ways, see
      // OPTIMIZATION_r16.md and SCALE_CURVE_x100_streaming_r16.json
      Some(sqlClickConversionOuter),
      family = "stream"),

    // --- The FIFTH streaming-runtime modality: Spark's BUILT-IN stateful
    // dedup (dropDuplicatesWithinWatermark) under the gate, in the
    // at-least-once-delivery shape it exists for: every event row is
    // DELIVERED TWICE (events ∪ events — duplicate deliveries of an
    // immutable row are byte-identical, so keep-first is deterministic no
    // matter which physical copy wins), the stream collapses them on the
    // event_id key, and the final store must be exactly the original
    // table — which IS the oracle ---
    Q("q176_streaming_dedup_run", doubleDeliveryDedup,
      Some(sqlEventsById),
      family = "stream"),

    // --- The SIXTH streaming-runtime modality: SESSION WINDOWS
    // (gap-based session_window — the beyond-reference SURVEY §2.9
    // operator) as a genuine streaming run. ts-ordered arrival means
    // sessions only ever EXTEND (never merge/re-start), so
    // upsert-by-(user, session_start) converges to the final session row;
    // DECIMAL partials make the sum exact. Oracle = the classic
    // gaps-and-islands restatement: a session breaks where the gap to the
    // previous event is ≥ 30 min (session_window's end is exclusive at
    // last_ts + gap) ---
    Q("q177_streaming_session_run",
      (s, dir) => graft.streaming.Streaming.stagedSessionAggRun(
        s, events(s, dir).select("ts", "user_id", "value", "event_id"),
        tsCol = "ts", keyCol = "user_id", valueCol = "value", gap = "30 minutes"),
      // chunk count stays at the default 3 DELIBERATELY (optimization r16):
      // 2 chunks saved ~1 s at sf0.1/x10 but cost +42 s at x100 — session
      // state merges/finalizes in bigger waves when the watermark advances
      // fewer times; measured both ways (OPTIMIZATION_r16.md)
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
          g AS (SELECT user_id, ts, value,
              CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS session_start, user_id,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid"""),
      family = "stream"),

    // --- CURATION FUNNEL AUDIT: per-doc drop attribution across the FULL
    // recipe (all five stages + CCNet enabled — the maximal funnel): every
    // input doc labeled with the FIRST stage that dropped it (gate /
    // near_dup / lm_tail / dsir) or 'kept' + its split. The "why did my
    // corpus shrink" ops primitive; the audit body shares run()'s
    // operators and reuse discipline (one CC run; id-list attribution
    // joins only), and audit-kept ≡ run()-kept is spec-gated. Oracle =
    // the q166 gate/canon/DSIR CTEs + q171's LM tercile chain, composed
    // over the right stage inputs, with a labeling final select ---
    Q("q178_curation_funnel",
      (s, dir) => {
        val r = graft.contract.CurationRecipe(name = "q178_recipe",
          gopherMinWords = 20, ccnetRefCol = Some("lang"), ccnetRefValue = "en",
          dsirTargetCol = Some("lang"), dsirTargetValue = "en", dsirKeepPct = 50)
        val roundTripped = recipeRoundTrip(r)
        roundTripped.runAudit(t(s, dir, "documents"))
      },
      Some(s"""WITH RECURSIVE d0 AS (${sqlGopherSplit("doc_id, lang, text")}),
          m AS (${sqlGopherMetrics("d0")}),
          gm AS MATERIALIZED (${sqlGopherGate()}),
          kept AS MATERIALIZED (SELECT d0.* FROM d0 JOIN gm USING (doc_id)),
          ${minhashCtes(0.5, 4, 3, from = "kept")},
          ${sqlClosureCtes("pairs", "cc")},
          comp AS (SELECT kept.doc_id, coalesce(cc.comp, kept.doc_id) AS component,
              CAST(len(ws) AS BIGINT) AS n_tok
            FROM kept LEFT JOIN cc ON cc.id = kept.doc_id),
          canon AS MATERIALIZED ($sqlKeepBest),
          ckept AS MATERIALIZED (SELECT kept.* FROM kept JOIN canon USING (doc_id)),
          lref AS (SELECT unnest(ws) AS w0 FROM ckept WHERE lang = 'en'),
          lfreq AS MATERIALIZED (SELECT w0, CAST(count(*) AS BIGINT) AS n FROM lref GROUP BY w0),
          ltok AS (SELECT doc_id, unnest(ws) AS w0 FROM ckept),
          lpd AS (SELECT t.doc_id,
              CAST(sum(length(bin(least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576)
                * least(coalesce(f.n, 0) + 1, 1048576))) - 1) AS BIGINT) AS sumb,
              CAST(count(*) AS BIGINT) AS cnt
            FROM ltok t LEFT JOIN lfreq f USING (w0) GROUP BY t.doc_id),
          lsc AS MATERIALIZED (SELECT k.doc_id,
              CAST(coalesce((1000 * lpd.sumb) // lpd.cnt, -1) AS BIGINT) AS lm_milli
            FROM ckept k LEFT JOIN lpd USING (doc_id)),
          lhist AS (SELECT lm_milli AS s0, count(*) AS c FROM lsc GROUP BY 1),
          lcum AS (SELECT s0, sum(c) OVER (ORDER BY s0 DESC) AS cum FROM lhist),
          lnn AS (SELECT count(*) AS n FROM lsc),
          lcuts AS (SELECT
              (SELECT max(s0) FROM lcum, lnn WHERE cum >= (2 * n + 2) // 3) AS s2),
          lmkeep AS MATERIALIZED (SELECT lsc.doc_id FROM lsc, lcuts c WHERE lsc.lm_milli >= c.s2),
          lmk AS MATERIALIZED (SELECT ckept.* FROM ckept JOIN lmkeep USING (doc_id)),
          ${sqlDsirSelectCtes("lmk", "ttok", materialize = true)}
        SELECT d.doc_id,
          CASE WHEN gm.doc_id IS NULL THEN 'gate'
               WHEN canon.doc_id IS NULL THEN 'near_dup'
               WHEN lmkeep.doc_id IS NULL THEN 'lm_tail'
               WHEN sel.doc_id IS NULL THEN 'dsir'
               ELSE 'kept' END AS stage,
          CASE WHEN gm.doc_id IS NOT NULL AND canon.doc_id IS NOT NULL
                AND lmkeep.doc_id IS NOT NULL AND sel.doc_id IS NOT NULL
            THEN ${sqlComponentSplit("canon.component")}
          END AS split
        FROM documents d
        LEFT JOIN gm ON gm.doc_id = d.doc_id
        LEFT JOIN canon ON canon.doc_id = d.doc_id
        LEFT JOIN lmkeep ON lmkeep.doc_id = d.doc_id
        LEFT JOIN sel ON sel.doc_id = d.doc_id"""),
      family = "recipe"),

    // --- CURRICULUM ORDER: a materialized global training order (rank
    // 1..N) in (phase asc, md5-shuffle within phase) order — the
    // sequence-length-warmup curriculum (short docs first), deterministic
    // in any engine. The Spark side is tokenShards' distributed prefix sum
    // (per-(phase,bucket) counts → driver offsets → partitioned windows),
    // NEVER the oracle's global row_number — that single-partition sort is
    // exactly what the operator exists to avoid at 10^9 docs ---
    Q("q179_curriculum_order",
      (s, dir) => graft.ml.MLOps.curriculumOrder(t(s, dir, "documents"),
        "doc_id",
        when(col("n_chars") < 200, 0).when(col("n_chars") < 1000, 1).otherwise(2),
        phases = 3)
        .select(col("doc_id"), col("phase"), col("curriculum_rank")),
      Some("""SELECT doc_id, phase, CAST(row_number() OVER (ORDER BY phase,
            CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000,
            doc_id) AS BIGINT) AS curriculum_rank
        FROM (SELECT doc_id,
            CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 1000 THEN 1 ELSE 2 END AS phase
          FROM documents)""")),

    // --- LEAVE-ONE-SOURCE-OUT ablation bookkeeping: per excluded source,
    // the complement corpus's size/token/en-fraction card — the data-
    // attribution study's ledger. ONE scan + total-minus-source arithmetic
    // against a broadcast totals row; K ablation slices, zero extra scans ---
    Q("q180_loso_ablation",
      (s, dir) => graft.ml.MLOps.ablationComplements(t(s, dir, "documents"),
        "text", "source", "lang", "en"),
      Some("""WITH s AS (SELECT source AS excluded_source,
            CAST(count(*) AS BIGINT) AS d,
            CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> length(x) > 0))) AS BIGINT) AS t,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS e
          FROM documents GROUP BY 1),
        tot AS (SELECT sum(d) AS td, sum(t) AS tt, sum(e) AS te FROM s)
      SELECT excluded_source, CAST(td - d AS BIGINT) AS n_docs,
        CAST(tt - t AS BIGINT) AS n_tokens,
        CAST((1000 * (te - e)) // nullif(td - d, 0) AS BIGINT) AS en_milli
      FROM s, tot""")),

    // --- INCREMENTAL RECIPE INGEST: the curation recipe's daily-batch
    // path under the gate — Gopher-gate the new batch (doc_id % 5 = 0),
    // probe the standing corpus's band index (q159's shape — corpus never
    // self-pairs), drop new docs duplicating the corpus (corpus wins:
    // its member is already canonical), keep-best within-batch clusters,
    // leakage-safe split by the new-pair components. Corpus-dependent
    // cutoffs (CCNet tercile, DSIR threshold) deliberately refresh on
    // full run(), not per batch. Oracle = batch gate CTEs + union
    // minhash pairs split by side + recursive CC over new-only pairs ---
    Q("q181_recipe_ingest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val r = graft.contract.CurationRecipe(name = "q181_recipe",
          gopherMinWords = 20)
        val roundTripped = recipeRoundTrip(r)
        roundTripped.runIncremental(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0))
          .select("doc_id", "component", "split")
      },
      Some(s"""WITH RECURSIVE ${sqlIngestCtes}
        SELECT doc_id, component,
          ${sqlComponentSplit("component")} AS split
        FROM canon"""),
      family = "recipe"),

    // --- INGEST FUNNEL AUDIT: runIncremental's drop attribution — every
    // batch doc labeled with the first ingest stage that dropped it
    // ('gate' / 'corpus_dup' / 'near_dup') or 'kept' + split; the daily
    // "why did today's batch shrink?" is one group-by over this frame.
    // Oracle shares q181's CTE chain verbatim (sqlIngestCtes), so the
    // result and audit restatements cannot drift ---
    Q("q191_recipe_ingest_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.contract.CurationRecipe(name = "q191_recipe",
            gopherMinWords = 20)
          .runIncrementalAudit(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH RECURSIVE ${sqlIngestCtes},
          spl AS (SELECT doc_id,
              ${sqlComponentSplit("component")} AS split
            FROM canon)
        SELECT nb.doc_id,
          CASE WHEN gm.doc_id IS NULL THEN 'gate'
               WHEN cd.doc_id IS NOT NULL THEN 'corpus_dup'
               WHEN spl.doc_id IS NULL THEN 'near_dup'
               ELSE 'kept' END AS stage,
          spl.split
        FROM nb LEFT JOIN gm USING (doc_id)
          LEFT JOIN cdrop cd USING (doc_id)
          LEFT JOIN spl USING (doc_id)"""),
      family = "recipe"),

    // --- TRAINING-EXPORT PLAN capstone: curriculum rank (q179's
    // distributed prefix sum) → equal-doc shards in curriculum order →
    // per-shard integrity manifest (q168's order-independent checksum) —
    // the export a training run actually consumes, hash-proven as ONE
    // query: shard k holds curriculum ranks [k·250, (k+1)·250), so
    // workers stream shards in order and replay the curriculum exactly ---
    Q("q182_curriculum_export",
      (s, dir) => {
        val ranked = graft.ml.MLOps.curriculumOrder(t(s, dir, "documents"),
          "doc_id",
          when(col("n_chars") < 200, 0).when(col("n_chars") < 1000, 1).otherwise(2),
          phases = 3)
        graft.ml.MLOps.shardManifest(
          ranked.withColumn("shard", expr("(curriculum_rank - 1) div 250")),
          "shard", Seq("doc_id", "text"))
      },
      Some("""WITH rk AS (SELECT doc_id, text, row_number() OVER (ORDER BY
            CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 1000 THEN 1 ELSE 2 END,
            CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000,
            doc_id) AS r
          FROM documents)
        SELECT CAST((r - 1) // 250 AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(concat('0x', substr(md5(concat_ws(chr(1),
            CAST(doc_id AS VARCHAR), text)), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
        FROM rk GROUP BY 1"""),
      family = "recipe"),

    // --- DECONTAMINATION-STAGED curation recipe under the gate: stage 0
    // enabled — the src19 slice is the EVAL SUITE (its rows leave the
    // corpus; docs sharing any 3-gram with it drop) — then the standard
    // near-dup/keep-best/split chain (Gopher mask 0 = identity gate, no
    // CCNet/DSIR so the oracle composes q62's decontam CTEs with q136/
    // q163/q158's proven chain). Executed through a registry JSON round
    // trip, so the new decontam fields are oracle-proven serializable ---
    Q("q190_recipe_decontam",
      (s, dir) => {
        val r = graft.contract.CurationRecipe(name = "q190_recipe",
          decontamCol = Some("source"), decontamValue = "src19",
          decontamN = 3, gopherRuleMask = 0L)
        val roundTripped = recipeRoundTrip(r)
        roundTripped.run(t(s, dir, "documents"))
          .select("doc_id", "component", "split")
      },
      Some(s"""WITH RECURSIVE w0 AS (SELECT doc_id, source, text, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              xf -> length(xf) > 0) AS ws
            FROM documents),
          g0 AS (SELECT doc_id, source, list_distinct([CAST(concat('0x',
                substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 14)) AS BIGINT)
                % ${Dedup.PortableP}
              for i in generate_series(1, greatest(len(ws)-2, 0))]) AS gs
            FROM w0),
          bench0 AS (SELECT DISTINCT unnest(gs) AS h FROM g0 WHERE source = 'src19'),
          cont AS (SELECT DISTINCT doc_id FROM (
              SELECT doc_id, unnest(gs) AS h FROM g0 WHERE source <> 'src19') cg
            JOIN bench0 USING (h)),
          kept AS MATERIALIZED (SELECT w0.doc_id, w0.text, w0.ws FROM w0
            WHERE source <> 'src19'
              AND doc_id NOT IN (SELECT doc_id FROM cont)),
          ${minhashCtes(0.5, 4, 3, from = "kept")},
          ${sqlClosureCtes("pairs", "cc")},
          comp AS (SELECT kept.doc_id, coalesce(cc.comp, kept.doc_id) AS component,
              CAST(len(ws) AS BIGINT) AS n_tok
            FROM kept LEFT JOIN cc ON cc.id = kept.doc_id),
          canon AS ($sqlKeepBest)
        SELECT canon.doc_id, canon.component,
          ${sqlComponentSplit("canon.component")} AS split
        FROM canon"""),
      family = "recipe"),

    // --- EXCISION-MODE decontamination recipe: stage 0 with
    // decontamMode = "excise" — contaminated docs SURVIVE with the
    // overlapping windows cut out (the surgical FineWeb-style path), and
    // every later stage sees the CLEANED text; the output's text column
    // IS the cleaned text, so the oracle hash-proves the surgery and the
    // downstream chain together. JSON round trip proves the mode field
    // serializes ---
    Q("q192_recipe_excise",
      (s, dir) => {
        val r = graft.contract.CurationRecipe(name = "q192_recipe",
          decontamCol = Some("source"), decontamValue = "src19",
          decontamN = 3, decontamMode = "excise", gopherRuleMask = 0L)
        val roundTripped = recipeRoundTrip(r)
        roundTripped.run(t(s, dir, "documents"))
          .select("doc_id", "text", "component", "split")
      },
      Some(s"""WITH RECURSIVE w0 AS (SELECT doc_id, source, list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              xf -> length(xf) > 0) AS ws
            FROM documents),
          gp AS (SELECT doc_id, pos, CAST(concat('0x',
              substr(md5(array_to_string(ws[pos:pos+2], ' ')), 1, 14)) AS BIGINT)
                % ${Dedup.PortableP} AS h
            FROM (SELECT doc_id, ws,
                unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos
              FROM w0 WHERE source <> 'src19')),
          bench AS (SELECT DISTINCT CAST(concat('0x',
              substr(md5(array_to_string(ws[pos:pos+2], ' ')), 1, 14)) AS BIGINT)
                % ${Dedup.PortableP} AS h
            FROM (SELECT ws,
                unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos
              FROM w0 WHERE source = 'src19')),
          m AS (SELECT gp.doc_id, gp.pos,
              gp.pos - row_number() OVER (PARTITION BY gp.doc_id ORDER BY gp.pos) AS grp
            FROM gp JOIN bench USING (h)),
          spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end
            FROM m GROUP BY doc_id, grp),
          wd AS (SELECT doc_id, unnest(ws) AS word,
              unnest(generate_series(1, len(ws))) AS pos
            FROM w0 WHERE source <> 'src19'),
          cut AS (SELECT DISTINCT wd.doc_id, wd.pos FROM wd JOIN spans s2
            ON s2.doc_id = wd.doc_id AND wd.pos BETWEEN s2.span_start AND s2.span_end),
          agg AS (SELECT wd.doc_id,
              coalesce(string_agg(word, ' ' ORDER BY wd.pos)
                FILTER (WHERE cut.pos IS NULL), '') AS text_clean
            FROM wd LEFT JOIN cut ON cut.doc_id = wd.doc_id AND cut.pos = wd.pos
            GROUP BY wd.doc_id),
          kept AS MATERIALIZED (SELECT w0.doc_id,
              coalesce(agg.text_clean, '') AS text
            FROM w0 LEFT JOIN agg USING (doc_id) WHERE w0.source <> 'src19'),
          ${minhashCtes(0.5, 4, 3, from = "kept")},
          ${sqlClosureCtes("pairs", "cc")},
          comp AS (SELECT kept.doc_id, coalesce(cc.comp, kept.doc_id) AS component,
              CAST(len(list_filter(string_split_regex(lower(trim(kept.text)), '\\s+'),
                xk -> length(xk) > 0)) AS BIGINT) AS n_tok
            FROM kept LEFT JOIN cc ON cc.id = kept.doc_id),
          canon AS ($sqlKeepBest)
        SELECT canon.doc_id, kept.text, canon.component,
          ${sqlComponentSplit("canon.component")} AS split
        FROM canon JOIN kept USING (doc_id)"""),
      family = "recipe"),

    // --- The SEVENTH streaming-runtime modality: STREAM-STATIC
    // ENRICHMENT — orders stream joined per micro-batch against the
    // broadcast customer dimension (Streaming.stagedEnrichJoinRun), the
    // production shape of a stream whose contract loads features from a
    // batch view mid-stream. Stateless: no watermark, no state store, the
    // stream never shuffles; the oracle is the plain static left join ---
    Q("q183_streaming_enrich_run",
      (s, dir) => graft.streaming.Streaming.stagedEnrichJoinRun(
        s, t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        orderCol = "o_orderdate", idCol = "o_orderkey",
        dim = t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment"), col("c_nationkey")),
        joinKeys = Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          col("c_nationkey"), col("o_totalprice")),
      Some("""SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment, c.c_nationkey,
          o.o_totalprice
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey"""),
      family = "stream"),

    // --- MULTI-BENCHMARK decontamination MATRIX: which of N eval suites
    // does each corpus doc leak into — q62's gram algebra, but the
    // benchmark side is the union of per-suite distinct grams TAGGED with
    // the suite name (here the held-out docs' lang stands in for the
    // suite label), so ONE corpus explode answers all N suites at once
    // instead of N corpus scans ---
    Q("q184_decontam_matrix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.decontaminationMatrix(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0)
            .select(col("lang").as("benchmark"), col("text")),
          "text", "doc_id", "benchmark", n = 3)
      },
      Some(s"""WITH ${sqlShingleHashCtes(3)},
          bench AS (SELECT DISTINCT benchmark, h FROM (
            SELECT d.lang AS benchmark, unnest(g.gs) AS h
            FROM g JOIN documents d USING (doc_id) WHERE d.doc_id % 97 = 0)),
          corpus AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % 97 <> 0)
        SELECT corpus.doc_id, bench.benchmark, count(*) AS n_shared
        FROM corpus JOIN bench USING (h)
        GROUP BY corpus.doc_id, bench.benchmark""")),

    // --- CONTAMINATED SPANS: WHERE each corpus doc overlaps the eval set
    // (q62 tells you which docs; this one gives the positional runs —
    // duplicateSpans' gap-and-island algebra with the cross-doc marker
    // swapped for benchmark membership; broadcast gram set, corpus never
    // shuffles for the marking) ---
    Q("q188_contamination_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.contaminationSpans(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3)
      },
      Some(s"""WITH $sqlContaminationRunCtes
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          CAST(max(pos) + 2 AS BIGINT) AS span_end,
          CAST(max(pos) + 2 - min(pos) + 1 AS BIGINT) AS span_tokens
        FROM m GROUP BY doc_id, grp""")),

    // --- DECONTAMINATE BY EXCISION: cut the overlapping spans, keep the
    // prose — GPT-3's own decontamination removed the overlapping WINDOW,
    // not the page. q188's spans + q148's strip/rebuild; uncontaminated
    // docs pass through with n_removed = 0 ---
    Q("q189_decontam_excise",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminateByExcision(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 3)
      },
      Some(s"""WITH $sqlContaminationRunCtes,
          spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end
            FROM m GROUP BY doc_id, grp),
          wd AS (SELECT doc_id, unnest(ws) AS word,
              unnest(generate_series(1, len(ws))) AS pos
            FROM w WHERE doc_id % 97 <> 0),
          cut AS (SELECT DISTINCT wd.doc_id, wd.pos FROM wd JOIN spans s
            ON s.doc_id = wd.doc_id AND wd.pos BETWEEN s.span_start AND s.span_end),
          agg AS (SELECT wd.doc_id,
              coalesce(string_agg(word, ' ' ORDER BY wd.pos) FILTER (WHERE cut.pos IS NULL), '')
                AS text_clean,
              count(*) AS n_words,
              CAST(sum(CASE WHEN cut.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM wd LEFT JOIN cut ON cut.doc_id = wd.doc_id AND cut.pos = wd.pos
            GROUP BY wd.doc_id)
        SELECT d.doc_id, coalesce(agg.text_clean, '') AS text_clean,
          CAST(coalesce(agg.n_words, 0) AS BIGINT) AS n_words,
          CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed
        FROM documents d LEFT JOIN agg USING (doc_id)
        WHERE d.doc_id % 97 <> 0""")),

    // --- One DOMAIN-REWEIGHTING round (DoReMi, Xie et al. 2023): lift
    // mixture weight where the proxy loss (chars-per-token milli — long
    // fragmenting words read as "hard") exceeds the mixture average;
    // integer multiplicative-weights + uniform smoothing +
    // largest-remainder, new weights sum to exactly 1000. The trainer
    // side of the q143 token-budget allocator ---
    Q("q185_domain_reweight",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("__tok", TextAnalysis.tokenCountWs(col("text")).cast("long"))
          .withColumn("__loss", expr("(1000 * n_chars) div (__tok + 1)"))
        graft.ml.MLOps.domainReweightRound(d, "source", col("__loss"),
          weights = Map("src0" -> 200L, "src1" -> 150L, "src2" -> 150L,
            "src3" -> 125L, "src4" -> 125L, "src5" -> 100L, "src6" -> 100L,
            "src7" -> 50L),
          etaMilli = 2000L, smoothMilli = 100L)
      },
      Some("""WITH l AS (SELECT source,
            least(greatest((1000 * n_chars) //
              (len(list_filter(string_split_regex(trim(text), '\s+'),
                xf -> length(xf) > 0)) + 1), 0), 1000000) AS lv
          FROM documents),
        per AS (SELECT source, CAST(sum(lv) // count(*) AS BIGINT) AS mean_loss_milli
          FROM l GROUP BY source),
        wt AS (SELECT * FROM (VALUES ('src0', 200), ('src1', 150), ('src2', 150),
            ('src3', 125), ('src4', 125), ('src5', 100), ('src6', 100),
            ('src7', 50)) AS t(source, w)),
        j AS (SELECT per.source, mean_loss_milli, CAST(w AS BIGINT) AS w
          FROM per JOIN wt USING (source)),
        a AS (SELECT *, (SELECT CAST(sum(w * mean_loss_milli) // sum(w) AS BIGINT) FROM j) AS avgl FROM j),
        e AS (SELECT *, greatest(mean_loss_milli - avgl, 0) AS excess FROM a),
        r AS (SELECT *, w * (1000 + (2000 * excess) // 1000) AS raw FROM e),
        t2 AS (SELECT *, (SELECT CAST(sum(raw) AS BIGINT) FROM r) AS sumraw,
            (SELECT CAST(count(*) AS BIGINT) FROM r) AS k FROM r),
        nm AS (SELECT *, 900 * k * raw + 100 * sumraw AS numer, k * sumraw AS den FROM t2),
        fl AS (SELECT *, numer // den AS flo, numer % den AS rem FROM nm),
        lf AS (SELECT *, (SELECT CAST(1000 - sum(flo) AS BIGINT) FROM fl) AS leftover,
            row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM fl)
      SELECT source, mean_loss_milli, CAST(excess AS BIGINT) AS excess_milli,
        w AS weight_milli,
        CAST(flo + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS new_weight_milli
      FROM lf""")),

    // --- INTERPOLATED BIGRAM LM terciles: q169's CCNet partition one
    // model-order up — each bigram transition scores
    // floor(log2(mB²·mU)) (⅔ conditional evidence, ⅓ unigram backoff,
    // counts+1 capped at 2^20 so the product is long-exact), milli-mean
    // per doc, tercile cutoffs from the bounded score histogram ---
    Q("q186_bigram_lm_terciles",
      (s, dir) => {
        val d = t(s, dir, "documents")
        TextAnalysis.lmQualityPartitionBigram(
          d.filter(col("lang") === "en"), d, "text", "doc_id")
      },
      Some("""WITH wl AS (SELECT doc_id, list_filter(
              string_split_regex(lower(trim(text)), '\s+'),
              xf -> length(xf) > 0) AS w
            FROM documents),
          frequ AS (SELECT wd, CAST(count(*) AS BIGINT) AS nu FROM (
              SELECT unnest(w) AS wd FROM wl JOIN documents USING (doc_id)
              WHERE lang = 'en') GROUP BY wd),
          freqb AS (SELECT g, CAST(count(*) AS BIGINT) AS nb FROM (
              SELECT unnest([array_to_string(w[i:i+1], ' ')
                for i in generate_series(1, greatest(len(w)-1, 0))]) AS g
              FROM wl JOIN documents USING (doc_id) WHERE lang = 'en')
            GROUP BY g),
          tk AS (SELECT doc_id, g, split_part(g, ' ', 2) AS wd FROM (
            SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS g
            FROM wl)),
          pd AS (SELECT t.doc_id,
              CAST(sum(length(bin(
                least(coalesce(b.nb, 0) + 1, 1048576)
                * least(coalesce(b.nb, 0) + 1, 1048576)
                * least(coalesce(u.nu, 0) + 1, 1048576))) - 1) AS BIGINT) AS sumb,
              CAST(count(*) AS BIGINT) AS cnt
            FROM tk t LEFT JOIN freqb b USING (g)
              LEFT JOIN frequ u ON u.wd = t.wd
            GROUP BY t.doc_id),
          sc AS (SELECT d.doc_id,
              CAST(coalesce((1000 * pd.sumb) // pd.cnt, -1) AS BIGINT) AS lm2_milli
            FROM documents d LEFT JOIN pd USING (doc_id)),
          hist AS (SELECT lm2_milli AS s, count(*) AS c FROM sc GROUP BY 1),
          cum AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum FROM hist),
          nn AS (SELECT count(*) AS n FROM sc),
          cuts AS (SELECT
              (SELECT max(s) FROM cum, nn WHERE cum >= (n + 2) // 3) AS s1,
              (SELECT max(s) FROM cum, nn WHERE cum >= (2 * n + 2) // 3) AS s2)
        SELECT sc.doc_id, sc.lm2_milli,
          CASE WHEN sc.lm2_milli >= c.s1 THEN 'head'
               WHEN sc.lm2_milli >= c.s2 THEN 'middle'
               ELSE 'tail' END AS part
        FROM sc, cuts c"""))
  )

  /** Frozen top-8 merge rules for q161b — learned by [[graft.ops.Bpe.train]]
    * on the sf0.01 documents corpus (rank order; rule 6 composes rule 1's
    * 'er', exercising the merged-symbol path). A def for the same eager-
    * registry init-order reason as [[scoringLexicon]]. */
  private[graft] def bpeLiteralRules: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** The frozen rules as rank-ordered Merge artifacts — ONE construction
    * shared by every query that encodes with them (q161b, q170), so rank
    * numbering can never drift between registered tokenizer consumers. */
  private[graft] def bpeLiteralMerges: Seq[graft.ops.Bpe.Merge] =
    bpeLiteralRules.zipWithIndex.map {
      case ((l, r), i) => graft.ops.Bpe.Merge(i + 1, l, r, 0L) }

  /** DuckDB restatement of [[graft.ops.Bpe.encodeColumn]] for a literal
    * rule list: per word, chars → one list_reduce PER RULE in rank order.
    * DuckDB 1.0's list_reduce has no initial-accumulator form, so the
    * accumulator is the tab-joined symbol string itself (seeded by the
    * first char; `ends_with(acc, TAB || l)` tests "last symbol == l"
    * exactly because symbols never contain whitespace), re-split between
    * rules. Verified equal to the lowest-rank-first reference encode on
    * the full sf0.001 corpus before registration. */
  private[graft] def sqlBpeEncodeOracle(rules: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val chars = "list_transform(range(1, length(wd)+1), " +
      "ci -> substr(wd, CAST(ci AS INTEGER), 1))"
    val folded = rules.zipWithIndex.foldLeft(chars) { case (inner, ((l, r), i)) =>
      val (a, x) = (s"ac${i + 1}", s"sx${i + 1}")
      val src = if (i == 0) inner else s"string_split($inner, chr(9))"
      s"""list_reduce($src, ($a, $x) -> CASE WHEN $x = '${esc(r)}' AND
         ($a = '${esc(l)}' OR ends_with($a, chr(9) || '${esc(l)}'))
         THEN $a || $x ELSE $a || chr(9) || $x END)"""
    }
    s"""WITH w AS (SELECT doc_id, list_filter(
          string_split_regex(lower(trim(text)), '\\s+'),
          x0 -> length(x0) > 0) AS words FROM documents),
      e AS (SELECT doc_id, replace(array_to_string(
          list_transform(words, wd -> $folded), ' '), chr(9), ' ') AS tokens_str
        FROM w)
    SELECT doc_id, tokens_str,
      CASE WHEN tokens_str = '' THEN 0
        ELSE CAST(len(string_split(tokens_str, ' ')) AS BIGINT) END AS n_syms
    FROM e"""
  }

  /** The fixed scoring lexicon for q164: English stopwords positive,
    * es/de/fr stopwords negative — a hand lexicon standing in for trained
    * perceptron weights (the plan shape is identical either way). A def,
    * not a val: the eager `specs` registry reads it during class init,
    * before trailing vals would be assigned. */
  private[graft] def scoringLexicon: Seq[(String, Long)] = Seq(
    "the" -> 3L, "and" -> 2L, "of" -> 2L, "with" -> 1L, "that" -> 1L,
    "la" -> -1L, "el" -> -2L, "und" -> -2L, "der" -> -1L, "les" -> -1L)

  /** q137's portable HLL restated for DuckDB: identical md5-prefix hash,
    * bucket/rank integer splits, CASE leading-zero rank, elementwise-max
    * union, and the SAME numerator double literal
    * ([[Aggregations.hllPortableNumerator]]). */
  private def sqlHllPortableOracle(lgK: Int, key: String = "source",
      includeAll: Boolean = true): String = {
    val m = 1L << lgK
    val width = 56 - lgK
    val bigW = width + 1
    val rhoCase = (1 to width).map(k =>
      s"WHEN r >= ${1L << (width - k)} THEN $k")
      .mkString("CASE ", " ", s" ELSE ${width + 1} END")
    // sum() widens to HUGEINT in DuckDB — pin BIGINT (values stay < 2^63)
    val denom = s"CAST(d + ($m - n_buckets_set) * (CAST(1 AS BIGINT) << $bigW) AS BIGINT)"
    s"""WITH w AS (SELECT $key,
          unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0)) AS val
        FROM documents),
      h AS (SELECT $key,
          CAST(concat('0x', substr(md5(CAST(val AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        FROM w),
      b AS (SELECT $key, h % $m AS bk, h // $m AS r FROM h),
      regs AS (SELECT $key, bk, max($rhoCase) AS m_j FROM b GROUP BY $key, bk),
      allregs AS (SELECT 'ALL' AS $key, bk, max(m_j) AS m_j FROM regs GROUP BY bk),
      u AS (SELECT * FROM regs${
        if (includeAll) " UNION ALL SELECT * FROM allregs" else ""}),
      agg AS (SELECT $key, count(*) AS n_buckets_set,
          sum(CAST(1 AS BIGINT) << ($bigW - m_j)) AS d FROM u GROUP BY $key)
    SELECT $key, n_buckets_set, $denom AS denom_scaled,
      ${Aggregations.hllPortableNumerator(lgK)} / CAST($denom AS DOUBLE) AS est_distinct
    FROM agg"""
  }

  /** DuckDB restatement of [[graft.ops.TextAnalysis.bm25TopK]] for the
    * literal three-term query (spark, window, merge) at k1 = 1.2, b = 0.75:
    * the CTE chain ending in `rk(doc_id, bm25)`. ONE body serves q193
    * (ranks it directly) and q194 (fuses it with the q30-shape vector
    * list), so the two restatements cannot drift. Every float op mirrors
    * the operator's fixed chain: the Robertson-ratio idf, the all-integer
    * saturation operands, and the LEFT-TO-RIGHT per-term coalesce sum. */
  private def sqlBm25Ctes: String = raw"""nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
          tws -> length(tws) > 0)) AS BIGINT)) AS DOUBLE) AS t
      FROM documents),
    bdl AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        tws -> length(tws) > 0)) AS BIGINT) AS dl FROM documents),
    btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          w -> length(w) > 0)) AS term
        FROM documents) WHERE term IN ('spark','window','merge') GROUP BY doc_id, term),
    bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY term),
    bsc AS (SELECT btf.doc_id, btf.term,
        ((2.0*nn.n - 2.0*bdf.df + 1.0) / (2.0*bdf.df + 1.0)) *
        ((22.0*btf.tf*nn.t) / (10.0*btf.tf*nn.t + 3.0*nn.t + 9.0*bdl.dl*nn.n)) AS s
      FROM btf JOIN bdf USING (term) JOIN bdl USING (doc_id), nn),
    bpv AS (SELECT doc_id,
        max(CASE WHEN term='spark' THEN s END) AS s0,
        max(CASE WHEN term='window' THEN s END) AS s1,
        max(CASE WHEN term='merge' THEN s END) AS s2
      FROM bsc GROUP BY doc_id),
    rk AS (SELECT doc_id, coalesce(s0,0.0)+coalesce(s1,0.0)+coalesce(s2,0.0) AS bm25 FROM bpv)"""

  /** Retrieval + monitoring family (round 11): the five operators the r10
    * ADVICE flagged as registered-but-ungated, each now oracle-gated. */
  private val retrievalQueries: Seq[Q] = Seq(

    // --- BM25 top-k lexical retrieval (TextAnalysis.bm25TopK): the
    // engine-deterministic Okapi variant — Robertson-RATIO idf, all-integer
    // saturation operands, fixed-order per-term sum; posting lists of the
    // three query terms are the only rows that shuffle ---
    Q("q193_bm25_topk",
      (s, dir) => TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        Seq("spark", "window", "merge"), topK = 20),
      Some(s"""WITH $sqlBm25Ctes
        SELECT doc_id, bm25,
          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM rk QUALIFY rank <= 20""")),

    // --- reciprocal-rank fusion of the BM25 list with the q30-shape
    // brute-force cosine list for query vec 0 (Similarity.rrfFuse) — the
    // standard hybrid-retrieval combiner over two bounded top-k lists;
    // the corpus is never touched by the fusion itself ---
    Q("q194_rrf_hybrid",
      (s, dir) => {
        val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "window", "merge"), topK = 20).select(col("doc_id"), col("rank"))
        val emb = t(s, dir, "embeddings")
        val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 20)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(lex, vec, "doc_id", kRrf = 60, topK = 15)
      },
      Some(s"""WITH $sqlBm25Ctes,
        lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_a
          FROM rk QUALIFY rank_a <= 20),
        qv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        vec AS (SELECT c.vec_id AS doc_id, CAST(row_number() OVER (ORDER BY
            list_inner_product(q.v, c.v) /
              (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) DESC,
            c.vec_id) AS INT) AS rank_b
          FROM qv q JOIN cv c ON c.vec_id != q.vec_id
          QUALIFY rank_b <= 20),
        fu AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex.rank_a, vec.rank_b,
            coalesce(1.0/(60.0 + lex.rank_a), 0.0) + coalesce(1.0/(60.0 + vec.rank_b), 0.0) AS rrf
          FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        SELECT doc_id, rank_a, rank_b, rrf,
          CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS fused_rank
        FROM fu QUALIFY fused_rank <= 15""")),

    // --- interpolated Kneser-Ney rare-bigram gate (TextAnalysis
    // .knRareBigrams): reference = the en slice, corpus = all docs; the
    // rare test is the all-integer comparison 1000·num < 20·den in
    // DECIMAL(38,0)/HUGEINT, so no float enters the gate on either engine ---
    Q("q195_kn_rare_bigrams",
      (s, dir) => {
        val d = t(s, dir, "documents")
        TextAnalysis.knRareBigrams(d.filter(col("lang") === "en"), d,
          "text", "doc_id", rareMilli = 20)
      },
      Some(raw"""WITH wl AS (SELECT doc_id, list_filter(
          string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0) AS w
        FROM documents),
        gt AS (SELECT g, CAST(count(*) AS BIGINT) AS c12 FROM (
            SELECT unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS g
            FROM wl JOIN documents USING (doc_id) WHERE lang = 'en') GROUP BY g),
        gt2 AS (SELECT g, c12, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2 FROM gt),
        w1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1p
          FROM gt2 GROUP BY w1),
        w2t AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont FROM gt2 GROUP BY w2),
        dd AS (SELECT CAST(count(*) AS HUGEINT) AS d FROM gt),
        cg AS (SELECT doc_id, g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2 FROM (
            SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w)-1, 0))]) AS g FROM wl)),
        j AS (SELECT cg.doc_id,
            CASE WHEN w1t.c1 IS NOT NULL THEN
              CAST(greatest(4*coalesce(gt.c12,0) - 3, 0) AS HUGEINT) * dd.d
                + CAST(3 AS HUGEINT)*CAST(coalesce(w1t.n1p,0) AS HUGEINT)
                  *CAST(coalesce(w2t.cont,0) AS HUGEINT)
            ELSE CAST(coalesce(w2t.cont,0) AS HUGEINT) END AS num,
            CASE WHEN w1t.c1 IS NOT NULL THEN CAST(4*w1t.c1 AS HUGEINT) * dd.d
            ELSE dd.d END AS den
          FROM cg LEFT JOIN gt USING (g) LEFT JOIN w1t USING (w1)
            LEFT JOIN w2t USING (w2), dd),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            CAST(sum(CASE WHEN CAST(1000 AS HUGEINT)*num < CAST(20 AS HUGEINT)*den
              THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
          FROM j GROUP BY doc_id)
        SELECT d.doc_id, coalesce(pd.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
          coalesce(pd.n_rare, CAST(0 AS BIGINT)) AS n_rare,
          CASE WHEN pd.n_bigrams IS NULL THEN -1.0
            ELSE CAST(pd.n_rare AS DOUBLE)/CAST(pd.n_bigrams AS DOUBLE) END AS rare_frac
        FROM documents d LEFT JOIN pd USING (doc_id)""")),

    // --- grouped OLS linear trend (Aggregations.linearTrend): per-source
    // drift of document length over ingest order; exact DECIMAL(38,0)
    // sums, the only floats are one cast each + one division ---
    Q("q196_linear_trend",
      (s, dir) => Aggregations.linearTrend(t(s, dir, "documents"),
        "source", "doc_id", "n_chars"),
      Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points,
          CAST(sum(CAST(doc_id AS HUGEINT)) AS HUGEINT) AS sx,
          CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sy,
          CAST(sum(CAST(doc_id AS HUGEINT)*CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sxy,
          CAST(sum(CAST(doc_id AS HUGEINT)*CAST(doc_id AS HUGEINT)) AS HUGEINT) AS sxx
        FROM documents GROUP BY source),
        c AS (SELECT source, n_points,
          CAST(n_points AS HUGEINT)*sxy - sx*sy AS num,
          CAST(n_points AS HUGEINT)*sxx - sx*sx AS den, sx, sy FROM s)
        SELECT source, n_points,
          CASE WHEN den = 0 THEN NULL
            ELSE CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END AS slope,
          CASE WHEN den = 0 THEN NULL
            ELSE (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE)/CAST(den AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n_points AS DOUBLE) END AS intercept
        FROM c""")),

    // --- per-key daily-volume anomaly z-scores (EventAnalytics
    // .volumeAnomalies) with the zero-filled day grid — a day the key went
    // dark IS a scored row; exact integer variance numerator, float tail
    // is two casts + division + correctly-rounded sqrt ---
    Q("q197_volume_anomalies",
      (s, dir) => EventAnalytics.volumeAnomalies(events(s, dir), "ts", "event_type"),
      Some("""WITH ac AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        sp AS (SELECT event_type, min(d) AS lo, max(d) AS hi FROM ac GROUP BY 1),
        gr AS (SELECT event_type, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
          CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM sp),
        da AS (SELECT gr.event_type, gr.d, coalesce(ac.c, CAST(0 AS BIGINT)) AS n_events
          FROM gr LEFT JOIN ac ON ac.event_type = gr.event_type AND ac.d = gr.d),
        ws AS (SELECT event_type, d, n_events,
            CAST(count(*) OVER w AS BIGINT) AS n,
            CAST(sum(CAST(n_events AS HUGEINT)) OVER w AS HUGEINT) AS sc,
            CAST(sum(CAST(n_events AS HUGEINT)*CAST(n_events AS HUGEINT)) OVER w AS HUGEINT) AS scc
          FROM da WINDOW w AS (PARTITION BY event_type)),
        z AS (SELECT event_type, d, n_events,
            CASE WHEN CAST(n AS HUGEINT)*scc - sc*sc = 0 THEN 0.0
              ELSE (CAST(n_events AS DOUBLE) - CAST(sc AS DOUBLE)/CAST(n AS DOUBLE)) /
                sqrt(CAST(CAST(n AS HUGEINT)*scc - sc*sc AS DOUBLE)/CAST(n*n AS DOUBLE))
            END AS z_score
          FROM ws)
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events, z_score,
          abs(z_score) > 2.0 AS is_anomaly
        FROM z""")),

    // --- overlapping-window document chunking (TextAnalysis
    // .chunkDocuments): 40-token windows advancing by 30 (10-token
    // overlap) — the RAG-index / long-doc complement of q72's cross-doc
    // packing; all-integer chunk-count arithmetic, one narrow bounded
    // explode, no shuffle ---
    Q("q202_chunking",
      (s, dir) => TextAnalysis.chunkDocuments(t(s, dir, "documents"),
        "text", "doc_id", chunkTokens = 40, overlapTokens = 10),
      Some(raw"""WITH wl AS (SELECT doc_id, list_filter(
          string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS w
        FROM documents),
        nn AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM wl WHERE len(w) > 0),
        kk AS (SELECT doc_id, w, n,
          CASE WHEN n <= 40 THEN 0 ELSE (n - 40 + 29) // 30 END AS klast FROM nn),
        e AS (SELECT doc_id, w, n, unnest(generate_series(0, klast)) AS chunk_id FROM kk)
        SELECT doc_id, chunk_id, chunk_id*30 AS start_token,
          CAST(len(w[chunk_id*30+1 : chunk_id*30+40]) AS BIGINT) AS n_tokens,
          array_to_string(w[chunk_id*30+1 : chunk_id*30+40], ' ') AS chunk_text
        FROM e"""))
  )

  /** The multi-view SQL statement q201 runs through BOTH engines verbatim:
    * `ContractStore.executeSql` registers every contract as a Spark temp
    * view and runs it through Catalyst; the oracle hands the SAME string to
    * DuckDB over the raw tables — one string, so the restatements cannot
    * drift, and the gate proves the temp-view catalog and Catalyst agree
    * with ANSI semantics on a join + aggregate + window statement. */
  private val q201Sql: String =
    """SELECT c_mktsegment, o_orderpriority, n_orders, total, revenue_rank FROM (
      SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(row_number() OVER (PARTITION BY c_mktsegment
          ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) DESC, o_orderpriority) AS INT)
          AS revenue_rank
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c_mktsegment, o_orderpriority) t
    WHERE revenue_rank <= 3"""

  /** Lifecycle gates (round 11, VERDICT r10 next-round #2/#3/#6/#7): the
    * four spec-only paths promoted to oracle rows — the EventTrigger emit
    * path run as streaming modality #9, the predict_over → prediction-source
    * → read-back lifecycle, the DatasetStore save/reload round trip, and a
    * multi-view join+aggregate+window statement through executeSql. */
  private val lifecycleQueries: Seq[Q] = Seq(

    // --- streaming modality #9: the EventTrigger emit path through the
    // PRODUCTION runWorker entry point (reference ListenForTriggers,
    // schemas/event_trigger.py:20-97) — contract pipeline (rename +
    // derived gate flag) inside the stream, trigger predicate routing
    // matching rows to a second store per micro-batch; final trigger-store
    // state = the static filter ---
    Q("q198_event_trigger_run",
      (s, dir) => {
        import graft.core.FeatureType._
        val raw = events(s, dir).select(col("event_id"), col("ts"),
          col("event_type").as("evt_type"), col("value"))
        val view = graft.contract.FeatureView("events_trigger",
          graft.sources.CustomSource(_.emptyDataFrame),
          entities = Seq(graft.contract.Feature("event_id", FInt64)),
          features = Seq(graft.contract.Feature("value", FFloat64),
            graft.contract.Feature("event_type", FString)),
          derived = Seq(graft.contract.DerivedFeature("high_value", FBool,
            Ref("value") > Lit(100.0), Seq("value"))),
          eventTimestamp = Some(graft.contract.EventTimestamp("ts")),
          mappingKeys = Map("evt_type" -> "event_type"))
        graft.streaming.Streaming.stagedTriggerRun(s, raw, "ts", "event_id",
            view, col("high_value"))
          .select(col("event_id"), col("event_type"), col("value"),
            col("ts").cast("long").as("ts_epoch"))
      },
      Some("""SELECT event_id, event_type, value,
          CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_epoch
        FROM events WHERE value > 100.0"""),
      family = "stream"),
        // floor, not a bare CAST: Spark's timestamp→long TRUNCATES the
        // fractional second while DuckDB's BIGINT cast rounds half-up —
        // raw event ts carries micros (unlike the whole-hour window_start
        // gates, where the two agree)

    // --- predict_over end to end (reference PredictionJob,
    // retrieval_job.py:3328-3451 + model_store.py:144-167): assemble
    // inputs for an entity frame, run the exposed model, stamp
    // model_version + predicted_at, UPSERT into the prediction view's
    // source, and read the prediction source back — the row that comes
    // back out of the written artifact is what the oracle checks ---
    Q("q199_predict_over",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_predict").toString
        val docsView = FeatureView("docs_pv", ParquetSource(s"$dir/documents.parquet"),
          entities = Seq(Feature("doc_id", FInt64)),
          features = Seq(Feature("n_chars", FInt64), Feature("lang", FString)))
        val predView = FeatureView("doc_len_preds",
          ParquetSource(s"$work/preds.parquet"),
          entities = Seq(Feature("doc_id", FInt64)),
          features = Seq(Feature("p", FInt64)))
        val store = new ContractStore().addView(docsView)
          .addModel(ModelContract("doc_scorer", Seq("docs_pv:n_chars"),
            predictionView = Some(predView),
            model = Some(graft.ml.ExpressionModel("doc_scorer", "v1", "p",
              col("n_chars") * 2L + 1L))))
        val entities = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") < 100)
        store.model("doc_scorer").predictAndStore(s, entities)
        // read back through the WRITTEN prediction source, not the
        // in-memory prediction frame — the round trip is the operator
        predView.source.read(s)
          .select(col("doc_id"), col("p"), col("model_version"),
            col("predicted_at").isNotNull.as("stamped"))
      },
      Some("""SELECT doc_id, CAST(n_chars * 2 + 1 AS BIGINT) AS p,
          'v1' AS model_version, TRUE AS stamped
        FROM documents WHERE doc_id < 100""")),

    // --- DatasetStore save/reload round trip (reference schemas/folder.py
    // dataset store + TrainTestJob store/load): persist a deterministic
    // ordered split's artifacts + manifest, reload BOTH splits from disk,
    // and hand the reloaded membership to the oracle — split stability is
    // the contract (the reference caches splits precisely so reruns cannot
    // resample) ---
    Q("q200_dataset_store",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_dataset").toString
        val ds = new graft.ml.DatasetStore(work)
        val (tr, te) = graft.ml.MLOps.trainTest(t(s, dir, "documents"), 0.8,
          orderBy = Some("doc_id"))
        ds.save("docs_v1", Map("train" -> tr, "test" -> te),
          Map("note" -> "round11 roundtrip gate"))
        require(ds.exists(s, "docs_v1"), "manifest missing after save")
        ds.load(s, "docs_v1", "train").select(col("doc_id"))
          .withColumn("split", lit("train"))
          .unionByName(ds.load(s, "docs_v1", "test").select(col("doc_id"))
            .withColumn("split", lit("test")))
      },
      Some("""WITH r AS (SELECT doc_id,
            percent_rank() OVER (ORDER BY doc_id) AS pr FROM documents)
        SELECT doc_id, CASE WHEN pr <= 0.8 THEN 'train' ELSE 'test' END AS split
        FROM r""")),

    // --- executeSql over a multi-view catalog: join + aggregate + window
    // in ONE statement shared verbatim with the oracle (reference
    // feature_store.py:457-499 does this through sqlglot → polars; here
    // the temp-view catalog + Catalyst carry it natively) ---
    Q("q201_sql_multiview",
      (s, dir) => {
        val store = new ContractStore()
          .addView(FeatureView("orders", ParquetSource(s"$dir/orders.parquet"),
            entities = Seq(Feature("o_orderkey", FInt64)),
            features = Seq(Feature("o_custkey", FInt64),
              Feature("o_orderpriority", FString), Feature("o_totalprice", FFloat64))))
          .addView(FeatureView("customer", ParquetSource(s"$dir/customer.parquet"),
            entities = Seq(Feature("c_custkey", FInt64)),
            features = Seq(Feature("c_mktsegment", FString))))
        store.executeSql(s, q201Sql)
      },
      Some(q201Sql))
  )

  /** Source round trips + contract conformance + PII scrub (round 11):
    * the remaining spec-only source paths promoted to oracle rows — the
    * written-then-reread artifact is what the oracle checks, so the sink,
    * the reader, and the upsert semantics are all inside the gate. */
  private val conformQueries: Seq[Q] = Seq(

    // --- CsvFileSource round trip (reference sources/local.py CSV
    // insert/upsert/overwrite): overwrite the nation table to CSV, then
    // stage-and-swap upsert a 5-row correction, read back through
    // inference — quoting, header, and the upsert merge are all under
    // the hash ---
    Q("q203_csv_roundtrip",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_csv").toString
        val src = graft.sources.CsvSource(s"$work/nation_csv")
        src.overwrite(t(s, dir, "nation"))
        src.upsert(t(s, dir, "nation").filter(col("n_nationkey") < 5)
          .withColumn("n_name", concat(col("n_name"), lit(" (updated)"))),
          Seq("n_nationkey"))
        src.read(s).select(col("n_nationkey").cast("long"),
          col("n_regionkey").cast("long"), col("n_name"))
      },
      Some("""SELECT n_nationkey, n_regionkey,
          CASE WHEN n_nationkey < 5 THEN n_name || ' (updated)' ELSE n_name END AS n_name
        FROM nation""")),

    // --- PartitionedParquetFileSource round trip (reference
    // sources/local.py:502-727): hive-partition documents by lang, then
    // partition-upsert a 10%-of-en correction — dynamic partition
    // overwrite rewrites ONLY the touched partition (the 100 TB-correct
    // mutable-table shape); untouched partitions' rows must survive
    // byte-identical ---
    Q("q204_partitioned_upsert",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_part").toString
        val src = graft.sources.PartitionedParquetSource(s"$work/docs_part", Seq("lang"))
        val docs = storeDocs(s, dir)
        src.overwrite(docs)
        src.upsert(docs.filter(col("lang") === "en" && col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L), Seq("doc_id"))
        storeDocsOut(src.read(s))
      },
      Some("""SELECT doc_id, lang, source,
          CASE WHEN lang = 'en' AND doc_id % 10 = 0 THEN n_chars + 1000
            ELSE n_chars END AS n_chars
        FROM documents""")),

    // --- hash-BUCKETED store round trip (round 14; the O(touched-buckets)
    // upsert path for key-addressed stores whose natural key has no
    // partition-friendly shape — BucketedParquetSource scaladoc). Same
    // mutable-table oracle discipline as q203/q204: overwrite, upsert a
    // selective slice, read back under the hash; untouched buckets' files
    // are byte-identical by spec (BucketedStoreSpec) ---
    Q("q244_bucketed_upsert",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_bkt").toString
        val src = graft.sources.BucketedParquetSource(s"$work/docs_bkt", Seq("doc_id"), 16)
        val docs = storeDocs(s, dir)
        src.overwrite(docs)
        src.upsert(docs.filter(col("doc_id") % 7 === 0)
          .withColumn("source", lit("patched")), Seq("doc_id"))
        storeDocsOut(src.read(s))
      },
      Some("""SELECT doc_id, lang,
          CASE WHEN doc_id % 7 = 0 THEN 'patched' ELSE source END AS source,
          n_chars
        FROM documents""")),

    // --- LOG-STRUCTURED store round trip (round 14; the O(batch)-per-
    // upsert sink the staged streaming gates run on — LogUpsertSource
    // scaladoc): three generations of appends, one of them a redelivery,
    // then a COMPACTION, and the resolved read must equal the
    // latest-write-wins semantics exactly; the compaction must be
    // content-invariant ---
    Q("q245_log_upsert_store",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_logq").toString
        val src = graft.sources.LogUpsertSource(s"$work/docs_log", Seq("doc_id"))
        val docs = storeDocs(s, dir)
        src.upsert(docs, Seq("doc_id"))
        val patch = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") * 2L)
        src.upsert(patch, Seq("doc_id"))
        src.upsert(patch, Seq("doc_id")) // at-least-once redelivery
        src.compact(s)                   // fold to one generation
        storeDocsOut(src.read(s))
      },
      Some("""SELECT doc_id, lang, source,
          CASE WHEN doc_id % 5 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars
        FROM documents""")),

    // --- LSM-COMPOSED store round trip (round 15; BucketedLogUpsertSource
    // scaladoc): generation-log appends under a hash-bucket layout. The
    // gate drives the store through ENOUGH upserts (9 > autoCompactEvery=4)
    // that the ENGINE-enforced auto-compaction fires mid-sequence at least
    // twice, then reads back both the full resolve AND a pruned point
    // lookup — latest-write-wins must hold through every fold ---
    Q("q246_bucketed_log_store",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_lsmq").toString
        val src = graft.sources.BucketedLogUpsertSource(s"$work/docs_lsm",
          Seq("doc_id"), numBuckets = 16, autoCompactEvery = 4)
        val docs = storeDocs(s, dir)
        src.upsert(docs, Seq("doc_id"))
        // eight key-sliced patch rounds: each round m rewrites the rows with
        // doc_id % 8 == m, so auto-compaction fires inside the sequence and
        // every key's LAST patch must survive all folds
        for (m <- 0L until 8L)
          src.upsert(docs.filter(pmod(col("doc_id"), lit(8L)) === m)
            .withColumn("n_chars", col("n_chars") * 2L + m), Seq("doc_id"))
        storeDocsOut(src.read(s))
      },
      Some("""SELECT doc_id, lang, source,
          n_chars * 2 + (doc_id % 8) AS n_chars
        FROM documents""")),

    // --- ONLINE lookup over the LSM store (q139 discipline, VERDICT r14
    // #3): the view's source is a BucketedLogUpsertSource, so the lookup
    // takes its bucket-PRUNED latestFor path; the `range` entities are not
    // driver rows, so the plan stays lazy with one window, the generation
    // resolve (pruning spec-asserted in OnlineLookupSpec; this gates VALUES
    // against DuckDB). ts = the unique o_orderkey: "latest" is deterministic ---
    Q("q247_lsm_online_lookup",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_lsmol").toString
        val src = graft.sources.BucketedLogUpsertSource(s"$work/cust_lsm",
          Seq("o_custkey"), numBuckets = 16)
        // latest order per customer, upserted in two generations split on
        // order parity so the log genuinely resolves across generations
        val orders = t(s, dir, "orders").withColumn("ts",
          timestamp_seconds(col("o_orderkey")))
        import org.apache.spark.sql.expressions.Window
        val latest = orders.withColumn("__rn", row_number().over(Window
            .partitionBy(col("o_custkey")).orderBy(col("o_orderkey").desc)))
          .filter(col("__rn") === 1).drop("__rn")
          .select("o_custkey", "ts", "o_totalprice", "o_orderstatus")
        src.upsert(latest.filter(col("o_custkey") % 2 === 0), Seq("o_custkey"))
        src.upsert(latest.filter(col("o_custkey") % 2 === 1), Seq("o_custkey"))
        val v = graft.contract.FeatureView("cust_latest_lsm", src,
          entities = Seq(graft.contract.Feature("o_custkey", graft.core.FeatureType.FInt64)),
          features = Seq(
            graft.contract.Feature("o_totalprice", graft.core.FeatureType.FFloat64),
            graft.contract.Feature("o_orderstatus", graft.core.FeatureType.FString)),
          eventTimestamp = Some(graft.contract.EventTimestamp("ts")))
        new graft.store.ContractStore().addView(v).onlineFeaturesFor(s,
          s.range(1, 101).select(col("id").as("o_custkey")),
          Seq("cust_latest_lsm:o_totalprice", "cust_latest_lsm:o_orderstatus"))
      },
      Some("""WITH e AS (SELECT CAST(range AS BIGINT) AS o_custkey FROM range(1, 101)),
          r AS (SELECT o_custkey, o_totalprice, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
            FROM orders WHERE o_custkey BETWEEN 1 AND 100)
        SELECT e.o_custkey, r.o_totalprice, r.o_orderstatus
        FROM e LEFT JOIN r ON r.o_custkey = e.o_custkey AND r.rn = 1""")),

    // --- TIME TRAVEL on the generation log (round 15; the Delta
    // versionAsOf idea with no jar — LogUpsertSource.readAt scaladoc):
    // three upsert generations, then read the MIDDLE snapshot — the later
    // patch must be invisible, the earlier one applied. Fold interplay
    // (history subsumed → loud failure) is spec-gated in
    // LogStoreTimeTravelSpec; this gates the resolve-at-generation VALUES
    // against DuckDB ---
    Q("q248_log_time_travel",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("graft_ttq").toString
        // cadence pinned ABOVE the gate's 3 upserts: under the env default
        // (e.g. SPARK_GRAFT_LOG_COMPACT_EVERY=2, the sweep configuration) a
        // fold would subsume generation 1 and readAt(1) would loudly refuse
        val src = graft.sources.LogUpsertSource(s"$work/docs_tt", Seq("doc_id"),
          autoCompactEvery = 100)
        val docs = storeDocs(s, dir)
        src.upsert(docs, Seq("doc_id"))                                   // gen 0
        src.upsert(docs.filter(col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") * 2L), Seq("doc_id"))     // gen 1
        src.upsert(docs.filter(col("doc_id") % 3 === 1)
          .withColumn("n_chars", col("n_chars") * 3L), Seq("doc_id"))     // gen 2
        storeDocsOut(src.readAt(s, 1L))
      },
      Some("""SELECT doc_id, lang, source,
          CASE WHEN doc_id % 3 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars
        FROM documents""")),

    // --- contract conformance pipeline in one gate (FileFullJob,
    // local/job.py:218-292): rename (mapping_keys) + fill-missing-with-
    // default + cast-on-mismatch + derived feature, all through
    // baseWithDerived — the scan→conform path every view read runs ---
    Q("q205_contract_conform",
      (s, dir) => {
        val view = FeatureView("orders_conform", ParquetSource(s"$dir/orders.parquet"),
          entities = Seq(Feature("o_orderkey", FInt64)),
          features = Seq(
            Feature("o_custkey", FInt32),
            Feature("priority", FString),
            Feature("channel", FString, defaultValue = Some("web"))),
          derived = Seq(DerivedFeature("is_urgent", FBool,
            Ref("priority") === Lit("1-URGENT"), Seq("priority"))),
          mappingKeys = Map("o_orderpriority" -> "priority"))
        new ContractStore().addView(view).view("orders_conform").baseWithDerived(s)
          .select(col("o_orderkey"), col("o_custkey"), col("priority"),
            col("channel"), col("is_urgent"))
      },
      Some("""SELECT o_orderkey, CAST(o_custkey AS INT) AS o_custkey,
          o_orderpriority AS priority, 'web' AS channel,
          o_orderpriority = '1-URGENT' AS is_urgent
        FROM orders""")),

    // --- PII detection + redaction (TextAnalysis.redactPii): the query
    // seeds each doc with deterministic doc_id-derived identifiers
    // IDENTICALLY on both engines (the raw corpus has none — a gate over
    // all-zero counts would prove nothing), then the stage-sequential
    // count→replace chain runs email → IPv4 → phone; counts and the
    // fully-redacted text are both under the hash ---
    Q("q206_pii_redact",
      (s, dir) => {
        val seeded = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            pmod(col("doc_id"), lit(256L)).cast("string"),
            lit(".7 call +1555"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 7, "0")).as("text"))
        TextAnalysis.redactPii(seeded, "text", "doc_id")
      },
      Some(raw"""WITH seeded AS (SELECT doc_id, text || ' contact u' || doc_id ||
            '@example.com from 10.0.' || (doc_id % 256) || '.7 call +1555' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') AS t0 FROM documents),
          s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(t0,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
              regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '[EMAIL]', 'g') AS t1
            FROM seeded),
          s2 AS (SELECT doc_id, n_emails,
              CAST(len(regexp_extract_all(t1,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
              regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                '[IP]', 'g') AS t2
            FROM s1)
          SELECT doc_id, n_emails, n_ips,
            CAST(len(regexp_extract_all(t2, '\+\d{7,15}')) AS BIGINT) AS n_phones,
            regexp_replace(t2, '\+\d{7,15}', '[PHONE]', 'g') AS redacted
          FROM s2""")),

    // --- exact grouped ROC-AUC (MLOps.aucByGroup): Mann-Whitney with tie
    // correction computed from the integer-score histogram — the corpus
    // folds to O(groups × score-range) rows before the only window, no
    // global row sort; all-integer half-unit numerator in DECIMAL(38,0),
    // one float division last. Label (user_id % 3) is independent of the
    // event_type grouping so every group is two-class ---
    Q("q207_auc_by_group",
      (s, dir) => graft.ml.MLOps.aucByGroup(
        events(s, dir).withColumn("label",
          when(pmod(col("user_id"), lit(3L)) === 0L, 1).otherwise(0)),
        "event_type", floor(col("value") * 10), "label"),
      Some("""WITH e AS (SELECT event_type, CAST(floor(value*10) AS BIGINT) AS s,
            CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS label FROM events),
          h AS (SELECT event_type, s, CAST(sum(label) AS BIGINT) AS pos,
              CAST(sum(1-label) AS BIGINT) AS neg FROM e GROUP BY 1, 2),
          w AS (SELECT event_type, s, pos, neg,
              coalesce(sum(neg) OVER (PARTITION BY event_type ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negbelow
            FROM h)
          SELECT event_type, CAST(sum(pos) AS BIGINT) AS n_pos,
            CAST(sum(neg) AS BIGINT) AS n_neg,
            CASE WHEN sum(pos) = 0 OR sum(neg) = 0 THEN NULL
              ELSE CAST(sum(CAST(2*negbelow*pos + neg*pos AS HUGEINT)) AS DOUBLE)
                / (2.0 * sum(pos) * sum(neg)) END AS auc
          FROM w GROUP BY event_type""")),

    // --- grouped PR curve (MLOps.prCurveByGroup): every operating point of
    // "positive at score ≥ t" from the same histogram fold as q207 — one
    // descending cumulative window over O(groups × score-range) rows, each
    // ratio a single integer÷integer division ---
    Q("q208_pr_curve",
      (s, dir) => graft.ml.MLOps.prCurveByGroup(
        events(s, dir).withColumn("label",
          when(pmod(col("user_id"), lit(3L)) === 0L, 1).otherwise(0)),
        "event_type", floor(col("value")), "label"),
      Some("""WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS threshold,
            CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS label FROM events),
          h AS (SELECT event_type, threshold, CAST(sum(label) AS BIGINT) AS pos,
              CAST(sum(1-label) AS BIGINT) AS neg FROM e GROUP BY 1, 2),
          w AS (SELECT event_type, threshold,
              sum(pos) OVER cum AS tp, sum(neg) OVER cum AS fp,
              sum(pos) OVER (PARTITION BY event_type) AS p
            FROM h WINDOW cum AS (PARTITION BY event_type ORDER BY threshold DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT event_type, threshold, CAST(tp AS BIGINT) AS tp,
            CAST(fp AS BIGINT) AS fp,
            CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
            CASE WHEN p = 0 THEN NULL
              ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END AS recall
          FROM w""")),

    // --- exact two-sample KS per group (MLOps.ksByGroup): distribution
    // shift of value between even- and odd-user populations; integer
    // common-denominator numerator max, one division last ---
    Q("q209_ks_stat",
      (s, dir) => graft.ml.MLOps.ksByGroup(
        events(s, dir).withColumn("label",
          when(pmod(col("user_id"), lit(2L)) === 0L, 1).otherwise(0)),
        "event_type", floor(col("value") * 10), "label"),
      Some("""WITH e AS (SELECT event_type, CAST(floor(value*10) AS BIGINT) AS s,
            CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS label FROM events),
          h AS (SELECT event_type, s, CAST(sum(label) AS BIGINT) AS pos,
              CAST(sum(1-label) AS BIGINT) AS neg FROM e GROUP BY 1, 2),
          w AS (SELECT event_type,
              sum(pos) OVER cum AS ca, sum(neg) OVER cum AS cb,
              sum(pos) OVER (PARTITION BY event_type) AS na,
              sum(neg) OVER (PARTITION BY event_type) AS nb
            FROM h WINDOW cum AS (PARTITION BY event_type ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
            CAST(max(nb) AS BIGINT) AS n_b,
            CASE WHEN max(na) = 0 OR max(nb) = 0 THEN NULL
              ELSE CAST(max(abs(CAST(ca AS HUGEINT)*nb - CAST(cb AS HUGEINT)*na))
                  AS DOUBLE) / CAST(CAST(max(na) AS HUGEINT) * max(nb) AS DOUBLE) END
              AS ks
          FROM w GROUP BY event_type""")),

    // --- tie-corrected Spearman per group (Aggregations.spearmanByGroup):
    // monotone association between value magnitude and hour-of-day — ranks
    // from marginal histograms (never a row sort), centered doubled ranks
    // keep every sum integer-exact ---
    Q("q210_spearman",
      (s, dir) => Aggregations.spearmanByGroup(
        events(s, dir), "event_type", floor(col("value")), hour(col("ts"))),
      Some("""WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS x,
            CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y FROM events),
          j AS (SELECT event_type, x, y, count(*) AS c FROM e GROUP BY 1, 2, 3),
          rx AS (SELECT event_type, x,
              2*coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m
                - sum(m) OVER (PARTITION BY event_type) AS r
            FROM (SELECT event_type, x, sum(c) AS m FROM j GROUP BY 1, 2)),
          ry AS (SELECT event_type, y,
              2*coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m
                - sum(m) OVER (PARTITION BY event_type) AS r
            FROM (SELECT event_type, y, sum(c) AS m FROM j GROUP BY 1, 2)),
          s AS (SELECT j.event_type, j.c, rx.r AS rx, ry.r AS ry FROM j
            JOIN rx ON j.event_type = rx.event_type AND j.x = rx.x
            JOIN ry ON j.event_type = ry.event_type AND j.y = ry.y)
          SELECT event_type, CAST(sum(c) AS BIGINT) AS n_points,
            CASE WHEN sum(c*rx*rx) = 0 OR sum(c*ry*ry) = 0 THEN NULL
              ELSE CAST(sum(c*rx*ry) AS DOUBLE)
                / sqrt(CAST(sum(c*rx*rx) AS DOUBLE) * CAST(sum(c*ry*ry) AS DOUBLE))
              END AS rho
          FROM s GROUP BY event_type""")),

    // --- corpus-mixture concentration (TextAnalysis.keyConcentration):
    // HHI + effective source count of each language slice ---
    Q("q211_source_hhi",
      (s, dir) => TextAnalysis.keyConcentration(
        t(s, dir, "documents"), "lang", "source"),
      Some("""WITH c AS (SELECT lang, source, count(*) AS n
            FROM documents GROUP BY 1, 2)
          SELECT lang, count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
            CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE)
              / CAST(CAST(sum(n) AS HUGEINT) * sum(n) AS DOUBLE) AS hhi,
            CAST(CAST(sum(n) AS HUGEINT) * sum(n) AS DOUBLE)
              / CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE) AS effective_keys
          FROM c GROUP BY lang""")),

    // --- The TENTH streaming-runtime modality under the gate: CHECKPOINT
    // RESTART RECOVERY. The stream stops mid-corpus (graceful shutdown
    // after the first two of four staged chunks), the remaining chunks
    // land during the outage, and a NEW query resumes from the same
    // checkpoint — so the oracle equality proves the window state store
    // RELOADS across query lifecycles (straddling windows keep their
    // phase-1 counts without re-reading them), the file-source checkpoint
    // replays nothing and misses nothing, and any recovery redelivery is
    // absorbed by the idempotent commitlog sink. Oracle = the q165-style
    // static aggregate over the full table ---
    Q("q212_restart_recovery",
      (s, dir) => graft.streaming.Streaming.stagedRestartRecoveryRun(
        s, events(s, dir).select("ts", "event_type", "value"),
        "ts", "event_type", "value"),
      Some(sqlHourlyEventAgg),
      family = "stream"),

    // --- ranked-retrieval quality (MLOps.rankingMetrics): nDCG@10, RR and
    // recall@10 per lang over a deterministic run (docs ranked by length,
    // graded gains from doc_id). The log2 discounts enter BOTH engines as
    // the same ndcgDiscountMicros integer literal table — libm never runs
    // in the data path — so every float is one integer÷integer division ---
    Q("q213_ranking_metrics",
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        val run = t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("rnk", row_number().over(w))
          .withColumn("rel", when(pmod(col("doc_id"), lit(5L)) === 0L, 3L)
            .when(pmod(col("doc_id"), lit(5L)) === 1L, 1L).otherwise(0L))
        graft.ml.MLOps.rankingMetrics(run, "lang", col("rnk"), col("rel"), k = 10)
      },
      Some(s"""WITH r AS (SELECT lang,
            CASE WHEN doc_id % 5 = 0 THEN 3 WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END
              AS rel,
            row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
              AS rnk
          FROM documents),
        i AS (SELECT lang, rel, rnk,
            row_number() OVER (PARTITION BY lang ORDER BY rel DESC, rnk) AS ip
          FROM r),
        a AS (SELECT lang, count(*) AS n_labeled,
            CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
            CAST(min(CASE WHEN rel > 0 THEN rnk END) AS BIGINT) AS first_rel_rank,
            CAST(sum(CASE WHEN rel > 0 AND rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
              AS hits_at_k,
            CAST(sum(CASE WHEN rnk <= 10 THEN
              rel * (${graft.ml.MLOps.ndcgDiscountMicros(10).mkString("[", ", ", "]")})[rnk]
              ELSE 0 END) AS BIGINT) AS dcg_micro,
            CAST(sum(CASE WHEN ip <= 10 THEN
              rel * (${graft.ml.MLOps.ndcgDiscountMicros(10).mkString("[", ", ", "]")})[ip]
              ELSE 0 END) AS BIGINT) AS idcg_micro
          FROM i GROUP BY lang)
        SELECT lang, n_labeled, n_relevant, first_rel_rank,
          CAST(1 AS DOUBLE) / first_rel_rank AS rr, hits_at_k,
          CASE WHEN n_relevant = 0 THEN NULL
            ELSE CAST(hits_at_k AS DOUBLE) / n_relevant END AS recall_at_k,
          dcg_micro, idcg_micro,
          CASE WHEN idcg_micro = 0 THEN NULL
            ELSE CAST(dcg_micro AS DOUBLE) / idcg_micro END AS ndcg_at_k
        FROM a""")),

    // --- exact two-sample chi-square homogeneity + Cramér's V
    // (MLOps.chiSquareByGroup): whole-table drift between even- and
    // odd-user value distributions per event_type — D = cA·nB − cB·nA in
    // DECIMAL per bin, and the one float sum runs as a SEQUENTIAL FOLD IN
    // BIN ORDER on both engines (sort_array+aggregate ≡ list ORDER BY +
    // list_reduce), so the IEEE operation sequence is identical ---
    Q("q214_chi2_drift",
      (s, dir) => graft.ml.MLOps.chiSquareByGroup(
        events(s, dir).withColumn("label",
          when(pmod(col("user_id"), lit(2L)) === 0L, 1).otherwise(0)),
        "event_type", floor(col("value") * 10), "label"),
      Some("""WITH e AS (SELECT event_type, CAST(floor(value*10) AS BIGINT) AS b,
            CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS label FROM events),
          h AS (SELECT event_type, b, CAST(sum(label) AS BIGINT) AS ca,
              CAST(sum(1-label) AS BIGINT) AS cb FROM e GROUP BY 1, 2),
          w AS (SELECT event_type, b, ca, cb,
              CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
              CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
            FROM h),
          t AS (SELECT event_type, b, na, nb, ca + cb AS m,
              CAST(CAST(ca AS HUGEINT)*nb - CAST(cb AS HUGEINT)*na AS DOUBLE) AS d
            FROM w),
          g AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
              count(*) AS n_bins,
              list_reduce(list(d*d / CAST(m AS DOUBLE) ORDER BY b),
                (x, y) -> x + y) AS s
            FROM t GROUP BY event_type),
          g2 AS (SELECT event_type, n_a, n_b, n_bins,
              CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE s / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) END AS chi2
            FROM g)
          SELECT event_type, n_a, n_b, n_bins, chi2,
            CASE WHEN chi2 IS NULL OR n_bins <= 1 THEN NULL
              ELSE sqrt(chi2 / CAST(n_a + n_b AS DOUBLE)) END AS cramers_v
          FROM g2""")),

    // --- Cohen's kappa per lang (MLOps.cohenKappaByGroup): chance-corrected
    // agreement between two label heuristics (char length vs space count) —
    // entirely rational, κ = (n·agree − S)/(n² − S), one division last ---
    Q("q215_cohen_kappa",
      (s, dir) => graft.ml.MLOps.cohenKappaByGroup(
        t(s, dir, "documents"), "lang",
        col("n_chars") >= 400,
        expr("length(text) - length(replace(text, ' ', ''))") >= 60),
      Some("""WITH p AS (SELECT lang,
            CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS a,
            CASE WHEN length(text) - length(replace(text, ' ', '')) >= 60
              THEN 1 ELSE 0 END AS b
          FROM documents),
          cells AS (SELECT lang, a, b, count(*) AS c FROM p GROUP BY 1, 2, 3),
          ma AS (SELECT lang, a AS k, CAST(sum(c) AS BIGINT) AS m
            FROM cells GROUP BY 1, 2),
          mb AS (SELECT lang, b AS k, CAST(sum(c) AS BIGINT) AS m
            FROM cells GROUP BY 1, 2),
          s AS (SELECT ma.lang, sum(CAST(ma.m AS HUGEINT) * mb.m) AS S
            FROM ma JOIN mb ON ma.lang = mb.lang AND ma.k = mb.k GROUP BY 1),
          g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
              CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
            FROM cells GROUP BY 1)
          SELECT g.lang, n, n_agree,
            CASE WHEN CAST(n AS HUGEINT) * n = S THEN NULL
              ELSE CAST(CAST(n AS HUGEINT) * n_agree - S AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * n - S AS DOUBLE) END AS kappa
          FROM g JOIN s ON g.lang = s.lang""")),

    // --- k-anonymity risk profile (Profiling.kAnonymityProfile): class-size
    // distribution of the (nation, segment, balance-band) quasi-identifier
    // over customers, with the cumulative at-risk population; all-integer ---
    Q("q216_k_anonymity",
      (s, dir) => Profiling.kAnonymityProfile(
        t(s, dir, "customer")
          .withColumn("bal_band", floor(col("c_acctbal") / 500)),
        Seq("c_nationkey", "c_mktsegment", "bal_band")),
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
            floor(c_acctbal / 500) AS band, count(*) AS s
          FROM customer GROUP BY 1, 2, 3),
          d AS (SELECT s AS class_size, count(*) AS n_classes,
              CAST(s * count(*) AS BIGINT) AS n_rows
            FROM cls GROUP BY s)
          SELECT class_size, n_classes, n_rows,
            CAST(sum(n_rows) OVER (ORDER BY class_size
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS rows_at_or_below
          FROM d""")),

    // --- expected calibration error per group (MLOps.eceByGroup):
    // calibrationTable folded to the alerting number — the weighted |acc −
    // conf| telescopes to the ALL-INTEGER numerator Σ|10⁶·pos_b − S_b|, so
    // ECE is one integer÷integer division; score is a synthetic exact
    // probability (user_id % 100)/100 against a value-threshold label ---
    Q("q217_ece",
      (s, dir) => graft.ml.MLOps.eceByGroup(
        events(s, dir)
          .withColumn("score", (col("user_id") % 100L).cast("double") / 100)
          .withColumn("label", when(col("value") >= 50, 1).otherwise(0)),
        "event_type", "score", "label", binWidth = 0.1),
      Some("""WITH e AS (SELECT event_type,
            CAST(user_id % 100 AS DOUBLE)/100 AS score,
            CASE WHEN value >= 50 THEN 1 ELSE 0 END AS label FROM events),
          h AS (SELECT event_type, CAST(floor(score/0.1) AS BIGINT) AS bin,
              count(*) AS nb, CAST(sum(label) AS BIGINT) AS pos,
              sum(CAST(round(score*1e6) AS BIGINT)) AS S
            FROM e GROUP BY 1, 2),
          t AS (SELECT event_type, nb,
              abs(CAST(pos AS HUGEINT)*1000000 - S) AS term FROM h),
          g AS (SELECT event_type, CAST(sum(nb) AS BIGINT) AS n,
              count(*) AS n_bins, sum(term) AS tsum,
              max(CAST(term AS DOUBLE)/(1e6*nb)) AS mce
            FROM t GROUP BY 1)
        SELECT event_type, n, n_bins,
          CAST(tsum AS DOUBLE)/(1e6*n) AS ece, mce FROM g""")),

    // --- context-window packing plan (MLOps.packSequences): concat-and-
    // chunk the md5-ordered token stream at 512-token boundaries — per-doc
    // sequence spans off the tokenShards distributed prefix sum, all
    // integer `div` arithmetic; is_split cast to int for the compare ---
    Q("q218_pack_sequences",
      (s, dir) => graft.ml.MLOps.packSequences(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TextAnalysis.tokenCountWs(col("text")),
          seqLen = 512, buckets = 16)
        .select(col("doc_id"), col("n_tok"), col("tokens_before"),
          col("start_seq"), col("end_seq"), col("n_seqs_spanned"),
          col("is_split").cast("int").as("is_split")),
      Some(s"""WITH $sqlTokenPrefixCtes
        SELECT doc_id, n_tok, CAST(pre AS BIGINT) AS tokens_before,
          CASE WHEN n_tok = 0 THEN NULL
            ELSE CAST(pre // 512 AS BIGINT) END AS start_seq,
          CASE WHEN n_tok = 0 THEN NULL
            ELSE CAST((pre + n_tok - 1) // 512 AS BIGINT) END AS end_seq,
          CAST(CASE WHEN n_tok = 0 THEN 0
            ELSE (pre + n_tok - 1) // 512 - pre // 512 + 1 END AS BIGINT)
            AS n_seqs_spanned,
          CASE WHEN n_tok = 0 THEN 0
            WHEN (pre + n_tok - 1) // 512 - pre // 512 + 1 > 1 THEN 1
            ELSE 0 END AS is_split
        FROM o""")),

    // --- Fleiss' kappa per lang (MLOps.fleissKappaByGroup): three
    // deterministic "raters" (two n_chars bandings + a space-count
    // banding) stacked to long form — the multi-rater generalization of
    // q215, entirely rational with one trailing float division ---
    Q("q219_fleiss_kappa",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars"),
            (length(col("text"))
              - length(regexp_replace(col("text"), " ", ""))).as("sp"))
        val r1 = d.select(col("lang"), col("doc_id"),
          when(col("n_chars") < 300, 0).when(col("n_chars") < 600, 1)
            .otherwise(2).as("cat"))
        val r2 = d.select(col("lang"), col("doc_id"),
          when(col("sp") < 45, 0).when(col("sp") < 90, 1)
            .otherwise(2).as("cat"))
        val r3 = d.select(col("lang"), col("doc_id"),
          when(col("n_chars") < 350, 0).when(col("n_chars") < 650, 1)
            .otherwise(2).as("cat"))
        graft.ml.MLOps.fleissKappaByGroup(
          r1.unionAll(r2).unionAll(r3), "lang", "doc_id", col("cat"))
      },
      Some("""WITH d AS (SELECT lang, doc_id, n_chars,
            length(text) - length(replace(text, ' ', '')) AS sp
          FROM documents),
          r AS (
            SELECT lang, doc_id, CASE WHEN n_chars < 300 THEN 0
              WHEN n_chars < 600 THEN 1 ELSE 2 END AS cat FROM d
            UNION ALL SELECT lang, doc_id, CASE WHEN sp < 45 THEN 0
              WHEN sp < 90 THEN 1 ELSE 2 END FROM d
            UNION ALL SELECT lang, doc_id, CASE WHEN n_chars < 350 THEN 0
              WHEN n_chars < 650 THEN 1 ELSE 2 END FROM d),
          cells AS (SELECT lang, doc_id, cat, count(*) AS n
            FROM r GROUP BY 1, 2, 3),
          items AS (SELECT lang, doc_id, CAST(sum(n) AS BIGINT) AS r,
              CAST(sum(n*(n-1)) AS BIGINT) AS agree FROM cells GROUP BY 1, 2),
          ct AS (SELECT lang, cat, CAST(sum(n) AS BIGINT) AS m
            FROM cells GROUP BY 1, 2),
          pe AS (SELECT lang, sum(CAST(m AS HUGEINT)*m) AS C FROM ct GROUP BY 1),
          g AS (SELECT lang, count(*) AS n_items, CAST(min(r) AS BIGINT) AS rr,
              CAST(sum(agree) AS BIGINT) AS A FROM items GROUP BY 1)
        SELECT g.lang, n_items, rr AS n_raters,
          CASE WHEN CAST(n_items*rr AS HUGEINT)*(n_items*rr) = C THEN NULL
            ELSE CAST(CAST(A AS HUGEINT)*(n_items*rr) - C*(rr-1) AS DOUBLE)
              / (CAST(CAST(n_items*rr AS HUGEINT)*(n_items*rr) - C AS DOUBLE)
                * (rr-1)) END AS kappa
        FROM g JOIN pe ON g.lang = pe.lang""")),

    // --- SEMANTIC decontamination (Dedup.semanticDecontaminate): corpus
    // embeddings screened against the benchmark slice (vec_id % 97 == 0)
    // through a 4-band × 4-plane OR-construction of salted portable
    // hyperplane signatures, exact-cosine verified — the meaning-level
    // sibling of q62's gram overlap; benchmark side broadcasts, the
    // corpus never shuffles for candidate generation ---
    Q("q220_semantic_decontam",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Dedup.semanticDecontaminate(
          e.filter(col("vec_id") % 97 =!= 0),
          e.filter(col("vec_id") % 97 === 0),
          "embedding", "vec_id", threshold = 0.3,
          bands = 4, planesPerBand = 4, dim = 64)
      },
      Some(sqlSemanticDecontamOracle(threshold = 0.3, bands = 4,
        planesPerBand = 4, dim = 64))),

    // --- PERCENTILE-BOOTSTRAP CI on the per-source mean doc length: 100
    // deterministic Poisson(1) resamples from integer md5 thresholds —
    // the uncertainty band every monitoring mean should carry. Explode is
    // narrow; partial agg collapses to O(sources·B) before the shuffle ---
    Q("q221_bootstrap_ci",
      (s, dir) => graft.ml.MLOps.bootstrapMeanCI(t(s, dir, "documents"),
        "source", col("n_chars"), "doc_id", resamples = 100, tailMilli = 25),
      Some(sqlBootstrapCiOracle(b = 100, tailMilli = 25))),

    // --- DIAGONAL-FRÉCHET distance between per-label embedding
    // distributions (the FID statistic with diagonal covariance): one
    // integer-nano moment pass, O(labels²·dim) tail — the drift /
    // synthetic-vs-real audit at the distribution level ---
    Q("q222_embedding_frechet",
      (s, dir) => graft.ops.Similarity.groupFrechetDiag(
        t(s, dir, "embeddings"), "embedding", "label"),
      Some(sqlFrechetOracle)),

    // --- ZIPF SLOPE per source: OLS of log2(freq) on log2(rank) over the
    // top-64 words through the portable polynomial log2 (no libm) — the
    // vocabulary power-law shape as a corpus-quality signal ---
    Q("q223_zipf_slope",
      (s, dir) => TextAnalysis.zipfSlope(t(s, dir, "documents"), "text",
        "source", topN = 64),
      Some(sqlZipfOracle(topN = 64))),

    // --- SPLIT LEAKAGE AUDIT: how many q23-grade near-dup pairs a naive
    // per-document 80/20 hash split sends across the train/eval boundary
    // — the diagnostic twin of q163's leakage-safe constructor ---
    Q("q224_split_leakage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val withSplit = docs.withColumn("split",
          when(graft.ml.MLOps.md5Bucket(col("doc_id"), 1000000) < 800000,
            lit("train")).otherwise(lit("eval")))
        val pairs = Dedup.nearDuplicatesPortable(docs, "text", "doc_id",
          threshold = 0.35, bands = 8, k = 2)
        graft.ml.MLOps.splitLeakageAudit(withSplit, pairs, "doc_id", "split")
      },
      Some(s"""WITH ${minhashCtes(0.35, 8, 2)},
          sp AS (SELECT doc_id, CASE WHEN CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000000 < 800000
              THEN 'train' ELSE 'eval' END AS split FROM documents)
        SELECT count(*) AS n_pairs,
          CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split,
          CAST(sum(CASE WHEN sa.split = sb.split THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
          CAST(CASE WHEN count(*) > 0
            THEN (1000 * sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)) // count(*)
            END AS BIGINT) AS leakage_milli
        FROM pairs JOIN sp sa ON sa.doc_id = id_a JOIN sp sb ON sb.doc_id = id_b""")),

    // --- EXACT 5%-TRIMMED mean doc length per source: boundary values
    // contribute partially, so the result equals sort-and-slice with only
    // the per-source VALUE HISTOGRAM windowed — the outlier-robust mean
    // for scrape-tail monitoring ---
    Q("q225_trimmed_mean",
      (s, dir) => Aggregations.trimmedStats(t(s, dir, "documents"),
        Seq("source"), "n_chars", trimMilli = 50),
      Some("""WITH h AS (SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS c
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
          cum AS (SELECT source, v, c,
              sum(c) OVER (PARTITION BY source ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY source) AS n FROM h),
          kk AS (SELECT *, (n * 50) // 1000 AS k FROM cum),
          e AS (SELECT source, n, k, v, c,
              greatest(0, least(c, k - (cum - c))) AS elo,
              greatest(0, least(c, k - (n - cum))) AS ehi FROM kk)
        SELECT source, CAST(max(n) AS BIGINT) AS n_rows,
          CAST(max(k) AS BIGINT) AS n_trimmed_each,
          CASE WHEN max(n) > 2 * max(k) THEN
            CAST(sum(v*c) - sum(v*elo) - sum(v*ehi) AS DOUBLE)
              / CAST(max(n) - 2 * max(k) AS DOUBLE) END AS trimmed_mean
        FROM e GROUP BY 1""")),

    // --- ROBUST CENTER per source: exact median + MAD through two
    // histogram-percentile passes (quantile_cont-lerp-exact) — the
    // breakdown-resistant location/scale pair for anomaly thresholds ---
    Q("q226_robust_center",
      (s, dir) => Aggregations.robustCenter(t(s, dir, "documents"),
        Seq("source"), "n_chars"),
      Some("""WITH med AS (SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          dev AS (SELECT d.source, abs(CAST(d.n_chars AS DOUBLE) - m.median) AS dv
            FROM documents d JOIN med m ON d.source = m.source
            WHERE d.n_chars IS NOT NULL),
          mad AS (SELECT source, quantile_cont(dv, 0.5) AS mad FROM dev GROUP BY 1),
          n AS (SELECT source, count(*) AS n_rows FROM documents
            WHERE n_chars IS NOT NULL GROUP BY 1)
        SELECT n.source, n_rows, median, mad
        FROM n JOIN med USING (source) JOIN mad USING (source)""")),

    // --- WEIGHTED SAMPLE WITHOUT REPLACEMENT, exactly k per source
    // (Efraimidis-Spirakis A-ES priorities from the portable fixed-point
    // log2 over md5 draws — deterministic, engine-exact): longer documents
    // proportionally likelier, yet exactly 5 survive per source. rank<=k
    // compiles to WindowGroupLimit — local top-k before the shuffle ---
    Q("q227_weighted_sample_k",
      (s, dir) => graft.ml.MLOps.weightedSampleK(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "doc_id", col("n_chars"), k = 5),
      Some(s"""WITH hh AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
            CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) + 1 AS h
          FROM documents),
          pr AS (SELECT source, doc_id, n_chars,
            CAST(${graft.functions.Portable.sqlLog2Micro("h")} - 32000000 AS DOUBLE)
              / CAST(n_chars AS DOUBLE) AS p FROM hh)
        SELECT source, doc_id, n_chars,
          CAST(row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS INTEGER)
            AS sample_rank
        FROM pr QUALIFY sample_rank <= 5""")),

    // --- PER-SOURCE DATASET CARD: the datasheet row a curation run ships
    // with its shards — counts, size profile, corpus share, language
    // spread + dominant language. Two narrow aggregates; the grand total
    // is a window over the bounded per-source frame ---
    Q("q228_dataset_card",
      (s, dir) => Aggregations.datasetCard(t(s, dir, "documents"),
        "source", "lang", "n_chars"),
      Some("""WITH base AS (SELECT source, lang, CAST(n_chars AS BIGINT) AS sz
            FROM documents WHERE n_chars IS NOT NULL),
          lh AS (SELECT source, lang, count(*) AS lc FROM base GROUP BY 1, 2),
          lr AS (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY lc DESC, lang) AS r FROM lh),
          lg AS (SELECT source, count(*) AS n_langs,
              max(CASE WHEN r = 1 THEN lang END) AS top_lang,
              max(CASE WHEN r = 1 THEN lc END) AS topc FROM lr GROUP BY 1),
          st AS (SELECT source, count(*) AS n_docs,
              CAST(sum(sz) AS BIGINT) AS chars_total,
              min(sz) AS chars_min, max(sz) AS chars_max FROM base GROUP BY 1),
          g AS (SELECT *, CAST(sum(chars_total) OVER () AS BIGINT) AS grand
            FROM st JOIN lg USING (source))
        SELECT source, n_docs, chars_total, chars_min, chars_max,
          CAST(chars_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
          (1000 * chars_total) // grand AS share_milli,
          n_langs, top_lang, (1000 * topc) // n_docs AS top_lang_milli
        FROM g""")),

    // --- EXACT PERCENTILE-RANK transform: percent_rank of n_chars within
    // each source appended per row — ranks from the distinct-value
    // histogram (no row sort), one integer-exact IEEE division — the
    // cross-source quality-score calibration step ---
    Q("q229_percentile_rank",
      (s, dir) => Aggregations.percentileRank(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        Seq("source"), "n_chars", "pct_rank"),
      Some("""SELECT doc_id, source, n_chars,
          CASE WHEN count(*) OVER (PARTITION BY source) > 1
            THEN CAST(rank() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS DOUBLE)
              / CAST(count(*) OVER (PARTITION BY source) - 1 AS DOUBLE)
            ELSE 0.0 END AS pct_rank
        FROM documents""")),

    // --- UNIGRAM ENTROPY + KL-TO-CORPUS per source through the portable
    // fixed-point log2 (the information-theoretic pair to q160's TV and
    // q211's HHI, libm-free so it hash-matches): low H = boilerplate,
    // high KL = the slice DoReMi would reweight first ---
    Q("q230_unigram_entropy",
      (s, dir) => TextAnalysis.unigramEntropy(t(s, dir, "documents"),
        "text", "source"),
      Some(s"""WITH w AS (SELECT source AS slice,
            unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), xf -> length(xf) > 0)) AS w
          FROM documents),
          c AS (SELECT slice, w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2),
          cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM c GROUP BY 1),
          j AS (SELECT slice, c.c AS c,
              ${graft.functions.Portable.sqlLog2Micro("c.c")} AS lc,
              ${graft.functions.Portable.sqlLog2Micro("cw")} AS lcw
            FROM c JOIN cw USING (w)),
          sl AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab,
              sum(c * lc) AS sent, sum(c * (lc - lcw)) AS skl
            FROM j GROUP BY 1),
          g AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS t FROM sl)
        SELECT slice, n_tokens, vocab,
          (CAST(${graft.functions.Portable.sqlLog2Micro("n_tokens")} AS DOUBLE)
            - CAST(sent AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1000000.0
            AS entropy_bits,
          (CAST(skl AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            + CAST(${graft.functions.Portable.sqlLog2Micro("t")}
              - ${graft.functions.Portable.sqlLog2Micro("n_tokens")} AS DOUBLE))
            / 1000000.0 AS kl_bits
        FROM g""")),

    // --- SIMPLIFIED SILHOUETTE per embedding cluster (centroid-based, one
    // narrow map — never the O(n²) pairwise form): the clustering quality
    // gate before trusting SemDeDup/prototype-prune decisions; micro-
    // quantized integer sums make the per-cluster mean engine-exact ---
    Q("q231_silhouette",
      (s, dir) => Similarity.clusterSilhouette(t(s, dir, "embeddings"),
        "embedding", 1 to 8, Dedup.portablePlanes(8, 64)),
      Some(s"""WITH ${sqlCentroidSims(8, 64)},
          a AS (SELECT s.vec_id, s.v, s.cid,
              1.0 - ${sqlCos("s.v", "c.cv")} AS da
            FROM sims s JOIN cents c ON c.cid = s.cid WHERE s.rn = 1),
          b AS (SELECT s.vec_id, 1.0 - ${sqlCos("s.v", "c.cv")} AS db
            FROM sims s JOIN cents c ON c.cid = s.cid WHERE s.rn = 2),
          q AS (SELECT a.cid AS centroid_id,
              CASE WHEN greatest(da, db) = 0 THEN 0.0
                ELSE (db - da) / greatest(da, db) END AS sil
            FROM a JOIN b USING (vec_id))
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(sil * 1000000.0) AS BIGINT)) AS BIGINT)
            AS sum_sil_micro,
          CAST(sum(CAST(floor(sil * 1000000.0) AS BIGINT)) AS DOUBLE)
            / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_sil
        FROM q GROUP BY 1""")),

    // --- TRUNCATED RANK-BIASED OVERLAP between two rankers' per-source
    // top-10 (length-desc vs md5 order): the ranker-agreement monitor for
    // scorer swaps — suffix-sum weight literals shared by both engines,
    // one array lookup per row, no per-depth explode ---
    Q("q232_rbo",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
        val wA = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val wB = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        graft.ml.MLOps.rboTruncated(
          docs.withColumn("rank_a", row_number().over(wA))
            .withColumn("rank_b", row_number().over(wB)),
          "source", col("rank_a"), col("rank_b"), k = 10, pMilli = 900)
      },
      Some(s"""WITH r AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS ra,
            row_number() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rb
          FROM documents),
          wg AS (SELECT source, ra, rb,
            CASE WHEN greatest(ra, rb) > 10 THEN 0
              ELSE list_extract(${graft.ml.MLOps.rboWeightsNano(10, 900)
                .mkString("[", ", ", "]")},
                CAST(greatest(ra, rb) AS INTEGER)) END AS wgt FROM r)
        SELECT source,
          CAST(count(CASE WHEN ra <= 10 THEN 1 END) AS BIGINT) AS n_a,
          CAST(count(CASE WHEN rb <= 10 THEN 1 END) AS BIGINT) AS n_b,
          CAST(count(CASE WHEN greatest(ra, rb) <= 10 THEN 1 END) AS BIGINT)
            AS overlap_k,
          ${(1000 - 900) / 1000.0}
            * (CAST(sum(wgt) AS DOUBLE) / 1.0E9) AS rbo
        FROM wg GROUP BY 1""")),

    // --- The ELEVENTH streaming-runtime modality: a MERGEABLE SKETCH as
    // streaming state — per-source portable-HLL registers accumulated by a
    // watermark-free update-mode max across five staged micro-batches
    // (tokenization runs INSIDE the stream), estimate computed from the
    // final streamed registers. State bounded by keys·2^lgK — the sketch
    // point: live distinct counts without history. Oracle = the batch
    // register/estimate chain (q137's restatement, per-source only) ---
    Q("q233_streaming_hll_run",
      (s, dir) => graft.streaming.Streaming.stagedHllRun(
        s, t(s, dir, "documents").select("doc_id", "source", "text"),
        keyCol = "source", valueCol = "w", orderCol = "doc_id", lgK = 8,
        prepare = d => d.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)),
      Some(sqlHllPortableOracle(lgK = 8, includeAll = false)),
      family = "stream"),

    // --- GROUPED COVARIANCE MATRIX over the first 8 embedding dims via
    // the custom CovMoments TypedImperativeAggregate: one flat moment
    // buffer per (group, task), merged across partitions — the shuffle
    // moves buffers, not the d(d+1)/2-times-exploded pairs the oracle
    // restates. Quantized-exact sums; cov is a fixed IEEE tree ---
    Q("q234_covariance",
      (s, dir) => Similarity.covarianceMatrix(t(s, dir, "embeddings"),
        "embedding", "label", dim = 8, scaleBits = 20),
      Some(s"""WITH e AS (SELECT label,
            list_transform(CAST(embedding AS DOUBLE[])[1:8],
              x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL),
          idx AS (SELECT a.i AS i, b.j AS j
            FROM generate_series(1, 8) a(i), generate_series(1, 8) b(j)
            WHERE a.i <= b.j),
          p AS (SELECT label, i, j, qv[i] AS qi, qv[j] AS qj FROM e, idx),
          m AS (SELECT label, i, j, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(qi) AS BIGINT) AS sum_i, CAST(sum(qj) AS BIGINT) AS sum_j,
              CAST(sum(qi * qj) AS BIGINT) AS s_ij FROM p GROUP BY 1, 2, 3)
        SELECT label, n, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
          sum_i, sum_j, s_ij,
          (CAST(s_ij AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(sum_i AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(sum_j AS DOUBLE) / CAST(n AS DOUBLE)))
            / ${math.pow(2.0, 40)} AS cov
        FROM m""")),

    // --- EXACT GINI per source over doc sizes: the inequality monitor
    // (0 = uniform sizes, →1 = one doc holds the mass), rank-with-ties
    // formula over the distinct-value histogram — never a row sort; the
    // VALUE-inequality complement of q211's categorical HHI ---
    Q("q235_gini",
      (s, dir) => Aggregations.giniByGroup(t(s, dir, "documents"),
        Seq("source"), "n_chars"),
      Some("""WITH h AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
            CAST(count(*) AS BIGINT) AS c
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
          cum AS (SELECT source, v, c,
            coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM h),
          a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
              CAST(sum(v * c) AS BIGINT) AS total_value,
              sum(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * cb
                + (c * (c + 1)) // 2)) AS rank_sum
            FROM cum GROUP BY 1)
        SELECT source, n_rows, total_value,
          CASE WHEN total_value = 0 THEN NULL
            ELSE 2.0 * CAST(rank_sum AS DOUBLE)
              / (CAST(n_rows AS DOUBLE) * CAST(total_value AS DOUBLE))
              - CAST(n_rows + 1 AS DOUBLE) / CAST(n_rows AS DOUBLE) END AS gini
        FROM a""")),

    // --- MUTUAL INFORMATION source×lang (+ both marginal entropies)
    // through the portable log2 — the dependence monitor for mixture
    // design; marginal-entropy sums ride the joint cells so ONE global
    // fold emits all four statistics (no 1-row totals joins) ---
    Q("q236_mutual_information",
      (s, dir) => TextAnalysis.mutualInformation(t(s, dir, "documents"),
        "source", "lang"),
      Some(s"""WITH j AS (SELECT source AS a, lang AS b,
            CAST(count(*) AS BIGINT) AS c
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1, 2),
          ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY 1),
          mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY 1),
          x AS (SELECT c, ${graft.functions.Portable.sqlLog2Micro("c")} AS lc,
              ${graft.functions.Portable.sqlLog2Micro("ca")} AS lca,
              ${graft.functions.Portable.sqlLog2Micro("cb")} AS lcb
            FROM j JOIN ma USING (a) JOIN mb USING (b)),
          g AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
              sum(c * (lc - lca - lcb)) AS skl,
              sum(c * lca) AS sa, sum(c * lcb) AS sb FROM x),
          g2 AS (SELECT *, ${graft.functions.Portable.sqlLog2Micro("n_rows")}
            AS lt FROM g)
        SELECT n_rows,
          CAST(skl + n_rows * lt AS DOUBLE)
            / (CAST(n_rows AS DOUBLE) * 1000000.0) AS mi_bits,
          CAST(n_rows * lt - sa AS DOUBLE)
            / (CAST(n_rows AS DOUBLE) * 1000000.0) AS h_a_bits,
          CAST(n_rows * lt - sb AS DOUBLE)
            / (CAST(n_rows AS DOUBLE) * 1000000.0) AS h_b_bits
        FROM g2""")),

    // --- The TWELFTH streaming modality: the NON-IDEMPOTENT sketch merge
    // — per-source portable-CMS counters as watermark-free update-mode
    // SUM state (q233 gates max; this gates sums, exactly-once only via
    // cumulative re-emission + upsert-latest). Final streamed sketch is
    // counter-identical to the batch CMS, restated by the oracle ---
    Q("q237_streaming_cms_run",
      (s, dir) => graft.streaming.Streaming.stagedCmsRun(
        s, t(s, dir, "documents").select("doc_id", "source", "text"),
        keyCol = "source", valueCol = "w", orderCol = "doc_id",
        depth = 4, lgWidth = 10,
        prepare = d => d.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)),
      Some("""WITH w AS (SELECT source,
            unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), xf -> length(xf) > 0)) AS val
          FROM documents),
          dep(dep) AS (VALUES (0), (1), (2), (3)),
          hx AS (SELECT source, dep,
              CAST(concat('0x', substr(md5(val), dep * 8 + 1, 8))
                AS BIGINT) % 1024 AS slot
            FROM w CROSS JOIN dep)
        SELECT source, CAST(dep AS INTEGER) AS cms_depth, slot AS cms_slot,
          CAST(count(*) AS BIGINT) AS cms_n
        FROM hx GROUP BY 1, 2, 3"""),
      family = "stream"),

    // --- GINI of DAILY VOLUMES per event type — the burstiness monitor
    // giniByGroup was built for (0 = steady traffic, →1 = one day holds
    // the mass), over the q197 zero-filled day grid so a dark day IS a
    // zero-volume observation, not a missing row ---
    Q("q238_volume_gini",
      (s, dir) => {
        val active = events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("__d"))
          .agg(count(lit(1)).as("__c"))
        val grid = active.groupBy(col("event_type"))
          .agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
          .select(col("event_type"),
            explode(sequence(col("__lo"), col("__hi"))).as("__d"))
        val daily = grid.join(active, Seq("event_type", "__d"), "left")
          .select(col("event_type"),
            coalesce(col("__c"), lit(0L)).as("n_events"))
        Aggregations.giniByGroup(daily, Seq("event_type"), "n_events")
      },
      Some("""WITH ac AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
            CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
          sp AS (SELECT event_type, min(d) AS lo, max(d) AS hi FROM ac GROUP BY 1),
          gr AS (SELECT event_type, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
            CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM sp),
          da AS (SELECT gr.event_type, coalesce(ac.c, CAST(0 AS BIGINT)) AS v
            FROM gr LEFT JOIN ac ON ac.event_type = gr.event_type AND ac.d = gr.d),
          h AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
            FROM da GROUP BY 1, 2),
          cum AS (SELECT event_type, v, c,
            coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM h),
          a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
              CAST(sum(v * c) AS BIGINT) AS total_value,
              sum(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * cb
                + (c * (c + 1)) // 2)) AS rank_sum
            FROM cum GROUP BY 1)
        SELECT event_type, n_rows, total_value,
          CASE WHEN total_value = 0 THEN NULL
            ELSE 2.0 * CAST(rank_sum AS DOUBLE)
              / (CAST(n_rows AS DOUBLE) * CAST(total_value AS DOUBLE))
              - CAST(n_rows + 1 AS DOUBLE) / CAST(n_rows AS DOUBLE) END AS gini
        FROM a"""))
  )

  /** Round-12 capstone gates: the three driver-side trainer kernels
    * (closed-form OLS, PCA projection, isotonic calibration) promoted
    * from spec-only to oracle rows. The trick that makes them gateable
    * at FULL double precision with zero rounding-tie risk: at dim = 2
    * the kernels' float programs are SHORT and FIXED (an unrolled 2×2
    * Gaussian elimination with partial pivoting, a single Jacobi
    * rotation, PAV restated through the minimax theorem
    * fit(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) with EXACT
    * cross-multiplied rational comparisons), so the oracle restates the
    * IDENTICAL IEEE operation sequence over the identical exact integer
    * moments — correctly-rounded ops on identical inputs are
    * bit-identical on any engine, no quantization needed. */
  private val capstoneQueries: Seq[Q] = Seq(

    // --- CLOSED-FORM OLS FIT (MLOps.olsFit, the q234 CovMoments kernel
    // underneath): regress embedding[3] on embedding[1..2]. The engine's
    // Gaussian elimination with partial pivoting is unrolled literally in
    // the oracle (the pivot CASE mirrors Scala maxBy's strict-greater
    // first-max), covariance entries mirror olsFit's exact float
    // sequence (S_ij/n − (S_i/n)(S_j/n))/2^40 over quantized-exact sums
    // — β, β₀, R² land on identical bits, verified at full precision ---
    Q("q239_ols_fit",
      (s, dir) => {
        import s.implicits._
        val df = t(s, dir, "embeddings").withColumn("y",
          element_at(col("embedding").cast("array<double>"), 3))
        val (beta, b0, r2) = graft.ml.MLOps.olsFit(df, "embedding", "y", dim = 2)
        Seq((beta(0), beta(1), b0, r2)).toDF("b1", "b2", "intercept", "r2")
      },
      Some(olsOracleCte + "\nSELECT b1, b2, my - (b1*m1 + b2*m2) AS intercept," +
        "\n  (b1*c0y + b2*c1y)/cyy AS r2\nFROM g5")),

    // --- OLS PREDICT (MLOps.olsPredict): β/β₀ as plan literals, fitted
    // value = ONE VecDot per row (narrow map, no shuffle). The VecDot
    // accumulation ((0 + x1·β1) + x2·β2) + β₀ is restated literally —
    // per-row predictions bit-identical at full double precision ---
    Q("q239b_ols_predict",
      (s, dir) => graft.ml.MLOps.olsPredict(
        t(s, dir, "embeddings").withColumn("y",
          element_at(col("embedding").cast("array<double>"), 3)),
        "embedding", "y", dim = 2).select("vec_id", "ols_pred"),
      Some(olsOracleCte +
        """
SELECT q.vec_id, (q.x1*g.b1 + q.x2*g.b2) + (g.my - (g.b1*g.m1 + g.b2*g.m2))
    AS ols_pred
FROM q, g5 g""")),

    // --- PCA PROJECTION (Similarity.pcaProject + jacobiEigen): project
    // the first 2 embedding dims onto the top principal axis. At 2×2 the
    // cyclic Jacobi solver performs exactly ONE rotation (the residual
    // off-diagonal lands below the 1e-14 gate), so the oracle restates
    // that rotation's float program — theta, t, c, s, the two-sided
    // update, the (−ev, i) sort, the largest-|loading| sign convention —
    // and the per-row centered VecDot. Scores bit-identical, full
    // precision ---
    Q("q240_pca_project",
      (s, dir) => Similarity.pcaProject(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 2, nComponents = 1),
      Some(s"""WITH $sqlPcaRotationCtes,
        w0 AS (SELECT *,
            CASE WHEN f11 > f00 THEN ss ELSE cc END AS w1raw,
            CASE WHEN f11 > f00 THEN cc ELSE 0.0 - ss END AS w2raw FROM ev),
        w1s AS (SELECT *, CASE WHEN abs(w2raw) > abs(w1raw) THEN w2raw ELSE w1raw END AS pv FROM w0),
        fin AS (SELECT n, m1, m2,
            CASE WHEN pv < 0.0 THEN -w1raw ELSE w1raw END AS w1,
            CASE WHEN pv < 0.0 THEN -w2raw ELSE w2raw END AS w2 FROM w1s)
      SELECT q.vec_id, CAST(1 AS INTEGER) AS component,
        (q.x1 - f.m1) * f.w1 + (q.x2 - f.m2) * f.w2 AS score
      FROM q, fin f""")),

    // --- PCA BOTH COMPONENTS (q240's oracle extended to the full 2×2
    // eigensystem): nComponents = 2 gates the multi-component plumbing —
    // the (−eigenvalue, index) sort across BOTH axes, each component's
    // independent sign convention, and the per-row two-score explode.
    // Same single-rotation restatement; scores bit-identical ---
    Q("q240b_pca_two_components",
      (s, dir) => Similarity.pcaProject(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 2, nComponents = 2),
      Some(s"""WITH $sqlPcaRotationCtes,
        wsel AS (SELECT *,
            CASE WHEN f11 > f00 THEN ss ELSE cc END AS a1,
            CASE WHEN f11 > f00 THEN cc ELSE 0.0 - ss END AS a2,
            CASE WHEN f11 > f00 THEN cc ELSE ss END AS b1,
            CASE WHEN f11 > f00 THEN 0.0 - ss ELSE cc END AS b2 FROM ev),
        sgn AS (SELECT *,
            CASE WHEN abs(a2) > abs(a1) THEN a2 ELSE a1 END AS pva,
            CASE WHEN abs(b2) > abs(b1) THEN b2 ELSE b1 END AS pvb FROM wsel),
        fin AS (SELECT n, m1, m2,
            CASE WHEN pva < 0.0 THEN -a1 ELSE a1 END AS w11,
            CASE WHEN pva < 0.0 THEN -a2 ELSE a2 END AS w12,
            CASE WHEN pvb < 0.0 THEN -b1 ELSE b1 END AS w21,
            CASE WHEN pvb < 0.0 THEN -b2 ELSE b2 END AS w22 FROM sgn)
      SELECT q.vec_id, CAST(cmp.component AS INTEGER) AS component,
        CASE cmp.component
          WHEN 1 THEN (q.x1 - f.m1) * f.w11 + (q.x2 - f.m2) * f.w12
          ELSE (q.x1 - f.m1) * f.w21 + (q.x2 - f.m2) * f.w22 END AS score
      FROM q, fin f, (SELECT 1 AS component UNION ALL SELECT 2) cmp""")),

    // --- ISOTONIC CALIBRATION (MLOps.isotonicCalibrate): PAV over the
    // 64-bucket score histogram, restated through the minimax theorem —
    // fit(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) — with ALL rational
    // comparisons cross-multiplied in exact integers (the anti-join
    // min/max), so the selected interval mean EQUALS the PAV pool mean
    // as a rational; both engines then perform the same correctly-rounded
    // 1e6·p/n division and floor(x+0.5) — bit-identical micro rates.
    // Score = (n_chars % 997)/997 ∈ [0,1); label correlated with score
    // so PAV forms real monotone steps (18 pools at sf0.01) ---
    Q("q241_isotonic",
      (s, dir) => graft.ml.MLOps.isotonicCalibrate(
        t(s, dir, "documents")
          .filter(col("n_chars").isNotNull && col("doc_id").isNotNull)
          .select(col("doc_id"),
            ((col("n_chars") % 997).cast("double") / lit(997.0)).as("score"),
            when((col("n_chars") % 997) > (col("doc_id") % 1000), 1)
              .otherwise(0).as("label")),
        "score", "label", buckets = 64).select("doc_id", "calibrated"),
      Some("""WITH d AS (SELECT doc_id,
            CAST(floor((CAST(n_chars % 997 AS DOUBLE)/997.0)*64.0) AS INTEGER) AS b,
            CASE WHEN (n_chars % 997) > (doc_id % 1000) THEN 1 ELSE 0 END AS y
          FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
        h AS (SELECT b, CAST(sum(y) AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1),
        o AS (SELECT b, p, n, row_number() OVER (ORDER BY b) AS i FROM h),
        cum AS (SELECT i, b, sum(p) OVER (ORDER BY i) AS cp,
            sum(n) OVER (ORDER BY i) AS cn FROM o),
        iv AS (SELECT j.i AS j, k.i AS k,
            k.cp - coalesce(jm.cp, 0) AS num, k.cn - coalesce(jm.cn, 0) AS den
          FROM cum j JOIN cum k ON k.i >= j.i
          LEFT JOIN cum jm ON jm.i = j.i - 1),
        cand AS (SELECT o.i AS i, iv.j AS j, iv.k AS k, iv.num, iv.den
          FROM o JOIN iv ON iv.j <= o.i AND iv.k >= o.i),
        mn AS (SELECT x.i, x.j, x.num, x.den FROM cand x
          WHERE NOT EXISTS (SELECT 1 FROM cand y
            WHERE y.i = x.i AND y.j = x.j AND (y.num * x.den < x.num * y.den
              OR (y.num * x.den = x.num * y.den AND y.k < x.k)))),
        mx AS (SELECT m.i, m.num, m.den FROM mn m
          WHERE NOT EXISTS (SELECT 1 FROM mn m2
            WHERE m2.i = m.i AND (m2.num * m.den > m.num * m2.den
              OR (m2.num * m.den = m.num * m2.den AND m2.j < m.j)))),
        rate AS (SELECT o.b,
            CAST(floor(1000000.0 * CAST(mx.num AS DOUBLE) / CAST(mx.den AS DOUBLE)
              + 0.5) AS BIGINT) AS micro
          FROM o JOIN mx ON mx.i = o.i)
      SELECT d.doc_id, CAST(rate.micro AS DOUBLE) / 1000000.0 AS calibrated
      FROM d JOIN rate ON rate.b = d.b""")),

    // --- OLS AT DIM 3, pinned against an INDEPENDENT formula (r12
    // verdict ask #3): q239's oracle restates the engine's own float GE,
    // which cannot catch a wrong-but-consistent solve. Here the oracle
    // solves the SAME normal equations by CRAMER'S RULE in EXACT integer
    // arithmetic: the scale factors of cov = (n·S_ij − S_i·S_j)/(n²·2^12)
    // cancel in Σxx⁻¹·Σxy, so β is exactly det_i(M)/det(M) over the
    // HUGEINT matrix M_ij = n·S_ij − S_i·S_j, and the oracle's
    // half-up micro-rounding floor((2·10⁶·p + q)/(2q)) runs in exact
    // integer floor-division (the q241 cross-multiplication discipline —
    // no float ever enters the oracle's solve). The engine emits
    // floor(βᵢ·10⁶ + 0.5): its float GE sits ~1e-7 micro from the exact
    // rational while the measured boundary distance is ≥0.1 micro at
    // every SF (prototyped offline; HUGEINT headroom ≥3×10⁸). scaleBits=6
    // keeps every determinant term inside 128-bit exactness with that
    // margin even at a 30× corpus ---
    Q("q239c_ols_dim3_cramer",
      (s, dir) => {
        import s.implicits._
        val df = t(s, dir, "embeddings").withColumn("y",
          element_at(col("embedding").cast("array<double>"), 4))
        val (beta, _, _) =
          graft.ml.MLOps.olsFit(df, "embedding", "y", dim = 3, scaleBits = 6)
        Seq((math.floor(beta(0) * 1e6 + 0.5).toLong,
             math.floor(beta(1) * 1e6 + 0.5).toLong,
             math.floor(beta(2) * 1e6 + 0.5).toLong)).toDF("mb1", "mb2", "mb3")
      },
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        q AS (SELECT CAST(floor(v[1]*64.0) AS BIGINT) AS q1,
            CAST(floor(v[2]*64.0) AS BIGINT) AS q2,
            CAST(floor(v[3]*64.0) AS BIGINT) AS q3,
            CAST(floor(v[4]*64.0) AS BIGINT) AS qy
          FROM e WHERE v[4] IS NOT NULL),
        m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
            CAST(sum(q1) AS HUGEINT) AS s1, CAST(sum(q2) AS HUGEINT) AS s2,
            CAST(sum(q3) AS HUGEINT) AS s3, CAST(sum(qy) AS HUGEINT) AS sy,
            CAST(sum(q1*q1) AS HUGEINT) AS s11, CAST(sum(q1*q2) AS HUGEINT) AS s12,
            CAST(sum(q1*q3) AS HUGEINT) AS s13, CAST(sum(q1*qy) AS HUGEINT) AS s1y,
            CAST(sum(q2*q2) AS HUGEINT) AS s22, CAST(sum(q2*q3) AS HUGEINT) AS s23,
            CAST(sum(q2*qy) AS HUGEINT) AS s2y, CAST(sum(q3*q3) AS HUGEINT) AS s33,
            CAST(sum(q3*qy) AS HUGEINT) AS s3y
          FROM q),
        mm AS (SELECT
            n*s11 - s1*s1 AS a11, n*s12 - s1*s2 AS a12, n*s13 - s1*s3 AS a13,
            n*s22 - s2*s2 AS a22, n*s23 - s2*s3 AS a23, n*s33 - s3*s3 AS a33,
            n*s1y - s1*sy AS b1,  n*s2y - s2*sy AS b2,  n*s3y - s3*sy AS b3
          FROM m),
        dets AS (SELECT
            a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13) AS det,
            b1 *(a22*a33 - a23*a23) - a12*(b2 *a33 - a23*b3 ) + a13*(b2 *a23 - a22*b3 ) AS det1,
            a11*(b2 *a33 - a23*b3 ) - b1 *(a12*a33 - a23*a13) + a13*(a12*b3  - b2 *a13) AS det2,
            a11*(a22*b3  - b2 *a23) - a12*(a12*b3  - b2 *a13) + b1 *(a12*a23 - a22*a13) AS det3
          FROM mm),
        r AS (SELECT
            CASE WHEN det < 0 THEN -det  ELSE det  END AS q,
            CASE WHEN det < 0 THEN -det1 ELSE det1 END AS p1,
            CASE WHEN det < 0 THEN -det2 ELSE det2 END AS p2,
            CASE WHEN det < 0 THEN -det3 ELSE det3 END AS p3
          FROM dets)
      SELECT
        CAST(((2000000*p1 + q) - ((((2000000*p1 + q) % (2*q)) + 2*q) % (2*q))) // (2*q) AS BIGINT) AS mb1,
        CAST(((2000000*p2 + q) - ((((2000000*p2 + q) % (2*q)) + 2*q) % (2*q))) // (2*q) AS BIGINT) AS mb2,
        CAST(((2000000*p3 + q) - ((((2000000*p3 + q) % (2*q)) + 2*q) % (2*q))) // (2*q) AS BIGINT) AS mb3
      FROM r""")),

    // --- The THIRTEENTH streaming-runtime modality: the heaviest-state
    // gate (q187's watermark-closed LEFT OUTER stream-stream join — TWO
    // state stores, interval match state, watermark eviction) re-run on
    // the ROCKSDB state store provider instead of the default executor-
    // heap HDFSBackedStateStoreProvider. This is the 100 TB config: heap
    // state OOMs when join state outgrows memory, RocksDB spills to
    // native memory + local disk. Same oracle ⇒ provider-independent
    // semantics — state round-trips through RocksDB's serde, eviction and
    // unmatched-row flush included ---
    Q("q187b_outer_join_rocksdb",
      (s, dir) => graft.streaming.Streaming.withStateStoreProvider(
        s, graft.streaming.Streaming.RocksDbProvider)(clickConversionOuter(s, dir)),
      // chunks stays 3 — see q187's chunk note (x100 regression)
      Some(sqlClickConversionOuter),
      family = "stream"),

    // --- The FOURTEENTH streaming-runtime modality: q212's restart gate
    // hardened from a graceful stop to a MID-BATCH CRASH — the injected
    // failure fires after the store upsert and the sink's commit mark but
    // before the engine's batch commit (the torn state kill -9 leaves:
    // offsets written, commit pending, sink effect applied). The fresh
    // query replays the torn batch with the same id; the commitlog-
    // guarded sink absorbs the redelivery, so at-least-once recovery
    // still lands on exactly-once store state ---
    Q("q212b_crash_recovery",
      (s, dir) => graft.streaming.Streaming.stagedCrashRecoveryRun(
        s, events(s, dir).select("ts", "event_type", "value"),
        "ts", "event_type", "value"),
      Some(sqlHourlyEventAgg),
      family = "stream"),

    // --- SQL WRITE path (ContractStore.executeSqlWrite): two INSERTs
    // through SQL into a registered contract — the first omits an
    // optional column (its declared DEFAULT must fill), the second emits
    // a STRING where the contract says int64 (try_cast must coerce), and
    // the source parquet's int32 key must land as the declared int64 —
    // then the artifact is read back THROUGH the contract. The oracle
    // restates both SELECTs with the conformance applied, so write-time
    // EnsureTypes is what's under the hash ---
    Q("q242_sql_insert",
      (s, dir) => {
        import graft.contract.{Feature, FeatureView}
        import graft.core.FeatureType._
        val work = java.nio.file.Files.createTempDirectory("graft_sqlwrite").toString
        val store = new graft.store.ContractStore()
        store.addView(FeatureView("nation_src",
          graft.sources.ParquetSource(s"$dir/nation.parquet")))
        store.addView(FeatureView("nation_note",
          graft.sources.ParquetSource(s"$work/nation_note"),
          entities = Seq(Feature("n_nationkey", FInt64)),
          features = Seq(Feature("note", FString), Feature("keysq", FInt64),
            Feature("flag", FString, defaultValue = Some("none")))))
        store.executeSqlWrite(s, """INSERT INTO nation_note
          SELECT n_nationkey, upper(n_name) AS note,
            n_nationkey * n_nationkey AS keysq
          FROM nation_src WHERE n_nationkey < 10""")
        store.executeSqlWrite(s, """INSERT INTO nation_note
          SELECT n_nationkey, lower(n_name) AS note,
            CAST(n_nationkey AS STRING) AS keysq
          FROM nation_src WHERE n_nationkey >= 10""")
        store.view("nation_note").all(s)
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
          upper(n_name) AS note,
          CAST(n_nationkey AS BIGINT) * CAST(n_nationkey AS BIGINT) AS keysq,
          'none' AS flag
        FROM nation WHERE n_nationkey < 10
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT), lower(n_name),
          CAST(n_nationkey AS BIGINT), 'none'
        FROM nation WHERE n_nationkey >= 10""")),

    // --- SQL UPSERT (the merge shape of executeSqlWrite): seed the
    // contract via INSERT, then UPSERT INTO a 5-row correction through
    // SQL — the merge runs on the view's declared ENTITY keys (the
    // reference's upsert algebra, sources/local.py:317-340), and the
    // read-back must show corrected rows replacing, untouched rows
    // surviving ---
    Q("q242c_sql_upsert",
      (s, dir) => {
        import graft.contract.{Feature, FeatureView}
        import graft.core.FeatureType._
        val work = java.nio.file.Files.createTempDirectory("graft_sqlup").toString
        val store = new graft.store.ContractStore()
        store.addView(FeatureView("nation_src",
          graft.sources.ParquetSource(s"$dir/nation.parquet")))
        store.addView(FeatureView("nation_tag",
          graft.sources.ParquetSource(s"$work/nation_tag"),
          entities = Seq(Feature("n_nationkey", FInt64)),
          features = Seq(Feature("tag", FString))))
        store.executeSqlWrite(s, """INSERT INTO nation_tag
          SELECT n_nationkey, n_name AS tag FROM nation_src""")
        store.executeSqlWrite(s, """UPSERT INTO nation_tag
          SELECT n_nationkey, concat(n_name, ' (fixed)') AS tag
          FROM nation_src WHERE n_nationkey < 5""")
        store.view("nation_tag").all(s)
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
          CASE WHEN n_nationkey < 5 THEN n_name || ' (fixed)' ELSE n_name END
            AS tag
        FROM nation""")),

    // --- SQL CTAS (the other executeSqlWrite shape): CREATE TABLE …
    // LOCATION … AS SELECT over the registered views — the new contract
    // is INFERRED from the SELECT's schema (FeatureType.fromSpark),
    // registered in the store, and the gate reads the artifact back
    // through that new contract ---
    Q("q242b_sql_ctas",
      (s, dir) => {
        import graft.contract.FeatureView
        val work = java.nio.file.Files.createTempDirectory("graft_ctas").toString
        val store = new graft.store.ContractStore()
        store.addView(FeatureView("nation_src",
          graft.sources.ParquetSource(s"$dir/nation.parquet")))
        store.executeSqlWrite(s, s"""CREATE TABLE region_counts
          LOCATION '$work/region_counts' AS
          SELECT n_regionkey, count(*) AS n_nations,
            min(n_name) AS first_name
          FROM nation_src GROUP BY n_regionkey""")
        store.view("region_counts").all(s)
      },
      Some("""SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
          min(n_name) AS first_name
        FROM nation GROUP BY 1""")),

    // --- The FIFTEENTH streaming-runtime modality: the OTHER heavy-state
    // shape under RocksDB — dropDuplicatesWithinWatermark's dedup-key
    // state uses a different state-store codec than q187b's join state
    // (key-only entries + event-time eviction index), so this gate proves
    // THAT round trip through RocksDB's serde too. Same at-least-once
    // double-delivery input and oracle as q176 ---
    Q("q176b_dedup_rocksdb",
      (s, dir) => graft.streaming.Streaming.withStateStoreProvider(
        s, graft.streaming.Streaming.RocksDbProvider)(doubleDeliveryDedup(s, dir)),
      Some(sqlEventsById),
      family = "stream"),

    // --- LoadedAtSource (batch_data_source.py:1288-1338): the load-stamp
    // source, gated with a PINNED clock (the reproducible-backfill form;
    // the wall-clock default is spec-covered) — the stamp column rides
    // every inner row and survives the contract read path ---
    Q("q243_loaded_at",
      (s, dir) => graft.sources.LoadedAtSource(
          graft.sources.ParquetSource(s"$dir/nation.parquet"),
          // Instant.parse, not Timestamp.valueOf: the latter reads the JVM
          // default timezone — the oracle's naive TIMESTAMP is UTC
          clock = Some(java.sql.Timestamp.from(
            java.time.Instant.parse("2026-01-15T08:30:00Z"))))
        .read(s)
        .select(col("n_nationkey"), col("n_name"),
          unix_micros(col("loaded_at")).as("loaded_at_us")),
      Some("""SELECT n_nationkey, n_name,
          epoch_us(TIMESTAMP '2026-01-15 08:30:00') AS loaded_at_us
        FROM nation"""))
  )

  /** Shared CTE chain for the two OLS gates: quantized-exact moments →
    * olsFit's covariance float sequence → the dim-2 Gaussian elimination
    * unrolled (sw = the partial pivot; Scala maxBy keeps the FIRST max,
    * so the swap fires only on STRICTLY greater |a10|). */
  private def olsOracleCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      q AS (SELECT vec_id, v[1] AS x1, v[2] AS x2,
          CAST(floor(v[1]*1048576.0) AS BIGINT) AS q1,
          CAST(floor(v[2]*1048576.0) AS BIGINT) AS q2,
          CAST(floor(v[3]*1048576.0) AS BIGINT) AS qy
        FROM e WHERE v[3] IS NOT NULL),
      m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(q1) AS BIGINT) AS s1, CAST(sum(q2) AS BIGINT) AS s2,
          CAST(sum(qy) AS BIGINT) AS sy,
          CAST(sum(q1*q1) AS BIGINT) AS s11, CAST(sum(q1*q2) AS BIGINT) AS s12,
          CAST(sum(q1*qy) AS BIGINT) AS s1y, CAST(sum(q2*q2) AS BIGINT) AS s22,
          CAST(sum(q2*qy) AS BIGINT) AS s2y, CAST(sum(qy*qy) AS BIGINT) AS syy
        FROM q),
      c AS (SELECT n,
          (CAST(s11 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))/1099511627776.0 AS c00,
          (CAST(s12 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n))/1099511627776.0 AS c01,
          (CAST(s1y AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))/1099511627776.0 AS c0y,
          (CAST(s22 AS DOUBLE)/n - (CAST(s2 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n))/1099511627776.0 AS c11,
          (CAST(s2y AS DOUBLE)/n - (CAST(s2 AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))/1099511627776.0 AS c1y,
          (CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))/1099511627776.0 AS cyy,
          CAST(s1 AS DOUBLE)/n/1048576.0 AS m1,
          CAST(s2 AS DOUBLE)/n/1048576.0 AS m2,
          CAST(sy AS DOUBLE)/n/1048576.0 AS my
        FROM m),
      g AS (SELECT *, abs(c01) > abs(c00) AS sw FROM c),
      g1 AS (SELECT *,
          CASE WHEN sw THEN c01 ELSE c00 END AS p00,
          CASE WHEN sw THEN c11 ELSE c01 END AS p01,
          CASE WHEN sw THEN c1y ELSE c0y END AS p02,
          CASE WHEN sw THEN c00 ELSE c01 END AS r10,
          CASE WHEN sw THEN c01 ELSE c11 END AS r11,
          CASE WHEN sw THEN c0y ELSE c1y END AS r12
        FROM g),
      g2 AS (SELECT *, r10/p00 AS f FROM g1),
      g3 AS (SELECT *, r11 - f*p01 AS e11, r12 - f*p02 AS e12 FROM g2),
      g4 AS (SELECT *, e12/e11 AS b2 FROM g3),
      g5 AS (SELECT *, (p02 - p01*b2)/p00 AS b1 FROM g4)"""

  val specs: Seq[Q] =
    relational ++ timeQueries ++ scalarQueries ++ docQueries ++ miscQueries ++ textQueries2 ++
      statsQueries ++ analyticQueries ++ storeQueries ++ pipelineQueries3 ++ pipelineQueries4 ++
      pipelineQueries5 ++ layoutQueries ++ retrievalQueries ++ lifecycleQueries ++ conformQueries ++
      capstoneQueries

  // ---------- driver contract ----------

  private val familyByPrefix: Map[String, String] =
    specs.map(q => q.name.takeWhile(_ != '_') -> q.family).toMap

  /** Bench family of a query, keyed by its unique qNN prefix (Bench's
    * short line only keeps the prefix); unregistered names are "batch". */
  def familyOf(name: String): String =
    familyByPrefix.getOrElse(name.takeWhile(_ != '_'), "batch")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    specs.head.fn(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
