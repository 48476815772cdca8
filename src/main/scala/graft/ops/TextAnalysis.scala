package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, fingerprinting. All pure `functions._` expressions —
  * codegen'd, no UDFs in the hot path, so they stay inside whole-stage
  * codegen even over 100 TB of documents.
  */
object TextAnalysis {

  /** Whitespace token count — empty segments are FILTERED, so boundary
    * tabs/newlines (SQL trim strips only spaces; split keeps boundary
    * empties at limit -1) never mint phantom tokens: "hello world\n" is 2
    * tokens, "\t" is 0. Every oracle restatement mirrors the filter
    * (list_filter(..., length > 0)). */
  def tokenCountWs(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => length(t) > 0))

  /** BPE-ish subword token estimate: letter runs, digit runs, and single
    * punctuation marks — the usual cheap proxy for LLM token counts without
    * shipping a tokenizer. RE2-compatible pattern (no lookarounds) so the
    * same regex runs on every engine. */
  val bpeTokenPattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Character-level stats used by quality heuristics. */
  def punctRatio(text: Column): Column = {
    val total = length(text).cast("double")
    when(total === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / total)
  }

  def digitRatio(text: Column): Column = {
    val total = length(text).cast("double")
    when(total === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^0-9]", "")).cast("double") / total)
  }

  def meanWordLength(text: Column): Column = {
    val n = tokenCountWs(text)
    when(n === 0, 0.0)
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / n.cast("double"))
  }

  private val enStop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Fraction of tokens that are common English stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStop): Column = {
    val words = filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)
    val n = size(words)
    when(n === 0, 0.0).otherwise(
      size(filter(words, w => w.isin(stopwords: _*))).cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1]: C4/Gopher-style length, word-length,
    * punctuation and stopword heuristics combined. */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(50, 100000), 1.0).otherwise(0.0)
    val mwl = meanWordLength(text)
    val wordOk = when(mwl.between(3.0, 12.0), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.3, 1.0).otherwise(0.0)
    val digitOk = when(digitRatio(text) <= 0.3, 1.0).otherwise(0.0)
    (lenOk + wordOk + punctOk + digitOk) / 4.0
  }

  /** Rolling-hash document fingerprint: polynomial rolling hash over word
    * tokens (order-sensitive, content-defined). Deterministic across runs.
    * Arithmetic is BOUNDED mod 2⁴⁰ (acc·31 + h stays < 2⁴⁶) — the raw
    * xxhash64 fold would overflow longs and THROW under ANSI mode, which
    * is Spark 4's default. */
  def fingerprint(text: Column): Column = {
    val M = 1099511627776L // 2^40
    val words = filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)
    aggregate(words, lit(1469598103934665603L % M),
      (acc, w) => pmod(acc * lit(31L) + pmod(xxhash64(w), lit(M)), lit(M)))
  }

  /** Portable variant of [[fingerprint]] built only on md5 + arithmetic mod
    * 2^40, so any engine with md5 reproduces it bit-for-bit (xxhash64 is
    * Spark-specific). Per-word hash = first 14 hex chars of md5 mod 2^40;
    * rolling combine = (acc*31 + h) mod 2^40. */
  def fingerprintPortable(text: Column): Column = {
    val M = 1099511627776L // 2^40
    val words = filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)
    val hashes = transform(words,
      w => pmod(conv(substring(md5(w), 1, 14), 16, 10).cast("long"), lit(M)))
    aggregate(hashes, lit(7L), (acc, h) => pmod(acc * lit(31L) + h, lit(M)))
  }

  /** n-gram-heuristic language ID over a small built-in profile (en/es/de/fr
    * stopwords, a zh charset probe) with a fixed priority chain (zh → en →
    * es → de → fr): a language wins if its stopword/charset score is
    * positive and >= every other score — an explicit, engine-reproducible
    * tie-break.
    *
    * A stopword score counts PRESENT words (0/1 each), so it equals
    * |distinct(tokens) ∩ stopwords|: ONE whitespace tokenization shared by
    * all languages + one codegen'd array_intersect per language, instead of
    * one full-text regex scan per stopword (~30 regex passes per row — the
    * former q28 hot spot). The zh charset probe stays a single regex. */
  def langIdDeterministic(text: Column): Column = {
    val t = lower(text)
    val tokens = array_distinct(split(t, "\\s+"))
    def hits(words: Seq[String]): Column = size(array_intersect(tokens, lit(words.toArray)))
    val zh = when(t.rlike("[\\x{4e00}-\\x{9fff}]"), 100).otherwise(0)
    val en = hits(Seq("the", "and", "of", "to", "is", "that", "with", "for"))
    val es = hits(Seq("el", "la", "los", "las", "es", "una", "que", "por", "con"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"))
    val fr = hits(Seq("le", "les", "est", "et", "une", "dans", "pour", "des"))
    when(zh > 0 && zh >= greatest(en, es, de, fr), "zh")
      .when(en > 0 && en >= greatest(es, de, fr), "en")
      .when(es > 0 && es >= greatest(de, fr), "es")
      .when(de > 0 && de >= fr, "de")
      .when(fr > 0, "fr")
      .otherwise("unknown")
  }

  /** PII scrubbing: replace emails, URLs and long digit runs with placeholder
    * tokens — the standard redaction pass of a training-data pipeline. Chained
    * regexp_replace, codegen'd, RE2-compatible patterns. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"
  val longDigitPattern = "[0-9]{7,}"
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      longDigitPattern, "<NUM>")

  /** Gopher-style repetition ratio: 1 − distinct/total word k-grams — high
    * values flag boilerplate/repetitive documents. */
  def repetitionRatio(text: Column, k: Int = 3): Column = {
    val total = size(Dedup.hashedShingles(text, k))
    val distinct = size(Dedup.hashedShingleSet(text, k))
    when(total === 0, 0.0).otherwise(lit(1.0) - distinct.cast("double") / total.cast("double"))
  }

  /** Test-set DECONTAMINATION: flag corpus documents sharing any word n-gram
    * with a benchmark/eval set — the standard guard against benchmark leakage
    * in a training corpus (13-gram overlap in GPT-3/PaLM data work; n is a
    * parameter here because the synthetic docs are short).
    *
    * Scale shape: n-grams are hashed to 64-bit ints BEFORE the join (8-byte
    * keys across the shuffle, not 100-byte strings), the benchmark side is
    * distinct-reduced and broadcast (eval sets are tiny next to a 100 TB
    * corpus), and the count(distinct) collapses per doc — one narrow
    * broadcast-hash-join over the exploded corpus, no shuffle of the corpus
    * at all. Hashes use the portable md5-derived form so an external engine
    * reproduces the exact same matches (SparkEntry q62's oracle).
    *
    * Returns (idCol, n_shared) for contaminated documents only. */
  def decontaminate(corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, n: Int = 5): org.apache.spark.sql.DataFrame = {
    def gramHashes(df: org.apache.spark.sql.DataFrame, extra: Seq[Column]) =
      df.select(extra :+ array_distinct(Dedup.portableShingleHashes(col(textCol), n)).as("__g"): _*)
    val bench = gramHashes(benchmark, Nil)
      .select(explode(col("__g")).as("h")).distinct()
    val corpusGrams = gramHashes(corpus, Seq(col(idCol)))
      .select(col(idCol), explode(col("__g")).as("h"))
    corpusGrams.join(broadcast(bench), Seq("h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared")) // grams pre-distinct per doc
  }

  /** MULTI-BENCHMARK decontamination MATRIX: [[decontaminate]] against a
    * whole eval SUITE in one corpus pass — `benchmarks` carries one row
    * per eval document labeled by `benchCol` (MMLU, GSM8K, …), and the
    * output is one row per contaminated (document, benchmark) pair with
    * the shared-gram count. The operational question at corpus scale is
    * never "does my corpus overlap THE benchmark" but "which of my N
    * benchmarks does each document leak into" — run separately that is N
    * corpus scans; here the corpus explodes ONCE and the broadcast side
    * is the union of every benchmark's distinct grams tagged with their
    * suite name (eval suites are tiny next to a 100 TB corpus, so the
    * union still broadcasts). Same portable md5-derived gram hashes as
    * [[decontaminate]] — 8-byte join keys, corpus never shuffles; a gram
    * appearing in several benchmarks fans out only the matched rows.
    *
    * Returns (idCol, benchCol, n_shared), contaminated pairs only. */
  def decontaminationMatrix(corpus: org.apache.spark.sql.DataFrame,
      benchmarks: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, benchCol: String,
      n: Int = 5): org.apache.spark.sql.DataFrame = {
    val bench = benchmarks.select(col(benchCol),
        explode(array_distinct(Dedup.portableShingleHashes(col(textCol), n))).as("h"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(Dedup.portableShingleHashes(col(textCol), n))).as("h"))
    corpusGrams.join(broadcast(bench), Seq("h"))
      .groupBy(col(idCol), col(benchCol))
      .agg(count(lit(1)).as("n_shared")) // grams pre-distinct per doc AND suite
  }

  /** Gopher-style repetition signals that need a per-document mode (most
    * frequent n-gram): fraction of all 2-grams taken by the single most
    * frequent 2-gram, plus the word-level duplicate fraction. Explode →
    * count(doc, gram) → max/sum per doc: two partial-aggregated shuffles on
    * (doc, gram) — per-doc work stays O(len), never O(len²), unlike a
    * per-row higher-order-function mode which would be quadratic on long
    * documents. Returns (idCol, top_bigram_frac, dup_word_frac). */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    val grams = df.select(col(idCol),
        explode(Dedup.hashedShingles(col(textCol), 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max(col("c")).as("top_c"), sum(col("c")).as("total_c"))
    val words = df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n_words"))
    df.select(col(idCol))
      .join(grams, Seq(idCol), "left").join(words, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_c").cast("double") / col("total_c").cast("double"), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"),
          lit(0.0)).as("dup_word_frac"))
  }

  /** Word n-gram language-model counts: each n-gram's count and its conditional
    * probability given the (n−1)-gram prefix — the count tables a KenLM-style
    * LM or contamination scorer is built from. Explode once, aggregate with
    * map-side partials; prefix counts come from a second aggregation of the
    * SAME gram counts (no second pass over the corpus). */
  def ngramLmCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "n >= 2 (conditional probability needs a prefix)")
    val grams = df.select(
        explode(graft.functions.Native.wordShingleStrings(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_gram"))
      // prefix = the gram minus its last word
      .withColumn("prefix", expr(s"array_join(slice(split(gram, ' '), 1, ${n - 1}), ' ')"))
    val prefixCounts = grams.groupBy(col("prefix")).agg(sum(col("n_gram")).as("n_prefix"))
    grams.join(prefixCounts, Seq("prefix"))
      .select(col("gram"), col("n_gram"),
        (col("n_gram").cast("double") / col("n_prefix").cast("double")).as("p_cond"))
  }

  /** TF-IDF-style DISTINCTIVE TERMS per document: rank each document's
    * terms by tf · (N+1)/(df+1). The idf factor is a plain RATIO, not
    * ln((N+1)/(df+1)): IEEE division is bit-exact across engines while libm
    * log differs in the last ulp (an oracle-hash hazard); the ranking is
    * identical because ln is monotonic. Plan shape: one explode →
    * (doc, term) counts with map-side partials; document frequency
    * aggregated FROM those counts (no second corpus pass) and joined back
    * on the term — broadcast when the vocabulary is small, shuffle-hash on
    * the 8-byte term hash when it isn't. Ties break on the term itself. */
  def distinctiveTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = words.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // the corpus size is a plan-time scalar, baked in as a literal (the
    // IVF-centroid idiom): joining a 1-row frame — even broadcast, even on
    // a constant key, which folds to `true` — plans a
    // BroadcastNestedLoopJoin, banned corpus-wide by the plan invariants
    val n = df.count()
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score",
        col("tf") * lit((n + 1).toDouble) / (col("df") + 1).cast("double"))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("term_rank"))
  }

  /** SEQUENCE PACKING for training batches: documents are concatenated in a
    * deterministic order within each shard and split every `budget` tokens
    * (the GPT-style pack-and-split shape). A document's chunk is the chunk
    * of its first token — token offset = running token sum before it — and
    * `crosses_boundary` flags docs spanning a split point (the ones a loader
    * must handle across contexts).
    *
    * Scale shape: ONE window pass per shard (partition column), never a
    * global ordering — shards are the parallel unit, exactly how a 100 TB
    * corpus is packed (per input file / date / source shard). */
  def packSequences(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      budget: Int, shardBy: String): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget=$budget must be positive — floor(x / 0) " +
      "would null every chunk_id silently under non-ANSI mode")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardBy)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tokens = tokenCountWs(col(textCol)).cast("long")
    df.select(col(idCol), col(shardBy), tokens.as("n_tokens"))
      .withColumn("__off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col(shardBy), col("n_tokens"),
        floor(col("__off") / budget).as("chunk_id"),
        (floor((col("__off") + col("n_tokens") - 1) / budget) > floor(col("__off") / budget))
          .as("crosses_boundary"))
  }

  /** INTRA-corpus duplicated-span detection (the self-dedup complement of
    * [[decontaminate]]): for every document, how many of its distinct word
    * k-grams also appear in some EARLIER document (min doc id owns each
    * gram). High `dup_frac` flags boilerplate and near-copies that survive
    * document-level dedup because the copy is embedded in a longer page.
    *
    * Plan shape at 100 TB: gram keys are 8-byte md5-derived hashes (the
    * portable family), so the only shuffle moves (hash, id) pairs — one
    * partial-aggregated min per gram, joined back on the hash. Never
    * compares documents pairwise and never shuffles text. */
  def selfOverlap(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, k: Int = 8): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol),
      explode(array_distinct(Dedup.portableShingleHashes(col(textCol), k))).as("h"))
    // owner via an unordered window over the gram hash: ONE shuffle instead
    // of groupBy(h) + join-back (same exchange key, half the exchanges)
    val owner = min(col(idCol)).over(Window.partitionBy(col("h")))
    grams.withColumn("__owner", owner)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__owner") < col(idCol)).cast("long")).as("n_shared"))
      .withColumn("dup_frac",
        col("n_shared").cast("double") / col("n_grams").cast("double"))
  }

  /** Bigram-LM COVERAGE scoring — the hash-portable stand-in for a
    * perplexity filter (CCNet trains KenLM and drops high-perplexity docs;
    * log-prob sums are libm/order-dependent and cannot hash-match across
    * engines, so the scored signals here are integer-exact): per scored
    * document, the fraction of its bigram OCCURRENCES known to the training
    * counts and the mean training-corpus frequency of its bigrams. Both are
    * single integer÷integer divisions — bit-identical everywhere.
    *
    * Plan shape: counts table = one explode + partial-aggregated count;
    * scoring = equi-join on the gram (broadcast when the vocabulary is
    * small; the corpus side never shuffles more than (id, gram) pairs). */
  def lmCoverage(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    val counts = train.select(
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
    score.select(col(idCol),
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("gram"))
      .join(counts, Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("cnt")).as("n_known"),
        sum(coalesce(col("cnt"), lit(0L))).as("sum_cnt"))
      .select(col(idCol), col("n_bigrams"), col("n_known"),
        (col("n_known").cast("double") / col("n_bigrams").cast("double")).as("coverage"),
        (col("sum_cnt").cast("double") / col("n_bigrams").cast("double")).as("avg_cnt"))
  }

  /** Packing EFFICIENCY per shard — the planning companion to
    * [[packSequences]]: total tokens, chunk count at `budget` tokens per
    * sequence, and the fill ratio (tokens ÷ chunk capacity; the complement
    * is padding waste). One partial-aggregated sum per shard; the ratio is
    * an integer÷integer division so it hashes identically everywhere. */
  def packStats(df: org.apache.spark.sql.DataFrame, textCol: String,
      budget: Int, shardBy: String): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget=$budget must be positive — DIV 0 would " +
      "null n_chunks/fill_ratio silently under non-ANSI mode")
    df.select(col(shardBy), tokenCountWs(col(textCol)).cast("long").as("__n"))
      .groupBy(shardBy)
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("total_tokens"))
      // ceil-div as true integer DIV (Column `/` is double division); the
      // ratio is ONE IEEE division so every engine lands on the same bits
      .withColumn("n_chunks",
        expr(s"CAST((total_tokens + ${budget - 1}) DIV $budget AS BIGINT)"))
      .withColumn("fill_ratio",
        col("total_tokens").cast("double") / (col("n_chunks") * budget).cast("double"))
  }

  /** Sliding CHUNK SPANS over each document's token sequence (the
    * RAG/embedding-pipeline chunker): windows of `window` tokens starting
    * every `stride` tokens, last window truncated at the document end.
    * Emits (id, chunk_idx, start_tok, end_tok, chunk_len) — pure integer
    * arithmetic over ONE token count per document (explode of a
    * `sequence()`, no per-token rows), so the span table for a 100 TB
    * corpus is a narrow map of the documents scan. Chunk starts stop
    * before `n` (the final partial window is emitted; empty docs emit
    * nothing). */
  def chunkSpans(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = tokenCountWs(col(textCol)).cast("long")
    df.select(col(idCol), n.as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__n"),
        // integer floor-div (Column `/` is double division)
        explode(sequence(lit(0L), floor((col("__n") - 1) / lit(stride)).cast("long")))
          .as("chunk_idx"))
      .select(col(idCol),
        col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + window, col("__n")).as("end_tok"))
      .withColumn("chunk_len", col("end_tok") - col("start_tok"))
  }

  /** EXACT top-k frequent words via Misra-Gries candidates + exact
    * verification — [[topWords]] without shuffling the whole vocabulary.
    * [[topWords]]'s groupBy moves every distinct token through the exchange;
    * on raw web text the "vocabulary" is O(corpus) (typos, unicode junk,
    * numbers), so that shuffle is corpus-sized. Here each partition keeps a
    * `capacity`-counter Misra-Gries summary (any token with global count >
    * n/capacity survives in at least one partition — the standard
    * heavy-hitter guarantee), only the candidate tokens are counted
    * EXACTLY (broadcast semi-join — the corpus side never shuffles), and
    * the final top-k ranks ≤ capacity·partitions candidate counts. Output
    * is exact, not approximate, whenever the k-th count clears n/capacity —
    * size `capacity` ≫ k. Ties break on the word. */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, capacity: Int = 256): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val candidates = words.as[String].mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long](capacity * 2)
      it.foreach { w =>
        if (counts.containsKey(w)) counts.put(w, counts.get(w) + 1L)
        else if (counts.size < capacity) counts.put(w, 1L)
        else { // decrement-all step (lazy: collect the dead keys after)
          val dead = new java.util.ArrayList[String]()
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) dead.add(kv.getKey) else kv.setValue(kv.getValue - 1L)
          }
          dead.forEach(d => counts.remove(d))
        }
      }
      import scala.jdk.CollectionConverters._
      counts.keySet().asScala.iterator
    }.toDF("word").distinct()
    val exact = words.join(broadcast(candidates), Seq("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy().orderBy(col("n").desc, col("word").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hashed-bag-of-words LINEAR classifier scoring — the fastText-style
    * quality-filter inference shape (a trained model assigns each token
    * hash a weight; a document's score is the mean token weight), run as a
    * NARROW plan-time expression: no shuffle, no UDF, no model service.
    * Token → portable md5 hash → integer weight (h mod 2001 − 1000, i.e.
    * milli-units in [−1, 1]); the document sums INTEGER milli-weights and
    * divides once, so the score is order-independent and engine-exact
    * (a float accumulation of 0.001-granularity weights would round
    * differently per engine and per partition order). A real trained model
    * drops in by replacing the hash-derived weight with a broadcast
    * weight-table join on the token hash — the plan shape is unchanged.
    * Returns (idCol, n_tokens, score, keep = score > 0). */
  def hashedLinearScore(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    // token hashes materialized once (own projection) — higher-order fns
    // are interpreted and would recompute the tokenization per reference
    df.select(col(idCol), Dedup.portableShingleHashes(col(textCol), 1).as("__h"))
      .select(col(idCol), size(col("__h")).cast("long").as("n_tokens"),
        aggregate(col("__h"), lit(0L), (acc, h) => acc + (h % 2001L - 1000L)).as("__milli"))
      .withColumn("score",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("__milli").cast("double") / (col("n_tokens") * 1000.0)))
      .withColumn("keep", col("score") > 0)
      .drop("__milli")
  }

  /** VOCABULARY GROWTH curve (Heaps-law measurement): distinct n-gram count
    * at nested corpus prefixes (25%, 50%, … of documents by the md5
    * router — the same auditable ordering as stratified sampling, so each
    * prefix is a superset of the last). The saturation shape tells a
    * pipeline whether more crawl adds vocabulary or repetition — the
    * cheap scalar complement to the per-doc novelty screen.
    *
    * ONE corpus scan: each gram keeps the EARLIEST prefix bucket that
    * contains it (min over its documents), bucket counts then cumulate in
    * a 4-row window — never one scan per prefix fraction. */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, n: Int = 2, steps: Int = 4): org.apache.spark.sql.DataFrame = {
    require(steps >= 1, "steps >= 1")
    import org.apache.spark.sql.expressions.Window
    val buckets = 1000000
    // doc's prefix index: smallest f = (i+1)/steps with md5(id) < f·1M.
    // Multiply-first (like MLOps.tokenShards): the divide-first form
    // (u / (1M/steps)) overflows to index == steps when steps ∤ 1M
    val docs = df.select(col(idCol),
      floor(graft.ml.MLOps.md5Bucket(col(idCol), buckets) * steps / lit(buckets.toDouble))
        .cast("int").as("__b"),
      col(textCol))
    val firstSeen = docs
      .select(col("__b"), explode(Dedup.hashedShingleSet(col(textCol), n)).as("h"))
      .groupBy("h").agg(min(col("__b")).as("__fb"))
      .groupBy("__fb").agg(count(lit(1)).as("__new_grams"))
    val docCounts = docs.groupBy("__b").agg(count(lit(1)).as("__new_docs"))
    firstSeen.join(docCounts.withColumnRenamed("__b", "__fb"), Seq("__fb"), "full")
      .select(((col("__fb") + 1).cast("double") / steps).as("fraction"),
        coalesce(col("__new_grams"), lit(0L)).as("__g"),
        coalesce(col("__new_docs"), lit(0L)).as("__d"))
      .withColumn("n_docs", sum(col("__d")).over(Window.orderBy(col("fraction"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("distinct_grams", sum(col("__g")).over(Window.orderBy(col("fraction"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select("fraction", "n_docs", "distinct_grams")
  }

  /** TOKENIZER-COVERAGE measurement: build the corpus vocabulary (words
    * with count ≥ `minCount` — the standard frequency cutoff) and score
    * each slice by its OUT-OF-VOCABULARY token fraction. High per-slice OOV
    * against a vocab built elsewhere flags domain shift before training
    * pays for it. One explode feeds both the vocab aggregation and the
    * scoring join (equi-join on the word; AQE broadcasts the vocab while it
    * fits, and a real subword vocab is bounded by construction). All-integer
    * counts, one exact division. Returns (sliceCol, n_tokens, n_oov,
    * oov_rate). */
  def oovRate(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    // ONE corpus explode: (slice, word) counts feed BOTH the vocabulary
    // (word totals = a second aggregation of the counts, no rescan) and the
    // per-slice scoring join — the corpus is touched exactly once
    val sw = df.select(col(sliceCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(sliceCol), col("word")).agg(count(lit(1)).as("__n"))
    val vocab = sw.groupBy("word").agg(sum(col("__n")).as("__c"))
      .filter(col("__c") >= minCount).select(col("word"), lit(true).as("__in"))
    sw.join(vocab, Seq("word"), "left")
      .groupBy(sliceCol)
      .agg(sum(col("__n")).as("n_tokens"),
        sum(when(col("__in").isNull, col("__n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** TOKENIZE to vocabulary IDS, long form (idCol, pos 1-based, token_id):
    * vocabulary = words with count ≥ `minCount`, ids assigned by
    * (frequency desc, word) rank — deterministic, so two engines (or two
    * runs) assign identical ids; OOV tokens map to id 0. The step between
    * [[oovRate]]'s coverage check and binarized training shards. The
    * corpus-side plan is one posexplode + one equi-join on the word (vocab
    * broadcasts while it fits — and a real subword vocab is bounded by
    * construction); the id-assignment window runs over O(vocab) rows, not
    * the corpus. */
  def tokenizeToIds(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // filter empty tokens BEFORE positions: `trim` strips only spaces, so
    // tab-leading text splits to a leading "" — filtering after posexplode
    // would leave a hole at position 1
    val words = df.select(col(idCol),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"),
          x => length(x) > 0)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"), col("col").as("word"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("__c").desc, col("word"))).cast("long"))
      .select("word", "token_id")
    words.join(vocab, Seq("word"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** CONTENT-DEFINED CHUNKING (CDC) at word granularity: a chunk boundary
    * falls after word `p+k-1` wherever the portable hash of the k-gram at
    * position p satisfies `hash % divisor == 0` — so boundaries move WITH
    * the content, and an insertion early in a document shifts chunk
    * digests only locally (fixed-size chunking breaks every downstream
    * window — the rsync/LBFS argument). Expected chunk length ≈ `divisor`
    * words. Emits (idCol, chunk_idx 0-based, start_word, end_word
    * 1-based inclusive, digest md5 of the chunk's words) — shared digests
    * across documents ARE the shift-robust duplicated-span signal.
    * One narrow map: hashes + words materialized once per row, array
    * arithmetic for the cuts, O(chunks) explode. */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int = 8, divisor: Long = 64): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && divisor >= 1, "k >= 1, divisor >= 1")
    // filter empty tokens: SQL trim strips spaces only, while the hash
    // kernel Java-trims ALL whitespace — tab-led text would otherwise shift
    // __w one position off the hash indices (tokenizeToIds' bug class)
    val base = df
      .select(col(idCol),
        filter(split(lower(trim(col(textCol))), "\\s+"), x => length(x) > 0).as("__w"),
        Dedup.portableShingleHashes(col(textCol), k).as("__h"))
      .filter(size(col("__w")) > 0)
    val cuts = when(size(col("__h")) > 0,
      filter(
        transform(sequence(lit(1), size(col("__h"))),
          p => when(pmod(element_at(col("__h"), p), lit(divisor)) === 0, p + (k - 1))),
        c => c.isNotNull)).otherwise(array().cast("array<int>"))
    val withCuts = base.withColumn("__c", cuts)
      // always close the final chunk at the last word
      .withColumn("__c2",
        when(size(col("__c")) === 0 || element_at(col("__c"), -1) =!= size(col("__w")),
          concat(col("__c"), array(size(col("__w"))))).otherwise(col("__c")))
    withCuts
      .select(col(idCol), col("__w"), col("__c2"),
        posexplode(transform(sequence(lit(1), size(col("__c2"))), j => struct(
          (when(j === 1, lit(0)).otherwise(element_at(col("__c2"), j - 1)) + 1).as("s"),
          element_at(col("__c2"), j).as("e")))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col.s").cast("long").as("start_word"),
        col("col.e").cast("long").as("end_word"),
        md5(concat_ws(" ",
          slice(col("__w"), col("col.s"), col("col.e") - col("col.s") + 1))).as("digest"))
  }

  /** [[tokenizeToIds]] assembled to per-document ID ARRAYS (the
    * training-shard export form): sort_array over collected (pos, id)
    * structs keeps token order exact regardless of shuffle order. One
    * extra groupBy on the doc key over the long form; array sizes are
    * document lengths, so state per group is one document. */
  def tokenizeToIdArrays(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minCount: Long): org.apache.spark.sql.DataFrame =
    tokenizeToIds(df, textCol, idCol, minCount)
      .groupBy(idCol)
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("token_id")))),
        s => s.getField("token_id")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))

  /** CORPUS-SLICE similarity matrix: n-gram Jaccard between every pair of
    * slices (sources, snapshots, language buckets) over each slice's
    * DISTINCT gram set — the slice-level diagnostic that says which
    * sources overlap enough to need cross-source dedup before mixing.
    * Plan: distinct (slice, gram-hash) pairs — the corpus reduces to
    * O(slices · vocabulary) 12-byte rows — then a self equi-join on the
    * gram and one count per slice pair. Slice count is small, so the pair
    * frame is tiny; the corpus itself is touched exactly once. */
  def sliceSimilarity(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceCol: String, k: Int = 2): org.apache.spark.sql.DataFrame = {
    val grams = df.select(col(sliceCol).as("slice"),
        explode(Dedup.hashedShingleSet(col(textCol), k)).as("h"))
      .distinct()
    val sizes = grams.groupBy("slice").agg(count(lit(1)).as("z"))
    val a = grams.select(col("slice").as("slice_a"), col("h"))
    val b = grams.select(col("slice").as("slice_b"), col("h"))
    a.join(b, Seq("h")).filter(col("slice_a") < col("slice_b"))
      .groupBy("slice_a", "slice_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnsRenamed(Map("slice" -> "slice_a", "z" -> "za"))), "slice_a")
      .join(broadcast(sizes.withColumnsRenamed(Map("slice" -> "slice_b", "z" -> "zb"))), "slice_b")
      .select(col("slice_a"), col("slice_b"), col("za"), col("zb"), col("inter"),
        (col("inter").cast("double") / (col("za") + col("zb") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** CORPUS-SLICE distribution distance: exact TOTAL-VARIATION distance
    * between every pair of slices' unigram OCCURRENCE distributions —
    * the mixture-shift diagnostic behind DoReMi/FineWeb-style domain
    * weighting ([[sliceSimilarity]]'s Jaccard asks "do the vocabularies
    * overlap"; this asks "do the slices USE the shared vocabulary at the
    * same rates", which is what a mixture reweighting actually changes).
    * Reference semantics anchor: aligned's slice-profile comparisons
    * (`aligned/retrieval_job.py` aggregate-per-slice pattern).
    *
    * TV(A,B) = ½ · Σ_w |cA(w)/TA − cB(w)/TB|
    *         = ( Σ_{w∈A∩B} |cA·TB − cB·TA| + (TA−SA)·TB + (TB−SB)·TA )
    *           / (2·TA·TB)
    * where SA/SB are the shared-word count mass of each slice in the
    * pair — so only words present in BOTH slices ever join; the
    * present-in-one-side-only mass folds into the closed form. Every
    * term is an exact integer: the numerator is bounded by 2·TA·TB, and
    * the per-pair totals are REQUIRED (driver-side, before any result
    * can surface) to satisfy TA·TB ≤ 2⁶²; past that bound non-ANSI long
    * arithmetic would wrap silently, so the operator fails loudly with
    * the offending pair instead — widen to DECIMAL(38,0) sums when a
    * corpus actually gets there (≈2³¹ tokens PER SLICE). The single
    * final division is one IEEE binary64 op — bit-identical across
    * engines.
    *
    * Plan shape: one corpus scan → (slice, word) partial-aggregated
    * counts; slice totals are O(slices) rows broadcast onto both join
    * sides; the only wide exchange is the counts self-equi-join on the
    * word itself (grouping by the RAW word, not a 64-bit hash of it —
    * a hash collision would merge distinct words' counts and break the
    * exact-TV claim, and the word is vocabulary-bounded and already
    * being shuffled anyway). The pair skeleton (cross of the tiny
    * totals table with itself) guarantees a row for every pair even
    * with zero shared vocabulary. */
  def distributionDistance(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.select(col(sliceCol).as("slice"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("slice", "w").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("slice").agg(sum("n").as("t"))
    val a = counts.join(broadcast(totals), "slice")
      .select(col("slice").cast("string").as("slice_a"), col("w"),
        col("n").as("na"), col("t").as("ta"))
    val b = counts.join(broadcast(totals), "slice")
      .select(col("slice").cast("string").as("slice_b"), col("w"),
        col("n").as("nb"), col("t").as("tb"))
    // pair orientation by the STRING form of the slice on BOTH sides: the
    // driver-built skeleton sorts string casts, so the distributed side
    // must too — native numeric ordering would orient (2, 10) while the
    // skeleton holds ("10", "2") and the join would silently miss the pair
    val shared = a.join(b, Seq("w"))
      .filter(col("slice_a").cast("string") < col("slice_b").cast("string"))
      .groupBy("slice_a", "slice_b")
      .agg(sum(abs(col("na") * col("tb") - col("nb") * col("ta"))).as("shared_diff"),
        sum("na").as("sa"), sum("nb").as("sb"))
    // pair skeleton from a BOUNDED O(slices) driver pull (slices are
    // sources/languages/snapshots — dozens, never corpus-scaled), so
    // zero-shared-vocabulary pairs still get a row WITHOUT planning the
    // tiny×tiny cross as a nested-loop join in the distributed plan
    val spark = df.sparkSession
    import spark.implicits._
    val ts = totals.select(col("slice").cast("string"), col("t"))
      .as[(String, Long)].collect().sortBy(_._1)
    // overflow guard (fails loudly, BEFORE the lazy plan can surface a
    // wrapped sum): the shared-diff numerator is bounded by 2·TA·TB, so
    // TA·TB must stay within the long-safe half-range. The totals are
    // already on the driver for the pair skeleton — the check is free.
    for { (sa2, ta2) <- ts; (sb2, tb2) <- ts if sa2 < sb2 } require(
      ta2 <= (Long.MaxValue / 2) / math.max(tb2, 1L),
      s"distributionDistance: slice totals $sa2=$ta2 × $sb2=$tb2 exceed the " +
      "long-safe numerator bound (TA*TB > 2^62) — widen the shared-diff sum " +
      "to DECIMAL(38,0) for slices this large")
    val pairs = (for {
      (sa2, ta2) <- ts; (sb2, tb2) <- ts if sa2 < sb2
    } yield (sa2, sb2, ta2, tb2)).toSeq.toDF("slice_a", "slice_b", "ta", "tb")
    pairs.join(shared, Seq("slice_a", "slice_b"), "left")
      .select(col("slice_a"), col("slice_b"), col("ta"), col("tb"),
        ((coalesce(col("shared_diff"), lit(0L))
          + (col("ta") - coalesce(col("sa"), lit(0L))) * col("tb")
          + (col("tb") - coalesce(col("sb"), lit(0L))) * col("ta")).cast("double")
          / (lit(2.0) * col("ta") * col("tb"))).as("tv_distance"))
  }

  /** Corpus vocabulary: top-k most frequent words per group (explode →
    * count → ranked window). Deterministic tiebreak on the word itself. */
  def topWords(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupBy: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = groupBy.map(col)
    val words = df.select(keys :+ explode(split(lower(trim(col(textCol))), "\\s+")).as("word"): _*)
      .filter(length(col("word")) > 0)
      .groupBy(keys :+ col("word"): _*).agg(count(lit(1)).as("n"))
    val w = (if (groupBy.isEmpty) Window.partitionBy() else Window.partitionBy(keys: _*))
      .orderBy(col("n").desc, col("word").asc)
    words.withColumn("word_rank", row_number().over(w)).filter(col("word_rank") <= k)
  }

  /** QUALITY-THRESHOLD RETENTION CURVE — the filter-ablation table behind
    * "pick the threshold that keeps X% of tokens" (the FineWeb/C4 tuning
    * step): for each candidate threshold, how many documents and tokens a
    * `score >= threshold` filter would retain.
    *
    * Single-scan shape: each row is banded to the LARGEST threshold it
    * passes (a plan-time CASE chain — never a |thresholds|× row explode,
    * which would multiply a 100 TB scan), one groupBy over ≤
    * |thresholds|+1 bands, and the cumulative "kept at threshold i =
    * bands i..n" suffix sum runs driver-side over that bounded band table
    * (the [[graft.ml.MLOps.tokenShards]] prefix-sum pattern). Fractions
    * are exact long/long IEEE divisions.
    *
    * Returns one row per threshold (ascending): (threshold, n_docs_kept,
    * n_tokens_kept, doc_frac, token_frac). */
  def retentionCurve(df: org.apache.spark.sql.DataFrame, scoreCol: Column,
      tokenCount: Column, thresholds: Seq[Double]): org.apache.spark.sql.DataFrame =
    retentionCurveBy(df, scoreCol, tokenCount, thresholds, groupCol = None)
      .drop("group")

  /** [[retentionCurve]] PER GROUP (the per-language/per-source threshold
    * tuning loop — thresholds that keep 60% of English may keep 5% of a
    * low-resource language): one banded scan grouped by (group, band),
    * driver-side suffix sums over the bounded group×band table, fractions
    * within each group. `groupCol = None` degenerates to the global curve
    * with a constant "" group. */
  def retentionCurveBy(df: org.apache.spark.sql.DataFrame, scoreCol: Column,
      tokenCount: Column, thresholds: Seq[Double],
      groupCol: Option[String]): org.apache.spark.sql.DataFrame = {
    val ts = thresholds.distinct.sorted
    require(ts.nonEmpty, "at least one threshold")
    val band = ts.zipWithIndex.foldLeft(lit(-1)) { case (acc, (t, i)) =>
      when(scoreCol >= lit(t), lit(i)).otherwise(acc)
    }
    // null groups bucket under a sentinel label (e.g. docs that failed
    // language ID) — a raw null would NPE the driver-side sort below
    val g = coalesce(groupCol.map(col).getOrElse(lit("")).cast("string"),
      lit("__null__"))
    val byBand = df.select(g.as("__g"), band.as("__band"),
        tokenCount.cast("long").as("__t"))
      .groupBy("__g", "__band")
      .agg(count(lit(1)).as("__d"), sum(col("__t")).as("__tk"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3)))).toMap
    val rows = byBand.keys.map(_._1).toSeq.distinct.sorted.flatMap { grp =>
      val bands = (-1 until ts.length)
        .map(i => i -> byBand.getOrElse((grp, i), (0L, 0L))).toMap
      val totalDocs = bands.values.map(_._1).sum
      val totalToks = bands.values.map(_._2).sum
      // suffix sums over the sorted band ids: kept(i) = Σ bands ≥ i
      ts.indices.reverse.scanLeft((ts.length, 0L, 0L)) {
        case ((_, d, tk), i) =>
          val (bd, btk) = bands(i)
          (i, d + bd, tk + btk)
      }.tail.reverse.map { case (i, d, tk) =>
        (grp, ts(i), d, tk,
          if (totalDocs == 0) 0.0 else d.toDouble / totalDocs.toDouble,
          if (totalToks == 0) 0.0 else tk.toDouble / totalToks.toDouble)
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("group", "threshold", "n_docs_kept", "n_tokens_kept",
      "doc_frac", "token_frac")
  }

  /** The GOPHER rule-set filter (Rae et al. 2021, appendix A1.1) as hard
    * per-document rules with an auditable failure bitmask — the published
    * web-scale quality gate, vs [[qualityScore]]'s soft composite. Rules
    * (bit set ⇒ FAILED):
    *   bit 0 — word count outside [minWords, maxWords] (paper: 50–100 000)
    *   bit 1 — mean word length outside [3, 10]
    *   bit 2 — symbol-to-word ratio ('#' chars + '...' occurrences) ≥ 0.1
    *   bit 3 — ≥ 90% of lines start with a bullet ('- ', '* ', '• ')
    *   bit 4 — ≥ 30% of lines end with an ellipsis ('...' or '…')
    *   bit 5 — < 80% of words contain an alphabetic character
    *   bit 6 — fewer than 2 distinct required stopwords present
    * Every metric is counting + ONE IEEE division of exact integers, and
    * the line/word tests are prefix/suffix string tests — no regex class
    * semantics to drift between engines (the only regex is the [a-z]
    * class, identical in Java and RE2). Empty documents fail bits 0/1/5/6
    * (the null mean word length counts as a bit-1 failure too).
    * Pure narrow expressions — codegen'd, no shuffle; filters 100 TB at
    * scan speed. Returns (idCol, n_words, mean_word_len, symbol_ratio,
    * bullet_frac, ellipsis_frac, alpha_frac, n_stop_hits, fail_mask,
    * keep). */
  /** `ruleMask` selects which rules are COMPUTED (bit i → rule i, default
    * all 7): the per-language adaptation the bitmask exists for, done at
    * plan time — a disabled rule's bit term becomes a literal 0, so its
    * metric drops out of `fail_mask` entirely and Catalyst column-pruning
    * removes the metric's scan work wherever the caller doesn't project it
    * (e.g. disabling the English-stopword rule for a multilingual corpus
    * removes 8 array_contains passes per document — post-hoc `fail_mask &
    * 63` masking cannot, because the term stays inside the sum). Metric
    * COLUMNS are always emitted, so the schema is ruleMask-independent;
    * fail_mask(ruleMask=m) ≡ fail_mask(default) & m (spec-gated). */
  def gopherFilter(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      ruleMask: Long = 0x7fL): org.apache.spark.sql.DataFrame = {
    val reqStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // STAGED projections (optimization r15, guide §1.2 step 2 / §7.2): the
    // former single expression tree inlined the tokenization into every
    // metric and every mask bit — the physical Project re-evaluated
    // split(lower(trim(text))) ~40× per row, and the tree was so large it
    // fell OUT of whole-stage codegen into an interpreted projection with
    // no subexpression elimination (plan-verified: Project without a
    // codegen id). Binding the word/line arrays, then the counts, then the
    // metrics as NAMED intermediate columns computes each once per row;
    // Catalyst's CollapseProject deliberately does not inline non-cheap
    // producer expressions referenced more than once, so the staging
    // survives to the physical plan. Output columns and values are
    // IDENTICAL (same per-metric expressions over the same inputs).
    val txt = col("__g_txt")
    val wsC = col("__g_ws")
    val lsC = col("__g_ls")
    val tokenized = df.select(col(idCol), col(textCol).as("__g_txt"))
      .select(col(idCol), txt,
        filter(split(lower(trim(txt)), "\\s+"), w => length(w) > 0).as("__g_ws"),
        filter(transform(split(txt, "\n"), l => trim(l)), l => length(l) > 0).as("__g_ls"))
    // Σ word lengths as an exact long; '#' count via replace-delta, '...'
    // count via replace-delta over the 3-char needle
    val counts = tokenized.select(col(idCol),
      size(wsC).cast("long").as("__g_nw"),
      size(lsC).cast("long").as("__g_nl"),
      aggregate(wsC, lit(0L), (acc, w) => acc + length(w).cast("long")).as("__g_sumlen"),
      (length(txt) - length(regexp_replace(txt, "#", ""))).cast("long").as("__g_hash"),
      ((length(txt) - length(regexp_replace(txt, "\\.\\.\\.", ""))) / 3).cast("long").as("__g_dots"),
      size(filter(lsC, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• "))).cast("long").as("__g_bullet"),
      size(filter(lsC, l =>
        l.endsWith("...") || l.endsWith("…"))).cast("long").as("__g_ellipsis"),
      size(filter(wsC, w => w.rlike("[a-z]"))).cast("long").as("__g_alpha"),
      size(filter(lit(reqStop.toArray), sw => array_contains(wsC, sw))).cast("long").as("__g_stop"))
    val nW = col("__g_nw")
    val nL = col("__g_nl")
    val stopHits = col("__g_stop")
    val metrics = counts.select(col(idCol), nW, stopHits,
      when(nW === 0, lit(null).cast("double"))
        .otherwise(col("__g_sumlen").cast("double") / nW.cast("double")).as("__g_meanlen"),
      when(nW === 0, lit(null).cast("double"))
        .otherwise((col("__g_hash") + col("__g_dots")).cast("double") / nW.cast("double")).as("__g_sym"),
      when(nL === 0, lit(0.0))
        .otherwise(col("__g_bullet").cast("double") / nL.cast("double")).as("__g_bulletf"),
      when(nL === 0, lit(0.0))
        .otherwise(col("__g_ellipsis").cast("double") / nL.cast("double")).as("__g_ellipsisf"),
      when(nW === 0, lit(null).cast("double"))
        .otherwise(col("__g_alpha").cast("double") / nW.cast("double")).as("__g_alphaf"))
    val meanLen = col("__g_meanlen")
    val symRatio = col("__g_sym")
    val bulletFrac = col("__g_bulletf")
    val ellipsisFrac = col("__g_ellipsisf")
    val alphaFrac = col("__g_alphaf")
    def bit(i: Int, failed: => Column): Column =
      if ((ruleMask & (1L << i)) == 0L) lit(0L)
      else when(failed, lit(1L << i)).otherwise(lit(0L))
    val mask =
      bit(0, nW < minWords || nW > maxWords) +
      bit(1, meanLen.isNull || meanLen < 3.0 || meanLen > 10.0) +
      bit(2, symRatio.isNotNull && symRatio >= 0.1) +
      bit(3, bulletFrac >= 0.9) +
      bit(4, ellipsisFrac >= 0.3) +
      bit(5, alphaFrac.isNull || alphaFrac < 0.8) +
      bit(6, stopHits < 2)
    metrics.select(col(idCol), nW.as("n_words"), meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
      stopHits.as("n_stop_hits"), mask.as("fail_mask"),
      (mask === 0L).as("keep"))
  }

  /** CCNET-STYLE LM QUALITY PARTITION (Wenzek et al. 2020 §4.3, the
    * perplexity-tercile filter of the CCNet/LLaMA data pipeline): score
    * each document by how "expected" its tokens are under a unigram
    * frequency model trained on a REFERENCE slice (CCNet trains KenLM on
    * Wikipedia; pass any high-trust slice), then split the corpus into
    * head / middle / tail terciles — head reads like the reference, tail
    * is what CCNet drops or down-samples. Complements the quality family:
    * rule-based ([[gopherFilter]]), trained-linear
    * ([[graft.ml.MLOps.perceptronTrain]]) — this is the LM-based member.
    * Reference-semantics anchor: aligned's per-row quality annotations
    * (`aligned/schemas/transformation.py` scoring transforms); the
    * tercile mechanics are CCNet's, which aligned does not have.
    *
    * Arithmetic is EXACT so the partition hash-matches any engine: the
    * per-token log-probability proxy is the saturating fixed-point
    * magnitude floor(3·log2 m) = length(bin(m³))−1 with
    * m = min(freq+1, 2²⁰) — third-of-a-bit resolution, no libm, and m³
    * stays within a long; past the 2²⁰ cap "very common" has saturated as
    * a quality signal. The doc score is the milli-scaled integer mean
    * (1000·Σb) div count (empty docs score −1), and the tercile cutoffs
    * are score THRESHOLDS — every tied document stays on one side, so the
    * groups are threshold-exact rather than forced equal-size (NTILE
    * would need a global total-order sort and split ties arbitrarily).
    *
    * Plan shape at 100 TB: the reference vocabulary is Zipf-bounded → the
    * token join is broadcast-or-shuffle-hash on the word; ONE corpus
    * explode feeds one partial-aggregated per-doc group-by; the cutoffs
    * come from the integer score histogram — a driver pull bounded by the
    * score RANGE (≤ 60·1000+2 buckets) regardless of corpus size (the
    * q153 threshold-DSIR idiom) — and the final assignment is a literal
    * threshold CASE. No global sort anywhere. */
  def lmQualityPartition(reference: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    def toks(c: Column) = filter(split(lower(trim(c)), "\\s+"), w => length(w) > 0)
    // the bounded vocab table is localCheckpointed (optimization r15): the
    // emptiness guard below and the per-doc join both consume it — unshared,
    // the reference explode+aggregate ran once for the guard's probe and
    // again inside every execution of the scored plan
    val freq = reference.select(explode(toks(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    // loud-misconfiguration guard: a reference that produces ZERO tokens
    // (empty slice, or rows whose text is all whitespace) would zero every
    // bucket, collapse all scores to one value, and make the partition a
    // silent no-op — fail instead. Row-level probes can't catch the
    // all-whitespace case; the token-level one does
    require(!freq.isEmpty, "lmQualityPartition: the reference slice " +
      "produced no tokens — the unigram model would zero every bucket and " +
      "the head/middle/tail partition would be a silent no-op; check the " +
      "reference filter")
    val m = least(coalesce(col("__n"), lit(0L)) + lit(1L), lit(1048576L))
    val bucket = length(bin(m * m * m)) - lit(1)
    val perDoc = corpus.select(col(idCol), explode(toks(col(textCol))).as("w"))
      .join(freq, Seq("w"), "left")
      .groupBy(idCol)
      .agg(sum(bucket).as("__sumb"), count(lit(1)).as("__cnt"))
    // checkpoint the O(docs) score list: tercileCut's histogram collect AND
    // the caller's consumption of the returned frame each re-ran the whole
    // corpus explode+join+aggregate chain otherwise
    val scored = corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(expr("(1000 * __sumb) div __cnt"), lit(-1L)).as("lm_milli"))
      .localCheckpoint(true)
    tercileCut(scored, "lm_milli")
  }

  /** Head/middle/tail cut of an integer score column by ceil-tercile
    * thresholds from the BOUNDED score histogram: O(score range) driver
    * rows, never a global sort — head = score ≥ s1 where s1 is the lowest
    * score whose descending-cumulative count reaches ceil(n/3), middle
    * likewise at ceil(2n/3); ties extend a tercile rather than split it.
    * Shared by the unigram ([[lmQualityPartition]]) and bigram
    * ([[lmQualityPartitionBigram]]) CCNet partitions. */
  private def tercileCut(scored: org.apache.spark.sql.DataFrame,
      scoreCol: String): org.apache.spark.sql.DataFrame = {
    val hist = scored.groupBy(scoreCol).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val n = hist.map(_._2).sum
    val k1 = (n + 2) / 3      // ceil(n/3): min head size before ties extend it
    val k2 = (2 * n + 2) / 3  // ceil(2n/3): head+middle floor
    var cum = 0L
    var s1 = Long.MinValue
    var s2 = Long.MinValue
    hist.foreach { case (s, c) =>
      cum += c
      if (s1 == Long.MinValue && cum >= k1) s1 = s
      if (s2 == Long.MinValue && cum >= k2) s2 = s
    }
    scored.withColumn("part",
      when(col(scoreCol) >= lit(s1), "head")
        .when(col(scoreCol) >= lit(s2), "middle")
        .otherwise(lit("tail")))
  }

  /** INTERPOLATED BIGRAM LM quality terciles — [[lmQualityPartition]]'s
    * CCNet partition upgraded from a unigram to a bigram model (Wenzek et
    * al. 2020 use a 5-gram KenLM; the bigram is the first rung of that
    * ladder that actually scores word-order evidence). Each bigram
    * TRANSITION in a document scores the saturating fixed-point magnitude
    * floor(log2(mB² · mU)) where mB = min(n_bigram+1, 2^20) from the
    * reference-slice bigram table and mU = min(n_unigram+1, 2^20) for the
    * transition's target word — geometric interpolation in log space: ⅔
    * weight on the conditional evidence, ⅓ on the unigram backoff, so an
    * unseen bigram over a common word degrades gracefully instead of
    * zeroing the doc. Both factors capped at 2^20 keeps the product
    * < 2^60 — exact in a long, restatable in any engine (the q169
    * arithmetic, one power higher). Doc score = milli-mean over its
    * transitions (integer div); docs with < 2 tokens have no transitions
    * and score -1 (q169's no-token convention). Terciles via
    * [[tercileCut]] — no global sort.
    *
    * Plan shape: TWO bounded vocab tables from one reference scan family
    * (bigram counts + unigram counts), corpus explodes its bigrams ONCE;
    * the unigram join keys on the transition's target word extracted from
    * the gram string — no second corpus explode. Reference tables join by
    * 8-to-few-byte string keys with map-side partials; at 100 TB the
    * reference slice is the small side and both freq joins broadcast.
    *
    * Returns (idCol, lm2_milli, part). */
  def lmQualityPartitionBigram(reference: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    // checkpointed for the same reason as the unigram partition's vocab
    // table: the guard probe and the scored plan otherwise each re-run the
    // reference bigram aggregate
    val freqB = reference.select(
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("__nb"))
      .localCheckpoint(true)
    val freqU = reference.select(
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__nu"))
    // same loud-misconfiguration guard as the unigram partition: a
    // reference with no bigram (every doc < 2 tokens) would flatten every
    // transition's conditional term and the partition silently degrades
    // to backoff-only — fail instead
    require(!freqB.isEmpty, "lmQualityPartitionBigram: the reference slice " +
      "produced no bigrams (every document has < 2 tokens) — the " +
      "conditional term would be constant; check the reference filter")
    val mB = least(coalesce(col("__nb"), lit(0L)) + lit(1L), lit(1048576L))
    val mU = least(coalesce(col("__nu"), lit(0L)) + lit(1L), lit(1048576L))
    val bucket = length(bin(mB * mB * mU)) - lit(1)
    val perDoc = corpus.select(col(idCol),
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("g"))
      .withColumn("w", element_at(split(col("g"), " "), 2))
      .join(freqB, Seq("g"), "left")
      .join(freqU, Seq("w"), "left")
      .groupBy(idCol)
      .agg(sum(bucket).as("__sumb"), count(lit(1)).as("__cnt"))
    // same one-execution discipline as the unigram partition
    val scored = corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(expr("(1000 * __sumb) div __cnt"), lit(-1L)).as("lm2_milli"))
      .localCheckpoint(true)
    tercileCut(scored, "lm2_milli")
  }

  /** BM25 TOP-K full-text retrieval for a literal query-term list — the
    * lexical half of hybrid retrieval (Robertson & Walker's Okapi BM25;
    * the reference has only vector search, `sources/lancedb.py:318-360`,
    * so this is the engine's own lexical complement).
    *
    * The idf factor is the Robertson RATIO (N − df + ½)/(df + ½), not its
    * log: libm log differs across engines in the last ulp (an oracle-hash
    * hazard, same reasoning as [[distinctiveTerms]]) while the ratio is a
    * single IEEE division on exactly-representable x.5 halves — bit-exact
    * everywhere. Per-term ORDERING is identical (ln is monotone); per-doc
    * sums weight high-idf terms more than textbook BM25, documented as
    * this engine's variant. With k1 = 1.2, b = 0.75 the saturation term
    * clears to the all-integer form
    *   tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl)
    *     = (22·tf·T) / (10·tf·T + 3·T + 9·dl·N)      (avgdl = T/N)
    * so every input to the two divisions is an integer ≤ 2^53 (exact in a
    * double at any realistic corpus size: 22·tf·T needs tf·T < 4·10^14),
    * and the per-doc total is a FIXED-ORDER chain over the literal term
    * list, never a `sum()` — float addition is not associative, so an
    * unordered aggregate over doubles is ordering-dependent across
    * engines; the fold is written left-to-right in term order on both
    * sides.
    *
    * Plan shape: one corpus explode filtered TO THE QUERY TERMS before any
    * shuffle (the posting lists of |terms| words, not the corpus), df from
    * the tf frame (no second pass), dl via [[tokenCountWs]] on an
    * unexploded scan, N and T one bounded O(1) driver pull. The ranking
    * window is global but over only the docs containing ≥ 1 query term —
    * the posting union, the same bound an inverted index pays. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, terms: Seq[String], topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "bm25TopK: empty query-term list")
    require(terms.map(_.toLowerCase).distinct.size == terms.size,
      s"bm25TopK: duplicate query terms in $terms — each term must appear " +
        "once or its score double-counts")
    val stats = df.agg(count(lit(1)), sum(tokenCountWs(col(textCol)).cast("long"))).head()
    val n = stats.getLong(0)
    val tot = stats.getLong(1)
    require(tot > 0, "bm25TopK: corpus has zero tokens")
    val words = df.select(col(idCol),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"),
          w => length(w) > 0)).as("term"))
      .filter(col("term").isin(terms.map(_.toLowerCase): _*))
    val tf = words.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = df.select(col(idCol), tokenCountWs(col(textCol)).cast("long").as("dl"))
    val nD = lit(n.toDouble)
    val totD = lit(tot.toDouble)
    val idf = ((lit(2.0) * nD - lit(2.0) * col("df")) + lit(1.0)) /
      (lit(2.0) * col("df") + lit(1.0))
    val num = (lit(22.0) * col("tf")) * totD
    val den = ((lit(10.0) * col("tf")) * totD + lit(3.0) * totD) +
      (lit(9.0) * col("dl")) * nD
    val scored = tf.join(dfreq, "term").join(dl, idCol)
      .withColumn("__s", idf * (num / den))
    val qTerms = terms.map(_.toLowerCase)
    val pivoted = scored.groupBy(col(idCol)).agg(
      max(when(col("term") === qTerms.head, col("__s"))).as("__s0"),
      qTerms.tail.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("__s"))).as(s"__s${i + 1}") }: _*)
    val bm25 = qTerms.indices.map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.orderBy(col("bm25").desc, col(idCol).asc)
    pivoted.withColumn("bm25", bm25)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("bm25"), col("rank"))
  }

  /** KNESER-NEY RARE-BIGRAM quality gate: score every document by the
    * fraction of its bigrams whose interpolated Kneser-Ney probability
    * under a reference slice falls below `rareMilli`/1000 — the smoothed
    * upgrade of [[lmQualityPartitionBigram]]'s MLE buckets (Kneser & Ney
    * 1995; the CCNet filtering shape, reference has no LM ops at all).
    *
    * With discount d = ¾, p_kn(w₂|w₁) = (max(c₁₂−¾, 0) + ¾·n₁₊(w₁•)·
    * p_cont(w₂)) / c₁ and p_cont(w₂) = n₁₊(•w₂)/D (D = distinct bigram
    * types) clears to the all-integer rational
    *   p = (max(4c₁₂−3, 0)·D + 3·n₁₊(w₁•)·n₁₊(•w₂)) / (4·c₁·D)
    * and the rare test p < m/1000 becomes the INTEGER comparison
    * 1000·num < m·den — no float ever enters the gate, so the oracle
    * matches bit-for-bit by construction. Both sides are computed in
    * DECIMAL(38,0) (DuckDB: HUGEINT) unconditionally — the TV-distance
    * lesson: at corpus scale c₁₂·D passes 2^63 and non-ANSI long
    * arithmetic would wrap silently. OOV prefix (c₁ = 0) backs off to the
    * continuation distribution p = n₁₊(•w₂)/D; an unseen w₂ there scores
    * p = 0 → rare, the right call for out-of-domain text.
    *
    * Plan shape: the reference slice explodes once into the bigram-type
    * table; c₁/n₁₊(w₁•)/n₁₊(•w₂) are second aggregations OF that table
    * (no second reference pass); D is one bounded driver pull. The corpus
    * explodes its bigrams once and takes three small-side joins — at
    * 100 TB the reference tables are the broadcast side.
    *
    * Returns (idCol, n_bigrams, n_rare, rare_frac); rare_frac = −1 marks
    * docs with no bigram (< 2 tokens), mirroring lm2_milli's convention. */
  def knRareBigrams(reference: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      rareMilli: Int = 1): org.apache.spark.sql.DataFrame = {
    require(rareMilli >= 1 && rareMilli <= 999,
      s"rareMilli=$rareMilli out of [1,999]")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val gtab = reference.select(
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("__c12"))
      .withColumn("__w1", substring_index(col("g"), " ", 1))
      .withColumn("__w2", element_at(split(col("g"), " "), 2))
    val w1tab = gtab.groupBy(col("__w1"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1p"))
    val w2tab = gtab.groupBy(col("__w2")).agg(count(lit(1)).as("__cont"))
    val dTypes = gtab.count()
    require(dTypes > 0, "knRareBigrams: the reference slice produced no " +
      "bigrams (every document has < 2 tokens) — every probability would " +
      "be the backoff constant; check the reference filter")
    val dLit = lit(dTypes).cast(d38)
    val grams = corpus.select(col(idCol),
        explode(graft.functions.Native.wordShingleStrings(col(textCol), 2)).as("g"))
      .withColumn("__w1", substring_index(col("g"), " ", 1))
      .withColumn("__w2", element_at(split(col("g"), " "), 2))
      .join(gtab.select("g", "__c12"), Seq("g"), "left")
      .join(w1tab, Seq("__w1"), "left")
      .join(w2tab, Seq("__w2"), "left")
    val contD = coalesce(col("__cont"), lit(0L)).cast(d38)
    val num = when(col("__c1").isNotNull,
      greatest(lit(4L) * coalesce(col("__c12"), lit(0L)) - lit(3L), lit(0L))
        .cast(d38) * dLit + lit(3L).cast(d38) * coalesce(col("__n1p"), lit(0L))
        .cast(d38) * contD).otherwise(contD)
    val den = when(col("__c1").isNotNull,
      (lit(4L) * col("__c1")).cast(d38) * dLit).otherwise(dLit)
    val rare = (lit(1000L).cast(d38) * num) < (lit(rareMilli.toLong).cast(d38) * den)
    val perDoc = grams
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(rare.cast("long")).as("n_rare"))
    corpus.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_bigrams").isNull, lit(-1.0))
          .otherwise(col("n_rare").cast("double") / col("n_bigrams").cast("double"))
          .as("rare_frac"))
  }

  /** OVERLAPPING-WINDOW DOCUMENT CHUNKING — the RAG-index / long-doc
    * training complement of [[packSequences]] (which concatenates ACROSS
    * documents; this splits WITHIN one): each document becomes
    * ceil-covering windows of `chunkTokens` whitespace tokens advancing by
    * `chunkTokens − overlapTokens`, so consecutive chunks share
    * `overlapTokens` tokens of context and every token is covered. The
    * reference has no chunking op (its embed path takes whole rows,
    * schemas/text_vectoriser.py) — this is the engine's own member of the
    * "beyond the reference" pipeline family, next to packSequences.
    *
    * Chunk-count arithmetic is ALL-INTEGER on both engines: k_last =
    * (n − chunk + step − 1) div step (0 when n ≤ chunk), chunk c covers
    * tokens [c·step, min(c·step + chunk, n)). The last chunk is the only
    * short one, and a chunk never starts at/after n — no phantom trailing
    * fragment, no float ceil to disagree on. chunk_text re-joins tokens
    * with single spaces (whitespace runs NORMALIZE — documented; offsets
    * are token-space, not char-space, for exactly this reason).
    *
    * Plan shape: one narrow projection + one bounded explode of
    * O(n/step) rows per doc — no shuffle, no window, no state; at 100 TB
    * this is embarrassingly parallel and composes with the downstream
    * embed/index stages' own partitioning. Docs with zero tokens emit no
    * chunk (an empty doc has nothing to index; count them upstream with
    * [[tokenCountWs]] = 0 if the pipeline needs the audit row). */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, chunkTokens: Int, overlapTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens=$chunkTokens must be >= 1")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens=$overlapTokens must be in [0, chunkTokens) — step" +
        " would be <= 0 and the chunk walk would never advance")
    val step = chunkTokens - overlapTokens
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    df.select(col(idCol), toks.as("__w"), size(toks).cast("long").as("__n"))
      .filter(col("__n") > 0L)
      .withColumn("__k",
        when(col("__n") <= chunkTokens, lit(0L))
          .otherwise(expr(s"(__n - $chunkTokens + ${step - 1}) div $step")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("__k"))))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * step).as("start_token"),
        size(slice(col("__w"), (col("chunk_id") * step + 1L).cast("int"),
          lit(chunkTokens))).cast("long").as("n_tokens"),
        array_join(slice(col("__w"), (col("chunk_id") * step + 1L).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Per-type PII detection patterns, shared by [[redactPii]] and its
    * oracle restatement. Deliberately restricted to the regex dialect
    * intersection of java.util.regex and RE2 (character classes, ASCII
    * `\d`/`\b`, bounded repetition — no lookaround, no backreferences) so
    * the SAME literal pattern string runs on both engines. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("phone", "\\+\\d{7,15}", "[PHONE]"))

  /** PII DETECTION + REDACTION — the AUDITABLE form of the scrub stage:
    * where [[scrubPii]] is the quick one-column cleaner (URL/email/digit
    * run → placeholder, no accounting), this is the DataFrame operator a
    * release pipeline runs when it must REPORT what it removed
    * (RefinedWeb and the CCNet lineage publish exactly these per-type
    * redaction counts) — per-document email/IPv4/intl-phone counts
    * alongside the redacted text. The reference has no PII op (its
    * transformation IR stops at generic regex replace,
    * schemas/transformation.py ReplaceStrings) — this extends the
    * beyond-the-reference pipeline family.
    *
    * Semantics are STAGE-SEQUENTIAL and therefore unambiguous across
    * engines: for each pattern in [[PiiPatterns]] order (email → IPv4 →
    * intl phone), count matches on the text AS ALREADY REDACTED by the
    * previous stages, then replace all matches with the type's placeholder
    * token. Counting between stages (not on the raw text) makes the three
    * counts disjoint by construction — an IPv4-shaped substring inside an
    * email is counted as part of the email it was redacted with, never
    * twice — and makes the count column exactly "number of placeholders
    * this stage inserted".
    *
    * Plan shape: one narrow projection, three codegen'd regexp kernels in
    * a single whole-stage span — no shuffle, no UDF, embarrassingly
    * parallel at 100 TB. Returns (idCol, n_emails, n_ips, n_phones,
    * redacted). */
  def redactPii(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val staged = PiiPatterns.foldLeft(
        (df.select(col(idCol), col(textCol).as("__t")), Seq.empty[Column])) {
      case ((d, counts), (kind, pat, token)) =>
        val counted = d.withColumn(s"n_${kind}s",
            regexp_count(col("__t"), lit(pat)).cast("long"))
          .withColumn("__t", regexp_replace(col("__t"), pat, token))
        (counted, counts :+ col(s"n_${kind}s"))
    }
    staged._1.select(col(idCol) +: staged._2 :+ col("__t").as("redacted"): _*)
  }

  /** CORPUS-MIXTURE CONCENTRATION per slice — the Herfindahl-Hirschman
    * index of `keyCol` shares within each `groupCol` (hhi = Σ pᵢ², the
    * entropy-free diversity measure: logs are libm-dependent, squared
    * shares hash identically everywhere) plus its reciprocal, the
    * EFFECTIVE key count ("this language draws from effectively 3.2
    * sources, though 20 appear"). The monitor a mixture pipeline runs per
    * ingest batch to catch one crawl silently taking over a slice.
    *
    * Exactness: hhi = Σnᵢ² / N² with the numerator summed in
    * DECIMAL(38,0) (nᵢ² passes 2^63 long at 100 TB counts) and each
    * output ONE float division of exact integers. N ≥ 1 whenever the
    * group exists — no zero-denominator case. Plan: two partial-aggregated
    * groupBys, shuffles O(groups × keys) then O(groups) rows. */
  def keyConcentration(df: org.apache.spark.sql.DataFrame, groupCol: String,
      keyCol: String): org.apache.spark.sql.DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    df.groupBy(col(groupCol), col(keyCol)).agg(count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_keys"), sum(col("__n")).as("n_rows"),
        sum((col("__n").cast(d19) * col("__n").cast(d19)).cast(d38)).as("__ss"))
      .select(col(groupCol), col("n_keys"), col("n_rows"),
        (col("__ss").cast("double")
          / (col("n_rows").cast(d19) * col("n_rows").cast(d19)).cast("double"))
          .as("hhi"),
        ((col("n_rows").cast(d19) * col("n_rows").cast(d19)).cast("double")
          / col("__ss").cast("double")).as("effective_keys"))
  }

  /** ZIPF SLOPE per group: OLS fit of log2(freq) against log2(rank) over
    * each group's `topN` most frequent words — the power-law exponent of
    * the vocabulary (natural text sits near −1; templated/boilerplate
    * corpora flatten toward 0, spam with one repeated token steepens).
    * Complements [[vocabGrowth]] (Heaps' law, growth axis) and
    * [[heavyHitters]] (the head itself) with the head's SHAPE. Corpus
    * profiling beyond the reference's per-row transforms
    * (aligned/schemas/transformation.py has no corpus-statistics layer).
    *
    * Engine-exact: log2 via [[graft.functions.Portable.log2Micro]]
    * (polynomial fixed point, no libm) so all five OLS sums are exact
    * integer sums; slope and r² are fixed double expressions over those
    * integers. Overflow-proof by the topN ≤ 128 cap: with x ≤ 7e6 micros
    * (log2 128) and y ≤ 63e6 (any long frequency), every LONG cross-term
    * (n·Σxy ≤ 7.2e18, Σx·Σy ≤ 7.3e18) stays under 2⁶³; the one product
    * that would not (n·Σy² at ~6.5e19) is r²'s y-variance, computed in
    * double — r² is a fit diagnostic, slope stays integer-exact.
    *
    * Plan shape at 100 TB: one corpus explode → partial-aggregated
    * (group, word) counts (vocab-bounded); the rank window runs per group
    * over the VOCABULARY rows, not the corpus; everything after is
    * O(groups · topN). */
  def zipfSlope(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String, topN: Int = 64): org.apache.spark.sql.DataFrame = {
    require(topN >= 2 && topN <= 128, s"zipfSlope: topN=$topN outside [2, 128]" +
      " — above 128 the exact-long OLS cross-terms can overflow")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0)
    val freq = df.select(col(groupCol).as("grp"), explode(toks).as("w"))
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("f").desc, col("w"))))
      .filter(col("r") <= topN)
    val xy = ranked.select(col("grp"),
      graft.functions.Portable.log2Micro(col("r").cast("long")).as("x"),
      graft.functions.Portable.log2Micro(col("f")).as("y"))
    xy.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") >= 2)
      .select(col("grp"), col("n").as("n_terms"),
        // exact-integer numerators/denominators, ONE double division each;
        // r² squares in double (the exact-long square can overflow)
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("zipf_slope"),
        (((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
          / ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("r2"))
  }

  /** MUTUAL INFORMATION between two categorical columns (and both marginal
    * entropies) — "how much does knowing the source tell you about the
    * language": the dependence monitor for mixture design (MI ≈ 0 → the
    * columns stratify independently; MI ≈ min(H) → one determines the
    * other, so balancing on one silently balances the other). Same
    * portable fixed-point log2 as [[unigramEntropy]]:
    *
    *   MI = Σ_{a,b} (c_ab/T)·(log2 c_ab + log2 T − log2 c_a − log2 c_b)
    *
    * with every log a separate floor-to-micro integer — both engines
    * restate the identical four-term decomposition. ONE global aggregate
    * computes MI and both entropies: Σ_ab c_ab·log2(c_a) = Σ_a c_a·log2(c_a),
    * so the marginal-entropy sums ride the joint rows — no 1-row frames
    * to join (a constant-key totals join folds to a nested loop — the
    * q180 trap). Plan: one (a, b) histogram shuffle, marginals
    * re-aggregated from it (O(cells)), two joins back onto the cells, one
    * partial-aggregated global fold. Returns ONE row
    * (n_rows, mi_bits, h_a_bits, h_b_bits). */
  def mutualInformation(df: org.apache.spark.sql.DataFrame, aCol: String,
      bCol: String): org.apache.spark.sql.DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def lm(c: Column) = graft.functions.Portable.log2Micro(c)
    val joint = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ma = joint.groupBy("__a").agg(sum(col("__c")).as("__ca"))
    val mb = joint.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    val cells = joint.join(ma, "__a").join(mb, "__b")
    val c19 = col("__c").cast(d19)
    val g = cells.agg(sum(col("__c")).as("n_rows"),
      sum((c19 * (lm(col("__c")) - lm(col("__ca")) - lm(col("__cb"))).cast(d19))
        .cast(d38)).as("__skl"),
      sum((c19 * lm(col("__ca")).cast(d19)).cast(d38)).as("__sa"),
      sum((c19 * lm(col("__cb")).cast(d19)).cast(d38)).as("__sb"))
    val t19 = col("n_rows").cast(d19)
    val lt19 = lm(col("n_rows")).cast(d19)
    val denom = col("n_rows").cast("double") * lit(1e6)
    g.select(col("n_rows"),
      ((col("__skl") + (t19 * lt19).cast(d38)).cast("double") / denom)
        .as("mi_bits"),
      (((t19 * lt19).cast(d38) - col("__sa")).cast("double") / denom)
        .as("h_a_bits"),
      (((t19 * lt19).cast(d38) - col("__sb")).cast("double") / denom)
        .as("h_b_bits"))
  }

  /** UNIGRAM ENTROPY and KL-TO-CORPUS per slice — the information-theoretic
    * pair to [[distributionDistance]]'s TV and the HHI's "effective
    * count": H(slice) says how concentrated a slice's own vocabulary use
    * is (low = templated/boilerplate); KL(slice ‖ corpus) says how far the
    * slice's word-usage rates sit from the pooled mixture (the DoReMi
    * domain-divergence signal proper, where q160's TV is its bounded
    * cousin). Elsewhere this family deliberately stayed "entropy-free"
    * because libm logs are not engine-portable — here both statistics go
    * through [[graft.functions.Portable.log2Micro]] (integer fixed-point
    * log2), so they hash-match across engines:
    *
    *   H = log2(N) − (Σ_w c·log2(c)) / N
    *   KL = (Σ_w c·(log2(c) − log2(C_w))) / N + log2(T) − log2(N)
    *
    * with c the (slice, word) count, N the slice total, C_w the corpus
    * word count and T the corpus total — every sum an exact
    * DECIMAL(38,0) of micro-log2 longs (c·log2Micro(c) passes 2⁶³ at
    * ~2³¹ tokens per slice), and the float tail per slice two casts, one
    * division and one subtraction — fixed-shape IEEE trees.
    *
    * Plan shape: one corpus scan → (slice, word) partial-aggregated
    * counts; corpus word counts re-aggregate that histogram (O(vocab),
    * never a second scan) and join back on the word — the one wide
    * exchange, same as q160; slice totals and the grand total ride
    * windows over the BOUNDED slice frame (O(slices) rows). Returns
    * (slice, n_tokens, vocab, entropy_bits, kl_bits). */
  def unigramEntropy(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val hist = df.select(col(sliceCol).as("slice"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("slice", "w").agg(count(lit(1)).as("c"))
    val corpus = hist.groupBy("w").agg(sum(col("c")).as("cw"))
    val lc = graft.functions.Portable.log2Micro(col("c"))
    val lcw = graft.functions.Portable.log2Micro(col("cw"))
    val perSlice = hist.join(corpus, Seq("w"))
      .groupBy("slice")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum((col("c").cast(d19) * lc.cast(d19)).cast(d38)).as("__sent"),
        sum((col("c").cast(d19) * (lc - lcw).cast(d19)).cast(d38)).as("__skl"))
    val t = sum(col("n_tokens")).over(Window.partitionBy())
    val lN = graft.functions.Portable.log2Micro(col("n_tokens"))
    perSlice
      .withColumn("__lt", graft.functions.Portable.log2Micro(t))
      .select(col("slice"), col("n_tokens"), col("vocab"),
        ((lN.cast("double")
          - col("__sent").cast("double") / col("n_tokens").cast("double"))
          / lit(1e6)).as("entropy_bits"),
        ((col("__skl").cast("double") / col("n_tokens").cast("double")
          + (col("__lt") - lN).cast("double"))
          / lit(1e6)).as("kl_bits"))
  }
}
