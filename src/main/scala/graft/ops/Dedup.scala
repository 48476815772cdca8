package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines. All
  * variants are pure DataFrame plans: hash-based exact dedup, MinHash+LSH,
  * SimHash, n-gram Jaccard verification, and embedding-cosine near-dup.
  *
  * Scale design: every algorithm reduces to groupBy/join on a *bucket* key
  * (band hash, simhash band, LSH bucket), so candidate generation is a single
  * shuffle on bucket ids and never a cross join; pair verification only runs
  * within buckets. That is the standard web-scale dedup shape (one shuffle
  * per band, candidate set ≪ n²).
  */
object Dedup {

  /** Exact dedup on a normalized text hash. Returns the input with
    * `is_duplicate` (true for every row after the first in its group) and the
    * canonical (minimum) id per group. groupBy on a 64-bit hash — one
    * shuffle, no skew beyond true duplicate groups. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = xxhash64(col(textCol))
    val w = Window.partitionBy(h).orderBy(col(idCol))
    df.withColumn("dup_rank", row_number().over(w))
      .withColumn("canonical_id", first(col(idCol)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("is_duplicate", col("dup_rank") > 1)
      .drop("dup_rank")
  }

  /** Normalize + shingle a text column into k-gram (word) shingles. */
  def shingles(textCol: Column, k: Int = 3): Column = {
    // empty segments filtered: SQL trim strips only spaces, so boundary
    // tabs/newlines would otherwise mint "" words and shingles like " foo"
    // — diverging from the native kernels, which Java-trim ALL whitespace
    // before splitting (Native.scala WordShingleHashes)
    val words = filter(split(lower(trim(textCol)), "\\s+"), w => length(w) > 0)
    // sliding word k-grams via transform over indices
    val n = size(words)
    filter(
      transform(sequence(lit(0), greatest(n - k, lit(0))),
        i => when(n >= k, concat_ws(" ", slice(words, i + 1, lit(k))))),
      x => x.isNotNull)
  }

  /** Fast minhash signature: ONE xxhash64 per shingle (string→long), then
    * `numHashes` universal hashes derived in a native single-pass kernel
    * (graft.functions.MinHashSig) — replaces numHashes interpreted
    * array traversals per row. */
  def minhashSignatureFast(shingleHashes: Column, numHashes: Int = 32): Column =
    graft.functions.Native.minhashSig(shingleHashes, numHashes)

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `rowsPerBand` hashes; docs sharing any band bucket are candidate pairs.
    * Returns candidate pairs (id_a < id_b) with their band-collision count.
    * Plan shape: explode to (bandId, bandHash) → groupBy bucket (one shuffle)
    * → self-join within buckets only. */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8, k: Int = 3): DataFrame = {
    // same contract its portable siblings enforce: bands > numHashes would
    // make rowsPerBand 0 — every band bucket hashes an EMPTY slice, every
    // doc shares it, and the bucket self-join degenerates to all-pairs
    // O(n²); a non-dividing bands would silently ignore trailing hashes
    require(numHashes % bands == 0 && bands >= 1,
      s"bands=$bands must divide numHashes=$numHashes")
    val rowsPerBand = numHashes / bands
    // two projections: shingle hashes once per doc, then the signature from
    // the materialized array via the native kernel (never collapsed — the
    // alias is non-cheap and reused)
    val sig = df.select(col(idCol).as("id"), hashedShingles(col(textCol), k).as("__sh"))
      .select(col("id"), minhashSignatureFast(col("__sh"), numHashes).as("sig"))
    val banded = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_bands"))
  }

  /** SimHash: 64-bit signature where bit i is the sign of the weighted sum of
    * shingle-hash bit i. Near-dups = signatures within a small Hamming
    * distance; bucketing on bit-bands makes candidate generation linear.
    * Inline-column form for single-use contexts; for DataFrame pipelines use
    * [[withSimhash]], which materializes the hash array once per row. */
  def simhash(textCol: Column, k: Int = 2): Column =
    // SAME kernel hash family as withSimhash — the inline form must be
    // interchangeable with the df-level form (they once used different
    // shingle hashes: xxhash64-over-string here vs mix64 in the kernel,
    // so mixed pipelines silently never matched; TokenizationAlignmentSpec
    // pins the equality now)
    graft.functions.Native.simhash64(hashedShingles(textCol, k))

  /** df-level simhash: shingle-hash array in its own projection, then the 64
    * bit-votes over the materialized attribute — O(len·64) per row instead of
    * O(len·64) *shingle recomputations* (higher-order fns are interpreted; no
    * subexpression elimination). */
  def withSimhash(df: DataFrame, textCol: String, out: String, k: Int = 2): DataFrame =
    df.withColumn("__graft_hashes", hashedShingles(col(textCol), k))
      .withColumn(out, graft.functions.Native.simhash64(col("__graft_hashes")))
      .drop("__graft_hashes")

  /** All-pairs n-gram Jaccard ≥ threshold within optional blocking keys, via
    * an INVERTED INDEX: explode (doc, shingle-hash), self-join on the shingle,
    * count matches per pair = |A∩B|, then jaccard = inter/(|A|+|B|-inter).
    * No shingle arrays cross the shuffle and pairs with empty intersection
    * are never materialized — the scalable alternative to a pairwise join
    * (pairs with jaccard > 0 ≪ n² on real corpora). */
  def jaccardPairsInverted(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, blockBy: Seq[String] = Nil, k: Int = 3): DataFrame = {
    val keys = blockBy.map(col)
    val sets = df.select(keys :+ col(idCol).as("id") :+
      hashedShingleSet(col(textCol), k).as("s"): _*)
      .withColumn("sz", size(col("s")))
    val inv = sets.select(keys ++ Seq(col("id"), col("sz"), explode(col("s")).as("h")): _*)
    val a = inv.select(keys ++ Seq(col("id").as("id_a"), col("sz").as("za"), col("h")): _*)
    val b = inv.select(keys ++ Seq(col("id").as("id_b"), col("sz").as("zb"), col("h")): _*)
    a.join(b, blockBy :+ "h").filter(col("id_a") < col("id_b"))
      .groupBy((keys :+ col("id_a") :+ col("id_b") :+ col("za") :+ col("zb")): _*)
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("za") + col("zb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(keys :+ col("id_a") :+ col("id_b") :+ col("jaccard"): _*)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Shared band-pigeonhole pipeline over a signature frame (`__id`,
    * `__sig` + optional blocking keys): explode (band, bits) buckets per
    * `bandBounds` (bit offset, width), equi-join within buckets, verify
    * with bit_count, dedup (a close pair can share several bands). Used by
    * both the 64-bit and the portable simhash near-dup. */
  private def simhashBandPairs(sig: DataFrame, blockBy: Seq[String],
      bandBounds: Seq[(Int, Int)], maxHamming: Int): DataFrame = {
    val keys = blockBy.map(col)
    val bandCols = bandBounds.zipWithIndex.map { case ((lo, width), bIdx) =>
      val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1L)
      struct(lit(bIdx).as("band"), shiftright(col("__sig"), lo).bitwiseAND(mask).as("bits"))
    }
    val banded = sig.withColumn("__b", explode(array(bandCols: _*)))
    val a = banded.select(keys ++ Seq(col("__id").as("id_a"), col("__sig").as("sig_a"), col("__b")): _*)
    val b = banded.select(keys ++ Seq(col("__id").as("id_b"), col("__sig").as("sig_b"), col("__b")): _*)
    a.join(b, blockBy :+ "__b").filter(col("id_a") < col("id_b"))
      .select(keys ++ Seq(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming")): _*)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-duplicates at scale via band pigeonholing — EXACT recall:
    * split the 64-bit signature into `maxHamming + 1` bit-bands; a pair
    * within Hamming distance maxHamming differs in at most maxHamming bands,
    * so it matches EXACTLY on at least one — candidates come from equi-join
    * buckets on (band index, band bits) and are verified with bit_count.
    * Linear bucket join; pays off when maxHamming is small (wide bands →
    * sparse buckets). The all-pairs form (q25) is only for small blocks. */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, k: Int = 2, blockBy: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "0 <= maxHamming < 64")
    val bands = maxHamming + 1
    val base = 64 / bands
    val keys = blockBy.map(col)
    val sig = withSimhash(
      df.select(keys :+ col(idCol).as("__id") :+ col(textCol): _*), textCol, "__sig", k)
      .select(keys :+ col("__id") :+ col("__sig"): _*)
    val bounds = (0 until bands).map { b =>
      val lo = b * base
      (lo, if (b == bands - 1) 64 - lo else base)
    }
    simhashBandPairs(sig, blockBy, bounds, maxHamming)
  }

  /** distinct shingles hashed to a SORTED long array: the representation the
    * native merge-scan Jaccard kernel and inverted-index joins consume.
    * Jaccard over collision-free 64-bit hashes equals Jaccard over the string
    * sets. Native one-pass kernel (graft.functions.WordShingleHashes). */
  def hashedShingleSet(text: Column, k: Int = 3): Column =
    graft.functions.Native.wordShingleHashes(text, k, distinctSorted = true)

  /** all shingle hashes (multiset, document order) — native kernel. */
  def hashedShingles(text: Column, k: Int = 3): Column =
    graft.functions.Native.wordShingleHashes(text, k, distinctSorted = false)

  /** Full MinHash-LSH near-dup pipeline: candidates from banding, verified
    * with n-gram Jaccard ≥ threshold. Returns verified duplicate pairs. */
  def nearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 8, k: Int = 3): DataFrame = {
    verifyJaccard(minhashCandidates(df, textCol, idCol, numHashes, bands, k),
      df, textCol, idCol, threshold, k)
      .select("id_a", "id_b", "shared_bands", "jaccard")
  }

  // ---------- portable (cross-engine deterministic) MinHash-LSH ----------

  /** Mersenne prime modulus for the portable universal hash family. */
  val PortableP: Long = 2147483647L

  /** Fixed (a, b) coefficients of the portable minhash family h_i(x) =
    * (a_i·x + b_i) mod P. Hardcoded (not generated) so an external engine can
    * restate them literally in SQL — see SparkEntry q67's oracle. */
  val portableCoeffs: Seq[(Long, Long)] = Seq(
    (1299721L, 15485863L), (2750159L, 32452843L), (4256233L, 49979687L),
    (5800079L, 67867967L), (7368787L, 86028121L), (8960453L, 104395301L),
    (10570841L, 122949823L), (12195257L, 141650939L), (13834103L, 160481183L),
    (15485863L, 179424673L), (17144507L, 198491317L), (18815231L, 217645177L),
    (20495843L, 236887691L), (22182343L, 256203161L), (23879519L, 275604541L),
    (25582153L, 295075147L))

  /** Shingle base-hashes every engine can reproduce: first 14 hex chars of
    * md5(shingle) (56 bits) mod P. Slower than xxhash64 (an md5 per shingle)
    * — the portability tax; the xxhash64 path ([[hashedShingles]]) is the
    * production default. Native one-pass kernel: the equivalent interpreted
    * `transform(shingles, md5…)` pipeline is re-evaluated per REFERENCE once
    * projections collapse, which turned q67 into ~64 md5 passes per row. */
  def portableShingleHashes(text: Column, k: Int = 3): Column =
    graft.functions.Native.portableShingleHashes(text, k, PortableP)

  /** MinHash signature over portable base hashes: sig_i = min over shingles of
    * (a_i·h + b_i) mod P — all coefficients in one native pass. */
  def minhashSignaturePortable(baseHashes: Column): Column =
    graft.functions.Native.portableMinHashSig(baseHashes, portableCoeffs, PortableP)

  /** MinHash-LSH near-dup with the PORTABLE hash family — bit-identical
    * across engines (DuckDB oracle in SparkEntry q67), so the whole LSH
    * pipeline (signature → banding → bucket join → exact-Jaccard verify) is
    * hash-checkable, not just rows-only. Same plan shape as
    * [[nearDuplicates]]: one shuffle on (band, bucket), verification only
    * within buckets.
    *
    * Reference anchor: the reference has no LSH; this is the BASELINE.md
    * north-star dedup path with determinism strong enough for an oracle. */
  /** Portable MinHash signatures, one row per doc with ≥1 shingle — the
    * shared first stage of [[nearDuplicatesPortable]] and
    * [[minhashJaccardEstimate]] (the md5-per-shingle pass is the dominant
    * portability tax; compute it once, derive everything from it). */
  private def portableSigs(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"), portableShingleHashes(col(textCol), k).as("__sh"))
      .filter(size(col("__sh")) > 0) // no shingles → no signature (both engines)
      .select(col("id"), minhashSignaturePortable(col("__sh")).as("sig"))

  def nearDuplicatesPortable(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, bands: Int = 4, k: Int = 3): DataFrame =
    nearDuplicatesPortableFromSigs(portableSigs(df, textCol, idCol, k),
      df, textCol, idCol, threshold, bands, k)

  /** LSH candidate pairs from a portable signature frame (`id`, `sig`):
    * band → bucket equi-join → id_a < id_b → distinct. With `carrySigs`
    * the pair rows keep both signatures (`__sa`, `__sb`) through the join —
    * ~numHashes·8 bytes per CANDIDATE (≪ n²), which is cheaper at any
    * scale than re-joining the signature frame twice afterwards (and lets
    * [[minhashJaccardEstimate]] run signature-free of any persist). */
  private def portableCandidates(sig: DataFrame, bands: Int,
      carrySigs: Boolean): DataFrame = {
    val numHashes = portableCoeffs.size
    require(numHashes % bands == 0, "bands must divide the coefficient count")
    val rowsPerBand = numHashes / bands
    val sigCols = if (carrySigs) Seq(col("sig")) else Nil
    val banded = sig.select(col("id") +: sigCols :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val aCols = Seq(col("band"), col("bucket"), col("id").as("id_a")) ++
      (if (carrySigs) Seq(col("sig").as("__sa")) else Nil)
    val bCols = Seq(col("band"), col("bucket"), col("id").as("id_b")) ++
      (if (carrySigs) Seq(col("sig").as("__sb")) else Nil)
    val pairCols = Seq("id_a", "id_b") ++ (if (carrySigs) Seq("__sa", "__sb") else Nil)
    banded.select(aCols: _*).join(banded.select(bCols: _*), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // sigs are functionally dependent on the ids, so distinct over the
      // carried columns has the same cardinality as distinct over the ids
      .select(pairCols.head, pairCols.tail: _*).distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against shingle sets
    * materialized once per doc; extra candidate columns pass through. */
  private def verifyJaccard(cands: DataFrame, df: DataFrame,
      textCol: String, idCol: String, threshold: Double, k: Int): DataFrame = {
    val sets = df.select(col(idCol).as("__id"), hashedShingleSet(col(textCol), k).as("__set"))
    cands
      .join(sets.withColumnsRenamed(Map("__id" -> "id_a", "__set" -> "set_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("__id" -> "id_b", "__set" -> "set_b")), "id_b")
      .withColumn("jaccard", graft.functions.Native.jaccardSortedLongs(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
  }

  private def nearDuplicatesPortableFromSigs(
      sig: DataFrame, df: DataFrame, textCol: String, idCol: String,
      threshold: Double, bands: Int, k: Int): DataFrame =
    verifyJaccard(portableCandidates(sig, bands, carrySigs = false),
      df, textCol, idCol, threshold, k)
      .select("id_a", "id_b", "jaccard")

  /** INCREMENTAL exact dedup: drop new-batch rows whose normalized text
    * already exists in the corpus, then exact-dedup within the batch — the
    * daily-ingest shape (dedup a day's crawl against the accumulated corpus
    * without re-deduping the corpus). The anti-join runs on a 64-bit content
    * hash, so only 8-byte keys shuffle; at 100 TB the corpus side is a
    * pre-materialized hash TABLE (bucketed on the hash → zero-exchange
    * anti-join), not a full-text rescan. Hash collisions would only drop a
    * non-duplicate (no false keeps) at ~2⁻⁶⁴ odds; join on the text itself
    * if that one-sided risk matters. */
  def dedupAgainst(corpus: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val corpusHashes = corpus.select(xxhash64(col(textCol)).as("__h")).distinct()
    val fresh = newBatch.withColumn("__h", xxhash64(col(textCol)))
      .join(corpusHashes, Seq("__h"), "left_anti")
      .drop("__h")
    exact(fresh, textCol, idCol).filter(!col("is_duplicate"))
      .drop("canonical_id", "is_duplicate")
  }

  /** SimHash near-dup with the PORTABLE hash family: a `bits`-wide signature
    * from md5-derived shingle hashes, band-pigeonholed into `maxHamming+1`
    * bands (EXACT recall, like [[simhashNearDup]]) and verified with
    * bit_count — every stage integer arithmetic an external engine restates
    * (SparkEntry q81's DuckDB oracle), unlike the xxhash64 64-bit variant.
    * `bits` must split evenly into `maxHamming+1` bands. */
  def simhashNearDupPortable(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bits: Int = 16, k: Int = 2,
      blockBy: Seq[String] = Nil): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bits=$bits must split into ${bands} bands")
    // base hashes are mod P = 2^31-1, so bits ≥ 31 would vote a constant 0
    // — identical high bands for every doc would degenerate the pigeonhole
    // join toward all-pairs (the 64-bit form is [[simhashNearDup]])
    require(bits >= bands && bits <= 30, s"1 ≤ bands ≤ bits ≤ 30, got bits=$bits")
    val width = bits / bands
    val keys = blockBy.map(col)
    val sig = df
      .select(keys :+ col(idCol).as("__id")
        :+ portableShingleHashes(col(textCol), k).as("__h"): _*)
      .filter(size(col("__h")) > 0)
      .select(keys :+ col("__id")
        :+ graft.functions.Native.portableSimHash(col("__h"), bits).as("__sig"): _*)
    simhashBandPairs(sig, blockBy, (0 until bands).map(b => (b * width, width)), maxHamming)
  }

  /** Portable [[withSimhash]]: a `bits`-wide signature column from the
    * md5-derived shingle-hash family — restatable in any engine's SQL
    * (SparkEntry q25's oracle), for ALL-PAIRS demo shapes where the banded
    * [[simhashNearDupPortable]] pigeonhole isn't wanted. Rows with no
    * shingles (shorter than k words) are DROPPED: a signature of "no
    * evidence" has no meaningful Hamming distance to anything. */
  def withSimhashPortable(df: DataFrame, textCol: String, out: String,
      bits: Int = 24, k: Int = 2): DataFrame =
    df.withColumn("__graft_ph", portableShingleHashes(col(textCol), k))
      .filter(size(col("__graft_ph")) > 0)
      .withColumn(out, graft.functions.Native.portableSimHash(col("__graft_ph"), bits))
      .drop("__graft_ph")

  /** Deterministic hyperplane matrix shared with external engines: component
    * (p, i) = ((first 14 hex digits of md5("p:i") as int) mod 2001 − 1000) /
    * 1000 ∈ [−1, 1]. Computed ONCE at plan time (never per row) and baked
    * into the plan as literals — the oracle SQL restates the same literals,
    * so both engines use the identical matrix (SparkEntry q68). */
  def portablePlanes(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dim).map(i => planeComponent(s"$p:$i")))

  /** [[portablePlanes]] with a salt prepended to the hash input —
    * independent deterministic matrices for multi-model stages (each PQ
    * subspace codebook vs the coarse quantizer) without perturbing the
    * un-salted family existing oracles restate. */
  def portablePlanesSalt(salt: String, planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dim).map(i => planeComponent(s"$salt:$p:$i")))

  private def planeComponent(key: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(14)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  /** DRIVER-SIDE twin of [[portableShingleHashes]] for one token (k=1 gram):
    * lowercase → first 14 md5 hex chars → mod [[PortableP]]. Bit-identical
    * to the distributed kernel and to the DuckDB restatement — used to
    * pre-bucket plan-time literal weight tables (q164) so the oracle can
    * name the same buckets. */
  def portableTokenHash(token: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(
      token.toLowerCase(java.util.Locale.ROOT).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h % PortableP
  }

  /** Embedding near-dup with the PORTABLE plane matrix: sign-of-dot LSH
    * bucketing (one narrow map — the plane matrix is plan-time literals, no
    * md5 at runtime), bucket equi-join, exact-cosine verification. Fully
    * deterministic → DuckDB-hash-checkable. `dim` must match the vector
    * width. */
  def embeddingNearDupPortable(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int, dim: Int): DataFrame = {
    val mat = portablePlanes(planes, dim)
    val sigBits = mat.zipWithIndex.map { case (plane, p) =>
      when(graft.functions.Native.dotProduct(col("vec"), lit(plane.toArray)) > 0,
        shiftleft(lit(1L), p)).otherwise(0L)
    }
    val withSig = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", sigBits.reduce(_ bitwiseOR _))
    val a = withSig.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = withSig.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SEMANTIC DECONTAMINATION — flag corpus documents whose EMBEDDING is
    * near a benchmark/eval-set embedding (cosine ≥ threshold): the
    * meaning-level screen that catches paraphrased benchmark leakage the
    * gram-based [[graft.ops.TextAnalysis.decontaminate]] (reference
    * semantics: GPT-3 appendix-C style n-gram overlap) cannot see.
    * Candidates come from an OR-construction of `bands` independent
    * sign-of-dot signatures (each `planesPerBand` salted portable
    * hyperplanes — [[portablePlanesSalt]] plan-time literals, no per-row
    * hashing): a pair is a candidate when ANY band's bucket matches, so
    * recall rises with `bands` exactly like minhash banding; every
    * candidate is then verified with the exact cosine, so precision is 1
    * and the only approximation is documented recall < 1 on pairs no
    * band catches.
    *
    * Output: one row per contaminated corpus doc — (id, n_bench_hits,
    * max_cosine, worst_bench_id), worst = the min benchmark id among the
    * exact-max-cosine matches (deterministic under ties).
    *
    * Plan shape at 100 TB: the benchmark side is SMALL by construction
    * (eval suites) — its exploded band signatures broadcast; the corpus
    * side is one narrow map (plan-literal planes) plus a broadcast
    * equi-join on (band, bucket). The corpus never shuffles for candidate
    * generation; only the candidate pairs (bounded by bucket collisions,
    * not corpus²) pay the pair-dedup shuffle. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      bands: Int, planesPerBand: Int, dim: Int): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && planesPerBand <= 63,
      "semanticDecontaminate: bands >= 1, 1 <= planesPerBand <= 63")
    val mats = (0 until bands)
      .map(b => portablePlanesSalt(s"sdc$b", planesPerBand, dim))
    def sigs(vec: Column): Column = array(mats.map { mat =>
      mat.zipWithIndex.map { case (plane, p) =>
        when(graft.functions.Native.dotProduct(vec, lit(plane.toArray)) > 0,
          shiftleft(lit(1L), p)).otherwise(0L)
      }.reduce(_ bitwiseOR _)
    }: _*)
    val c = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("__vc"))
      .withColumn("__s", sigs(col("__vc")))
      .select(col("doc_id"), col("__vc"),
        posexplode(col("__s")).as(Seq("__band", "__bucket")))
    val b = benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("__vb"))
      .withColumn("__s", sigs(col("__vb")))
      .select(col("bench_id"), col("__vb"),
        posexplode(col("__s")).as(Seq("__band", "__bucket")))
    c.join(broadcast(b), Seq("__band", "__bucket"))
      // a pair matching in several bands must count ONCE — dedupe before
      // the verify so n_bench_hits is a count of benchmark docs, not bands
      .select(col("doc_id"), col("bench_id"), col("__vc"), col("__vb"))
      .dropDuplicates("doc_id", "bench_id")
      .withColumn("cosine", Similarity.cosine(col("__vc"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("cosine")).as("max_cosine"),
        // max over (cosine, -bench_id) = min bench id among exact-max ties
        max(struct(col("cosine"), (-col("bench_id")).as("nb"))).as("__w"))
      .select(col("doc_id").as(idCol), col("n_bench_hits"), col("max_cosine"),
        (-col("__w.nb")).as("worst_bench_id"))
  }

  /** Connected components over near-duplicate PAIRS → cluster ids: the step
    * that turns pairwise edges (from [[nearDuplicates]] /
    * [[embeddingNearDupPortable]] / simhash banding) into dedup GROUPS, so a
    * pipeline can keep one canonical document per cluster.
    *
    * Union-find is driver-bound, so this is distributed min-label
    * propagation: every round each node adopts the smallest label among its
    * neighbors' labels and its own — one equi-join on node id per round,
    * converging in O(graph diameter) rounds (checked; early exit). Near-dup
    * graphs have tiny diameters — clusters are quasi-cliques out of band
    * buckets — so 2-3 rounds close virtually any real cluster; `maxIter`
    * is a SAFETY BOUND, not a quality knob: hitting it without convergence
    * THROWS rather than returning partial labels (a half-propagated
    * component silently splits one duplicate cluster into several — the
    * exact leakage [[graft.ml.MLOps.leakageSafeSplit]] exists to prevent).
    * Long templated-document chains make deep components realistic at
    * corpus scale, so the default bound is generous; converged graphs
    * never pay for it (early exit).
    *
    * Input: (id_a, id_b) pair columns. Output: (id, component) — component =
    * min id of the node's cluster; singleton nodes absent from `pairs` are
    * absent here (their component is themselves).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 30): DataFrame = {
    require(maxIter >= 1, s"maxIter=$maxIter must be >= 1")
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist()
    // label(node) starts as min(node, min neighbor). Each round references
    // the previous labels TWICE (propagation + convergence check), so the
    // lineage would grow exponentially — localCheckpoint truncates it per
    // round (iterative-algorithm idiom; swap in checkpoint() with a reliable
    // dir on a real cluster for executor-loss tolerance).
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("comp"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // adopt the smallest label among my neighbors' labels and my own
      val viaNeighbor = edges
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "comp" -> "ncomp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("ncomp")).as("ncomp"))
      // carry the previous label THROUGH the checkpoint so the convergence
      // check is a narrow filter over the just-materialized blocks — the
      // former next⋈labels re-join paid a whole extra shuffle per round
      // (guide §2.4: two operations keyed the same way share one exchange;
      // here the second operation needs no exchange at all)
      val next = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), least(col("comp"), col("ncomp")).as("comp"),
          col("comp").as("__prev"))
        .localCheckpoint(true)
      converged = next.filter(col("comp") =!= col("__prev")).isEmpty
      labels = next.drop("__prev")
      i += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds — " +
      "the graph has a deeper chain than the bound allows; partial labels " +
      "would silently split a component, so raise maxIter instead")
    labels
  }

  /** SEMANTIC dedup, SemDeDup-shaped (Abbas et al. 2023: k-means the
    * embeddings, compare only WITHIN a cluster, drop all but one of each
    * semantic-duplicate pair): cluster assignment is the plan-time
    * [[graft.functions.Native.nearestCentroids]] kernel (narrow map), the
    * within-cluster comparison is a self EQUI-join on the cluster id — the
    * quadratic blowup is bounded by cluster size (size `nlist` to taste:
    * clusters of ~corpus/nlist rows), and the plan never contains a cross
    * join. A row is a duplicate iff some SMALLER-id row in its cluster has
    * cosine ≥ `threshold` (deterministic representative = lowest id, like
    * [[exact]]). Returns (idCol, cluster_id, is_duplicate).
    *
    * At 100 TB: codes/centroids are the memory lever (compose with
    * [[graft.ops.Similarity.pqEncode]] to compare PQ reconstructions
    * instead of raw vectors); the cluster id is the ONLY shuffle key. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      nlist: Int = 16, threshold: Double = 0.95, kmeansIters: Int = 2): DataFrame = {
    val cents = graft.ops.Similarity.kmeansCentroids(df, vecCol, idCol, nlist, kmeansIters)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    semanticDedupWithCentroids(df, vecCol, idCol, threshold,
      cents.map(_._1).toSeq, cents.map(_._2).toSeq)
  }

  /** [[semanticDedup]] with PLAN-TIME FIXED portable centroids
    * ([[portablePlanes]]) instead of trained k-means: clusters are
    * nearest-pseudo-random-direction buckets, so the whole pipeline —
    * assignment argmax, within-cluster cosine threshold, lowest-id-wins —
    * is restatable in external SQL and oracle-checkable end to end
    * (SparkEntry q91). Cluster quality is below k-means (it is LSH-grade
    * bucketing), which only RAISES the within-cluster comparison cost, never
    * correctness; the trained form stays the production path. */
  def semanticDedupPortable(df: DataFrame, vecCol: String, idCol: String,
      nlist: Int, threshold: Double, dim: Int): DataFrame =
    semanticDedupWithCentroids(df, vecCol, idCol, threshold,
      1 to nlist, portablePlanes(nlist, dim))

  private def semanticDedupWithCentroids(df: DataFrame, vecCol: String,
      idCol: String, threshold: Double,
      ids: Seq[Int], mat: Seq[Seq[Double]]): DataFrame = {
    val assigned = df.select(col(idCol), col(vecCol).as("__vec"))
      .withColumn("cluster_id", element_at(graft.functions.Native.nearestCentroids(
        col("__vec"), ids, mat, 1), 1))
    val left = assigned.select(col("cluster_id"), col(idCol).as("__id_b"), col("__vec").as("__vb"))
    val right = assigned.select(col("cluster_id"), col(idCol).as("__id_a"), col("__vec").as("__va"))
    val dupIds = left.join(right, Seq("cluster_id"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(graft.ops.Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__id_b").as(idCol)).distinct()
    assigned.join(dupIds.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        coalesce(col("__dup"), lit(false)).as("is_duplicate"))
  }

  /** Keep one canonical row per near-dup cluster: docs in no cluster pass
    * through; within a cluster the smallest id (= the component label) wins.
    * The standard final stage of a corpus dedup pipeline. */
  def canonicalize(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    docs.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** INCREMENTAL near-dup — the daily-ingest shape for the MinHash family
    * (the near-dup analog of [[dedupAgainst]]'s exact anti-join): pair the
    * NEW batch against corpus ∪ batch without ever pairing corpus×corpus.
    * The banded NEW side (small) equi-joins the full banded index, so one
    * ingest costs O(|new| × bucket collisions), not O(|corpus|²) — at 100
    * TB the corpus band index is the thing you MATERIALIZE (bucketed by
    * (band, bucket)) and the daily join is a co-located probe. Returns
    * exact-verified pairs (id_a, id_b, jaccard) with at least one side in
    * the new batch — identical to filtering [[nearDuplicatesPortable]] of
    * the union down to new-touching pairs (spec-gated), which is what the
    * oracle restates. */
  def nearDuplicatesAgainstPortable(corpus: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.5,
      bands: Int = 4, k: Int = 3): DataFrame = {
    val numHashes = portableCoeffs.size
    require(numHashes % bands == 0, "bands must divide the coefficient count")
    val rowsPerBand = numHashes / bands
    // a RE-INGESTED id (present in both corpus and newBatch) must not
    // produce two shingle-set rows — every verified pair would join twice
    // and emit twice, inflating downstream dup stats. Batch wins: the
    // ingest's version is the current content.
    
    def bandedOf(sig: DataFrame) = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val all = newBatch.unionByName(
      corpus.join(newBatch.select(col(idCol)), Seq(idCol), "left_anti"))
    val bandedAll = bandedOf(portableSigs(all, textCol, idCol, k))
    val bandedNew = bandedOf(portableSigs(newBatch, textCol, idCol, k))
    val cands = bandedNew.select(col("band"), col("bucket"), col("id").as("__new"))
      .join(bandedAll.select(col("band"), col("bucket"), col("id").as("__any")),
        Seq("band", "bucket"))
      .filter(col("__new") =!= col("__any"))
      // orient before distinct: a new×new pair arrives from both sides
      .select(least(col("__new"), col("__any")).as("id_a"),
        greatest(col("__new"), col("__any")).as("id_b"))
      .distinct()
    verifyJaccard(cands, all, textCol, idCol, threshold, k)
      .select("id_a", "id_b", "jaccard")
  }

  /** QUALITY-AWARE canonicalization: keep, per near-dup cluster, the doc
    * that MAXIMIZES `score` (ties by smallest id) instead of
    * [[canonicalize]]'s min-id convention — the production rule
    * (RefinedWeb-style pipelines keep the longest / highest-quality
    * duplicate, not an arbitrary one). Singletons keep themselves. One
    * component-partitioned top-1 window (compiles to `WindowGroupLimit`,
    * partial top-1 before the shuffle) over the CC labels — no global
    * window, no per-cluster collect. Pass `components` (an (id, comp)
    * frame from [[connectedComponents]]) to reuse labels a pipeline
    * already computed — e.g. [[graft.contract.CurationRecipe]] shares one
    * CC run between canonicalization and the leakage-safe split. */
  def canonicalizeBy(docs: DataFrame, pairs: DataFrame, idCol: String,
      score: Column, aCol: String = "id_a", bCol: String = "id_b",
      components: Option[DataFrame] = None): DataFrame = {
    val comps = components.getOrElse(connectedComponents(pairs, aCol, bCol))
    val withComp = docs.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("comp"), col(idCol)))
    val w = Window.partitionBy(col("__comp")).orderBy(score.desc, col(idCol).asc)
    withComp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("comp", "__comp", "__rn")
  }

  /** MinHash JACCARD ESTIMATE for verified candidate pairs: fraction of
    * agreeing signature coordinates (the classic unbiased estimator) next
    * to the exact intersection value — the calibration that says how many
    * hashes the sketch needs before you trust it INSTEAD of the exact
    * verify (at which point the verification join and its shingle-set
    * shuffle disappear from the pipeline). Exact integer ratio → portable.
    * Returns (id_a, id_b, jaccard, jaccard_est, est_error). */
  def minhashJaccardEstimate(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, bands: Int = 4, k: Int = 3): DataFrame = {
    // ONE signature pass feeds both the banded pair generation and the
    // estimate: the candidate join CARRIES both signatures (numHashes·8
    // bytes per candidate, candidates ≪ n²), so no persist() lingers in
    // the session and no signature re-join appears in the plan
    val cands = portableCandidates(portableSigs(df, textCol, idCol, k),
      bands, carrySigs = true)
    val nHashes = portableCoeffs.size
    verifyJaccard(cands, df, textCol, idCol, threshold, k)
      .withColumn("jaccard_est",
        aggregate(zip_with(col("__sa"), col("__sb"), (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / nHashes)
      .withColumn("est_error", abs(col("jaccard_est") - col("jaccard")))
      .select("id_a", "id_b", "jaccard", "jaccard_est", "est_error")
  }

  /** The BATCH restatement of [[graft.streaming.Streaming.nearDupStream]]
    * (same operator algebra: banded LSH candidates → signature-AGREEMENT
    * estimate ≥ threshold, NO exact-Jaccard verify join — the streamed op
    * can't see shingle sets, only retained signatures), in the portable
    * hash family so the whole pipeline is oracle-checkable. The streamed
    * form ≡ this form when bucket state never evicts (maxPerBucket ≥ the
    * largest bucket): streaming emits each qualifying pair at least once
    * (its sink dedups by (id_a, id_b)); this emits it exactly once.
    * The incremental≡batch property itself is spec-gated on the streamed
    * op (StreamingNearDupIncrementalSpec); this gives the pipeline a
    * hash-proven CORRECTNESS row too.
    * Returns (id_a, id_b, est_jaccard); est is an exact nHashes-ths
    * integer ratio → portable. */
  def nearDupByEstimate(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, bands: Int = 4, k: Int = 3): DataFrame = {
    val cands = portableCandidates(portableSigs(df, textCol, idCol, k),
      bands, carrySigs = true)
    cands
      .withColumn("est_jaccard",
        aggregate(zip_with(col("__sa"), col("__sb"), (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / portableCoeffs.size)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** SOFT dedup: DOWNWEIGHT duplicates instead of dropping them — weight =
    * 1 / near-dup-cluster size (singletons weigh 1.0), the loss-weighting
    * alternative when hard dedup would discard legitimately repeated
    * content (boilerplate-heavy but partially unique pages, popular quotes).
    * Cluster sizes come from [[connectedComponents]] over any near-dup pair
    * frame; the weight join touches each doc once. Returns docs +
    * (cluster_size, weight). */
  def duplicateWeights(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val sizes = comps.groupBy("comp").agg(count(lit(1)).as("__sz"))
    docs
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(sizes, Seq("comp"), "left")
      .withColumn("cluster_size", coalesce(col("__sz"), lit(1L)))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
      .drop("comp", "__sz")
  }

  /** CROSS-GROUP duplication MATRIX: near-dup pair counts by unordered
    * group pair (e.g. source×source) — the corpus-curation diagnostic that
    * says which sources duplicate which (crawl overlap, mixture design:
    * a source pair with heavy cross-duplication shouldn't both be
    * upweighted). Input: any near-dup pair frame + the doc→group map; two
    * id equi-joins and one groupBy on the (lo, hi) group pair. Emitted
    * stats are ORDER-INDEPENDENT only (count/min/max — a jaccard sum would
    * be float-order-dependent and break cross-engine hashing). */
  def dupMatrix(docs: DataFrame, pairs: DataFrame, idCol: String,
      groupCol: String, scoreCol: String = "jaccard"): DataFrame = {
    require(pairs.columns.contains(scoreCol),
      s"dupMatrix: pair frame has no '$scoreCol' column (columns: " +
        s"${pairs.columns.mkString(", ")}) — pass scoreCol for non-jaccard " +
        "pair sources (e.g. scoreCol = \"hamming\" for simhash banding)")
    val g = docs.select(col(idCol), col(groupCol))
    pairs
      .join(g.withColumnsRenamed(Map(idCol -> "id_a", groupCol -> "__ga")), "id_a")
      .join(g.withColumnsRenamed(Map(idCol -> "id_b", groupCol -> "__gb")), "id_b")
      .groupBy(least(col("__ga"), col("__gb")).as("group_lo"),
        greatest(col("__ga"), col("__gb")).as("group_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col(scoreCol)).as(s"min_$scoreCol"),
        max(col(scoreCol)).as(s"max_$scoreCol"))
  }

  /** CONTAINMENT pairs (asymmetric Jaccard): |A∩B| / min(|A|, |B|) ≥
    * `threshold` — catches a short document embedded verbatim inside a long
    * one, which symmetric Jaccard misses (a 50-word doc inside a 5000-word
    * doc has Jaccard ≈ 0.01 but containment ≈ 1). Same inverted-index plan
    * as [[jaccardPairsInverted]]: explode (doc, shingle-hash), equi-join on
    * the hash, count per pair — pairs sharing nothing never materialize.
    * Returns (id_a < id_b, containment, jaccard): emitting both lets a
    * pipeline route "true near-dup" vs "subset-dup" differently. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    val sets = df.select(col(idCol).as("id"), hashedShingleSet(col(textCol), k).as("s"))
      .withColumn("sz", size(col("s"))).filter(col("sz") > 0)
    val inv = sets.select(col("id"), col("sz"), explode(col("s")).as("h"))
    val a = inv.select(col("id").as("id_a"), col("sz").as("za"), col("h"))
    val b = inv.select(col("id").as("id_b"), col("sz").as("zb"), col("h"))
    a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "za", "zb").agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("za"), col("zb")).cast("double"))
      .filter(col("containment") >= threshold)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("za") + col("zb") - col("inter")).cast("double"))
      .select("id_a", "id_b", "containment", "jaccard")
  }

  /** CROSS-CORPUS near-dup linkage: for every left document, its BEST
    * fuzzy match on the right (n-gram Jaccard ≥ `threshold`) — the
    * crawl-snapshot diff / record-linkage shape, where [[dedupAgainst]]'s
    * exact-hash anti-join is too strict. Inverted-index blocking across
    * the two frames (only shared-shingle pairs materialize), exact Jaccard
    * from the pair's intersection count, best match per left id via a
    * top-1 window (compiles to `WindowGroupLimit` — partial top-1 before
    * the shuffle). Ties break toward the smaller right id. */
  def crossCorpusLink(
      left: DataFrame, right: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    def sets(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), hashedShingleSet(col(textCol), k).as("s"))
        .withColumn(s"z$as", size(col("s"))).filter(col(s"z$as") > 0)
    val la = sets(left, "left_id")
      .select(col("left_id"), col("zleft_id").as("za"), explode(col("s")).as("h"))
    val rb = sets(right, "right_id")
      .select(col("right_id"), col("zright_id").as("zb"), explode(col("s")).as("h"))
    val scored = la.join(rb, Seq("h"))
      .groupBy("left_id", "right_id", "za", "zb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("za") + col("zb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
    val best = Window.partitionBy(col("left_id"))
      .orderBy(col("jaccard").desc, col("right_id"))
    scored.withColumn("__rn", row_number().over(best)).filter(col("__rn") === 1)
      .select("left_id", "right_id", "jaccard")
  }

  // ---------- Bloom-prefiltered decontamination ----------

  /** Bloom probe positions for a portable gram hash `h` ∈ [0, P): position
    * j = (a_j·h + b_j mod P) mod mBits, using the first `numProbes`
    * [[portableCoeffs]] — the same family as the portable minhash, so the
    * filter build (driver) and the probe expression (plan) are one
    * definition. */
  private def bloomPositions(h: Long, mBits: Int, numProbes: Int): Seq[Int] =
    portableCoeffs.take(numProbes).map { case (a, b) =>
      (Math.floorMod(a * h + b, PortableP) % mBits).toInt
    }

  /** Build the bit array (as longs) over the benchmark's distinct portable
    * gram hashes. Benchmark eval sets are small next to the corpus — the
    * collect is the same bounded driver step as PQ codebook training. */
  private[graft] def bloomBuild(hashes: Array[Long], mBits: Int, numProbes: Int): Array[Long] = {
    val words = new Array[Long]((mBits + 63) / 64)
    hashes.foreach { h =>
      bloomPositions(h, mBits, numProbes).foreach { p =>
        words(p >>> 6) |= (1L << (p & 63))
      }
    }
    words
  }

  /** Column predicate: might the bloom filter (baked into the plan as a
    * literal long array) contain portable-hash `h`? AND of `numProbes` bit
    * tests — a narrow, codegen'd expression, no join. */
  private[graft] def bloomMightContain(h: Column, words: Array[Long], mBits: Int,
      numProbes: Int): Column = {
    val lits = typedLit(words.toSeq)
    portableCoeffs.take(numProbes).map { case (a, b) =>
      val p = pmod(lit(a) * h + lit(b), lit(PortableP)) % mBits
      (call_function("shiftright",
        element_at(lits, (p / 64).cast("int") + 1), (p % 64).cast("int"))
        .bitwiseAND(1L)) === 1L
    }.reduce(_ && _)
  }

  /** [[graft.ops.TextAnalysis.decontaminate]] with a BLOOM PREFILTER: the
    * benchmark's distinct gram hashes build an `mBits`-bit bloom filter
    * (driver-side, bounded — eval sets are tiny), which prunes the exploded
    * corpus grams as a narrow predicate BEFORE any join; survivors are
    * exact-verified against the true benchmark hash set. False positives
    * die in the verify join and false negatives are impossible, so the
    * result is IDENTICAL to the exact operator (spec-gated) — the bloom
    * changes the plan, not the answer.
    *
    * Scale rationale: the exact path broadcasts the full benchmark hash
    * set to every task probing every corpus gram through a hash relation.
    * The bloom is CONSTANT-SIZE (mBits/8 bytes regardless of benchmark
    * cardinality at a chosen FPR) and sits codegen'd inside the scan
    * stage, so at 100 TB the join — whatever AQE picks for it — only ever
    * sees the ~FPR·grams survivors instead of every gram in the corpus.
    * Returns (idCol, n_shared) for contaminated documents only. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 5,
      mBits: Int = 1 << 20, numProbes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a positive multiple of 64")
    require(numProbes >= 1 && numProbes <= portableCoeffs.size,
      s"1 <= numProbes <= ${portableCoeffs.size}")
    val benchHashes = benchmark
      .select(explode(array_distinct(portableShingleHashes(col(textCol), n))).as("h"))
      .distinct()
      .collect().map(_.getLong(0))
    val words = bloomBuild(benchHashes, mBits, numProbes)
    // exact verify side rebuilt FROM the collected hashes — the benchmark
    // scan runs once, not once per side
    val spark = corpus.sparkSession
    import spark.implicits._
    val benchGrams = benchHashes.toSeq.toDF("h")
    val corpusGrams = corpus
      .select(col(idCol), explode(array_distinct(
        portableShingleHashes(col(textCol), n))).as("h"))
      .filter(bloomMightContain(col("h"), words, mBits, numProbes))
    corpusGrams.join(broadcast(benchGrams), Seq("h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** (id, pos, gram) table of word k-grams with 1-based positions. Words are
    * lowercased whitespace tokens; documents shorter than k words contribute
    * no rows. Shared by [[duplicateSpans]] and [[crossDocDupFraction]]. */
  private def gramTable(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) > 0)
    df.select(col(idCol), ws.as("__ws"))
      .select(col(idCol), posexplode(
        when(size(col("__ws")) >= k,
          transform(sequence(lit(1), size(col("__ws")) - k + 1),
            i => concat_ws(" ", slice(col("__ws"), i, lit(k)))))
          .otherwise(array().cast("array<string>"))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
  }

  /** Grams occurring in ≥ minDocs distinct documents. minDocs = 2 (the
    * common case) is answered by `min(id) != max(id)` — one ordinary agg
    * pass, no distinct expansion; the general case pays the exact
    * two-phase count(DISTINCT). */
  private def crossDocGrams(g: DataFrame, idCol: String,
      minDocs: Int): DataFrame = {
    val grouped = g.groupBy("gram")
    val dup =
      if (minDocs <= 2)
        grouped.agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
          .filter(if (minDocs == 2) col("__mn") =!= col("__mx") else lit(true))
      else grouped.agg(countDistinct(col(idCol)).as("__nd"))
        .filter(col("__nd") >= minDocs)
    dup.select("gram")
  }

  /** EXACT SUBSTRING DEDUP SPANS (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — the suffix-array
    * pass, re-expressed relationally): for every document, the maximal runs
    * of word positions whose k-gram also occurs in at least `minDocs` OTHER
    * documents. A run of consecutive qualifying k-gram start positions
    * [p..q] is the duplicated substring [p .. q+k-1].
    *
    * Plan shape: one shuffle groups grams by value to find the cross-doc
    * ones (count(DISTINCT doc) ≥ minDocs — a 2-level exact agg, no sketch),
    * one shuffle joins qualifying grams back to positions, and the run-merge
    * is the classic `pos - row_number()` gap-and-island window PARTITIONED
    * BY DOCUMENT — no global window, no n² pair join, no driver state. At
    * 100 TB the gram join key would be xxhash64(gram) (8-byte shuffle;
    * collisions only ever WIDEN a span by one false gram) — the string key
    * here keeps the operator bit-portable for the DuckDB oracle, same
    * results either way absent 64-bit collisions.
    *
    * Returns (idCol, span_start, span_end, span_tokens), positions 1-based
    * inclusive. Reference anchor for the dedup family contract:
    * aligned/retrieval_job.py:2131-2163. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2, hashKey: Boolean = false): DataFrame = {
    val g0 = gramTable(df, textCol, idCol, k)
    // the 100 TB form: an 8-byte xxhash64 key crosses the two shuffles
    // instead of the k-word string (collisions only ever WIDEN a span by
    // one false gram; equivalence spec-gated at test scale)
    val g = if (hashKey) g0.select(col(idCol), col("pos"),
        xxhash64(col("gram")).as("gram"))
      else g0
    // Two marking shapes, chosen by hashKey (= the declared scale switch):
    //  - hashKey = false (oracle/demo form, minDocs <= 2): min≠max over a
    //    gram-partitioned window marks cross-doc grams in the SAME single
    //    shuffle that groups them — fastest at test scale, but a window
    //    partition ships EVERY (doc,pos) row of a hot gram to one task; a
    //    boilerplate 5-gram in 10^8 documents is a straggler.
    //  - hashKey = true (the 100 TB form) and any minDocs > 2: the
    //    pre-aggregated crossDocGrams + join-back shape. Partial (map-side)
    //    aggregation collapses a hot gram to one row per map task before
    //    the shuffle, and the join-back probe side is skew-splittable by
    //    AQE (each probe row needs only the single matching gram row) —
    //    neither is true of a window partition. Same answer either way;
    //    equivalence spec-gated on a deliberately skewed corpus.
    val marked =
      if (minDocs <= 2 && !hashKey) {
        val wg = Window.partitionBy(col("gram"))
        val m = g.withColumn("__mn", min(col(idCol)).over(wg))
          .withColumn("__mx", max(col(idCol)).over(wg))
        (if (minDocs == 2) m.filter(col("__mn") =!= col("__mx")) else m)
          .drop("__mn", "__mx")
      } else g.join(crossDocGrams(g, idCol, minDocs), Seq("gram"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** STRIP the spans [[duplicateSpans]] detects: remove every word position
    * covered by a cross-document duplicated run of ≥ k words and reassemble
    * the survivors — span-level boilerplate excision (the actionable form
    * of exact substring dedup: headers, footers, license blocks vanish
    * while the unique prose stays, per Lee et al. 2021's removal step).
    *
    * Plan shape: [[duplicateSpans]]' two shuffles, then the span table
    * (output-sized, far smaller than the corpus) joins back onto the word
    * positions per document — a doc-key equi-join with a range predicate,
    * never a cross join — and the rebuild is one per-doc aggregation.
    * Documents with no spans pass through verbatim (modulo the
    * lowercase/whitespace normalization all dedup ops share).
    *
    * Returns (idCol, text_clean, n_words, n_removed). */
  def stripDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2, hashKey: Boolean = false): DataFrame =
    stripSpans(df, textCol, idCol,
      duplicateSpans(df, textCol, idCol, k, minDocs, hashKey)
        .select(col(idCol), col("span_start"), col("span_end")))

  /** The span-removal half shared by [[stripDuplicateSpans]] and
    * [[decontaminateByExcision]]: drop every word position of `df` covered
    * by a (idCol, span_start, span_end) row and reassemble the survivors.
    * The span table is output-sized (≪ corpus) and joins back per document
    * — a doc-key equi-join with a range predicate, never a cross join;
    * the rebuild is one per-doc aggregation. */
  private def stripSpans(df: DataFrame, textCol: String, idCol: String,
      spans: DataFrame): DataFrame = {
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) > 0)
    val words = df.select(col(idCol), ws.as("__ws"))
      .select(col(idCol), posexplode(col("__ws")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("word"))
    val covered = words.join(spans,
        words(idCol) === spans(idCol) &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_semi")
      .select(col(idCol), col("pos"), lit(1L).as("__cut"))
    words.join(covered, Seq(idCol, "pos"), "left")
      .groupBy(idCol)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__cut").isNull,
            struct(col("pos"), col("word"))))),
          s => s.getField("word"))).as("text_clean"),
        count(lit(1)).as("n_words"),
        sum(coalesce(col("__cut"), lit(0L))).as("n_removed"))
  }

  /** CONTAMINATED SPANS: for every corpus document, the maximal runs of
    * word positions whose n-gram also appears in the benchmark/eval set —
    * [[duplicateSpans]]' gap-and-island algebra with the cross-document
    * marker swapped for benchmark membership. The positional sibling of
    * [[graft.ops.TextAnalysis.decontaminate]]: that one tells you WHICH
    * docs leak, this one tells you WHERE.
    *
    * Plan shape: the benchmark collapses to a distinct gram-hash set and
    * BROADCASTS (eval sets are tiny next to a 100 TB corpus); the corpus
    * explodes its positional grams once, marks by one broadcast hash
    * join — the corpus never shuffles for the marking — and the run-merge
    * is the pos − row_number gap-and-island window partitioned by
    * document. Portable md5-derived hashes, so any engine reproduces the
    * exact spans.
    *
    * Returns (idCol, span_start, span_end, span_tokens), 1-based
    * inclusive. */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val bench = benchmark.select(
        explode(array_distinct(portableShingleHashes(col(textCol), n))).as("h"))
      .distinct()
    val pos = corpus.select(col(idCol),
        posexplode(portableShingleHashes(col(textCol), n)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    pos.join(broadcast(bench), Seq("h"))
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** DECONTAMINATE BY EXCISION: cut the benchmark-overlapping spans out of
    * each document and keep the rest — the surgical alternative to
    * dropping whole contaminated documents (GPT-3's own decontamination
    * removed the overlapping WINDOW, not the page; a long document with
    * one quoted eval question keeps its unique prose). Span detection =
    * [[contaminationSpans]]; removal = the shared [[stripSpans]] rebuild.
    * Returns (idCol, text_clean, n_words, n_removed) for EVERY corpus doc
    * — uncontaminated docs pass through with n_removed = 0 (modulo the
    * lowercase/whitespace normalization all dedup ops share), and a doc
    * with no tokens at all comes back as ("", 0, 0) rather than vanishing
    * (this output replaces the corpus downstream, so it must be total;
    * the left join back onto the id spine is what makes it so). */
  def decontaminateByExcision(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val stripped = stripSpans(corpus, textCol, idCol,
      contaminationSpans(corpus, benchmark, textCol, idCol, n)
        .select(col(idCol), col("span_start"), col("span_end")))
    corpus.select(col(idCol)).join(stripped, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** SEGMENT-LEVEL EXACT DEDUP (the RefinedWeb / MassiveText "repeated
    * paragraph removal" shape, generalized to a fixed word-window segmenter
    * so it is well-defined on newline-free corpora): split each document
    * into consecutive `segWords`-word segments, keep only the globally FIRST
    * occurrence of each distinct segment (order = (idCol, segment index)),
    * and reassemble the surviving text in segment order.
    *
    * Plan shape: one shuffle on the segment value elects the winner per
    * duplicate group (row_number window — at scale the partition key becomes
    * xxhash64(segment), same answer absent collisions), one shuffle on the
    * document id reassembles. Reassembly aggregates per document — never a
    * global window — and a fully-deduplicated document survives with
    * `text_clean = ""` rather than vanishing, so downstream joins on the id
    * stay total.
    *
    * `perDoc = true` narrows the dedup scope to WITHIN each document (the
    * C4 "discard repeated lines in a page" rule): the winner window
    * partitions by (document, segment) — bounded by document length, so the
    * window form is safe at any corpus size. `hashKey = true` is the 100 TB
    * form — the election shuffles on xxhash64(segment) instead of the
    * segment string (same winners absent 64-bit collisions), AND the global
    * election switches from a segment-partitioned window to a skew-safe
    * min(struct(id, seg_idx)) aggregation + join-back: map-side combine
    * collapses a boilerplate segment repeated in 10^8 documents to one row
    * per map task, and the join-back probe is AQE-skew-splittable, where a
    * window partition would ship every occurrence to one task
    * (equivalence spec-gated).
    *
    * Returns (idCol, text_clean, n_seg, n_dropped). */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
      segWords: Int = 8, perDoc: Boolean = false,
      hashKey: Boolean = false): DataFrame = {
    require(segWords >= 1, "segWords must be >= 1")
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) > 0)
    val segs = df.select(col(idCol), ws.as("__ws"))
      .select(col(idCol), posexplode(
        when(size(col("__ws")) >= 1,
          transform(sequence(lit(0L), floor((size(col("__ws")) - 1) / lit(segWords)).cast("long")),
            i => concat_ws(" ",
              slice(col("__ws"), i * segWords + 1, lit(segWords)))))
          .otherwise(array().cast("array<string>"))))
      .select(col(idCol), (col("pos") + 1).as("seg_idx"), col("col").as("seg"))
    val elected =
      if (hashKey && !perDoc) {
        // 100 TB form: winner = min (id, seg_idx) per segment hash, found
        // by an ordinary aggregate (partial agg absorbs hot segments) and
        // joined back; the struct min is lexicographic = the window's
        // orderBy(id, seg_idx)
        val sk = segs.withColumn("__sk", xxhash64(col("seg")))
        val winners = sk.groupBy(col("__sk"))
          .agg(min(struct(col(idCol), col("seg_idx"))).as("__w"))
          .select(col("__sk"), col("__w").getField(idCol).as("__wid"),
            col("__w").getField("seg_idx").as("__widx"))
        sk.join(winners, Seq("__sk"))
          .withColumn("__kept",
            col(idCol) === col("__wid") && col("seg_idx") === col("__widx"))
          .drop("__sk", "__wid", "__widx")
      } else {
        val segKey = if (hashKey) xxhash64(col("seg")) else col("seg")
        val w = (if (perDoc) Window.partitionBy(col(idCol), segKey)
          else Window.partitionBy(segKey)).orderBy(col(idCol), col("seg_idx"))
        segs.withColumn("__kept", row_number().over(w) === 1)
      }
    elected
      .groupBy(idCol)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg"))).as("text_clean"),
        count(lit(1)).as("n_seg"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_dropped"))
  }

  /** CROSS-DOCUMENT DUPLICATE FRACTION (the Dolma / Gopher "fraction of the
    * document duplicated elsewhere" quality signal): for each document, the
    * share of its word k-gram positions whose gram also occurs in at least
    * `minDocs` documents corpus-wide (the document's own occurrence counts
    * toward the threshold, matching the paragraph-dup-fraction rule).
    *
    * Plan shape: the same two shuffles as [[duplicateSpans]] (gram agg +
    * join back) followed by a per-document agg; the fraction is an exact
    * long/long IEEE division — deterministic across engines. Documents
    * shorter than k words report n_grams = 0, dup_frac = 0.0.
    * `hashKey = true` is the 100 TB form, exactly as in [[duplicateSpans]]:
    * the marking shuffles on xxhash64(gram) AND switches from the
    * gram-partitioned window to the skew-safe pre-aggregated
    * crossDocGrams + left-join-back shape (map-side combine collapses hot
    * grams; AQE can skew-split the probe side — a window partition can do
    * neither).
    *
    * Returns (idCol, n_grams, dup_frac). */
  def crossDocDupFraction(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, minDocs: Int = 2, hashKey: Boolean = false): DataFrame = {
    val g0 = gramTable(df, textCol, idCol, k)
    val g = if (hashKey) g0.select(col(idCol), col("pos"),
        xxhash64(col("gram")).as("gram"))
      else g0
    // single-shuffle window marking for the demo form only; hashKey (the
    // declared scale form) and minDocs > 2 take the skew-safe agg + join
    val flagged =
      if (minDocs <= 2 && !hashKey) {
        val wg = Window.partitionBy(col("gram"))
        g.withColumn("__dup",
          if (minDocs == 2)
            when(min(col(idCol)).over(wg) =!= max(col(idCol)).over(wg), 1L)
              .otherwise(0L)
          else lit(1L))
      } else g.join(
        crossDocGrams(g, idCol, minDocs).select(col("gram"), lit(1L).as("__dup")),
        Seq("gram"), "left")
    val perDoc = flagged
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__dup"), lit(0L))).as("__ndup"))
      .select(col(idCol), col("n_grams"),
        (col("__ndup").cast("double") / col("n_grams")).as("dup_frac"))
    // keep sub-k documents (zero grams) present with dup_frac = 0.0
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"))
  }
}
