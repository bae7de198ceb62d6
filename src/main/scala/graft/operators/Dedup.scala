package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document pipelines.
  *
  * All shapes are shuffle-bounded: exact dedup is a hash groupBy on a
  * digest; near-dup detection is candidate generation via LSH banding
  * (minhash or simhash) — an equi-join on band keys, never an O(n^2)
  * cross join — followed by an exact verification predicate on the
  * candidate pairs only. Everything stays in built-in codegen'd
  * functions (xxhash64 / higher-order array functions).
  */
object Dedup {

  /** Lowercase, trim, collapse runs of whitespace — the normalization
    * every text-keyed op here shares. */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Spread CPU-heavy per-row kernels across cores ONLY when the input
    * arrives under-partitioned (a small test corpus is often one file
    * split). At cluster scale the parquet scan already yields far more
    * partitions than `numShufflePartitions`, so this is a no-op there —
    * a blanket `repartition` would shuffle the entire corpus text just
    * to rebalance, the exact shuffle a 100 TB run cannot afford. */
  private def rebalanced(df: DataFrame): DataFrame = Spread.rebalanced(df)

  /** One row per distinct normalized text, keeping the smallest id
    * (deterministic representative). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), normalizeText(col(textCol)).as("__norm"))
      .groupBy(col("__norm"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** [[exactDedup]] keyed by the Unicode-folded normalization:
    * accent-fold ([[graft.functions.FoldAccents]] — NFD minus
    * combining marks, so NFC/NFD encodings of the same text and
    * accent variants all share one key) over the usual
    * lower/trim/collapse. The grouping shuffle carries the folded key
    * only; stored text is never rewritten. */
  def unicodeDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.text.fold_accents(normalizeText(col(textCol)))
          .as("__norm"))
      .groupBy(col("__norm"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Distinct shingle sets per doc: word n-grams or character n-grams
    * over the normalized text. */
  def withShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, word: Boolean): DataFrame = {
    // rebalance before the expensive per-row signature work: the
    // projection cost (not the scan) dominates this pipeline
    val base = rebalanced(df)
      .select(col(idCol), normalizeText(col(textCol)).as("__graft_norm"))
    val sh =
      if (word) expr(
        s"array_distinct(transform(sequence(0, greatest(size(split(__graft_norm, ' ')), $n) - $n), " +
          s"i -> concat_ws(' ', slice(split(__graft_norm, ' '), i + 1, $n))))")
      else expr(
        s"array_distinct(transform(sequence(1, greatest(length(__graft_norm), $n) - ${n - 1}), " +
          s"i -> substring(__graft_norm, i, $n)))")
    base.select(col(idCol), sh.as("shingles"))
  }

  /** Sorted distinct 64-bit shingle hashes per doc — the working set of
    * the whole near-dup pipeline. One native codegen pass over the
    * normalized text ([[graft.functions.HashKernels.shingleHashes]]):
    * no shingle strings, no interpreted lambdas. Bit-identical to
    * xxhash64 of the [[withShingles]] strings. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, word: Boolean): DataFrame =
    rebalanced(df)
      .select(col(idCol),
        graft.functions.hashes.shingle_hashes(
          normalizeText(col(textCol)), n, word).as("shingles"))

  /** [[hashedShingles]] exploded to one row per (id, shingle hash),
    * with the kernel INLINED into the Generate input rather than
    * projected to a named column first. With a named column,
    * `InferFiltersFromGenerate` derives `size(shingles) > 0 &&
    * isnotnull(shingles)` and predicate pushdown clones the kernel
    * below the rebalance exchange — the pipeline's most expensive
    * expression then runs twice per row, once on the un-rebalanced
    * input. An inline generator input is exempt from that inference
    * (Catalyst only infers over attribute inputs). */
  def explodedShingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int, word: Boolean): DataFrame =
    rebalanced(df)
      .select(col(idCol),
        explode(graft.functions.hashes.shingle_hashes(
          normalizeText(col(textCol)), n, word)).as("ng"))

  /** MinHash signature: for each of numHashes hash functions, the
    * minimum hash over the document's shingles. One groupBy-free pass —
    * the signature scales with documents, not (documents x hashes)
    * rows. Each shingle string is hashed to a long exactly once
    * (upstream); the hash family is then a native codegen kernel over
    * the long array ([[graft.functions.HashKernels.minHashSig]]) — a
    * JIT'd tight loop, not nested SQL lambdas. */
  def minHashSignatures(shingled: DataFrame, numHashes: Int): DataFrame =
    shingled.withColumn("sig",
      graft.functions.hashes.minhash_signature(col("shingles"), numHashes))

  /** LSH banding: split the signature into `bands` bands of rows and
    * key each band by its hash; docs sharing any band key are candidate
    * pairs. Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * `maxBucketSize` (0 = unlimited) drops band buckets holding more
    * members than the cap BEFORE the self-join. A bucket of B docs
    * yields B^2/2 candidate pairs — one boilerplate page duplicated a
    * million times turns the join quadratic, and no join algorithm or
    * AQE skew split fixes an output that is itself quadratic. Oversized
    * buckets are near-certainly exact-duplicate clusters, which
    * [[exactDedup]] (run first, its groupBy output is linear) already
    * resolves; capping here trades recall only on those pathological
    * keys, the standard production guard. The occupancy count is a
    * window over the same (band, bhash) keys the join shuffles on, so
    * the partitioning is reused — the guard adds no exchange. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String, numHashes: Int,
      bands: Int, maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    var banded = sigs.select(col(idCol),
      posexplode(graft.functions.hashes.lsh_band_keys(col("sig"), bands))
        .as(Seq("band", "bhash")))
    if (maxBucketSize > 0) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bhash")
      banded = banded
        .withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
    }
    val a = banded.select(col("band"), col("bhash"), col(idCol).as("id_a"))
    val b = banded.select(col("band"), col("bhash"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the true
    * shingle sets, for SORTED hash arrays ([[hashedShingles]] output):
    * one merge pass per pair instead of hash-table set ops, |A∪B|
    * derived as |A| + |B| - |A∩B|. */
  private def verifyJaccardSorted(pairs: DataFrame, shingled: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val sa = shingled.select(col(idCol).as("id_a"), col("shingles").as("__sh_a"))
    val sb = shingled.select(col(idCol).as("id_b"), col("shingles").as("__sh_b"))
    val inter = graft.functions.hashes
      .sorted_intersect_size(col("__sh_a"), col("__sh_b")).cast("double")
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        inter / (size(col("__sh_a")) + size(col("__sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification:
    * shingle -> minhash -> band -> bucket equi-join -> verify.
    *
    * The verification joins carry the 64-bit shingle *hashes*, not the
    * shingle strings — Jaccard over distinct hashes equals Jaccard over
    * shingles up to xxhash64 collisions (~|set|^2 / 2^64, vanishing),
    * and the shuffle moves 8-byte longs instead of text. That is the
    * shape that survives a 100 TB corpus. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, wordShingles: Boolean = true,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Int = 0): DataFrame = {
    val hashed = hashedShingles(df, idCol, textCol, shingleLen, wordShingles)
    val pairs = lshCandidatePairs(minHashSignatures(hashed, numHashes), idCol,
      numHashes, bands, maxBucketSize)
    verifyJaccardSorted(pairs, hashed, idCol, threshold)
  }

  /** MinHash-estimator calibration gauge — the dedup analogue of the
    * ANN recall@k gauge: for every exact-verified near-dup pair, the
    * Jaccard a `numHashes`-row minhash signature would ESTIMATE
    * (matching-position fraction, in permille) next to the exact
    * value, so estimator bias/variance is measured on the live corpus
    * rather than assumed. The gauge signature is built from the
    * portable hash family (string_portable_hash per shingle, lehmer3
    * permutations), so even the estimates replay exactly in the SQL
    * oracle — the production pipeline's xxhash64 signatures have the
    * same collision-probability structure (both are ~uniform families;
    * P[min-collision] = J position-wise either way).
    *
    * Scale shape: pairs come from the banded pipeline (bounded), the
    * signature frame is one narrow kernel pass over the corpus, and
    * the two signature joins move numHashes longs per matched doc —
    * nothing pairwise ever carries text. */
  def minhashJaccardGauge(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, shingleLen,
      wordShingles = true, numHashes = 64, bands = 16, threshold = threshold)
    val hv = df.select(col(idCol),
      array_distinct(transform(
        graft.functions.text.word_ngrams(normalizeText(col(textCol)), shingleLen),
        g => graft.functions.text.string_portable_hash(g))).as("__hv"))
    val sig = hv.select(col(idCol),
      graft.functions.hashes.portable_minhash_signature(col("__hv"), numHashes)
        .as("__sig"))
    val sa = sig.select(col(idCol).as("id_a"), col("__sig").as("__siga"))
    val sb = sig.select(col(idCol).as("id_b"), col("__sig").as("__sigb"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_permille", expr(
        "aggregate(zip_with(__siga, __sigb, (a, b) -> IF(a = b, 1L, 0L)), " +
          s"0L, (acc, x) -> acc + x) * 1000 div $numHashes"))
      .select("id_a", "id_b", "jaccard", "est_permille")
  }

  /** SimHash-estimator calibration gauge, the [[minhashJaccardGauge]]
    * companion: for every exact-verified near-dup pair, the 64-bit
    * simhash Hamming distance next to the exact Jaccard — measures how
    * tightly the fingerprint distance tracks true similarity on the
    * live corpus, which is what justifies (or refutes) a chosen
    * maxHamming dedup threshold. Fully portable (lehmer-family word
    * hashes), so the distances replay exactly in the oracle. Pairs are
    * banded-bounded; the fingerprint frame is one narrow kernel pass. */
  def simhashHammingGauge(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, shingleLen,
      wordShingles = true, numHashes = 64, bands = 16, threshold = threshold)
    val fp = simhash64(df, idCol, textCol)
    val fa = fp.select(col(idCol).as("id_a"), col("fp").as("__fa"))
    val fb = fp.select(col(idCol).as("id_b"), col("fp").as("__fb"))
    pairs.join(fa, "id_a").join(fb, "id_b")
      .withColumn("hamming",
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).cast("long"))
      .select("id_a", "id_b", "jaccard", "hamming")
  }

  /** [[minhashNearDups]] additionally scoring the overlap (containment)
    * coefficient |A∩B| / min(|A|, |B|) — the signal that catches a
    * small document embedded verbatim in a larger one, where Jaccard
    * alone under-reports the duplication. Same LSH candidate pipeline;
    * the verify pass derives both scores from one merge-counted
    * intersection. */
  def minhashNearDupsWithOverlap(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, wordShingles: Boolean = true,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val hashed = hashedShingles(df, idCol, textCol, shingleLen, wordShingles)
    val pairs = lshCandidatePairs(minHashSignatures(hashed, numHashes), idCol,
      numHashes, bands)
    val sa = hashed.select(col(idCol).as("id_a"), col("shingles").as("__sh_a"))
    val sb = hashed.select(col(idCol).as("id_b"), col("shingles").as("__sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("__i", graft.functions.hashes
        .sorted_intersect_size(col("__sh_a"), col("__sh_b")).cast("double"))
      .withColumn("jaccard",
        col("__i") / (size(col("__sh_a")) + size(col("__sh_b")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .withColumn("overlap_coef",
        col("__i") / least(size(col("__sh_a")), size(col("__sh_b"))).cast("double"))
      .select("id_a", "id_b", "jaccard", "overlap_coef")
  }

  /** Character-n-gram Jaccard near-dup pairs >= threshold: the minhash
    * pipeline over char shingles with r=8 rows per band — steep enough
    * that sub-threshold pairs (J <~ 0.35, where shared-vocabulary
    * corpora live) almost never become candidates (P ~ bands * J^8),
    * while true near-dups (J >= ~0.6) are caught with P > 1 - 1e-5.
    * Candidate volume stays ~linear in documents, not quadratic — the
    * property that keeps this runnable at corpus scale. */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    minhashNearDups(df, idCol, textCol, shingleLen = n, wordShingles = false,
      numHashes = 128, bands = 16, threshold = threshold)

  /** Chunk-containment near-dup pairs over content-defined chunks:
    * pairs of documents sharing ≥ `minSharedChunks` identical CDC
    * chunks, scored by shared bytes as a permille of the SMALLER
    * document — the containment measure that catches partial
    * duplication (one document embedded in, quoted by, or extended
    * from another), which whole-document Jaccard dilutes below any
    * practical threshold. Complements [[minhashNearDups]]: MinHash
    * finds same-size near-copies; this finds subset relations.
    *
    * Scale shape: chunks come from [[TextStats.cdcChunks]] (one kernel
    * pass, ~len/modulus rows); identity is the 62-bit portable chunk
    * hash, so shuffles carry (id, hash, len) — never chunk text. The
    * pair join is an equi-join on chunk hash with a doc-frequency cap
    * (`maxDf`, the [[minhashNearDups]] `maxBucketSize` guard): a
    * boilerplate chunk shared by thousands of docs would explode
    * quadratically and says nothing about pairwise duplication — it is
    * dropped, and belongs to [[dupSpanFraction]]'s corpus-level signal
    * instead. All-integer scoring (permille by `div`). */
  def cdcContainment(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 64, maxDf: Int = 50,
      minSharedChunks: Int = 2): DataFrame = {
    // chunk doc-frequency as a window over the hash-distributed
    // distinct frame (the dupSpanFraction recipe) — an aggregate+join
    // here would reference the CDC lineage a third time and replicate
    // its whole plan (see the pc_ground_pmf note in PLANS.md)
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    val shared = TextStats.cdcChunks(df, idCol, textCol, w, modulus)
      .select(col(idCol),
        graft.functions.text.string_portable_hash(col("chunk")).as("__h"),
        col("chunk_len"))
      .distinct() // within-doc repeats count once
      .withColumn("__df", count(lit(1)).over(wDf))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    val pairs = shared.select(col(idCol).as("id_a"), col("__h"), col("chunk_len"))
      .join(shared.select(col(idCol).as("id_b"), col("__h")), "__h")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("chunk_len")).as("shared_len"),
        count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minSharedChunks)
    val lens = df.select(col(idCol), length(col(textCol)).cast("long").as("__len"))
    pairs
      .join(lens.select(col(idCol).as("id_a"), col("__len").as("__la")), "id_a")
      .join(lens.select(col(idCol).as("id_b"), col("__len").as("__lb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_len"), col("shared_chunks"),
        expr("shared_len * 1000 div least(__la, __lb)").as("containment_permille"))
  }

  /** Cross-document duplicated-span fraction (the Gopher/RefinedWeb
    * family of corpus-hygiene signals): per document, how many of its
    * word-n-gram start positions carry a gram that also appears in at
    * least `minDocs` DISTINCT documents, as a permille of all
    * positions. High values mark boilerplate-heavy or near-copied
    * documents without needing pairwise comparison.
    *
    * Scale shape: per-position gram hashes come from one codegen
    * kernel pass ([[graft.functions.HashKernels.shingleHashesPos]] —
    * no gram strings materialized); every shuffle carries only
    * (id, 8-byte hash, count) rows. Corpus doc-frequency is a window
    * over the (doc, gram)-grouped frame partitioned by gram — the
    * grouped frame is already hash-distributed, so df costs one
    * narrow shuffle, never a join back to the raw gram stream. Gram
    * identity is the 64-bit hash: collisions conflate grams at
    * ~|grams|^2 / 2^64 — vanishing at any corpus size. */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val grams = rebalanced(df).select(col(idCol),
      explode(graft.functions.hashes.shingle_hashes_pos(
        normalizeText(col(textCol)), n, word = true)).as("__h"))
    // (doc, gram) -> within-doc multiplicity; partial agg shrinks the
    // explode before any shuffle
    val perDoc = grams.groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__cnt"))
    // rows per gram == distinct docs containing it; and since the
    // kernel emits one hash per POSITION, sum(cnt) per doc == the
    // doc's span count — no second text scan, no join back
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    perDoc
      .withColumn("__df", count(lit(1)).over(wDf))
      .groupBy(col(idCol)).agg(
        sum("__cnt").as("n_spans"),
        sum(when(col("__df") >= minDocs, col("__cnt")).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_permille", expr("(dup_spans * 1000) div n_spans"))
  }

  /** APPLY near-dup deduplication: the kept corpus after dropping every
    * cluster member except its representative (the cluster's minimum
    * id) — the end-to-end "run the dedup and hand me the training
    * corpus" operator, composing [[minhashNearDups]] →
    * [[duplicateClusters]] → one anti-join. Docs in no near-dup pair
    * never enter the cluster table and pass straight through; the
    * anti-join key set is only the non-representative ids (bounded by
    * duplicate volume, not corpus size — AQE broadcasts it in the
    * common mostly-unique-corpus case). */
  def dedupApply(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, wordShingles: Boolean = true, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, shingleLen, wordShingles,
      numHashes, bands, threshold).select("id_a", "id_b")
    val drop = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Near-dup cluster resolution keeping the HIGHEST-QUALITY member of
    * each cluster — the production representative rule ([[dedupApply]]
    * keeps min-id, i.e. whichever copy was crawled first; real
    * pipelines keep the cleanest copy and drop the
    * boilerplate-damaged ones). `quality` is an (idCol, quality_milli)
    * frame — any integer row-local quality key works; the registered
    * query wires [[TextStats.qualityMilli]]. Representative =
    * max quality, tie broken by min id (encoded as one lexicographic
    * struct max, so the group-by stays a single partial-combined
    * aggregation).
    *
    * Scale shape: corpus-sized work happens only inside the existing
    * [[minhashNearDups]] banding; everything after runs on REDUCED
    * frames (pairs → members → clusters), and the member⋈quality join
    * keys on the small side so AQE broadcasts it. Returns one row per
    * CLUSTER MEMBER: (idCol, cluster_id, quality_milli, kept). */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      quality: DataFrame,
      shingleLen: Int = 3, wordShingles: Boolean = true, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, shingleLen, wordShingles,
      numHashes, bands, threshold).select("id_a", "id_b")
    val members = duplicateClusters(pairs).withColumnRenamed("id", idCol)
    val memberQ = members.join(quality, Seq(idCol))
      .select(col(idCol), col("cluster_id"), col("quality_milli"))
    val best = memberQ.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality_milli").as("q"),
        (-col(idCol)).as("negid"))).as("b"))
      .select(col("cluster_id"), (-col("b.negid")).as("__keep_id"))
    memberQ.join(best, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("quality_milli"),
        (col(idCol) === col("__keep_id")).as("kept"))
  }

  /** Agreement matrix of two near-dup pair tables (each with id_a,
    * id_b columns, canonical a < b order): full outer join on the pair
    * key -> both / left_only / right_only counts. Both inputs are
    * reduced pair frames, so the join never touches a corpus. */
  def pairAgreement(left: DataFrame, right: DataFrame,
      leftName: String = "left_only", rightName: String = "right_only"): DataFrame = {
    // distinct() both sides: a duplicated (id_a, id_b) row would
    // multiply through the full outer join and inflate every count.
    // Pair frames are already reduced, so the dedup costs ~nothing.
    val l = left.select(col("id_a"), col("id_b")).distinct()
      .withColumn("__l", lit(1L))
    val r = right.select(col("id_a"), col("id_b")).distinct()
      .withColumn("__r", lit(1L))
    l.join(r, Seq("id_a", "id_b"), "full_outer")
      .select(when(col("__l").isNotNull && col("__r").isNotNull, "both")
        .when(col("__l").isNotNull, leftName)
        .otherwise(rightName).as("category"))
      .groupBy(col("category")).agg(count(lit(1)).as("n_pairs"))
  }

  /** Cross-document duplicated-span REMOVAL (the ExactSubstr-dedup
    * shape, word-gram blocked): drop every token covered by an n-gram
    * that occurs in at least `minDocs` distinct documents, keeping the
    * rest of the text intact — [[dupSpanFraction]] measures the
    * boilerplate, this cuts it out. Token i is covered iff some
    * duplicated gram starts in [i-n+1, i].
    *
    * Scale shape: the duplicated-gram set reduces from per-position
    * hashes in one distinct + count pass (only (id, 8-byte hash, pos)
    * rows shuffle — text never does); per-doc duplicated START
    * POSITIONS come back as one bounded array (<= doc token count,
    * i.e. state proportional to the doc itself); the rewrite is a
    * narrow per-row filter over the word array. The coverage test is
    * O(spans) per token worst-case — corpus-parallel, and bounded by
    * doc length squared only for a doc that is wall-to-wall
    * boilerplate. Gram identity by 64-bit hash (collision odds
    * ~|grams|^2/2^64, as in [[dupSpanFraction]]). Emits every doc:
    * (id, clean_text, n_tokens, n_removed). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val normed = rebalanced(df)
      .select(col(idCol), normalizeText(col(textCol)).as("__t"))
    val grams = normed.select(col(idCol),
      posexplode(graft.functions.hashes.shingle_hashes_pos(col("__t"), n, word = true))
        .as(Seq("__p", "__h")))
    val dup = grams.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val dupPos = grams.join(dup, "__h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__p"))).as("__dp"))
    normed.join(dupPos, Seq(idCol), "left")
      .withColumn("__dp", coalesce(col("__dp"), typedlit(Array.empty[Int])))
      .withColumn("__ws", split(col("__t"), " "))
      .withColumn("__kept", filter(col("__ws"),
        (w, i) => !exists(col("__dp"), p => p <= i && i <= p + lit(n - 1))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Paragraph-level boilerplate dedup — the RefinedWeb/Dolma removal
    * pass between document-level dedup and span surgery: a paragraph
    * (a `\n+`-separated block) appearing in >= `minDocs` DISTINCT
    * documents (by normalized-text hash) is boilerplate — cookie
    * banners, footers, nav — and is excised from EVERY document;
    * output is (id, clean_text, n_paragraphs, n_removed) with the
    * surviving paragraphs rejoined by single newlines, ORIGINAL
    * (un-normalized) text preserved — the key only groups.
    *
    * Scale shape: paragraphs shuffle as (id, pos, 64-bit hash) rows,
    * never text; the boilerplate set is one distinct + count
    * reduction (partial-combined) and comes back through one
    * hash-keyed join; reassembly is a per-row array filter. Hash
    * identity conflates paragraphs at ~|paragraphs|²/2^64 (the
    * documented fold). */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), "\\n+")).as(Seq("__p", "__para")))
    val keyed = paras.select(col(idCol), col("__p"),
      xxhash64(normalizeText(col("__para"))).as("__h"))
    val boiler = keyed.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val rmPos = keyed.join(boiler, "__h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__p"))).as("__rp"))
    exciseListedPositions(df.select(col(idCol), col(textCol)), idCol,
      textCol, rmPos, "\\n+", "\n", "n_paragraphs")
  }

  /** Shared surgery for the position-excision family
    * ([[paragraphDedup]], [[SuffixArray.removeRepeatedSpans]]; the
    * interval form [[removeDupSpans]] keeps its width-n coverage
    * predicate): split `textCol` by `splitPat`, drop the element
    * indices listed per id in `rmPos` (`idCol`, `__rp` int array;
    * missing ids remove nothing), rejoin with `joinSep`. One copy of
    * the coalesce/filter/exists/rejoin contract — and of its
    * engine-quirk knowledge (the oracle side must coalesce DuckDB's
    * empty-list array_to_string NULL to ''). */
  private[graft] def exciseListedPositions(base: DataFrame, idCol: String,
      textCol: String, rmPos: DataFrame, splitPat: String,
      joinSep: String, elemCountName: String): DataFrame =
    base.join(rmPos, Seq(idCol), "left")
      .withColumn("__rp", coalesce(col("__rp"), typedlit(Array.empty[Int])))
      .withColumn("__es", split(col(textCol), splitPat))
      .withColumn("__kept", filter(col("__es"),
        (x, i) => !exists(col("__rp"), p => p === i)))
      .select(col(idCol),
        array_join(col("__kept"), joinSep).as("clean_text"),
        size(col("__es")).cast("long").as(elemCountName),
        size(col("__rp")).cast("long").as("n_removed"))

  /** 64-bit SimHash per doc: bit j of the fingerprint is the sign of the
    * sum over tokens of bit j (+1/-1) of the token's hash. Computed
    * as a per-row higher-order aggregate — no explode, no shuffle; each
    * token is string-hashed once, then the 64 bit-sums fold over the
    * precomputed longs. Token hashes are the portable 62-bit family
    * ([[graft.functions.TextKernels.wordPortableHashes]]), so the
    * whole pipeline — fingerprint, chunk blocking, Hamming verify — is
    * replayable by a SQL oracle engine. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    rebalanced(df)
      .select(col(idCol), normalizeText(col(textCol)).as("__graft_norm"))
      .select(col(idCol),
        graft.functions.text.word_portable_hashes(col("__graft_norm")).as("__wh"))
      .select(col(idCol), graft.functions.hashes.simhash64(col("__wh")).as("fp"))

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair table — each vertex maps to the smallest id reachable from it
    * (the cluster representative). Returns (id, cluster_id) for every
    * vertex that appears in a pair.
    *
    * Scale-adaptive: near-dup edge tables are tiny relative to the
    * corpus (bounded by the planted duplication rate), so up to
    * `driverEdgeLimit` edges the component resolution runs as a single
    * driver-side union-find — one collect instead of O(diameter) rounds
    * of join + checkpoint + agg jobs, which at small edge counts are
    * pure scheduler overhead.
    *
    * Past the limit: ONE partition-local union-find contraction pass —
    * each task resolves the components of ITS edge slice with a
    * primitive [[graft.core.LongUnionFind]] and emits (node, local
    * min); the distinct local mins seen around each node form the GLUE
    * graph, whose components decide the global labels. Near-dup edge
    * tables are locally dense (a cluster's ~quadratic pairs land
    * together), so the glue graph is orders of magnitude smaller than
    * the edge table (measured at sf10: the 25 M-pair replica corpus
    * contracts to a driver-resolvable glue graph in one pass — the
    * cluster stage dropped 128 s → 39 s and no longer needs a 48 g
    * driver) and resolves on the driver; min-label propagation
    * ([[duplicateClustersDistributed]]) remains the fallback for a
    * glue graph that is still over the limit — running on the
    * CONTRACTED graph instead of the raw one.
    *
    * The path choice is gated on a cheap `count()` over the
    * materialized (localCheckpoint'd) edge table, so an over-limit
    * input is never collected and the pairs plan is never recomputed on
    * fallback. Driver memory for the collected path is ~20 B per
    * distinct id plus the collected rows. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 15,
      driverEdgeLimit: Int = 1000000): DataFrame =
    clustersByContraction(pairs, maxIters, driverEdgeLimit, depth = 0)

  private def clustersByContraction(pairs: DataFrame, maxIters: Int,
      driverEdgeLimit: Int, depth: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = Frames.cutLocal(pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")))
    if (edges.count() <= driverEdgeLimit) {
      // union-find with path halving + union by min-root: the root of a
      // component is always its minimum id, so find(x) IS the label
      val uf = new graft.core.LongUnionFind()
      edges.collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      return spark.createDataset(uf.entries().toSeq).toDF("id", "cluster_id")
    }
    // each contraction level strictly shrinks the node set (every task
    // demotes at least one node per local merge), but an adversarially
    // sparse graph could shrink slowly — after 3 levels hand the
    // contracted graph to min-label propagation instead
    if (depth >= 3) return duplicateClustersDistributed(edges, maxIters)
    // over the limit: partition-local contraction, then recurse on the
    // (much smaller) glue graph
    val nodeMin = edges.as[(Long, Long)].mapPartitions { it =>
      val uf = new graft.core.LongUnionFind(1 << 16)
      it.foreach { case (a, b) => uf.union(a, b) }
      uf.entries()
    }.toDF("id", "lmin").localCheckpoint()
    val perNode = nodeMin.groupBy(col("id"))
      .agg(min(col("lmin")).as("lmin0"))
      .localCheckpoint()
    // glue edges connect each of a node's local mins to its smallest
    // one; the per-node min frame is small (one row per vertex), so
    // AQE broadcasts it into the nodeMin join
    val glue = nodeMin.join(perNode, Seq("id"))
      .filter(col("lmin") =!= col("lmin0"))
      .select(col("lmin").as("id_a"), col("lmin0").as("id_b"))
      .distinct()
    val rootMap = clustersByContraction(glue, maxIters, driverEdgeLimit, depth + 1)
      .select(col("id").as("lmin0"), col("cluster_id").as("__root"))
    // local mins that never appear in a glue edge are whole components
    // already — they label themselves (the left-join miss)
    perNode.join(rootMap, Seq("lmin0"), "left")
      .select(col("id"),
        coalesce(col("__root"), col("lmin0")).as("cluster_id"))
  }

  /** Incremental cluster maintenance — the daily-delta production
    * shape: fold a delta batch's near-dup pairs into an EXISTING
    * (id, cluster_id) assignment without re-clustering the corpus.
    * The stored assignment participates as its STAR edges
    * (member → label, one edge per non-representative member): stars
    * preserve both connectivity and the min id inside every stored
    * component, so re-resolving components over stars ∪ new pairs
    * yields EXACTLY the clusters a full batch recompute would produce
    * — including the case where one delta doc BRIDGES two previously
    * separate clusters (both labels merge under the global min).
    * `newPairs` = delta↔corpus pairs ([[nearDupsAgainstIndex]], whose
    * banding decomposes batch results exactly) ∪ delta-internal pairs
    * ([[minhashNearDups]] on the delta alone). Cost is proportional
    * to |stored members| + |delta pairs| — the corpus text is never
    * re-shingled and its pair search never re-runs. */
  def clustersIncremental(stored: DataFrame, newPairs: DataFrame): DataFrame = {
    val stars = stored.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
    val clustered = duplicateClusters(
      stars.unionByName(newPairs.select(col("id_a"), col("id_b"))))
    // a stored SELF-labeled row (a, a) has no star edge, so if no delta
    // pair touches it the clustering never sees it — re-add such rows
    // verbatim (anti-join on resolved ids) so stored state is never
    // silently dropped. Unreachable from minhashNearDups-produced
    // assignments (no self-pairs survive as singletons there), but the
    // API accepts arbitrary stored frames.
    val untouched = stored.select(col("id"), col("cluster_id"))
      .join(clustered.select(col("id")), Seq("id"), "left_anti")
    clustered.unionByName(untouched)
  }

  /** Distributed min-label propagation (the > driverEdgeLimit path):
    * iterative small-step joins with lineage truncation
    * (localCheckpoint) every iteration; converges in O(component
    * diameter) rounds, capped at maxIters. */
  def duplicateClustersDistributed(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    val edges = Frames.cutLocal(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint()
    // labels only ever decrease (min-propagation is monotone), so the
    // label sum is a fixpoint witness: unchanged sum <=> converged —
    // one cheap agg over the checkpointed result instead of an
    // old-vs-new join per round
    var prevSum = labels.agg(sum(col("cluster_id"))).head().getLong(0)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("nb_min"))
      labels = labels.join(viaNeighbor, "id")
        .select(col("id"),
          least(col("cluster_id"), col("nb_min")).as("cluster_id"))
        .localCheckpoint()
      val s = labels.agg(sum(col("cluster_id"))).head().getLong(0)
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    labels
  }

  /** Persist the near-dup index of a corpus: one row per document with
    * its sorted shingle hashes and minhash signature. Incremental
    * batches then dedup against the stored index without ever
    * re-shingling the corpus — the daily-delta production shape (a
    * 100 TB corpus is shingled exactly once, when it enters). */
  def writeNearDupIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, shingleLen: Int = 3, wordShingles: Boolean = true,
      numHashes: Int = 64): Unit =
    minHashSignatures(
      hashedShingles(df, idCol, textCol, shingleLen, wordShingles), numHashes)
      .write.mode("overwrite").parquet(s"$dir/index")

  /** Near-dup pairs of a delta batch against a stored index: band keys
    * derive from both sides' stored/fresh signatures, candidates come
    * from the (band, bhash) equi-join, and the exact Jaccard verify
    * reads the corpus shingles FROM THE INDEX. Same banding + verify
    * arithmetic as [[minhashNearDups]], so (delta ∪ corpus) batch
    * results decompose exactly into this delta-vs-corpus pass plus a
    * delta-internal pass. Returns (in_id, corpus_id, jaccard). */
  def nearDupsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, delta: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, wordShingles: Boolean = true,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val idx = spark.read.parquet(s"$dir/index")
    val dHashed = minHashSignatures(
      hashedShingles(delta, idCol, textCol, shingleLen, wordShingles), numHashes)
    def banded(df: DataFrame, side: String) = df.select(col(idCol).as(side),
      posexplode(graft.functions.hashes.lsh_band_keys(col("sig"), bands))
        .as(Seq("band", "bhash")))
    val pairs = banded(dHashed, "in_id")
      .join(banded(idx, "corpus_id"), Seq("band", "bhash"))
      .filter(col("in_id") =!= col("corpus_id"))
      .select("in_id", "corpus_id").distinct()
    val sa = dHashed.select(col(idCol).as("in_id"), col("shingles").as("__sh_a"))
    val sb = idx.select(col(idCol).as("corpus_id"), col("shingles").as("__sh_b"))
    val inter = graft.functions.hashes
      .sorted_intersect_size(col("__sh_a"), col("__sh_b")).cast("double")
    pairs.join(sa, "in_id").join(sb, "corpus_id")
      .withColumn("jaccard",
        inter / (size(col("__sh_a")) + size(col("__sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("in_id", "corpus_id", "jaccard")
  }

  /** Chunk-blocked fingerprint table: one row per (chunk index, 16-bit
    * chunk key) of each doc's simhash — the blocking index shared by
    * the batch pair search and the streaming corpus check. */
  private[graft] def simhashChunked(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhash64(df, idCol, textCol).select(col(idCol), col("fp"),
      posexplode(expr("transform(sequence(0, 3), c -> (fp >> (c * 16)) & 65535L)"))
        .as(Seq("chunk", "ckey")))

  /** Emit each matched pair only from the SMALLEST chunk on which the
    * two fingerprints agree: an exact, stateless dedup of the up-to-4
    * per-pair join hits — both fingerprints are already in the join
    * output, so this replaces a full `distinct()` shuffle of the pair
    * table with a row-local predicate. (Stateless also means it works
    * unchanged in a stream-static join, where `distinct()` cannot.) */
  private[graft] val firstAgreeingChunk: Column =
    expr("chunk = 0 OR forall(sequence(0, chunk - 1), " +
      "c -> ((fp_a >> (c * 16)) & 65535L) != ((fp_b >> (c * 16)) & 65535L))")

  /** SimHash near-dup pairs: block on 4 16-bit chunks (two fingerprints
    * within Hamming distance <= 3 must agree on at least one chunk),
    * then verify bit_count(xor) <= maxHamming exactly. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunked = simhashChunked(df, idCol, textCol)
    val a = chunked.select(col("chunk"), col("ckey"), col(idCol).as("id_a"), col("fp").as("fp_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col(idCol).as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstAgreeingChunk)
      .select(col("id_a"), col("id_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
