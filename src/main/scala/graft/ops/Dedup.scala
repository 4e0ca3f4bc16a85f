package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines over
 * `documents(doc_id, text)`:
 *
 *  - MinHash + LSH: shingle → K minhashes → B bands → bucket
 *    self-join (candidate pairs only within equal band signatures —
 *    the classic scale path, no O(n²) anywhere);
 *  - SimHash: 64-bit sign-aggregated token-hash fingerprint;
 *  - n-gram Jaccard: exact verification scoring for candidate pairs;
 *  - embedding cosine near-dup: see Similarity.cosinePairs.
 *
 * All built-in expressions (transform/aggregate/xxhash64 — codegen'd);
 * the only shuffles are groupBys/joins on compact hash keys, planned
 * from measured checkpoint sizes ([[graft.util.Blocks.checkpoint]]).
 */
object Dedup {

  /** Character shingles (default k=5) of the normalized text —
    * sliding window via sequence + substr, pure Column algebra. The
    * exact STRING-set reference formulation: the verify path runs on
    * [[hashedShingles]] (same set sizes w.h.p., ~100× cheaper); this
    * stays as the spec/test comparator. */
  private[graft] def shingles(text: Column, k: Int = 5): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(norm) - lit(k - 1), lit(1))),
        i => norm.substr(i, lit(k))))
  }

  /** Shingle widths: words per [[minHashSignatures]] shingle, chars per
    * [[hashedShingles]] (and so [[ngramJaccard]]) shingle. */
  private val WordShingleK = 3
  private val CharShingleK = 5

  /** MinHash signatures: K permutations of word-3-shingle hashes via
    * the Carter-Wegman affine family h_i = h1 + i·h2 (2 xxh64 calls
    * per shingle for all K minima); signature[i] = min over shingles.
    *
    * SHUFFLE-FREE AND NATIVE: one projection through the
    * [[graft.functions.MinHashSigExpr]] Catalyst expression — no
    * explode, no groupBy, nothing crosses the wire, and no
    * per-element interpreted lambda evaluation (the equivalent
    * aggregate/zip_with/transform Column tree measured ~30× slower:
    * higher-order functions don't codegen). */
  def minHashSignatures(docs: DataFrame, numHashes: Int = 16): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_minhash_sig", col("text"), lit(WordShingleK), lit(numHashes))
        .as("signature"))

  /** LSH banding: near-dup candidate pairs = docs sharing ≥1 band of
    * `rowsPerBand` consecutive minhashes. Bucket join on the band
    * hash — distributed, no n². `numHashes` must match
    * the signature width (and divide by rowsPerBand) — enforced, not
    * assumed, so a desync can't silently degenerate empty band slices
    * into one global all-pairs bucket.
    *
    * Default banding is b=8 bands × r=2 rows: S-curve threshold
    * (1/b)^(1/r) ≈ 0.35, so a true pair at word-shingle jaccard 0.9
    * is missed with probability (1−0.9²)⁸ ≈ 1.7e-7 — recall is
    * effectively exact above the verification threshold (the driver's
    * q_near_dup_groups oracle checks this against exact all-pairs
    * truth), at the cost of more sub-threshold candidates, which the
    * exact-Jaccard verification stage is there to reject. */
  def minHashCandidates(signatures: DataFrame, rowsPerBand: Int = 2,
      numHashes: Int = 16, maxBucketSize: Int = 1024,
      minEstimate: Double = 0.0): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes not divisible by rowsPerBand=$rowsPerBand")
    require(maxBucketSize >= 2, s"maxBucketSize=$maxBucketSize < 2")
    require(minEstimate >= 0.0 && minEstimate < 1.0,
      s"minEstimate=$minEstimate outside [0,1)")
    // null text → null signature: those docs simply don't participate
    // in candidate generation (the pre-kernel explode path's behavior);
    // raise_error is reserved for genuine width desyncs on REAL rows —
    // without the isNotNull, size(null)=null falls through when() into
    // the error branch and a single null doc kills the job.
    // Width guard lives inside the projection so pruning can't drop it.
    val guarded = signatures
      .filter(col("signature").isNotNull)
      .withColumn("signature",
        when(size(col("signature")) === numHashes, col("signature"))
          .otherwise(raise_error(
            lit(s"signature width != numHashes=$numHashes"))))
    // Materialize the compact (doc_id, signature) projection ONCE
    // before the banded self-join: the B unioned band branches × 2 join
    // sides otherwise re-evaluate the minhash kernel up to 2B× per doc
    // when the caller passes an unpersisted frame — harmless at sf0.1,
    // 8× the dominant compute at corpus scale. After the checkpoint the
    // banding plan contains zero kernel invocations (PlanSpec asserts).
    // sigh (full-signature hash, the hot-bucket star-link key below) is
    // computed ONCE here and stored (8 B/row) rather than inside each of
    // the B band branches, which would stringify+hash the 16-element
    // signature B× per doc on every scan of the checkpoint
    val compact = graft.util.Blocks.checkpoint(guarded.select(col("doc_id"), col("signature"),
        xxhash64(col("signature").cast("array<string>").cast("string"))
          .as("sigh")))._1
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      compact.select(
        col("doc_id"),
        lit(b).as("band"),
        xxhash64(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string"), lit(b)).as("bucket"),
        col("sigh"))
    }.reduce(_ unionByName _)
    // HOT-BUCKET CAP. The bucket self-join is |bucket|² per bucket: on
    // boilerplate-heavy corpora (templated fillers here, nav chrome /
    // license headers on the web) a low-information r-row band can
    // collect millions of moderately-similar docs and the pair join
    // becomes the OOM/shuffle bottleneck (observed: a 2.67M-conv corpus
    // produced 74 GB of candidate shuffle and killed a 48 GB JVM).
    // Buckets ≤ maxBucketSize pair exactly as before. Oversized buckets
    // degrade to STAR-LINKING within identical-FULL-signature groups
    // (min doc_id ← every other member): O(|group|) edges, and EXACT
    // duplicates — whose signatures are equal by construction — stay
    // connected through CC, so re-ingested copies are still caught.
    // What a hot bucket no longer yields is sub-exact near-dup pairs
    // *from that band alone*; such pairs still surface in any of their
    // other b−1 (non-hot) bands, which is where genuinely similar
    // non-boilerplate pairs live.
    val sizes = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    val sized = bands.join(sizes, Seq("band", "bucket"))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val pairsSmall = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val hot = sized.filter(col("bsz") > maxBucketSize)
    val roots = hot.groupBy(col("band"), col("bucket"), col("sigh"))
      .agg(min(col("doc_id")).as("root"))
    val pairsHot = hot
      .join(roots, Seq("band", "bucket", "sigh"))
      .filter(col("doc_id") =!= col("root")) // root = min ⇒ doc_a < doc_b
      .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
    val pairs = pairsSmall.unionByName(pairsHot).distinct()
    if (minEstimate <= 0.0) pairs
    else {
      // SIGNATURE-ESTIMATE PREFILTER: matching-minhash fraction is an
      // unbiased estimator of the WORD-shingle jaccard — the same
      // metric the banding S-curve thresholds, NOT the char-shingle
      // jaccard the verify stage scores (word-shingle similarity is
      // strictly coarser: scattered single-word edits depress it well
      // below the char-5 value). The miss bound is therefore stated on
      // the banding metric: P(est < gate | word-j ≥ 0.9) with K=16 is
      // a binomial tail ≈ 1e-8 per pair, and EXACT duplicates have
      // est ≡ 1, never filtered. For pairs whose word-j sits BELOW the
      // gate, recall is governed by the banding S-curve, not by this
      // filter — callers keep that true by choosing minEstimate at or
      // under the banding threshold (1/b)^(1/r) (ConversationDedup:
      // 0.5 < 0.707 for r=4×b=4), so the prefilter only ever discards
      // pairs the banding would surface with already-small probability.
      // Measured on the 267k-conversation boilerplate diagnostic:
      // 1.01M candidates → 290k at est ≥ 0.5, with every one of the
      // 66,667 planted exact pairs at est = 1.0.
      val matches = aggregate(
        zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
      pairs
        .join(compact.select(col("doc_id").as("doc_a"), col("signature").as("sa")), "doc_a")
        .join(compact.select(col("doc_id").as("doc_b"), col("signature").as("sb")), "doc_b")
        .filter(matches.cast("double") >= lit(minEstimate * numHashes))
        .select(col("doc_a"), col("doc_b"))
    }
  }

  /** End-to-end near-duplicate GROUPING: MinHash-LSH candidates →
    * exact n-gram-Jaccard verification (≥ threshold) → connected
    * components over the verified pairs → canonical doc = min doc_id
    * per component (singletons keep themselves). The full
    * training-data dedup composition: every stage is bucketed or
    * pair-verified — no all-pairs anywhere — and the component step
    * reuses the KG pipeline's CC operator.
    * Output: (doc_id, canon_id, is_dup). */
  def nearDupClusters(docs: DataFrame, jaccardThreshold: Double = 0.8,
      numHashes: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 1024, minEstimate: Double = 0.0): DataFrame = {
    val cand = minHashCandidates(minHashSignatures(docs, numHashes),
      rowsPerBand, numHashes, maxBucketSize, minEstimate)
    val verified = ngramJaccard(docs, cand, minJaccard = jaccardThreshold)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.cc.ConnectedComponents.run(verified)
    // CC materialized the verified pairs — the banded-join signature
    // checkpoint inside minHashCandidates is dead now and is NOT a leaf
    // of the returned plan (CC truncated it), so release it here or it
    // leaks for the session (same pattern as Pipeline's edge release).
    // `docs` leaves stay: the caller's frame feeds the join-back below.
    graft.util.Blocks.releaseExcept(verified, Seq(docs))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canon_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canon_id"))
  }

  /** Hashed char-5 shingle set of the normalized text: sorted distinct
    * 64-bit hashes via one native projection
    * ([[graft.functions.Shingles64Expr]]). Set SIZES — and so every
    * Jaccard value — equal the exact string formulation w.h.p.
    * (collision ≈ |shingles|²/2⁶⁴ corpus-wide); per row it is ~8 bytes
    * per shingle instead of ~k+16, and ~100× faster to compute than
    * the interpreted sequence/transform/array_distinct Column tree
    * (measured: 76 s to merely SCAN string shingles over 267k
    * conversation docs vs ~1 s for the minhash kernel on the same
    * corpus — HOFs don't codegen). */
  def hashedShingles(text: Column): Column =
    call_function("graft_shingles64", text, lit(CharShingleK))

  /** n-gram Jaccard similarity for (doc_a, doc_b) candidate pairs —
    * the verification stage after LSH blocking. Shingle sets are
    * hash-represented ([[hashedShingles]]): values match the exact
    * string-set formulation w.h.p. (the driver's q_ngram_jaccard /
    * q_near_dup_groups oracles hash-match it against DuckDB's exact
    * string sets), at ~1/3 the join-row width and none of the
    * interpreted per-element cost.
    *
    * With `minJaccard > 0`, pairs that CANNOT reach the threshold are
    * rejected by a sound size bound BEFORE any shingle array is
    * materialized into a join row: j(A,B) ≥ τ ⇒ |A| ≥ |A∩B| ≥ τ|A∪B| ≥
    * τ|B| (and symmetrically), so `min(|A|,|B|) ≥ τ·max(|A|,|B|)` is
    * necessary. The prefilter joins the pairs against a NARROW
    * (doc_id, distinct-shingle-count) projection — 16 bytes/row through
    * the shuffle instead of ~8× the shingle count — and only the
    * survivors ever carry the shingle arrays (the width that dominates
    * the verify join at book-length-document scale). Pairs dropped by
    * the bound are NOT in the output (their jaccard is provably
    * < minJaccard); with the default `minJaccard = 0` every candidate
    * pair is scored, bit-identically to the unfiltered formulation
    * (OpsSpec pins equality). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame,
      minJaccard: Double = 0.0): DataFrame = {
    val shingled = docs.select(col("doc_id"), hashedShingles(col("text")).as("sh"))
    val pre =
      if (minJaccard <= 0.0) pairs
      else {
        // distinct-count projection: the shingle array is transient
        // inside this projection — only (doc_id, n_sh) is emitted
        val counts = docs.select(col("doc_id"),
          size(hashedShingles(col("text"))).as("n_sh"))
        pairs
          .join(counts.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("n_sh", "n_a"), "doc_a")
          .join(counts.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("n_sh", "n_b"), "doc_b")
          .filter(least(col("n_a"), col("n_b")).cast("double") >=
            lit(minJaccard) * greatest(col("n_a"), col("n_b")))
          .select(col("doc_a"), col("doc_b"))
      }
    pre
      .join(shingled.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(shingled.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("graft_jaccard64", col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** SimHash: 64-bit fingerprint; bit j set iff the sum over tokens of
    * sign(bit j of xxhash64(token)) is positive. One native projection
    * ([[graft.functions.SimHash64Expr]]); token hashes are
    * bit-identical to Spark's xxhash64(token), replacing 64
    * interpreted aggregate() folds per row. */
  def simHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_simhash", col("text")).as("simhash"))
}
