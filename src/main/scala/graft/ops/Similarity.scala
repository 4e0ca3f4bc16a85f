package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`), the
 * privateData-vector analog (reference:
 * /root/reference/update_kg/queries/get_merged_entity.sparql
 * `?vector`; ELMo/PNASNET grounding embeddings).
 *
 * Top-k search is brute-force cosine (one scan + one top-k — correct
 * at any scale, cost O(N·d) per query). All-pairs near-dup detection
 * has an exact O(n²) form and a banded random-hyperplane LSH form
 * ([[cosinePairs]]) whose recall the `q_cosine_pairs_lsh` oracle
 * checks. Cosine is one native expression (no UDF).
 */
object Similarity {

  /** Cosine similarity between two array<float|double> columns — one
    * native double-precision pass ([[graft.functions.CosineSimExpr]]);
    * no per-element interpreted lambdas, no cast materialization. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Brute-force cosine top-k against one query vector (driver-held,
    * broadcast as a literal array). vec_id is cast to long so the
    * result has one schema (vec_id bigint, sim double) regardless of
    * the caller's integer width. */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int = 10): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        round(cosine(col("embedding"), q), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All-pairs near-duplicate detection by embedding cosine ≥ τ —
    * the embedding-cosine near-dup dedup operator, LSH-blocked with
    * BANDING + MULTI-PROBE (candidates = pairs whose bucket ids agree
    * within Hamming distance ≤ 1 in ANY of 6 independently-seeded
    * hyperplane families), then verified with exact cosine. The
    * single-bucket formulation this replaces missed ~47% of true pairs
    * at τ=0.95 ((1−θ/π)^6 ≈ 0.53 collision per pair); at 8 bits × 6
    * bands × Hamming-1 probing a τ=0.95 pair is missed with probability
    * (1 − p⁸ − 8p⁷(1−p))⁶ ≈ 4.9e-5 at p = 1−acos(.95)/π ≈ 0.899, and
    * planted near-exact duplicates (sim ≥ 0.99) are effectively never
    * missed (< 1e-9) — recall is driver-checked against the exact
    * all-pairs oracle (q_cosine_pairs_lsh).
    *
    * Scale shape: the banded self-join runs over a SLIM exploded
    * (vec_id, band, bucket) table of longs — embeddings are joined
    * back only for the (candidate-sized) verification stage. Per-band
    * candidate cost is Σ_bucket |bucket|², so bucket POPULATION, not
    * n, bounds the quadratic term — which is why the bucket width is
    * sized from the embedding checkpoint's row count (no extra job,
    * [[autoBits]]): 10⁹ vectors get ~22-bit buckets (≈256 rows each)
    * instead of 8-bit buckets holding 4M rows apiece (an accidental
    * all-pairs). More bits per band lowers per-band collision
    * probability; recall is restored by the band count and
    * multi-probing, and the planted-dup miss bound in the oracle holds
    * at any width ≥ 8 (p^bits terms only sharpen the S-curve). The
    * result is a measured checkpoint ([[graft.util.Blocks.checkpoint]])
    * that pins nothing else. */
  def cosinePairs(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    // materialize the caller's upstream plan exactly ONCE before
    // anything else; the bucket-width row count rides that job
    val (raw, n) = graft.util.Blocks.checkpoint(
      embeddings.select(col("vec_id"), col("embedding")))
    val bits = autoBits(n)
    // one kernel eval per (vector, band): the slim exploded
    // (vec_id, band, bucket) longs are checkpointed once; both join
    // sides scan the materialized longs, never the kernels, and the
    // verify stage joins embeddings back from `raw`
    val slim = graft.util.Blocks.checkpoint(raw.select(col("vec_id"),
        posexplode(array((0 until Bands).map(bd =>
          call_function("graft_lsh_bucket", col("embedding"), lit(bits),
            lit(Seed + bd * 7919))): _*)).as(Seq("band", "bucket"))))._1
    // multi-probe one side only: pair (a,b) collides iff
    // Hamming(bucket_a, bucket_b) ≤ 1 in some band — XOR-flipping side
    // a's bucket by 0 and by every one-bit mask covers exactly that set
    val masks = 0L +: (0 until bits).map(1L << _)
    val probed = slim.select(col("vec_id"), col("band"),
      explode(array(masks.map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val candPairs = probed.as("a").join(slim.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // the verified pairs are materialized so both inputs' blocks can
    // go now; the caller owns (and may release) the returned frame
    val (pairs, _) = graft.util.Blocks.checkpoint(candPairs
      .join(raw.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(raw.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("sim"))
      .filter(col("sim") >= threshold))
    graft.util.Blocks.releaseAll(Seq(raw, slim))
    pairs
  }

  /** [[cosinePairs]]' hyperplane families and their base seed. */
  private val Bands = 6
  private val Seed = 42

  /** Auto-sized hyperplane-bucket width for [[cosinePairs]]:
    * log2(n / 256) clamped to [8, 24] — ≈256-row buckets at any corpus
    * size, so the per-band Σ|bucket|² candidate term stays linear-ish
    * in n instead of quadratic in an under-split bucket population. */
  private[graft] def autoBits(n: Long): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1L).toDouble / 256L) / math.log(2.0)).toInt
    math.min(24, math.max(8, raw))
  }

  /** Exact brute-force all-pairs cosine ≥ τ (oracle-checkable variant;
    * O(n²) — small-table verification only). */
  def cosinePairsExact(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.embedding"),
          col("b.embedding")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
