package graft.link

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.{MatchEdge, Mention}

/**
 * Cross-document entity linking: blocking-key candidate generation +
 * TF-IDF cosine scoring over surface-name tokens → match edges.
 *
 * Replaces the reference's externalized `gaia-clustering` submodule
 * using exactly the features its contract exposes (SURVEY.md §2.4;
 * json heads carry name/type/linkTarget,
 * /root/reference/update_kg/Updater.py:302-321). NIL link targets
 * never block-match (the reference's DUMMY:%d semantics,
 * json_head/get_json_head.py:18-20).
 *
 * Scale design (10^12 mentions): all pairwise work happens on
 * DISTINCT SURFACE FORMS (etype, norm_name, link_target) — orders of
 * magnitude smaller than mentions — never on raw mentions. Blocks are
 * hard-capped (maxBlock) so candidate generation is O(Σ|block|²) with
 * bounded |block|; scoring is a token-level distributed join (no
 * driver-side vocabulary). Catalyst plans each join from measured
 * checkpoint sizes ([[graft.util.Blocks.checkpoint]]) or parquet file
 * sizes; the edges do not depend on it (LinkerSpec forces sort-merge).
 */
object Linker {

  final case class Config(
      threshold: Double = 0.65,
      maxBlock: Int = 1000,
      minTokenLen: Int = 2)

  /** Distinct surface forms with a deterministic Long id.
    * Output columns: sid, etype, norm_name, link_target, n_mentions,
    * skey. `skey` is the surface key and `sid` its id ([[sid]]) — a
    * pure codegen projection (no global sort, no RDD round-trip),
    * stable across runs and parallelism levels (determinism contract,
    * SURVEY.md §7.4). */
  def surfaces(mentions: Dataset[Mention]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions.toDF()
      .filter($"kind" === "entity")
      .groupBy($"etype", $"norm_name", $"link_target")
      .agg(count(lit(1)).as("n_mentions"))
      .withColumn("skey", skey($"etype", $"norm_name", $"link_target"))
      .withColumn("sid", xxhash64($"skey"))
  }

  /** The surface key: the fields joined with \u0001 (escape), each
    * NULL field mapped to a \u0002-escape sentinel, so distinct tuples
    * never collide into one key and null stays distinct from "". */
  private def skey(etype: Column, norm: Column, link: Column): Column =
    concat_ws("\u0001", Seq(etype, norm, link).map(coalesce(_, lit("\u0002"))): _*)

  /** The surface id of (etype, norm, link): xxhash64 of its surface
    * key. Every dictionary lookup is one `Long` equi-join of this
    * expression on the looked-up side against [[surfaces]]' `sid`.
    * 64-bit id collisions are vanishingly rare below ~10^9 distinct
    * surfaces; [[matchEdgesFrom]] checks countDistinct(sid)==count(*)
    * on the same job that computes the IDF corpus size and fails
    * loudly rather than silently merging. */
  def sid(etype: Column, norm: Column, link: Column): Column =
    xxhash64(skey(etype, norm, link))

  /** Per-surface weighted token vectors over SORTED-CHAR-MULTISET
    * keys ("cyberdyne" and its transposition typo "cybredyne" map to
    * the same key — typo-invariant matching with no edit-distance
    * pass), IDF-weighted over the surface universe. Anagram
    * collisions between distinct real words are rare and additionally
    * gated by the cosine threshold + etype blocking. */
  private[link] def tokenVectors(surf: DataFrame, cfg: Config,
      nSurfaces: Long): DataFrame = {
    val spark = surf.sparkSession
    import spark.implicits._
    val toks = surf
      .select($"sid", $"etype", explode(split($"norm_name", " ")).as("tok0"))
      .withColumn("tokc", regexp_replace($"tok0", "[^a-z0-9]", ""))
      .filter(length($"tokc") >= 1)
      .select($"sid", $"etype",
        // single-letter tokens ("j." initials) become distinguishing
        // "i:<ch>" tokens — two different-initial abbreviations of the
        // same last name must NOT have identical vectors
        when(length($"tokc") >= cfg.minTokenLen,
          concat(lit("s:"), array_join(array_sort(split($"tokc", "")), "")))
          .otherwise(concat(lit("i:"), $"tokc")).as("tok"))
      .distinct()
    val df = toks.groupBy($"tok").agg(countDistinct($"sid").as("df"))
    toks.join(df, "tok")
      .withColumn("w", log(lit(1.0) + lit(nSurfaces.toDouble) / $"df"))
      .select($"sid", $"etype", $"tok", $"w")
  }

  /** Candidate pairs (sid1 < sid2) sharing an (etype, informative
    * token) block. Oversized blocks are dropped (cap), bounding join
    * fan-out — the explicit skew defense on hot names (SURVEY.md
    * §7.4.3). Surfaces sharing a non-NIL link target need no candidate
    * here: [[matchEdgesFrom]] star-connects each such group. */
  private[link] def candidatePairs(toks: DataFrame, cfg: Config): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val keys = toks
      .filter($"tok".startsWith("s:")) // initial tokens don't block-match
      .select($"sid", concat_ws("\u0001", $"etype", $"tok").as("bkey"))
    val sizes = keys.groupBy($"bkey").agg(count(lit(1)).as("bsz"))
      .filter($"bsz" >= 2 && $"bsz" <= cfg.maxBlock)
    val kept = keys.join(sizes, "bkey").select($"bkey", $"sid")
    kept.as("a").join(kept.as("b"), $"a.bkey" === $"b.bkey" && $"a.sid" < $"b.sid")
      .select($"a.sid".as("sid1"), $"b.sid".as("sid2"))
      .distinct()
  }

  /** TF-IDF cosine over shared tokens, computed as a distributed
    * token join (dot product) against precomputed norms. */
  private[link] def score(pairs: DataFrame, toks: DataFrame): DataFrame = {
    val norms = toks.groupBy(col("sid")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val t1 = toks.select(col("sid").as("sid1"), col("tok"), col("w").as("w1"))
    val t2 = toks.select(col("sid").as("sid2"), col("tok"), col("w").as("w2"))
    pairs
      .join(t1, "sid1")
      .join(t2, Seq("sid2", "tok"))
      .groupBy(col("sid1"), col("sid2"))
      .agg(sum(col("w1") * col("w2")).as("dot"))
      .join(norms.withColumnRenamed("sid", "sid1").withColumnRenamed("nrm", "n1"), "sid1")
      .join(norms.withColumnRenamed("sid", "sid2").withColumnRenamed("nrm", "n2"), "sid2")
      .select(col("sid1"), col("sid2"), (col("dot") / (col("n1") * col("n2"))).as("score"))
  }

  /** Abbreviation edges for persons: "J. Smith" ≡ "John Smith" iff
    * the abbreviation keys (first-initial | rest-of-name) are equal
    * AND at least one side is actually an initial form — two distinct
    * full first names sharing an initial never merge this way. */
  private[link] def abbrevPairs(surf: DataFrame): DataFrame = {
    val spark = surf.sparkSession
    import spark.implicits._
    val first = regexp_replace(split($"norm_name", " ")(0), "[^a-z0-9]", "")
    val rest = concat_ws(" ", slice(split($"norm_name", " "), 2, 1000))
    val persons = surf
      .filter($"etype" === lit(graft.extract.Lexicon.PER) &&
        size(split($"norm_name", " ")) >= 2)
      .select($"sid",
        concat(substring(first, 1, 1), lit("|"), rest).as("akey"),
        // sorted-char signature: typo variants of the same first name
        // count as ONE expansion, not two
        array_join(array_sort(split(first, "")), "").as("fkey"),
        (length(first) === 1).as("isInitial"))
    // ambiguity guard: an initial form attaches to a full form only
    // when exactly ONE distinct full-name expansion exists for its key
    // ("M. Smith" with both "Maria Smith" and "Marco Smith" present
    // stays unresolved instead of chain-merging two real entities)
    val fulls = persons.filter(!$"isInitial").select($"sid", $"akey", $"fkey")
    val uniqueFulls = fulls.groupBy($"akey")
      .agg(countDistinct($"fkey").as("nfull"), min($"sid").as("fsid"))
      .filter($"nfull" === 1)
    persons.filter($"isInitial").select($"sid", $"akey")
      .join(uniqueFulls, "akey")
      .filter($"sid" =!= $"fsid")
      .select(least($"sid", $"fsid").as("sid1"), greatest($"sid", $"fsid").as("sid2"))
  }

  /** Match edges: cosine ≥ threshold, exact non-NIL link-target
    * equality (the strong EDL signal — reference linkTarget feature),
    * or person-abbreviation key equality, over a precomputed
    * (checkpointed or snapshot-read) [[surfaces]] table. */
  def matchEdgesFrom(surf: DataFrame, cfg: Config = Config()): Dataset[MatchEdge] = {
    val spark = surf.sparkSession
    import spark.implicits._
    // one job: IDF corpus size + the xxhash64 sid collision guard
    val sizes = surf.agg(count(lit(1)), countDistinct($"sid")).head()
    val (nSurf, nSid) = (sizes.getLong(0), sizes.getLong(1))
    require(nSurf == nSid,
      s"surface id hash collision: $nSurf surfaces, $nSid distinct sids")
    val toks = graft.util.Blocks.checkpoint(tokenVectors(surf, cfg, nSurf))._1
    val pairs = candidatePairs(toks, cfg)
    // suffix veto: "acme corp" vs "acme group" share a rare stem but
    // denote different organizations — when both names end in a known
    // (already synonym-normalized) org suffix and the suffixes differ,
    // the pair can never match on cosine alone
    val sufList = graft.extract.Lexicon.orgSuffixes.toSeq.map(graft.extract.Lexicon.normToken).distinct
    def sufOf(c: Column) = {
      val last = element_at(split(c, " "), -1)
      when(last.isin(sufList: _*), last)
    }
    val sufs = surf.select($"sid", sufOf($"norm_name").as("suf"))
    val scored = score(pairs, toks)
      .join(sufs.withColumnRenamed("sid", "sid1").withColumnRenamed("suf", "suf1"), "sid1")
      .join(sufs.withColumnRenamed("sid", "sid2").withColumnRenamed("suf", "suf2"), "sid2")
      .filter($"suf1".isNull || $"suf2".isNull || $"suf1" === $"suf2")
    // star edges, not all-pairs: connected components only needs
    // connectivity, so each (etype, link_target) group links every
    // surface to the group's min-sid representative — O(k) edges per
    // group where the quadratic self-join emitted k², the uncapped
    // skew hole a hot KB target would otherwise open.
    val linkPairs = {
      val l = surf.filter($"link_target".isNotNull)
        .select($"sid", $"etype", $"link_target")
      val reps = l.groupBy($"etype", $"link_target")
        .agg(min($"sid").as("rep"), count(lit(1)).as("gsz"))
        .filter($"gsz" >= 2)
        .drop("gsz")
      l.join(reps, Seq("etype", "link_target"))
        .filter($"sid" =!= $"rep")
        .select(least($"sid", $"rep").as("sid1"),
          greatest($"sid", $"rep").as("sid2"))
    }
    // materialize the (small, surface-scale) edge list so the token-
    // vector checkpoint — reachable only through this plan — can be
    // released HERE instead of pinning TF-IDF vectors for the rest of
    // the session (every caller forces the edge list immediately:
    // connected components' first round, or the snapshot write)
    val edges = graft.util.Blocks.checkpoint(scored.filter($"score" >= cfg.threshold)
      .select($"sid1", $"sid2")
      .unionByName(linkPairs)
      .unionByName(abbrevPairs(surf))
      .distinct()
      .select($"sid1".as("src"), $"sid2".as("dst")))._1
    graft.util.Blocks.release(toks)
    edges.as[MatchEdge]
  }
}
