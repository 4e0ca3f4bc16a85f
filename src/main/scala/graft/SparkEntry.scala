package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.canon.{EventCoref, Justifications, RelationClusters}
import graft.ops.{Clean, Dedup, Multimodal, Similarity, TextStats}
import graft.schema.{Membership, Mention, Prototype, Statement}
import graft.superedge.SuperEdges
import graft.synth.TranscriptSynth

/**
 * Driver contract (see SURVEY.md §2 for the operator inventory each
 * query exercises). Every SQL-expressible operator has a DuckDB
 * oracle in [[oracleSql]] with IDENTICAL column names and value
 * shapes; double-valued aggregates go through DECIMAL(18,4) partial
 * terms or round() so both engines emit bit-equal values.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Synth configs for the pipeline queries — shared with Verify's
    * golden-truth parquet dumps so the driver's DuckDB pass joins the
    * pipeline output against EXACTLY the corpus it was built from. */
  val KgTriplesCfg: TranscriptSynth.Config =
    TranscriptSynth.Config(nConvs = 80, turnsPerConv = 8)
  val KgEventsCfg: TranscriptSynth.Config =
    TranscriptSynth.Config(nConvs = 60, turnsPerConv = 8)
  /** The PipelineGoldenSpec corpus — the one the published P/R ≥ 0.95
    * claim is measured on. The smaller KgTriplesCfg verify corpus sits
    * at P=R≈0.949 (640 turns give TF-IDF/mode-vote too few repetitions
    * to outvote every planted typo — small-corpus statistics, recorded
    * faithfully by the q_kg_triples_golden verdict frame), so the
    * driver-side GATE runs the claim's own corpus. */
  val KgGateCfg: TranscriptSynth.Config =
    TranscriptSynth.Config(nConvs = 400, turnsPerConv = 10)

  /** The enumerable planted-truth triple set as a DataFrame. */
  def goldenTriplesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    TranscriptSynth.goldenTriples(KgTriplesCfg).toSeq.toDF()
  }

  /** Planted truth for the P/R-gate corpus ([[KgGateCfg]]). */
  def goldenGateTriplesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    TranscriptSynth.goldenTriples(KgGateCfg).toSeq.toDF()
  }

  /** The enumerable planted-truth event frames as a DataFrame. */
  def goldenEventFramesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    TranscriptSynth.goldenEventFrames(KgEventsCfg).toSeq
      .map { case ((etype, subj, obj, place, parts), n) =>
        (etype, subj, obj, place, parts, n) }
      .toDF("etype", "subj", "obj", "place", "participants", "golden_n")
  }

  /** The enumerable planted-truth prototype inventory (name, etype). */
  def goldenPrototypesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    TranscriptSynth.goldenPrototypes(KgEventsCfg).toSeq.toDF("name", "etype")
  }

  /** Planted-truth relation-cluster member counts at name granularity. */
  def goldenRelationCountsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    TranscriptSynth.goldenTripleCounts(KgEventsCfg).toSeq
      .map { case (t, n) => (t.subj, t.pred, t.obj, n) }
      .toDF("subj", "pred", "obj", "golden_n")
  }

  /** Flagship: end-to-end KG construction on a small deterministic
    * transcript corpus → corpus-level superedge triples. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = TranscriptSynth.Config(nConvs = 80, turnsPerConv = 8)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 8))
    r.triples.toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations (SURVEY §2.5) --------------------------------
    "q_count_by_type" -> ((s, d) => // A1: count per KE type
      t(s, d, "events").groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))),
    "q_group_count" -> ((s, d) => // A2: members per cluster
      t(s, d, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))),
    "q_argmax_per_group" -> ((s, d) => { // A3/W4: max-conf row per group.
      // ONE aggregate, not a window (round 6, guide §2.3):
      // max(struct(value, event_id)) is lexicographic — max value,
      // ties to the max event_id — exactly row_number() OVER
      // (ORDER BY value DESC, event_id DESC) = 1, with map-side
      // partial aggregation instead of a full per-partition sort
      // (value is never null/NaN in the fixture; the oracle
      // hash-checks equality)
      t(s, d, "events").groupBy(col("user_id"))
        .agg(max(struct(col("value"), col("event_id"))).as("best"))
        .select(col("user_id"), col("best.event_id").as("event_id"))
    }),
    "q_mode_tiebreak" -> ((s, d) => { // A5: mode with max tie-break.
      // max(struct(cnt, event_type)) ≡ row_number() OVER (ORDER BY cnt
      // DESC, event_type DESC) = 1 — the same window→aggregate rewrite
      // as q_argmax_per_group (round 6, guide §2.3)
      t(s, d, "events").groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("cnt"), col("event_type"))).as("best"))
        .select(col("user_id"), col("best.event_type").as("event_type"))
    }),
    "q_superedge_conf" -> ((s, d) => // A6+P12: count + 1-1/(2n)
      t(s, d, "events").groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("conf", lit(1.0) - lit(1.0) / (lit(2.0) * col("cnt")))),
    "q_avg_conf" -> ((s, d) => // A7: AVG via exact decimal terms
      t(s, d, "events").groupBy(col("event_type"))
        .agg((sum(col("value").cast("decimal(18,4)")) /
          count(lit(1))).cast("decimal(18,4)").cast("double").as("avg_value"))),
    "q_count_distinct" -> ((s, d) => // A8
      t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nusers"))),
    "q_group_concat" -> ((s, d) => // A9: sorted distinct concat
      t(s, d, "events").groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))),
    // ---- joins (SURVEY §2.3) ---------------------------------------
    "q_join_chain" -> ((s, d) => { // J1: 4-way equi-join chain + agg
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    "q_left_outer" -> ((s, d) => { // J2: OPTIONAL → left outer
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))
    }),
    "q_anti_join" -> ((s, d) => { // J5/J6: singleton synthesis shape
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    "q_union" -> ((s, d) => // J11: UNION of pattern alternatives
      t(s, d, "orders").select(col("o_custkey").as("id"))
        .union(t(s, d, "customer").select(col("c_custkey").as("id")))
        .distinct()),
    "q_intersect" -> ((s, d) => // §2.7: INTERSECT (customers with orders)
      t(s, d, "customer").select(col("c_custkey").as("id"))
        .intersect(t(s, d, "orders").select(col("o_custkey").as("id")))),
    "q_except" -> ((s, d) => // §2.7: EXCEPT (customers with no big order —
      // the price cut keeps the result non-empty at sf0.01)
      t(s, d, "customer").select(col("c_custkey").as("id"))
        .except(t(s, d, "orders").filter(col("o_totalprice") > 250000)
          .select(col("o_custkey").as("id")))),
    "q_two_hop" -> ((s, d) => { // J3: property-path (2-hop) join
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      t(s, d, "customer")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
    }),
    // ---- projections / scalars (SURVEY §2.2) ------------------------
    "q_distinct" -> ((s, d) => // P2
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),
    "q_suffix" -> ((s, d) => // P5: namespace-suffix extraction
      t(s, d, "orders").select(col("o_orderkey"),
        substring_index(col("o_orderpriority"), "-", -1).as("prio_word"))),
    "q_prefix_bucket" -> ((s, d) => // P6: prefix predicate → bucket
      t(s, d, "orders")
        .select(when(col("o_orderpriority").startsWith("1-"), col("o_orderpriority"))
          .otherwise(lit("others")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))),
    "q_json_extract" -> ((s, d) => // P7: JSON payload extraction
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),
    "q_coalesce_pref" -> ((s, d) => // P8: preference coalesce
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_returnflag"), lit("N")), col("l_linestatus")).as("flag"))),
    "q_substr_window" -> ((s, d) => // P14: context substring window
      t(s, d, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 50), lit("...")).as("head"))),
    "q_regex_clean" -> ((s, d) => // P4: regex rewrite/sanitize
      t(s, d, "part").select(col("p_partkey"),
        regexp_replace(lower(col("p_type")), "[^a-z0-9]+", "_").as("type_slug"))),
    // ---- windows / sorts (SURVEY §2.6) -------------------------------
    "q_topk" -> ((s, d) => // W1/W3: ranked report
      t(s, d, "events").groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id").asc).limit(10)),
    "q_stable_turn_order" -> ((s, d) => { // W5: stable per-conv ordering
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events").withColumn("turn_rank", row_number().over(w))
        .filter(col("turn_rank") <= 3)
        .select(col("user_id"), col("turn_rank"), col("event_id"))
    }),
    // ---- dedup / text / similarity ops -------------------------------
    "q_dedup_exact" -> ((s, d) => // exact dedup via content hash
      t(s, d, "documents").groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))),
    "q_token_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"))),
    "q_quality" -> ((s, d) => {
      val text = col("text")
      val nChars = length(text)
      val nPunct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
      val nUpper = nChars - length(regexp_replace(text, "[A-Z]", ""))
      val nWords = size(split(trim(text), "\\s+"))
      t(s, d, "documents").select(col("doc_id"), nChars.as("n_chars"),
        round(nPunct.cast("double") / greatest(nChars, lit(1)), 4).as("punct_ratio"),
        round(nUpper.cast("double") / greatest(nChars, lit(1)), 4).as("upper_ratio"),
        round(nChars.cast("double") / greatest(nWords, lit(1)), 4).as("mean_word_len"))
    }),
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))),
    "q_langid" -> ((s, d) => TextStats.langId(t(s, d, "documents"))),
    "q_wav_decode" -> ((s, d) => // REAL audio decode as an oracled row:
      // per-doc deterministic PCM payload → RIFF decoder → features
      // whose closed forms DuckDB re-derives exactly (Multimodal
      // scaladoc has the exactness argument)
      Multimodal.wavRoundTrip(t(s, d, "documents"))),
    "q_minhash_sigs" -> ((s, d) =>
      Dedup.minHashSignatures(t(s, d, "documents")).select(col("doc_id"),
        col("signature").cast("array<string>").cast("string").as("sig"))),
    "q_simhash" -> ((s, d) => Dedup.simHash(t(s, d, "documents"))),
    "q_ngram_jaccard" -> ((s, d) => { // consecutive-doc pair scoring
      val docs = t(s, d, "documents")
      val pairs = docs.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1).as("doc_b")) // inner joins drop missing doc_b
      Dedup.ngramJaccard(docs, pairs)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }),
    "q_near_dup_groups" -> ((s, d) => // LSH→jaccard→CC dedup grouping
      Dedup.nearDupClusters(t(s, d, "documents"))
        .orderBy(col("doc_id"))),
    // ---- corpus-cleaning ops (Clean.scala). The synthetic documents
    // are single-line word soup, so the queries PLANT deterministic
    // boilerplate/PII inline (same pattern as q_cosine_pairs_lsh's
    // planted near-dups): both engines derive the identical dirty
    // corpus, and the operator's whole pipeline (explode → df → strip
    // → ordered rebuild) is what the hash checks.
    "q_boilerplate_lines" -> ((s, d) => // line df inventory at minDf=40
      Clean.boilerplateLines(plantedBoilerplate(t(s, d, "documents")), 40L)
        .select(col("norm"), col("df"))),
    "q_strip_boilerplate" -> ((s, d) => // C4-style boilerplate removal:
      // header (all docs) + newsletter (docs ≡ 0 mod 10) lines dropped,
      // the two real text halves re-joined in original order
      Clean.stripBoilerplate(plantedBoilerplate(t(s, d, "documents")), 40L)),
    "q_repetition_ngrams" -> ((s, d) => // Gopher duplicate-bigram signal
      Clean.repetitionStats(t(s, d, "documents"))),
    "q_pii_redact" -> ((s, d) => // email/IPv4/phone redaction over docs
      // salted with deterministic per-doc PII so every row exercises
      // all three patterns
      Clean.redactPii(plantedPii(t(s, d, "documents")))
        .select(col("doc_id"), col("clean_text"))),
    "q_dedup_doc_lines" -> ((s, d) => // within-doc exact line dedup:
      // doc text split into 3 lines with the middle line duplicating
      // the first 30 chars of the head — planted repeat, first kept
      Clean.dedupDocLines(plantedRepeatLines(t(s, d, "documents")))),
    "q_ann_topk" -> ((s, d) => { // brute-force cosine top-k
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Similarity.bruteForceTopK(e, q, 10)
    }),
    "q_cosine_pairs" -> ((s, d) => { // embedding near-dup (exact small-n)
      Similarity.cosinePairsExact(
        t(s, d, "embeddings").filter(col("vec_id") < 200), 0.30)
    }),
    "q_cosine_pairs_lsh" -> ((s, d) => { // RECALL of the LSH-BLOCKED path:
      // the testdata embeddings hold no pairs above 0.95 (max sim
      // ≈0.51), so both engines plant a deterministic near-duplicate of
      // every vector (per-dim factors 1 + k/64, k ∈ [-3,3] — exact in
      // binary AND decimal, so Spark and DuckDB compute bit-identical
      // doubles) and the BLOCKED operator must find every planted pair
      // the oracle's exact all-pairs join finds — any banding recall
      // miss hash-mismatches this row.
      val base = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val dup = base
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * (lit(1.0) + ((col("vec_id") * 64 + i) % 7 - 3).cast("double") / lit(64.0)))
            .as("embedding"))
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Similarity.cosinePairs(base.unionByName(dup), 0.95)
    }),
    // ---- cluster-op shapes over testdata tables (DuckDB-oracled):
    // the REAL pipeline operators (RelationClusters / Justifications),
    // composed as Pipeline.stages composes them, driven by
    // deterministic statement/membership tables derived from `events`,
    // so the DuckDB oracle hash-checks the exact code paths the KG
    // pipeline runs.
    "q_relation_clusters" -> ((s, d) => {
      val (stmts, ms) = fabricatedStatements(s, d)
      // row-shaped: one row per member; n_members is the superedge cnt
      val r = SuperEdges.resolvedStatements(stmts, ms)
      RelationClusters.clusterFromResolved(r, SuperEdges.superEdgesFromResolved(r))
    }),
    "q_connected_components" -> ((s, d) => { // C4: the REAL CC operator,
      // DuckDB-oracled via a recursive-CTE transitive closure on a
      // deterministic bipartite user↔payload graph from `events`
      val ev = t(s, d, "events")
      val edges = ev
        .filter(col("user_id") < 200 &&
          get_json_object(col("props"), "$.k").isNotNull)
        .select(col("user_id").as("src"),
          (get_json_object(col("props"), "$.k").cast("long") + 100000L).as("dst"))
        .distinct()
      graft.cc.ConnectedComponents.run(edges)
        .select(col("sid"), col("component"))
    }),
    "q_event_coref" -> ((s, d) => { // C8 keying: the REAL EventCoref
      // operator over fabricated events/args/memberships, DuckDB-oracled
      val (events, args, ms) = fabricatedEvents(s, d)
      EventCoref.keyedEvents(events, args, ms)
        .select(col("event_id"), col("ekey"), col("cluster_id"))
    }),
    "q_superedge_justif" -> ((s, d) => { // superedge justification copy
      val (stmts, ms) = fabricatedStatements(s, d)
      Justifications.superEdgeJustificationsFromResolved(
        SuperEdges.resolvedStatements(stmts, ms))
    }),
    "q_proto_justi" -> ((s, d) => { // prototype justification copy-back
      val (mentions, ms, protos) = fabricatedClusters(s, d)
      Justifications.prototypeJustificationsFrom(
        Justifications.annotatedMembers(ms, mentions), protos)
    }),
    "q_inf_just" -> ((s, d) => { // A3 informative justification (conf argmax per doc)
      val (mentions, ms, _) = fabricatedClusters(s, d)
      Justifications.informativeJustificationsFrom(
        Justifications.annotatedMembers(ms, mentions))
    }),
    // ---- the KG pipeline itself (non-SQL; golden-tested in ScalaTest)
    "q_kg_triples" -> ((s, _) => {
      Pipeline.run(TranscriptSynth.turnsDs(s, KgTriplesCfg, partitions = 8)).triples.toDF()
    }),
    "q_kg_triples_golden" -> ((s, _) => { // pipeline ∪ golden full-outer
      // verdict — one row per triple in EITHER set. The DuckDB oracle
      // computes the same join from the q_kg_triples dump and the
      // golden parquet Verify writes, so pipeline parity (P/R at the
      // row level) becomes a hash-matched CORRECTNESS row instead of
      // living only in ScalaTest.
      val t = Pipeline.run(TranscriptSynth.turnsDs(s, KgTriplesCfg, partitions = 8))
        .triples.toDF()
      t.withColumn("inp", lit(true))
        .join(goldenTriplesDf(s).withColumn("ing", lit(true)),
          Seq("subj", "pred", "obj"), "full_outer")
        .select(col("subj"), col("pred"), col("obj"),
          coalesce(col("inp"), lit(false)).as("in_pipeline"),
          coalesce(col("ing"), lit(false)).as("in_golden"))
    }),
    "q_kg_parity_gate" -> ((s, _) => { // driver-side P/R GATE. The
      // _golden verdict frames are faithful RECORDS — both engines
      // recompute the same full-outer join from the same dumps, so
      // they hash-match even if the pipeline regresses. This row's
      // oracle instead PINS the two threshold booleans as literals
      // (and golden_total from the planted-truth parquet): a pipeline
      // P/R drop below the ScalaTest bar now fails CORRECTNESS itself,
      // independent of the test suite running. Runs [[KgGateCfg]] —
      // the PipelineGoldenSpec corpus the published claim is about.
      import s.implicits._
      val t = Pipeline.run(TranscriptSynth.turnsDs(s, KgGateCfg, partitions = 8))
        .triples.toDF().select(col("subj"), col("pred"), col("obj")).distinct()
      val g = goldenGateTriplesDf(s)
      val emitted = t.count()
      val golden = g.count()
      val matched = t.join(g, Seq("subj", "pred", "obj")).count()
      Seq((golden, matched * 100L >= emitted * 95L, matched * 100L >= golden * 95L))
        .toDF("golden_total", "precision_ok", "recall_ok")
    }),
    "q_kg_event_parity_gate" -> ((s, _) => { // event twin of the P/R
      // gate: the golden-spec bar (frame P/R ≥ 0.9 on KgEventsCfg, the
      // corpus the spec itself runs) pinned as oracle literals
      import s.implicits._
      val frames = namedEventFrames(
        Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8))).as("t")
      val g = goldenEventFramesDf(s).as("g")
      val emitted = frames.count()
      val golden = g.count()
      val matched = frames.join(g, sameEventFrame).count()
      Seq((golden, matched * 10L >= emitted * 9L, matched * 10L >= golden * 9L))
        .toDF("golden_total", "precision_ok", "recall_ok")
    }),
    "q_kg_relation_parity_gate" -> ((s, _) => { // relation twin:
      // coverage ≥ 0.9 of the planted fact multiplicities AND exact
      // per-cluster member counts on every matched triple — the
      // PipelineGoldenSpec relation assertions, driver-gated
      import s.implicits._
      val rel = namedRelations(Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8)))
      val g = goldenRelationCountsDf(s)
      val golden = g.count()
      val m = rel.join(g, Seq("subj", "pred", "obj"))
      val matched = m.count()
      val countsOk = m.filter(col("n_members") =!= col("golden_n")).count() == 0L
      Seq((golden, matched * 10L >= golden * 9L, countsOk))
        .toDF("golden_total", "coverage_ok", "counts_ok")
    }),
    "q_kg_prototypes" -> ((s, _) => {
      Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8))
        .prototypes.toDF()
        .select(col("cluster_id"), col("name"), col("etype"), col("n_members"))
    }),
    "q_kg_prototypes_golden" -> ((s, _) => { // prototype twin of
      // q_kg_triples_golden: full-outer verdict of the pipeline's
      // (name, etype) prototype inventory vs the planted families
      val p = Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8))
        .prototypes.toDF().select(col("name"), col("etype")).distinct()
      p.withColumn("inp", lit(true))
        .join(goldenPrototypesDf(s).withColumn("ing", lit(true)),
          Seq("name", "etype"), "full_outer")
        .select(col("name"), col("etype"),
          coalesce(col("inp"), lit(false)).as("in_pipeline"),
          coalesce(col("ing"), lit(false)).as("in_golden"))
    }),
    "q_kg_relations_golden" -> ((s, _) => { // relation-cluster twin:
      // full-outer the name-level (subj, pred, obj, n_members) clusters
      // ([[namedRelations]]) against the planted fact multiplicities.
      // The DuckDB oracle re-derives the same join from the
      // q_kg_relation_clusters + q_kg_prototypes dumps.
      val rel = namedRelations(Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8)))
      rel.join(goldenRelationCountsDf(s), Seq("subj", "pred", "obj"), "full_outer")
        .select(col("subj"), col("pred"), col("obj"),
          col("n_members"), col("golden_n"))
    }),
    "q_kg_event_prototypes" -> ((s, _) => { // C8: event coreference output
      namedEventFrames(Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8)))
    }),
    "q_kg_events_golden" -> ((s, _) => { // event twin of q_kg_triples_golden:
      // full-outer verdict of pipeline event frames vs planted truth,
      // null-safe on the optional place/participants key columns
      val frames = namedEventFrames(
        Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8))).as("t")
      val g = goldenEventFramesDf(s).as("g")
      frames.join(g, sameEventFrame, "full_outer")
        .select(
          coalesce(col("t.etype"), col("g.etype")).as("etype"),
          coalesce(col("t.subj"), col("g.subj")).as("subj"),
          coalesce(col("t.obj"), col("g.obj")).as("obj"),
          coalesce(col("t.place"), col("g.place")).as("place"),
          coalesce(col("t.participants"), col("g.participants")).as("participants"),
          col("t.n_members").as("n_members"), col("g.golden_n").as("golden_n"))
    }),
    "q_kg_relation_clusters" -> ((s, _) => { // C6 wired into pipeline output
      RelationClusters.summary(
        Pipeline.run(TranscriptSynth.turnsDs(s, KgEventsCfg, partitions = 8))
          .relationClusters)
        .select(col("rel_key"), col("n_members"))
    })
  )

  /** A run's relation clusters at name level: (subj, pred, obj,
    * n_members), parsed from the injective rel_key
    * ("<pred>|obj:c:<md5>,subj:c:<md5>" — the sorted link set always
    * orders obj before subj) with cluster ids resolved to prototype
    * names. */
  private def namedRelations(r: Pipeline.Result): DataFrame = {
    val names = r.prototypes.toDF().select(col("cluster_id"), col("name"))
    RelationClusters.summary(r.relationClusters)
      .select(
        split(col("rel_key"), "\\|").getItem(0).as("pred"),
        regexp_extract(col("rel_key"), "obj:([^,]+)", 1).as("obj_cluster"),
        regexp_extract(col("rel_key"), "subj:([^,]+)$", 1).as("subj_cluster"),
        col("n_members"))
      .join(names.select(col("cluster_id").as("subj_cluster"), col("name").as("subj")),
        Seq("subj_cluster"))
      .join(names.select(col("cluster_id").as("obj_cluster"), col("name").as("obj")),
        Seq("obj_cluster"))
      .select(col("subj"), col("pred"), col("obj"), col("n_members"))
  }

  /** A run's named event frames: (etype, subj, obj, place,
    * participants, n_members). */
  private def namedEventFrames(r: Pipeline.Result): DataFrame =
    EventCoref.namedFrames(r.eventClusters, r.eventArgs, r.memberships, r.prototypes)
      .select(col("etype"), col("subj"), col("obj"), col("place"),
        col("participants"), col("n_members"))

  /** Event-frame equality between frames aliased `t` and `g`, null-safe
    * on the optional place/participants columns. */
  private def sameEventFrame: Column =
    col("t.etype") === col("g.etype") && col("t.subj") === col("g.subj") &&
      col("t.obj") === col("g.obj") && (col("t.place") <=> col("g.place")) &&
      (col("t.participants") <=> col("g.participants"))

  /** Deterministic "dirty" corpus for the boilerplate rows: a shared
    * header line spliced into the MIDDLE of every doc (so the rebuild
    * must preserve the order of the two real halves around it) and a
    * newsletter line appended to docs ≡ 0 (mod 10). Mirrored verbatim
    * in the DuckDB oracle SQL. */
  private def plantedBoilerplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      substring(col("text"), 1, 50), lit("\n"),
      lit("generated by example corp all rights reserved"), lit("\n"),
      expr("substring(text, 51)"),
      when(col("doc_id") % 10 === 0,
        lit("\nsubscribe to our newsletter for updates")).otherwise(lit("")))
      .as("text"))

  /** Deterministic per-doc PII suffix: one email, one IPv4, one
    * US-style phone per row, all doc_id-derived. */
  private def plantedPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
      lit(" call 555-86"), (col("doc_id") % 10).cast("string"), lit("-5309 now"))
      .as("text"))

  /** Deterministic within-doc repeated line: head(30) appears as both
    * line 0 and line 2 — the dedup must keep the first occurrence. */
  private def plantedRepeatLines(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      substring(col("text"), 1, 30), lit("\n"),
      expr("substring(text, 31)"), lit("\n"),
      substring(col("text"), 1, 30)).as("text"))

  /** Deterministic Statement/Membership tables over `events` — the
    * DuckDB-replicable harness for the cluster-op oracle queries:
    * each event row is a "statement" (subj = user, obj = the JSON k
    * payload), memberships assign both ends to mod-50 buckets. */
  private def fabricatedStatements(s: SparkSession, d: String): (Dataset[Statement], Dataset[Membership]) = {
    import s.implicits._
    // defensively drop NULL-keyed payload rows on BOTH the Spark
    // fabrication and the DuckDB SQL: inner membership joins would drop
    // them on the Spark side only, so the harness stays robust if the
    // fixture ever grows missing $.k
    val ev = t(s, d, "events")
      .filter(get_json_object(col("props"), "$.k").isNotNull)
    val stmts = ev.select(
      col("event_id").cast("string").as("stmt_id"),
      col("user_id").cast("string").as("subj"),
      col("event_type").as("pred"),
      get_json_object(col("props"), "$.k").as("obj"),
      col("value").as("conf"),
      col("user_id").cast("string").as("conv_id"),
      lit(0).as("turn_idx"), lit(0).as("start_off"), lit(1).as("end_off"),
      // no surface keys on fabricated statements — these fixtures
      // exercise the membership-join path (schema requires the cols)
      lit(null).cast("string").as("subj_etype"),
      lit(null).cast("string").as("subj_norm"),
      lit(null).cast("string").as("subj_link"),
      lit(null).cast("string").as("obj_etype"),
      lit(null).cast("string").as("obj_norm"),
      lit(null).cast("string").as("obj_link"))
      .as[Statement]
    val members = ev.select(col("user_id").cast("long").as("mid"))
      .union(ev.select(get_json_object(col("props"), "$.k").cast("long").as("mid")))
      .distinct()
    val ms = members.select(
      concat(lit("c"), pmod(col("mid"), lit(50)).cast("string")).as("cluster_id"),
      col("mid").cast("string").as("member_id"),
      lit(1.0).as("conf")).as[Membership]
    (stmts, ms)
  }

  /** Deterministic event-mention/arg/membership tables over `events`
    * for the event-coreference oracle: each event row is an "event
    * mention" of type event_type with Subject = user bucket and
    * Object = JSON-k bucket arguments (same mod-50 membership scheme
    * as [[fabricatedStatements]]). */
  private def fabricatedEvents(s: SparkSession, d: String): (Dataset[Mention], DataFrame, Dataset[Membership]) = {
    import s.implicits._
    val ev = t(s, d, "events")
      .filter(get_json_object(col("props"), "$.k").isNotNull)
    val events = ev.select(
      col("event_id").cast("string").as("mention_id"),
      col("user_id").cast("string").as("conv_id"),
      lit(0).as("turn_idx"),
      lit("event").as("kind"),
      col("event_type").as("etype"),
      col("event_type").as("name"),
      col("event_type").as("norm_name"),
      lit(0).as("start_off"), lit(1).as("end_off"),
      col("value").as("conf"),
      lit(null).cast("string").as("link_target")).as[Mention]
    // three roles — exercises the arbitrary-arity role-set fold in
    // EventCoref.keyedEvents (not just the Subject/Object pair)
    val args = ev.select(col("event_id").cast("string").as("event_id"),
        lit("Subject").as("role"), col("user_id").cast("string").as("arg_id"))
      .unionByName(ev.select(col("event_id").cast("string").as("event_id"),
        lit("Object").as("role"),
        get_json_object(col("props"), "$.k").as("arg_id")))
      .unionByName(ev.select(col("event_id").cast("string").as("event_id"),
        lit("Context").as("role"),
        pmod(col("event_id"), lit(1000)).cast("string").as("arg_id")))
    val members = ev.select(col("user_id").cast("long").as("mid"))
      .union(ev.select(get_json_object(col("props"), "$.k").cast("long").as("mid")))
      .union(ev.select(pmod(col("event_id"), lit(1000)).cast("long").as("mid")))
      .distinct()
    val ms = members.select(
      concat(lit("c"), pmod(col("mid"), lit(50)).cast("string")).as("cluster_id"),
      col("mid").cast("string").as("member_id"),
      lit(1.0).as("conf")).as[Membership]
    (events, args, ms)
  }

  /** Deterministic Mention/Membership/Prototype tables over `events`
    * for the justification copy-back oracles: each event is a
    * "mention" justified at (conv = user bucket, span = ts-derived),
    * clustered by event_type. */
  private def fabricatedClusters(s: SparkSession, d: String): (Dataset[Mention], Dataset[Membership], Dataset[Prototype]) = {
    import s.implicits._
    val ev = t(s, d, "events")
    val mentions = ev.select(
      col("event_id").cast("string").as("mention_id"),
      concat(lit("doc"), pmod(col("user_id"), lit(20)).cast("string")).as("conv_id"),
      pmod(col("event_id"), lit(7)).cast("int").as("turn_idx"),
      lit("entity").as("kind"),
      col("event_type").as("etype"),
      col("event_type").as("name"),
      col("event_type").as("norm_name"),
      lit(0).as("start_off"),
      pmod(col("event_id"), lit(100)).cast("int").as("end_off"),
      col("value").as("conf"),
      lit(null).cast("string").as("link_target")).as[Mention]
    val ms = ev.select(
      concat(lit("c:"), col("event_type")).as("cluster_id"),
      col("event_id").cast("string").as("member_id"),
      lit(1.0).as("conf")).as[Membership]
    val protos = ev.select(col("event_type")).distinct().select(
      concat(lit("p:"), col("event_type")).as("prototype_id"),
      concat(lit("c:"), col("event_type")).as("cluster_id"),
      lit("entity").as("kind"),
      col("event_type").as("name"),
      col("event_type").as("etype"),
      lit(null).cast("string").as("link_target"),
      lit(0L).as("n_members")).as[Prototype]
    (mentions, ms, protos)
  }

  def oracleSql: Map[String, String] = Map(
    "q_count_by_type" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
    "q_group_count" ->
      "SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey",
    "q_argmax_per_group" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "q_mode_tiebreak" ->
      """SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type DESC) AS rn
        |  FROM (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2) c) t
        |WHERE rn = 1""".stripMargin,
    "q_superedge_conf" ->
      """SELECT user_id, event_type, count(*) AS cnt,
        |       1.0 - 1.0/(2.0*count(*)) AS conf
        |FROM events GROUP BY user_id, event_type""".stripMargin,
    "q_avg_conf" ->
      """SELECT event_type,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) / count(*) AS DECIMAL(18,4)) AS DOUBLE) AS avg_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS nusers FROM events GROUP BY event_type",
    "q_group_concat" ->
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id""".stripMargin,
    "q_join_chain" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_left_outer" ->
      """SELECT c_custkey, o_orderkey FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_union" ->
      "SELECT o_custkey AS id FROM orders UNION SELECT c_custkey AS id FROM customer",
    "q_intersect" ->
      "SELECT c_custkey AS id FROM customer INTERSECT SELECT o_custkey AS id FROM orders",
    "q_except" ->
      "SELECT c_custkey AS id FROM customer EXCEPT SELECT o_custkey AS id FROM orders WHERE o_totalprice > 250000",
    "q_two_hop" ->
      """SELECT c_custkey, r_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_suffix" ->
      "SELECT o_orderkey, split_part(o_orderpriority, '-', 2) AS prio_word FROM orders",
    "q_prefix_bucket" ->
      """SELECT CASE WHEN o_orderpriority LIKE '1-%' THEN o_orderpriority ELSE 'others' END AS bucket,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "q_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",
    "q_coalesce_pref" ->
      """SELECT l_orderkey, l_linenumber,
        |       coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag
        |FROM lineitem""".stripMargin,
    "q_substr_window" ->
      "SELECT doc_id, substr(text, 1, 50) || '...' AS head FROM documents",
    "q_regex_clean" ->
      """SELECT p_partkey, regexp_replace(lower(p_type), '[^a-z0-9]+', '_', 'g') AS type_slug
        |FROM part""".stripMargin,
    "q_topk" ->
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin,
    "q_stable_turn_order" ->
      """SELECT user_id, turn_rank, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS turn_rank
        |  FROM events) t WHERE turn_rank <= 3""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens
        |FROM documents""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 4) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 4) AS upper_ratio,
        |  round(length(text) * 1.0
        |        / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mean_word_len
        |FROM documents""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    // closed forms of the WAV round-trip features: samples are k/2^15
    // (exact doubles), squares k^2/2^30 (exact), divisors are powers of
    // two, sqrt is correctly rounded in both engines, and both sides
    // cast to float32 — so the hash matches bit-exactly, proving the
    // RIFF/fmt/data decoder against pure arithmetic
    "q_wav_decode" ->
      """WITH s AS (SELECT doc_id,
        |    ((doc_id*37) % 2001 - 1000)/32768.0 AS sa,
        |    ((doc_id*73) % 4001 - 2000)/32768.0 AS sb
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(0.015625 AS REAL) AS dur_s,
        |  CAST(sqrt((sa*sa + sb*sb)/2) AS REAL) AS rms,
        |  CAST(CASE WHEN (sa>0) <> (sb>0) THEN 1.0/128 ELSE 0 END AS REAL) AS zcr,
        |  CAST((abs(sa)+abs(sb))/2 AS REAL) AS mean_abs,
        |  CAST(greatest(abs(sa), abs(sb)) AS REAL) AS peak
        |FROM s""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(norm)-4, 1)+1),
        |                               i -> norm[i:i+4])) AS s
        |  FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / greatest(length(list_distinct(list_concat(a.s, b.s))), 1), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // corpus-cleaning ops: the dirty corpus is derived IDENTICALLY in
    // both engines (planted header/newsletter/PII — see
    // plantedBoilerplate/plantedPii/plantedRepeatLines above)
    "q_boilerplate_lines" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         substr(text, 1, 50) || chr(10) ||
        |         'generated by example corp all rights reserved' || chr(10) ||
        |         substr(text, 51) ||
        |         CASE WHEN doc_id % 10 = 0
        |              THEN chr(10) || 'subscribe to our newsletter for updates'
        |              ELSE '' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, trim(lower(unnest(string_split(text, chr(10))))) AS norm
        |  FROM dirty)
        |SELECT norm, count(DISTINCT doc_id) AS df
        |FROM lines WHERE norm <> ''
        |GROUP BY norm HAVING count(DISTINCT doc_id) >= 40""".stripMargin,
    "q_strip_boilerplate" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         substr(text, 1, 50) || chr(10) ||
        |         'generated by example corp all rights reserved' || chr(10) ||
        |         substr(text, 51) ||
        |         CASE WHEN doc_id % 10 = 0
        |              THEN chr(10) || 'subscribe to our newsletter for updates'
        |              ELSE '' END AS text
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        |           (x, i) -> {'idx': i, 'line': x})) AS u
        |  FROM dirty),
        |lines AS (
        |  SELECT doc_id, u.idx AS idx, u.line AS line,
        |         trim(lower(u.line)) AS norm
        |  FROM ex),
        |bp AS (
        |  SELECT norm FROM lines WHERE norm <> ''
        |  GROUP BY norm HAVING count(DISTINCT doc_id) >= 40),
        |kept AS (
        |  SELECT doc_id, idx, line FROM lines
        |  WHERE norm NOT IN (SELECT norm FROM bp)),
        |reb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(reb.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN reb USING (doc_id)""".stripMargin,
    "q_repetition_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split(
        |           regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |           x -> x <> '') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(ws[2:], (x, i) -> ws[i] || ' ' || x)) AS bigram
        |  FROM w WHERE len(ws) >= 2),
        |agg AS (
        |  SELECT doc_id, count(*) AS n, count(DISTINCT bigram) AS nd
        |  FROM bg GROUP BY doc_id)
        |SELECT w.doc_id,
        |       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(agg.n - agg.nd, 0) AS BIGINT) AS n_dup
        |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_pii_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |              || ' call 555-86' || CAST(doc_id % 10 AS VARCHAR) || '-5309 now' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean_text
        |FROM dirty""".stripMargin,
    "q_dedup_doc_lines" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         substr(text, 1, 30) || chr(10) || substr(text, 31) ||
        |         chr(10) || substr(text, 1, 30) AS text
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        |           (x, i) -> {'idx': i, 'line': x})) AS u
        |  FROM dirty),
        |lines AS (
        |  SELECT doc_id, u.idx AS idx, u.line AS line,
        |         trim(lower(u.line)) AS norm
        |  FROM ex),
        |kept AS (
        |  SELECT doc_id, idx, line FROM (
        |    SELECT doc_id, idx, line, norm,
        |           row_number() OVER (PARTITION BY doc_id, norm ORDER BY idx) AS rn
        |    FROM lines) r
        |  WHERE rn = 1 OR norm = ''),
        |agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM dirty d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,
    "q_relation_clusters" ->
      """WITH s AS (
        |  SELECT CAST(event_id AS VARCHAR) AS stmt_id,
        |         CAST(user_id AS VARCHAR) AS subj,
        |         event_type AS pred,
        |         json_extract_string(props, '$.k') AS obj
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |j AS (
        |  SELECT stmt_id, pred,
        |         'c' || CAST(CAST(subj AS BIGINT) % 50 AS VARCHAR) AS sc,
        |         'c' || CAST(CAST(obj AS BIGINT) % 50 AS VARCHAR) AS oc
        |  FROM s),
        |k AS (
        |  SELECT stmt_id,
        |         pred || '|' ||
        |         least('subj:' || sc, 'obj:' || oc) || ',' ||
        |         greatest('subj:' || sc, 'obj:' || oc) AS rel_key
        |  FROM j)
        |SELECT 'rc:' || md5(rel_key) AS relation_cluster_id, rel_key,
        |       stmt_id,
        |       count(*) OVER (PARTITION BY rel_key) AS n_members
        |FROM k""".stripMargin,
    "q_langid" ->
      """WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, CAST(
        |      (length(p)-length(replace(p,' der ','')))/5
        |    + (length(p)-length(replace(p,' und ','')))/5
        |    + (length(p)-length(replace(p,' die ','')))/5
        |    + (length(p)-length(replace(p,' nicht ','')))/7 AS BIGINT) AS score FROM padded
        |  UNION ALL
        |  SELECT doc_id, 'en', CAST(
        |      (length(p)-length(replace(p,' the ','')))/5
        |    + (length(p)-length(replace(p,' and ','')))/5
        |    + (length(p)-length(replace(p,' of ','')))/4
        |    + (length(p)-length(replace(p,' to ','')))/4 AS BIGINT) FROM padded
        |  UNION ALL
        |  SELECT doc_id, 'es', CAST(
        |      (length(p)-length(replace(p,' el ','')))/4
        |    + (length(p)-length(replace(p,' que ','')))/5
        |    + (length(p)-length(replace(p,' los ','')))/5
        |    + (length(p)-length(replace(p,' una ','')))/5 AS BIGINT) FROM padded
        |  UNION ALL
        |  SELECT doc_id, 'fr', CAST(
        |      (length(p)-length(replace(p,' le ','')))/4
        |    + (length(p)-length(replace(p,' la ','')))/4
        |    + (length(p)-length(replace(p,' et ','')))/4
        |    + (length(p)-length(replace(p,' les ','')))/5 AS BIGINT) FROM padded),
        |r AS (SELECT doc_id, lang, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn,
        |        max(score) OVER (PARTITION BY doc_id) AS mx
        |      FROM s)
        |SELECT doc_id, CASE WHEN mx = 0 THEN 'en' ELSE lang END AS pred_lang
        |FROM r WHERE rn = 1""".stripMargin,
    "q_connected_components" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT user_id AS src,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) + 100000 AS dst
        |  FROM events
        |  WHERE user_id < 200 AND json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        |reach(v, u) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src)
        |SELECT v AS sid, min(u) AS component FROM reach GROUP BY v""".stripMargin,
    "q_event_coref" ->
      """SELECT event_id,
        |       event_type || '|' || array_to_string(list_sort([sub, obj, ctx]), ',') AS ekey,
        |       'ec:' || md5(event_type || '|' || array_to_string(list_sort([sub, obj, ctx]), ',')) AS cluster_id
        |FROM (
        |  SELECT CAST(event_id AS VARCHAR) AS event_id, event_type,
        |         'Subject:c' || CAST(user_id % 50 AS VARCHAR) AS sub,
        |         'Object:c' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 50 AS VARCHAR) AS obj,
        |         'Context:c' || CAST(event_id % 1000 % 50 AS VARCHAR) AS ctx
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL) t""".stripMargin,
    "q_superedge_justif" ->
      """SELECT 'c' || CAST(user_id % 50 AS VARCHAR) AS subj_proto,
        |       event_type AS pred,
        |       'c' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 50 AS VARCHAR) AS obj_proto,
        |       CAST(event_id AS VARCHAR) AS stmt_id,
        |       CAST(user_id AS VARCHAR) AS conv_id,
        |       0 AS turn_idx, 0 AS start_off, 1 AS end_off,
        |       value AS conf
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,
    "q_proto_justi" ->
      """SELECT 'p:' || event_type AS prototype_id,
        |       'c:' || event_type AS cluster_id,
        |       CAST(event_id AS VARCHAR) AS member_id,
        |       'doc' || CAST(user_id % 20 AS VARCHAR) AS conv_id,
        |       CAST(event_id % 7 AS INTEGER) AS turn_idx,
        |       0 AS start_off,
        |       CAST(event_id % 100 AS INTEGER) AS end_off,
        |       value AS conf
        |FROM events""".stripMargin,
    "q_inf_just" ->
      """SELECT cluster_id, conv_id, member_id, turn_idx, start_off, end_off, conf FROM (
        |  SELECT 'c:' || event_type AS cluster_id,
        |         'doc' || CAST(user_id % 20 AS VARCHAR) AS conv_id,
        |         CAST(event_id AS VARCHAR) AS member_id,
        |         CAST(event_id % 7 AS INTEGER) AS turn_idx,
        |         0 AS start_off,
        |         CAST(event_id % 100 AS INTEGER) AS end_off,
        |         value AS conf,
        |         row_number() OVER (
        |           PARTITION BY event_type, user_id % 20
        |           ORDER BY value DESC, CAST(event_id AS VARCHAR) ASC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "q_ann_topk" ->
      """SELECT vec_id,
        |       round(list_cosine_similarity(embedding::DOUBLE[],
        |             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_near_dup_groups" ->
      // EXACT all-pairs ground truth for the full LSH→Jaccard→CC dedup
      // pipeline: char-5-shingle jaccard ≥ 0.8 all-pairs (the size
      // prefilter is a sound bound: j ≥ τ ⇒ min|s| ≥ τ·max|s|, so it
      // drops no qualifying pair) + recursive-CTE connected components
      // + min-id canonical. A MinHash-LSH banding recall miss on any
      // true pair hash-mismatches this oracle.
      """WITH RECURSIVE d AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(norm)-4, 1)+1),
        |                               i -> norm[i:i+4])) AS s
        |  FROM d),
        |p AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE length(a.s) >= 0.8*length(b.s) AND length(b.s) >= 0.8*length(a.s)
        |        AND CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
        |            / greatest(length(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |reach(v, u) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
        |comp AS (SELECT v AS doc_id, min(u) AS canon FROM reach GROUP BY v)
        |SELECT d.doc_id,
        |       coalesce(comp.canon, d.doc_id) AS canon_id,
        |       coalesce(comp.canon, d.doc_id) <> d.doc_id AS is_dup
        |FROM d LEFT JOIN comp ON comp.doc_id = d.doc_id""".stripMargin,
    "q_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 200)
        |SELECT * FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) t
        |WHERE sim >= 0.30""".stripMargin,
    "q_cosine_pairs_lsh" ->
      // EXACT all-pairs ground truth for the banded/multi-probe LSH
      // cosine near-dup path, over the same deterministically-planted
      // near-duplicates the Spark side builds (1 + k/64 per-dim factors
      // are exact in both decimal and binary floating point, so the two
      // engines agree bitwise; DuckDB list_transform's index is
      // 1-based, hence the (i-1)). Every recall miss of the BLOCKED
      // operator is a missing row here → hash mismatch.
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |pert AS (SELECT vec_id,
        |  list_transform(emb, (x, i) ->
        |    x * (1.0 + (CAST(((vec_id*64 + (i-1)) % 7) - 3 AS DOUBLE) / 64.0))) AS emb
        |  FROM base),
        |dup AS (SELECT vec_id + 100000 AS vec_id, emb FROM pert),
        |e AS (SELECT * FROM base UNION ALL SELECT * FROM dup)
        |SELECT * FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) t
        |WHERE sim >= 0.95""".stripMargin,
    // ---- pipeline parity rows. __GRAFT_OUT__ is substituted by Verify
    // with the absolute dump directory: the oracle joins the
    // deterministic q_kg_* pipeline dumps (written in the same Verify
    // run) against the planted-truth golden parquet (also written by
    // Verify from the enumerable pure functions in TranscriptSynth) —
    // so the full pipeline output hash-matches in CORRECTNESS, not
    // just in ScalaTest golden specs.
    "q_kg_parity_gate" ->
      """SELECT (SELECT count(*)
        |        FROM read_parquet('__GRAFT_OUT__/_golden_gate_triples/*.parquet'))
        |         AS golden_total,
        |       true AS precision_ok, true AS recall_ok""".stripMargin,
    "q_kg_event_parity_gate" ->
      """SELECT (SELECT count(*)
        |        FROM read_parquet('__GRAFT_OUT__/_golden_event_frames/*.parquet'))
        |         AS golden_total,
        |       true AS precision_ok, true AS recall_ok""".stripMargin,
    "q_kg_relation_parity_gate" ->
      """SELECT (SELECT count(*)
        |        FROM read_parquet('__GRAFT_OUT__/_golden_relation_counts/*.parquet'))
        |         AS golden_total,
        |       true AS coverage_ok, true AS counts_ok""".stripMargin,
    "q_kg_triples_golden" ->
      """SELECT coalesce(t.subj, g.subj) AS subj,
        |       coalesce(t.pred, g.pred) AS pred,
        |       coalesce(t.obj, g.obj) AS obj,
        |       t.subj IS NOT NULL AS in_pipeline,
        |       g.subj IS NOT NULL AS in_golden
        |FROM read_parquet('__GRAFT_OUT__/q_kg_triples/*.parquet') t
        |FULL JOIN read_parquet('__GRAFT_OUT__/_golden_triples/*.parquet') g
        |  ON t.subj = g.subj AND t.pred = g.pred AND t.obj = g.obj""".stripMargin,
    "q_kg_events_golden" ->
      """SELECT coalesce(t.etype, g.etype) AS etype,
        |       coalesce(t.subj, g.subj) AS subj,
        |       coalesce(t.obj, g.obj) AS obj,
        |       coalesce(t.place, g.place) AS place,
        |       coalesce(t.participants, g.participants) AS participants,
        |       t.n_members AS n_members, g.golden_n AS golden_n
        |FROM read_parquet('__GRAFT_OUT__/q_kg_event_prototypes/*.parquet') t
        |FULL JOIN read_parquet('__GRAFT_OUT__/_golden_event_frames/*.parquet') g
        |  ON t.etype = g.etype AND t.subj = g.subj AND t.obj = g.obj
        | AND t.place IS NOT DISTINCT FROM g.place
        | AND t.participants IS NOT DISTINCT FROM g.participants""".stripMargin,
    "q_kg_prototypes_golden" ->
      """SELECT coalesce(t.name, g.name) AS name,
        |       coalesce(t.etype, g.etype) AS etype,
        |       t.name IS NOT NULL AS in_pipeline,
        |       g.name IS NOT NULL AS in_golden
        |FROM (SELECT DISTINCT name, etype
        |      FROM read_parquet('__GRAFT_OUT__/q_kg_prototypes/*.parquet')) t
        |FULL JOIN read_parquet('__GRAFT_OUT__/_golden_prototypes/*.parquet') g
        |  ON t.name = g.name AND t.etype = g.etype""".stripMargin,
    "q_kg_relations_golden" ->
      """WITH rel AS (
        |  SELECT p2.name AS subj,
        |         split_part(rc.rel_key, '|', 1) AS pred,
        |         p1.name AS obj,
        |         rc.n_members
        |  FROM read_parquet('__GRAFT_OUT__/q_kg_relation_clusters/*.parquet') rc
        |  JOIN read_parquet('__GRAFT_OUT__/q_kg_prototypes/*.parquet') p1
        |    ON p1.cluster_id = regexp_extract(rc.rel_key, 'obj:([^,]+)', 1)
        |  JOIN read_parquet('__GRAFT_OUT__/q_kg_prototypes/*.parquet') p2
        |    ON p2.cluster_id = regexp_extract(rc.rel_key, 'subj:([^,]+)$', 1))
        |SELECT coalesce(rel.subj, g.subj) AS subj,
        |       coalesce(rel.pred, g.pred) AS pred,
        |       coalesce(rel.obj, g.obj) AS obj,
        |       rel.n_members AS n_members, g.golden_n AS golden_n
        |FROM rel
        |FULL JOIN read_parquet('__GRAFT_OUT__/_golden_relation_counts/*.parquet') g
        |  ON rel.subj = g.subj AND rel.pred = g.pred AND rel.obj = g.obj""".stripMargin,
    // ---- independent from-spec hash oracle rows. DuckDB has no
    // xxhash64, so these two compare against expected parquet Verify
    // writes from graft.oracle.RefHash — a from-scratch implementation
    // of the PUBLIC xxHash64 spec plus plain-java.lang.String
    // re-derivations of the normalize/shingle/vote contracts, sharing
    // no code with the Catalyst kernels or Spark's internal XXH64 —
    // so a defect in either side surfaces as a driver hash mismatch.
    "q_minhash_sigs" ->
      "SELECT doc_id, sig FROM read_parquet('__GRAFT_OUT__/_expected_minhash_sigs/*.parquet')",
    "q_simhash" ->
      "SELECT doc_id, simhash FROM read_parquet('__GRAFT_OUT__/_expected_simhash/*.parquet')"
  )
}
