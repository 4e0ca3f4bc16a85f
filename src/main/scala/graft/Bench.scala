package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.synth.TranscriptSynth

/**
 * Benchmark main. Headline metric: end-to-end KG-pipeline throughput
 * in turns/sec on the deterministic synthetic transcript corpus
 * (BASELINE.md protocol), plus per-query timings of representative
 * operators over the sf-dir parquet tables.
 *
 * Scaling protocol: run with SPARK_GRAFT_CPUS=8 then =32 on the same
 * input; efficiency = tput(32) / (4 × tput(8)). See BASELINE.md.
 */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** (steal, total-busy) cpu jiffies from /proc/stat — the sandbox VM
    * shows hypervisor steal comparable to user time, so every bench
    * line carries the steal observed DURING the run; numbers with
    * high steal_sec are weather, not engine. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next().trim.split("\\s+") finally f.close()
      val vals = cpu.drop(1).map(_.toLong)
      (vals.lift(7).getOrElse(0L), vals.take(3).sum)
    } catch { case _: Exception => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // ≥2M turns so the pipeline number measures the engine's data
    // path, not the ~100-stage local-mode scheduling floor
    // (BASELINE.md "Post-fix (G1) single-run data points")
    val pipeTurns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TURNS", "2000000").toLong
    val spark = Sessions.local(cpus, "graft-bench")
    val (steal0, busy0) = cpuJiffies()

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      timings(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    /** min-of-2 for the per-query section: the r4 artifact shipped
      * 5-10× "regressions" on unchanged queries measured once inside a
      * capped window; two samples under one-sided noise cost seconds
      * and kill most of that illusion (the headline gets the full
      * bracketing-canary treatment instead). */
    def timedMin2(name: String)(f: => Unit): Unit = {
      def one(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      timings(name) = math.min(one(), one())
    }
    /** One measured run with its BRACKETING canaries: a ~2s pre-run
      * canary cannot see a throughput cap that arrives mid-run (a 362s
      * run shipped as "ok" in r4 exactly this way), so each run is
      * classified on min(pre, post). */
    final case class Run(sec: Double, stealSec: Double, cPre: Double, cPost: Double) {
      def canary: Double = math.min(cPre, cPost)
    }
    val pipelineRuns = scala.collection.mutable.ArrayBuffer.empty[Run]
    var weather = "ok"
    var selectedRun: Option[Run] = None
    var tailCanaryFrac = -1.0
    // committed quiet-window kernel rate per core (r3/r4, see below)
    val quietCanaryPerCore = 66e6
    def emit(nTriples: Long, nTurns: Long, turnsPerSec: Double): Unit = {
      val (steal1, busy1) = cpuJiffies()
      val qs = timings.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val runsJson = pipelineRuns
        .map { r =>
          f"""{"sec":${r.sec}%.1f,"steal_sec":${r.stealSec}%.1f,""" +
            f""""canary_pre_rows_per_sec":${r.cPre}%.0f,"canary_post_rows_per_sec":${r.cPost}%.0f}""" }
        .mkString("[", ",", "]")
      println(
        f"""{"metric":"total","value":${timings.values.sum}%.3f,"unit":"sec","queries":$qs,""" +
          f""""sf":"$sfDir","bench_turns":$nTurns,"kg_triples":$nTriples,""" +
          f""""turns_per_sec":$turnsPerSec%.1f,"cores":$cpus,""" +
          f""""pipeline_runs":$runsJson,"weather":"$weather",""" +
          selectedRun.map(r => f""""selected_canary_frac":${
            r.canary / (quietCanaryPerCore * cpus)}%.2f,""").getOrElse("") +
          (if (tailCanaryFrac >= 0)
             f""""queries_tail_canary_frac":$tailCanaryFrac%.2f,""" else "") +
          f""""steal_sec":${(steal1 - steal0) / 100.0}%.1f,"busy_sec":${(busy1 - busy0) / 100.0}%.1f}""")
    }

    // 1. headline: full KG pipeline over synthetic transcripts.
    // min of 2 runs: the sandbox VM shows heavy hypervisor steal time
    // (cumulative steal ≈ user in /proc/stat), so single-run wall
    // clock is unreliable; min is the cleanest estimator under
    // one-sided noise (also absorbs first-run JIT).
    var nTriples = 0L
    var lastResult: Pipeline.Result = null
    val cfg = TranscriptSynth.Config(
      nConvs = (pipeTurns / 10).toInt, turnsPerConv = 10)

    val machineCores = Runtime.getRuntime.availableProcessors()
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "4").toInt
    // quietCanaryPerCore (declared above for the emit closure):
    // committed quiet-window kernel rate 2.16e9 rows/s at 32 cores
    // (r3, 19 steal-sec window), 1.85e9 re-measured r4; per-core ≈
    // 66M rows/s. 8-core quiet windows ran ~92M/core.
    def canary(): Double = {
      import org.apache.spark.sql.functions.{bit_count, col, sum, xxhash64}
      // scaled with cores (not floored at 2e9): ~1s in a quiet window
      // at ANY core count — the old floor made the canary several-fold
      // slower on low-core runs (the scaling-ladder rows)
      val n = 62_500_000L * cpus
      val t0 = System.nanoTime()
      // the committed constant was measured with this exact
      // expression: change the kernel and the constant is void
      spark.range(0, n, 1, cpus * 2)
        .select(sum(bit_count(xxhash64(col("id"), xxhash64(col("id"), col("id"))))))
        .head()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    // 0.7×: a 50%-of-quiet window (passed by the old 0.5 gate by 0.2%)
    // measured kg_pipeline at 60.6s vs 19.7-24s in 75-81% windows —
    // the alloc-heavy pipeline degrades FASTER than the alloc-free
    // canary kernel, so a borderline canary means a far-from-border
    // pipeline. Known-quiet windows (canary ≥75%) clear 0.7 easily.
    val canaryGate = 0.7 * quietCanaryPerCore * cpus
    def quietFrac(sec: Double, stealSec: Double): Double =
      stealSec / math.max(sec * machineCores, 1e-9)
    // 5%: measured windows show <2% steal on good runs, 9% on runs
    // still 4x off the engine number — 10% admitted weather as "quiet"
    def isQuiet(r: Run): Boolean =
      quietFrac(r.sec, r.stealSec) < 0.05 && r.canary >= canaryGate
    /** THE SELECTED RUN IS THE GATED RUN: headline = min over runs that
      * are BOTH low-steal and double-canary-clean; only if no run
      * qualifies fall back to min-of-all and self-label the weather
      * (r4 shipped a 171s headline as "ok" because a DIFFERENT run
      * passed the gate while the min run's own canary failed it). */
    def selectHeadline(): Double = {
      val quiet = pipelineRuns.filter(isQuiet)
      val chosen =
        if (quiet.nonEmpty) { weather = "ok"; quiet.minBy(_.sec) }
        else {
          weather = if (pipelineRuns.exists(_.canary < canaryGate)) "capped"
                    else "high_steal"
          pipelineRuns.minBy(_.sec)
        }
      selectedRun = Some(chosen)
      chosen.sec
    }

    // SPARK_GRAFT_BENCH_MODE=extract → the data-dominant stage alone,
    // min-of-2 (per-stage scaling evidence for the floor attribution);
    // per-run steal + canary ride the pipeline_runs field so every
    // scaling-ladder row is weather-annotated
    if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("extract")) {
      canary() // JIT warmup
      def oneExtract(name: String): Unit = {
        val cPre = canary()
        val (s0, _) = cpuJiffies()
        timed(name) { MentionExtractor_forceCount(spark, cfg) }
        val (s1, _) = cpuJiffies()
        pipelineRuns += Run(timings(name), (s1 - s0) / 100.0, cPre, canary())
      }
      oneExtract("extract_1")
      oneExtract("extract_2")
      var tries = 2
      while (!pipelineRuns.exists(isQuiet) && tries < maxRuns) {
        tries += 1; oneExtract(s"extract_$tries")
      }
      timings("extract_only") = selectHeadline()
      emit(0L, cfg.nTurns, cfg.nTurns / timings("extract_only"))
      spark.stop()
      return
    }

    def onePipeline(): Double = {
      // drop the previous run's checkpoint blocks first, and BLOCK on
      // it: event-log profiling showed run 2's ke checkpoint at 5-19x
      // run 1's executor time (run=1568s gc=448s vs run=82s gc=9s for
      // identical work) when the async unpersist left run 1's blocks
      // resident through run 2's allocation burst. The explicit gc
      // compacts the heap before the next measurement — standard bench
      // hygiene, not production advice.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val t0 = System.nanoTime()
      val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = cpus * 2))
      nTriples = r.triples.count()
      lastResult = r
      (System.nanoTime() - t0) / 1e9
    }
    // WEATHER-AWARE headline. This sandbox has TWO weather modes that
    // make wall clock lie about the engine (BASELINE.md, quantified):
    //  (a) hypervisor steal bursts — visible in /proc/stat steal;
    //  (b) an aggregate machine-throughput CAP — cores busy, steal ≈ 0,
    //      zero added throughput (the same binary measured 16s and
    //      176s minutes apart). Invisible to the steal gate, so every
    //      run is preceded by a ~2s CANARY: the allocation-free codegen
    //      kernel rate (the `canary` kernel above), compared to the
    //      committed quiet-window constant. A capped window suppresses
    //      the canary the same way it suppresses the pipeline.
    // Protocol: min-of-2 always; keep re-running (bounded) until one
    // run is BOTH low-steal AND double-canary-clean, and report the
    // weather OF THE SELECTED RUN in the JSON (`weather`), with per-run
    // steal + both canaries so a reader can judge each sample.
    canary() // throwaway JIT warmup: a cold first canary reads ~4× low
    while (pipelineRuns.size < 2 ||
        (!pipelineRuns.exists(isQuiet) && pipelineRuns.size < maxRuns)) {
      val cPre = canary()
      val (s0, _) = cpuJiffies()
      val sec = onePipeline()
      val (s1, _) = cpuJiffies()
      pipelineRuns += Run(sec, (s1 - s0) / 100.0, cPre, canary())
    }
    timings("kg_pipeline") = selectHeadline()
    val turnsPerSec = cfg.nTurns / timings("kg_pipeline")

    // SPARK_GRAFT_BENCH_MODE=pipeline → headline only (the N vs 4N
    // scaling-protocol runs; see BASELINE.md)
    val pipelineOnly = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("pipeline")
    if (pipelineOnly) {
      emit(nTriples, cfg.nTurns, turnsPerSec)
      spark.stop()
      return
    }


    // 1b. the full KG output surface beyond triples: event coreference,
    // relation clusters, justification/link aggregation + copy-backs
    // (lazy plans over the run's checkpointed stages)
    timed("kg_full_outputs") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val r = lastResult
      // independent outputs over the same checkpointed upstreams:
      // submit concurrently so their stages overlap (what a real
      // deployment's parallel writers do), instead of serial actions
      val outs = Seq(r.eventPrototypes.toDF(), r.relationClusters,
        r.informativeJustifications, r.clusterLinks,
        r.protoJustifications, r.superEdgeJustifications)
      Await.result(Future.sequence(outs.map(df => Future(force(df)))), Duration.Inf)
      r.unpersist() // release the shared annotated-members cache
    }

    // 2. extraction-only throughput (mention detection stage)
    timedMin2("extract_only") {
      MentionExtractor_forceCount(spark, cfg)
    }

    // 3. representative table operators at the bench scale factor
    val q = SparkEntry.queries
    Seq("q_join_chain", "q_mode_tiebreak", "q_group_concat",
      "q_stable_turn_order", "q_dedup_exact", "q_minhash_sigs",
      "q_simhash", "q_token_count", "q_langid", "q_ann_topk",
      "q_cosine_pairs", "q_strip_boilerplate", "q_repetition_ngrams",
      "q_pii_redact").foreach { name =>
      timedMin2(name) {
        try force(q(name)(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
      }
    }
    // weather context for the (min-of-2, otherwise ungated) per-query
    // section: one canary after the section, reported as a fraction of
    // the quiet constant
    tailCanaryFrac = canary() / (quietCanaryPerCore * cpus)

    emit(nTriples, cfg.nTurns, turnsPerSec)
    spark.stop()
  }

  private def MentionExtractor_forceCount(spark: SparkSession, cfg: TranscriptSynth.Config): Long = {
    import spark.implicits._
    graft.extract.MentionExtractor
      .extract(TranscriptSynth.turnsDs(spark, cfg,
        partitions = spark.sparkContext.defaultParallelism * 2))
      .flatMap(_.mentions).count()
  }
}
