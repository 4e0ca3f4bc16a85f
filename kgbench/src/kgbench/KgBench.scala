package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.KgBenchAccess
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main, Pipeline, Sessions}
import graft.schema.{Triple, Turn}
import graft.snapshot.SnapshotStore
import graft.synth.TranscriptSynth

/**
 * The KG benchmark harness. One process runs one workload:
 *
 *   kgbench.KgBench --workload kg_batch|kg_snapshot --seed N --seconds S
 *                   --trace 0|1 --work DIR [--turns N] [--corrupt-triples]
 *
 * It generates the workload's parquet inputs from the seed, sets up (a
 * session with GraftExtensions plus one warm-up `Pipeline.run`, whose
 * triples are the reference every later result must equal), measures
 * whole iterations while one more fits in `--seconds`, checks every output,
 * and prints the metrics as the last stdout line in JSON. With
 * `--trace 1` it adds a traced run and prints per-layer metrics instead
 * (see [[Traced]]). `kgbench/README.md` defines every metric.
 */
object KgBench {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, turns: Int, corrupt: Boolean)

  val Workloads = Seq("kg_batch", "kg_snapshot")
  val DefaultTurns = Map("kg_batch" -> 10000, "kg_snapshot" -> 5000)
  val Cores = 4
  val TurnsPerConv = 10
  val DedupJaccard = 0.9
  val Banner = "Zorblatt Industries founded Quuxware Labs."
  /** The per-iteration end-to-end metrics (besides set-up and triple P/R). */
  val EndToEnd = Seq("run_s" -> "s", "turns_per_s" -> "1/s", "cpu_s" -> "s", "peak_heap_mb" -> "MB")

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = kv.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Opts(w, kv("seed").toLong, kv("seconds").toInt, kv.getOrElse("trace", "0") == "1",
      kv("work"), kv.get("turns").map(_.toInt).getOrElse(DefaultTurns(w)),
      args.contains("--corrupt-triples"))
  }

  // ---- results ---------------------------------------------------------

  /** Metrics in print order plus the attempted/failed tally. Every run,
    * batch and check is one attempt; a failed one prints why. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L

    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; println(s"CHECK FAILED $name $detail") }
      ok
    }

    def json: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** (q1, median, q3) by linear interpolation between order statistics. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def q(p: Double): Double = {
      val h = (s.size - 1) * p; val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
    (q(0.25), q(0.5), q(0.75))
  }

  // ---- inputs ----------------------------------------------------------

  def synthConfig(o: Opts): TranscriptSynth.Config =
    TranscriptSynth.Config(nConvs = o.turns / TurnsPerConv, turnsPerConv = TurnsPerConv, seed = o.seed)

  /** The clean corpus as parquet. */
  def writeClean(spark: SparkSession, cfg: TranscriptSynth.Config, dir: String): Unit =
    TranscriptSynth.turnsDs(spark, cfg).write.mode("overwrite").parquet(dir)

  /** The clean corpus plus a re-ingested copy of every third
    * conversation and one identical trigger-bearing system turn appended
    * to every conversation (copies included). */
  def writePlanted(spark: SparkSession, cleanDir: String, cfg: TranscriptSynth.Config,
      dir: String): Unit = {
    import spark.implicits._
    val base = spark.read.parquet(cleanDir).as[Turn]
    val withCopies = base.unionByName(
      base.filter(t => t.conv_id.drop(4).toLong % 3 == 0)
        .map(t => t.copy(conv_id = t.conv_id + "-reingest")))
    val banners = withCopies.filter(_.turn_idx == 0)
      .map(t => t.copy(turn_idx = cfg.turnsPerConv, role = "system", text = Banner, tool = null))
    withCopies.unionByName(banners).write.mode("overwrite").parquet(dir)
  }

  // ---- shared helpers --------------------------------------------------

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Counts the triples and forces the six lazy outputs concurrently, the
    * way `graft.Bench` forces them. */
  def forceOutputs(r: Pipeline.Result): Long = {
    val n = r.triples.count()
    val outs = Seq(r.eventPrototypes.toDF(), r.relationClusters, r.informativeJustifications,
      r.clusterLinks, r.protoJustifications, r.superEdgeJustifications)
    Await.result(Future.sequence(outs.map(df => Future(noop(df)))), Duration.Inf)
    n
  }

  def tripleSet(df: DataFrame): Set[Triple] =
    df.select("subj", "pred", "obj").collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2))).toSet

  /** Self-test hook: damages a triple set so its checks must fail. */
  def corrupt(o: Opts, t: Set[Triple]): Set[Triple] =
    if (!o.corrupt) t else t.drop(1) + Triple("Nobody", "corrupted", "Nothing")

  def checkTriples(rep: Report, what: String, got: Set[Triple], reference: Set[Triple],
      golden: Set[Triple]): (Double, Double) = {
    val tp = (got intersect golden).size.toDouble
    val p = if (got.isEmpty) 0.0 else tp / got.size
    val r = tp / golden.size
    rep.check(s"$what.equals_reference", got == reference,
      s"missing=${(reference -- got).take(3)} extra=${(got -- reference).take(3)}")
    rep.check(s"$what.precision", p >= 0.95, f"P=$p%.4f")
    rep.check(s"$what.recall", r >= 0.95, f"R=$r%.4f")
    (p, r)
  }

  def dirMb(root: String): Double = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0.0
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / 1e6
      finally walk.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
  }

  /** Wall seconds of `f`, with every listener event of its jobs delivered. */
  def timed[T](spark: SparkSession)(f: => T): (T, Double, Long, Long) = {
    val fromMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    KgBenchAccess.drainListeners(spark.sparkContext)
    (r, s, fromMs, System.currentTimeMillis())
  }

  /** Whether another whole iteration, as long as the average so far,
    * still fits the measuring window. The first always runs. */
  def fits(windowStartNs: Long, done: Int, seconds: Int): Boolean = {
    val elapsed = (System.nanoTime() - windowStartNs) / 1e9
    done == 0 || elapsed + elapsed / done <= seconds
  }

  /** One measured iteration with its weather. */
  final case class Sample(values: Map[String, Double], stealS: Double, busyS: Double)

  def printSamples(workload: String, samples: Seq[Sample]): Unit =
    samples.zipWithIndex.foreach { case (s, i) =>
      val vs = s.values.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")
      println(f"sample $workload iter=${i + 1} $vs host.steal_s=${s.stealS}%.2f host.busy_s=${s.busyS}%.2f")
    }

  /** Reports the median of each per-iteration value and prints its quartiles. */
  def putMedians(rep: Report, samples: Seq[Sample], units: Seq[(String, String)]): Unit =
    units.foreach { case (k, u) =>
      val (q1, m, q3) = quartiles(samples.map(_.values(k)))
      rep.put(k, m, u)
      println(f"quartiles $k q1=$q1%.4f median=$m%.4f q3=$q3%.4f n=${samples.size}")
    }

  // ---- main ------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val spark = Sessions.local(Cores, "kgbench")
    require(spark.catalog.functionExists("graft_minhash_sig"),
      "graft.functions.GraftExtensions is not registered")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    import spark.implicits._

    // inputs, outside all timing
    val cfg = synthConfig(o)
    val cleanDir = s"${o.work}/input/clean"
    writeClean(spark, cfg, cleanDir)
    val clean = spark.read.parquet(cleanDir).as[Turn]
    val golden = TranscriptSynth.goldenTriples(cfg)

    // set-up: the warm-up pass; its triples are this seed's reference
    val t0 = System.nanoTime()
    val warm = Pipeline.run(clean)
    if (o.workload == "kg_batch") forceOutputs(warm) // as its iterations do
    val reference = tripleSet(warm.triples.toDF())
    val warmupS = (System.nanoTime() - t0) / 1e9
    val referenceCounts = if (o.trace) Traced.outputCounts(warm) else Map.empty[String, Long]
    warm.unpersist()
    System.gc()
    println(f"setup session_s=$sessionS%.3f warmup_s=$warmupS%.3f reference_triples=${reference.size}")

    val rep = new Report
    o.workload match {
      case "kg_batch" =>
        val untraced = batch(spark, o, clean, reference, golden, rep, stats)
        if (o.trace) {
          val traced = new Traced(spark, stats, rep, o)
          traced.batch(clean, reference, referenceCounts, golden, untraced)
        }
      case "kg_snapshot" =>
        val plantedDir = s"${o.work}/input/planted"
        writePlanted(spark, cleanDir, cfg, plantedDir)
        val planted = spark.read.parquet(plantedDir).as[Turn]
        // the manifest watcher only observes, so the traced cold call
        // stands in for the untraced one
        if (o.trace) new Traced(spark, stats, rep, o).snapshot(cfg, clean, planted, reference, golden)
        else snapshot(spark, o, cfg, planted, reference, golden, rep, stats)
    }
    if (!o.trace) rep.put("setup_s", sessionS + warmupS, "s")
    spark.stop()
    if (rep.attempted > 0)
      println(f"failed_frac ${rep.failed.toDouble / rep.attempted}%.4f (${rep.failed} of ${rep.attempted})")
    rep.metrics.foreach { case (k, (v, u)) => println(s"metric $k ${num(v)} $u") }
    println(rep.json)
  }

  // ---- kg_batch --------------------------------------------------------

  /** `Pipeline.run` over the clean corpus, repeated until the window
    * closes. Returns the median run wall (the untraced baseline). */
  def batch(spark: SparkSession, o: Opts, clean: Dataset[Turn], reference: Set[Triple],
      golden: Set[Triple], rep: Report, stats: TaskStats): Double = {
    val nTurns = clean.count()
    val samples = mutable.ArrayBuffer.empty[Sample]
    var pr = (0.0, 0.0)
    val windowStart = System.nanoTime()
    while (fits(windowStart, samples.size, o.seconds)) {
      val h0 = Host.now()
      val (r, runS, fromMs, toMs) = timed(spark) {
        val r = Pipeline.run(clean); forceOutputs(r); r
      }
      val cpu = stats.window(fromMs, toMs).cpuS
      val (steal, busy) = Host.now() - h0
      val heap = Heap.liveMb()
      rep.check("kg_batch.run", true)
      pr = checkTriples(rep, "kg_batch", corrupt(o, tripleSet(r.triples.toDF())), reference, golden)
      r.unpersist()
      System.gc()
      samples += Sample(Map("run_s" -> runS, "turns_per_s" -> nTurns / runS, "cpu_s" -> cpu,
        "peak_heap_mb" -> heap), steal, busy)
    }
    printSamples("kg_batch", samples.toSeq)
    if (!o.trace) {
      putMedians(rep, samples.toSeq, EndToEnd)
      rep.put("triple_precision", pr._1, "ratio")
      rep.put("triple_recall", pr._2, "ratio")
    }
    median(samples.map(_.values("run_s")).toSeq)
  }

  // ---- kg_snapshot -----------------------------------------------------

  def runMain(spark: SparkSession, planted: Dataset[Turn], store: SnapshotStore, o: Opts,
      cfg: TranscriptSynth.Config): Long =
    Main.runResumable(spark, planted, store, inputId = s"kgbench-planted-seed${o.seed}",
      dedupJaccard = Some(DedupJaccard), stripBoilerplateMinConvs = Some(cfg.nConvs.toLong))

  /** A resume call: every stage read back, the same triple count, no
    * manifest entry written. Returns its wall seconds. */
  def checkResume(spark: SparkSession, planted: Dataset[Turn], store: SnapshotStore, o: Opts,
      cfg: TranscriptSynth.Config, coldCount: Long, rep: Report): Double = {
    val written = store.manifestEntries()
    val (n, s, _, _) = timed(spark)(runMain(spark, planted, store, o, cfg))
    rep.check("kg_snapshot.resume_same_count", n == coldCount, s"cold=$coldCount resume=$n")
    rep.check("kg_snapshot.resume_writes_nothing", store.manifestEntries() == written,
      s"entries ${written.size} -> ${store.manifestEntries().size}")
    s
  }

  /** The conversations the planting copied, paired with their copies. */
  def plantedPairs(cfg: TranscriptSynth.Config): Seq[(String, String)] =
    (0 until cfg.nConvs).filter(_ % 3 == 0).map { c =>
      val id = f"conv$c%08d"; (id, id + "-reingest") }

  /** Checks a finished store's ops stages; returns (flagged, dup recall, false flags). */
  def checkOps(spark: SparkSession, store: SnapshotStore, cfg: TranscriptSynth.Config,
      rep: Report): (Long, Double, Long) = {
    val flagged = store.read(spark, "dedup_canon").get.filter(col("is_dup"))
      .select("conv_id").collect().map(_.getString(0)).toSet
    val pairs = plantedPairs(cfg)
    val hits = pairs.count { case (a, b) => flagged(a) ^ flagged(b) }
    val inPairs = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val falseFlags = flagged.count(c => !inPairs(c)).toLong
    rep.check("kg_snapshot.dedup_flags_planted", hits == pairs.size && flagged.size == pairs.size,
      s"flagged=${flagged.size} planted=${pairs.size} families_hit=$hits")
    rep.check("kg_snapshot.dedup_no_false_flags", falseFlags == 0, s"false=$falseFlags")
    val norms = store.read(spark, "boilerplate_norms").get.collect()
      .map(r => (r.getString(r.fieldIndex("norm")), r.getLong(r.fieldIndex("df"))))
    val convs = cfg.nConvs + pairs.size
    rep.check("kg_snapshot.boilerplate_is_banner",
      norms.toSeq == Seq((Banner.toLowerCase, convs.toLong)), s"inventory=${norms.take(3).toSeq}")
    (flagged.size.toLong, hits.toDouble / pairs.size, falseFlags)
  }

  /** `Main.runResumable` over the planted corpus into a fresh store
    * (cold), then resumed, repeated until the window closes. */
  def snapshot(spark: SparkSession, o: Opts, cfg: TranscriptSynth.Config,
      planted: Dataset[Turn], reference: Set[Triple], golden: Set[Triple], rep: Report,
      stats: TaskStats): Unit = {
    val nTurns = planted.count()
    val samples = mutable.ArrayBuffer.empty[Sample]
    var pr = (0.0, 0.0)
    val windowStart = System.nanoTime()
    while (fits(windowStart, samples.size, o.seconds)) {
      val root = s"${o.work}/store-${samples.size}"
      val store = new SnapshotStore(root)
      val h0 = Host.now()
      val (n, coldS, fromMs, toMs) = timed(spark)(runMain(spark, planted, store, o, cfg))
      val cpu = stats.window(fromMs, toMs).cpuS
      val (steal, busy) = Host.now() - h0
      val heap = Heap.liveMb()
      rep.check("kg_snapshot.cold", n > 0)
      checkResume(spark, planted, store, o, cfg, n, rep)
      pr = checkTriples(rep, "kg_snapshot", corrupt(o, tripleSet(store.read(spark, "triples").get)),
        reference, golden)
      checkOps(spark, store, cfg, rep)
      deleteTree(root)
      System.gc()
      samples += Sample(Map("run_s" -> coldS, "turns_per_s" -> nTurns / coldS, "cpu_s" -> cpu,
        "peak_heap_mb" -> heap), steal, busy)
    }
    printSamples("kg_snapshot", samples.toSeq)
    putMedians(rep, samples.toSeq, EndToEnd)
    rep.put("triple_precision", pr._1, "ratio")
    rep.put("triple_recall", pr._2, "ratio")
  }
}
