package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.snapshot.SnapshotStore

class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The manifest's `rows` and `partitions` of a stage's latest entry. */
  private def manifestCounts(store: SnapshotStore, stage: String): (Long, Seq[(Int, Long)]) = {
    val e = store.manifestEntries().map(new ObjectMapper().readTree(_))
      .filter(_.get("stage").asText == stage).maxBy(_.get("snapshot").asLong)
    (e.get("rows").asLong, e.get("partitions").elements().asScala
      .map(p => p.get("pid").asInt -> p.get("rows").asLong).toSeq)
  }

  test("write/read round-trip with lineage counters") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    val df = (1 to 100).toDF("v").repartition(4)
    val id = store.write("stage_a", df)
    assert(store.current("stage_a").contains(id))
    val back = store.read(spark, "stage_a").get
    assert(back.count() == 100)
    val entry = store.manifestEntries().find(_.contains("stage_a")).get
    assert(entry.contains("\"rows\":100"))
    assert(entry.contains("\"pid\":"))
    // per-stage wall profile: the manifest records how long forcing the
    // stage took, so a run's manifest doubles as its stage-time profile
    assert("\"wall_ms\":(\\d+)".r.findFirstMatchIn(entry).exists(_.group(1).toLong >= 0))
  }

  test("snapshots are immutable; re-write creates a child snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    val id1 = store.write("s", (1 to 10).toDF("v"))
    Thread.sleep(5)
    val id2 = store.write("s", (1 to 20).toDF("v"))
    assert(id2 > id1)
    assert(store.read(spark, "s", Some(id1)).get.count() == 10) // time travel
    assert(store.read(spark, "s").get.count() == 20)
    val entries = store.manifestEntries().filter(_.contains("\"stage\":\"s\""))
    assert(entries.exists(_.contains(s""""parent":$id1""")))
  }

  test("getOrCreate resumes instead of recomputing") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    var computes = 0
    def compute() = { computes += 1; (1 to 5).toDF("v") }
    store.getOrCreate(spark, "x")(compute())
    store.getOrCreate(spark, "x")(compute())
    assert(computes == 1)
  }

  test("write computes the stage exactly once (single-pass lineage)") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    val evals = spark.sparkContext.longAccumulator("evals")
    val df = (1 to 40).toDF("v").repartition(4)
      .map { r => evals.add(1); r.getInt(0) }.toDF("v")
    store.write("once", df)
    assert(evals.value == 40, s"stage rows evaluated ${evals.value} times, want 40")
    // lineage counters still present and correct
    val entry = store.manifestEntries().find(_.contains("\"stage\":\"once\"")).get
    assert(entry.contains("\"rows\":40"))
    assert(entry.contains("\"pid\":"))
    // the internal _pid column does not leak to readers
    assert(!store.read(spark, "once").get.columns.contains("_pid"))
  }

  test("getOrCreate invalidates on fingerprint change, resumes on match") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    var computes = 0
    def compute(n: Int) = { computes += 1; (1 to n).toDF("v") }
    assert(store.getOrCreate(spark, "y", "threshold=0.65")(compute(5)).count() == 5)
    assert(store.getOrCreate(spark, "y", "threshold=0.65")(compute(5)).count() == 5)
    assert(computes == 1) // same fp → resume
    Thread.sleep(5)
    assert(store.getOrCreate(spark, "y", "threshold=0.80")(compute(9)).count() == 9)
    assert(computes == 2) // changed fp → recompute, never stale reuse
    assert(store.currentFingerprint("y").contains("threshold=0.80"))
  }

  test("a fingerprint with quotes, backslashes and control characters resumes") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    val fp = "input=a\"b\\c\nd\te\u0001f|threshold=0.65"
    var computes = 0
    def compute() = { computes += 1; (1 to 5).toDF("v") }
    store.getOrCreate(spark, "z", fp)(compute())
    store.getOrCreate(spark, "z", fp)(compute())
    assert(computes == 1)
    assert(store.currentFingerprint("z").contains(fp))
    // the written entry keeps the compact, fixed-key-order layout
    // external readers match
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "manifest.json")), "UTF-8")
    assert(("""^\[\{"stage":"z","snapshot":\d+,"parent":null,"fp":"(?:[^"\\]|\\.)*",""" +
      """"wall_ms":\d+,"rows":5,"partitions":\[(\{"pid":\d+,"rows":\d+\},?)+\]\}\]$""")
      .r.findFirstIn(manifest).isDefined, manifest)
  }

  test("expire keeps only the current snapshot of a replace-mode stage") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    val id1 = store.write("s", (1 to 10).toDF("v"), "fpA")
    Thread.sleep(5)
    val id2 = store.write("s", (1 to 20).toDF("v"), "fpB")
    store.write("keepme", (1 to 3).toDF("v"))
    assert(store.expire("s") == 1)
    // current snapshot + fingerprint untouched → resume behavior intact
    assert(store.current("s").contains(id2))
    assert(store.currentFingerprint("s").contains("fpB"))
    assert(store.read(spark, "s").get.count() == 20)
    // expired id: dir deleted, manifest entry dropped, time-travel gone
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/s/snap-$id1")))
    assert(store.snapshots("s") == Seq(id2))
    assert(store.read(spark, "s", Some(id1)).isEmpty)
    // other stages untouched; expire is idempotent
    assert(store.read(spark, "keepme").get.count() == 3)
    assert(store.expire("s") == 0)
    assert(store.stages().toSet == Set("s", "keepme"))
  }

  test("concurrent writes of distinct stages keep every manifest entry") {
    import spark.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("snap").toString)
    // the stage graph's parallel chains write distinct stages at once:
    // each write's manifest update must see every other's
    val stages = (0 until 24).map(i => s"stage_$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try stages.map(s => pool.submit(() => store.write(s, (1 to 10).toDF("v"), s)))
      .foreach(_.get())
    finally pool.shutdown()
    assert(store.stages().toSet == stages.toSet)
    stages.foreach(s => assert(store.currentFingerprint(s).contains(s)))
    assert(store.manifestEntries().size == stages.size)
  }

  test("footer-derived partition counters equal a _pid count of the written files") {
    import spark.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("snap").toString)
    Seq(
      "four_partitions" -> (1 to 100).toDF("v").repartition(4),
      // a shuffle aggregate whose partitions AQE coalesces at run time
      "coalesced_aggregate" -> (1 to 1000).toDF("v").groupBy((col("v") % 7).as("k")).count(),
      "empty" -> (1 to 10).toDF("v").filter(col("v") < 0)
    ).foreach { case (stage, df) =>
      val id = store.write(stage, df)
      val written = spark.read.parquet(s"${store.root}/$stage/snap-$id")
        .groupBy(col("_pid")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(manifestCounts(store, stage) == (written.map(_._2).sum -> written), stage)
    }
    // an empty frame still records rows 0 and no partitions
    assert(manifestCounts(store, "empty") == (0L -> Seq.empty))
  }

  test("write runs no Spark job after its parquet write") {
    val store = new SnapshotStore(Files.createTempDirectory("snap").toString)
    val df = spark.range(0, 100, 1, 4).toDF("v") // no shuffle: the write is one job
    val marker = "snapshot-spec-marker"
    val jobs = new ConcurrentLinkedQueue[String]()
    val markerEnded = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == marker)
          markerJob = e.jobId
        else jobs.add(e.stageInfos.map(_.name).mkString(" | "))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnded.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.write("w", df)
      // listener events arrive in order: once the marker job's end is
      // seen, every job the write started has been seen too
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(markerEnded.await(60, TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.size == 1, jobs.asScala.mkString("\n"))
    assert(manifestCounts(store, "w") == (100L -> (0 until 4).map(_ -> 25L)))
  }

  test("a layout-version bump recomputes every stage; a same-version resume writes nothing") {
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 20, turnsPerConv = 4), partitions = 2)
    val root = Files.createTempDirectory("kglayout").toString
    val store = new SnapshotStore(root)
    val layout = s"|layout=${Main.LayoutVersion}"
    Main.runResumable(spark, turns, store)
    val written = store.manifestEntries().size
    assert(store.manifestEntries().forall(_.contains(layout)))
    // the store as the previous layout version left it
    val manifest = java.nio.file.Paths.get(root, "manifest.json")
    Files.write(manifest, new String(Files.readAllBytes(manifest), "UTF-8")
      .replace(layout, s"|layout=${Main.LayoutVersion - 1}").getBytes("UTF-8"))
    Main.runResumable(spark, turns, store)
    assert(store.manifestEntries().size == 2 * written)
    Main.runResumable(spark, turns, store)
    assert(store.manifestEntries().size == 2 * written)
  }
}
