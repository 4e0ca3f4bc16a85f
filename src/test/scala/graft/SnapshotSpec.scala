package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.snapshot.SnapshotStore

class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
}
