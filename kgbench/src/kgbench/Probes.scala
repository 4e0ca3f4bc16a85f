package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per Spark job. Jobs are attributed to a time
  * window or span by their start time, so every number here comes from
  * outside the engine: one listener, no engine code touched. */
final class TaskStats extends SparkListener {
  final class Acc {
    var cpuNs = 0L; var gcMs = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L; var tasks = 0L
  }
  private val jobStartMs = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val perJob = TrieMap.empty[Int, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = perJob.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new Acc)
      acc.synchronized {
        acc.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.diskBytesSpilled
        acc.tasks += 1
      }
    }
  }

  /** Sums over the jobs that started in [fromMs, toMs]. */
  final case class Sum(jobs: Long, tasks: Long, cpuS: Double, gcS: Double,
      shuffleMb: Double, spillMb: Double)

  def sum(jobIds: Iterable[Int]): Sum = {
    val accs = jobIds.flatMap(perJob.get).toSeq
    Sum(jobIds.size.toLong, accs.map(_.tasks).sum, accs.map(_.cpuNs).sum / 1e9,
      accs.map(_.gcMs).sum / 1e3, accs.map(_.shuffleWriteBytes).sum / 1e6,
      accs.map(_.spillBytes).sum / 1e6)
  }

  def jobsBetween(fromMs: Long, toMs: Long): Seq[Int] =
    jobStartMs.collect { case (j, t) if t >= fromMs && t <= toMs => j }.toSeq

  def window(fromMs: Long, toMs: Long): Sum = sum(jobsBetween(fromMs, toMs))

  def jobStarts: Map[Int, Long] = jobStartMs.toMap
}

/** Heap still in use right after a full collection, i.e. the live set. */
object Heap {
  def liveMb(): Double = {
    // the second collection also frees what the first one let Spark's
    // context cleaner release (broadcasts, shuffle state)
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Machine weather from /proc/stat: seconds of hypervisor steal and of
  * busy CPU (user + nice + system) summed over all cores. */
object Host {
  final case class Jiffies(steal: Long, busy: Long) {
    def -(o: Jiffies): (Double, Double) = ((steal - o.steal) / 100.0, (busy - o.busy) / 100.0)
  }

  def now(): Jiffies =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      Jiffies(f.lift(7).getOrElse(0L), f.take(3).sum)
    } catch { case _: Exception => Jiffies(0L, 0L) }
}

/** Wall-clock milliseconds with nanosecond resolution, comparable with
  * the epoch-millisecond stamps Spark puts on its events. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def ms: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** In-memory span recorder: (name, start, end, parent, run id), written
  * out once when the run ends. Wall-clock ms stamps let task metrics be
  * attributed to the span active when their job started. */
final class Spans(runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1e3
  }
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(f: => T): T = withId(name)(_ => f)

  /** Like [[apply]], handing the body its span id (to parent spans
    * recorded from other threads). */
  def withId[T](name: String)(f: Int => T): T = {
    val id = done.synchronized { nextId += 1; nextId - 1 }
    val parent = open.headOption.getOrElse(-1)
    val start = Clock.ms
    open = id :: open
    try f(id)
    finally {
      open = open.tail
      done.synchronized { done += Span(id, name, parent, start, Clock.ms) }
    }
  }

  /** A span observed from outside (e.g. a manifest entry appearing). */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = done.synchronized {
    val id = nextId; nextId += 1
    done += Span(id, name, parent, startMs, endMs)
    id
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.startMs)

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0.0; var cursor = s.startMs
    kids.foreach { case (a, b) =>
      val from = math.max(a, cursor); val to = math.min(b, s.endMs)
      if (to > from) { covered += to - from; cursor = to }
    }
    (s.endMs - s.startMs - covered) / 1e3
  }

  /** The innermost span containing `ms`, if any. */
  def at(ms: Double): Option[Span] =
    done.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => s.endMs - s.startMs).headOption

  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val lines = all.map(s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_s":${selfSeconds(s)}}""")
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** Watches a snapshot store's manifest from a polling thread and turns
  * each new entry into a span that ends when the entry appeared and
  * starts where the previous one ended. Passive: the engine runs
  * unchanged; the poller's own CPU time is its whole overhead. */
final class ManifestWatch(manifest: String, spans: Spans, parent: Int, startMs: Double) {
  @volatile private var running = true
  @volatile private var cpuNs = 0L
  private var last = startMs
  private var seen = 0
  private var stamp: Any = null
  private val thread = new Thread(() => {
    while (running) { poll(); Thread.sleep(20) }
    poll()
    cpuNs = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
  }, "kgbench-manifest-watch")
  thread.setDaemon(true)

  private def poll(): Unit = {
    // the store swaps the manifest atomically; parse only a new file
    val p = Paths.get(manifest)
    val file = try (Files.getLastModifiedTime(p), Files.size(p)) catch { case _: Exception => null }
    if (file == null || file == stamp) return
    stamp = file
    val entries = Manifest.entries(manifest)
    if (entries.size > seen) {
      val now = Clock.ms
      entries.drop(seen).foreach { e =>
        spans.add("snapshot." + e.stage, parent, last, now)
        last = now
      }
      seen = entries.size
    }
  }

  def start(): ManifestWatch = { thread.start(); this }

  /** Stops the poller; returns the CPU seconds it used. */
  def stop(): Double = {
    running = false; thread.join()
    cpuNs / 1e9
  }
}

/** Reads a SnapshotStore manifest as plain data (the store writes it as a
  * JSON list of flat objects). */
object Manifest {
  final case class Entry(stage: String, wallMs: Long, rows: Long)

  private val EntryRe =
    """\{"stage":"([^"]*)","snapshot":\d+,"parent":[^,]*,"fp":"(?:[^"\\]|\\.)*","wall_ms":(\d+),"rows":(\d+)""".r

  def entries(path: String): Seq[Entry] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = try new String(Files.readAllBytes(p), "UTF-8") catch { case _: Exception => "" }
      EntryRe.findAllMatchIn(s).map(m => Entry(m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
    }
  }
}
