package graft.snapshot

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iceberg-semantics snapshot layer: immutable partitioned-parquet
 * snapshot directories + an atomically-swapped JSON manifest carrying
 * snapshot lineage (id, parent, stage, per-partition row counts).
 *
 * Realizes the north-rule "resumable from Iceberg-snapshot
 * checkpoints with per-partition lineage and counter metrics" without
 * an Iceberg runtime jar on the offline classpath (SURVEY.md §4.3.5):
 * the semantics (immutable snapshots, atomic manifest swap,
 * time-travel by snapshot id) match, so a real Iceberg catalog is a
 * config swap. This is also the Spark-native analog of the
 * reference's step-resumable pipeline — the user-selected inclusive
 * step range with idempotent delete-then-insert
 * (/root/reference/update_kg/update_kg.py:17-35,
 * update_kg/Updater.py:110-117): a stage re-run overwrites its own
 * snapshot dir and re-points the manifest, never mutating inputs.
 *
 * Layout: <root>/<stage>/snap-<id>/  (parquet)
 *         <root>/manifest.json       (atomic swap via tmp + move)
 *
 * The manifest is a compact JSON list of flat entries, keys in this
 * order: `{"stage","snapshot","parent","fp","wall_ms","rows",
 * "partitions":[{"pid","rows"},…]}`. External readers match entries by
 * that layout, so it is part of the format.
 */
class SnapshotStore(val root: String) {

  private def manifestPath = Paths.get(root, "manifest.json")

  /** Write `df` as the next snapshot of `stage`; returns snapshot id.
    * The parquet write is the ONLY Spark job: the stage computes
    * exactly once, and the per-partition row counters (the reference's
    * progress-counter analog, update_kg/Updater.py:152) come from the
    * written files' parquet footers, read on the driver. A write task
    * names its files `part-NNNNN-…` after its partition id, which is
    * also the `_pid` (spark_partition_id) lineage column its rows
    * carry into the parquet, so a file's footer row count is its
    * partition's counter. Partitions that wrote no rows get no entry.
    * `fingerprint` records the config/input identity the snapshot was
    * built under; [[getOrCreate]] refuses to resume across a
    * fingerprint change. */
  def write(stage: String, df: DataFrame, fingerprint: String = "",
      builderWallMs: Long = 0L): Long = {
    // monotonic per stage: two writes within one millisecond (e.g. a
    // fingerprint-invalidated recompute of a tiny stage) must not
    // collide on directory + manifest key
    val parent = current(stage)
    val snapId = math.max(parent.map(_ + 1L).getOrElse(0L),
      System.currentTimeMillis())
    val dir = s"$root/$stage/snap-$snapId"
    // wall_ms covers forcing the stage's computation: the parquet write
    // (the action that executes the returned plan) PLUS the builder's
    // own wall (`builderWallMs`, timed by getOrCreate) — builders that
    // run eager actions (checkpoints, guard counts: the dedup
    // stage does most of its work there) would otherwise be invisible
    // and the manifest's per-stage profile would under-credit them
    // (observed: a 20M-turn dedup_canon stage credited 10.7 s of a
    // ~22 min builder). The manifest is thereby a per-stage wall/row
    // profile of the run.
    val t0 = System.nanoTime()
    df.withColumn("_pid", spark_partition_id())
      .write.mode("overwrite").parquet(dir)
    val wallMs = builderWallMs + (System.nanoTime() - t0) / 1000000L
    val counts = SnapshotStore.footerCounts(dir,
      df.sparkSession.sparkContext.hadoopConfiguration)
    val entry = SnapshotStore.json.createObjectNode()
      .put("stage", stage).put("snapshot", snapId)
    parent.fold(entry.putNull("parent"))(entry.put("parent", _))
    entry.put("fp", fingerprint).put("wall_ms", wallMs).put("rows", counts.map(_._2).sum)
    val parts = entry.putArray("partitions")
    counts.foreach { case (p, c) => parts.addObject().put("pid", p).put("rows", c) }
    updateManifest(_.filterNot(e => stageOf(e) == stage && idOf(e) == snapId) :+ entry)
    snapId
  }

  /** Read-modify-write of the manifest, swapped in atomically. Stages
    * run concurrently (the stage graph's parallel chains), so the
    * update holds one JVM-wide lock — only the update: the parquet
    * writes before it stay parallel. */
  private def updateManifest(f: Vector[ObjectNode] => Vector[ObjectNode]): Unit =
    SnapshotStore.synchronized {
      Files.createDirectories(Paths.get(root))
      val tmp = Paths.get(root, s".manifest.tmp.${java.util.UUID.randomUUID()}")
      val list = SnapshotStore.json.createArrayNode()
      f(readManifest()).foreach(list.add)
      Files.write(tmp, SnapshotStore.json.writeValueAsBytes(list))
      Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def readManifest(): Vector[ObjectNode] =
    if (!Files.exists(manifestPath)) Vector.empty
    else SnapshotStore.json.readTree(manifestPath.toFile).elements().asScala
      .map(_.asInstanceOf[ObjectNode]).toVector

  private def stageOf(e: ObjectNode): String = e.get("stage").asText
  private def idOf(e: ObjectNode): Long = e.get("snapshot").asLong

  /** The manifest entry of a stage's latest snapshot. */
  private def latest(stage: String): Option[ObjectNode] =
    readManifest().filter(stageOf(_) == stage).maxByOption(idOf)

  /** Latest snapshot id of a stage, if any. */
  def current(stage: String): Option[Long] = latest(stage).map(idOf)

  /** Fingerprint the latest snapshot of a stage was written under
    * (pre-fingerprint manifests report ""). */
  def currentFingerprint(stage: String): Option[String] =
    latest(stage).map(_.path("fp").asText(""))

  /** Row count recorded for the latest snapshot of a stage. */
  def currentRows(stage: String): Option[Long] =
    latest(stage).map(_.get("rows").asLong)

  /** Read a stage's snapshot (latest by default; pass an id for
    * time-travel). Returns None if the stage was never materialized —
    * the resume decision point. The `_pid` lineage column is internal
    * and dropped. */
  def read(spark: SparkSession, stage: String, snapshot: Option[Long] = None): Option[DataFrame] =
    snapshot.orElse(current(stage)).flatMap { id =>
      val dir = s"$root/$stage/snap-$id"
      if (Files.exists(Paths.get(dir))) Some(spark.read.parquet(dir).drop("_pid"))
      else None
    }

  /** Resume-or-compute: read the latest snapshot if it exists AND was
    * written under the same `fingerprint` (config/input identity);
    * else compute, snapshot, and re-read (so downstream plans scan
    * parquet with pushdown instead of recomputing lineage). A changed
    * fingerprint therefore re-keys the stage and, transitively, every
    * downstream stage whose fingerprint embeds the same config — a
    * rerun with a different --threshold or --input can never silently
    * reuse stale snapshots. */
  def getOrCreate(spark: SparkSession, stage: String, fingerprint: String = "")
      (compute: => DataFrame): DataFrame =
    read(spark, stage)
      .filter(_ => currentFingerprint(stage).contains(fingerprint))
      .getOrElse {
        val t0 = System.nanoTime()
        val df = compute
        write(stage, df, fingerprint,
          builderWallMs = (System.nanoTime() - t0) / 1000000L)
        // the builder frame is DEAD after the write (all consumers read
        // the parquet snapshot back) — release any checkpoint
        // blocks its plan pinned, or a long session running many stages
        // accumulates them (Dataset GC alone never frees them; see
        // graft.util.Blocks). Builders must not return frames sharing
        // checkpoints with still-live external frames — stage inputs
        // here are snapshot re-reads, so none do.
        graft.util.Blocks.release(df)
        read(spark, stage).get
      }

  /** Every snapshot id of a stage, ascending (manifest lineage). */
  def snapshots(stage: String): Seq[Long] =
    readManifest().filter(stageOf(_) == stage).map(idOf).sorted

  /** Iceberg-APPEND semantics: the new snapshot dir holds ONLY `df`
    * (the delta), the manifest entry chains to the parent as usual,
    * and [[readAll]] unions the chain — so appending a micro-batch
    * costs O(delta), never O(accumulated). A stage is either
    * append-mode (read with [[readAll]]) or replace-mode (read with
    * [[read]]); mixing the two on one stage name is a caller bug
    * (readAll would union superseded full snapshots). */
  def append(stage: String, df: DataFrame, fingerprint: String = ""): Long =
    write(stage, df, fingerprint)

  /** Union of EVERY snapshot of an append-mode stage, oldest first.
    * None if the stage was never appended to. */
  def readAll(spark: SparkSession, stage: String): Option[DataFrame] = {
    val dirs = snapshots(stage)
      .map(id => s"$root/$stage/snap-$id")
      .filter(d => Files.exists(Paths.get(d)))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*).drop("_pid"))
  }

  /** All manifest entries (raw JSON) — metrics/lineage introspection. */
  def manifestEntries(): Seq[String] =
    readManifest().map(SnapshotStore.json.writeValueAsString)

  /** Distinct stage names present in the manifest. */
  def stages(): Seq[String] = readManifest().map(stageOf).distinct

  /** Iceberg `expire_snapshots` semantics for a REPLACE-mode stage:
    * delete every snapshot dir except the current one and drop the
    * expired entries from the manifest. Time-travel to expired ids is
    * gone; the current snapshot, its fingerprint, and therefore all
    * resume behavior are untouched. Continuous maintainers
    * ([[graft.streaming.IncrementalKg]]) call this once per
    * micro-batch — without it a long-lived stream retains one full KG
    * copy (~20 stages) per batch, O(batches × KG) storage on a stable
    * corpus. APPEND-mode stages (ke_log) must never be expired: their
    * old snapshots ARE the data, not superseded versions. Returns the
    * number of snapshots expired. */
  def expire(stage: String): Int = {
    val cur = current(stage)
    val stale = snapshots(stage).filterNot(cur.contains)
    stale.foreach { id =>
      val dir = Paths.get(s"$root/$stage/snap-$id")
      if (Files.exists(dir)) {
        val walk = Files.walk(dir) // close: called per batch × stage
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.delete(p))
        finally walk.close()
      }
    }
    if (stale.nonEmpty) {
      val keys = stale.toSet
      updateManifest(_.filterNot(e => stageOf(e) == stage && keys(idOf(e))))
    }
    stale.size
  }
}

/** The lock every store's manifest update takes: stores opened on the
  * same root within one JVM must not lose each other's entries either. */
object SnapshotStore {
  /** Reads and writes the manifest. */
  private val json = new ObjectMapper()

  private val PartFile = """part-(\d+)-.*\.parquet""".r

  /** Rows per write-task partition id of the parquet snapshot in
    * `dir`, ascending by id, summed over each task's files and
    * without the ids whose files hold no rows (a write of an empty
    * frame leaves one schema-only file). */
  private def footerCounts(dir: String, conf: Configuration): Seq[(Int, Long)] = {
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).toSeq.flatMap { st =>
      st.getPath.getName match {
        case PartFile(pid) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          val rows = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            finally reader.close()
          Some(pid.toInt -> rows)
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.filter(_._2 > 0).sortBy(_._1)
  }
}
