package graft

import org.apache.spark.sql.SparkSession

/** One place to build correctly-tuned local sessions: shuffle
  * partitions matched to cores (not the 200 default), AQE on for
  * runtime skew-splitting / shuffle coalescing. */
object Sessions {
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val builder0 = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
    // opt-in profiling: SPARK_GRAFT_EVENTLOG=/dir enables the event log,
    // uncompressed so tools/stage_profile.py reads it as plain JSON lines
    val spark = sys.env.get("SPARK_GRAFT_EVENTLOG")
      .fold(builder0)(dir => builder0
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
        .config("spark.eventLog.compress", "false"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      // native scalar kernels (minhash/simhash/cosine/lsh) — see
      // graft.functions.GraftExtensions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // small parquet files must not collapse to 1-task scans: cap the
      // split size so compute-heavy per-row ops (shingling, hashing)
      // parallelize even when the input is a few MB
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", "65536")
      // zstd snapshots: measured D-A-D-A on the 17.9M-row ke frame
      // (BASELINE.md round-5) — 41% smaller than snappy (577 vs 972 MB)
      // at identical steady-state write AND read-back wall on tmpfs;
      // on a real cluster the snapshot/shuffle bytes are network+disk,
      // so the size win is the wall win
      .config("spark.sql.parquet.compression.codec", "zstd")
      // local-mode shuffle hygiene: many small shuffles × many tasks →
      // file create/flush dominates on slow container disks. Spill to
      // tmpfs when present and skip compressing tiny local blocks.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local" else "/tmp")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // JVM case mappings for lower()/upper(): ICU's initialisation
      // makes a JVM's first lower() take 1.4 s (0.07 s without it, on
      // a 4-core local[2] session)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
