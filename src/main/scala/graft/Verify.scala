package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracle.py).
  *
  * An unknown name in SPARK_GRAFT_VERIFY_ONLY exits 2 before the
  * session starts; a query that fails is reported and the run exits 1
  * once the remaining dumps and oracle_sql.json are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev lever: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b restricts the dump to
    // named queries (e.g. re-validating one oracle at a larger sf)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same tuned local session as the rest of the engine (tmpfs
    // shuffle dirs, AQE, small-file split sizing) — see graft.Sessions
    val spark = Sessions.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filterNot { case (name, fn) =>
        val ok =
          try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name"); true }
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}"); false
          }
        // queries are independent: drop any checkpoint blocks a pipeline
        // query pinned so later queries don't run on a half-full heap
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        ok
      }.map(_._1)
    // golden-truth parquet next to the dumps: the planted triple/frame
    // sets are enumerable pure functions of the synth config, and the
    // q_kg_*_golden oracle SQL full-joins the pipeline dumps against
    // these files — pipeline parity as a driver-checked hash row
    if (only.isEmpty ||
        only.exists(_.exists(n => n.endsWith("_golden") || n.endsWith("_gate")))) {
      SparkEntry.goldenTriplesDf(spark).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_golden_triples")
      SparkEntry.goldenEventFramesDf(spark).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_golden_event_frames")
      SparkEntry.goldenPrototypesDf(spark).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_golden_prototypes")
      SparkEntry.goldenRelationCountsDf(spark).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_golden_relation_counts")
      SparkEntry.goldenGateTriplesDf(spark).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_golden_gate_triples")
    }
    // expected minhash/simhash values from the INDEPENDENT from-spec
    // xxHash64 reimplementation (graft.oracle.RefHash) — DuckDB has no
    // xxhash64, so these rows hash-match against parquet computed
    // driver-side over the verify corpus (500 docs at sf0.01; an
    // oracle role, like the exact all-pairs truths)
    if (only.isEmpty || only.exists(s => s("q_minhash_sigs") || s("q_simhash"))) {
      import spark.implicits._
      import graft.oracle.RefHash
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), Option(r.getString(1))))
      docs.toSeq
        .map { case (id, t) => (id, t.map(x => RefHash.signatureString(RefHash.minHashSignature(x)))) }
        .toDF("doc_id", "sig").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_expected_minhash_sigs")
      docs.toSeq.map { case (id, t) => (id, t.map(RefHash.simHash)) }
        .toDF("doc_id", "simhash").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_expected_simhash")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the golden oracle SQL reads parquet by ABSOLUTE path (DuckDB's
    // cwd at oracle time is not ours)
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"failed queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
