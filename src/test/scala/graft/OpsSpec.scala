package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Containers, Dedup, Multimodal, Similarity, TextStats}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text") {
    val d = docs(1L -> "hello  world", 2L -> "hello world", 3L -> "other doc")
    val out = Dedup.exact(d).collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(0) == 1L) // keeps min doc_id
  }

  test("minhash LSH finds near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight")
    val other = "completely unrelated content about spark catalyst optimizer internals"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val sigs = Dedup.minHashSignatures(d)
    val cand = Dedup.minHashCandidates(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    import spark.implicits._
    val d = docs(1L -> "abcdefghij", 2L -> "abcdefghij", 3L -> "zzzzyyyyxxxx")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("simhash: identical docs equal; near-dups within small hamming") {
    val base = "spark sql catalyst tungsten codegen shuffle partition broadcast join agg"
    val near = base + " extra"
    val d = docs(1L -> base, 2L -> base, 3L -> near)
    val sh = Dedup.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    // short docs (few token votes) flip more bits per edit — bound is
    // loose here; real corpora have hundreds of votes per bit
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 20)
    val pairs = Dedup.simHashPairs(Dedup.simHash(d), maxHamming = 8).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("cosine similarity and brute-force top-k") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.7071f, 0.7071f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, Seq(1.0f, 0.0f, 0.0f), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L, 3L))
    assert(top(0).getDouble(1) == 1.0)
    assert(math.abs(top(2).getDouble(1) - 0.707107) < 1e-4)
  }

  test("LSH top-k returns the same head as brute force on clusterable data") {
    import spark.implicits._
    // two tight clusters along different axes
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.01f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.01f * i)
      (i.toLong, base)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val brute = Similarity.bruteForceTopK(e, q, 3).collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(e, q, 3, nBits = 2).collect().map(_.getLong(0)).toSet
    assert(lsh == brute)
  }

  test("native simhash token hashes are bit-identical to Spark xxhash64") {
    // a single-token doc's simhash IS its token hash (every bit's vote
    // is that token's bit) — pins the native kernel to Spark's xxhash64
    val d = docs(1L -> "hello")
    val sh = Dedup.simHash(d).collect().head.getLong(1)
    import spark.implicits._
    val ref = Seq("hello").toDF("t").select(xxhash64(col("t"))).head().getLong(0)
    assert(sh == ref)
  }

  test("minhash candidates reject a signature-width desync loudly") {
    val d = docs(1L -> "a b c d e", 2L -> "f g h i j")
    val sigs8 = Dedup.minHashSignatures(d, numHashes = 8)
    // divisibility mismatch → immediate require
    intercept[IllegalArgumentException] {
      Dedup.minHashCandidates(sigs8, rowsPerBand = 3, numHashes = 8)
    }
    // width mismatch vs numHashes → runtime raise, not silent all-pairs
    val ex = intercept[Exception] {
      Dedup.minHashCandidates(sigs8, rowsPerBand = 4, numHashes = 16).collect()
    }
    assert(ex.getMessage != null)
    // matched width works
    assert(Dedup.minHashCandidates(sigs8, rowsPerBand = 4, numHashes = 8)
      .collect() != null)
  }

  test("LSH top-k never returns fewer than k rows (multi-probe + fallback)") {
    import spark.implicits._
    // spread vectors across many buckets so the query's own bucket
    // holds fewer than k rows → single-probe would under-return
    val rows = (0 until 12).map { i =>
      val v = Seq.tabulate(8)(d => if (d == i % 8) 1.0f else 0.0f)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = Seq.tabulate(8)(d => if (d == 0) 1.0f else 0.0f)
    val brute = Similarity.bruteForceTopK(e, q, 10).collect()
    val lsh = Similarity.lshTopK(e, q, 10, nBits = 8).collect()
    assert(lsh.length == 10, s"lshTopK returned ${lsh.length} < k rows")
    assert(lsh.map(_.getDouble(1)).max == brute.map(_.getDouble(1)).max)
  }

  test("near-dup clustering: LSH→jaccard→CC groups dup families, keeps min id") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today again"
    val d = docs(
      1L -> base,
      2L -> base.replace("today", "tonight"), // near-dup of 1
      3L -> base.replace("quick", "quik"),    // near-dup of 1 (and 2)
      4L -> "completely unrelated content about catalyst optimizer internals and shuffles",
      5L -> "another standalone document with nothing in common at all here")
    // rowsPerBand=2 → 8 bands of 2: candidate recall ≈ 1-(1-J²)^8,
    // >0.97 at the ~0.6 word-shingle similarity of these edits
    val out = Dedup.nearDupClusters(d, jaccardThreshold = 0.5, rowsPerBand = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, false))) // canonical keeps itself
    assert(out(2L) == ((1L, true)))
    assert(out(3L) == ((1L, true)))
    assert(out(4L) == ((4L, false))) // singletons untouched
    assert(out(5L) == ((5L, false)))
  }

  test("hot-bucket cap: exact dups in boilerplate buckets still cluster; candidates stay linear") {
    // 40 boilerplate docs sharing one long templated body with a
    // unique tail (sub-threshold jaccard to each other) + one planted
    // EXACT re-ingest of doc 0. With maxBucketSize=8 every band bucket
    // is hot, so the pair join is suppressed and only the star-link
    // path runs — the exact pair (identical full signature) must
    // survive it, and the verdict must equal the uncapped run's.
    val boiler = "this conversation is provided under the standard license " +
      "terms and all tool calls were logged for quality assurance purposes"
    val rows = (0L until 40L).map(i =>
      i -> s"$boiler unique marker alpha$i beta$i gamma$i delta$i epsilon$i") :+
      (99L -> s"$boiler unique marker alpha0 beta0 gamma0 delta0 epsilon0")
    val d = docs(rows: _*)
    val sigs = Dedup.minHashSignatures(d)
    val capped = Dedup.minHashCandidates(sigs, maxBucketSize = 8).collect()
    // star-linking is O(members) per hot bucket, never |bucket|²
    assert(capped.length <= 8 * 41, s"capped candidates not linear: ${capped.length}")
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 99L)))
    val out = Dedup.nearDupClusters(d, jaccardThreshold = 0.9, maxBucketSize = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val outUncapped = Dedup.nearDupClusters(d, jaccardThreshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(99L) == ((0L, true)))  // the exact re-ingest is caught
    assert(out(0L) == ((0L, false)))
    assert(out == outUncapped)        // cap changes cost, not the verdict
  }

  test("signature-estimate prefilter keeps exact dups, drops low-estimate candidates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(
      1L -> base,
      2L -> base, // exact dup: est = 1.0, must survive any prefilter < 1
      3L -> base.replaceAll("(alpha|gamma|epsilon|eta|iota|lambda|nu|omicron|rho|tau)", "X"))
    val sigs = Dedup.minHashSignatures(d)
    val all = Dedup.minHashCandidates(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.minHashCandidates(sigs, minEstimate = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.contains((1L, 2L)) && filtered.contains((1L, 2L)))
    assert(filtered.subsetOf(all))
    // the half-rewritten doc pairs with the originals in `all` (word
    // jaccard ~0.3 still collides in some b=8/r=2 band) but cannot
    // survive a 0.95 estimate gate
    assert(!filtered.contains((1L, 3L)) && !filtered.contains((2L, 3L)))
  }

  test("simhash hot-chunk cap: identical docs still pair at distance 0") {
    val boiler = "the license header that every document in this corpus " +
      "shares verbatim across the entire crawl for boilerplate reasons"
    val rows = (0L until 30L).map(i => i -> s"$boiler tail$i mark$i") :+
      (99L -> s"$boiler tail0 mark0") // exact copy of doc 0
    val d = docs(rows: _*)
    val sims = Dedup.simHash(d)
    val capped = Dedup.simHashPairs(sims, maxBucketSize = 8).collect()
    val exact = capped.find(r => r.getLong(0) == 0L && r.getLong(1) == 99L)
    assert(exact.isDefined && exact.get.getLong(2) == 0L)
    // verdicts agree with the uncapped run wherever both emit the pair
    val full = Dedup.simHashPairs(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    capped.foreach(r =>
      assert(full((r.getLong(0), r.getLong(1))) == r.getLong(2)))
  }

  test("IVF ANN: probed top-k matches brute force on clustered data; never under-returns") {
    import spark.implicits._
    // two tight clusters on different axes + a stray — k-means separates them
    val rows = (0 until 24).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.002f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.002f * i)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val (assigned, centers) = Similarity.ivfIndex(e, nCentroids = 2)
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val brute = Similarity.bruteForceTopK(e, q, 5).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(assigned, centers, q, 5, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == brute) // the query's cluster holds all true neighbors
    // k larger than the probed posting list → brute-force fallback fills it
    val big = Similarity.ivfTopK(assigned, centers, q, 20, nprobe = 1).collect()
    assert(big.length == 20)
  }

  test("IVF batch ANN matches the per-query operator, no driver loop") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.003f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.003f * i)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val (assigned, centers) = Similarity.ivfIndex(e, nCentroids = 2)
    val queries = (0 until 10).map { qi =>
      (qi.toLong, Seq(0.9f + 0.01f * qi, 0.01f * qi, 0.02f * qi, 0f))
    }
    val qDf = queries.toDF("query_id", "embedding")
    val batch = Similarity.ivfTopKBatch(assigned, centers, qDf, k = 5, nprobe = 1)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    queries.foreach { case (qi, emb) =>
      val single = Similarity.ivfTopK(assigned, centers, emb, 5, nprobe = 1)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qi) == single, s"query $qi: batch ${batch(qi)} != single $single")
    }
    // under-filled posting lists fall back per query — never under-returns
    val big = Similarity.ivfTopKBatch(assigned, centers, qDf, k = 30, nprobe = 1)
      .collect().groupBy(_.getLong(0))
    assert(big.values.forall(_.length == 30))
  }

  test("LSH batch ANN matches the per-query operator, no driver loop") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.003f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.003f * i)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val queries = (0 until 10).map { qi =>
      (qi.toLong, Seq(0.9f + 0.01f * qi, 0.01f * qi, 0.02f * qi, 0f))
    }
    val qDf = queries.toDF("query_id", "embedding")
    val batch = Similarity.lshTopKBatch(e, qDf, k = 5, nBits = 4, probeHamming = 1)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    queries.foreach { case (qi, emb) =>
      val single = Similarity.lshTopK(e, emb, 5, nBits = 4, probeHamming = 1)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qi) == single, s"query $qi: batch ${batch(qi)} != single $single")
    }
    // probed buckets too small for k → per-query brute-force fallback
    val big = Similarity.lshTopKBatch(e, qDf, k = 30, nBits = 4, probeHamming = 0)
      .collect().groupBy(_.getLong(0))
    assert(big.size == 10 && big.values.forall(_.length == 30))
  }

  test("batch ANN: a query with ZERO probed candidates still falls back") {
    import spark.implicits._
    // corpus packed on one axis; the outlier query points the opposite
    // way, so with many bits and no multi-probe its LSH bucket (and
    // hence its candidate set) is EMPTY — the case a cand-derived
    // fallback set silently drops (the query never appears in cand's
    // groupBy, so it can't be selected as under-filled)
    val e = (0 until 30).map(i => (i.toLong, Seq(1.0f, 0.001f * i, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val outlier = Seq(-1.0f, 0f, 0.3f, -0.7f, 0.9f, -0.2f)
    val qDf = Seq((7L, outlier)).toDF("query_id", "embedding")
    val lsh = Similarity.lshTopKBatch(e, qDf, k = 5, nBits = 16, probeHamming = 0)
      .collect()
    assert(lsh.length == 5, s"zero-candidate query dropped: got ${lsh.length} rows")
    // parity with the single-query path in exactly this regime
    val single = Similarity.lshTopK(e, outlier, 5, nBits = 16, probeHamming = 0)
      .collect().map(_.getLong(0)).toSeq
    assert(lsh.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq == single)
    // IVF: probe a centroid whose posting list is empty
    val centers = Array(Array(1.0, 0, 0, 0, 0, 0), Array(-1.0, 0, 0, 0, 0, 0))
    val assigned = e.withColumn("centroid", lit(0L)) // every vector in list 0
    val ivf = Similarity.ivfTopKBatch(assigned, centers, qDf, k = 5, nprobe = 1)
      .collect()
    assert(ivf.length == 5, s"empty-posting-list query dropped: got ${ivf.length} rows")
  }

  test("cosinePairs (banded multi-probe LSH) has exact recall on planted near-dups") {
    import spark.implicits._
    // deterministic pseudo-random corpus + a perturbed near-duplicate of
    // every vector (the q_cosine_pairs_lsh oracle's construction):
    // unrelated pairs sit far below 0.95, planted pairs far above
    val rnd = new scala.util.Random(7)
    val base = (0 until 150)
      .map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val dup = base
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + ((col("vec_id") * 64 + i) % 7 - 3).cast("double") / lit(64.0)))
          .as("embedding"))
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val all = base.unionByName(dup)
    val blocked = Similarity.cosinePairs(all, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosinePairsExact(all, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 150, s"planting broke: ${exact.size} true pairs")
    assert(blocked == exact,
      s"recall misses: ${(exact -- blocked).take(5)}; spurious: ${(blocked -- exact).take(5)}")
  }

  test("IVF sample-fit quantizer: fit on a sample, assign the full corpus") {
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.002f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.002f * i)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val (assigned, centers) = Similarity.ivfIndex(e, nCentroids = 2, fitSampleFraction = 0.5)
    // every corpus vector is assigned even though only half were fit on
    assert(assigned.count() == 60)
    assert(centers.length == 2)
    // the sampled quantizer still separates the two clusters: probing
    // one centroid reproduces brute force for an in-cluster query
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val brute = Similarity.bruteForceTopK(e, q, 5).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(assigned, centers, q, 5, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == brute)
    // probing everything is exact regardless of quantizer quality
    val allProbes = Similarity.ivfTopK(assigned, centers, q, 5, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(allProbes == brute)
  }

  // ---- real multimodal decoders ------------------------------------

  private def wavBytes(samples: Array[Short], sampleRate: Int = 8000,
      channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  private def bmpBytes(width: Int, height: Int,
      rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = ((width * 3 + 3) / 4) * 4
    val bb = java.nio.ByteBuffer.allocate(54 + rowBytes * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * height)
      .putInt(0).putInt(54)
      .putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * height).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (y <- height - 1 to 0 by -1) { // bottom-up rows
      for (x <- 0 until width) {
        val (r, g, b) = rgb(x, y)
        bb.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- width * 3 until rowBytes) bb.put(0.toByte)
    }
    bb.array()
  }

  test("WAV decode derives real acoustic features from PCM samples") {
    import spark.implicits._
    // 0.1 s of a 1 kHz sine at half amplitude, 8 kHz mono
    val n = 800
    val samples = Array.tabulate(n)(i =>
      (16384 * math.sin(2 * math.Pi * i / 8.0)).toShort)
    val media = Seq(Multimodal.MediaRow("w1", "audio", wavBytes(samples),
      0, 0, 100L, "doc1")).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.ok, String.valueOf(f.error))
    val emb = f.embedding
    assert(math.abs(emb(0) - 0.1f) < 1e-4, s"duration ${emb(0)}")
    assert(math.abs(emb(1) - 0.5 / math.sqrt(2)) < 0.01, s"rms ${emb(1)}")
    assert(math.abs(emb(2) - 0.25) < 0.01, s"zcr ${emb(2)}")
    assert(math.abs(emb(4) - 0.5) < 0.01, s"peak ${emb(4)}")
    assert(math.abs(emb(5) - 8000f / 48000f) < 1e-5)
    // the 8-segment envelope of a steady sine is flat at the global RMS
    (8 until 16).foreach(k => assert(math.abs(emb(k) - emb(1)) < 0.01))
  }

  test("wavRoundTrip features are EXACT closed forms of the planted blocks") {
    import spark.implicits._
    val docs = (0L until 10L).toDF("doc_id")
    val out = Multimodal.wavRoundTrip(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 10) // every row decoded ok (failures are filtered)
    (0L until 10L).foreach { id =>
      val sa = ((id * 37) % 2001 - 1000) / 32768.0
      val sb = ((id * 73) % 4001 - 2000) / 32768.0
      val r = out(id)
      // exact equality, not tolerance: every intermediate double is
      // exactly representable and sqrt is correctly rounded (the same
      // argument the q_wav_decode oracle row relies on)
      assert(r.getFloat(1) == 0.015625f) // 128 frames / 8192 Hz
      assert(r.getFloat(2) == math.sqrt((sa * sa + sb * sb) / 2).toFloat, s"rms id=$id")
      assert(r.getFloat(3) == (if ((sa > 0) != (sb > 0)) 1f / 128 else 0f), s"zcr id=$id")
      assert(r.getFloat(4) == ((math.abs(sa) + math.abs(sb)) / 2).toFloat, s"mean_abs id=$id")
      assert(r.getFloat(5) == math.max(math.abs(sa), math.abs(sb)).toFloat, s"peak id=$id")
    }
  }

  test("BMP decode derives real pixel features; malformed payloads fail per-row") {
    import spark.implicits._
    // left half pure red, right half pure blue, 8x4
    val bmp = bmpBytes(8, 4, (x, _) => if (x < 4) (255, 0, 0) else (0, 0, 255))
    val truncatedWav = wavBytes(Array.tabulate(100)(_.toShort)).take(50)
    val media = Seq(
      Multimodal.MediaRow("b1", "image", bmp, 8, 4, 0L, "doc1"),
      Multimodal.MediaRow("w2", "audio", truncatedWav, 0, 0, 0L, "doc1")).toDS()
    val out = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    val b1 = out("b1")
    assert(b1.ok, String.valueOf(b1.error))
    assert(math.abs(b1.embedding(2) - 0.5f) < 1e-3) // mean R
    assert(math.abs(b1.embedding(3) - 0.0f) < 1e-3) // mean G
    assert(math.abs(b1.embedding(4) - 0.5f) < 1e-3) // mean B
    // grid: left cells red-luma (0.299), right cells blue-luma (0.114)
    assert(math.abs(b1.embedding(8) - 0.299f) < 1e-3)
    assert(math.abs(b1.embedding(11) - 0.114f) < 1e-3)
    // truncated WAV: captured as a row-level failure, job survives
    assert(!out("w2").ok)
    assert(out("w2").error != null)
  }

  /** Minimal PNG encoder for tests: 8-bit RGB(A), one chosen filter
    * type per row (the decoder must invert it), real zlib + CRCs. */
  private def pngBytes(width: Int, height: Int, rgb: (Int, Int) => (Int, Int, Int),
      filter: Int => Int = _ => 0, alpha: Boolean = false): Array[Byte] = {
    val bpp = if (alpha) 4 else 3
    val stride = width * bpp
    val px = Array.tabulate(height, stride) { (y, i) =>
      val x = i / bpp
      val (r, g, b) = rgb(x, y)
      (i % bpp) match {
        case 0 => r.toByte; case 1 => g.toByte; case 2 => b.toByte; case _ => 255.toByte
      }
    }
    val raw = new java.io.ByteArrayOutputStream()
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (y <- 0 until height) {
      val f = filter(y)
      raw.write(f)
      for (i <- 0 until stride) {
        val v = px(y)(i) & 0xff
        val left = if (i >= bpp) px(y)(i - bpp) & 0xff else 0
        val up = if (y > 0) px(y - 1)(i) & 0xff else 0
        val ul = if (i >= bpp && y > 0) px(y - 1)(i - bpp) & 0xff else 0
        val enc = f match {
          case 0 => v
          case 1 => v - left
          case 2 => v - up
          case 3 => v - ((left + up) / 2)
          case 4 => v - paeth(left, up, ul)
        }
        raw.write(enc & 0xff)
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
      bb.putInt(body.length).put(typ.getBytes("US-ASCII")).put(body)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(body)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height).put(8.toByte)
      .put((if (alpha) 6 else 2).toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", comp.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  test("PNG decode: real inflate+de-filter; features format-identical to BMP") {
    import spark.implicits._
    // a gradient image exercises all predictors non-trivially
    val img = (x: Int, y: Int) => ((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 71) % 256)
    val viaBmp = bmpBytes(12, 6, img)
    val viaPng = pngBytes(12, 6, img)
    // one row per PNG filter type — the decoder must invert all five
    val viaPngFiltered = pngBytes(12, 6, img, filter = y => y % 5)
    val viaPngAlpha = pngBytes(12, 6, img, filter = y => (y + 3) % 5, alpha = true)
    val media = Seq(
      Multimodal.MediaRow("bmp", "image", viaBmp, 12, 6, 0L, "d"),
      Multimodal.MediaRow("png0", "image", viaPng, 12, 6, 0L, "d"),
      Multimodal.MediaRow("pngf", "image", viaPngFiltered, 12, 6, 0L, "d"),
      Multimodal.MediaRow("pnga", "image", viaPngAlpha, 12, 6, 0L, "d"),
      Multimodal.MediaRow("trunc", "image",
        pngBytes(12, 6, img).dropRight(30), 12, 6, 0L, "d")).toDS()
    val out = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(out("png0").ok, String.valueOf(out("png0").error))
    // SAME pixels through three encodings → bit-identical features
    assert(out("png0").embedding.toSeq == out("bmp").embedding.toSeq)
    assert(out("pngf").embedding.toSeq == out("bmp").embedding.toSeq,
      "per-row Sub/Up/Average/Paeth de-filtering diverged")
    assert(out("pnga").embedding.toSeq == out("bmp").embedding.toSeq,
      "RGBA path diverged (alpha must be ignored)")
    // corrupted stream: captured per row, job survives
    assert(!out("trunc").ok && out("trunc").error != null)
  }

  test("JPEG/GIF decode via the JDK's ImageIO: real codecs, format-independent features") {
    import spark.implicits._
    // few-color image: GIF's 256-color palette is lossless for it, so
    // the GIF path must be BIT-IDENTICAL to the pure BMP decoder;
    // JPEG is lossy — features must be close, not equal
    val img = (x: Int, y: Int) => if (x < 8) (200, 40, 40) else (40, 40, 200)
    def encode(fmt: String): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(16, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) {
        val (r, g, b) = img(x, y)
        bi.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow("bmp", "image", bmpBytes(16, 8, img), 16, 8, 0L, "d"),
      Multimodal.MediaRow("jpg", "image", encode("jpg"), 16, 8, 0L, "d"),
      Multimodal.MediaRow("gif", "image", encode("gif"), 16, 8, 0L, "d"),
      Multimodal.MediaRow("badjpg", "image",
        encode("jpg").take(40), 16, 8, 0L, "d")).toDS()
    val out = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(out("gif").ok, String.valueOf(out("gif").error))
    assert(out("gif").embedding.toSeq == out("bmp").embedding.toSeq,
      "lossless GIF diverged from the pure BMP decoder")
    assert(out("jpg").ok, String.valueOf(out("jpg").error))
    val (j, b) = (out("jpg").embedding, out("bmp").embedding)
    (2 to 5).foreach(i => assert(math.abs(j(i) - b(i)) < 0.02,
      s"jpeg feature $i off: ${j(i)} vs ${b(i)}"))
    assert(!out("badjpg").ok && out("badjpg").error != null)
  }

  test("langid native kernel matches the Column formulation on the testdata corpus") {
    // the round-6 graft_langid kernel replaced the 16-replace chain —
    // pin equality on the real sf0.001 documents plus tie/zero cases
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val edge = spark.createDataFrame(Seq(
      (9001L, ""),                    // all-zero → en
      (9002L, "le der"),              // needles need both pads; still 0 → en
      (9003L, " la et the and "),     // en vs fr tie (2 each) → max lang: fr
      (9004L, "und und und der die"), // de
      (9005L, "the the the the the the"), // overlap-free repeat counting
      (9006L, null)))                 // no text → no language (NULL)
      .toDF("doc_id", "text")
    for (d <- Seq(real, edge)) {
      val kernel = graft.ops.TextStats.langId(d)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val columnar = graft.ops.TextStats.langIdColumnar(d)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kernel == columnar)
    }
    assert(graft.ops.TextStats.langId(edge.filter("text is null")).head().isNullAt(1))
  }

  test("langid picks the stopword-dominant language") {
    val d = spark.createDataFrame(Seq(
      (1L, "the cat and the dog went to the market of the town"),
      (2L, "der hund und die katze sind nicht der feind und die freunde"),
      (3L, "le chat et la maison et les oiseaux dans le jardin"),
      (4L, "el perro que ladra en los campos y una casa")))
      .toDF("doc_id", "text")
    val out = TextStats.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es"))
  }

  test("token counts and quality features") {
    val d = docs(1L -> "Hello, World! This is FINE.")
    val tc = TextStats.tokenCounts(d).collect().head
    assert(tc.getInt(1) == 5)
    val q = TextStats.qualityScore(d).collect().head
    assert(q.getInt(1) == 27) // n_chars
    assert(q.getDouble(2) > 0) // punct_ratio
  }

  test("fingerprint is whitespace-insensitive") {
    val d = docs(1L -> "a  b\tc", 2L -> "a b c")
    // tabs: regex \s+ normalizes all whitespace runs
    val fps = TextStats.fingerprints(d).collect().map(_.getLong(1)).toSet
    assert(fps.size == 1)
  }

  test("multimodal feature extraction: deterministic stub, real plumbing") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.ok))
    assert(feats.forall(f => f.embedding.length == Multimodal.EmbeddingDim))
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30)).collect()
    assert(feats.map(_.embedding.toSeq).toSeq == again.map(_.embedding.toSeq).toSeq)
    // frame sampling explodes video rows by duration
    val frames = Multimodal.sampleFrames(media.toDF())
    assert(frames.count() > media.filter(col("modality") === "video").count())
  }

  test("MP4 container walk: real sample tables drive duration/codec/keyframes") {
    val mp4 = Containers.syntheticMp4(durationS = 4, fps = 10, keyEvery = 10)
    val m = Containers.probe("v1", mp4)
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.container == "mp4")
    assert(m.duration_ms == 4000L)
    assert(m.n_tracks == 1 && m.track_types == Seq("vide") && m.codecs == Seq("avc1"))
    // sync samples 1, 11, 21, 31 at 10 fps (delta 100ms) → 0/1000/2000/3000ms
    assert(m.keyframes_ms == Seq(0L, 1000L, 2000L, 3000L))
  }

  test("Matroska/WebM EBML walk: Info duration, TrackEntries, CueTimes") {
    val webm = Containers.syntheticWebm(durationMs = 4000L, cueEveryMs = 1000L)
    val m = Containers.probe("v2", webm)
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.container == "matroska")
    assert(m.duration_ms == 4000L)
    assert(m.n_tracks == 2)
    assert(m.track_types == Seq("video", "audio"))
    assert(m.codecs == Seq("V_VP9", "A_OPUS"))
    assert(m.keyframes_ms == Seq(0L, 1000L, 2000L, 3000L))
  }

  test("MP3 frame walk: ID3 skip, per-frame duration, real seek points") {
    val cbr = Containers.probe("a1", Containers.syntheticMp3(durationS = 4))
    assert(cbr.ok, s"parse failed: ${cbr.error}")
    assert(cbr.container == "mp3" && cbr.codecs == Seq("mp3"))
    // 153 frames × 1152 / 44100 = 3.9967 s
    assert(cbr.duration_ms == 3996L)
    assert(cbr.sample_rate == 44100L && cbr.channels == 2)
    // one real frame boundary at/after each whole second
    assert(cbr.keyframes_ms.length == 4 && cbr.keyframes_ms.head == 0L)
    assert(cbr.keyframes_ms.zip(Seq(0L, 1000L, 2000L, 3000L))
      .forall { case (got, want) => got >= want && got < want + 27 })

    // VBR: alternating 128/192 kbps frame LENGTHS, identical frame
    // count — duration must come from walking headers, not size/bitrate
    val vbr = Containers.probe("a2", Containers.syntheticMp3(durationS = 4, vbr = true))
    assert(vbr.ok && vbr.duration_ms == cbr.duration_ms)
  }

  test("ADTS AAC frame walk: profile/rate/channels + exact frame duration") {
    val m = Containers.probe("a3", Containers.syntheticAdts(durationS = 4))
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.container == "adts" && m.codecs == Seq("aac-lc"))
    // 172 frames × 1024 / 44100 = 3.9938 s
    assert(m.duration_ms == 3993L)
    assert(m.sample_rate == 44100L && m.channels == 2)
    assert(m.keyframes_ms.length == 4 && m.keyframes_ms.head == 0L)
  }

  test("FLAC metadata walk: STREAMINFO duration + SEEKTABLE points") {
    val m = Containers.probe("a4", Containers.syntheticFlac(durationS = 4))
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.container == "flac" && m.codecs == Seq("flac"))
    assert(m.duration_ms == 4000L) // total_samples/rate, exact
    assert(m.sample_rate == 44100L && m.channels == 2)
    assert(m.keyframes_ms == Seq(0L, 1000L, 2000L, 3000L))
  }

  test("Ogg page walk: OpusHead id header, granule duration minus pre-skip, page seek points") {
    val m = Containers.probe("a5", Containers.syntheticOggOpus(durationMs = 4000L))
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.container == "ogg" && m.codecs == Seq("opus"))
    // terminal granule = preskip + 4000·48 ⇒ effective 4000 ms exactly
    assert(m.duration_ms == 4000L)
    assert(m.sample_rate == 48000L && m.channels == 2)
    assert(m.keyframes_ms == Seq(1000L, 2000L, 3000L, 4000L))
  }

  test("MP4 v1 (64-bit-time) mvhd/mdhd layout parses; short v1 boxes fail, not garbage") {
    val m = Containers.probe("v1b", Containers.syntheticMp4(
      durationS = 4, fps = 10, keyEvery = 10, version1 = true))
    assert(m.ok, s"parse failed: ${m.error}")
    assert(m.duration_ms == 4000L)
    assert(m.keyframes_ms == Seq(0L, 1000L, 2000L, 3000L))
    // a v1 mvhd whose payload is only 28 bytes (legal for v0, 4 short
    // for v1's 64-bit duration) must be a captured parse error — the
    // old 20-byte check let be64 read into the next box and return an
    // arbitrary duration as ok=true
    def bx(t: String, p: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + p.length)
      bb.putInt(8 + p.length).put(t.getBytes("US-ASCII")).put(p).array()
    }
    val shortV1 = bx("moov", bx("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](24))) // v1 + 24 bytes
    val ftyp = bx("ftyp", "isom".getBytes("US-ASCII"))
    val bad = Containers.probe("v1s", ftyp ++ shortV1)
    assert(!bad.ok && bad.error.contains("truncated mvhd"))
  }

  test("EBML walk: unknown-size Segment (streamed WebM) parses; crafted sizes fail fast") {
    // the reserved all-ones "unknown size" on the Segment master
    // element — standard in live-streamed WebM — extends to EOF
    val live = Containers.probe("w1",
      Containers.syntheticWebm(durationMs = 4000L, unknownSegmentSize = true))
    assert(live.ok, s"parse failed: ${live.error}")
    assert(live.duration_ms == 4000L && live.codecs == Seq("V_VP9", "A_OPUS"))
    // crafted 8-byte size whose low 32 bits are negative: with the old
    // Int truncation this made du == o and spun the walk forever; it
    // must now throw into the per-row capture (this test HANGING is
    // the regression signal)
    val crafted = Array(0x1a, 0x45, 0xdf, 0xa3, // EBML header id
      0x01, 0x00, 0x00, 0x01, 0xff, 0xff, 0xff, 0xf4, // sz.toInt == -12
      0x00, 0x00, 0x00, 0x00).map(_.toByte)
    val bad = Containers.probe("w2", crafted)
    assert(!bad.ok && bad.error.contains("truncated EBML"))
    // unknown size on a LEAF element is a parse error, not a misread:
    // Segment(Info(TimestampScale<unknown size>))
    val leaf = Array(0x1a, 0x45, 0xdf, 0xa3, 0x80, // EBML header, empty (1-byte size 0)
      0x18, 0x53, 0x80, 0x67, 0x84, // Segment, size 4
      0x2a, 0xd7, 0xb1, 0xff).map(_.toByte) // TimestampScale, unknown size
    val badLeaf = Containers.probe("w3", leaf)
    assert(!badLeaf.ok && badLeaf.error.contains("not a master"))
  }

  test("ADTS walk tolerates ID3v2 prologue and trailing ID3v1 TAG like the MP3 walk") {
    val plain = Containers.probe("t0", Containers.syntheticAdts(durationS = 4))
    // minimal ID3v2 header (10 bytes, size 0) + trailing 128-byte ID3v1
    val id3v2 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 0)
    val id3v1 = Array[Byte]('T', 'A', 'G') ++ new Array[Byte](125)
    val tagged = Containers.probe("t1",
      id3v2 ++ Containers.syntheticAdts(durationS = 4) ++ id3v1)
    assert(tagged.ok, s"parse failed: ${tagged.error}")
    assert(tagged.container == "adts") // not misrouted to mp3 by the ID3 sniff
    assert(tagged.duration_ms == plain.duration_ms)
    assert(tagged.keyframes_ms == plain.keyframes_ms)
    // the MP3 walk's own both-tags tolerance is covered by the "MP3
    // frame walk" test above — syntheticMp3 already carries ID3v2+ID3v1
  }

  test("container probe captures truncated payloads PER ROW, never throws") {
    import spark.implicits._
    val mp4 = Containers.syntheticMp4()
    val webm = Containers.syntheticWebm()
    val mp3 = Containers.syntheticMp3()
    val rows = Seq(
      ("good_ogg", Containers.syntheticOggOpus()),
      ("trunc_ogg", Containers.syntheticOggOpus().take(40)),
      ("good_mp4", mp4),
      ("trunc_mp4", mp4.take(mp4.length / 2)),
      ("good_webm", webm),
      ("trunc_webm", webm.take(webm.length / 3)),
      ("good_mp3", mp3),
      ("trunc_mp3", mp3.take(mp3.length / 2)),
      ("trunc_flac", Containers.syntheticFlac().take(20)),
      ("not_a_container", Array.tabulate[Byte](64)(_.toByte)))
      .toDF("media_id", "payload")
    val out = Containers.probeContainers(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(out("good_mp4").ok && out("good_mp4").container == "mp4")
    assert(out("good_webm").ok && out("good_webm").container == "matroska")
    assert(out("good_mp3").ok && out("good_mp3").container == "mp3")
    assert(!out("trunc_mp4").ok && out("trunc_mp4").error != null)
    assert(!out("trunc_webm").ok && out("trunc_webm").error != null)
    assert(!out("trunc_mp3").ok && out("trunc_mp3").container == "mp3")
    assert(!out("trunc_flac").ok && out("trunc_flac").container == "flac")
    assert(out("good_ogg").ok && out("good_ogg").container == "ogg")
    assert(!out("trunc_ogg").ok && out("trunc_ogg").container == "ogg")
    // unknown formats are not errors — they're just not containers
    assert(out("not_a_container").ok && out("not_a_container").container == "none")
  }

  test("sampleFrames routes off REAL keyframe tables, stride only as fallback") {
    import spark.implicits._
    val mp4 = Containers.syntheticMp4(durationS = 4, fps = 10, keyEvery = 5)
    val media = Seq(
      // real container: duration_ms metadata is WRONG on purpose — the
      // emitted times must come from the stss/stts tables, not stride
      ("real", "video", mp4, 999999L),
      // opaque payload: stride fallback over duration_ms
      ("raw", "video", Array.tabulate[Byte](32)(_.toByte), 2500L),
      // CORRUPT metadata on an unparseable payload: the stride fan-out
      // must hit the per-doc cap, not build a 2^63-element range
      ("corrupt", "video", Array.tabulate[Byte](8)(_.toByte), Long.MaxValue),
      ("img", "image", Array.tabulate[Byte](16)(_.toByte), 0L))
      .toDF("media_id", "modality", "payload", "duration_ms")
    val frames = Multimodal.sampleFrames(media, everyMs = 1000L,
        maxFramesPerDoc = 5).collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.getLong(1)).sorted.toSeq }
    // keyEvery=5 at 10fps → syncs at samples 1,6,11,…,36 → 0,500,…,3500ms
    assert(frames("real") == (0L until 4000L by 500L).toSeq)
    assert(frames("raw") == Seq(0L, 1000L, 2000L))
    assert(frames("corrupt") == Seq(0L, 1000L, 2000L, 3000L, 4000L)) // capped
    assert(!frames.contains("img"))
  }

  test("hashed shingle jaccard ≡ exact string-set jaccard (incl. unicode/ws/short docs)") {
    import spark.implicits._
    // exercise the normalization corners the kernel reimplements:
    // case folding, \s+ runs (tab/newline, NO trim), docs shorter than
    // k, empty text, non-ASCII codepoints, and a genuine near-dup
    val d = docs(
      1L -> "The  Quick\tBrown\nFox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "ab",
      4L -> "",
      5L -> "héllo wörld — naïve café résumé über straße",
      6L -> "héllo wörld — naïve café résumé über strasse",
      7L -> " leading and trailing spaces matter here ")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L), (5L, 6L), (2L, 7L), (1L, 7L))
      .toDF("doc_a", "doc_b")
    // exact reference: the string-set Column formulation kept in
    // Dedup.shingles
    val ref = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val exact = pairs
      .join(ref.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(ref.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(array_union(col("sh_a"), col("sh_b"))), lit(1))).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hashed = Dedup.ngramJaccard(d, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hashed.keySet == exact.keySet)
    for ((k, v) <- exact) assert(hashed(k) == v, s"pair $k: hashed=${hashed(k)} exact=$v")
    // and the hashed set sizes equal the string set sizes per doc
    val nStr = ref.select(col("doc_id"), size(col("sh")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nHash = d.select(col("doc_id"), size(Dedup.hashedShingles(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(nStr == nHash)
  }

  test("ngramJaccard length prefilter: same verified pairs, sound bound only") {
    import spark.implicits._
    // ~130 chars so a one-word edit stays j ≈ 0.89 ≥ τ
    val near = "the quick brown fox jumps over the lazy dog by the river while " +
      "birds sing in the old oak trees near the quiet meadow this morning"
    val d = docs(
      1L -> near,
      // near-dup of 1 (one word changed)
      2L -> near.replace("dog", "cat"),
      // DISTINCT long tail (repeating `near` would barely grow the
      // distinct-shingle count): ~8× the shingles — bound rejects (1,3)
      3L -> (near + " " + (0 until 100).map(i => s"tail${i}word").mkString(" ")),
      // similar length to 1 but different content: passes the length
      // bound, rejected only by the exact jaccard
      4L -> ("completely different sentence content about spark catalyst " +
        "optimizer internals and tungsten codegen shuffle partitions everywhere"))
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val tau = 0.8
    def verifiedSet(j: org.apache.spark.sql.DataFrame) = j
      .filter(col("jaccard") >= tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val withPre = Dedup.ngramJaccard(d, pairs, minJaccard = tau)
    val without = Dedup.ngramJaccard(d, pairs)
    // the bound is SOUND: pairs ≥ τ survive identically…
    assert(verifiedSet(withPre) == verifiedSet(without))
    assert(verifiedSet(withPre).contains((1L, 2L)))
    // …and it actually PRUNES: (1,3) fails min ≥ τ·max on shingle
    // counts, so it never reaches the wide shingle join; (1,4) passes
    // the length bound (similar lengths) and is rejected by the exact
    // jaccard — both absent from the ≥τ output, but only one was scored
    val scored = withPre.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!scored.contains((1L, 3L)), "length-bound pair leaked into the verify join")
    assert(scored.contains((1L, 4L)), "prefilter over-pruned a bound-passing pair")
  }

  test("cosinePairs auto-nBits: sized from corpus count, recall unchanged at two sizes") {
    import spark.implicits._
    // the clamp: tiny corpora floor at 8 bits (the tested default), a
    // 10^9-vector corpus gets ~22-bit buckets (~256 rows each), and the
    // ceiling stops past 24 bits (bucket ids stay comfortably in Long)
    assert(Similarity.autoBits(500L) == 8)
    assert(Similarity.autoBits(1_000_000_000L) == 22)
    assert(Similarity.autoBits(Long.MaxValue) == 24)
    // recall vs exact truth at two corpus sizes under AUTO sizing (the
    // planted construction of the q_cosine_pairs_lsh oracle)
    for (n <- Seq(40, 120)) {
      val rnd = new scala.util.Random(11)
      val base = (0 until n)
        .map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
        .toDF("vec_id", "embedding")
      val dup = base
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * (lit(1.0) + ((col("vec_id") * 64 + i) % 7 - 3).cast("double") / lit(64.0)))
            .as("embedding"))
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
      val all = base.unionByName(dup)
      val blocked = Similarity.cosinePairs(all, 0.95).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.cosinePairsExact(all, 0.95).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.size == n, s"planting broke at n=$n: ${exact.size} true pairs")
      assert(blocked == exact, s"auto-nBits recall drift at n=$n")
    }
  }

  test("ANN paths accept int vec_id and return one schema (bigint) on both branches") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    // vec_id: Int — the collected-row rebuild used to getLong a boxed
    // Integer (CCE), and the probed/fallback branches returned
    // different vec_id types
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.01f * i, 0f, 0f)
      else Seq(0f, 0f, 1.0f, 0.01f * i)
      (i, base)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val probed = Similarity.lshTopK(e, q, 3, nBits = 2, probeHamming = 0)
    val fallback = Similarity.lshTopK(e, q, 15, nBits = 2, probeHamming = 0)
    val (assigned, centers) = Similarity.ivfIndex(e, nCentroids = 2)
    val ivf = Similarity.ivfTopK(assigned, centers, q, 3, nprobe = 1)
    for ((df, label) <- Seq((probed, "lsh-probed"), (fallback, "lsh-fallback"),
        (Similarity.bruteForceTopK(e, q, 3), "brute"), (ivf, "ivf"))) {
      assert(df.schema("vec_id").dataType == LongType, s"$label vec_id type")
      assert(df.count() > 0, s"$label empty")
    }
    assert(fallback.count() == 15) // the never-under-returns contract held
  }

  test("EBML uints longer than 8 bytes are a captured failure, not garbage ok=true") {
    def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // Segment→Info→TimestampScale declaring a 9-byte body: shifting 9
    // bytes through a Long silently drops the lead byte — must THROW
    // into the per-row capture instead of returning a bogus scale
    val ts9 = bs(0x2A, 0xD7, 0xB1, 0x89) ++ new Array[Byte](9)
    val info = bs(0x15, 0x49, 0xA9, 0x66, 0x80 | ts9.length) ++ ts9
    val seg = bs(0x18, 0x53, 0x80, 0x67, 0x80 | info.length) ++ info
    val bad = Containers.probe("w9", bs(0x1A, 0x45, 0xDF, 0xA3, 0x80) ++ seg)
    assert(!bad.ok && bad.error.contains("bad EBML uint size"))
  }

  test("sampleFrames survives NULL duration_ms (single probe frame, job alive)") {
    val vid = Multimodal.syntheticMedia(spark, 12).toDF()
      .filter(col("modality") === "video")
      .withColumn("duration_ms", lit(null).cast("long"))
    // the tuple encoder's non-nullable Long used to abort the job here
    val frames = Multimodal.sampleFrames(vid).collect()
    assert(frames.length == 4) // one t=0 probe frame per video row
    assert(frames.forall(_.getLong(1) == 0L))
  }
}
