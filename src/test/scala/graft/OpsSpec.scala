package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextStats}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
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

  test("near-dup verdicts are the same whether Catalyst broadcasts or sort-merges") {
    // near-dup pairs, exact re-ingests, and a shared banner that makes
    // hot buckets under the cap below: every join path of the stack runs
    val boiler = "this conversation is provided under the standard license terms"
    val rows = (0L until 30L).flatMap { i =>
      val t = s"$boiler topic$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      Seq(i -> t) ++ (if (i % 3 == 0) Seq((100 + i) -> t.replace(s"beta$i", s"btea$i"))
        else if (i % 3 == 1) Seq((100 + i) -> t) else Nil)
    }
    def verdicts() = Dedup.nearDupClusters(docs(rows: _*), jaccardThreshold = 0.8,
        rowsPerBand = 4, maxBucketSize = 8, minEstimate = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dflt = verdicts()
    assert(dflt.count(_._3) >= 10)
    assert(TestSpark.withoutBroadcast(verdicts()) == dflt)
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

  // ---- WAV decoder ---------------------------------------------------

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

  test("WAV decode derives real acoustic features from PCM samples") {
    import spark.implicits._
    // 0.1 s of a 1 kHz sine at half amplitude, 8 kHz mono
    val n = 800
    val samples = Array.tabulate(n)(i =>
      (16384 * math.sin(2 * math.Pi * i / 8.0)).toShort)
    val truncatedWav = wavBytes(Array.tabulate(100)(_.toShort)).take(50)
    val media = Seq(
      Multimodal.MediaRow("w1", "audio", wavBytes(samples)),
      Multimodal.MediaRow("w2", "audio", truncatedWav),
      // no RIFF/WAVE magic: the decoder is WAV-only, so this is a row failure
      Multimodal.MediaRow("x1", "image", Array.tabulate[Byte](64)(_.toByte)))
      .toDS()
    val out = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    val f = out("w1")
    assert(f.ok, String.valueOf(f.error))
    val emb = f.embedding
    assert(math.abs(emb(0) - 0.1f) < 1e-4, s"duration ${emb(0)}")
    assert(math.abs(emb(1) - 0.5 / math.sqrt(2)) < 0.01, s"rms ${emb(1)}")
    assert(math.abs(emb(2) - 0.25) < 0.01, s"zcr ${emb(2)}")
    assert(math.abs(emb(4) - 0.5) < 0.01, s"peak ${emb(4)}")
    assert(math.abs(emb(5) - 8000f / 48000f) < 1e-5)
    // the 8-segment envelope of a steady sine is flat at the global RMS
    (8 until 16).foreach(k => assert(math.abs(emb(k) - emb(1)) < 0.01))
    // truncated WAV: captured as a row-level failure, job survives
    assert(!out("w2").ok)
    assert(out("w2").error != null)
    val x1 = out("x1")
    assert(!x1.ok && x1.error != null)
    assert(x1.embedding.toSeq == Seq.fill(Multimodal.EmbeddingDim)(0f))
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

  /** Runs a declared query over a one-table `documents` fixture. */
  private def docsQuery(name: String, d: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    d.write.parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries(name)(spark, dir)
  }

  test("token counts and quality features") {
    val d = docs(1L -> "Hello, World! This is FINE.")
    val tc = docsQuery("q_token_count", d).collect().head
    assert(tc.getInt(1) == 5)
    val q = docsQuery("q_quality", d).collect().head
    assert(q.getInt(1) == 27) // n_chars
    assert(q.getDouble(2) > 0) // punct_ratio
  }

  test("fingerprint is whitespace-insensitive") {
    val d = docs(1L -> "a  b\tc", 2L -> "a b c")
    // tabs: regex \s+ normalizes all whitespace runs
    val fps = docsQuery("q_fingerprint", d).collect().map(_.getString(1)).toSet
    assert(fps.size == 1)
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
    // vec_id: Int or Long — both input widths come back as one schema
    // (vec_id bigint, sim double) with the same rows
    val vecs = (0 until 20).map(i => (i, Seq(1.0f, 0.01f * i, 0f, 0f)))
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val fromInt = Similarity.bruteForceTopK(vecs.toDF("vec_id", "embedding"), q, 3)
    val fromLong = Similarity.bruteForceTopK(
      vecs.map { case (i, v) => (i.toLong, v) }.toDF("vec_id", "embedding"), q, 3)
    for (top <- Seq(fromInt, fromLong))
      assert(top.schema("vec_id").dataType == LongType)
    assert(fromInt.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(fromInt.collect().toSeq == fromLong.collect().toSeq)
  }
}
