package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Media-column plumbing: payloads as opaque `binary` columns tagged
 * with a modality — the Spark-side analog of the reference's
 * justification modalities (Text/Image/KeyFrameVideo/ShotVideo/Audio
 * with bounding boxes and timestamps,
 * /root/reference/update_kg/sparqls.py:115-164, turtle templates
 * update_kg/Updater.py:385-485).
 *
 * The one decoder is 16-bit PCM WAV (RIFF/WAVE magic), hand-rolled on
 * the JVM with no external dependency; it backs the oracled
 * `q_wav_decode` row through [[wavRoundTrip]]. Any other payload is a
 * per-row failure captured by [[extractFeatures]] (`ok = false`), so
 * the Spark-side contract — schema, partition-parallel mapPartitions,
 * failure capture — stays what a real codec call would plug into.
 */
object Multimodal {

  /** Typed media row: an opaque payload tagged with its modality. */
  final case class MediaRow(
      media_id: String,
      modality: String, // image | audio | video
      payload: Array[Byte])

  /** Extracted features: fixed-size embedding + decode status. */
  final case class MediaFeatures(
      media_id: String,
      modality: String,
      n_bytes: Int,
      embedding: Array[Float],
      ok: Boolean,
      error: String)

  val EmbeddingDim = 16

  private def i32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def i16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Real WAV/PCM decode: parses RIFF chunks, requires PCM (format 1)
    * 16-bit; features = [duration_s, RMS, zero-crossing rate, mean
    * |amp|, peak, sampleRate/48k, channels/2, 0] ++ 8-segment RMS
    * envelope — all derived from the actual samples. A payload without
    * RIFF....WAVE magic THROWS, as does a malformed WAV, and
    * [[extractFeatures]] captures the failure per row. */
  private[ops] def decodeWav(b: Array[Byte]): Array[Float] = {
    require(b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E',
      "not a RIFF/WAVE payload")
    var o = 12
    var fmtOk = false; var channels = 0; var sampleRate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (o + 8 <= b.length) {
      val id = new String(b, o, 4, "US-ASCII")
      val sz = i32(b, o + 4)
      require(sz >= 0, "bad chunk size")
      if (id == "fmt ") {
        require(o + 8 + 16 <= b.length, "truncated fmt chunk")
        val audioFormat = i16(b, o + 8)
        require(audioFormat == 1, s"unsupported WAV format $audioFormat (PCM only)")
        channels = i16(b, o + 10)
        sampleRate = i32(b, o + 12)
        bits = i16(b, o + 22)
        require(bits == 16, s"unsupported bit depth $bits (16-bit PCM only)")
        require(channels > 0 && sampleRate > 0, "bad fmt chunk")
        fmtOk = true
      } else if (id == "data") { dataOff = o + 8; dataLen = sz }
      o += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    require(fmtOk, "no fmt chunk")
    require(dataOff >= 0, "no data chunk")
    require(dataOff + dataLen <= b.length, "truncated data chunk")
    val n = dataLen / 2
    require(n > 0, "empty data chunk")
    var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0; var zc = 0
    var prev = 0.0
    val segSq = new Array[Double](8); val segN = new Array[Int](8)
    var i = 0
    while (i < n) {
      val s = i16(b, dataOff + i * 2).toShort / 32768.0
      sumSq += s * s; sumAbs += math.abs(s)
      if (math.abs(s) > peak) peak = math.abs(s)
      if (i > 0 && (s > 0) != (prev > 0)) zc += 1
      prev = s
      val seg = (i * 8L / n).toInt
      segSq(seg) += s * s; segN(seg) += 1
      i += 1
    }
    val frames = n / channels
    val out = new Array[Float](EmbeddingDim)
    out(0) = frames.toFloat / sampleRate
    out(1) = math.sqrt(sumSq / n).toFloat
    out(2) = zc.toFloat / n
    out(3) = (sumAbs / n).toFloat
    out(4) = peak.toFloat
    out(5) = sampleRate / 48000.0f
    out(6) = channels / 2.0f
    var k = 0
    while (k < 8) {
      out(8 + k) = if (segN(k) > 0) math.sqrt(segSq(k) / segN(k)).toFloat else 0f
      k += 1
    }
    out
  }

  /** Partition-parallel feature extraction over binary payloads.
    * mapPartitions (not per-row map) so a real kernel can amortize
    * codec/model init per partition — the batch shape a Pandas-UDF /
    * mapInPandas port would use. Failures are captured per row, not
    * thrown (reference fail.log semantics,
    * json_head/get_json_head.py:96-110). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // per-partition init point for a real codec/model handle
      rows.map { r =>
        try {
          val emb = decodeWav(if (r.payload == null) Array.emptyByteArray else r.payload)
          MediaFeatures(r.media_id, r.modality,
            if (r.payload == null) 0 else r.payload.length, emb, ok = true, null)
        } catch {
          case e: Exception =>
            MediaFeatures(r.media_id, r.modality, 0, new Array[Float](EmbeddingDim),
              ok = false, e.getMessage)
        }
      }
    }
  }

  /** Minimal 16-bit PCM WAV ENCODER (RIFF + fmt + data), the write
    * side of [[decodeWav]]: the reference's audio justifications carry
    * start/end timestamps over real audio sources
    * (/root/reference/update_kg/Updater.py:470-485); this is the
    * smallest honest sink for such payloads and the encode half of the
    * oracled round-trip below. */
  def wavEncode(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(b.putShort)
    b.array()
  }

  /** Oracled encode→decode round-trip over the `documents` table: per
    * doc_id, synthesize a deterministic two-block 128-sample mono
    * 8192 Hz PCM payload, push it through the REAL RIFF/fmt/data
    * decoder via [[extractFeatures]] (the full MediaRow → MediaFeatures
    * plumbing, mapPartitions batch shape, failure capture), and emit
    * the acoustic features whose closed forms an independent SQL engine
    * can re-derive EXACTLY: every intermediate double is exactly
    * representable (samples k/2^15, squares k²/2^30, power-of-two
    * divisors) and sqrt is correctly rounded IEEE in both engines, so
    * the row hash-matches, not just approximately. This makes the audio
    * decode path a driver-checked CORRECTNESS row rather than
    * ScalaTest-only. */
  def wavRoundTrip(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val media = docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val a = ((id * 37) % 2001 - 1000).toShort
      val bb = ((id * 73) % 4001 - 2000).toShort
      val samples = Array.tabulate(128)(i => if (i < 64) a else bb)
      MediaRow(id.toString, "audio", wavEncode(samples, sampleRate = 8192))
    }
    extractFeatures(media)
      .filter(_.ok) // malformed rows would vanish → rows_match catches it
      .map(f => (f.media_id.toLong, f.embedding(0), f.embedding(1),
        f.embedding(2), f.embedding(3), f.embedding(4)))
      .toDF("doc_id", "dur_s", "rms", "zcr", "mean_abs", "peak")
  }
}
