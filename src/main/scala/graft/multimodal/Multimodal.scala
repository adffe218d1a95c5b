package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for a training-data pipeline: image/audio/
  * video as opaque `binary` columns with typed metadata, batched decode /
  * feature-extraction / resize / frame-sampling.
  *
  * ── STUB BOUNDARY ───────────────────────────────────────────────────────
  * The actual codecs (libjpeg/ffmpeg/soundfile) are NOT in this container;
  * every function below that would call one parses/produces the
  * deterministic GRAFT fake-media format instead (see [[MediaGen]]) and is
  * marked `STUB:`. The Spark-side plumbing — schemas, binary handling,
  * batch shape, explode semantics — is real and tested, and swapping a
  * stub kernel for a real codec changes no plan.
  * ────────────────────────────────────────────────────────────────────────
  *
  * Fake-media wire format (big-endian ints after a 4-byte magic):
  *   image: "GIMG" w h          + w*h payload bytes
  *   audio: "GAUD" rate samples + samples payload bytes
  *   video: "GVID" w h frames   + frames * (w*h) payload bytes
  */
object Multimodal {

  final case class MediaMeta(
      media_type: String, width: Int, height: Int,
      sample_rate: Int, n_samples: Int, n_frames: Int, n_bytes: Int)

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  /** STUB: metadata decode — in production the image/audio header parser.
    * Pure, total: unknown magic → media_type "unknown", zeros. */
  def decodeMetaKernel(payload: Array[Byte]): MediaMeta = {
    if (payload == null || payload.length < 12)
      return MediaMeta("unknown", 0, 0, 0, 0, 0, if (payload == null) 0 else payload.length)
    val magic = new String(payload, 0, 4, java.nio.charset.StandardCharsets.US_ASCII)
    magic match {
      case "GIMG" =>
        MediaMeta("image", readInt(payload, 4), readInt(payload, 8), 0, 0, 1, payload.length)
      case "GAUD" =>
        MediaMeta("audio", 0, 0, readInt(payload, 4), readInt(payload, 8), 0, payload.length)
      case "GVID" if payload.length >= 16 =>
        MediaMeta("video", readInt(payload, 4), readInt(payload, 8), 0, 0,
          readInt(payload, 12), payload.length)
      case _ => MediaMeta("unknown", 0, 0, 0, 0, 0, payload.length)
    }
  }

  val decodeMeta = udf(decodeMetaKernel _)

  /** STUB: per-item embedding — in production a batched vision/audio model.
    * Deterministic: hash-mixed moments of the payload bytes. */
  def embedKernel(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (payload == null || payload.isEmpty) return out
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < payload.length) {
      h = (h ^ (payload(i) & 0xFF)) * 0x100000001B3L
      if ((i & 0x3F) == 0x3F) { // fold every 64 bytes into a dimension
        val d = ((i >> 6) % dim + dim) % dim
        out(d) += (h.toFloat / Long.MaxValue.toFloat)
      }
      i += 1
    }
    // L2 normalize for cosine-space downstream (ANN operators)
    var norm = 0.0
    out.foreach(x => norm += x * x)
    val inv = if (norm == 0) 0f else (1.0 / math.sqrt(norm)).toFloat
    out.map(_ * inv)
  }

  /** Batched feature extraction over a binary column — the Scala analog of
    * `mapInPandas`: the kernel sees fixed-size batches (model-inference
    * shape), rows stream through one batch at a time per partition. */
  def extractFeatures(
      df: DataFrame, payloadCol: String, dim: Int = 64, batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields :+
      StructField("embedding", ArrayType(FloatType, containsNull = false)))
    val idx = df.schema.fieldIndex(payloadCol)
    // grouped(batchSize): the kernel sees fixed-size batches (model-
    // inference shape); the iterator streams, one batch in flight per task
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // STUB: a real model would run ONE inference over the whole batch
        batch.map { row =>
          val emb = embedKernel(row.getAs[Array[Byte]](idx), dim)
          Row.fromSeq(row.toSeq :+ emb.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Frame sampling: video payload → one row per kept frame (every `stride`
    * frames), frame = real byte slice of the payload. Non-video rows pass
    * through with frame_idx = -1 and the full payload. */
  def sampleFrames(df: DataFrame, payloadCol: String, stride: Int = 2): DataFrame = {
    // fail at CALL time, not inside the UDF: stride=0 would throw
    // ("step cannot be 0") per task, and a negative stride would silently
    // DELETE every video row (empty Range) — the row-deletion behavior the
    // corrupt-header guards above exist to prevent (round-4 review)
    require(stride > 0, s"stride must be positive, got $stride")
    val frameUdf = udf { (payload: Array[Byte]) =>
      val meta = decodeMetaKernel(payload)
      // LONG frame geometry + explicit <=0 guards (round-3 review): a
      // corrupt header with w*h overflowing Int to negative previously
      // slipped past the ==0 check and crashed copyOfRange, and a
      // negative n_frames silently deleted the row instead of passing it
      // through like the other non-decodable shapes
      val frameBytes = meta.width.toLong * meta.height.toLong
      // a header whose geometry cannot fit even ONE frame in the payload
      // is corrupt — pass through like the other non-decodable shapes
      if (meta.media_type != "video" || meta.n_frames <= 0 || frameBytes <= 0 ||
          16L + frameBytes > payload.length)
        Seq((-1, payload))
      else {
        val header = 16L
        // clamp iteration to frames that actually FIT the payload (ADVICE
        // r3): a hostile header with tiny frameBytes and n_frames =
        // Int.MaxValue would otherwise materialize ~1e9 (f, emptyArray)
        // tuples — OOM inside the UDF, escaping the pass-through-corrupt-
        // rows contract. Frames past the payload are empty slices anyway,
        // so nothing real is lost.
        val maxF = ((payload.length - header + frameBytes - 1) / frameBytes)
          .min(meta.n_frames.toLong).toInt
        (0 until maxF by stride).map { f =>
          val start = (header + f * frameBytes).min(payload.length.toLong).toInt
          val end = (header + f * frameBytes + frameBytes)
            .min(payload.length.toLong).toInt
          (f, java.util.Arrays.copyOfRange(payload, start, math.max(end, start)))
        }
      }
    }
    df.withColumn("frame", explode(frameUdf(col(payloadCol))))
      .withColumn("frame_idx", col("frame._1"))
      .withColumn("frame_bytes", col("frame._2"))
      .drop("frame")
  }

  /** STUB: image resize — rewrites the header and strides the payload
    * (deterministic stand-in for a real resampler; same signature). */
  def resizeKernel(payload: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    val meta = decodeMetaKernel(payload)
    // <=0 guards on BOTH source and target dims (round-3 review: negative
    // header dims passed the ==0 check and indexed payload(negative))
    if (meta.media_type != "image" || meta.width <= 0 || meta.height <= 0 ||
        newW <= 0 || newH <= 0) return payload
    val out = new Array[Byte](12 + newW * newH)
    out(0) = 'G'; out(1) = 'I'; out(2) = 'M'; out(3) = 'G'
    writeInt(out, 4, newW); writeInt(out, 8, newH)
    var y = 0
    while (y < newH) {
      var x = 0
      while (x < newW) {
        val sx = (x.toLong * meta.width / newW).toInt
        val sy = (y.toLong * meta.height / newH).toInt
        val src = 12 + sy * meta.width + sx
        out(12 + y * newW + x) = if (src >= 0 && src < payload.length) payload(src) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  val resize = udf(resizeKernel _)

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }
}

/** Deterministic fake-media generator (index-addressable, like FixtureGen):
  * 60% images, 25% audio, 10% video, 5% garbage. */
object MediaGen {
  final case class MediaRow(media_id: Long, url: String, media_type: String, payload: Array[Byte])

  def mediaAt(seed: Long, i: Long): MediaRow = {
    // shared mixer (round-4 review: this had a third inline copy that
    // silently dropped one mixing round)
    val rng = graft.fixtures.FixtureGen.rngFor(seed, i)
    val url = s"https://media.example.com/$i"
    val kind = rng.nextInt(100)
    def noise(n: Int): Array[Byte] = { val b = new Array[Byte](n); rng.nextBytes(b); b }
    def header(magic: String, ints: Int*): Array[Byte] = {
      val b = new Array[Byte](4 + 4 * ints.length)
      magic.getBytes.copyToArray(b)
      ints.zipWithIndex.foreach { case (v, k) =>
        b(4 + 4 * k) = (v >>> 24).toByte; b(5 + 4 * k) = (v >>> 16).toByte
        b(6 + 4 * k) = (v >>> 8).toByte; b(7 + 4 * k) = v.toByte
      }
      b
    }
    if (kind < 60) {
      val w = 16 + rng.nextInt(48); val h = 16 + rng.nextInt(48)
      MediaRow(i, url, "image", header("GIMG", w, h) ++ noise(w * h))
    } else if (kind < 85) {
      val n = 256 + rng.nextInt(1024)
      MediaRow(i, url, "audio", header("GAUD", 16000, n) ++ noise(n))
    } else if (kind < 95) {
      val w = 8 + rng.nextInt(8); val h = 8 + rng.nextInt(8); val f = 2 + rng.nextInt(6)
      MediaRow(i, url, "video", header("GVID", w, h, f) ++ noise(w * h * f))
    } else MediaRow(i, url, "garbage", noise(32 + rng.nextInt(64)))
  }

  def table(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sessionState.conf.numShufflePartitions)
      .map(i => mediaAt(seed, i)).toDF()
  }
}
