package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("multimodal-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("decodeMeta: every media kind + garbage + empty") {
    val img = MediaGen.mediaAt(42, 0) // deterministic but kind varies by index;
    // use kernel directly on crafted payloads for exactness:
    val m = Multimodal.decodeMetaKernel(Array[Byte]('G', 'I', 'M', 'G', 0, 0, 0, 3, 0, 0, 0, 2) ++ new Array[Byte](6))
    assert(m == Multimodal.MediaMeta("image", 3, 2, 0, 0, 1, 18))
    val a = Multimodal.decodeMetaKernel(Array[Byte]('G', 'A', 'U', 'D', 0, 0, 0x3E, char4(0x80), 0, 0, 0, 4) ++ new Array[Byte](4))
    assert(a.media_type == "audio" && a.sample_rate == 16000 && a.n_samples == 4)
    assert(Multimodal.decodeMetaKernel(Array[Byte](1, 2, 3)).media_type == "unknown")
    assert(Multimodal.decodeMetaKernel(null).media_type == "unknown")
  }
  private def char4(i: Int): Byte = i.toByte

  test("media table schema + distributed meta decode") {
    val df = MediaGen.table(spark, 200)
    assert(df.columns.toSeq == Seq("media_id", "url", "media_type", "payload"))
    val withMeta = df.withColumn("meta", Multimodal.decodeMeta(col("payload")))
    val agg = withMeta.groupBy(col("meta.media_type").as("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // decoded type must agree with generator's declared type (garbage → unknown)
    val declared = df.groupBy("media_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg("image") == declared("image"))
    assert(agg("audio") == declared("audio"))
    assert(agg("video") == declared("video"))
    assert(agg("unknown") == declared("garbage"))
  }

  test("extractFeatures: batched, appends L2-normalized embedding, deterministic") {
    val df = MediaGen.table(spark, 100)
    val feats = Multimodal.extractFeatures(df, "payload", dim = 16, batchSize = 8)
    assert(feats.schema.fieldNames.last == "embedding")
    val rows = feats.select("media_id", "embedding").collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val emb = r.getSeq[Float](1)
      assert(emb.length == 16)
      val norm = emb.map(x => x * x).sum
      assert(norm == 0.0f || math.abs(norm - 1.0) < 1e-3, s"norm=$norm")
    }
    // determinism across runs
    val again = Multimodal.extractFeatures(df, "payload", dim = 16, batchSize = 8)
      .select("media_id", "embedding").collect()
    assert(rows.map(_.getSeq[Float](1)).toSeq == again.map(_.getSeq[Float](1)).toSeq)
  }

  test("sampleFrames: video explodes to stride-sampled frames of exact size") {
    val video = MediaGen.table(spark, 300).filter(col("media_type") === "video")
    val n = video.count()
    assert(n > 0)
    val frames = Multimodal.sampleFrames(video, "payload", stride = 2)
    val byVid = frames.groupBy("media_id").count().collect()
    assert(byVid.nonEmpty)
    // frame byte size = w*h from the header
    val one = frames.select("payload", "frame_idx", "frame_bytes").filter(col("frame_idx") >= 0).head()
    val meta = Multimodal.decodeMetaKernel(one.getAs[Array[Byte]](0))
    assert(one.getAs[Array[Byte]](2).length == meta.width * meta.height)
  }

  test("resize: header rewritten, payload strided deterministically") {
    val img = MediaGen.mediaAt(42, 0)
    val imgRow = (0L to 50L).map(i => MediaGen.mediaAt(42, i)).find(_.media_type == "image").get
    val out = Multimodal.resizeKernel(imgRow.payload, 8, 8)
    val m = Multimodal.decodeMetaKernel(out)
    assert(m.media_type == "image" && m.width == 8 && m.height == 8 && out.length == 12 + 64)
  }

  test("corrupt headers never crash the kernels (round-3 review)") {
    import java.nio.ByteBuffer
    def payload(magic: String, ints: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(4 + ints.length * 4 + 8)
      b.put(magic.getBytes("US-ASCII")); ints.foreach(b.putInt); b.put(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
      b.array()
    }
    // GVID with w*h overflowing Int to negative: must pass through, not AIOOBE
    val overflowVid = payload("GVID", 60000, 60000, 100)
    val s = spark; import s.implicits._
    val df = Seq((1L, overflowVid)).toDF("media_id", "payload")
    val rows = Multimodal.sampleFrames(df, "payload").collect()
    assert(rows.length == 1 && rows(0).getAs[Int]("frame_idx") == -1)
    // negative n_frames: pass-through, not a silently deleted row
    val negFrames = payload("GVID", 4, 4, -1)
    val rows2 = Multimodal.sampleFrames(Seq((2L, negFrames)).toDF("media_id", "payload"), "payload").collect()
    assert(rows2.length == 1 && rows2(0).getAs[Int]("frame_idx") == -1)
    // GIMG with negative width: resize must not index payload(negative)
    val negImg = payload("GIMG", -1, 16)
    assert(Multimodal.resizeKernel(negImg, 8, 8).sameElements(negImg)) // pass-through
    assert(Multimodal.resizeKernel(payload("GIMG", 16, 16), 0, 8)
      .sameElements(payload("GIMG", 16, 16))) // non-positive target dims
    // ADVICE r4: tiny frameBytes (1x1) + n_frames=Int.MaxValue passes the
    // one-frame-fits guard but must NOT materialize ~1e9 tuples — frames
    // are clamped to those that fit the payload (8 bytes → 8 frames, 4 kept)
    val bomb = payload("GVID", 1, 1, Int.MaxValue)
    val rows3 = Multimodal.sampleFrames(Seq((3L, bomb)).toDF("media_id", "payload"), "payload")
      .select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(rows3.toSeq == Seq(0, 2, 4, 6), s"got ${rows3.mkString(",")}")
  }
}
