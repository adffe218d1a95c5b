package graft.functions

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the on-disk layout of the persisted MinHash band index and the
  * width of its write: a `writeMinhashIndex` wave and an
  * `appendToMinhashIndex` wave each run ONE write stage of
  * min(buckets, numShufflePartitions) tasks, whole buckets per task, and
  * still add at most one sorted file per bucket id, every row in the file
  * of its own bucket. This is the production sizing rule made checkable:
  * a 10^3-bucket index costs the cluster's width in write tasks per wave,
  * not 10^3. */
class MinhashIndexLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  /** stage id → ResultTask count: the result stage of a bucketed write is
    * its write stage (the band-row exchange runs as ShuffleMapTasks) */
  private val resultTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("minhash-index-layout-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") { resultTasks.merge(e.stageId, 1, _ + _); () }
    })
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The task count of every result stage `f` runs. */
  private def writeStageTasks(f: => Unit): Seq[Int] = {
    ListenerBusDrain.drain(spark.sparkContext)
    resultTasks.clear()
    f
    ListenerBusDrain.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    resultTasks.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** `n` distinct docs of 40 random words, ids from `from` */
  private def wave(from: Int, n: Int): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(from)
    (from until from + n).map(i =>
      (i.toLong, Seq.fill(40)(rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString).mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** bucket id of each data file of `table`, parsed from the writer's
    * `_NNNNN.c000` suffix */
  private def bucketFiles(table: String): Map[String, Int] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val dir = new java.io.File(spark.sessionState.catalog.getTableMetadata(ident).location)
    val suffix = """.*_(\d{5})\.c000.*\.parquet""".r
    dir.listFiles().toSeq.map(_.getName).collect { case n @ suffix(b) => n -> b.toInt }.toMap
  }

  private def layoutOf(buckets: Int): Unit = {
    val tbl = "layout_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val width = math.min(buckets, spark.sessionState.conf.numShufflePartitions)
    val docs = 300
    try {
      val first = writeStageTasks(
        Dedup.writeMinhashIndex(wave(0, docs), "doc_id", "text", tbl, buckets = buckets))
      val before = bucketFiles(tbl)
      val second = writeStageTasks(
        Dedup.appendToMinhashIndex(wave(docs, docs), "doc_id", "text", tbl, buckets = buckets))
      val all = bucketFiles(tbl)
      assert(first == Seq(width), s"index write ran result stages of $first tasks, not one of $width")
      assert(second == Seq(width), s"index append ran result stages of $second tasks, not one of $width")
      Seq("write" -> before, "append" -> (all -- before.keys)).foreach { case (w, files) =>
        assert(files.nonEmpty, s"the $w wave added no file")
        val perBucket = files.values.groupBy(identity).map { case (b, fs) => b -> fs.size }
        assert(perBucket.values.max == 1,
          s"the $w wave added several files to a bucket: ${perBucket.filter(_._2 > 1).take(5)}")
        assert(perBucket.keys.forall(b => b >= 0 && b < buckets))
      }
      val rows = spark.table(tbl)
        .select(input_file_name().as("file"), pmod(hash(col("band_hash")), lit(buckets)).as("b"))
        .collect().map(r => (r.getString(0).split('/').last, r.getInt(1)))
      val misplaced = rows.count { case (f, b) => !all.get(f).contains(b) }
      assert(misplaced == 0, s"$misplaced of ${rows.length} rows sit in another bucket's file")
      // 16 bands per doc at the default banding; every doc is long enough to band
      assert(rows.length == 2 * docs * 16)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("band index at 32 buckets: one write stage of min(buckets, P) tasks, one file per bucket per wave") {
    layoutOf(32)
  }

  test("band index at 10^3 buckets: one write stage of min(buckets, P) tasks, one file per bucket per wave") {
    layoutOf(1000)
  }
}
