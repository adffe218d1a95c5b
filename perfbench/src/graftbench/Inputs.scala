package graftbench

import graft.core.PageRow
import graft.fixtures.FixtureGen
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Everything the program receives is generated here from
  * the run's seed through `FixtureGen`'s public generator. */
object Inputs {

  /** Writes pages `[from, until)` of the seed's corpus as a parquet page
    * table (the program's input_hint shape) and returns its page mix,
    * observed on the write itself. With `copies`, some pages are copies
    * of earlier pages instead (see [[Copies]]). */
  def writePages(
      spark: SparkSession, seed: Long, from: Long, until: Long,
      files: Int, dir: String, copies: Option[Copies] = None): Map[String, Long] = {
    import spark.implicits._
    val obs = Observation("page_mix")
    def share(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val head = substring(col("html"), 1, 5)
    spark.range(from, until, 1L, files).map { i =>
      copies.flatMap(_.pageAt(seed, i)).getOrElse {
        val f = FixtureGen.fixtureAt(seed, i)
        PageRow(f.url, f.warc_ts, f.html, f.text, f.lang)
      }
    }.observe(obs,
      count(lit(1)).as("docs"),
      sum(length(col("html")).cast("long")).as("html_bytes"),
      share(head === lit("%PDF-".getBytes("US-ASCII"))).as("pdf"),
      share(col("lang") === "he").as("rtl"),
      share(length(col("html")) === 0).as("empty_payload"),
      share(substring(col("html"), 1, 1) === lit(Array[Byte](0))).as("binary_garbage"),
      share(col("url").startsWith("https://hot.example.com/")).as("hot_host"),
      share(col("url").contains("/copy/")).as("copies"))
      .write.parquet(dir)
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }
}

/** Injected duplicates for near-dup dedup. Page `i` of a wave is, with
  * probability `nearShare`, a near-copy of a page of the initial table
  * (`[0, sources)`), and with probability `exactShare` an exact copy. A
  * source is a content HTML page whose text is at least 400 chars; a
  * near-copy swaps one lowercase word of its article body for another.
  * That keeps the pair's shingle Jaccard above 0.9, far above the 0.6
  * threshold, where the default 16×4 banding misses a pair with
  * probability below 1e-5: the recall check is stable on every seed. A
  * copy keeps its source's host and is named `https://<host>/copy/<i>`. */
final case class Copies(nearShare: Double, exactShare: Double, sources: Long) {
  @transient private lazy val word = java.util.regex.Pattern.compile("(?<=[ \\n])[a-z]{4,}(?=[ \\n])")

  /** (source index, near) when page `i` is a copy */
  def planAt(seed: Long, i: Long): Option[(Long, Boolean)] = {
    // splitmix64 finalizer: java.util.Random's first draws for adjacent
    // seeds are nearly equal, so the index must be mixed first
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    val rng = new java.util.Random(z ^ (z >>> 31))
    val u = rng.nextDouble()
    if (u >= nearShare + exactShare) None
    else Iterator.fill(8)((rng.nextDouble() * sources).toLong).find { s =>
      val f = FixtureGen.fixtureAt(seed, s)
      f.expected.failure == graft.core.Failure.Ok && f.lang != "he" &&
        !graft.core.Extractor.isPdf(f.html) && f.expected.text.length >= 400
    }.map(s => (s, u < nearShare))
  }

  def pageAt(seed: Long, i: Long): Option[PageRow] = planAt(seed, i).map { case (s, near) =>
    val f = FixtureGen.fixtureAt(seed, s)
    // ISO-8859-1 maps bytes 1:1, so only the swapped ASCII word changes
    val html = new String(f.html, java.nio.charset.StandardCharsets.ISO_8859_1)
    val body = html.indexOf("article-body")
    val m = word.matcher(html)
    val edited =
      if (near && body >= 0 && m.find(body)) html.substring(0, m.start()) + "zephyr" + html.substring(m.end())
      else html
    PageRow(copyUrl(f.url, i), new java.sql.Timestamp(1600000000000L + i * 1000L),
      edited.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), null, f.lang)
  }

  def copyUrl(sourceUrl: String, i: Long): String = sourceUrl.replaceFirst("/page/\\d+$", s"/copy/$i")
}
