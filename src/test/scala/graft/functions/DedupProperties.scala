package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck sweep of the cleaning and near-dup operators against
  * brute-force single-node oracles. The cleaning pair changed most in
  * round 5 (size-gated offender membership, HLL broadcast gate), so
  * beyond the targeted specs the whole semantic surface is swept: random
  * corpora with random shared-line pools and random n-gram overlap,
  * engine verdicts (hash-based, distributed) vs plain string counting.
  * The MinHash pair generators are swept the same way against band
  * collision + exact Jaccard, on corpora that repeat texts under
  * distinct ids (the case the verify stage's per-document caches see). */
object DedupProperties extends Properties("graft.cleaning") {

  private lazy val spark = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("cleaning-props")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val pool = (0 until 8).map(i => s"shared line number $i")

  private val docsGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(0, 50)
    rows <- Gen.listOfN(n, for {
      lines <- Gen.choose(0, 6)
      parts <- Gen.listOfN(lines, Gen.frequency(
        2 -> Gen.oneOf(pool),
        3 -> Gen.choose(0, 100000).map(x => s"unique content $x"),
        1 -> Gen.const("")))
    } yield parts.mkString("\n"))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("dropBoilerplateLines == string-counting oracle at any minDocs") =
    Prop.forAll(docsGen, Gen.choose(2, 6)) { (docs, minDocs) =>
      docs.isEmpty || {
        val s = spark; import s.implicits._
        val got = Dedup.dropBoilerplateLines(
            docs.toDF("doc_id", "text"), "doc_id", "text", minDocs)
          .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3)))
          .toMap
        val lineDocs = new scala.collection.mutable.HashMap[String, Set[Long]]()
        docs.foreach { case (id, t) =>
          t.split("\n", -1).distinct.foreach(l =>
            lineDocs.update(l, lineDocs.getOrElse(l, Set.empty) + id)) }
        val offenders = lineDocs.filter(_._2.size >= minDocs).keySet
        docs.forall { case (id, t) =>
          val lines = t.split("\n", -1)
          val kept = lines.filterNot(offenders)
          got(id) == ((kept.mkString("\n"), lines.length, lines.length - kept.length))
        }
      }
    }

  private val wordDocsGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, Gen.listOf(
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta")).map(_.mkString(" ")))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("contaminatedIds == brute n-gram intersection oracle") =
    Prop.forAll(wordDocsGen, Gen.choose(1, 4)) { (docs, n) =>
      val s = spark; import s.implicits._
      val (bench, corpus) = docs.partition(_._1 % 5 == 0)
      (bench.isEmpty || corpus.isEmpty) || {
        val got = Decontaminate.contaminatedIds(
            corpus.toDF("doc_id", "text"), "doc_id", "text",
            bench.toDF("doc_id", "text"), "text", n)
          .collect().map(_.getLong(0)).toSet
        def grams(t: String): Set[Seq[String]] = {
          val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
          if (toks.length < n) Set.empty
          else toks.sliding(n).map(_.toSeq).toSet
        }
        val benchGrams = bench.flatMap(b => grams(b._2)).toSet
        val want = corpus.filter(c => grams(c._2).exists(benchGrams)).map(_._1).toSet
        got == want
      }
    }

  private val vocab = Vector("web", "text", "corpus", "page", "crawl", "index",
    "shingle", "band", "hash", "spark", "token", "model", "data", "scale")

  /** Near-dup corpora: a few base texts, each row an exact copy, a
    * one-to-three-word edit of a base, or a text too short to shingle.
    * Ids are distinct and NOT in text order, so exact copies sit under
    * unrelated ids and several ids share one text. */
  private val nearDupGen: Gen[Seq[(Long, String)]] = for {
    nBase <- Gen.choose(1, 4)
    bases <- Gen.listOfN(nBase, Gen.choose(8, 24).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))))
    n <- Gen.choose(2, 24)
    rows <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.oneOf(bases).map(_.mkString(" ")),
      4 -> (for {
        b <- Gen.oneOf(bases)
        edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, b.length - 1), Gen.oneOf(vocab)))
        k <- Gen.choose(1, 3)
      } yield edits.take(k).foldLeft(b.toVector) { case (w, (i, x)) => w.updated(i, x) }
        .mkString(" ")),
      1 -> Gen.oneOf("", "web", "ab cd")))
  } yield rows.zipWithIndex.map { case (t, i) => ((i * 7919L) % 10007L, t) }

  private def round4(j: Double): Double =
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The verify oracle: exact shingle Jaccard, kept at >= threshold,
    * reported rounded to 4 places. */
  private def verified(a: String, b: String, threshold: Double): Option[Double] = {
    val j = Dedup.jaccardKernel(a, b, 5)
    if (j >= threshold) Some(round4(j)) else None
  }

  property("minhashPairs == band-collision + exact-Jaccard oracle") =
    Prop.forAll(nearDupGen, Gen.oneOf(0.0, 0.3, 0.6, 0.8)) { (docs, threshold) =>
      val s = spark; import s.implicits._
      val got = Dedup.minhashPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
          threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      // minhashPairs joins on (band ordinal, band hash)
      val bands = docs.map { case (id, t) => id -> Dedup.textBands(t, 5, 16, 4).toSeq }.toMap
      val want = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        if bands(a).zip(bands(b)).exists { case (x, y) => x == y }
        j <- verified(ta, tb, threshold)
      } yield (a, b, j)).sorted
      (got == want) :| s"got=$got want=$want"
    }

  property("probeMinhashIndex == band-collision + exact-Jaccard oracle") =
    Prop.forAll(nearDupGen, Gen.oneOf(0.0, 0.3, 0.6, 0.8)) { (docs, threshold) =>
      val s = spark; import s.implicits._
      val (old, fresh) = docs.partition(_._1 % 2 == 0)
      if (old.isEmpty || fresh.isEmpty) Prop.passed else {
        val tbl = "props_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
        try {
          Dedup.writeMinhashIndex(old.toDF("doc_id", "text"), "doc_id", "text", tbl, buckets = 4)
          val got = Dedup.probeMinhashIndex(fresh.toDF("doc_id", "text"), "doc_id", "text",
              tbl, old.toDF("doc_id", "text"), threshold = threshold)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
          // the persisted index joins on the band hash alone (the ordinal
          // is folded into it)
          def bands(t: String) = Dedup.textBands(t, 5, 16, 4).toSet
          val want = (for {
            (n, tn) <- fresh; (o, to) <- old
            if (bands(tn) intersect bands(to)).nonEmpty
            j <- verified(tn, to, threshold)
          } yield (n, o, j)).sorted
          (got == want) :| s"got=$got want=$want"
        } finally { s.sql(s"DROP TABLE IF EXISTS $tbl"); () }
      }
    }
}
