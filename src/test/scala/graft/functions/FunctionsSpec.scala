package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  import scala.collection.JavaConverters._

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("functions-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(rows: (Int, String)*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // --- TextAnalysis ---------------------------------------------------------

  test("tokenCount: native expression, edge cases") {
    val df = docs(1 -> "one two  three", 2 -> "", 3 -> "   ", 4 -> "single")
    val got = df.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 3, 2 -> 0, 3 -> 0, 4 -> 1))
  }

  test("langIdKernel: script and stopword detection") {
    assert(TextAnalysis.langIdKernel("the cat sat on the mat and it was good") == "en")
    assert(TextAnalysis.langIdKernel("der Hund ist nicht mit der Katze und das ist gut") == "de")
    assert(TextAnalysis.langIdKernel("le chat est dans la maison et il est content pour que") == "fr")
    assert(TextAnalysis.langIdKernel("el perro es un animal y la casa es una cosa que") == "es")
    assert(TextAnalysis.langIdKernel("这是一个中文句子没有空格") == "zh")
    assert(TextAnalysis.langIdKernel("שלום עולם ספר דבר") == "he")
    assert(TextAnalysis.langIdKernel("xyzzy qwerty plugh") == "und")
    assert(TextAnalysis.langIdKernel("") == "und")
    assert(TextAnalysis.langIdKernel(null) == "und")
  }

  test("fingerprint: deterministic, shift-stable rolling hash") {
    val a = TextAnalysis.fingerprintKernel("the quick brown fox jumps over the lazy dog")
    val b = TextAnalysis.fingerprintKernel("the quick brown fox jumps over the lazy dog")
    assert(a == b)
    // min-hash of shared windows survives a prefix shift when the minimum
    // window is inside the shared suffix
    val base = "zzzz the quick brown fox jumps over the lazy dog"
    val shifted = "aaaaaa the quick brown fox jumps over the lazy dog"
    // (not guaranteed equal in general, but both must be stable)
    assert(TextAnalysis.fingerprintKernel(base) == TextAnalysis.fingerprintKernel(base))
    assert(TextAnalysis.fingerprintKernel(shifted) == TextAnalysis.fingerprintKernel(shifted))
  }

  test("qualityScore: long clean text scores higher than junk") {
    val clean = ("the quick brown fox jumps over the lazy dog and runs far " * 10).trim
    val junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    val df = docs(1 -> clean, 2 -> junk)
    val s = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(s(1) > 0.8, s"clean=$s")
    assert(s(2) < 0.4, s"junk=$s")
  }

  // --- Dedup ----------------------------------------------------------------

  test("shingleSet + jaccard: identical=1, disjoint=0, ordering sound") {
    assert(Dedup.jaccardKernel("abcdefgh", "abcdefgh", 5) == 1.0)
    assert(Dedup.jaccardKernel("aaaaaaaa", "bbbbbbbb", 5) == 0.0)
    val j = Dedup.jaccardKernel("the quick brown fox", "the quick brown cat", 5)
    assert(j > 0.3 && j < 0.9, s"j=$j")
  }

  test("minhash signature approximates jaccard") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val sa = Dedup.minhashKernel(a, 5, 128)
    val sb = Dedup.minhashKernel(b, 5, 128)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    val real = Dedup.jaccardKernel(a, b, 5)
    assert(math.abs(est - real) < 0.15, s"est=$est real=$real")
  }

  test("minhashPairs finds planted near-duplicates, skips distinct docs") {
    val base = "large language models are trained on deduplicated web text corpora " +
      "because repeated documents waste compute and bias the distribution"
    val near = base.replace("waste", "burn") // tiny edit
    val other = "completely different subject matter entirely unrelated to the " +
      "previous documents in every possible way shape and form"
    val df = docs(1 -> base, 2 -> near, 3 -> other)
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.toSeq == Seq((1, 2)))
  }

  test("verifyJaccard: an id that carries two texts never gets a stale shingle set") {
    // one task sees every row in this order: other id 7 comes back with a
    // new text, and group id 2 changes text mid-run — both caches must
    // rebuild, or rows 3 and 4 would score against the earlier text
    val fox = "the quick brown fox jumps over the lazy dog near the river"
    val cat = "spark plans a shuffle exchange for every wide transformation"
    val s = spark; import s.implicits._
    val rows = Seq(
      (1, 7, fox, fox.replace("lazy", "sleepy")),
      (1, 8, fox, cat),
      (2, 7, cat.replace("every", "each"), cat),
      (2, 9, fox.replace("river", "bank"), fox))
    val input = rows.toDF("g", "o", "g_text", "o_text").coalesce(1)
    assert(input.rdd.getNumPartitions == 1)
    val got = Dedup.verifyJaccard(input, 5, 0.0)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    val want = rows.map { case (g, o, gt, ot) =>
      (g, o, BigDecimal(Dedup.jaccardKernel(gt, ot, 5))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }.sorted
    assert(got == want)
    // the two text families share no shingle, so a stale set would score
    // rows 3 and 4 near 0 instead of as the near-dups they are
    assert(Dedup.jaccardKernel(fox, cat, 5) == 0.0 && want.drop(2).forall(_._3 > 0.5), s"$want")
  }

  test("simhash: small edit → small hamming; different docs → large") {
    val a = Dedup.simhashKernel("the quick brown fox jumps over the lazy dog again and again")
    val b = Dedup.simhashKernel("the quick brown fox jumps over the lazy cat again and again")
    val c = Dedup.simhashKernel("entirely unrelated text about spark catalyst optimizer rules")
    assert(Dedup.hammingKernel(a, b) <= 12, s"near=${Dedup.hammingKernel(a, b)}")
    assert(Dedup.hammingKernel(a, c) > 12, s"far=${Dedup.hammingKernel(a, c)}")
  }

  test("simhashPairs: pigeonhole join finds low-hamming pairs, skips distant") {
    val base = "large language models are trained on deduplicated web text corpora " +
      "because repeated documents waste compute and bias the training distribution"
    // token order changed → same token multiset → identical simhash
    // (guaranteed chunk match; edit-sensitivity is covered by the kernel test)
    val near = base.split(" ").reverse.mkString(" ")
    val other = "entirely different text on another topic with nothing shared at all " +
      "between these two documents whatsoever in any words"
    val pairs = Dedup.simhashPairs(docs(1 -> base, 2 -> near, 3 -> other),
      "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.toSeq == Seq((1, 2)))
  }

  test("exactDedup: the min-id representative survives") {
    val df = docs(1 -> "same text", 2 -> "same text", 3 -> "unique text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getInt(0)).sorted.toSeq
    assert(kept == Seq(1, 3)) // min-id representative survives
  }

  // --- Similarity -------------------------------------------------------------

  private def vecs(rows: (Long, Seq[Float])*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("native cosine: exact values") {
    val df = vecs(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(1f, 1f))
    val q = vecs(1L -> Seq(1f, 0f))
    val top = Similarity.bruteForceTopK(df, q, k = 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // neighbor 3: cos = 1/sqrt(2) ≈ 0.7071; neighbor 2: cos = 0
    assert(top.toSeq == Seq((3L, 0.7071), (2L, 0.0)))
  }

  test("IVF ANN recalls in-cluster neighbors (coarse quantizer path)") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.01f).toSeq
    val c1 = Array.fill(16)(1.0f)
    val c2 = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0L until 40L).map(i => i -> jitter(if (i < 20) c1 else c2))
    val df = vecs(rows: _*)
    val q = vecs(0L -> rows.head._2)
    val got = Similarity.ivfTopK(df, q, k = 5, nLists = 4, nProbe = 2)
    val ids = got.collect().map(_.getLong(1))
    assert(ids.nonEmpty)
    ids.foreach(id => assert(id < 20, s"wrong cluster: $id"))
  }

  test("lsh ANN finds the true nearest neighbor for clustered vectors") {
    val rnd = new scala.util.Random(7)
    // two tight clusters far apart
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextFloat() * 0.01f).toSeq
    val c1 = Array.fill(16)(1.0f)
    val c2 = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0L until 20L).map(i => i -> jitter(if (i < 10) c1 else c2))
    val df = vecs(rows: _*)
    val q = vecs(0L -> rows.head._2)
    val got = Similarity.lshTopK(df, q, k = 3, nBits = 6, tables = 6).collect()
    assert(got.nonEmpty)
    // every returned neighbor must be from cluster 1 (ids 1..9)
    got.foreach(r => assert(r.getLong(1) < 10, s"wrong cluster: ${r.getLong(1)}"))
  }

  // --- plan contracts (scale discipline) ------------------------------------

  private def payloadFreeCandidateExchanges(
      plan: org.apache.spark.sql.execution.SparkPlan,
      keyNames: Set[String], payloadPrefixes: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val candidateExchanges = plan.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq.map(_.name)).exists(keyNames)
        case _ => false
      }) => e
    }
    assert(candidateExchanges.nonEmpty, s"expected a candidate-generation exchange on $keyNames:\n$plan")
    candidateExchanges.foreach { e =>
      val cols = e.output.map(_.name)
      payloadPrefixes.foreach { p =>
        assert(!cols.exists(_.startsWith(p)),
          s"candidate exchange on $keyNames carries payload column ($p*): $cols")
      }
    }
  }

  test("minhashPairs: NO text column rides the band-join exchanges (VERDICT r1 fix, 100 TB contract)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = docs((1 to 40).map(i => i -> s"document number $i with some shared words and tail $i"): _*)
      val q = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.1)
      payloadFreeCandidateExchanges(q.queryExecution.executedPlan,
        Set("band", "bandHash"), Seq("text"))
      assert(q.count() >= 0) // plan also executes
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  /** The verify-stage contract, checked on the plan AQE actually ran:
    * below the typed verify stage (the plan's one MapPartitions) no
    * shuffle exchange carries a text column — only candidate ids cross,
    * texts join onto them after the exchange — and the stage runs
    * `spark.sql.shuffle.partitions` tasks, fed by a hash exchange on the
    * grouping id (`groupId`), so each document's pairs land in one task. */
  private def idsOnlyVerifyStage(q: org.apache.spark.sql.DataFrame, groupId: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object aqe extends AdaptiveSparkPlanHelper
    assert(q.collect().nonEmpty, "the contract needs verified pairs to mean anything")
    val plan = q.queryExecution.executedPlan
    val verify = aqe.collect(plan) { case m: MapPartitionsExec => m }
    assert(verify.size == 1, s"expected one verify MapPartitions:\n$plan")
    val exchanges = aqe.collect(verify.head) { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      val cols = e.output.map(_.name)
      assert(!cols.exists(_.contains("text")),
        s"exchange below the verify carries text ($cols):\n$plan")
    }
    val n = spark.sessionState.conf.numShufflePartitions
    assert(exchanges.exists(e => e.outputPartitioning match {
      case h: HashPartitioning =>
        h.numPartitions == n && h.expressions.flatMap(_.references.map(_.name)) == Seq(groupId)
      case _ => false
    }), s"verify is not fed by a $n-way hash exchange on $groupId:\n$plan")
    val tasks = q.queryExecution.toRdd.getNumPartitions // the verify's stage is the last
    assert(tasks == n, s"verify stage ran $tasks tasks, not $n:\n$plan")
  }

  test("minhashPairs + probeMinhashIndex: verify stage is ids-only and numShufflePartitions wide (AQE on)") {
    // production settings: AQE on, default broadcast threshold — AQE
    // coalesces the small candidate set and broadcasts the text sides
    val s = spark; import s.implicits._
    val texts = (0 until 12).map(i => s"shared preamble about web text number ${i % 4} and more words $i")
    val all = texts.zipWithIndex.map { case (t, i) => (i + 1, t) }
    val q = Dedup.minhashPairs(all.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.3)
    idsOnlyVerifyStage(q, "id_a")
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      val (old, fresh) = all.partition(_._1 % 2 == 0)
      Dedup.writeMinhashIndex(old.toDF("doc_id", "text"), "doc_id", "text", tbl, buckets = 4)
      val p = Dedup.probeMinhashIndex(fresh.toDF("doc_id", "text"), "doc_id", "text", tbl,
        old.toDF("doc_id", "text"), threshold = 0.3)
      idsOnlyVerifyStage(p, "old_id")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("probeMinhashIndex: output columns are new_id, old_id, jaccard, in that order") {
    // callers read the pairs by ordinal (x26: r.getLong(0)) or write them
    // under a fixed schema (StreamingNearDup's pairsSchema), so the verify's
    // grouping side must not leak into the column order
    val s = spark; import s.implicits._
    val texts = (0 until 12).map(i => s"shared preamble about web text number ${i % 4} and more words $i")
    val all = texts.zipWithIndex.map { case (t, i) => (i + 1, t) }
    val (old, fresh) = all.partition(_._1 % 2 == 0)
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      Dedup.writeMinhashIndex(old.toDF("doc_id", "text"), "doc_id", "text", tbl, buckets = 4)
      val p = Dedup.probeMinhashIndex(fresh.toDF("doc_id", "text"), "doc_id", "text", tbl,
        old.toDF("doc_id", "text"), threshold = 0.3)
      assert(p.columns.toSeq == Seq("new_id", "old_id", "jaccard"))
      val rows = p.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(fresh.exists(_._1 == r.getInt(0)) && old.exists(_._1 == r.getInt(1)), s"$r")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("embeddingNearDupPairs: NO embedding rides the bucket-join exchanges") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = spark; import s.implicits._
      val vecs = (0 until 32).map(i => (i.toLong, Array.tabulate(8)(d => (i * d).toFloat / 7f)))
        .toDF("vec_id", "embedding")
      val q = Similarity.embeddingNearDupPairs(vecs, threshold = 0.0)
      payloadFreeCandidateExchanges(q.queryExecution.executedPlan,
        Set("table", "bucket"), Seq("emb"))
      assert(q.count() >= 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("lshTopK: NO embedding rides the bucket-join exchanges (round-3 refit)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = spark; import s.implicits._
      val vecs = (0 until 32).map(i => (i.toLong, Array.tabulate(8)(d => (i * d).toFloat / 7f)))
        .toDF("vec_id", "embedding")
      val q = Similarity.lshTopK(vecs, vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 3), k = 2)
      payloadFreeCandidateExchanges(q.queryExecution.executedPlan,
        Set("table", "bucket"), Seq("emb", "q_emb", "v_emb"))
      assert(q.count() >= 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("ivfTopK: NO embedding rides the list-join exchange (round-4 refit)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = spark; import s.implicits._
      val vecs = (0 until 32).map(i => (i.toLong, Array.tabulate(8)(d => (i * d).toFloat / 7f + 1f)))
        .toDF("vec_id", "embedding")
      val q = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 3), k = 2,
        nLists = 4, nProbe = 2)
      payloadFreeCandidateExchanges(q.queryExecution.executedPlan,
        Set("list"), Seq("emb", "q_emb", "v_emb"))
      assert(q.count() >= 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("pair generators: self-join sides share ONE exchange (ReusedExchange, round-4)") {
    // the rename-then-join shape made the two self-join sides different
    // plans, so the signature kernel + its input subtree ran TWICE; with
    // rename-after-join the sides canonicalize equal and Spark reuses the
    // left exchange for the right
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      val df = docs((1 to 40).map(i => i -> s"document number $i with some shared words and tail $i"): _*)
      val mh = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.1)
      assert(mh.queryExecution.executedPlan.collect {
        case r: ReusedExchangeExec => r }.nonEmpty,
        s"minhashPairs self-join did not reuse an exchange:\n${mh.queryExecution.executedPlan}")
      val sh = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 12)
      assert(sh.queryExecution.executedPlan.collect {
        case r: ReusedExchangeExec => r }.nonEmpty,
        s"simhashPairs self-join did not reuse an exchange:\n${sh.queryExecution.executedPlan}")
      assert(mh.count() >= 0 && sh.count() >= 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("embeddingNearDupPairs: self-join sides share ONE exchange in the final adaptive plan (AQE on)") {
    // production settings (x15): AQE on, default broadcast threshold. The
    // reuse must survive AQE's re-planning, not only the static plan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    object aqe extends AdaptiveSparkPlanHelper
    val s = spark; import s.implicits._
    val vecs = (0 until 32).map(i => (i.toLong, Array.tabulate(8)(d => (i * d).toFloat / 7f + 1f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.embeddingNearDupPairs(vecs, threshold = 0.3)
    assert(q.collect().nonEmpty)
    val plan = q.queryExecution.executedPlan
    assert(aqe.collect(plan) { case r: ReusedExchangeExec => r }.nonEmpty,
      s"embeddingNearDupPairs self-join did not reuse an exchange:\n$plan")
  }

  test("incremental near-dup: probe reports new-vs-old pairs only") {
    val base = "large language models are trained on deduplicated web text corpora " +
      "because repeated documents waste compute and bias the distribution"
    val nearA = base.replace("waste", "burn")
    val nearB = base.replace("compute", "budget")
    val other = "completely different subject matter entirely unrelated to the " +
      "previous documents in every possible way shape and form"
    // committed (old) corpus: 2 -> near dup of base, 4 -> distinct;
    // new batch: 1 -> base (pairs with 2), 3 -> ALSO near base (a
    // new-new near-dup pair 1-3 must NOT be reported), 5 -> distinct
    val old = docs(2 -> nearA, 4 -> other)
    val fresh = docs(1 -> base, 3 -> nearB, 5 -> "nothing shared here at all truly")
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      Dedup.writeMinhashIndex(old, "doc_id", "text", tbl, buckets = 4)
      val got = Dedup.probeMinhashIndex(fresh, "doc_id", "text", tbl, old,
        threshold = 0.5).collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(got == Seq((1, 2), (3, 2)), s"got=$got")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("incremental ingest loop: probe wave B, absorb it, wave C sees A and B") {
    val base = "large language models are trained on deduplicated web text corpora " +
      "because repeated documents waste compute and bias the distribution"
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      // wave A indexed; wave B probed then ABSORBED; wave C must pair
      // with near-dups from BOTH earlier waves
      Dedup.writeMinhashIndex(docs(1 -> base.replace("waste", "burn")),
        "doc_id", "text", tbl, buckets = 4)
      val waveB = docs(2 -> base.replace("compute", "budget"),
        3 -> "completely unrelated subject matter entirely elsewhere today")
      val gotB = Dedup.probeMinhashIndex(waveB, "doc_id", "text", tbl,
        docs(1 -> base.replace("waste", "burn")), threshold = 0.5)
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(gotB == Seq((2, 1)), s"gotB=$gotB")
      Dedup.appendToMinhashIndex(waveB, "doc_id", "text", tbl, buckets = 4)
      val oldCorpus = docs(1 -> base.replace("waste", "burn"),
        2 -> base.replace("compute", "budget"),
        3 -> "completely unrelated subject matter entirely elsewhere today")
      val probeC = Dedup.probeMinhashIndex(docs(4 -> base), "doc_id", "text",
        tbl, oldCorpus, threshold = 0.5)
      // the APPENDED index (multi-file buckets — Spark drops the per-
      // bucket sort guarantee, a SortExec on the index side is fine)
      // must still reach its join without an exchange
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val plan = probeC.queryExecution.executedPlan
        val joins = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
        assert(joins.exists(_.children.exists(c =>
          c.collect { case f: FileSourceScanExec => f }.nonEmpty &&
            c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
          s"appended index scan rides an exchange before its join:\n$plan")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
      val gotC = probeC
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(gotC == Seq((4, 1), (4, 2)), s"gotC=$gotC")
      // a mismatched bucket spec is refused loudly, never silently mixed
      intercept[Exception] {
        Dedup.appendToMinhashIndex(waveB, "doc_id", "text", tbl, buckets = 8)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("incremental index: 3 absorbed waves stay exchange-free; compaction restores single-file buckets") {
    // a long-lived index accumulates files per bucket with every absorbed
    // wave (VERDICT r4 #5): the probe plan must stay exchange-free on the
    // index side as files multiply, and compactMinhashIndex must rewrite
    // to one file per bucket without changing a single verdict
    val base = "large language models are trained on deduplicated web text corpora " +
      "because repeated documents waste compute and bias the distribution"
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val waves = Seq(
        docs(1 -> base.replace("waste", "burn"), 10 -> "first wave filler text one"),
        docs(2 -> base.replace("compute", "budget"), 20 -> "second wave filler text two"),
        docs(3 -> base.replace("models", "systems"), 30 -> "third wave filler text three"),
        docs(4 -> base.replace("documents", "pages"), 40 -> "fourth wave filler text four"))
      Dedup.writeMinhashIndex(waves.head, "doc_id", "text", tbl, buckets = 4)
      waves.tail.foreach(w => // 3 absorbed waves on top of the initial write
        Dedup.appendToMinhashIndex(w, "doc_id", "text", tbl, buckets = 4))
      val oldCorpus = waves.reduce(_ union _)
      def indexSideExchangeFree(q: org.apache.spark.sql.DataFrame): Unit = {
        val plan = q.queryExecution.executedPlan
        val joins = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
        assert(joins.exists(_.children.exists(c =>
          c.collect { case f: FileSourceScanExec => f }.nonEmpty &&
            c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
          s"index scan rides an exchange before its join:\n$plan")
        val scans = plan.collect { case f: FileSourceScanExec => f }
        assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isDefined),
          s"expected a bucketed index scan:\n$plan")
      }
      val probe = docs(5 -> base)
      val q1 = Dedup.probeMinhashIndex(probe, "doc_id", "text", tbl, oldCorpus, threshold = 0.5)
      indexSideExchangeFree(q1)
      val before = q1.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(before == Seq((5, 1), (5, 2), (5, 3), (5, 4)), s"before=$before")
      val filesBefore = spark.table(tbl).inputFiles.length
      val rowsBefore = spark.table(tbl).count()
      Dedup.compactMinhashIndex(spark, tbl)
      assert(spark.table(tbl).count() == rowsBefore, "compaction must not lose rows")
      val filesAfter = spark.table(tbl).inputFiles.length
      assert(filesAfter < filesBefore && filesAfter <= 4,
        s"expected <= 4 single-file buckets, got $filesAfter (was $filesBefore)")
      val q2 = Dedup.probeMinhashIndex(probe, "doc_id", "text", tbl, oldCorpus, threshold = 0.5)
      indexSideExchangeFree(q2)
      val after = q2.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(after == before, s"compaction changed verdicts: $after vs $before")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_retired")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("compactMinhashIndex: crash inside the swap window auto-recovers from _retired") {
    // simulate the documented crash point: after `table` was renamed
    // aside but before the rewrite was renamed in — the next compaction
    // must rename `_retired` back and complete, verdicts unchanged
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      val old = docs(2 -> "alpha beta gamma delta shared tail", 4 -> "wholly different filler words here")
      val fresh = docs(1 -> "alpha beta gamma delta shared tail")
      Dedup.writeMinhashIndex(old, "doc_id", "text", tbl, buckets = 4)
      val before = Dedup.probeMinhashIndex(fresh, "doc_id", "text", tbl, old, threshold = 0.5)
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(before == Seq((1, 2)), s"before=$before")
      spark.sql(s"ALTER TABLE $tbl RENAME TO ${tbl}_retired") // the crash window
      Dedup.compactMinhashIndex(spark, tbl)
      val after = Dedup.probeMinhashIndex(fresh, "doc_id", "text", tbl, old, threshold = 0.5)
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(after == before, s"recovery changed verdicts: $after vs $before")
      assert(spark.table(tbl).inputFiles.length <= 4, "recovered index not compacted")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_retired")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("incremental probe: the index side is NEVER shuffled (bucketed scan, 100 TB contract)") {
    // the point of the persisted index: at 10^12 docs the corpus-sized
    // side of the probe join must come straight off its bucketed files —
    // only the new batch's band rows (ids + hashes) may cross an exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val tbl = "inc_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val old = docs((1 to 40).filter(_ % 2 == 0)
        .map(i => i -> s"document number $i with some shared words and tail $i"): _*)
      val fresh = docs((1 to 40).filter(_ % 2 != 0)
        .map(i => i -> s"document number $i with some shared words and tail $i"): _*)
      Dedup.writeMinhashIndex(old, "doc_id", "text", tbl, buckets = 4)
      val q = Dedup.probeMinhashIndex(fresh, "doc_id", "text", tbl, old, threshold = 0.1)
      val plan = q.queryExecution.executedPlan
      // the index files ARE scanned, through the bucket spec ...
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isDefined),
        s"expected a bucketed file scan of the index:\n$plan")
      // ... and the scan reaches its join WITHOUT crossing an exchange
      // (downstream candidate-id exchanges legitimately have the scan in
      // their subtree; the contract is about the scan-to-join path — the
      // corpus-sized side must come straight off its bucketed files)
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(joins.exists(_.children.exists(c =>
        c.collect { case f: FileSourceScanExec => f }.nonEmpty &&
          c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"index scan rides an exchange before its join:\n$plan")
      // the probe-side band exchange is ids+hashes only
      payloadFreeCandidateExchanges(plan, Set("band_hash"), Seq("text"))
      assert(q.count() >= 0) // plan also executes
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("redactPii: emails/phones/IPs to sentinels, everything else untouched") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1, "reach alice.bob@corp.io or +49-123-4567 at 10.0.0.1 today"),
      (2, "no pii in this line at all"),
      (3, "bob@webmail.com starts and ends with carol.dave@example.org"),
      (4, "version 1.2.3 is not an ip and 12-345-6789 is not a phone"),
      (5, null.asInstanceOf[String]),
      (6, "build 999.999.999.999 and 256.1.1.1 are not ips but 255.255.255.255 is"))
    val got = rows.toDF("id", "text")
      .select(col("id"), TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got(1) == "reach [EMAIL] or [PHONE] at [IP] today")
    assert(got(2) == "no pii in this line at all")
    assert(got(3) == "[EMAIL] starts and ends with [EMAIL]")
    assert(got(4) == "version 1.2.3 is not an ip and 12-345-6789 is not a phone")
    assert(got(5) == null) // null propagates
    assert(got(6) == "build 999.999.999.999 and 256.1.1.1 are not ips but [IP] is")
  }

  test("redactPii catches every generated PII span (vs PiiCorpus generation truth)") {
    val s = spark; import s.implicits._
    val n = 400L
    val got = s.range(n).as[Long]
      .map(i => (i, graft.fixtures.PiiCorpus.lineAt(7L, i)._1))
      .toDF("i", "raw")
      .select(col("i"), TextAnalysis.redactPii(col("raw")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until n).foreach { i =>
      assert(got(i) == graft.fixtures.PiiCorpus.lineAt(7L, i)._2, s"line $i")
    }
  }

  test("canonicalizeUrl: case, ports, fragments, tracking params, param sort") {
    import UrlCanon.canonicalKernel
    assert(canonicalKernel("HTTPS://Example.COM:443/a/B?z=1&a=2#frag") ==
      "https://example.com/a/B?a=2&z=1") // path case preserved, query sorted
    assert(canonicalKernel("http://site.org:80") == "http://site.org/")
    assert(canonicalKernel("http://site.org:8080/x") == "http://site.org:8080/x")
    assert(canonicalKernel("https://h.io/p?utm_source=a&id=1&gclid=g&fbclid=f") ==
      "https://h.io/p?id=1")
    assert(canonicalKernel("https://h.io/p?utm_source=a") == "https://h.io/p")
    // stable sort: equal keys keep original relative order
    assert(canonicalKernel("https://h.io/?b=2&a=x&a=y") == "https://h.io/?a=x&a=y&b=2")
    assert(canonicalKernel("not a url at all") == "not a url at all")
    assert(canonicalKernel(null) == null)
    // default-port strip only where it IS a port (round-4 review):
    // bracketed IPv6 hosts strip; a colon-bearing unbracketed remainder
    // is left alone rather than corrupted
    assert(canonicalKernel("https://[2001:db8::1]:443/x") == "https://[2001:db8::1]/x")
    assert(canonicalKernel("http://user:pw@host.io:80/x") == "http://user:pw@host.io/x")
    assert(canonicalKernel("http://weird:8:80/x") == "http://weird:8:80/x")
  }

  test("canonicalizeUrl recovers the composed canonical (vs UrlCorpus generation truth)") {
    val s = spark; import s.implicits._
    val n = 400L
    val got = s.range(n).as[Long]
      .map(i => (i, graft.fixtures.UrlCorpus.lineAt(9L, i)._1))
      .toDF("i", "raw")
      .select(col("i"), NativeFunctions.canonicalizeUrl(col("raw")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until n).foreach { i =>
      val (raw, expected) = graft.fixtures.UrlCorpus.lineAt(9L, i)
      assert(got(i) == expected, s"line $i raw=$raw")
    }
  }

  test("dropBoilerplateLines: frequency threshold, order preserved, all-boiler doc empties") {
    val s = spark; import s.implicits._
    val boiler = "subscribe to our newsletter"
    val rows = (1 to 6).map(i => (i, s"unique line $i-a\n$boiler\nunique line $i-b")) :+
      (7 -> s"$boiler\n$boiler") :+ // all-boiler doc -> ""
      (8 -> "rare shared line\nonly here") :+
      (9 -> "rare shared line\nand here too") // 2 docs < threshold: kept
    val got = Dedup.dropBoilerplateLines(rows.toDF("doc_id", "text"),
      "doc_id", "text", minDocs = 5)
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got(1) == ("unique line 1-a\nunique line 1-b", 3, 1))
    assert(got(7) == ("", 2, 2))
    assert(got(8) == ("rare shared line\nonly here", 2, 0))
    assert(got(9) == ("rare shared line\nand here too", 2, 0))
  }

  test("dropBoilerplateLines: count pass exchanges hashes only; filter pass never shuffles text") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val s = spark; import s.implicits._
      val df = (1 to 40).map(i => (i, s"unique $i\nshared boilerplate line"))
        .toDF("doc_id", "text")
      val q = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 5)
      // pass 2 (the returned frame) is a pure projection: no exchange at all
      assert(q.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.isEmpty,
        s"the filter pass must not shuffle:\n${q.queryExecution.executedPlan}")
      assert(q.count() == 40)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("dropBoilerplateLines: Bloom offender path agrees with the exact path (VERDICT r4)") {
    val s = spark; import s.implicits._
    // 6 boiler lines each shared by >= 5 docs, interleaved with salted
    // unique lines — the exact path's verdict is the ground truth the
    // Bloom path must reproduce
    val pool = (0 until 6).map(i => s"shared boilerplate $i")
    val rows = (0 until 60).map { i =>
      (i.toLong, s"unique ${i}a\n${pool(i % 6)}\nunique ${i}b\n${pool((i + 1) % 6)}")
    }
    val df = rows.toDF("doc_id", "text")
    val exact = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    // maxExactOffenders = 0 forces the aggregated-Bloom branch; fpp 1e-6
    // makes a unique-line false positive impossible at this scale, and the
    // Bloom hash seeds are fixed, so the comparison is deterministic
    val bloom = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 5,
      maxExactOffenders = 0L, bloomFpp = 1e-6)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(exact.values.map(_._3).sum == 120, "every pool occurrence removed")
    assert(bloom == exact)
  }

  test("simhashPairs: token-less texts never pair (round-4: degenerate sig-0 clique)") {
    // every empty/whitespace-only text hashes to sig 0L — all four chunks
    // collide, so m such docs formed one m²/2 candidate clique at web scale
    val df = docs(
      1 -> "", 2 -> "   ", 3 -> "\t\n   ", 4 -> null.asInstanceOf[String],
      5 -> ("identical non-empty text about spark " * 3),
      6 -> ("identical non-empty text about spark " * 3))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3).collect()
    val ids = pairs.map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(ids == Set((5, 6)), s"token-less docs paired: ${ids.mkString(",")}")
  }

  test("LSH bucketing: zero-norm vectors produce no candidates (round-4 clique guard)") {
    val zero = Seq.fill(8)(0f)
    val real = (0 until 6).map(i => (10L + i, Seq.tabulate(8)(d => (i + d + 1).toFloat)))
    val df = vecs((Seq(1L -> zero, 2L -> zero) ++ real): _*)
    // dedup flavor at threshold 0.0 (cosine(0,·)=0 would pass) — the zero
    // vectors must be absent from candidate generation entirely
    val pairIds = Similarity.embeddingNearDupPairs(df, threshold = 0.0)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!pairIds.contains(1L) && !pairIds.contains(2L), s"zero vecs paired: $pairIds")
    // top-k flavor: a zero-norm query matches nothing; zero-norm vectors
    // are never returned as neighbors
    val got = Similarity.lshTopK(df, vecs(1L -> zero), k = 3)
    assert(got.count() == 0)
    val neighbors = Similarity.lshTopK(df, vecs((20L, real.head._2)), k = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!neighbors.contains(1L) && !neighbors.contains(2L))
  }

  test("minhashPairs: texts too short for one shingle never pair (round-3 review)") {
    // 'abcd' vs 'wxyz' share zero characters — the old empty-shingle
    // signature made them a jaccard-1.0 pair (and m short docs an m²/2
    // candidate clique at scale)
    val df = docs(
      1 -> "abcd", 2 -> "wxyz", 3 -> "", 4 -> "ab",
      5 -> "a long enough real document with words",
      6 -> "a long enough real document with words")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.0).collect()
    val ids = pairs.map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(ids == Set((5, 6)), s"short docs paired: ${ids.mkString(",")}")
  }

  test("bpeTokenCount: GPT-2-style pre-tokenization, native regexp_count vs kernel") {
    val cases = Seq(
      "Hello, world! It's 42" -> 7, // Hello | , |  world | ! |  It | 's |  42
      "" -> 0,
      "   " -> 0,   // pure whitespace never matches
      "a1b2" -> 4,  // letter/digit alternation splits
      "don't" -> 2) // don | 't (contraction branch)
    val df = docs(cases.zipWithIndex.map { case ((t, _), i) => i -> t }: _*)
    val got = df.select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((t, expected), i) =>
      assert(got(i) == expected, s"native count for '$t'")
      assert(TextAnalysis.bpeTokenCountKernel(t) == expected, s"kernel count for '$t'")
    }
    assert(TextAnalysis.bpeTokenCountKernel(null) == 0)
  }

  // --- ANN recall: the approximate paths must actually approximate -----------

  test("lshTopK and ivfTopK recall vs brute force on clustered vectors") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(20260816L)
    val dim = 16
    // 20 cluster centers, 40 points each: ANN-friendly structure with
    // genuine neighborhoods (uniform noise would make recall meaningless)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val vecs = (0 until 800).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.zipWithIndex.map { case (x, d) => x + 0.15f * rng.nextGaussian().toFloat }.toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val k = 10
    def neighborSet(res: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      res.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = neighborSet(Similarity.bruteForceTopK(df, queries, k))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).count(truth).toDouble / truth.size }
      hits.sum / hits.size
    }
    val lsh = recall(neighborSet(Similarity.lshTopK(df, queries, k)))
    val ivf = recall(neighborSet(Similarity.ivfTopK(df, queries, k, nLists = 16, nProbe = 4)))
    // floors chosen with slack under the fixed seed (measured ~0.9+ both)
    assert(lsh >= 0.5, s"LSH recall@$k too low: $lsh")
    assert(ivf >= 0.7, s"IVF recall@$k too low: $ivf")
    info(f"recall@$k: lsh=$lsh%.3f ivf=$ivf%.3f (brute-force exact)")
  }

  test("char-bigram LM: layout-independent model, predictable text scores lower, empty scores 0") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(7L)
    val english = "the quick brown fox jumps over the lazy dog and runs far away today "
    val rows = (0L until 60L).map { i =>
      (i, english * (2 + (i % 3).toInt))
    } :+ (60L -> "") :+ (61L -> (null: String))
    val df = rows.toDF("doc_id", "text")
    val lm = LanguageModel.trainCharBigramLm(df, "doc_id", "text",
      sampleRate = 0.8, maxPairs = 10000)
    // layout independence: the model is a pure function of the data
    val lm2 = LanguageModel.trainCharBigramLm(df.repartition(7), "doc_id", "text",
      sampleRate = 0.8, maxPairs = 10000)
    assert(lm == lm2, "model must not depend on the physical layout")
    val inDist = LanguageModel.bitsPerCharKernel(english, lm)
    val gibberish = new String(Array.fill(70)(('!' + rng.nextInt(90)).toChar))
    val outDist = LanguageModel.bitsPerCharKernel(gibberish, lm)
    assert(inDist < outDist,
      f"in-distribution text must score lower: $inDist%.2f vs $outDist%.2f")
    assert(LanguageModel.bitsPerCharKernel("", lm) == 0.0)
    assert(LanguageModel.bitsPerCharKernel(null, lm) == 0.0)
    val scored = LanguageModel.scoreBitsPerChar(df, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(60L) == 0.0 && scored(61L) == 0.0)
    assert(scored(0L) < outDist)
  }

  test("LM scoring is map-side: zero exchanges, corpus scanned once (100 TB contract)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val s = spark; import s.implicits._
      val df = (0L until 40L).map(i => (i, s"some text number $i here"))
        .toDF("doc_id", "text")
      val lm = LanguageModel.trainCharBigramLm(df, "doc_id", "text",
        sampleRate = 1.0, maxPairs = 1000)
      val q = LanguageModel.scoreBitsPerChar(df, "doc_id", "text", lm)
      assert(q.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.isEmpty,
        s"scoring must not shuffle:\n${q.queryExecution.executedPlan}")
      assert(q.count() == 40)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("persisted IVF index: exchange-free probe, absorb with frozen centroids, parity with ivfTopK") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(20260817L)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.15f * rng.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 6)
    val tbl = "ivf_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      Similarity.writeIvfIndex(df, tbl, nLists = 8, buckets = 4)
      val probe = Similarity.probeIvfIndex(queries, tbl, k = 5, nProbe = 3)
      // the corpus-sized assignments scan reaches its list join without an
      // exchange (the x26 index contract, embeddings flavor)
      val plan = probe.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(joins.exists(_.children.exists(c =>
        c.collect { case f: FileSourceScanExec => f }.nonEmpty &&
          c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"index scan rides an exchange before its join:\n$plan")
      // same verdicts as the in-memory ivfTopK with the same model shape
      val viaIndex = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inMemory = Similarity.ivfTopK(df, queries, k = 5, nLists = 8, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex == inMemory, s"index probe diverged from ivfTopK")
      // absorb: a second wave is assigned with the EXISTING centroids; the
      // probe now sees it, and the centroid table is untouched
      val centroidsBefore = s.table(s"${tbl}_centroids").collect().toSeq.toString
      val wave = (400 until 500).map { i =>
        val c = centers(i % 8)
        (i.toLong, c.map(x => x + 0.15f * rng.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")
      Similarity.appendToIvfIndex(wave, tbl, buckets = 4)
      assert(s.table(s"${tbl}_centroids").collect().toSeq.toString == centroidsBefore,
        "absorb must not retrain the quantizer")
      assert(s.table(tbl).count() == 500)
      val after = Similarity.probeIvfIndex(queries, tbl, k = 500, nProbe = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(after.exists(_ >= 400L), "absorbed wave must be probeable")
      // a mismatched bucket spec is refused loudly
      intercept[Exception](Similarity.appendToIvfIndex(wave, tbl, buckets = 8))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("AnswerKeys.hostOf == hostCol (try_parse_url) across url shapes (round-4)") {
    import graft.verify.AnswerKeys
    val s = spark; import s.implicits._
    val urls = Seq(
      "https://example.com/path", "http://host.example.com/a/b?q=1#f",
      "https://user:pw@example.com/x",          // userinfo
      "https://example.com:8443/x",             // port
      "https://user@example.com:9090/x?a=b#c",  // both
      "example.com/no-scheme", "//protocol-relative.example.com/x",
      "https://UPPER.Example.COM/x", "ftp://files.example.com/f.bin",
      "https://example.com", "https://example.com?q=1", "https://example.com#f",
      "not a url at all", "", "https://", "mailto:user@example.com",
      "https://sub.do-main.example.co.uk/deep/path/x.html",
      "https://127.0.0.1:8080/x", "https://[2001:db8::1]:443/x") ++
      (0 until 50).map(i => graft.fixtures.FixtureGen.fixtureAt(42L, i.toLong).url)
    val got = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("i", "url")
      .select(col("i"), graft.spark.ExtractPipeline.hostCol(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    urls.zipWithIndex.foreach { case (u, i) =>
      assert(AnswerKeys.hostOf(u) == got(i.toLong), s"hostOf diverged on '$u'")
    }
  }

  test("AnswerKeys mirrors are bit-exact vs the native expressions on adversarial inputs") {
    import graft.verify.AnswerKeys
    val s = spark; import s.implicits._
    val pieces = Seq(
      "the quick", "  brown\tfox ", "!!!", "h\u00E9llo w\u00F6rld", "42 1,000",
      "a", "", "   ", "\n\n", "punct???!!!", "\u03C2 \u03A3\u0399\u0393\u039C\u0391",
      "THE AND OF", "x" * 300, "\uD83D\uDE00 emoji", "tab\there", "\u00A0nbsp")
    val rng = new scala.util.Random(99L)
    val texts = (0 until 80).map { i =>
      i.toLong -> (0 to rng.nextInt(5)).map(_ => pieces(rng.nextInt(pieces.length))).mkString(" ")
    }
    val df = texts.toDF("doc_id", "text")
    val gotQ = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gotT = df.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    texts.foreach { case (id, t) =>
      assert(java.lang.Double.doubleToLongBits(gotQ(id)) ==
        java.lang.Double.doubleToLongBits(AnswerKeys.quality(t)), s"quality mirror for '$t'")
      assert(gotT(id) == AnswerKeys.tokenCount(t), s"tokenCount mirror for '$t'")
    }
    // cosine: random float vectors incl. zero vectors
    val vecs = (0 until 40).map { i =>
      val a = Array.fill(12)(if (i == 0) 0f else rng.nextFloat() - 0.5f)
      val b = Array.fill(12)(if (i == 1) 0f else rng.nextFloat() - 0.5f)
      (i.toLong, a, b)
    }
    val vdf = vecs.toDF("id", "a", "b")
    val gotC = vdf.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, a, b) =>
      assert(java.lang.Double.doubleToLongBits(gotC(id)) ==
        java.lang.Double.doubleToLongBits(AnswerKeys.cosine(a, b)), s"cosine mirror at $id")
    }
  }
}
