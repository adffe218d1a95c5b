package graft

import graft.functions.{Dedup, NativeFunctions, Similarity, TextAnalysis}
import graft.spark.{Corpus, ExtractPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with a DuckDB-equivalent `oracleSql` for everything
  * ANSI-SQL-expressible. Extraction/dedup/ANN kernels that SQL cannot
  * express are rows-checked and gated instead by the byte-identity golden
  * tests (`sbt -batch test`, north-rule mechanism).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Oracle SQL over a materialized answer key (see
    * [[graft.verify.AnswerKeys]]): DuckDB reads the key parquet directly. */
  private def aux(name: String, cols: String, order: String): String =
    s"SELECT $cols FROM read_parquet('${graft.verify.AnswerKeys.auxDir}/$name/*.parquet') ORDER BY $order"

  /** Shared funnel stages for x17/x24 — the oracle pins BOTH queries to
    * the same generation-time funnel mirror, so the plans must not drift
    * apart (round-4 review). Input: (url, text, quality).
    *
    * is_rep is computed IN the dedup window rather than by joining the
    * deduped frame back: ordering qualified rows first makes
    * rank-1-and-qualified ≡ "min-url qualified representative of this
    * text" — one window pass instead of a window + a corpus-wide join. */
  private def funnelFlags(withQuality: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
      .orderBy(col("is_qualified").desc, col("url"))
    withQuality
      .withColumn("is_qualified", col("quality") >= 0.5)
      .withColumn("is_rep", col("is_qualified") && row_number().over(w) === 1)
  }

  /** Near-dup drop + the 4-way conditional aggregation over the flags
    * frame (ONE action). `dropped` stays a plain left join: AQE
    * broadcasts it when small (bench scale) and shuffles it when the
    * near-dup-dropped set is corpus-sized (10^12 scale) — the strategy
    * must stay runtime-chosen, not hardcoded. */
  private def funnelCounts(flags: DataFrame): org.apache.spark.sql.Row = {
    val reps = flags.filter(col("is_rep")).select("url", "text")
    val dropped = Dedup.minhashPairs(reps, "url", "text", threshold = 0.8)
      .select(col("id_b").as("url")).distinct()
      .withColumn("is_dropped", lit(true))
    flags.join(dropped, Seq("url"), "left").agg(
      count(lit(1)).as("extracted_ok"),
      sum(when(col("is_qualified"), 1L).otherwise(0L)).as("qualified"),
      sum(when(col("is_rep"), 1L).otherwise(0L)).as("exact_deduped"),
      sum(when(col("is_rep") && col("is_dropped").isNull, 1L).otherwise(0L))
        .as("final_docs")).collect()(0)
  }

  /** Aggregation/ordering consumers of the kernel skip the host-salt
    * exchange (see the x1 block comment). */
  private val noHostShuffle =
    ExtractPipeline.PipelineConfig(repartitionByHost = false)

  /** Flagship: full extraction pipeline over the synthetic web corpus. */
  def entry(spark: SparkSession): DataFrame =
    ExtractPipeline.extract(spark, Corpus.pages(spark, 500)).toDF()
      .filter(col("failure") === "ok")
      .select("url", "text", "n_blocks", "n_chars")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational coverage (SURVEY §2.6), all DuckDB-oracled -------------
    "q1_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_revenue_by_nation" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),
    "q3_running_window" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 2).as("run_sum"))
        .orderBy("user_id", "event_id")
    }),
    "q4_topk_orders" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .limit(10)
    }),
    "q5_filter_pushdown" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") > 0.02)
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q6_source_except" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.filter(col("lang") === "en").select("source").distinct()
        .except(docs.filter(col("lang") === "zh").select("source").distinct())
        .orderBy("source")
    }),
    "q7_exact_dedup_counts" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .orderBy("source")
    }),
    "q8_doc_token_stats" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),
    "q9_events_by_type" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 2).as("avg_value"),
          round(max("value"), 2).as("max_value"))
        .orderBy("event_type")
    }),
    "q10_cosine_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    }),

    "q11_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),
    "q12_semi_join" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
    }),
    "q13_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_customers_without_orders"))
    }),
    "q14_normalize" -> ((s, d) => {
      // whitespace-collapse normalizer exposed as a column op (P1 analog
      // subset that ANSI SQL can mirror)
      t(s, d, "documents")
        .select(col("doc_id"),
          length(regexp_replace(trim(col("text")), "\\s+", " ")).as("n_chars_norm"))
        .orderBy("doc_id")
    }),

    "q18_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signal: duplicate-word fraction
      // per doc, pure codegen'd array HOFs (split/array_distinct/size) —
      // no UDF, cross-engine SQL-oracled against DuckDB's list functions.
      // The fraction is emitted in INTEGER basis points ((w-d)*10^4 / w,
      // truncating long division — identical in both engines) rather than
      // a rounded double: Spark Round (HALF_UP on the shortest decimal
      // repr) and DuckDB round (scale-then-C-round of the binary value)
      // can disagree on exact 5th-decimal ties, a red row with no engine
      // bug (round-4 review).
      val words = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          size(array_distinct(words)).cast("long").as("n_distinct"))
        .withColumn("dup_bp",
          expr("(n_words - n_distinct) * 10000L div n_words"))
        .orderBy("doc_id")
    }),
    "q17_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy()
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    }),
    "q15_scalar_subquery" -> ((s, d) => {
      // scalar subquery as a broadcast single-row crossJoin — one Spark job,
      // no driver-side .first() round trip (VERDICT r1 minor)
      val p = t(s, d, "part")
      val avgPrice = p.agg(avg("p_retailprice").as("_avg_price"))
      p.crossJoin(broadcast(avgPrice))
        .filter(col("p_retailprice") > col("_avg_price"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_above_avg"),
          round(max("p_retailprice"), 2).as("max_price"))
        .orderBy("p_brand")
    }),
    "q16_conditional_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0.0))).as("qty_highdisc"),
          sum(when(col("l_tax") > 0.04, 1L).otherwise(0L)).as("n_hightax"),
          round(avg(when(col("l_linestatus") === "F", col("l_extendedprice"))), 2).as("avg_f_price"))
        .orderBy("l_returnflag")
    }),

    // --- extraction pipeline (north rule; golden-gated, rows-checked here) --
    // x1-x4/x17/x21 consume the kernel output through aggregations,
    // orderings or content-keyed windows that never use host locality, so
    // they skip the host-salt repartition (guide round-6 optimization,
    // "remove shuffles outright"): that exchange exists for host-bucketed
    // committed SINKS, which ExtractJob.run (x24/x33/x34, the production
    // write path) still exercises with the full salting pipeline. Results
    // are identical - the kernel is per-row and every output is ordered.
    "x1_extract" -> ((s, d) => {
      ExtractPipeline.extract(s, Corpus.pages(s, Corpus.docsForSf(d)), noHostShuffle).toDF()
        .select("url", "failure", "n_blocks", "n_chars", "n_bytes_in")
        .orderBy("url")
    }),
    "x2_extract_text" -> ((s, d) => {
      ExtractPipeline.extract(s, Corpus.pages(s, math.min(Corpus.docsForSf(d), 2000L)), noHostShuffle).toDF()
        .filter(col("failure") === "ok")
        .select("url", "text")
        .orderBy("url")
    }),
    "x3_spans" -> ((s, d) => {
      ExtractPipeline.extract(s, Corpus.pages(s, math.min(Corpus.docsForSf(d), 2000L)), noHostShuffle).toDF()
        .select(col("url"), explode(col("spans")).as("span"))
        .select(col("url"), col("span.begin").as("begin"),
          col("span.end").as("end"), col("span.kind").as("kind"))
        .orderBy("url", "begin")
    }),
    "x4_taxonomy" -> ((s, d) => {
      ExtractPipeline.extract(s, Corpus.pages(s, Corpus.docsForSf(d)), noHostShuffle).toDF()
        .groupBy("failure").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("failure")
    }),

    // --- dedup / similarity / text analysis (training-data ops) ------------
    "x5_minhash_pairs" -> ((s, d) => {
      Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.35)
        .orderBy("id_a", "id_b")
    }),
    "x6_simhash" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), NativeFunctions.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),
    "x7_langid" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), NativeFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "x8_quality" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "x9_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), NativeFunctions.fingerprint64(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "x10_lsh_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    }),

    // --- multimodal plumbing (binary columns; decode kernels are stubs,
    // --- the Spark-side schema/batching/partitioning is real) -------------
    "x11_media_meta" -> ((s, d) => {
      import graft.multimodal.{MediaGen, Multimodal}
      val n = math.min(Corpus.docsForSf(d), 2000L)
      MediaGen.table(s, n)
        .withColumn("meta", Multimodal.decodeMeta(col("payload")))
        .groupBy(col("meta.media_type").as("media_type"))
        .agg(count(lit(1)).as("n"), sum(col("meta.n_bytes")).as("bytes"))
        .orderBy("media_type")
    }),
    "x12_media_features" -> ((s, d) => {
      import graft.multimodal.{MediaGen, Multimodal}
      val n = math.min(Corpus.docsForSf(d), 1000L)
      Multimodal.extractFeatures(MediaGen.table(s, n), "payload", dim = 16)
        .select(col("media_id"), col("media_type"),
          round(element_at(col("embedding"), 1), 4).as("e0"))
        .orderBy("media_id")
    }),
    "x17_training_pipeline" -> ((s, d) => {
      // full training-data prep composition: extract → ok filter → quality
      // floor → lang id → exact dedup → near-dup dedup; reports the funnel.
      // ONE kernel pass (persisted slim frame) and ONE action (VERDICT r2
      // #2 — this was four count() actions = four scheduler round-trips):
      // every funnel stage becomes a per-row flag (qualified predicate,
      // exact-dedup representative join, near-dup dropped join) and the
      // four counts come out of a single conditional aggregation. At
      // 100 TB-scale a real deployment stages the funnel through committed
      // tables instead of a persist (ExtractJob.run is that path); the
      // in-memory persist here is the bench-scale equivalent.
      val n = math.min(Corpus.docsForSf(d), 3000L)
      val extracted = ExtractPipeline.extract(s, Corpus.pages(s, n), noHostShuffle).toDF()
        .filter(col("failure") === "ok")
        .select(col("url"), col("text"))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", NativeFunctions.langId(col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val r = funnelCounts(funnelFlags(extracted))
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toDF("extracted_ok", "qualified", "exact_deduped", "final_docs")
      } finally { extracted.unpersist(false); () }
    }),
    "x18_simhash_pairs" -> ((s, d) => {
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 12)
        .orderBy("id_a", "id_b")
    }),
    "x16_ivf_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
        nLists = 8, nProbe = 3)
        .orderBy("query_id", "rank")
    }),
    "x15_embedding_neardup" -> ((s, d) => {
      // embedding-cosine near-dup (dedup flavor of ANN); low threshold so
      // the synthetic embeddings yield candidate pairs to verify plumbing
      Similarity.embeddingNearDupPairs(t(s, d, "embeddings"), threshold = 0.30)
        .orderBy("id_a", "id_b")
    }),
    "x14_spell_repair" -> ((s, d) => {
      // P2 analog over the documents table: broadcast dictionary built from
      // the corpus itself (top words), then repair OCR-style confusions.
      // VERDICT r1 fixes: (a) the dictionary is BOUNDED (top-k by count) so
      // the driver collect never grows with the corpus; (b) one SpellRepair
      // per PARTITION (mapPartitions), so the memo cache — the fixspell
      // `%corrected` analog, the whole point of F4 — accumulates across
      // rows; (c) the corrector runs exactly once per row.
      import graft.core.assemble.SpellRepair
      val docs = t(s, d, "documents")
      val dict = docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .groupBy("w").count().filter(col("count") >= 10)
        .orderBy(col("count").desc, col("w")).limit(100000)
        .select("w").collect().map(_.getString(0)).toSet
      val bcDict = s.sparkContext.broadcast(dict)
      import s.implicits._
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val repairer = new SpellRepair(bcDict.value)
          it.map { case (id, text) =>
            val repaired = repairer.correctText(text)
            (id, repaired.length - text.length,
              repaired.substring(0, math.min(40, repaired.length)))
          }
        }
        .toDF("doc_id", "len_delta", "head40")
        .orderBy("doc_id")
    }),
    "x21_host_stats" -> ((s, d) => {
      // per-host crawl lineage over the extraction output (G15/S9 surface):
      // doc counts, ok counts, output chars per url host — the aggregation
      // the per-partition lineage rows feed at scale
      val n = Corpus.docsForSf(d)
      ExtractPipeline.extract(s, Corpus.pages(s, n), noHostShuffle).toDF()
        .withColumn("host", ExtractPipeline.hostCol(col("url")))
        .groupBy("host")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("failure") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum("n_chars").as("chars_out"))
        .orderBy("host")
    }),
    "x19_media_resize" -> ((s, d) => {
      // multimodal resize surface (STUB resampler; real plumbing): resized
      // payload pinned by byte length + content hash
      import graft.multimodal.{MediaGen, Multimodal}
      val n = math.min(Corpus.docsForSf(d), 1000L)
      MediaGen.table(s, n).filter(col("media_type") === "image")
        .select(col("media_id"),
          Multimodal.resize(col("payload"), lit(8), lit(8)).as("resized"))
        .select(col("media_id"),
          length(col("resized")).as("n_bytes"),
          md5(col("resized")).as("md5"))
        .orderBy("media_id")
    }),
    "x20_bpe_tokens" -> ((s, d) => {
      // BPE-ish subword pre-tokenization count (native regexp_count)
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),
    "x22_block_features" -> ((s, d) => {
      // per-block classifier feature dump (S9 `-T` parity): kept blocks
      // with their features, ordinal-aligned to the GENERATION-TIME truth
      // (FixtureGen records each truth block's label/words/linkWords)
      val n = math.min(Corpus.docsForSf(d), 2000L)
      val w = Window.partitionBy(col("url")).orderBy(col("block_id"))
      ExtractPipeline.diagnostics(s, Corpus.pages(s, n)).toDF()
        .filter(col("kept"))
        .withColumn("kept_seq", row_number().over(w))
        .select(col("url"), col("kept_seq"), col("label"),
          col("words"), col("link_words"))
        .orderBy("url", "kept_seq")
    }),
    "x23_fixspell" -> ((s, d) => {
      // distributed fixspell.pl-verbatim repair (P2, yi profile): broadcast
      // ok-word list, ONE FixspellRepair per partition (memo survives
      // rows), over a deterministic corrupted-Yiddish corpus whose expected
      // output is GENERATION-TIME truth (every pair Perl-verified —
      // graft.fixtures.FixspellCorpus)
      import graft.fixtures.FixspellCorpus
      val n = Corpus.docsForSf(d)
      val bc = s.sparkContext.broadcast(FixspellCorpus.okWords)
      import s.implicits._
      s.range(n).as[Long].mapPartitions { it =>
        val repairer = new graft.core.assemble.FixspellRepair(bc.value)
        it.map(i => (i, repairer.correctText(FixspellCorpus.lineAt(42L, i)._1)))
      }.toDF("line_id", "repaired").orderBy("line_id")
    }),
    "x24_staged_funnel" -> ((s, d) => {
      // the PRODUCTION shape of x17 (VERDICT r3 #2): every funnel stage
      // reads the previous stage's COMMITTED table instead of an
      // in-memory persist — extract via two ExtractJob.run calls (half
      // corpus, then full: run 2's checkpoint anti-join extracts only the
      // pending half, proving resume), funnel flags written + re-read as
      // the dedup table, near-dup + report over the re-read table. At
      // 10^12 rows this is the shape that actually runs (a persist of
      // the corpus is not), and each stage restarts from its table.
      import graft.spark.ExtractJob
      val n = math.min(Corpus.docsForSf(d), 3000L)
      val dir = graft.FsUtil.scratchDir("graft_x24_")
      try {
        ExtractJob.run(s, Corpus.pages(s, n / 2), dir) // run 0: first half
        val r2 = ExtractJob.run(s, Corpus.pages(s, n), dir) // run 1: resumes
        val extracted = ExtractJob.readExtracted(s, dir)
          .filter(col("failure") === "ok")
          .select("url", "text")
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        // stage 2: the dedup-flags table is materialized; stage 3 reads it
        // (rebalanced on write — guide §6: target-sized staged files, not
        // one tiny file per shuffle partition)
        val flags = funnelFlags(extracted)
        flags.hint("rebalance").write.mode("overwrite").parquet(s"$dir/funnel_flags")
        // read back with the schema it was written with: no inference job
        val r = funnelCounts(s.read.schema(flags.schema).parquet(s"$dir/funnel_flags"))
        import s.implicits._
        Seq((r2.runId + 1, r2.newDocs, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3)))
          .toDF("runs", "resumed_docs", "extracted_ok", "qualified",
            "exact_deduped", "final_docs")
      } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
    }),
    "x25_streaming_extract" -> ((s, d) => {
      // Structured Streaming made driver-visible (round-4; previously
      // golden-gated only): the SAME kernel through readStream →
      // AvailableNow → one committed run per micro-batch, in TWO drains
      // with new files landing in between — the second drain's checkpoint
      // must process ONLY the new files. The taxonomy reads every committed
      // row with no url dedup (readExtracted's would hide it), so a
      // re-processed file doubles the counts and goes red against the
      // generation-time taxonomy truth.
      import graft.core.ExtractedRow
      import graft.spark.ParquetCheckpointStore
      import graft.streaming.StreamingExtract
      import org.apache.spark.sql.Encoders
      val n = math.min(Corpus.docsForSf(d), 2000L)
      val dir = graft.FsUtil.scratchDir("graft_x25_")
      try {
        val inDir = s"$dir/pages"
        Corpus.pagesRange(s, 0L, n / 2).write.mode("append").parquet(inDir)
        StreamingExtract.runWithLineage(s, inDir, s"$dir/out", s"$dir/ckpt").awaitTermination()
        Corpus.pagesRange(s, n / 2, n).write.mode("append").parquet(inDir)
        StreamingExtract.runWithLineage(s, inDir, s"$dir/out", s"$dir/ckpt").awaitTermination()
        // taxonomy over both drains' committed runs, collected eagerly:
        // the temp dir is deleted on exit
        import s.implicits._
        new ParquetCheckpointStore(s, s"$dir/out")
          .read("extracted", Encoders.product[ExtractedRow].schema)
          .groupBy("failure")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .orderBy("failure")
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toDF("failure", "n", "chars")
      } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
    }),
    "x26_incremental_neardup" -> ((s, d) => {
      // INCREMENTAL near-dup (the 10^12-doc production shape): a corpus
      // is indexed ONCE per ingest wave — ids + band hashes only, written
      // bucketed AND sorted on the join key — and each NEW batch probes
      // the persisted index instead of re-deduping the whole corpus: the
      // probe is an equi-join with NO exchange on the (corpus-sized)
      // index side, only the new batch's band rows move, and only
      // surviving candidates pay the exact-Jaccard verify. The old/new
      // split is deterministic by id parity so the oracle mirror
      // reproduces it without a count.
      import graft.functions.Dedup
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val committed = docs.filter(col("doc_id") % 2 === 0)
      val fresh = docs.filter(col("doc_id") % 2 =!= 0)
      val tbl = "x26_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
      try {
        Dedup.writeMinhashIndex(committed, "doc_id", "text", tbl,
          shingleK = 5, bands = 16, rowsPerBand = 4, buckets = 8)
        import s.implicits._
        // eager collect: the index table is dropped on exit (x24 pattern)
        Dedup.probeMinhashIndex(fresh, "doc_id", "text", tbl, committed,
          shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.35)
          .orderBy("new_id", "old_id")
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toDF("new_id", "old_id", "jaccard")
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
    }),
    "x27_training_mix" -> ((s, d) => {
      // training-mix sampling: deterministic per-language downsampling (a
      // pure xxhash64 filter — bit-reproducible at any cluster size, no
      // RNG state) then a skew-safe per-language cap (shuffle-free
      // bounded-heap prune per partition, exact window over the tiny
      // survivor set — no language ever funnels its whole corpus share
      // through one reducer)
      import graft.functions.Sampling
      val docs = s.read.parquet(s"$d/documents.parquet")
      val mixed = Sampling.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.35), defaultRate = 0.8)
      Sampling.capPerStratum(mixed, "doc_id", "lang", "n_chars", k = 30)
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("ord").cast("long").as("n_chars"))
        .orderBy("lang", "doc_id")
    }),
    "x28_sequence_packing" -> ((s, d) => {
      // sequence packing (the pretraining step after the mix):
      // deterministic first-fit-decreasing into 512-token bins within
      // xxhash64 groups — every doc's (group, bin) is a pure function of
      // the data, independent of cluster size and split layout, so the
      // packed dataset is reproducible
      import graft.functions.{Sampling, TextAnalysis}
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      Sampling.packSequences(docs, "doc_id", "bpe", capacity = 512L, numGroups = 8)
        .select(col("id").as("doc_id"), col("grp"), col("bin"),
          col("tokens").as("bpe_tokens"))
        .orderBy("doc_id")
    }),
    "x29_decontaminate" -> ((s, d) => {
      // benchmark decontamination: corpus docs sharing a word 4-gram with
      // the "evaluation set" (first 25 docs). The benchmark's distinct
      // n-gram hashes are BROADCAST — the corpus side is a map-side
      // left-semi join, its payload never crosses an exchange, and the
      // only shuffle is the final ids-only distinct
      import graft.functions.Decontaminate
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") < 25)
      val corpus = docs.filter(col("doc_id") >= 25)
      Decontaminate.contaminatedIds(corpus, "doc_id", "text", bench, "text", n = 4)
        .select(col("id").as("doc_id"))
        .orderBy("doc_id")
    }),
    "x30_pii_redact" -> ((s, d) => {
      // PII scrub over a deterministic corpus whose EXPECTED redaction is
      // GENERATION-TIME truth (PII spans recorded as each line is
      // composed — the x23 pattern): the engine's native regexp_replace
      // chain must actually CATCH every generated email/phone/IP and must
      // not touch anything else
      import graft.fixtures.PiiCorpus
      val n = Corpus.docsForSf(d)
      import s.implicits._
      s.range(n).as[Long].map(i => (i, PiiCorpus.lineAt(42L, i)._1))
        .toDF("line_id", "raw")
        .select(col("line_id"),
          TextAnalysis.redactPii(col("raw")).as("redacted"))
        .orderBy("line_id")
    }),
    "x31_url_canonicalize" -> ((s, d) => {
      // URL canonicalization ahead of exact-URL dedup: the native
      // StaticInvoke kernel (codegen'd, no UDF closure) over a corpus of
      // messy spellings whose CANONICAL form is GENERATION-TIME truth —
      // UrlCorpus composes the canonical url first and derives the messy
      // one from it (case noise, default ports, fragments, tracking
      // params, shuffled query order)
      import graft.fixtures.UrlCorpus
      val n = Corpus.docsForSf(d)
      import s.implicits._
      s.range(n).as[Long].map(i => (i, UrlCorpus.lineAt(42L, i)._1))
        .toDF("line_id", "raw_url")
        .select(col("line_id"),
          NativeFunctions.canonicalizeUrl(col("raw_url")).as("canonical"))
        .orderBy("line_id")
    }),
    "x32_line_dedup" -> ((s, d) => {
      // CCNet/RefinedWeb-class line-level dedup: drop lines appearing in
      // >= 5 distinct docs. Pass 1 counts with only (line_hash, id) on
      // the exchange; pass 2 re-filters each doc in place against the
      // broadcast offender set — the corpus payload never shuffles. The
      // oracle is GENERATION-TIME truth: BoilerCorpus interleaves a
      // shared pool (frequency-detectable by construction) with
      // index-salted globally-unique content lines, recording the
      // expected cleaned text as each doc is composed
      import graft.fixtures.BoilerCorpus
      import graft.functions.Dedup
      val n = Corpus.docsForSf(d)
      import s.implicits._
      val docs = s.range(n).as[Long]
        .map(i => (i, BoilerCorpus.docAt(42L, i)._1)).toDF("doc_id", "text")
      Dedup.dropBoilerplateLines(docs, "doc_id", "text", minDocs = 5)
        .select(col("id").as("doc_id"), col("clean_text"),
          col("lines_before"), col("lines_removed"))
        .orderBy("doc_id")
    }),
    "x33_production_pipeline" -> ((s, d) => {
      // THE composed production pipeline (VERDICT r4 #2) — every stage a
      // committed table, the x24 pattern extended over the full operator
      // surface: extract (2 ExtractJob.run commits, run 2 resuming from
      // run 1's checkpoint) → second ingest source (plain-text docs with
      // shared boilerplate) → line-level dedup (x32) → exact dedup +
      // url-hash doc ids → incremental near-dup probe against a bucketed
      // index (x26) → benchmark decontamination (x29) → stratified mix +
      // per-language cap (x27) → sequence packing (x28). One row of
      // stage-by-stage counts, every number re-derived by the composed
      // single-node mirror (AnswerKeys.pipelineMirror) — a drift in ANY
      // stage's semantics, schema handoff, or resume arithmetic moves a
      // count and goes red.
      // full composition lives in graft.spark.ProductionPipeline (shared
      // with the X33Probe stage-timing harness)
      graft.spark.ProductionPipeline.run(s, math.min(Corpus.docsForSf(d), 2000L))
    }),
    "x34_hot_hosts" -> ((s, d) => {
      // the salting audit made driver-visible (VERDICT r4 #6): run 0
      // estimates hot hosts with sampleFraction = 1.0 — the sampler then
      // keeps every row, so the estimate is an EXACT, layout-independent
      // host census and the emitted est_fraction is oracle-checkable
      // against generation truth; run 1 supplies a static operator list
      // (est_fraction null by contract). Both runs' audit rows come back
      // through readHotHosts.
      import graft.spark.{ExtractJob, ExtractPipeline}
      val n = math.min(Corpus.docsForSf(d), 1000L)
      val dir = graft.FsUtil.scratchDir("graft_x34_")
      try {
        ExtractJob.run(s, Corpus.pages(s, n), dir,
          ExtractPipeline.PipelineConfig(sampleFraction = 1.0))
        ExtractJob.run(s, Corpus.pages(s, n), dir, // resumes: zero pending docs
          ExtractPipeline.PipelineConfig(staticHotHosts = Some(Set("hot.example.com"))))
        import s.implicits._
        // eager collect: the temp dir is deleted on exit (x24 pattern)
        ExtractJob.readHotHosts(s, dir)
          .select(col("run_id"), col("host"),
            round(col("est_fraction"), 4).as("est_fraction"), col("salted"))
          .orderBy("run_id", "host")
          .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null.asInstanceOf[java.lang.Double]
            else java.lang.Double.valueOf(r.getDouble(2)),
            r.getBoolean(3)))
          .toDF("run_id", "host", "est_fraction", "salted")
      } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
    }),
    "x37_perplexity" -> ((s, d) => {
      // LM perplexity scoring (the third CCNet leg, after x32 line dedup
      // and x7 langid): a char-bigram model trained on a deterministic
      // hash sample of the corpus — bounded model regardless of corpus
      // size — then broadcast for a map-side bits-per-char score of
      // every document. Production swaps the model for a KenLM-style
      // word n-gram; the train-on-sample → truncate → broadcast →
      // map-side-score shape is the part that scales.
      import graft.functions.LanguageModel
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val lm = LanguageModel.trainCharBigramLm(docs, "doc_id", "text",
        sampleRate = 0.5, maxPairs = 50000)
      LanguageModel.scoreBitsPerChar(docs, "doc_id", "text", lm)
        .select(col("id").as("doc_id"), col("bits_per_char"))
        .orderBy("doc_id")
    }),
    "x36_ivf_index" -> ((s, d) => {
      // PERSISTED IVF index (the x26 incremental shape for embeddings):
      // the even-id half is quantized and stored as centroids + a
      // bucketed-by-list assignments table; phase 0 probes it (nProbe
      // list equi-join, no exchange on the index side), then the odd
      // half is ABSORBED — assigned with the EXISTING centroids, never
      // retrained — and phase 1 probes again, now seeing both waves.
      // Phase 0 is collected BEFORE the absorb (the probe is lazy; a
      // late collect would read the post-append table).
      import graft.functions.Similarity
      val emb = t(s, d, "embeddings")
      val committed = emb.filter(col("vec_id") % 2 === 0)
      val freshWave = emb.filter(col("vec_id") % 2 =!= 0)
      val queries = emb.filter(col("vec_id") < 5)
      val tbl = "x36_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
      try {
        Similarity.writeIvfIndex(committed, tbl, nLists = 8, buckets = 4)
        def probeRows(phase: Int) =
          Similarity.probeIvfIndex(queries, tbl, k = 3, nProbe = 3)
            .collect().toSeq.map(r =>
              (phase, r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        val p0 = probeRows(0)
        Similarity.appendToIvfIndex(freshWave, tbl, buckets = 4)
        val p1 = probeRows(1)
        import s.implicits._
        (p0 ++ p1).toDF("phase", "query_id", "vec_id", "sim", "rank")
          .orderBy("phase", "query_id", "rank")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
      }
    }),
    "x35_streaming_neardup" -> ((s, d) => {
      // CONTINUOUS incremental near-dup (the streaming driver of x26's
      // ingest loop): three AvailableNow drains over a growing document
      // directory — wave 0 bootstraps the persisted index, each later
      // wave probes it against the committed corpus, reports its
      // (new, old) verdicts exactly-once, and is absorbed so the next
      // wave sees it. Waves split deterministically by doc_id % 3, so
      // the oracle mirror replays the same incremental schedule.
      import graft.streaming.StreamingNearDup
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 2000)
      val dir = graft.FsUtil.scratchDir("graft_x35_")
      val tbl = "x35_idx_" + java.util.UUID.randomUUID.toString.replace("-", "")
      try {
        (0 until 3).foreach { k =>
          docs.filter(pmod(col("doc_id"), lit(3)) === k)
            .write.mode("append").parquet(s"$dir/in")
          StreamingNearDup.run(s, s"$dir/in", s"$dir/out", s"$dir/ckpt",
            tbl, shingleK = 5, bands = 16, rowsPerBand = 4, buckets = 8,
            threshold = 0.35).awaitTermination()
        }
        import s.implicits._
        // eager collect: the temp dir is deleted on exit (x24 pattern)
        StreamingNearDup.readPairs(s, s"$dir/out")
          .orderBy("new_id", "old_id")
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toDF("new_id", "old_id", "jaccard")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.FsUtil.deleteRecursively(new java.io.File(dir))
      }
    }),
    "x13_video_frames" -> ((s, d) => {
      import graft.multimodal.{MediaGen, Multimodal}
      val n = math.min(Corpus.docsForSf(d), 2000L)
      val vids = MediaGen.table(s, n).filter(col("media_type") === "video")
      Multimodal.sampleFrames(vids, "payload", stride = 2)
        .filter(col("frame_idx") >= 0)
        .select(col("media_id"), col("frame_idx"), length(col("frame_bytes")).as("frame_size"))
        .orderBy("media_id", "frame_idx")
    }))

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_running_window" ->
      """SELECT user_id, event_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin,
    "q4_topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q5_filter_pushdown" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.02""".stripMargin,
    "q6_source_except" ->
      """SELECT DISTINCT source FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT DISTINCT source FROM documents WHERE lang = 'zh'
        |ORDER BY source""".stripMargin,
    "q7_exact_dedup_counts" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_doc_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars_actual,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q9_events_by_type" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 2) AS avg_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        | coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    "q12_semi_join" ->
      """SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM customer
        |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')""".stripMargin,
    "q13_anti_join" ->
      """SELECT count(*) AS n_customers_without_orders
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q14_normalize" ->
      """SELECT doc_id,
        | length(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_json_extract" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events""".stripMargin,
    "q15_scalar_subquery" ->
      """SELECT p_brand, count(*) AS n_above_avg,
        | round(max(p_retailprice), 2) AS max_price
        |FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_conditional_agg" ->
      """SELECT l_returnflag,
        | sum(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0.0 END) AS qty_highdisc,
        | CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_hightax,
        | round(avg(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS avg_f_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // --- x-query oracles: DuckDB reads the single-node answer keys that
    // --- graft.Verify materializes via graft.verify.AnswerKeys (absolute
    // --- path — the driver runs DuckDB on the same machine). The compare
    // --- is distributed Spark vs independent single-node recompute (and
    // --- generation-time truth for x1–x4/x17).
    "x1_extract" -> aux("x1_extract", "url, failure, n_blocks, n_chars, n_bytes_in", "url"),
    "x2_extract_text" -> aux("x2_extract_text", "url, text", "url"),
    "x3_spans" -> aux("x3_spans", "url, \"begin\", \"end\", kind", "url, \"begin\""),
    "x4_taxonomy" -> aux("x4_taxonomy", "failure, n, chars", "failure"),
    "x5_minhash_pairs" -> aux("x5_minhash_pairs", "id_a, id_b, jaccard", "id_a, id_b"),
    "x6_simhash" -> aux("x6_simhash", "doc_id, simhash", "doc_id"),
    "x7_langid" -> aux("x7_langid", "doc_id, lang_pred", "doc_id"),
    "x8_quality" -> aux("x8_quality", "doc_id, quality", "doc_id"),
    "x9_fingerprint" -> aux("x9_fingerprint", "doc_id, fp", "doc_id"),
    "x10_lsh_ann" -> aux("x10_lsh_ann", "query_id, vec_id, sim, \"rank\"", "query_id, \"rank\""),
    "x11_media_meta" -> aux("x11_media_meta", "media_type, n, bytes", "media_type"),
    "x12_media_features" -> aux("x12_media_features", "media_id, media_type, e0", "media_id"),
    "x13_video_frames" -> aux("x13_video_frames", "media_id, frame_idx, frame_size", "media_id, frame_idx"),
    "x14_spell_repair" -> aux("x14_spell_repair", "doc_id, len_delta, head40", "doc_id"),
    "x15_embedding_neardup" -> aux("x15_embedding_neardup", "id_a, id_b, sim", "id_a, id_b"),
    "x16_ivf_ann" -> aux("x16_ivf_ann", "query_id, vec_id, sim, \"rank\"", "query_id, \"rank\""),
    "x17_training_pipeline" -> aux("x17_training_pipeline",
      "extracted_ok, qualified, exact_deduped, final_docs", "extracted_ok"),
    "x18_simhash_pairs" -> aux("x18_simhash_pairs", "id_a, id_b, hamming", "id_a, id_b"),
    "x19_media_resize" -> aux("x19_media_resize", "media_id, n_bytes, md5", "media_id"),
    "x20_bpe_tokens" -> aux("x20_bpe_tokens", "doc_id, bpe_tokens", "doc_id"),
    "x21_host_stats" -> aux("x21_host_stats", "host, docs, n_ok, chars_out", "host"),
    "x22_block_features" -> aux("x22_block_features",
      "url, kept_seq, label, words, link_words", "url, kept_seq"),
    "x23_fixspell" -> aux("x23_fixspell", "line_id, repaired", "line_id"),
    "x24_staged_funnel" -> aux("x24_staged_funnel",
      "runs, resumed_docs, extracted_ok, qualified, exact_deduped, final_docs", "runs"),
    "x25_streaming_extract" -> aux("x25_streaming_extract", "failure, n, chars", "failure"),
    "x26_incremental_neardup" -> aux("x26_incremental_neardup",
      "new_id, old_id, jaccard", "new_id, old_id"),
    "x27_training_mix" -> aux("x27_training_mix",
      "doc_id, lang, n_chars", "lang, doc_id"),
    "x28_sequence_packing" -> aux("x28_sequence_packing",
      "doc_id, grp, bin, bpe_tokens", "doc_id"),
    "x29_decontaminate" -> aux("x29_decontaminate", "doc_id", "doc_id"),
    "x30_pii_redact" -> aux("x30_pii_redact", "line_id, redacted", "line_id"),
    "x31_url_canonicalize" -> aux("x31_url_canonicalize",
      "line_id, canonical", "line_id"),
    "x32_line_dedup" -> aux("x32_line_dedup",
      "doc_id, clean_text, lines_before, lines_removed", "doc_id"),
    "x34_hot_hosts" -> aux("x34_hot_hosts",
      "run_id, host, est_fraction, salted", "run_id, host"),
    "x35_streaming_neardup" -> aux("x35_streaming_neardup",
      "new_id, old_id, jaccard", "new_id, old_id"),
    "x36_ivf_index" -> aux("x36_ivf_index",
      "phase, query_id, vec_id, sim, \"rank\"", "phase, query_id, \"rank\""),
    "x37_perplexity" -> aux("x37_perplexity",
      "doc_id, bits_per_char", "doc_id"),
    "x33_production_pipeline" -> aux("x33_production_pipeline",
      "runs, resumed_docs, extracted_ok, ingested, lines_removed, " +
        "exact_deduped, neardup_dropped, decon_dropped, lm_dropped, " +
        "bench_docs, mixed_docs, packed_docs, bins, tokens", "runs"),
    "q18_repetition" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | CAST((len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' '))))
        |   * 10000 // len(string_split(text, ' ')) AS BIGINT) AS dup_bp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q10_cosine_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        | scored AS (
        |   SELECT q.query_id, v.vec_id,
        |     list_cosine_similarity(v.embedding, q.q_emb) AS sim_raw
        |   FROM embeddings v, q WHERE v.vec_id <> q.query_id),
        | ranked AS (
        |   SELECT query_id, vec_id, sim_raw,
        |     row_number() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, vec_id ASC) AS rank
        |   FROM scored)
        |SELECT query_id, vec_id, round(sim_raw, 4) AS sim, rank
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)
}
