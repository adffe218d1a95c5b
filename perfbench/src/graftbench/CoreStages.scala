package graftbench

import graft.core.{Extractor, ExtractorConfig, Failure}
import graft.core.assemble.{PostNormalizer, TextAssembler}
import graft.core.classify.HeuristicClassifier
import graft.core.html.BlockSegmenter
import graft.fixtures.FixtureGen

/** `core.*` per-layer metrics: single-thread µs/doc of each public kernel
  * stage, run on a seeded sample of the bulk_extract page table's own
  * pages. The stage sequence mirrors `Extractor.extract`'s HTML branch;
  * Σ stages is reported against the real kernel on the same pages, so a
  * drift between this sequence and the kernel shows as a ratio far from 1. */
object CoreStages {
  private val reps = 5
  /** consumes each pass's result so the JIT cannot drop the work */
  @volatile private var sink = 0L

  /** Median over `reps` passes (after one warm pass) of µs per doc. */
  private def usPerDoc(docs: Int)(pass: => Long): Double = {
    sink += pass
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0) / 1e3 / math.max(1, docs)
    }
    Stats.median(times)
  }

  def measure(seed: Long, sampleDocs: Int, bulkDocs: Long): Map[String, Double] = {
    val rng = new java.util.Random(seed ^ 0x5EEDL)
    val pages = (0 until sampleDocs).map(_ => FixtureGen.fixtureAt(seed, (rng.nextDouble() * bulkDocs).toLong))
    val cfg = ExtractorConfig.default
    val ex = new Extractor(cfg)
    val html = pages.filter(p => p.html.nonEmpty && !Extractor.isPdf(p.html) && Extractor.looksLikeHtml(p.html))
    val pdf = pages.filter(p => p.html.nonEmpty && Extractor.isPdf(p.html))
    val decoded = html.map(p => Extractor.decode(p.html))
    val blocks = decoded.map(d => BlockSegmenter.segmentDirect(
      d, cfg.fissionMinLinkRun, cfg.fissionMinTextWords, cfg.maxTokens))
    val kept = blocks.map(b => HeuristicClassifier.classify(b, cfg))
    val n = html.length

    val decodeUs = usPerDoc(n) { var a = 0L; html.foreach(p => a += Extractor.decode(p.html).length); a }
    val segmentUs = usPerDoc(n) {
      var a = 0L
      decoded.foreach(d => a += BlockSegmenter.segmentDirect(
        d, cfg.fissionMinLinkRun, cfg.fissionMinTextWords, cfg.maxTokens).length)
      a
    }
    val classifyUs = usPerDoc(n) { var a = 0L; blocks.foreach(b => a += HeuristicClassifier.classify(b, cfg).length); a }
    val assembleUs = usPerDoc(n) {
      var a = 0L
      var i = 0
      while (i < n) {
        val lang = html(i).lang
        val (t0, s0) = TextAssembler.assembleBlocks(kept(i), cfg, lang)
        a += PostNormalizer.applyWithSpans(t0, s0, lang)._1.length
        i += 1
      }
      a
    }
    val extractHtmlUs = usPerDoc(n) { var a = 0L; html.foreach(p => a += ex.extract(p.url, p.html, p.lang).n_chars); a }
    val extractPdfUs = usPerDoc(pdf.length) { var a = 0L; pdf.foreach(p => a += ex.extract(p.url, p.html, p.lang).n_chars); a }

    val failures = pages.map(p => ex.extract(p.url, p.html, p.lang).failure).groupBy(identity).map { case (k, v) => k -> v.size }
    val stageSum = decodeUs + segmentUs + classifyUs + assembleUs
    Map(
      "core.decode_us" -> decodeUs,
      "core.segment_us" -> segmentUs,
      "core.classify_us" -> classifyUs,
      "core.assemble_us" -> assembleUs,
      "core.extract_html_us" -> extractHtmlUs,
      "core.extract_pdf_us" -> extractPdfUs,
      "core.stage_sum_ratio" -> stageSum / extractHtmlUs,
      "core.docs_ok" -> failures.getOrElse(Failure.Ok, 0).toDouble,
      "core.docs_empty" -> failures.getOrElse(Failure.Empty, 0).toDouble,
      "core.docs_unsupported" -> failures.getOrElse(Failure.Unsupported, 0).toDouble,
      "core.docs_parse_error" -> failures.getOrElse(Failure.ParseError, 0).toDouble,
      "core.docs_oversize" -> failures.getOrElse(Failure.Oversize, 0).toDouble)
  }
}
