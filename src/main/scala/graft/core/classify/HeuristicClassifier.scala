package graft.core.classify

import graft.core.{Block, BlockKind, ExtractorConfig}

/** The block classifier — the analog of the reference's pluggable glyph
  * classifier (kd-NN default, swappable for `-P` prediction files,
  * main/kd.c:210-251): a deterministic text-density / link-density
  * heuristic (Boilerpipe/trafilatura-class).
  *
  * Rules (all thresholds in [[ExtractorConfig]]):
  *  1. blocks inside boilerplate containers (nav/header/footer/aside/form or
  *     boilerplate id/class) are dropped — container rule;
  *  2. link density > maxContentLinkDensity → dropped (the Boilerpipe rule);
  *  3. word count >= minContentWords → content;
  *  4. headings (h1..h6) passing 1-2 are kept iff at least one content block
  *     follows before the next heading (a heading with no section body is
  *     chrome) — kind = heading;
  *  5. fusion (classifier-guided combine analog, main/segment.c:999-1025):
  *     a short clean block (fusionMinWords..fusionMaxWords words, link
  *     density <= fusionMaxLinkDensity) sandwiched between two kept content
  *     blocks is absorbed as content;
  *  6. each list item is classified INDEPENDENTLY by the same words/
  *     link-density rules as prose (pass 1) — kind = list. There is
  *     deliberately no list-majority vote: the generation-time oracle and
  *     the fixture goldens pin per-item behavior (VERDICT r2 #7).
  */
object HeuristicClassifier {

  /** Classification distance of a feature tuple from the "content" profile:
    * 0 = confident content, positive = proportional rule violations (link
    * density over the content ceiling + word shortfall). The scalar the
    * score-compared fusion gate minimizes — the rule-based stand-in for
    * the reference's kd-NN glyph distance (main/kd.c:210-251). */
  private[classify] def contentDistance(words: Int, linkWords: Int, cfg: ExtractorConfig): Double = {
    val ld = if (words == 0) 1.0 else linkWords.toDouble / words
    val ldPenalty = math.max(0.0, ld - cfg.maxContentLinkDensity)
    val wordPenalty =
      if (words >= cfg.minContentWords) 0.0
      else (cfg.minContentWords - words).toDouble / cfg.minContentWords
    ldPenalty + wordPenalty
  }

  private final val Drop = 0
  private final val Content = 1
  private final val Heading = 2
  private final val ListItem = 3

  /** Return the kept blocks with their kinds, in document order. */
  def classify(blocks: Vector[Block], cfg: ExtractorConfig): Vector[(Block, String)] = {
    val n = blocks.length
    val labels = new Array[Int](n)

    // pass 1: context-free rules
    var i = 0
    while (i < n) {
      val b = blocks(i)
      labels(i) =
        if (b.inBoilerContainer) Drop
        else if (b.words == 0) Drop
        else if (b.linkDensity > cfg.maxContentLinkDensity) Drop
        else if (b.isHeading) Heading // provisional; validated in pass 2
        else if (b.words >= cfg.minContentWords) { if (b.isLi) ListItem else Content }
        else Drop

      i += 1
    }

    // pass 2: fusion — short block between two content blocks absorbed.
    // G10 fidelity (main/segment.c:999-1025): with fusionScoreGate the
    // decision is search-over-candidates, score, keep-best — the MERGED
    // region (prev + b + next) is re-scored as one block, and the merge is
    // kept only if its classification distance does not exceed the worse
    // of the two kept neighbors. Unlike the per-block link-density gate
    // (fusionScoreGate = false), this absorbs a linky-but-short fragment
    // between two long paragraphs (merged density stays fine) while
    // rejecting the same fragment between two short near-threshold blocks
    // (merged density crosses the content rule).
    i = 1
    while (i < n - 1) {
      if (labels(i) == Drop) {
        val b = blocks(i)
        val prevKept = labels(i - 1) == Content || labels(i - 1) == ListItem
        val nextKept = labels(i + 1) == Content || labels(i + 1) == ListItem
        if (prevKept && nextKept && !b.inBoilerContainer && !b.isHeading &&
            b.words >= cfg.fusionMinWords && b.words <= cfg.fusionMaxWords) {
          val accept =
            if (cfg.fusionScoreGate) {
              val p = blocks(i - 1)
              val nx = blocks(i + 1)
              val dMerged = contentDistance(
                p.words + b.words + nx.words,
                p.linkWords + b.linkWords + nx.linkWords, cfg)
              dMerged <= math.max(
                contentDistance(p.words, p.linkWords, cfg),
                contentDistance(nx.words, nx.linkWords, cfg))
            } else b.linkDensity <= cfg.fusionMaxLinkDensity
          if (accept) labels(i) = Content
        }
      }
      i += 1
    }

    // pass 3: headings kept only when a kept content block follows before the
    // next heading / end of document
    i = 0
    while (i < n) {
      if (labels(i) == Heading) {
        var j = i + 1
        var found = false
        var stop = false
        while (j < n && !stop && !found) {
          if (labels(j) == Content || labels(j) == ListItem) found = true
          else if (labels(j) == Heading || blocks(j).isHeading) stop = true
          j += 1
        }
        if (!found) labels(i) = Drop
      }
      i += 1
    }

    val out = Vector.newBuilder[(Block, String)]
    i = 0
    while (i < n) {
      labels(i) match {
        case Content => out += ((blocks(i), BlockKind.Content))
        case Heading => out += ((blocks(i), BlockKind.Heading))
        case ListItem => out += ((blocks(i), BlockKind.List))
        case _ =>
      }
      i += 1
    }
    out.result()
  }
}
