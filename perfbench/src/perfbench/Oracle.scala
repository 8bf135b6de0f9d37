package perfbench

import graft.data.Clip
import graft.dedup.DedupConfig
import graft.kernel.Matcher
import graft.oracle.FuzzyMatcher

/** Single-node truth: the reference-semantics matcher over the same rows. */
object Oracle {
  val MinRecall = 0.99

  def params(cfg: DedupConfig, numberOfMatches: Int): Matcher.Params = Matcher.Params(
    fuzzy = cfg.threshold, numberOfMatches = numberOfMatches,
    minSubseqLength = cfg.minSubseqLength, minSubseqRatio = cfg.minSubseqRatio,
    vocabIdfPenalty = cfg.vocabIdfPenalty, editCosts = cfg.editCosts,
    maxTokensInPattern = cfg.maxTokensInPattern)

  def matcher(clips: Iterator[Clip], cfg: DedupConfig): FuzzyMatcher = {
    val fm = new FuzzyMatcher(cfg.pt, cfg.maxTokensInPattern)
    clips.foreach(c => fm.addTm(c.clip_id, c.transcript))
    fm.sort()
    fm
  }

  /** Transcript dup pairs (a < b): b matches when a is the pattern, or the
    * reverse, with unlimited matches. */
  def dupPairs(clips: Iterator[Clip], cfg: DedupConfig): Set[(String, String)] =
    matcher(clips, cfg).allDupPairs(params(cfg, 0))

  def recall(truth: Set[(String, String)], got: Set[(String, String)]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got).toDouble / truth.size

  /** Top-k lists as (s_id, score), compared up to the order of tied scores:
    * the score lists must be equal, and so must the ids scoring above the
    * k-th score (ids tied at the cut may differ by tie-break order). */
  def sameTopK(a: Seq[(String, Double)], b: Seq[(String, Double)], k: Int): Boolean = {
    val sa = a.map(_._2).sorted
    val sb = b.map(_._2).sorted
    sa == sb && {
      val cut = if (a.length >= k) sa.head else Double.NegativeInfinity
      a.filter(_._2 > cut).map(_._1).toSet == b.filter(_._2 > cut).map(_._1).toSet
    }
  }

  /** (found, expected) oracle matches in a returned top-k list, counting
    * matches tied at the cut by score. */
  def topKRecall(want: Seq[(String, Double)], got: Seq[(String, Double)], k: Int): (Int, Int) = {
    val cut = if (want.length >= k) want.map(_._2).min else Double.NegativeInfinity
    val above = want.filter(_._2 > cut)
    val foundAbove = above.count(got.contains)
    val tiedWant = want.count(_._2 == cut)
    val tiedGot = got.count(_._2 == cut)
    (foundAbove + math.min(tiedWant, tiedGot), want.length)
  }
}
