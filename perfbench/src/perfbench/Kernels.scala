package perfbench

import scala.collection.mutable
import graft.data.Clip
import graft.dedup.{DedupConfig, SignatureStage, TokRow}
import graft.kernel.{Costs, Doc, EditDistanceKernel, Hashing, Matcher, SuffixIndex}
import graft.text.Tokenizer

/** Single-thread kernel timings on a workload's own rows: every kernel runs
  * once per round, rounds interleave the kernels, and each figure is the
  * best round. The oracle's clips/s (index every row, then match every row
  * against it) is the single-node yardstick of the same job. */
object Kernels {
  @volatile var blackhole = 0L

  def run(rows: IndexedSeq[Clip], cfg: DedupConfig, rounds: Int = 5): Map[String, Double] = {
    val texts = rows.map(_.transcript).toArray
    val toks = rows.flatMap { c =>
      val ts = Tokenizer.tokenize(c.transcript, cfg.pt)
      if (ts.norm.isEmpty || ts.norm.length > cfg.maxTokensInPattern) None
      else Some(TokRow(c.clip_id, ts.norm.length, Hashing.tokenIds(ts.norm), ts.real, ts.itoks))
    }.toArray
    val docs = toks.map(t => Doc(t.ids, t.reals, t.itoks))
    val index = new SuffixIndex
    docs.foreach(d => index.add(d.ids))
    index.sort()
    val probes = math.min(docs.length, 1000)
    val all = Oracle.params(cfg, 0)
    val top5 = Oracle.params(cfg, 5)
    val ec = cfg.editCosts

    val best = mutable.HashMap.empty[String, Double]
    var sink = 0L
    def time(name: String, units: Int)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      sink += body
      val ns = (System.nanoTime() - t0).toDouble / math.max(1, units)
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), ns)
    }

    for (_ <- 0 until rounds) {
      time("kernel.tokenize_ns_per_row", texts.length) {
        texts.iterator.map(Tokenizer.tokenize(_, cfg.pt).norm.length.toLong).sum
      }
      time("kernel.minhash_ns_per_row", toks.length) {
        toks.iterator.map(t =>
          SignatureStage.one(t, cfg.shingleK, cfg.minhashPerms, cfg.minhashBands, cfg.seed).simhash).sum
      }
      time("kernel.suffix_sort_ns_per_row", docs.length) {
        val ix = new SuffixIndex
        docs.foreach(d => ix.add(d.ids))
        ix.sort()
        ix.numSentences.toLong
      }
      time("kernel.match_ns_per_probe", probes) {
        (0 until probes).iterator.map(i => Matcher.matchPattern(index, docs(_), docs(i), all).length.toLong).sum
      }
      time("kernel.match_top5_ns_per_probe", probes) {
        (0 until probes).iterator.map(i => Matcher.matchPattern(index, docs(_), docs(i), top5).length.toLong).sum
      }
      // neighbouring rows of a contiguous id range are variants of one base
      time("kernel.edit_distance_ns_per_pair", probes) {
        (0 until probes).iterator.map { i =>
          val s = docs(math.min(i ^ 1, docs.length - 1))
          val p = docs(i)
          EditDistanceKernel.weighted(s, p, null, 0f, ec,
            Costs.diffWord(p.length, s.length, ec), Float.MaxValue).toLong
        }.sum
      }
      time("oracle.ns_per_clip", rows.length) {
        val fm = Oracle.matcher(rows.iterator, cfg)
        (0 until fm.numSentences).iterator
          .map(i => Matcher.matchPattern(fm.suffixIndex, fm.doc, fm.doc(i), all).length.toLong).sum
      }
    }
    blackhole = sink // keeps the JIT from dropping the timed work
    val ns = best.remove("oracle.ns_per_clip").get
    best.toMap + ("oracle.clips_per_s" -> 1e9 / ns)
  }
}
