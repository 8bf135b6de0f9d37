package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.data.{Clip, SynthCorpus}
import graft.dedup.{DedupConfig, FuzzyRetrieval, RetrievalRow, TokRow}
import graft.kernel.Hashing
import graft.oracle.FuzzyMatcher

/** Requests of `nQueries` top-k queries against an index that `saveIndex`
  * wrote and `loadIndex` read during set-up. Requests come in pairs with the
  * same queries: the broadcast path (`topkIndexed`), then the shuffle path
  * (`topkShuffleIndexed`). Half the queries are edited corpus rows, half are
  * sentences the corpus does not hold. */
final class RetrievalWorkload(spark: SparkSession, seed: Long, nCorpus: Int, nQueries: Int,
    k: Int, cfg: DedupConfig, cores: Int, work: Path) extends Workload {
  import spark.implicits._
  override def period: Int = 2
  override def unit: Int = 2
  def rowsPerOp: Long = nQueries.toLong

  private val dir = work.resolve("retrieval-index")
  private var index: Dataset[TokRow] = _
  private var fm: FuzzyMatcher = _
  private var queries: IndexedSeq[Clip] = _
  private var queriesDs: Dataset[Clip] = _
  /** Broadcast responses awaiting their shuffle partner. */
  private val results = mutable.HashMap.empty[Int, Map[String, Seq[(String, Double)]]]
  private var found = 0L
  private var expected = 0L
  private val rowsOf = mutable.HashMap.empty[Int, Long]
  /** Queries checked against the oracle in every request: edited and unseen. */
  private val sampled = (0 until 50).map(s => s * (nQueries / 50) + s % 2).filter(_ < nQueries)

  private def broadcast(i: Int) = Math.floorMod(i, 2) == 0

  def build(t: Option[Tracer]): Unit = {
    if (index != null) index.unpersist()
    Dirs.deleteTree(dir)
    FuzzyRetrieval.saveIndex(
      Inputs.clips(spark, Array.tabulate(nCorpus)(_.toLong), seed, cores), cfg, dir.toString)
    def load() = { index = FuzzyRetrieval.loadIndex(spark, dir.toString, cfg).persist(); index.count() }
    t.fold(load())(_.span("retrieval.load_index")(load()))
  }

  def oracle(): Unit =
    fm = Oracle.matcher(Iterator.tabulate(nCorpus)(i => SynthCorpus.clipForId(i.toLong, seed)), cfg)

  /** Query `j` of request pair `p`. */
  private def query(p: Int, j: Int): Clip = {
    val rng = new java.util.Random(Hashing.mix64(seed * 1000003L + p * 7919L + j))
    val text =
      if (j % 2 == 0) {
        val toks = SynthCorpus.clipForId(rng.nextInt(nCorpus).toLong, seed).transcript.split(' ')
        val at = rng.nextInt(toks.length)
        (if (toks.length >= 4) toks.patch(at, Nil, 1) else toks.patch(at, Seq(toks(at)), 0)).mkString(" ")
      } else {
        // variant-0 rows of families past the corpus
        val family = nCorpus / SynthCorpus.VariantsPerBase + 1 + (p + 2).toLong * nQueries + j
        SynthCorpus.clipForId(family * SynthCorpus.VariantsPerBase, seed).transcript
      }
    Clip(s"q${p}_$j", Array.emptyByteArray, 16000, 0, "none", text)
  }

  override def prepare(i: Int): Unit = if (broadcast(i)) {
    val p = Math.floorDiv(i, 2)
    queries = IndexedSeq.tabulate(nQueries)(query(p, _))
    queriesDs = spark.sparkContext.parallelize(queries, cores).toDS()
  }

  def run(i: Int, t: Option[Tracer]): Any = {
    def call(): Array[RetrievalRow] =
      if (broadcast(i)) FuzzyRetrieval.topkIndexed(queriesDs, index, cfg, numberOfMatches = k).collect()
      else FuzzyRetrieval.topkShuffleIndexed(queriesDs, index, cfg, numberOfMatches = k).collect()
    t.fold(call())(_.span(if (broadcast(i)) "retrieval.topk" else "retrieval.topk_shuffle")(call()))
  }

  def collect(i: Int, out: Any): Any = {
    val rs = out.asInstanceOf[Array[RetrievalRow]]
    rowsOf(i) = rs.length
    rs.groupBy(_.query_id).map { case (q, g) => q -> g.sortBy(_.rank).map(r => (r.s_id, r.score)).toSeq }
  }

  def verify(i: Int, got: Any): Seq[String] = {
    val res = got.asInstanceOf[Map[String, Seq[(String, Double)]]]
    if (broadcast(i)) results(i) = res
    val problems = mutable.ArrayBuffer.empty[String]
    if (!broadcast(i)) {
      val other = results.remove(i - 1).getOrElse(Map.empty)
      val differ = queries.count(q =>
        !Oracle.sameTopK(res.getOrElse(q.clip_id, Nil), other.getOrElse(q.clip_id, Nil), k))
      if (differ > 0) problems += s"$differ queries differ between the broadcast and shuffle paths"
    }
    val params = Oracle.params(cfg, k)
    val wrong = sampled.count { j =>
      val q = queries(j)
      val want = fm.matchQuery(q.transcript, params).map(m => (fm.externalId(m.sIdx), m.score))
      val mine = res.getOrElse(q.clip_id, Nil)
      if (i >= 0) {
        val (f, e) = Oracle.topKRecall(want, mine, k)
        found += f; expected += e
      }
      !Oracle.sameTopK(want, mine, k)
    }
    if (wrong > 0) problems += s"$wrong of ${sampled.size} sampled queries differ from the oracle"
    problems.toSeq
  }

  /** The best match of the first sampled query that has one, dropped. */
  def corrupt(got: Any): Any = {
    val res = got.asInstanceOf[Map[String, Seq[(String, Double)]]]
    sampled.map(j => queries(j).clip_id).find(q => res.get(q).exists(_.nonEmpty))
      .fold(res)(q => res.updated(q, res(q).tail))
  }

  def recall: Double = if (expected == 0) 1.0 else found.toDouble / expected

  override def label(i: Int): String = if (broadcast(i)) "broadcast" else "shuffle"

  def layers(t: Tracer, ops: Seq[Int]): Map[String, Double] = {
    val (bc, sh) = ops.partition(broadcast)
    val load = t.spans.filter(_.name == "retrieval.load_index").map(_.wallS)
    Layers(t, bc).work("retrieval.topk", "wall_s", "task_s", "max_task_s", "jobs") ++
      Layers(t, sh).work("retrieval.topk_shuffle", "wall_s", "task_s", "shuffle_mb", "jobs") ++
      Map("retrieval.load_index.wall_s" -> (if (load.isEmpty) 0.0 else load.sum / load.size),
        "retrieval.matches_per_query" -> ops.map(rowsOf).sum.toDouble / (ops.size * nQueries))
  }

  def kernelRows: IndexedSeq[Clip] = IndexedSeq.tabulate(2000)(i => SynthCorpus.clipForId(i.toLong, seed))
}
