package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.sum
import graft.data.{Clip, SynthCorpus}
import graft.dedup._

/** One `IncrementalDedup.ingestStep` of a batch into a committed chain that
  * compacts after every `compactAfter` increments. Every run starts from a
  * copy of the same bootstrap state; the state dir is measured by walking it
  * from outside. */
final class IngestWorkload(spark: SparkSession, seed: Long, nBase: Int, nBatch: Int,
    compactAfter: Int, cfg: DedupConfig, cores: Int, work: Path) extends Workload {
  import spark.implicits._
  override def period: Int = compactAfter
  def rowsPerOp: Long = nBatch.toLong

  private val boot = work.resolve("ingest-boot")
  private val state = work.resolve("ingest-state")
  private val warm = work.resolve("ingest-warm")
  private def dirOf(i: Int): Path = if (i < 0) warm else state
  private def batchIds(i: Int): Array[Long] =
    Array.tabulate(nBatch)(j => nBase.toLong + math.max(i, 0).toLong * nBatch + j)

  private var batch: Dataset[Clip] = _
  private var before = 0L
  private var baseBytes = 0L
  private val inBytes = mutable.HashMap.empty[Int, Long]
  private val added = mutable.HashMap.empty[Int, Long]
  private val compacted = mutable.HashSet.empty[Int]
  private var last: Array[(String, String)] = _
  private var recallScore = 1.0
  private val commitBytes = mutable.ArrayBuffer.empty[Long]
  private val compactions = mutable.ArrayBuffer.empty[(Double, Long)]

  private def bytesOf(ds: Dataset[Clip]): Long =
    ds.map(Inputs.bytesOf).agg(sum("value")).head().getLong(0)

  def build(t: Option[Tracer]): Unit = {
    Dirs.deleteTree(boot)
    val base = Inputs.clips(spark, Array.tabulate(nBase)(_.toLong), seed, cores)
    IncrementalDedup.ingestStep(base, 0L, cfg, boot.toString, compactAfter)
    Dirs.deleteTree(state)
    Dirs.copyTree(boot, state)
    if (baseBytes == 0L) baseBytes = bytesOf(base)
  }

  /** The truth needs the whole ingested corpus, so [[finish]] computes it. */
  def oracle(): Unit = ()

  override def prepare(i: Int): Unit = {
    if (i < 0) { Dirs.deleteTree(warm); Dirs.copyTree(boot, warm) }
    batch = Inputs.clips(spark, batchIds(i), seed, cores)
    inBytes(i) = bytesOf(batch)
    before = Dirs.bytes(dirOf(i))
  }

  def run(i: Int, t: Option[Tracer]): Any = t match {
    case None =>
      IncrementalDedup.ingestStep(batch, math.max(i, 0) + 1L, cfg, dirOf(i).toString, compactAfter)
    case Some(tr) => traced(i, tr)
  }

  /** `ingestStep` past bootstrap, as its public calls inside spans. */
  private def traced(i: Int, tr: Tracer): Unit = tr.span("inc.step") {
    val dir = dirOf(i).toString
    val (names, _) = IncrementalDedup.readChain(spark, dir).get
    val name = s"inc_${math.max(i, 0) + 1}"
    tr.span("inc.run") { IncrementalDedup.run(batch, names.map(n => s"$dir/$n"), cfg, Some(s"$dir/$name")) }
    val chain = names :+ name
    tr.span("inc.commit") { IncrementalDedup.writeChain(spark, dir, chain, cfg, expectPrev = Some(names)) }
    commitBytes += Dirs.bytes(dirOf(i).resolve(name))
    if (chain.size > compactAfter) {
      val cname = s"compact_${math.max(i, 0) + 1}"
      val t0 = System.nanoTime()
      tr.span("inc.compact") {
        IncrementalDedup.compact(spark, chain.map(n => s"$dir/$n"), cfg, s"$dir/$cname")
        IncrementalDedup.writeChain(spark, dir, Seq(cname), cfg, expectPrev = Some(chain))
      }
      compactions += (((System.nanoTime() - t0) / 1e9, Dirs.bytes(dirOf(i).resolve(cname))))
    }
  }

  def collect(i: Int, out: Any): Any = {
    added(i) = Dirs.bytes(dirOf(i)) - before
    if (IncrementalDedup.readChain(spark, dirOf(i).toString).get._1.size == 1) compacted += i
    val got = IncrementalDedup.currentClusters(spark, dirOf(i).toString)
      .map(r => (r.clip_id, r.cluster_id)).collect().sortBy(_._1)
    spark.catalog.clearCache()
    if (i < 0) Dirs.deleteTree(warm) else last = got
    got
  }

  /** Every clip of the corpus so far appears once, and each cluster is
    * named by its smallest member. */
  def verify(i: Int, got: Any): Seq[String] = {
    val rows = got.asInstanceOf[Array[(String, String)]]
    val want = nBase + (math.max(i, 0) + 1) * nBatch
    val minOf = rows.groupMapReduce(_._2)(_._1)((a, b) => if (a < b) a else b)
    Seq(
      Option.when(rows.length != want || rows.map(_._1).distinct.length != want)(
        s"${rows.length} cluster rows for $want clips"),
      Option.when(minOf.exists { case (label, m) => label != m })(
        "a cluster label is not its smallest member")).flatten
  }

  def corrupt(got: Any): Any = {
    val rows = got.asInstanceOf[Array[(String, String)]].clone()
    rows(0) = (rows(0)._1, rows(0)._2 + "~")
    rows
  }

  /** The chain must equal a full `DedupPipeline.run` over the same corpus,
    * and keep the oracle's dup pairs together. */
  override def finish(ops: Int): Seq[String] = {
    val ids = Array.tabulate(nBase + ops * nBatch)(_.toLong)
    val full = DedupPipeline.run(Inputs.clips(spark, ids, seed, cores), cfg).clusters
      .map(r => (r.clip_id, r.cluster_id)).collect().sortBy(_._1)
    spark.catalog.clearCache()
    val truth = Oracle.dupPairs(ids.iterator.map(SynthCorpus.clipForId(_, seed)), cfg)
    val label = last.toMap
    recallScore =
      if (truth.isEmpty) 1.0 else truth.count { case (a, b) => label(a) == label(b) }.toDouble / truth.size
    Seq(
      Option.when(!full.sameElements(last))("chain clusters differ from a full run over the same corpus"),
      Option.when(recallScore < Oracle.MinRecall)(f"co-clustered dup-pair recall $recallScore%.4f")).flatten
  }

  def recall: Double = recallScore

  override def label(i: Int): String = if (compacted(i)) "inc+compact" else "inc"

  /** Bytes the chain keeps live: the chain file and the dirs it names. */
  private def liveBytes: Long = {
    val (names, _) = IncrementalDedup.readChain(spark, state.toString).get
    Dirs.bytes(state.resolve("chain.json")) + names.map(n => Dirs.bytes(state.resolve(n))).sum
  }

  override def extra(ops: Int): Seq[(String, Double, String)] = {
    // an op that threw has no write figure
    val timed = (0 until ops).filter(added.contains)
    val input = timed.map(inBytes).sum.toDouble
    Seq(
      ("write_bytes_per_input_byte", timed.map(added).sum / input, "B/B"),
      ("state_bytes_per_input_byte", liveBytes / (baseBytes + input), "B/B"),
      ("compacting_ops", timed.count(compacted).toDouble, "count"))
  }

  def layers(t: Tracer, ops: Seq[Int]): Map[String, Double] = {
    val n = ops.size.toDouble
    val runs = t.spans.filter(s => s.name == "inc.run" && ops.contains(s.op))
    val byPhase = mutable.HashMap.empty[String, Work]
    runs.foreach(s => t.byDescription(s.id).foreach { case (d, w) =>
      val phase = if (d.startsWith("inc:")) d.stripPrefix("inc:") else "unlabeled"
      byPhase.getOrElseUpdate(phase, new Work).add(w)
    })
    val phases = IngestWorkload.Phases.flatMap { p =>
      val w = byPhase.getOrElse(p, new Work)
      Seq(s"inc.$p.wall_s" -> w.jobWallNs / 1e9 / n, s"inc.$p.jobs" -> w.jobs / n,
        s"inc.$p.task_s" -> w.taskS / n)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    phases.toMap ++ Map(
      "inc.commit.write_mb" -> mean(commitBytes.map(_ / 1e6).toSeq),
      "inc.compact.wall_s" -> mean(compactions.map(_._1).toSeq),
      "inc.compact.write_mb" -> mean(compactions.map(_._2 / 1e6).toSeq),
      "data.state_mb" -> liveBytes / 1e6)
  }

  def kernelRows: IndexedSeq[Clip] = batchIds(0).toIndexedSeq.take(2000).map(SynthCorpus.clipForId(_, seed))
}

object IngestWorkload {
  /** The `inc:<phase>` job descriptions `IncrementalDedup.run` sets, plus
    * the jobs it runs outside any phase. */
  val Phases = Seq("precheck", "inc_tokenize", "signatures", "prefilter_keys", "inc_candidates",
    "inc_verify", "inc_audio", "touched_labels", "inc_cluster", "merged_labels", "unlabeled")
}
