package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.data.{Clip, SynthCorpus}
import graft.dedup._

/** One benchmark workload: a closed loop of ops over inputs built from the
  * seed. `run` is the timed call; everything else (input preparation,
  * output collection and checks) happens outside the timed interval. */
trait Workload {
  /** Input rows one op completes (clips, or queries for retrieval). */
  def rowsPerOp: Long
  /** Ops of one repeating pattern (retrieval alternates two strategies,
    * ingest compacts every fourth increment). */
  def period: Int = 1
  /** The loop stops only after a multiple of this many ops, and set-up
    * warms up with one such unit, numbered -unit to -1. */
  def unit: Int = 1
  /** Set-up builds that `setup_s` takes the median of. */
  def setupRepeats: Int = 1
  /** Build the inputs; repeatable, the last build is used. */
  def build(t: Option[Tracer]): Unit
  /** Compute the oracle truth the checks compare against. */
  def oracle(): Unit
  /** Untimed preparation of op `i` (op -1 is the warm-up). */
  def prepare(i: Int): Unit = ()
  /** The op itself, untraced or as a traced composition of the same calls. */
  def run(i: Int, t: Option[Tracer]): Any
  /** Collect the op's output into this JVM and release its caches. */
  def collect(i: Int, out: Any): Any
  /** Problems with op `i`'s collected output (empty = correct). */
  def verify(i: Int, got: Any): Seq[String]
  /** A copy of a collected output with one planted defect. */
  def corrupt(got: Any): Any
  /** Checks that need the whole run, charged to the last op. */
  def finish(ops: Int): Seq[String] = Nil
  /** The workload's correctness score against the oracle. */
  def recall: Double
  /** Label of op `i` for the per-op report. */
  def label(i: Int): String = "op"
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def extra(ops: Int): Seq[(String, Double, String)] = Nil
  /** Traced side measurements after the loop; returns problems found. */
  def traceExtras(t: Tracer): Seq[String] = Nil
  /** Per-layer figures from the traced ops. */
  def layers(t: Tracer, tracedOps: Seq[Int]): Map[String, Double]
  /** Rows the single-thread kernel benchmarks run on. */
  def kernelRows: IndexedSeq[Clip]
}

object Inputs {
  /** The clips with the given ids, generated on the executors and
    * checkpointed, so ops read them without regenerating and without
    * holding a cache entry that clearing the cache would drop. */
  def clips(spark: SparkSession, ids: Array[Long], seed: Long, parts: Int): Dataset[Clip] = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids.toSeq, parts)
      .map(SynthCorpus.clipForId(_, seed)).toDS().localCheckpoint(true)
  }

  def bytesOf(c: Clip): Long = c.transcript.getBytes("UTF-8").length.toLong + c.bytes.length
}

/** Collected dedup output: cluster rows sorted by clip, transcript dup pairs. */
final case class DedupOut(clusters: Array[(String, String)], pairs: Set[(String, String)])

object DedupOut {
  def apply(clusters: Dataset[ClusterRow], edges: Dataset[Edge]): DedupOut = {
    val spark = clusters.sparkSession
    import spark.implicits._
    val cl = clusters.map(r => (r.clip_id, r.cluster_id)).collect().sortBy(_._1)
    val pr = edges.filter(col("kind").isin("edit", "substring"))
      .map(e => if (e.a < e.b) (e.a, e.b) else (e.b, e.a)).collect().toSet
    DedupOut(cl, pr)
  }
}

/** `DedupPipeline.run` to materialized clusters, on a fixed corpus. */
final class DedupWorkload(spark: SparkSession, ids: Array[Long],
    seed: Long, cfg: DedupConfig, cores: Int) extends Workload {
  import spark.implicits._
  private var clips: Dataset[Clip] = _
  private var truth: Set[(String, String)] = _
  private var ref: DedupOut = _
  private var recallMin = 1.0
  /** Counts from the traced ops, keyed by (op, name). */
  private val counts = scala.collection.mutable.HashMap.empty[(Int, String), Double].withDefaultValue(0.0)

  def rowsPerOp: Long = ids.length.toLong
  override def setupRepeats: Int = 3

  def build(t: Option[Tracer]): Unit = clips = Inputs.clips(spark, ids, seed, cores)

  def oracle(): Unit =
    truth = Oracle.dupPairs(ids.iterator.map(SynthCorpus.clipForId(_, seed)), cfg)

  def run(i: Int, t: Option[Tracer]): Any = t match {
    case None =>
      val r = DedupPipeline.run(clips, cfg)
      (r.clusters, r.edges)
    case Some(tr) => traced(tr, cfg)
  }

  def collect(i: Int, out: Any): Any = {
    val (c, e) = out.asInstanceOf[(Dataset[ClusterRow], Dataset[Edge])]
    val got = DedupOut(c, e)
    spark.catalog.clearCache()
    if (ref == null) ref = got
    got
  }

  def verify(i: Int, got: Any): Seq[String] = {
    val o = got.asInstanceOf[DedupOut]
    val r = Oracle.recall(truth, o.pairs)
    if (i >= 0) recallMin = math.min(recallMin, r)
    val extra = (o.pairs -- truth).size
    Seq(
      Option.when(o.clusters.length != ids.length || o.clusters.map(_._1).distinct.length != ids.length)(
        s"${o.clusters.length} cluster rows for ${ids.length} clips"),
      Option.when(r < Oracle.MinRecall)(f"dup-pair recall $r%.4f < ${Oracle.MinRecall}"),
      Option.when(extra > 0)(s"$extra dup pairs the oracle rejects"),
      Option.when(!o.clusters.sameElements(ref.clusters))("clusters differ from the first op"),
      Option.when(o.pairs != ref.pairs)("edge set differs from the first op")).flatten
  }

  /** One clip moved to another cluster and one dup edge dropped. */
  def corrupt(got: Any): Any = {
    val o = got.asInstanceOf[DedupOut]
    val cl = o.clusters.clone()
    cl(0) = (cl(0)._1, cl(0)._2 + "~")
    DedupOut(cl, if (o.pairs.isEmpty) o.pairs else o.pairs - o.pairs.min)
  }

  def recall: Double = recallMin

  /** The stages of `DedupPipeline.run` (no checkpoint dir), called in the
    * same order with the same persistence, each inside its own span. The
    * signature cache is materialized in its own span, where the untraced
    * run fills it inside the first candidate job. */
  private def traced(tr: Tracer, cfg: DedupConfig): (Dataset[ClusterRow], Dataset[Edge]) = {
    val sc = spark.sparkContext
    def count(name: String, n: Double): Unit = counts((tr.op, name)) += n
    var toks: Dataset[TokRow] = null
    var sigs: Dataset[SigRow] = null
    val out = tr.span("dedup.pipeline") {
      val nClips = tr.span("dedup.input") { clips.count() }
      val srcParts = clips.rdd.getNumPartitions
      val tokParts = math.max(1L, math.min(nClips / 4096 + 1, srcParts.toLong)).toInt
      var estBytes = -1L
      val nToks = tr.span("text.tokenize") {
        val t = TokenizeStage(clips, cfg)
        toks = (if (cfg.strategy == "shuffle" && tokParts < srcParts) t.repartition(tokParts) else t)
          .persist()
        if (cfg.strategy == "broadcast" || cfg.strategy == "shuffle") toks.count()
        else { val (n, b) = DedupPipeline.tokStats(toks); estBytes = b; n }
      }
      count("text.tokenize.rows_out", nToks)
      val useBroadcast = cfg.strategy match {
        case "broadcast" => true
        case "shuffle" => false
        case _ => nToks <= cfg.broadcastMaxRows && estBytes <= cfg.broadcastMaxBytes
      }
      var nEdges = 0L
      val edges: Dataset[Edge] =
        if (useBroadcast) tr.span("dedup.broadcast_verify") {
          val e = BroadcastVerifyStage(toks, cfg).persist()
          val n = e.count(); nEdges += n; count("dedup.broadcast_verify.edges", n)
          e
        } else {
          sigs = tr.span("kernel.signatures") {
            val s = SignatureStage(toks, cfg).persist(); s.count(); s
          }
          val accs = Seq.fill(4)(sc.longAccumulator)
          val cands = tr.span("dedup.candidates") {
            val c = CandidateStage(toks, sigs, cfg, accs(0), accs(1), accs(2), accs(3)).persist()
            count("dedup.candidates.pairs", c.count())
            c
          }
          count("dedup.candidates.capped_buckets", accs(0).value + accs(2).value + accs(3).value)
          val e = tr.span("dedup.verify") {
            val v = VerifyStage(toks, cands, cfg, nToks).persist()
            val n = v.count(); nEdges += n; count("dedup.verify.edges", n)
            v
          }
          cands.unpersist()
          sigs.unpersist()
          e
        }
      val withAudio =
        if (!cfg.useAudioChannel) edges
        else edges.union(tr.span("dedup.audio") {
          val afps = AudioDedup.fingerprints(clips).persist()
          val e = AudioDedup.pairs(afps, minCorr = cfg.audioMinCorr,
            cappedBuckets = sc.longAccumulator).persist()
          val n = e.count(); nEdges += n; count("dedup.audio.edges", n)
          e
        })
      val all =
        if (!cfg.useAudioContainment) withAudio
        else withAudio.union(tr.span("dedup.audio_contain") {
          val ctfps = AudioContainment.fingerprints(clips).persist()
          val e = AudioContainment.pairs(ctfps, minCorr = cfg.audioContainMinCorr,
            cappedBuckets = sc.longAccumulator)
            .select(col("inner").as("a"), col("outer").as("b"), col("corr").as("score"),
              org.apache.spark.sql.functions.lit(0).as("lcs"),
              org.apache.spark.sql.functions.lit("audio_contain").as("kind"))
            .as[Edge].persist()
          val n = e.count(); nEdges += n; count("dedup.audio_contain.edges", n)
          e
        })
      val clusters = tr.span("dedup.cc") {
        val c = ConnectedComponents(all, clips.select(col("clip_id")).toDF(), cfg.ccMaxIterations,
          cfg.ccLocalEdgeCap, knownEdgeCount = nEdges).persist()
        c.count()
        c
      }
      (clusters, all)
    }
    // candidate pairs per channel before deduplication: a side measurement
    // outside the pipeline's rollup, recomputing the signatures it needs
    if (sigs != null) tr.span("dedup.candidates.channels") {
      val acc = sc.longAccumulator
      count("dedup.candidates.pairs_emitted",
        CandidateStage.ngramChannel(toks, cfg, acc, acc).count() +
          CandidateStage.minhashChannel(SignatureStage(toks, cfg), cfg, acc).count() +
          CandidateStage.tinyChannel(toks, cfg, acc).count())
    }
    toks.unpersist()
    out
  }

  /** The broadcast strategy over the same clips, traced once as a control:
    * the path that bypasses signatures, candidates and the verify shuffle.
    * Its transcript pairs must equal the oracle's exactly. */
  override def traceExtras(t: Tracer): Seq[String] = {
    t.op = DedupWorkload.ControlOp
    val (c, e) = traced(t, cfg.copy(strategy = "broadcast", useAudioChannel = false,
      useAudioContainment = false))
    val got = DedupOut(c, e)
    spark.catalog.clearCache()
    val missing = (truth -- got.pairs).size
    val extra = (got.pairs -- truth).size
    Option.when(missing + extra > 0)(
      s"broadcast control: $missing oracle pairs missing, $extra extra").toSeq
  }

  def layers(t: Tracer, ops: Seq[Int]): Map[String, Double] = {
    def c(name: String, ops: Seq[Int]) = ops.map(o => counts((o, name))).sum / math.max(1, ops.size)
    val l = Layers(t, ops)
    val ctl = Seq(DedupWorkload.ControlOp)
    val pairs = c("dedup.candidates.pairs", ops)
    l.work("text.tokenize", "task_s") ++
      Map("text.tokenize.rows_out" -> c("text.tokenize.rows_out", ops)) ++
      l.work("kernel.signatures", "task_s") ++
      l.work("dedup.candidates", "wall_s", "task_s", "wait_s", "max_task_s", "jobs", "shuffle_mb", "spill_mb") ++
      Map("dedup.candidates.pairs_emitted" -> c("dedup.candidates.pairs_emitted", ops),
        "dedup.candidates.pairs" -> pairs,
        "dedup.candidates.capped_buckets" -> c("dedup.candidates.capped_buckets", ops)) ++
      l.work("dedup.verify", "wall_s", "task_s", "wait_s", "max_task_s", "shuffle_mb") ++
      Map("dedup.verify.edges" -> c("dedup.verify.edges", ops),
        "dedup.verify.edges_per_pair" -> (if (pairs > 0) c("dedup.verify.edges", ops) / pairs else 0.0)) ++
      Layers(t, ctl).work("dedup.broadcast_verify", "wall_s", "task_s", "wait_s", "max_task_s") ++
      Map("dedup.broadcast_verify.edges" -> c("dedup.broadcast_verify.edges", ctl)) ++
      l.work("dedup.audio", "wall_s", "task_s", "shuffle_mb") ++
      Map("dedup.audio.edges" -> c("dedup.audio.edges", ops)) ++
      l.work("dedup.audio_contain", "wall_s", "task_s", "shuffle_mb") ++
      Map("dedup.audio_contain.edges" -> c("dedup.audio_contain.edges", ops)) ++
      l.work("dedup.cc", "wall_s", "jobs") ++
      l.work("dedup.pipeline", "jobs", "tasks", "task_s", "cpu_s", "shuffle_mb", "gc_s")
  }

  def kernelRows: IndexedSeq[Clip] = ids.toIndexedSeq.take(2000).map(SynthCorpus.clipForId(_, seed))
}

object DedupWorkload {
  /** Op id of the traced broadcast control. */
  val ControlOp = -100
}

/** Per-op means of span counters over the traced ops. */
final case class Layers(t: Tracer, ops: Seq[Int]) {
  private lazy val incl = t.inclusive()
  private lazy val spans = t.spans.filter(s => ops.contains(s.op))

  /** `<span>.<field>` per traced op; spans absent from an op add 0. */
  def work(span: String, fields: String*): Map[String, Double] = {
    val ss = spans.filter(_.name == span)
    fields.map { f =>
      val total = ss.map { s =>
        val w = incl(s.id)
        f match {
          case "wall_s" => s.wallS
          case "task_s" => w.taskS
          case "cpu_s" => w.cpuS
          case "wait_s" => w.waitS
          case "max_task_s" => w.maxTaskS
          case "jobs" => w.jobs.toDouble
          case "tasks" => w.tasks.toDouble
          case "shuffle_mb" => w.shuffleMb
          case "spill_mb" => w.spillMb
          case "gc_s" => w.gcS
        }
      }
      // max_task_s is a maximum, everything else a per-op mean
      s"$span.$f" -> (if (f == "max_task_s") (0.0 +: total).max else total.sum / ops.size)
    }.toMap
  }
}
