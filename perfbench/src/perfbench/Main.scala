package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.dedup.DedupConfig

/** Benchmark entry point: one workload, one closed-loop client, in one JVM
  * at local[nproc].
  *
  * {{{
  * Main --workload <dedup_lsh|ingest|retrieval> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--spans <file>] [--plant-defect 1]
  * }}}
  *
  * Prints one `OP` line per op, one `METRIC <name> <value> <unit>` line per
  * figure, and last a JSON object with `correct`, `attempted`, `failed` and
  * `metrics`: the end-to-end metrics with `--trace 0`, the per-layer ones
  * (from a separate traced run) with `--trace 1`. `--plant-defect 1`
  * corrupts a copy of the first op's output before it is checked, which the
  * checks must report as a failed op. */
object Main {
  /** Input sizes and the per-op time after which an op counts as timed out. */
  val LshClips = 2000
  val IngestBase = 4000
  val IngestBatch = 400
  val CompactAfter = 4
  val RetrievalCorpus = 8000
  val RetrievalQueries = 1000
  val TopK = 5
  val OpTimeoutS = 60.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = graft.dedup.DedupPipeline.sessionBuilder("perfbench", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      val seed = need("seed").toLong
      val cfg = DedupConfig(shufflePartitions = cores)
      val w: Workload = need("workload") match {
        case "dedup_lsh" =>
          // half whole families (every variant), half variant-0 rows of
          // families not otherwise used: bases with no duplicate
          val fam = LshClips / 2
          val ids = Array.tabulate(fam)(_.toLong) ++
            Array.tabulate(LshClips - fam)(j => (fam / 8 + 1 + j).toLong * 8)
          new DedupWorkload(spark, ids, seed,
            cfg.copy(strategy = "shuffle", useAudioChannel = true, useAudioContainment = true), cores)
        case "ingest" =>
          new IngestWorkload(spark, seed, IngestBase, IngestBatch, CompactAfter, cfg, cores, work)
        case "retrieval" =>
          new RetrievalWorkload(spark, seed, RetrievalCorpus, RetrievalQueries, TopK, cfg, cores, work)
        case other => sys.error(s"unknown workload $other")
      }
      val h = new Harness(spark, w, cfg, need("seconds").toDouble, need("trace") == "1",
        opt.get("plant-defect").contains("1"))
      val result = h.run(sessionS, jvmStartMs)
      opt.get("spans").foreach(p => h.tracer.foreach(_.write(Paths.get(p))))
      println(result)
    } finally spark.stop()
  }
}

/** Runs set-up, warm-up and the closed loop of one workload, checks every
  * op's output, and renders the figures. */
final class Harness(spark: SparkSession, w: Workload, cfg: DedupConfig, seconds: Double,
    trace: Boolean, plantDefect: Boolean) {
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark.sparkContext)) else None
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val problems = mutable.ArrayBuffer.empty[String]

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is $value")
    metrics(name) = (value, unit)
    println(s"METRIC $name $value $unit")
  }

  /** One op: prepare, time, collect, check. Returns the wall, the peak
    * post-GC heap during the op and the failed checks. */
  private def op(i: Int, traced: Boolean): (Double, Double, Seq[String]) = {
    w.prepare(i)
    HeapMonitor.quiesce()
    tracer.foreach(_.op = i)
    val (out, wall) = secs {
      try Right(w.run(i, if (traced) tracer else None)) catch { case NonFatal(e) => Left(e) }
    }
    val heap = HeapMonitor.stop()
    val errs = out match {
      case Left(e) => Seq(s"threw $e")
      case Right(o) =>
        try {
          val got = w.collect(i, o)
          w.verify(i, if (plantDefect && i == 0) w.corrupt(got) else got)
        } catch { case NonFatal(e) => Seq(s"check threw $e") }
    }
    val all = errs ++ Option.when(wall > Main.OpTimeoutS)(f"took $wall%.1f s > ${Main.OpTimeoutS} s")
    println(f"OP $i ${w.label(i)} traced=$traced wall_s=$wall%.4f heap_peak_mb=$heap%.1f " +
      (if (all.isEmpty) "ok" else "FAILED: " + all.mkString("; ")))
    (wall, heap, all)
  }

  def run(sessionS: Double, jvmStartMs: Long): String = {
    // set-up: the input build repeats in the untraced run, for a steady median
    val builds = (1 to (if (trace) 1 else w.setupRepeats)).map(_ => secs(w.build(tracer))._2)
    val oracleS = secs(w.oracle())._2
    var warmS = 0.0
    var last: Any = null
    for (i <- -w.unit until 0) {
      w.prepare(i)
      val (out, s) = secs(w.run(i, None))
      warmS += s
      last = w.collect(i, out)
      problems ++= w.verify(i, last).map(e => s"warm-up op $i: $e")
    }
    // the checker must reject a planted defect
    val selfTest = w.verify(-1, w.corrupt(last)).nonEmpty
    if (!selfTest) problems += "the output check accepted a planted defect"
    val setupWall = (System.currentTimeMillis() - jvmStartMs) / 1e3 - oracleS

    // the closed loop; a traced run alternates blocks of `period` untraced
    // and traced ops so both see the same mix of op kinds
    val results = mutable.ArrayBuffer.empty[(Double, Double, Seq[String], Boolean)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val block = w.period
    var i = 0
    while (i == 0 || i % w.unit != 0 || elapsed < seconds ||
        (trace && (i < 2 * block || i % (2 * block) != 0))) {
      val traced = trace && (i / block) % 2 == 1
      val (wall, heap, errs) = op(i, traced)
      results += ((wall, heap, errs, traced))
      i += 1
    }
    val ops = results.size
    val finish = try w.finish(ops) catch { case NonFatal(e) => Seq(s"final check threw $e") }
    if (finish.nonEmpty) {
      println(s"FINAL FAILED: ${finish.mkString("; ")}")
      val (a, b, e, t) = results.last
      results(ops - 1) = (a, b, e ++ finish, t)
    }
    val failed = results.count(_._3.nonEmpty)
    tracer.foreach(tr => problems ++= w.traceExtras(tr))
    val walls = results.map(_._1).toSeq
    val recall = w.recall
    if (recall < Oracle.MinRecall) problems += f"recall $recall%.4f"
    problems.foreach(p => println(s"PROBLEM $p"))
    val correct = failed == 0 && problems.isEmpty

    if (!trace) {
      val (p, tail, beyond) = Stats.tail(walls)
      metric("setup_s", sessionS + Stats.median(builds) + warmS, "s")
      metric("rows_per_s", w.rowsPerOp * ops / walls.sum, "rows/s")
      metric("op_s_p50", Stats.median(walls), "s")
      metric("op_s_tail", tail, "s")
      metric("recall", recall, "frac")
      println(s"METRIC heap_peak_mb ${results.map(_._2).max} MB")
      println(s"METRIC op_s_tail.percentile $p pct")
      println(s"METRIC op_s_tail.samples_beyond $beyond count")
      println(s"METRIC ops $ops count")
      println(s"METRIC failed_ops_frac ${failed.toDouble / ops} frac")
      println(s"METRIC setup.session_s $sessionS s")
      println(s"METRIC setup.build_s_median ${Stats.median(builds)} s")
      println(s"METRIC setup.warmup_s $warmS s")
      println(s"METRIC setup.wall_s $setupWall s")
      println(s"METRIC oracle_s $oracleS s")
      w.extra(ops).foreach { case (n, v, u) => println(s"METRIC $n $v $u") }
    } else {
      val tr = tracer.get
      tr.fence()
      val tracedOps = results.indices.filter(results(_)._4)
      val (tw, uw) = results.partition(_._4)
      val layers = w.layers(tr, tracedOps) ++ Kernels.run(w.kernelRows, cfg) ++
        Map("trace.overhead_s" -> (tw.map(_._1).sum / tw.size - uw.map(_._1).sum / uw.size))
      val unknown = layers.keySet -- PerLayer.names
      require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
      PerLayer.names.foreach(n => metric(n, layers.getOrElse(n, 0.0), PerLayer.unit(n)))
    }
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $ops, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }
}

/** Every per-layer metric a traced run reports; a layer a workload does not
  * exercise reports 0. */
object PerLayer {
  private def f(span: String, fields: String*) = fields.map(x => s"$span.$x")
  val names: Seq[String] =
    f("text.tokenize", "task_s", "rows_out") ++
      f("kernel.signatures", "task_s") ++
      f("dedup.candidates", "wall_s", "task_s", "wait_s", "max_task_s", "jobs", "shuffle_mb",
        "spill_mb", "pairs_emitted", "pairs", "capped_buckets") ++
      f("dedup.verify", "wall_s", "task_s", "wait_s", "max_task_s", "shuffle_mb", "edges",
        "edges_per_pair") ++
      f("dedup.broadcast_verify", "wall_s", "task_s", "wait_s", "max_task_s", "edges") ++
      f("dedup.audio", "wall_s", "task_s", "shuffle_mb", "edges") ++
      f("dedup.audio_contain", "wall_s", "task_s", "shuffle_mb", "edges") ++
      f("dedup.cc", "wall_s", "jobs") ++
      f("dedup.pipeline", "jobs", "tasks", "task_s", "cpu_s", "shuffle_mb", "gc_s") ++
      IngestWorkload.Phases.flatMap(p => f(s"inc.$p", "wall_s", "jobs", "task_s")) ++
      Seq("inc.commit.write_mb", "inc.compact.wall_s", "inc.compact.write_mb", "data.state_mb",
        "retrieval.load_index.wall_s") ++
      f("retrieval.topk", "wall_s", "task_s", "max_task_s", "jobs") ++
      f("retrieval.topk_shuffle", "wall_s", "task_s", "shuffle_mb", "jobs") ++
      Seq("retrieval.matches_per_query", "kernel.tokenize_ns_per_row", "kernel.minhash_ns_per_row",
        "kernel.suffix_sort_ns_per_row", "kernel.match_ns_per_probe", "kernel.match_top5_ns_per_probe",
        "kernel.edit_distance_ns_per_pair", "oracle.clips_per_s", "trace.overhead_s")

  def unit(n: String): String =
    if (n.endsWith("clips_per_s")) "1/s"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_mb")) "MB"
    else if (n.contains("_ns_per_")) "ns"
    else if (n.endsWith("edges_per_pair") || n.endsWith("matches_per_query")) "ratio"
    else "count"
}
