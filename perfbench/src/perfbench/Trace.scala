package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval. `parent` is the enclosing span's id (-1 at the
  * root); spans of one benchmark op share `op`. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to a span: successful task attempts only (a
  * retried or speculative attempt that failed or was killed adds nothing). */
final class Work {
  var jobs = 0
  var jobWallNs = 0L
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var fetchWaitMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; jobWallNs += o.jobWallNs; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; fetchWaitMs += o.fetchWaitMs; maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
  }
  def taskS: Double = taskMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  /** Time tasks spent not computing: run time minus CPU time, plus shuffle fetch wait. */
  def waitS: Double = math.max(0.0, taskMs / 1e3 - cpuNs / 1e9) + fetchWaitMs / 1e3
  def maxTaskS: Double = maxTaskMs / 1e3
  def shuffleMb: Double = shuffleWriteBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
  def gcS: Double = gcMs / 1e3
}

/** Benchmark-owned listener: attributes every job, stage and successful task
  * to the job group (`span:<id>`) and job description active when the job
  * was submitted. Events arrive asynchronously, so readers call
  * [[Tracer.fence]] first. */
final class GroupListener extends SparkListener {
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val jobKey = mutable.HashMap.empty[Int, (String, String, Long)]
  /** (group, description) → work. */
  private val work = mutable.HashMap.empty[(String, String), Work]
  @volatile var lastFence = -1

  private def keyOf(p: java.util.Properties): (String, String) =
    if (p == null) ("", "")
    else (Option(p.getProperty(Tracer.GroupProp)).getOrElse(""),
      Option(p.getProperty("spark.job.description")).getOrElse(""))

  private def at(k: (String, String)): Work = work.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    jobKey(e.jobId) = (k._1, k._2, e.time)
    e.stageIds.foreach(s => if (!stageKey.contains(s)) stageKey(s) = k)
    at(k).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey(e.stageInfo.stageId) = keyOf(e.properties)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (g, d, t0) =>
      at((g, d)).jobWallNs += (e.time - t0) * 1000000L
      if (g.startsWith("fence:")) lastFence = g.stripPrefix("fence:").toInt
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason == Success && e.taskInfo != null && e.taskInfo.successful && e.taskMetrics != null) {
      val w = at(stageKey.getOrElse(e.stageId, ("", "")))
      val m = e.taskMetrics
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.gcMs += m.jvmGCTime
    }
  }

  def snapshot(): Map[(String, String), Work] = synchronized {
    work.map { case (k, w) => k -> { val c = new Work; c.add(w); c } }.toMap
  }
}

/** In-memory span recorder. A span sets the Spark job group of the calling
  * thread to `span:<id>` for its duration, so the listener can attribute the
  * jobs it launches; nested spans attribute to the innermost one and roll up
  * through [[inclusive]]. */
final class Tracer(sc: SparkContext) {
  private val listener = new GroupListener
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (id, start). */
  private var stack = List.empty[(Int, Long)]
  private var nextId = 0
  private var fences = 0
  var op = -1

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val prev = sc.getLocalProperty(Tracer.GroupProp)
    sc.setLocalProperty(Tracer.GroupProp, s"span:$id")
    stack = (id, System.nanoTime()) :: stack
    try body
    finally {
      val t0 = stack.head._2
      stack = stack.tail
      done.synchronized { done += Span(id, name, parent, op, t0, System.nanoTime()) }
      sc.setLocalProperty(Tracer.GroupProp, prev)
    }
  }

  /** Block until the listener has seen every event posted so far: runs a
    * one-task job in its own group and waits for its end event, which the
    * listener bus delivers after all earlier events. */
  def fence(): Unit = {
    fences += 1
    val n = fences
    val prev = sc.getLocalProperty(Tracer.GroupProp)
    sc.setLocalProperty(Tracer.GroupProp, s"fence:$n")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.GroupProp, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (listener.lastFence < n && System.nanoTime() < deadline) Thread.sleep(5)
    require(listener.lastFence >= n, "listener bus did not drain within 30 s")
  }

  def spans: Seq[Span] = done.synchronized(done.toList.sortBy(_.id))

  /** Work of each span including its descendants (call [[fence]] first). */
  def inclusive(): Map[Int, Work] = {
    val snap = listener.snapshot()
    val own = mutable.HashMap.empty[Int, Work]
    snap.foreach { case ((g, _), w) =>
      if (g.startsWith("span:")) own.getOrElseUpdate(g.stripPrefix("span:").toInt, new Work).add(w)
    }
    val all = spans
    val children = all.groupBy(_.parent)
    def incl(id: Int): Work = {
      val w = new Work
      own.get(id).foreach(w.add)
      children.getOrElse(id, Nil).foreach(c => w.add(incl(c.id)))
      w
    }
    all.map(s => s.id -> incl(s.id)).toMap
  }

  /** Work of the jobs inside span `id` (not its children), split by job
    * description. */
  def byDescription(id: Int): Map[String, Work] =
    listener.snapshot().collect { case ((g, d), w) if g == s"span:$id" => d -> w }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupProp = "spark.jobGroup.id"
}
