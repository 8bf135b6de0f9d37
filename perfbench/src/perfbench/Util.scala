package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, as
    * (percentile, nearest-rank value, samples above). With ten or fewer
    * samples no percentile qualifies and the maximum is reported as p100. */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (100, s.last, 0)
    else {
      val p = (100 * (n - 10)) / n
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1), n - rank)
    }
  }
}

object Dirs {
  /** Total bytes of the regular files under `root` (0 if absent). */
  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally st.close()
  }
}

/** Peak post-GC heap use while armed: the heap after every collection that
  * ends inside the window, plus the one [[quiesce]] runs at its start (so a
  * window without a collection still reports its live set). */
object HeapMonitor {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (armed) HeapMonitor.synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  /** Full collection, then arm the window with the live heap as its floor. */
  def quiesce(): Unit = {
    System.gc()
    Thread.sleep(50)
    val live = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getCollectionUsage).filter(_ != null)
      .map(_.getUsed).sum
    HeapMonitor.synchronized { peak = live }
    armed = true
  }

  /** Disarm and return the window's peak in MB. */
  def stop(): Double = {
    Thread.sleep(20)
    armed = false
    val p: Long = HeapMonitor.synchronized { peak }
    p / 1e6
  }
}
