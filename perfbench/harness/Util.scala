package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings). Doubles keep every digit; NaN and infinities become null so
  * the record always parses. */
private[perfbench] object J {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Json.str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Json.str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => graft.Json.str(o.toString)
  }

  /** Written whole or not at all: a file that exists is complete. */
  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, (apply(v) + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

private[perfbench] object Stats {
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else graft.BenchAction.median(xs)

  /** Harrell–Davis quantile estimate, q in (0, 1): a Beta-weighted average
    * of all order statistics. At a few dozen samples drawn from a lumpy
    * distribution (queries of different cost, files landing in the same
    * micro-batch) a single order statistic jumps between lumps from run to
    * run; this estimate moves smoothly. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
  }
}

/** Conditions of the sitting, with the contamination rule of graft.Bench
  * (1-minute load average above 1.0 when the run starts). */
private[perfbench] object Sitting {
  def loadAvg1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  val nproc: Int = Runtime.getRuntime.availableProcessors
  val cores: Int = math.min(nproc, 4)
}

/** Counters read from the JVM without a Spark listener, so they exist in
  * the untraced run too. */
private[perfbench] object JvmCounters {
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds consumed so far by Spark's task threads (in local
    * mode the executor is this JVM; task threads are pooled, so they live
    * across a timed window). */
  def taskCpuNanos(): Long = {
    val ids = threads.getAllThreadIds
    val infos = threads.getThreadInfo(ids)
    var sum = 0L
    var i = 0
    while (i < ids.length) {
      val ti = infos(i)
      if (ti != null && ti.getThreadName.startsWith("Executor task launch worker")) {
        val c = threads.getThreadCpuTime(ids(i))
        if (c > 0) sum += c
      }
      i += 1
    }
    sum
  }

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLive = 0L

  // heap still in use right after each collection: the program's live
  // footprint, which unlike the raw used-heap peak does not just track how
  // far the collector let the young generation grow
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakLive) peakLive = used
        }, null, null)
    case _ =>
  }

  def resetPeakHeap(): Unit = peakLive = 0L

  /** Peak heap in use after a collection since the last reset. */
  def peakHeapMb: Double = peakLive / 1e6
}
