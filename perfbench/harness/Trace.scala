package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Long, endMs: Long)

/** Layer counters summed over whatever ran while they were current. */
final class Counters {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, deserMs, gcMs = 0L
  var cpuNs = 0L
  var peakMemBytes = 0L
  var shufWrite, shufRead, fetchWaitMs, spillBytes, cachePut = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def asMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.scheduler_delay_s" -> schedDelayMs / 1e3,
    "exec.run_s" -> runMs / 1e3,
    "exec.cpu_s" -> cpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.deser_s" -> deserMs / 1e3,
    "exec.peak_mem_mb" -> peakMemBytes / 1e6,
    "shuffle.write_mb" -> shufWrite / 1e6,
    "shuffle.read_mb" -> shufRead / 1e6,
    "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
    "spill.mb" -> spillBytes / 1e6,
    "cache.put_mb" -> cachePut / 1e6,
    "catalyst.analysis_ms" -> analysisMs.toDouble,
    "catalyst.optimization_ms" -> optimizationMs.toDouble,
    "catalyst.planning_ms" -> planningMs.toDouble)
}

object Counters {
  /** Metrics that combine by maximum rather than by sum. */
  val maxed: Set[String] = Set("exec.peak_mem_mb")
}

/** Spans and layer counters of a traced run, fed by Spark's public
  * listener interfaces. Everything stays in memory until the run ends.
  *
  * Attribution is by time: the harness drains the listener bus before it
  * swaps `counters` or `parent`, so every event lands in the bucket of
  * the operation that caused it. Streaming jobs are attributed to their
  * pipeline through the query id Spark puts in the job properties. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var counters = new Counters
  @volatile var parent = 0L
  /** the workload span, parent of queries and pipelines */
  @volatile var root = 0L
  /** streaming query id -> pipeline span id */
  val pipelineSpans = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]               // stage -> job span

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.synchronized { spans += s }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Open a span now; the returned function closes it. */
  def open(kind: String, name: String, parentId: Long): (Long, () => Unit) = {
    val id = nextId()
    val t0 = System.currentTimeMillis()
    (id, () => add(Span(id, parentId, kind, name, t0, System.currentTimeMillis())))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counters.jobs += 1
      val qid = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      val par = qid.flatMap(q => Option(pipelineSpans.get(q)).map(_.longValue)).getOrElse(parent)
      val id = nextId()
      jobSpan(e.jobId) = (id, par, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, par, t0) =>
        add(Span(id, par, "job", s"job ${e.jobId}", t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counters.stages += 1
      val i = e.stageInfo
      val par = stageJob.remove(i.stageId).getOrElse(parent)
      for (s <- i.submissionTime; c <- i.completionTime)
        add(Span(nextId(), par, "stage", s"stage ${i.stageId} (${i.numTasks} tasks)", s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = counters
      c.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.deserMs += m.executorDeserializeTime
        c.gcMs += m.jvmGCTime
        c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
        c.shufWrite += m.shuffleWriteMetrics.bytesWritten
        c.shufRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        if (info != null)
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) counters.cachePut += b.memSize + b.diskSize
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      counters.analysisMs += ms("analysis")
      counters.optimizationMs += ms("optimization")
      counters.planningMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. The bus
    * is private to Spark in Scala but public in bytecode, hence the
    * reflective call. */
  def drain(): Unit = Tracer.drain(spark)

  /** Swap in a fresh counter bucket and return the old one. */
  def take(): Counters = synchronized { val c = counters; counters = new Counters; c }
}

object Tracer {
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    // QueryExecutionListener callbacks ride on this bus too
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def spansJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.sortBy(_.startMs).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
