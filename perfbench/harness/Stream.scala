package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.streaming._
import graft.streaming.LogSchema.LogEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, TestGroupState}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The P2–P6 real-time warehouse under a seeded open-loop file feed.
  *
  * Five queries share one session, all through the pipelines' public entry
  * points: LogPipeline.run, UniqueVisits and BounceDetect on the app-log
  * spool, CdcRouter.run on a Maxwell-envelope spool, OrderWide.run on the
  * order_info and order_detail spools.
  *
  * A run first starts the queries on one file per spool (their cold start),
  * then releases a backlog spooled at setup all at once and drains it
  * (sweep_s), then writes one file per spool every `PeriodMs` on a fixed
  * schedule (open loop), each spool at its own phase. A file's latency runs from when it was due to the commit of
  * the last pipeline that consumed it; files are mapped to micro-batches
  * through each checkpoint's offset and file-source logs, so no-data
  * batches and log compaction cannot skew the mapping. After the feed
  * stops, every pipeline's output is compared with the same public
  * function applied as a static batch to the generated input. */
final class StreamWorkload(work: String, smoke: Boolean, seed: Long, seconds: Double)
    extends Workload {
  import StreamWorkload._

  // tick 0 warms the queries up; the backlog follows, then the open loop
  private val backlog = 1 to (if (smoke) 2 else 3)
  private val firstOpen = backlog.last + 1
  // the open loop covers `seconds`, and at least two periods
  private val openTicks = math.max(2, math.ceil(seconds * 1000 / PeriodMs).toInt)
  private val gen = new LoadGen(seed, firstOpen + openTicks, firstOpen + 1,
    if (smoke) 0.2 else 1.0)
  private var dir: Path = _

  private def spool(s: String) = dir.resolve("spool").resolve(s)

  def prepare(spark: SparkSession): Unit = {
    dir = Paths.get(work).resolve("run").toAbsolutePath
    val staging = dir.resolve("staging")
    (LoadGen.Spools.flatMap(s => Seq(spool(s), pending(s))) :+ staging).foreach(Files.createDirectories(_))
    Files.write(dir.resolve("table_process.csv"), LoadGen.RoutingConfig.getBytes(StandardCharsets.UTF_8))
    writeDims(spark, dir.resolve("dims").toString)
    for (s <- LoadGen.Spools) {
      LoadGen.publish(staging, spool(s), fileName(s, 0), gen.files(0)(s))
      for (k <- backlog) LoadGen.publish(staging, pending(s), fileName(s, k), gen.files(k)(s))
    }
  }

  private def pending(s: String) = dir.resolve("backlog").resolve(s)

  def run(spark: SparkSession, tracer: Option[Tracer], seconds: Double, seed: Long): Outcome = {
    import spark.implicits._
    val out = dir.resolve("out")
    def text(s: String) = spark.readStream.text(spool(s).toString)
    def events(raw: DataFrame) =
      BounceDetect.withEventTime(LogSchema.toEvents(LogSchema.parse(raw)), WatermarkDelay).as[LogEvent]
    def fileSink(ds: Dataset[LogEvent], name: String) = ds.writeStream
      .format("parquet").outputMode("append")
      .option("path", out.resolve(name).toString)
      .option("checkpointLocation", out.resolve(name).resolve("_chk").toString)
      .start()

    val windowStart = System.nanoTime()
    val cpu0 = JvmCounters.taskCpuNanos()
    JvmCounters.resetPeakHeap()
    val startMs = System.currentTimeMillis()
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "LogPipeline" -> (() => LogPipeline.run(spark, text("applog"), out.resolve("p2").toString)),
      "UniqueVisits" -> (() => fileSink(UniqueVisits(events(text("applog"))), "p4")),
      "BounceDetect" -> (() => fileSink(BounceDetect(events(text("applog"))), "p5")),
      "CdcRouter" -> (() => CdcRouter.run(spark, text("cdc"),
        dir.resolve("table_process.csv").toString, out.resolve("p3").toString)),
      "OrderWide" -> (() => OrderWide.run(spark, text("order_info"), text("order_detail"),
        dir.resolve("dims").toString, out.resolve("p6").toString, AsOfDate))
    ).map { case (p, start) => p -> start() }
    val pipelineSpan: Map[String, Long] = tracer.map { t =>
      queries.map { case (p, q) =>
        val id = t.nextId()
        t.pipelineSpans.put(q.id.toString, id)
        p -> id
      }.toMap
    }.getOrElse(Map.empty)
    queries.foreach(_._2.processAllAvailable())

    // the backlog lands in the spools at once
    val drainStartMs = System.currentTimeMillis()
    for (s <- LoadGen.Spools; k <- backlog)
      Files.move(pending(s).resolve(fileName(s, k)), spool(s).resolve(fileName(s, k)),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    queries.foreach(_._2.processAllAvailable())
    val drainEndMs = System.currentTimeMillis()

    // open loop: one writer thread on a fixed schedule
    val staging = dir.resolve("staging")
    val openStartMs = System.currentTimeMillis() + 200
    def due(s: String, j: Int): Long = openStartMs + j * PeriodMs + PhaseMs(s)
    val schedule = (for (s <- LoadGen.Spools; j <- 0 until openTicks) yield (due(s, j), s, j)).sortBy(_._1)
    val lateMs = mutable.ArrayBuffer.empty[Long]
    val writer = new Thread(() => {
      for ((t, s, j) <- schedule) {
        val wait = t - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        LoadGen.publish(staging, spool(s), fileName(s, firstOpen + j), gen.files(firstOpen + j)(s))
        lateMs += System.currentTimeMillis() - t
      }
    }, "perfbench-loadgen")
    writer.setDaemon(true)
    writer.start()
    writer.join()
    queries.foreach(_._2.processAllAvailable())
    val cpu = (JvmCounters.taskCpuNanos() - cpu0) / 1e9
    // capacity against the offered rate: each pipeline's median trigger
    // time over the open loop's data batches, from its recent progress
    val openTriggerMs = queries.map { case (p, q) =>
      p -> Stats.median(q.recentProgress.toSeq
        .filter(x => x.numInputRows > 0 && java.time.Instant.parse(x.timestamp).toEpochMilli >= openStartMs)
        .map(_.durationMs.get("triggerExecution").doubleValue))
    }.toMap
    val peakHeap = JvmCounters.peakHeapMb
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val catchUpMs = System.currentTimeMillis() - schedule.last._1
    queries.foreach(_._2.stop())
    val windowCounters = tracer.map { t =>
      t.drain()
      val now = System.currentTimeMillis()
      pipelineSpan.foreach { case (p, id) => t.add(Span(id, t.root, "pipeline", p, startMs, now)) }
      t.take()
    }

    // ---- bookkeeping: file -> micro-batch -> commit, per pipeline
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def fail(msg: String): Unit = { failed += 1; if (errors.size < 20) errors += msg }
    queries.foreach { case (p, q) =>
      q.exception.foreach(e => fail(s"$p stopped with ${e.getMessage.take(160)}"))
    }
    val chk = Map(
      "LogPipeline" -> out.resolve("p2/_chk"), "UniqueVisits" -> out.resolve("p4/_chk"),
      "BounceDetect" -> out.resolve("p5/_chk"), "CdcRouter" -> out.resolve("p3/_chk"),
      "OrderWide" -> out.resolve("p6/_chk"))
    val consumers = Map(
      "applog" -> Seq("LogPipeline", "UniqueVisits", "BounceDetect"),
      "cdc" -> Seq("CdcRouter"),
      "order_info" -> Seq("OrderWide"), "order_detail" -> Seq("OrderWide"))
    val checkpoints: Map[String, Checkpoint] = chk.map { case (p, c) => p -> new Checkpoint(c) }
    val nTicks = firstOpen + openTicks
    // (spool, tick) -> commit time of the last consumer
    val done = mutable.Map.empty[(String, Int), Long]
    for ((s, ps) <- consumers; k <- 0 until nTicks) {
      val ts = ps.map { p => attempted += 1; checkpoints(p).commitOf(fileName(s, k)) }
      ps.zip(ts).collect { case (p, None) => fail(s"$p never committed ${fileName(s, k)}") }
      if (ts.forall(_.nonEmpty)) done((s, k)) = ts.flatten.max
    }
    val backlogRows = backlog.map(gen.rows).sum
    def lastCommit(ticks: Seq[Int], orElse: Long) =
      (for (s <- LoadGen.Spools; k <- ticks) yield done.getOrElse((s, k), orElse)).max
    val startedMs = lastCommit(Seq(0), drainStartMs)
    val drainDoneMs = lastCommit(backlog, drainEndMs)
    val drainRate = backlogRows / math.max((drainDoneMs - drainStartMs) / 1e3, 1e-3)
    val samples = for {
      s <- LoadGen.Spools; j <- 0 until openTicks
      c <- done.get((s, firstOpen + j))
    } yield (j, (c - due(s, j)).toDouble)
    val latencies = samples.collect { case (j, l) if j >= WarmupTicks => l }

    // ---- correctness: each pipeline against its static batch twin
    val twins0 = System.nanoTime()
    val checks = Twins.compare(spark, gen, dir, out, nTicks, checkpoints)
    val twinsS = (System.nanoTime() - twins0) / 1e9
    checks.foreach { case (name, ok) => attempted += 1; if (!ok) fail(s"output mismatch: $name") }

    val e2e = Map(
      "sweep_s" -> (drainDoneMs - drainStartMs) / 1e3,
      "latency_p50_ms" -> Stats.quantile(latencies, 0.5),
      "task_cpu_s" -> cpu,
      "peak_heap_mb" -> peakHeap)

    val layers = mutable.Map.empty[String, Double]
    layers("streaming.start_s") = (startedMs - startMs) / 1e3
    layers("streaming.drain_rows_per_s") = drainRate
    layers("loadgen.rows") = (0 until nTicks).map(gen.rows).sum.toDouble
    layers("loadgen.files") = (nTicks * LoadGen.Spools.size).toDouble
    layers("loadgen.late_ms_max") = lateMs.max.toDouble
    val lagFiles = mutable.Map.empty[String, Double]
    for (p <- Pipelines) {
      val files = consumers.toSeq.collect { case (s, ps) if ps.contains(p) => s }
      val committed = files.flatMap(s => (0 until nTicks).flatMap(k => checkpoints(p).commitOf(fileName(s, k))))
      // files already due but not yet committed, sampled just before each
      // of the pipeline's open-loop files lands: 0 while it keeps up
      val dues = files.flatMap(s => (0 until openTicks).map(due(s, _)))
      lagFiles(p) = dues.map { t =>
        files.size * firstOpen + dues.count(_ < t) - committed.count(_ < t)
      }.max.max(0).toDouble
      layers(s"streaming.$p.lag_files") = lagFiles(p)
    }
    tracer.foreach(t => layers ++= Progress.layers(t, queries.map { case (p, q) => q.id.toString -> p }.toMap))
    windowCounters.foreach(layers ++= _.asMap)
    Outcome(e2e, layers.toMap, attempted, failed, errors.toSeq, Map(
      "window_s" -> windowS,
      "catch_up_ms" -> catchUpMs,
      "twins_s" -> twinsS,
      "backlog_rows" -> backlogRows,
      "latency_samples" -> latencies.size,
      "warmup_ticks" -> WarmupTicks,
      "latency_samples_ms" -> samples.sortBy(_._1).map(_._2),
      "period_ms" -> PeriodMs,
      "open_ticks" -> openTicks,
      "open_trigger_ms_p50" -> openTriggerMs,
      "utilization" -> openTriggerMs.values.max / PeriodMs,
      "lag_files" -> lagFiles.toMap,
      "checks" -> checks.toMap))
  }
}

object StreamWorkload {
  val Pipelines: Seq[String] = Seq("LogPipeline", "UniqueVisits", "BounceDetect", "CdcRouter", "OrderWide")
  /** The open loop's period. At 8 s the slowest pipeline's median trigger
    * takes a quarter to a third of it and no file waits for an earlier
    * one: below saturation, which lies between 4 s and 5 s, and with
    * little overlap between the spools' batches (perfbench/README.md gives
    * the measured figures). */
  val PeriodMs = 8000L
  /** Open-loop ticks left out of the latency: none, as the cold start and
    * the drain already warmed every query. */
  val WarmupTicks = 0
  /** Offset of each spool's files within the period: the sources publish
    * out of step, as independent upstreams do. */
  val PhaseMs: Map[String, Long] = Map("applog" -> 0L, "cdc" -> PeriodMs / 3,
    "order_info" -> 2 * PeriodMs / 3, "order_detail" -> 2 * PeriodMs / 3)
  val WatermarkDelay = "5 minutes"
  val AsOfDate = "2024-06-01"

  def fileName(spool: String, k: Int): String = f"${spool}_$k%05d.json"

  /** The six P6 dimensions; some fact keys have no dim row, so the left
    * joins pass nulls through. */
  def writeDims(spark: SparkSession, dimDir: String): Unit = {
    import spark.implicits._
    def put(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(s"$dimDir/$name")
    put((1L to 500L).map(i => (i, s"19${50 + i % 50}-0${1 + i % 9}-1${i % 9}", if (i % 2 == 0) "M" else "F"))
      .toDF("uid", "birthday", "gender").withColumn("birthday", col("birthday").cast("date")), "dim_user_info")
    put((1L to 34L).map(i => (i, s"province$i", s"CN-$i", s"${100000 + i}", s"CN-P$i"))
      .toDF("pid", "province_name", "iso_code", "area_code", "iso_3166_2"), "dim_base_province")
    put((1L to 200L).map(i => (i, s"sku name $i", 1 + i % 50, 1 + i % 30, 1 + i % 20))
      .toDF("skid", "dim_sku_name", "spu_id", "category3_id", "tm_id"), "dim_sku_info")
    put((1L to 50L).map(i => (i, s"spu$i")).toDF("spid", "spu_name"), "dim_spu_info")
    put((1L to 30L).map(i => (i, s"category$i")).toDF("c3id", "category3_name"), "dim_base_category3")
    put((1L to 20L).map(i => (i, s"trademark$i")).toDF("tmid", "tm_name"), "dim_base_trademark")
  }
}

/** A streaming checkpoint read back: which micro-batch took each source
  * file (offsets/<batch> logOffset against the file-source log, including
  * its .compact files), each batch's watermark, and when it committed
  * (commits/<batch>). */
final class Checkpoint(chk: Path) {
  import Checkpoint._
  private val c = chk.toFile

  private val offsets: Seq[(Long, Seq[String])] = batchFiles(new File(c, "offsets"))
    .map { case (b, f) => b -> lines(f) }

  /** batch -> commit wall time (ms) */
  val commitMs: Map[Long, Long] =
    batchFiles(new File(c, "commits")).map { case (b, f) => b -> f.lastModified() }.toMap

  /** batch -> the watermark its stateful operators ran under */
  val watermarkMs: Map[Long, Long] = offsets.map { case (b, ls) =>
    b -> ls.drop(1).headOption.flatMap(l => WatermarkRe.findFirstMatchIn(l)).map(_.group(1).toLong).getOrElse(0L)
  }.toMap

  /** source file name -> the batch that consumed it */
  val batchOf: Map[String, Long] = {
    val sources = Option(new File(c, "sources").listFiles()).toSeq.flatten.filter(_.isDirectory)
    val fileOffsets = sources.flatMap { s =>
      Option(s.listFiles()).toSeq.flatten
        .filter(f => f.getName.stripSuffix(".compact").forall(_.isDigit))
        .flatMap(f => lines(f).drop(1)).flatMap { l =>
          for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
            yield (s.getName.toInt, p.group(1).split('/').last, b.group(1).toLong)
        }
    }.distinct
    // a batch's end offset per source, in source-index order; no-data
    // batches repeat the previous offsets, so take the first batch reaching it
    val ends = offsets.map { case (b, ls) =>
      b -> ls.drop(2).map(l => OffsetRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L)).toIndexedSeq
    }
    fileOffsets.flatMap { case (src, name, off) =>
      ends.collectFirst { case (b, e) if src < e.size && e(src) >= off => name -> b }
    }.toMap
  }

  def commitOf(file: String): Option[Long] = batchOf.get(file).flatMap(commitMs.get)

  /** The watermark late rows of `file` were judged by: the previous
    * batch's (the current one only drives state eviction). */
  def lateWatermarkOf(file: String): Long =
    batchOf.get(file).flatMap(b => watermarkMs.get(b - 1)).getOrElse(0L)

  /** Watermark of the last committed batch (0 before any). */
  def lastWatermark: Long =
    commitMs.keys.maxOption.flatMap(watermarkMs.get).getOrElse(0L)
}

object Checkpoint {
  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r
  private val OffsetRe = "\"logOffset\"\\s*:\\s*(\\d+)".r
  private val WatermarkRe = "\"batchWatermarkMs\"\\s*:\\s*(\\d+)".r

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq

  private def batchFiles(d: File): Seq[(Long, File)] =
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f).sortBy(_._1)
}

/** Static batch twins of the five pipelines over the generated input. */
object Twins {
  /** Multiset fingerprint: row count and the sum of row hashes, columns
    * taken in name order. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(struct(cols: _*).as("r"))
      .agg(count(lit(1)), sum(xxhash64(col("r")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def same(a: DataFrame, b: DataFrame): Boolean = {
    val ok = fingerprint(a) == fingerprint(b)
    if (!ok) {
      val cols = a.columns.sorted.map(col)
      val (x, y) = (a.select(cols: _*), b.select(cols: _*))
      System.err.println(s"[twin] stream-only rows: ${x.exceptAll(y).count()}, twin-only rows: ${y.exceptAll(x).count()}")
      x.exceptAll(y).show(5, false)
      y.exceptAll(x).show(5, false)
    }
    ok
  }

  /** Each file's lines with the late-row watermark of the micro-batch that
    * took it in pipeline `chk`: the twin keeps exactly the rows the stream
    * did not drop as late (event time at or below that watermark). */
  private def withWatermark(spark: SparkSession, gen: LoadGen, spool: String, nTicks: Int,
      chk: Checkpoint): DataFrame = {
    import spark.implicits._
    (0 until nTicks).flatMap { k =>
      val wm = chk.lateWatermarkOf(StreamWorkload.fileName(spool, k))
      gen.files(k)(spool).map(_ -> wm)
    }.toDF("value", "wm")
  }

  /** Every check as (name, matches); the checks run concurrently. */
  def compare(spark: SparkSession, gen: LoadGen, dir: Path, out: Path, nTicks: Int,
      chk: Map[String, Checkpoint]): Seq[(String, Boolean)] = {
    import spark.implicits._
    def raw(s: String) = (0 until nTicks).flatMap(k => gen.files(k)(s)).toDF("value")
    def read(p: String) = spark.read.parquet(out.resolve(p).toString)
    def onTime(p: String): Dataset[LogEvent] = LogSchema.toEvents(LogSchema.parse(
        withWatermark(spark, gen, "applog", nTicks, chk(p))
          .filter(get_json_object(col("value"), "$.ts").cast("long") > col("wm")).select("value")))
      .as[LogEvent]

    val parsed = LogSchema.parse(raw("applog")).persist()
    val p2 = Seq(
      "dwd_start_log" -> LogPipeline.startStream(parsed),
      "dwd_page_log" -> LogPipeline.pageStream(parsed),
      "dwd_display_log" -> LogPipeline.displayStream(parsed))
      .map { case (n, twin) => () => Seq(s"LogPipeline.$n" -> same(read(s"p2/$n"), twin)) }

    val uv = () => Seq("UniqueVisits" -> same(read("p4"), UniqueVisits(onTime("UniqueVisits")).toDF()))

    val bounce = () => {
      // The stream emits a key's trailing bounce once the watermark passes
      // anchor + 10 s. One more event per key, after all of its events and
      // no earlier than the final watermark, makes the static pass do the
      // same; BounceDetect's state function then runs per key over the
      // key's whole input (a batch flatMapGroupsWithState has no watermark
      // to read). The file sink logs a batch's output before the checkpoint
      // commits the batch, so the final watermark is that of the last batch
      // in the sink log.
      val sinkBatches = Option(out.resolve("p5/_spark_metadata").toFile.listFiles()).toSeq.flatten
        .map(_.getName.stripSuffix(".compact")).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      val finalWm = sinkBatches.maxOption.flatMap(chk("BounceDetect").watermarkMs.get)
        .getOrElse(chk("BounceDetect").lastWatermark)
      val events = onTime("BounceDetect")
      val flush = events.groupBy("mid").agg(max("ts")).as[(String, Long)]
        .map { case (m, last) => LogEvent(m, "0", "flush", "flush", hasStart = false, math.max(finalWm, last + 1)) }
      val twin = events.union(flush).groupByKey(_.mid).flatMapGroups { (mid, rows) =>
        Sequence.stateFn(BounceDetect.pattern)(mid, rows, TestGroupState.create[Seq[LogEvent]](
          org.apache.spark.api.java.Optional.empty[Seq[LogEvent]](), GroupStateTimeout.EventTimeTimeout, 0L,
          org.apache.spark.api.java.Optional.of[Long](0L), false))
      }
      Seq("BounceDetect" -> same(read("p5"), twin.toDF()))
    }

    val cdc = () => {
      val refDir = dir.resolve("twin_p3").toString
      val config = spark.read.option("header", "true").csv(dir.resolve("table_process.csv").toString)
      CdcRouter.processBatch(CdcRouter.parse(raw("cdc")), config, refDir, 0L)
      Seq(
        "CdcRouter.facts" -> same(
          CdcRouter.factsExactlyOnce(spark, out.resolve("p3").toString).select("sink_table", "data"),
          CdcRouter.factsExactlyOnce(spark, refDir).select("sink_table", "data")),
        "CdcRouter.dims" -> same(
          CdcRouter.dimSnapshot(spark, out.resolve("p3").toString),
          CdcRouter.dimSnapshot(spark, refDir)))
    }

    val wide = () => {
      def orders(spool: String) = withWatermark(spark, gen, spool, nTicks, chk("OrderWide"))
        .filter(unix_millis(to_timestamp(get_json_object(col("value"), "$.create_time"))) > col("wm"))
        .select("value")
      val dims = OrderWide.dimsFromParquet(spark, dir.resolve("dims").toString)
      val twin = OrderWide.toOrderWide(OrderWide.enrich(
        OrderWide.intervalJoin(OrderWide.parseInfo(orders("order_info")),
          OrderWide.parseDetail(orders("order_detail"))),
        dims, StreamWorkload.AsOfDate))
      Seq("OrderWide" -> same(read("p6/dwm_order_wide"), twin))
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (p2 ++ Seq(uv, bounce, cdc, wide)).map(c => pool.submit(() => c()))
      futures.flatMap(_.get())
    } finally {
      pool.shutdown()
      parsed.unpersist()
    }
  }
}

/** Per-pipeline layer metrics from StreamingQueryProgress. */
object Progress {
  def layers(t: Tracer, pipelineOf: Map[String, String]): Map[String, Double] = {
    val byPipeline = t.progress.asScala.toSeq.map(_.progress)
      .groupBy(p => pipelineOf.getOrElse(p.id.toString, "?"))
    StreamWorkload.Pipelines.flatMap { p =>
      val ps = byPipeline.getOrElse(p, Nil).groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
      val data = ps.filter(_.numInputRows > 0)
      def d(x: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def ops(x: org.apache.spark.sql.streaming.StreamingQueryProgress) = x.stateOperators.toSeq
      // spans: one per micro-batch under its pipeline span
      ps.foreach { x =>
        val start = java.time.Instant.parse(x.timestamp).toEpochMilli
        val parent = Option(t.pipelineSpans.get(x.id.toString)).map(_.longValue).getOrElse(t.root)
        t.add(Span(t.nextId(), parent, "batch", s"$p batch ${x.batchId}", start, start + d(x, "triggerExecution").toLong))
      }
      Seq(
        "batches" -> ps.size.toDouble,
        "rows_in" -> ps.map(_.numInputRows.toDouble).sum,
        "trigger_ms_p50" -> Stats.median(data.map(d(_, "triggerExecution"))),
        "add_batch_ms_p50" -> Stats.median(data.map(d(_, "addBatch"))),
        "wal_commit_ms_p50" -> Stats.median(data.map(d(_, "walCommit"))),
        "state_rows" -> ps.lastOption.map(ops(_).map(_.numRowsTotal.toDouble).sum).getOrElse(0.0),
        "state_commit_ms" -> Stats.median(data.map(ops(_).map(_.commitTimeMs.toDouble).sum)),
        "state_mem_mb" -> ps.map(ops(_).map(_.memoryUsedBytes.toDouble).sum).foldLeft(0.0)(math.max) / 1e6,
        "late_dropped" -> ps.map(ops(_).map(_.numRowsDroppedByWatermark.toDouble).sum).sum
      ).map { case (k, v) => s"streaming.$p.$k" -> v }
    }.toMap
  }
}
