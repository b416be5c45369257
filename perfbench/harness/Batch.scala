package graft.perfbench

import graft.{BenchAction, SparkEntry, Tables}
import graft.operators
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

import scala.collection.mutable

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    info: Map[String, Any])

trait Workload {
  /** Set-up work after the session is built (timed into setup_s). */
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Option[Tracer], seconds: Double, seed: Long): Outcome
}

/** Registry module of every query, for the operators.<Module>.s layer. */
object Modules {
  val names: Seq[String] = Seq("Analytics", "EventOps", "Dedup", "Graph", "Tokenizer",
    "Pretrain", "Similarity", "TextOps", "Curation")

  val of: Map[String, String] = Seq(
    "Analytics" -> operators.Analytics.defs, "EventOps" -> operators.EventOps.defs,
    "Dedup" -> operators.Dedup.defs, "Graph" -> operators.Graph.defs,
    "Tokenizer" -> operators.Tokenizer.defs, "Pretrain" -> operators.Pretrain.defs,
    "Similarity" -> operators.Similarity.defs, "TextOps" -> operators.TextOps.defs,
    "Curation" -> operators.Curation.defs)
    .flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap
}

/** The result hash of the golden file: row count and the aggregate
  * BenchAction times, taken on an untimed execution because BenchAction.run
  * discards it. Output types xxhash64 rejects are hashed through their JSON
  * form. */
object ResultHash {
  def apply(df: DataFrame): String = {
    val h = try df.selectExpr("count(1)", "bit_xor(xxhash64(struct(*)))")
      catch { case _: AnalysisException =>
        df.selectExpr("count(1)", "bit_xor(xxhash64(to_json(struct(*))))")
      }
    val r = h.head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** A batch workload: registry rows driven through SparkEntry.registry and
  * timed by BenchAction.run, with graft.Bench's per-query cache clear and
  * forced GC outside the timed call.
  *
  * One run: a check pass (each query once, result hash against the golden
  * file; also the JIT/codegen warm-up), then one timed pass per
  * `passSeconds` of `seconds`, at least one. The pass count depends on nothing measured: a
  * time box would give a faster commit more passes, and later passes run
  * warmer. The seed shuffles the order of every pass. */
final class BatchWorkload(queries: Seq[String], dataDir: String,
    golden: Map[String, String], passSeconds: Double, kernels: Boolean) extends Workload {

  def prepare(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).count())

  def run(spark: SparkSession, tracer: Option[Tracer], seconds: Double, seed: Long): Outcome = {
    val rng = new scala.util.Random(seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def fail(msg: String): Unit = { failed += 1; if (errors.size < 20) errors += msg }
    def short(e: Throwable) =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
    def afterQuery(): Unit = { spark.catalog.clearCache(); System.gc() }

    val windowStart = System.nanoTime()
    JvmCounters.resetPeakHeap()

    for (q <- rng.shuffle(queries)) {
      attempted += 1
      try {
        val h = ResultHash(SparkEntry.registry(q).fn(spark, dataDir))
        golden.get(q) match {
          case Some(g) if g == h =>
          case Some(g) => fail(s"$q: result hash $h, golden $g")
          case None => fail(s"$q: no golden hash")
        }
      } catch { case e: Throwable => fail(s"$q: ${short(e)}") }
      afterQuery()
    }
    tracer.foreach { t => t.drain(); t.take() }

    val times = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val cpus = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val layers = mutable.Map.empty[String, List[Map[String, Double]]].withDefaultValue(Nil)
    val passes = math.max(1, (seconds / passSeconds).toInt)
    for (_ <- 1 to passes) {
      for (q <- rng.shuffle(queries)) {
        attempted += 1
        val fn = SparkEntry.registry(q).fn
        val span = tracer.map { t =>
          val (id, close) = t.open("query", s"operators.${Modules.of.getOrElse(q, "Other")}.$q", t.root)
          t.parent = id
          close
        }
        val cpu0 = JvmCounters.taskCpuNanos()
        val t0 = System.nanoTime()
        val err = try { BenchAction.run(fn(spark, dataDir)); None }
          catch { case e: Throwable => Some(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = (JvmCounters.taskCpuNanos() - cpu0) / 1e9
        span.foreach(_())
        err match {
          case Some(e) => fail(s"$q: ${short(e)}")
          case None =>
            times(q) = secs :: times(q)
            cpus(q) = cpu :: cpus(q)
        }
        tracer.foreach { t =>
          t.drain()
          val c = t.take()
          if (err.isEmpty) layers(q) = c.asMap :: layers(q)
        }
        afterQuery()
      }
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val peakHeap = JvmCounters.peakHeapMb

    val medians = times.map { case (q, ts) => q -> Stats.median(ts) }
    val all = times.values.flatten.toSeq
    val e2e = Map(
      "sweep_s" -> medians.values.sum,
      "latency_p50_ms" -> 1e3 * Stats.quantile(all, 0.5),
      "task_cpu_s" -> cpus.values.map(Stats.median).sum,
      "peak_heap_mb" -> peakHeap)

    val layerMap = mutable.Map.empty[String, Double]
    Modules.names.foreach { m =>
      layerMap(s"operators.$m.s") =
        medians.collect { case (q, s) if Modules.of.get(q).contains(m) => s }.sum
    }
    // per sweep: each query's median over its passes, summed over queries
    val keys = layers.values.flatten.flatMap(_.keys).toSet
    keys.foreach { k =>
      val perQuery = layers.values.map(rs => rs.map(_.getOrElse(k, 0.0)))
      layerMap(k) =
        if (Counters.maxed(k)) perQuery.flatten.foldLeft(0.0)(math.max)
        else perQuery.map(Stats.median).sum
    }
    if (kernels && tracer.nonEmpty) layerMap ++= KernelProbe(spark, dataDir)

    Outcome(e2e, layerMap.toMap, attempted, failed, errors.toSeq, Map(
      "passes" -> passes,
      "window_s" -> windowS,
      "latency_samples" -> all.size,
      "queries" -> queries.size,
      "query_median_s" -> medians.toMap,
      "query_cpu_median_s" -> cpus.map { case (q, c) => q -> Stats.median(c) }.toMap))
  }
}

/** ns/row of each native kernel: a selectExpr over the documents or
  * embeddings (replicated a hundredfold and cached) into a noop sink, less
  * the same pass with a trivial expression, so the per-job cost cancels.
  * Medians of three after a warm-up. */
object KernelProbe {
  val kernels: Seq[(String, String, String)] = Seq(
    ("graft_tokens", "documents", "graft_tokens(text)"),
    ("graft_gopher_stats", "documents", "graft_gopher_stats(coalesce(text, ''))"),
    ("graft_minhash_sig", "documents", "graft_minhash_sig(text)"),
    ("graft_winnow_sel", "documents", "graft_winnow_sel(text, 3, 4)"),
    ("graft_cosine", "embeddings", "graft_cosine(embedding, embedding)"),
    ("graft_srp", "embeddings", "graft_srp(embedding, 12)"))

  private val baseline = Map("documents" -> "length(text)", "embeddings" -> "size(embedding)")

  def apply(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val inputs = Seq("documents", "embeddings").map { t =>
      val df = spark.range(100).toDF("rep").crossJoin(Tables.load(spark, dataDir, t)).cache()
      t -> (df, df.count())
    }.toMap
    def nanos(df: DataFrame, expr: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        df.selectExpr(expr).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      once()
      Stats.median(Seq.fill(3)(once()))
    }
    val base = inputs.map { case (t, (df, _)) => t -> nanos(df, baseline(t)) }
    val out = kernels.map { case (k, table, expr) =>
      val (df, rows) = inputs(table)
      s"functions.$k.ns_per_row" -> math.max(0.0, nanos(df, expr) - base(table)) / rows
    }.toMap
    inputs.values.foreach(_._1.unpersist())
    out
  }
}
