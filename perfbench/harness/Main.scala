package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Benchmark entry point inside the JVM. perfbench/run.py builds the classes,
  * starts this main and turns the record it writes into the result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <checkout> --work <scratch dir> --out <record.json> [--smoke 1]
  * Main --golden <out.json> --root <checkout>
  * }}}
  */
object Main {

  /** Registry rows of each batch workload (full run, smoke run) and the
    * seconds of `--seconds` that buy one timed pass. */
  final case class BatchSpec(full: Seq[String], smoke: Seq[String], passSeconds: Double)

  val batchQueries: Map[String, BatchSpec] = Map(
    "warehouse_olap" -> BatchSpec(
      Seq("q7_window_rank", "q30_correlated_sub", "uv_first_visits", "order_wide"),
      Seq("q7_window_rank", "uv_first_visits"), passSeconds = 5),
    // one row per localCheckpoint family (Graph, Similarity, Tokenizer,
    // Pretrain, Curation), the banded near-dup emitter and gopher_rules
    "corpus_iterative" -> BatchSpec(
      Seq("graph_bfs_levels", "dedup_minhash", "embedding_kmeans", "gopher_rules",
        "tokenizer_apply", "pretrain_prep", "dedup_clusters"),
      Seq("dedup_minhash", "gopher_rules"), passSeconds = 14))

  def dataDir(root: String, smoke: Boolean): String =
    s"$root/perfbench/data/${if (smoke) "sf0.001" else "sf0.01"}"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a.getOrElse("root", ".")
    if (a.contains("golden")) { writeGolden(root, a("golden")); return }

    val load1Start = Sitting.loadAvg1
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a.get("smoke").contains("1")
    val work = a("work")
    val cores = Sitting.cores

    val w: Workload = workload match {
      case "stream_p2_p6" => new StreamWorkload(work, smoke, seed, seconds)
      case b if batchQueries.contains(b) =>
        val spec = batchQueries(b)
        val scale = if (smoke) "sf0.001" else "sf0.01"
        new BatchWorkload(if (smoke) spec.smoke else spec.full, dataDir(root, smoke),
          Golden.load(root)(scale), spec.passSeconds, kernels = b == "corpus_iterative")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // One set-up, timed from JVM start: the session build, the table
    // warm-up and the workload's own inputs, as the program pays them.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.build(Some(s"local[$cores]"), cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    w.prepare(spark)
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val closeWorkload = tracer.map { t =>
      val (id, close) = t.open("workload", workload, 0L)
      t.root = id
      close
    }.getOrElse(() => ())
    val o = w.run(spark, tracer, seconds, seed)
    closeWorkload()
    tracer.foreach(_.detach())

    val e2e = o.e2e + ("setup_s" -> setupS)
    val layers = o.layers ++ Map(
      "session.build_s" -> (t1 - t0) / 1e9,
      "tables.warm_s" -> (t2 - t1) / 1e9)
    val load1End = Sitting.loadAvg1
    tracer.foreach { t =>
      J.write(s"$work/trace.json", Map("workload" -> workload, "seed" -> seed,
        "spans" -> Tracer.spansJson(t.allSpans)))
    }
    J.write(a("out"), Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "smoke" -> smoke,
      "correct" -> (o.failed == 0), "attempted" -> o.attempted, "failed" -> o.failed,
      "error_rate" -> o.failed.toDouble / math.max(o.attempted, 1L),
      "errors" -> o.errors,
      "e2e" -> e2e, "layers" -> (if (traced) layers else Map.empty[String, Double]),
      "nproc" -> Sitting.nproc, "master" -> s"local[$cores]",
      "loadavg1_start" -> load1Start, "loadavg1_end" -> load1End,
      "contaminated" -> (load1Start > 1.0),
      "info" -> o.info))
    spark.stop()
  }

  /** Result hashes of every batch-workload query at both committed scales. */
  private def writeGolden(root: String, out: String): Unit = {
    val spark = GraftSession.build(Some(s"local[${Sitting.cores}]"), Sitting.cores, "perfbench-golden")
    spark.sparkContext.setLogLevel("ERROR")
    val res = Seq("sf0.01" -> false, "sf0.001" -> true).map { case (scale, smoke) =>
      val qs = batchQueries.values.flatMap(b => if (smoke) b.smoke else b.full).toSeq.distinct.sorted
      scale -> qs.map { q =>
        val hs = (1 to 2).map { _ =>
          val h = ResultHash(SparkEntry.registry(q).fn(spark, dataDir(root, smoke)))
          spark.catalog.clearCache()
          h
        }
        require(hs.distinct.size == 1, s"$q at $scale is not deterministic: $hs")
        q -> hs.head
      }.toMap
    }.toMap
    J.write(out, res)
    spark.stop()
  }
}

object Golden {
  /** perfbench/golden/hashes.json: {"<scale>": {"<query>": "<hash>"}}. */
  def load(root: String): Map[String, Map[String, String]] = {
    val txt = new String(Files.readAllBytes(Paths.get(s"$root/perfbench/golden/hashes.json")),
      StandardCharsets.UTF_8)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(txt)
    import scala.jdk.CollectionConverters._
    node.fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map(q => q.getKey -> q.getValue.asText()).toMap
    }.toMap
  }
}
