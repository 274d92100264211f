package graftbench

import graft.{Sessions, SparkEntry}
import org.apache.spark.graftbench.BusDrain

import java.io.{BufferedWriter, FileWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** One benchmark run of one workload in this JVM. `perfbench/run.py`
  * builds the classpath and the inputs, starts this main, reads the
  * records it writes and prints the summary.
  *
  * Usage: graftbench.Main --workload W --seed N --passes P --trace 0|1
  *          --cores C --data DIR --out DIR
  *        graftbench.Main --dump-oracles FILE
  *
  * Protocol: one warm-up pass (untimed, part of set-up), then the line
  * `READY` on stdout, then `--passes` passes back to back. Each pass
  * starts from the same state (fresh engines, caches released), its
  * outputs are checked outside the timed window, and its record is
  * appended to `passes.jsonl` at once, so a crash loses only the pass it
  * hit. `run.json` is written at the end.
  * With `--trace 1` the passes go untraced, traced, traced, untraced:
  * a traced pass's layer calls are spans with their Spark jobs as child
  * spans (`spans.json`); the untraced passes give the tracing overhead.
  */
object Main {
  val Layers: Seq[String] = Seq("data", "entropy", "mine", "schema", "decompose", "ops")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("dump-oracles") match {
      case Some(f) => dumpOracles(Paths.get(f))
      case None => run(opts)
    }
  }

  /** The DuckDB oracle SQL of the graph queries, for `run.py`'s goldens. */
  private def dumpOracles(f: Path): Unit = {
    val sql = SparkEntry.oracleSql
    Files.write(f, Json.value(GraphFamily.Queries.map(q => q -> sql(q)).toMap)
      .getBytes(StandardCharsets.UTF_8))
  }

  private def run(opts: Map[String, String]): Unit = {
    require(sys.env.get("SPARK_GRAFT_CONF").forall(_.trim.isEmpty),
      "SPARK_GRAFT_CONF is set; it changes plans, so the benchmark refuses to run")
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val passCount = opts("passes").toInt
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val data = Paths.get(opts("data")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(out)
    val sparkDirs = out.resolve("spark")

    val spark = Sessions.builder(cores)
      .config("spark.local.dir", sparkDirs.resolve("local").toString)
      .config("spark.sql.warehouse.dir", sparkDirs.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val probe = new JobProbe(keepTaskTimes = trace)
    sc.addSparkListener(probe)
    val runId = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val tracer = new Tracer(sc, probe, runId)
    val w = Workload(workload, spark, data, seed, out)

    // warm-up: JIT, codegen and the first-pass penalty belong to set-up
    // (its check too: the check's own first-time costs stay out of the loop)
    val warm = tracer.pass(traced = false)(w.pass(tracer))
    warm.out.map(w.check).fold(e => Seq(s"pass threw: $e"), _.problems)
      .foreach(p => System.err.println(s"[perfbench] warm-up pass: $p"))
    w.reset()
    probe.clear()
    println("READY")
    System.out.flush()

    val passes = new BufferedWriter(new FileWriter(out.resolve("passes.jsonl").toFile))
    for (k <- 0 until passCount) {
      // untraced, traced, traced, untraced, ...: the overhead estimate
      // is not skewed by passes getting faster as the JIT settles
      val traced = trace && (k % 4 == 1 || k % 4 == 2)
      val passRun = tracer.pass(traced)(w.pass(tracer))
      val c0 = System.nanoTime()
      val (failedOps, verdict, counters) = passRun.out match {
        case scala.util.Success(o) =>
          val v = scala.util.Try(w.check(o)).fold(
            e => Verdict(Seq(s"check threw: $e")), identity)
          (o.failedOps, v, o.counters)
        case scala.util.Failure(e) =>
          (w.opsPerPass, Verdict(Seq(s"pass threw: $e")), Map.empty[String, Double])
      }
      w.reset()
      BusDrain(sc)
      probe.clear()
      val untimedS = (System.nanoTime() - c0) / 1e9
      val problems = verdict.problems ++
        (if (passRun.complete) Nil else Seq(s"job accounting incomplete: ${passRun.counts}"))
      problems.foreach(p => System.err.println(s"[perfbench] pass $k: $p"))
      passes.write(Json.obj(
        "pass" -> k,
        "traced" -> traced,
        "wall_s" -> passRun.wallS,
        "untimed_s" -> untimedS,
        "task_s" -> passRun.stats.taskMs / 1000.0,
        "shuffle_mb" -> passRun.stats.shuffleWriteBytes / 1e6,
        "jobs" -> passRun.stats.started,
        "ops" -> w.opsPerPass,
        "failed_ops" -> (if (passRun.complete) failedOps else w.opsPerPass),
        "problems" -> problems,
        "digests" -> verdict.digests,
        "layers" -> (if (traced) layerMetrics(passRun.calls, counters, cores) else Map.empty)))
      passes.newLine()
      passes.flush()
    }
    passes.close()

    if (trace) Files.write(out.resolve("spans.json"),
      tracer.spansJson.getBytes(StandardCharsets.UTF_8))
    Files.write(out.resolve("run.json"), Json.obj(
      "run" -> runId,
      "cores" -> cores,
      "driver_memory_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "peak_rss_mb" -> peakRssMb,
      "warmup_s" -> warm.wallS).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer figures of one traced pass: the generic set for every
    * layer (zeros for a layer the workload does not call), the
    * workload's counters, and per-query figures for the `ops` layer.
    */
  private def layerMetrics(calls: Vector[LayerCall], counters: Map[String, Double],
                           cores: Int): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers) {
      val cs = calls.filter(_.layer == l)
      val wall = cs.map(c => (c.span.endMs - c.span.startMs) / 1000).sum
      val jobS = cs.map(_.stats.jobSeconds).sum
      val taskS = cs.map(_.stats.taskMs).sum / 1000.0
      m(s"$l.wall_s") = wall
      m(s"$l.jobs") = cs.map(_.stats.started).sum.toDouble
      m(s"$l.job_s") = jobS
      m(s"$l.self_s") = wall - jobS
      m(s"$l.task_s") = taskS
      m(s"$l.core_util") = if (jobS > 0) taskS / (jobS * cores) else 0.0
      m(s"$l.shuffle_write_mb") = cs.map(_.stats.shuffleWriteBytes).sum / 1e6
      m(s"$l.spill_mb") = cs.map(_.stats.spillBytes).sum / 1e6
      m(s"$l.task_skew") = (1.0 +: cs.map(_.stats.taskSkew)).max
    }
    for (c <- calls if c.layer == "ops") {
      m(s"ops.${c.span.name}.wall_s") = (c.span.endMs - c.span.startMs) / 1000
      m(s"ops.${c.span.name}.shuffle_write_mb") = c.stats.shuffleWriteBytes / 1e6
    }
    m ++= counters.removed("entropy.layer_batches")
    val layerBatches = counters.getOrElse("entropy.layer_batches", 0.0)
    m("entropy.jobs_per_batch") = if (layerBatches > 0) m("entropy.jobs") / layerBatches else 0.0
    val schemas = counters.getOrElse("decompose.schemas", 0.0)
    m("decompose.jobs_per_schema") = if (schemas > 0) m("decompose.jobs") / schemas else 0.0
    m.toMap
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      val line = Files.readAllLines(status).toArray(Array.empty[String])
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }
  }
}
