package bridgebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: File, out: File, recordGolden: Boolean) {
  /** Scratch space for this run (sink output, checkpoints, WAL, Spark
    * local dirs); deleted when the run ends.
    */
  val work: File = new File(root, s".bench_build/run/$workload-${ProcessHandle.current.pid}")
}

/** Thrown when a wait passes its deadline; the run exits non-zero. */
final class RunTimeout(msg: String) extends RuntimeException(msg)

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms", "throughput_ops_s" -> "1/s")

  /** Every per-layer metric, reported by every traced run; a layer a
    * workload does not touch reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "loadgen.lag_p99_ms" -> "ms", "loadgen.backlog_max_msgs" -> "count",
    "source.latest_offset_ms" -> "ms", "source.rows_per_trigger" -> "count",
    "engine.triggers" -> "count", "engine.trigger_ms_p50" -> "ms", "engine.trigger_ms_p99" -> "ms",
    "engine.query_planning_ms" -> "ms", "engine.wal_commit_ms" -> "ms",
    "engine.commit_offsets_ms" -> "ms", "engine.add_batch_ms" -> "ms",
    "sink.process_batch_ms" -> "ms", "sink.ensure_ms" -> "ms", "sink.ensure_calls" -> "count",
    "sink.routes_per_batch" -> "count", "sink.publish_ms" -> "ms", "sink.publish_share" -> "ratio",
    "sink.duplicates" -> "count",
    "pipeline.eval_ms_per_10k" -> "ms",
    "stats.success" -> "count", "stats.error" -> "count",
    "batch.loops_s" -> "s", "batch.jsonata_s" -> "s", "batch.relational_s" -> "s",
    "batch.sketch_vector_s" -> "s", "query.construct_s" -> "s", "query.exec_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.parallelism" -> "ratio", "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_used_mb" -> "MB")

  private val jvmStart = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def note(msg: String): Unit =
    System.err.println(f"[bridgebench] ${(System.nanoTime() - jvmStart) / 1e9}%6.1fs $msg")

  /** Hard cap on one run, below the 180 s a run may take. */
  private val RunCapSeconds = 165

  def parse(args: Array[String]): RunArgs = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    RunArgs(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--root")), new File(need("--out")),
      args.contains("--record-golden"))
  }

  def session(a: RunArgs): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    // the settings graft.Bench uses; run.py points SPARK_LOCAL_DIRS into
    // the checkout
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"bridgebench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cap = new Thread(() => {
      try {
        Thread.sleep(RunCapSeconds * 1000L)
        System.err.println(s"[bridgebench] ${a.workload}: run exceeded ${RunCapSeconds}s, aborting")
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => () }
    }, "bridgebench-cap")
    cap.setDaemon(true)
    cap.start()

    a.work.mkdirs()
    val tracer = new Tracer(a.trace)
    var spark: SparkSession = null
    val code = try {
      spark = session(a)
      spark.sparkContext.setLogLevel("WARN")
      val exec = new ExecCounters
      spark.sparkContext.addSparkListener(exec)
      note("session ready")
      val (layers, r) = a.workload match {
        case "bridge_fanout" => Bridge.fanout(spark, a, tracer, exec)
        case "bridge_durable" => Bridge.durable(spark, a, tracer, exec)
        case "batch_mix" => BatchMix.run(spark, a, tracer, exec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val metrics =
        if (a.trace) PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
        else EndToEnd.map { case (n, u) => (n, r.endToEnd.getOrElse(n, 0.0), u) }
      r.problems.foreach(p => System.err.println(s"[bridgebench] ${a.workload}: $p"))
      if (a.trace) writeTrace(a, tracer, layers, r)
      Files.writeString(a.out.toPath, resultJson(r, metrics) + "\n", UTF_8)
      note(s"${a.workload} done")
      0
    } catch {
      case t: RunTimeout =>
        System.err.println(s"[bridgebench] ${a.workload}: ${t.getMessage}")
        4
      case t: Throwable =>
        System.err.println(s"[bridgebench] ${a.workload}: failed: $t")
        t.printStackTrace()
        5
    } finally {
      try if (spark != null) spark.stop() catch { case _: Throwable => () }
      deleteTree(a.work)
    }
    System.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The run's result line: correct, attempted, failed, and each metric
    * as (name, value, unit).
    */
  private def resultJson(r: Outcome, metrics: Seq[(String, Double, String)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val ms = metrics.map { case (n, v, u) => s"""${q(n)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }
    s"""{"correct": ${r.problems.isEmpty}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Writes the run's spans with resolved parents, and each span name's
    * count, total and self time (total minus the time its children cover).
    */
  private def writeTrace(a: RunArgs, tracer: Tracer, layers: Map[String, Double], r: Outcome): Unit = {
    val spans = (tracer.all ++ r.extraSpans).sortBy(_.startUs).toVector
    val index = spans.zipWithIndex
    val parentOf = index.map { case (s, _) =>
      if (s.parent.isEmpty) -1
      else index.collectFirst {
        case (p, j) if p.key == s.key && p.name == s.parent &&
          p.startUs <= s.startUs + 1000 && p.endUs + 1000 >= s.endUs => j
      }.getOrElse(-1)
    }
    val childUs = Array.fill(spans.length)(0L)
    spans.indices.foreach { i =>
      val p = parentOf(i)
      if (p >= 0) childUs(p) += spans(i).endUs - spans(i).startUs
    }
    val byName = spans.indices.groupBy(i => spans(i).name).toSeq.sortBy(_._1).map { case (n, is) =>
      val tot = is.map(i => spans(i).endUs - spans(i).startUs).sum / 1000.0
      val self = is.map(i => math.max(0L, spans(i).endUs - spans(i).startUs - childUs(i))).sum / 1000.0
      s"""${q(n)}: {"count": ${is.size}, "total_ms": $tot, "self_ms": $self}"""
    }
    val spanJson = spans.indices.map { i =>
      val s = spans(i)
      s"""{"id": $i, "name": ${q(s.name)}, "key": ${q(s.key)}, "parent": ${parentOf(i)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}}"""
    }
    val layerJson = PerLayer.map { case (n, _) => s"${q(n)}: ${layers.getOrElse(n, 0.0)}" }
    val e2eJson = EndToEnd.map { case (n, _) => s"${q(n)}: ${r.endToEnd.getOrElse(n, 0.0)}" }
    val dir = new File(a.root, ".bench_build/traces")
    dir.mkdirs()
    val f = new File(dir, s"${a.workload}-seed${a.seed}.json")
    Files.writeString(f.toPath,
      s"""{"workload": ${q(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds},
         |"attempted": ${r.attempted}, "failed": ${r.failed},
         |"end_to_end": {${e2eJson.mkString(", ")}},
         |"per_layer": {${layerJson.mkString(", ")}},
         |"span_summary": {${byName.mkString(", ")}},
         |"spans": [
         |${spanJson.mkString(",\n")}
         |]}
         |""".stripMargin, UTF_8)
    System.err.println(s"[bridgebench] trace written to $f")
  }
}

/** A workload's end-to-end metrics plus its operation accounting. */
final case class Outcome(endToEnd: Map[String, Double], attempted: Long, failed: Long,
    problems: Seq[String], extraSpans: Seq[Span] = Nil)
