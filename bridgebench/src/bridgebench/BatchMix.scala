package bridgebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** batch_mix: registered queries from four families, timed as graft.Bench
  * times them (construct the DataFrame, then `queryExecution.toRdd.count()`)
  * in rounds whose order the seed shuffles. One round is one batch job:
  * its wall time is the workload's latency.
  */
object BatchMix {
  val Families: Seq[(String, Seq[String])] = Seq(
    "loops" -> Seq("graph_pagerank"),
    "jsonata" -> Seq("pipe_jsonata", "pipe_route"),
    "relational" -> Seq("q1_agg", "q5_region_join"),
    "sketch_vector" -> Seq("text_cms", "knn_ivf"))
  val DataDir = "bridgebench/data/sf0.01"
  val GoldenFile = "bridgebench/golden/batch_mix.json"

  def run(spark: SparkSession, a: RunArgs, tracer: Tracer, exec: ExecCounters): (Map[String, Double], Outcome) = {
    val dir = new File(a.root, DataDir)
    require(dir.isDirectory, s"missing input tables in $dir")
    val goldenFile = new File(a.root, GoldenFile)
    val golden = if (a.recordGolden) Map.empty[String, String] else readGolden(goldenFile)
    val names = Families.flatMap(_._2)
    val rnd = new scala.util.Random(a.seed)
    var attempted, failed = 0L
    var problems = Vector.empty[String]
    def fail(msg: String): Unit = {
      failed += 1
      problems :+= msg
    }

    // Set-up: the cold first round, where class loading and code
    // generation land. Each result is collected, and digested outside
    // the timer; the digest must match the golden recorded on the
    // parent commit.
    var setupS = 0.0
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (n <- rnd.shuffle(names)) {
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir.getPath).collect()
        val s = (System.nanoTime() - t0) / 1e9
        Main.note(f"set-up round: $n $s%.2fs")
        setupS += s
        val d = digest(rows)
        digests(n) = d
        if (!a.recordGolden && !golden.get(n).contains(d))
          fail(s"$n: result digest $d differs from golden ${golden.getOrElse(n, "(none)")}")
      } catch { case NonFatal(e) => fail(s"$n failed in the set-up round: $e") }
    }
    if (a.recordGolden) writeGolden(goldenFile, digests.toSeq)
    // one untimed warm round: the JIT is still compiling the hot paths
    // after the cold round, and a measured round would time that
    for (n <- names) try SparkEntry.queries(n)(spark, dir.getPath).queryExecution.toRdd.count()
    catch { case NonFatal(_) => () }
    Main.note("warm round done")

    val samples = scala.collection.mutable.Map.empty[String, Vector[(Double, Double)]].withDefaultValue(Vector.empty)
    val exec0 = exec.snapshot
    val gc0 = Probes.gcMs
    val t0 = System.nanoTime()
    tracer.fromUs = Clock.toUs(t0)
    var rounds = 0
    var roundS = 0.0
    var roundWalls = Vector.empty[Double]
    // whole rounds only; another starts if it should end within --seconds
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 + roundS <= a.seconds) {
      val r0 = System.nanoTime()
      val failed0 = failed
      rounds += 1
      for (n <- rnd.shuffle(names)) {
        attempted += 1
        val q0 = System.nanoTime()
        try {
          val df = tracer.span("query.construct", n, "query")(SparkEntry.queries(n)(spark, dir.getPath))
          val q1 = System.nanoTime()
          tracer.span("query.exec", n, "query")(df.queryExecution.toRdd.count())
          val q2 = System.nanoTime()
          tracer.record(Span("query", n, "", Clock.toUs(q0), Clock.toUs(q2)))
          samples(n) :+= ((q1 - q0) / 1e9, (q2 - q1) / 1e9)
        } catch { case NonFatal(e) => fail(s"$n failed in round $rounds: $e") }
      }
      roundS = (System.nanoTime() - r0) / 1e9
      // a round with a failed query records no latency sample
      if (failed == failed0) roundWalls :+= roundS
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val heapMb = Probes.heapUsedMb

    // the batch job's latency is a whole round: input to the last result
    val totals = samples.values.flatten.map { case (c, e) => c + e }.toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.quantile(roundWalls, 0.5) * 1000,
      "latency_p99_ms" -> Stats.quantile(roundWalls, 0.99) * 1000,
      "throughput_ops_s" -> totals.size / totals.sum)
    def med(n: String, f: ((Double, Double)) => Double) =
      if (samples(n).isEmpty) 0.0 else Stats.median(samples(n).map(f))
    val (compiles, compileMs) = Probes.codegen
    val layers = Map(
      "query.construct_s" -> names.map(med(_, _._1)).sum,
      "query.exec_s" -> names.map(med(_, _._2)).sum,
      "jvm.gc_ms" -> (Probes.gcMs - gc0).toDouble,
      "jvm.heap_used_mb" -> heapMb,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compileMs) ++
      Families.map { case (f, qs) => s"batch.${f}_s" -> qs.map(n => med(n, s => s._1 + s._2)).sum } ++
      Probes.exec(exec0, exec.snapshot, wallS)
    Main.note(f"$rounds measured rounds in $wallS%.2fs: ${roundWalls.map(w => f"$w%.2f").mkString(" ")}")
    (layers, Outcome(endToEnd, attempted, failed, problems))
  }

  /** Order-independent digest of a result: each row rendered canonically
    * (doubles rounded to 6 places, as tools/check.py compares them;
    * integers printed the same whatever their width), rows sorted,
    * hashed with SHA-256, and suffixed with the row count.
    */
  def digest(rows: Array[Row]): String = {
    val text = rows.map(canon).sorted.mkString("\n")
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
    h.take(16).map(b => f"$b%02x").mkString + ":" + rows.length
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def readGolden(f: File): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  private def writeGolden(f: File, ds: Seq[(String, String)]): Unit = {
    f.getParentFile.mkdirs()
    val body = ds.sortBy(_._1).map { case (k, v) => s"""  "$k": "$v"""" }.mkString(",\n")
    Files.writeString(f.toPath, s"{\n$body\n}\n", UTF_8)
    System.err.println(s"[bridgebench] golden digests written to $f")
  }
}
