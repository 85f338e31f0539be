package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Pins how `Tables.load` gets a table's schema: from the file's footer,
  * read on the driver without a Spark job, equal to what
  * `spark.read.parquet` infers under the live session conf, and read
  * again on every load.
  */
class TablesLoadSpec extends SparkTestBase {

  private val dir = sf()
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `df` written by Spark as the single file `<into>/<name>.parquet`
    * (so its footer carries Spark's own row schema).
    */
  private def sparkFile(df: DataFrame, into: String, name: String): File = {
    val out = Files.createTempDirectory("graft_load_out").resolve("w").toString
    df.coalesce(1).write.parquet(out)
    val part = new File(out).listFiles().filter(f => f.getName.startsWith("part-")).head
    Files.move(part.toPath, Paths.get(into, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING).toFile
  }

  test("loading each single-file table runs no Spark job") {
    for (t <- tables) {
      assert(new File(s"$dir/$t.parquet").isFile, t)
      assert(jobsRunBy(Tables.load(spark, dir, t)) == 0, s"$t ran a Spark job")
    }
  }

  test("the footer schema equals spark.read.parquet's, with nanosAsLong on and off") {
    import spark.implicits._
    val own = Files.createTempDirectory("graft_load_spark").toString
    sparkFile(Seq((1, "a", java.time.LocalDateTime.of(2024, 1, 2, 3, 4), Seq(1.5f), BigDecimal("1.25")))
      .toDF("i", "s", "ntz", "arr", "dec"), own, "own") // the Spark-row-schema branch
    for (nanos <- Seq("true", "false"))
      withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        for ((d, t) <- tables.map(dir -> _) :+ (own -> "own"))
          assert(Tables.load(spark, d, t).schema == spark.read.parquet(s"$d/$t.parquet").schema,
            s"$t, nanosAsLong=$nanos")
      }
  }

  test("a file replaced at the same path, same mtime, loads with its new columns") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_load_replace").toString
    val first = sparkFile(Seq((1L, "x")).toDF("a", "b"), d, "t")
    val mtime = first.lastModified()
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a", "b"))
    val second = sparkFile(Seq((2.5, 7, "y")).toDF("p", "q", "r"), d, "t")
    assert(second.setLastModified(mtime) && second.lastModified() == mtime)
    val again = Tables.load(spark, d, "t")
    assert(again.columns.toSeq == Seq("p", "q", "r"))
    assert(again.collect().map(_.toSeq).toSeq == Seq(Seq(2.5, 7, "y")))
  }

  test("no src/main file but Tables.scala reads a table file through read.parquet") {
    // a `.read` chain whose argument is a `$dir/<table>.parquet` literal
    val tableRead = """\.read\b.*s"\$\{?\w+\}?/\w+\.parquet"""".r
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Tables.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if tableRead.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }).toSeq
    assert(offenders.isEmpty,
      "load tables with Tables.load(spark, dir, name) instead:\n" + offenders.mkString("\n"))
  }
}
