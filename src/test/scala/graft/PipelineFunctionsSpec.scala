package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.PipelineFunctions._

/** T2/T3/F1 semantics from the reference (bin/mqtt-streamr.js:99-106
  * truncate; :166 templating; :149-155 parse-or-drop).
  */
class PipelineFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def truncate(topic: String, levels: Int): String =
    Seq(topic).toDF("t").select(topicTruncate(col("t"), levels)).as[String].head()

  test("topicTruncate keeps first levels+1 split segments (leading / = empty segment)") {
    // reference: topic.split('/').slice(0, levels + 1).join('/')
    assert(truncate("/eu/ch/zrh/dev7/temp", 2) == "/eu/ch")  // ["", "eu", "ch"]
    assert(truncate("eu/ch/zrh", 2) == "eu/ch/zrh")          // ["eu","ch","zrh"]
    assert(truncate("eu/ch/zrh/x", 2) == "eu/ch/zrh")
  }

  test("topicTruncate levels <= 0 is identity") {
    assert(truncate("/a/b/c", 0) == "/a/b/c")
    assert(truncate("/a/b/c", -3) == "/a/b/c")
  }

  test("topicTruncate levels >= depth is identity") {
    assert(truncate("/a/b", 99) == "/a/b")
    assert(truncate("single", 5) == "single")
  }

  test("topicTruncate dynamic-levels column variant matches static, NULL = identity") {
    val df = Seq(("/a/b/c/d", 2), ("/a/b/c/d", 0)).toDF("t", "l")
    val got = df.select(topicTruncate(col("t"), col("l"))).as[String].collect().toSeq
    assert(got == Seq("/a/b", "/a/b/c/d"))
    val nullLevels = Seq("/a/b/c").toDF("t")
      .select(topicTruncate(col("t"), lit(null).cast("int"))).as[String].head()
    assert(nullLevels == "/a/b/c")
  }

  test("streamIdTemplate substitutes every $topic occurrence") {
    val got = Seq("iot/room1").toDF("t")
      .select(streamIdTemplate("org/$topic/stream-$topic", col("t"))).as[String].head()
    assert(got == "org/iot/room1/stream-iot/room1")
  }

  test("streamIdTemplate without $topic is a constant (single-stream mode)") {
    val c = streamIdTemplate("fixed/stream", col("t"))
    val got = Seq("anything").toDF("t").select(c).as[String].head()
    assert(got == "fixed/stream")
  }

  test("safeParseJson yields NULL struct on malformed payload, value on valid") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val df = stageBarrier(Seq("""{"k": 7}""", "not json {", """{"k": null}""").toDF("p"),
        Nil, "j" -> parseJsonLenient(col("p"), schema))
      .select(when(parseOk(col("j")), parsedPayload(col("j"), schema)).as("parsed"))
    val rows = df.select(col("parsed").isNull, col("parsed.k")).collect()
    assert(rows(0).getBoolean(0) == false && rows(0).getInt(1) == 7)
    assert(rows(1).getBoolean(0) == true)
    assert(rows(2).getBoolean(0) == false && rows(2).isNullAt(1))
  }
}
