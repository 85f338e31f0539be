package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.functions.ClusteredTable
import graft.streaming.GraftPipeline

/** THE WHOLE STORY IN ONE PIPE — the reference's use-case (MQTT in,
  * transformed records out) landing in this library's analytics table,
  * effectively-once under the same at-least-once failure modes
  * EffectivelyOnceSpec injects, and then SERVED by the lakehouse read
  * path:
  *
  *   MQTT (QoS 1 + WAL) → JSON parse → content dedup →
  *   ClusteredTable ingest (batch-id deltas) → OPTIMIZE →
  *   z-pruned analytical read.
  *
  * Failure modes injected in one run: DUP redelivery of every in-flight
  * message before the drain (8 wire copies of 4 payloads), and a crash
  * INSIDE the foreachBatch at-least-once window (after the table append,
  * before the batch commit) so the restarted query re-runs the same
  * batch id against an already-written delta. The final optimized table
  * must hold exactly the 4 distinct records — DUPs collapsed by the
  * content dedup, the replayed batch collapsed by the delta's
  * batch-id-named overwrite — and the box-predicate read over the
  * folded layout must return the right subset through zfile pruning.
  * This is the composition a user of the reference actually deploys
  * when they point the pipeline at an analytics store.
  */
class MqttToLakehouseSpec extends SparkTestBase {
  import spark.implicits._

  private val msgs = Seq(
    ("lh/s1", """{"d1": 3, "d2": 4, "v": 10}"""),
    ("lh/s2", """{"d1": 9, "d2": 2, "v": 20}"""),
    ("lh/s1", """{"d1": 4, "d2": 3, "v": 30}"""),
    ("lh/s2", """{"d1": 15, "d2": 11, "v": 40}"""))

  private val recSchema = StructType(Seq(
    StructField("d1", IntegerType), StructField("d2", IntegerType),
    StructField("v", LongType)))

  private def pipe(stream: DataFrame): DataFrame =
    GraftPipeline.dedupStreamByContent(
      stream.select(
        col("topic"),
        col("payload").cast("string").as("body"),
        col("arrival_ts"),
        element_at(split(col("topic"), "/"), 2).as("stream_id")),
      "body", watermark = "1 hour")
      .withColumn("rec", from_json(col("body"), recSchema))
      .select(col("stream_id"), col("rec.d1").as("d1"),
        col("rec.d2").as("d2"), col("rec.v").as("v"))

  private def awaitSubscribed(broker: MqttTestBroker): Unit = {
    var tries = 0
    while (broker.subscriberCount == 0 && tries < 200) { Thread.sleep(20); tries += 1 }
    assert(broker.subscriberCount > 0, "source never subscribed")
  }

  test("MQTT -> parse -> dedup -> clustered ingest -> optimize -> pruned read " +
      "is effectively-once under DUP redelivery + mid-batch crash") {
    val broker = new MqttTestBroker()
    val wal = Files.createTempDirectory("lh_wal").toString
    val ck = Files.createTempDirectory("lh_ck").toString
    val root = Files.createTempDirectory("lh_table").toString
    try {
      val failOnce = new AtomicBoolean(true)
      val appends = new AtomicInteger(0)
      def sinkBatch(df: DataFrame, bid: Long): Unit = {
        val n = df.count()
        if (n > 0) {
          ClusteredTable.append(df, root, f"b$bid%012d")
          appends.incrementAndGet()
          if (failOnce.getAndSet(false))
            throw new RuntimeException("injected crash after table append")
        }
      }
      def startQuery() = pipe(spark.readStream.format("mqtt")
          .option("url", broker.url).option("topics", "lh/#")
          .option("qos", "1").option("waldir", wal).load())
        .writeStream
        .foreachBatch(sinkBatch _)
        .option("checkpointLocation", ck)
        .start()

      val q1 = startQuery()
      awaitSubscribed(broker)
      msgs.foreach { case (t, p) => broker.publish(t, p) }
      // every in-flight QoS 1 message redelivered with DUP before the
      // drain: 8 wire copies of 4 payloads hit the source
      broker.redeliverUnacked()
      // the first non-empty batch appends to the table, then crashes in
      // the at-least-once window
      intercept[StreamingQueryException] { q1.awaitTermination() }
      assert(appends.get() >= 1, "the crashing incarnation must have appended first")

      // restart: the same batch id replays against the already-written
      // delta (overwrite-by-name), then the stream drains clean
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()

      // fold the deltas into the z-ordered base and read it back
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      val t = ClusteredTable.read(spark, root)
      val rows = t.select("stream_id", "d1", "d2", "v")
        .as[(String, Int, Int, Long)].collect().toSeq.sorted
      assert(rows == Seq(("s1", 3, 4, 10L), ("s1", 4, 3, 30L),
        ("s2", 9, 2, 20L), ("s2", 15, 11, 40L)),
        s"table must hold exactly the 4 distinct records: $rows")
      assert(t.filter(col("zfile") < 0).count() == 0, "everything folded")

      // the analytical read the layout exists for: a (d1, d2) box over
      // the folded base, served through zfile envelope pruning
      val env = t.groupBy("zfile").agg(min("d1").as("mn1"), max("d1").as("mx1"),
        min("d2").as("mn2"), max("d2").as("mx2")).collect()
      val keep = env.filter(r => r.getAs[Int]("mx1") >= 3 && r.getAs[Int]("mn1") <= 5 &&
        r.getAs[Int]("mx2") >= 2 && r.getAs[Int]("mn2") <= 5).map(_.getAs[Int]("zfile"))
      val pruned = t.where(col("zfile").isin(keep.toSeq: _*))
        .where(col("d1").between(3, 5) && col("d2").between(2, 5))
        .select("v").as[Long].collect().toSeq.sorted
      assert(pruned == Seq(10L, 30L), "the box read must return exactly the two in-box records")
      assert(keep.length < env.length, "the box read must actually skip z-buckets")
    } finally broker.close()
  }
}
