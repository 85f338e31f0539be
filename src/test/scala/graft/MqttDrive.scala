package graft

import org.apache.spark.sql.types._

/** Manual end-to-end drive of the public surface: in-JVM broker → DSv2
  * "mqtt" format → GraftPipeline with a JSONata transform → console-style
  * output. Run with: sbt "Test/runMain graft.MqttDrive"
  */
object MqttDrive {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val broker = new MqttTestBroker()
    val ck = java.nio.file.Files.createTempDirectory("drive_ck").toString

    val stream = spark.readStream.format("mqtt")
      .option("url", broker.url)
      .option("topics", "factory/+/sensor")
      .load()
    val cfg = graft.streaming.GraftConfig(
      streamIdTemplate = "plant/$topic",
      truncateTopicLevels = 1,
      transform = Some("""{"c": temp_f > 90 ? 'HOT' : 'ok', "t2": $round((temp_f - 32) * 5 / 9, 1)}"""),
      payloadSchema = StructType(Seq(StructField("temp_f", DoubleType))))
    val q = graft.streaming.GraftPipeline.plan(stream, cfg)
      .writeStream.format("memory").queryName("drive")
      .option("checkpointLocation", ck).start()

    var tries = 0
    while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(50); tries += 1 }
    broker.publish("factory/line1/sensor", """{"temp_f": 98.6}""")
    broker.publish("factory/line2/sensor", """{"temp_f": 71.0}""")
    broker.publish("factory/line2/other", """{"temp_f": 999}""")
    broker.publish("factory/line1/sensor", "corrupt!!")
    Thread.sleep(500)
    q.processAllAvailable()
    spark.sql("SELECT topic, valid, to_json(value) AS value, stream_id FROM drive ORDER BY topic, valid")
      .show(10, false)
    q.stop()
    broker.close()
    spark.stop()
  }
}
