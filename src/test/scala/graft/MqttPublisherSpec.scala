package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.sources.mqtt.MqttClient
import graft.streaming._

/** K3 network form — per-record MQTT publish (reference
  * bin/mqtt-streamr.js:191-198): routed records leave the engine as MQTT
  * PUBLISH packets (topic = stream_id), success/error accounted, a dead
  * broker degrades to counted errors instead of failing the batch.
  */
class MqttPublisherSpec extends SparkTestBase {
  import spark.implicits._

  private def routedBatch(n: Int) =
    (1 to n).map(i =>
      (s"in/t$i", new Timestamp(1700000000000L + i * 1000L), true,
        s"""{"i":$i}""", s"out/s${i % 2}"))
      .toDF("topic", "arrival_ts", "valid", "value", "stream_id")

  test("round-trip: MQTT in-memory broker receives one publish per routed record") {
    val broker = new MqttTestBroker()
    try {
      val sub = new MqttClient(broker.url, Seq("out/#")).start()
      assert(sub.awaitConnected())
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(20); tries += 1 }

      val registryDir = Files.createTempDirectory("mqtt_pub_reg").toString
      val pub = new MqttStreamPublisher(broker.url, spark)
      val sink = new RoutingSink(new FsStreamRegistry(registryDir), pub, GraftConfig())
      sink.processBatch(routedBatch(6), batchId = 0L)

      val msgs = scala.collection.mutable.ArrayBuffer.empty[graft.sources.mqtt.MqttMessage]
      tries = 0
      while (msgs.length < 6 && tries < 100) { msgs ++= sub.poll(); Thread.sleep(30); tries += 1 }
      assert(msgs.length == 6)
      assert(msgs.map(_.topic).toSet == Set("out/s0", "out/s1"))
      val bodies = msgs.map(m => new String(m.payload, "UTF-8")).toSet
      assert(bodies == (1 to 6).map(i => s"""{"i":$i}""").toSet)
      assert(pub.successCount == 6 && pub.errorCount == 0)
      // registry ensured each distinct stream id exactly once
      assert(sink.ensureCalls == 2)
      sub.close()
    } finally broker.close()
  }

  test("silent broker (TCP accepts, never CONNACKs): timeout -> counted errors") {
    // the hang case connect-refused handling can't cover: the socket
    // opens but no CONNACK ever arrives; SO_TIMEOUT must surface it as
    // an exception the per-partition handler converts to counted errors
    val silent = new java.net.ServerSocket(0)
    try {
      val registryDir = Files.createTempDirectory("mqtt_pub_reg3").toString
      val pub = new MqttStreamPublisher(
        s"tcp://127.0.0.1:${silent.getLocalPort}", spark, timeoutMs = 500)
      val sink = new RoutingSink(new FsStreamRegistry(registryDir), pub, GraftConfig())
      val t0 = System.nanoTime()
      sink.processBatch(routedBatch(4), batchId = 0L) // must not hang or throw
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(pub.errorCount == 4 && pub.successCount == 0)
      assert(elapsedSec < 30, s"batch took ${elapsedSec}s — timeout not applied")
    } finally silent.close()
  }

  test("dead broker: records count as errors, the batch does not fail") {
    // bind-then-close leaves a port with no listener
    val dead = new java.net.ServerSocket(0)
    val port = dead.getLocalPort
    dead.close()
    val registryDir = Files.createTempDirectory("mqtt_pub_reg2").toString
    val pub = new MqttStreamPublisher(s"tcp://127.0.0.1:$port", spark)
    val sink = new RoutingSink(new FsStreamRegistry(registryDir), pub, GraftConfig())
    val warns = warnsDuring(pub) {
      sink.processBatch(routedBatch(4), batchId = 0L) // must not throw
    }
    assert(pub.errorCount == 4 && pub.successCount == 0)
    assert(warns.exists(w => w.contains("4 of 4 records of batch 0 failed") &&
      w.contains(s"tcp://127.0.0.1:$port")), warns.mkString("\n"))
  }

  test("end-to-end: MQTT in, pipeline, MQTT publish out") {
    val broker = new MqttTestBroker()
    val ckDir = Files.createTempDirectory("mqtt_rt_ck").toString
    try {
      val sub = new MqttClient(broker.url, Seq("routed/#")).start()
      assert(sub.awaitConnected())

      val stream = spark.readStream.format("mqtt")
        .option("url", broker.url).option("topics", "sensor/#").load()
      val cfg = GraftConfig(streamIdTemplate = "routed/$topic")
      val routed = GraftPipeline.plan(stream, cfg)
      val registryDir = Files.createTempDirectory("mqtt_rt_reg").toString
      val pub = new MqttStreamPublisher(broker.url, spark)
      val sink = new RoutingSink(new FsStreamRegistry(registryDir), pub, cfg)
      val q = sink.attach(routed.writeStream)
        .option("checkpointLocation", ckDir).start()

      // two subscribers now: the source and the round-trip listener
      var tries = 0
      while (broker.subscriberCount < 2 && tries < 100) { Thread.sleep(50); tries += 1 }
      broker.publish("sensor/a", """{"v":1}""")
      broker.publish("sensor/b", "not json") // dropped before publish
      Thread.sleep(500)
      q.processAllAvailable()
      q.stop()

      val msgs = scala.collection.mutable.ArrayBuffer.empty[graft.sources.mqtt.MqttMessage]
      tries = 0
      while (msgs.isEmpty && tries < 100) { msgs ++= sub.poll(); Thread.sleep(30); tries += 1 }
      assert(msgs.map(_.topic).toSeq == Seq("routed/sensor/a"))
      assert(new String(msgs.head.payload, "UTF-8") == """{"v":1}""")
      assert(pub.successCount == 1)
      sub.close()
    } finally broker.close()
  }
}
