package graft

import java.nio.file.Files
import graft.sources.mqtt.{MqttClient, MqttCodec}

/** S1/S2 — MQTT connector: codec round-trips, wildcard matching, client
  * against the in-JVM broker, the DSv2 source end-to-end through
  * Structured Streaming, and the full reference pipeline over MQTT.
  */
class MqttSourceSpec extends SparkTestBase {
  import spark.implicits._

  test("codec round-trips all packet types") {
    import MqttCodec._
    val packets = Seq(
      Connect("client-1", 30),
      ConnAck(0),
      Subscribe(7, Seq("a/+/c", "b/#")),
      SubAck(7, Seq(0, 0)),
      Publish("a/b/c", """{"x":1}""".getBytes("UTF-8")),
      Publish("q/1", "pay".getBytes("UTF-8"), qos = 1, packetId = 42),
      Publish("q/2", "load".getBytes("UTF-8"), qos = 1, packetId = 7, dup = true),
      PubAck(42),
      PingReq, PingResp, Disconnect)
    packets.foreach { p =>
      val decoded = read(new java.io.ByteArrayInputStream(encode(p)))
      (p, decoded) match {
        case (Publish(t1, b1, q1, p1, d1), Publish(t2, b2, q2, p2, d2)) =>
          assert(t1 == t2 && java.util.Arrays.equals(b1, b2))
          assert(q1 == q2 && p1 == p2 && d1 == d2)
        case (a, b) => assert(a == b)
      }
    }
  }

  test("topic wildcard matching follows the MQTT spec") {
    import MqttTestBroker.topicMatches
    assert(topicMatches("a/b/c", "a/b/c"))
    assert(topicMatches("a/+/c", "a/x/c"))
    assert(!topicMatches("a/+/c", "a/x/y"))
    assert(topicMatches("a/#", "a/x/y/z"))
    assert(topicMatches("#", "anything/at/all"))
    assert(!topicMatches("a/b", "a/b/c"))
    assert(!topicMatches("a/b/c", "a/b"))
    assert(topicMatches("/eu/+/+/#", "/eu/ch/zrh/dev7/temp"))
  }

  test("client receives only matching topics; broker fans out") {
    val broker = new MqttTestBroker()
    try {
      val client = new MqttClient(broker.url, Seq("home/+/temp")).start()
      assert(client.awaitConnected())
      // CONNACK precedes the broker registering the SUBSCRIBE — wait for it
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(20); tries += 1 }
      broker.publish("home/kitchen/temp", "21.5")
      broker.publish("home/kitchen/humidity", "60") // filtered out
      broker.publish("home/attic/temp", "15.0")
      val msgs = scala.collection.mutable.ArrayBuffer.empty[graft.sources.mqtt.MqttMessage]
      tries = 0
      while (msgs.length < 2 && tries < 100) {
        msgs ++= client.poll(); Thread.sleep(30); tries += 1
      }
      assert(msgs.map(_.topic).toSeq == Seq("home/kitchen/temp", "home/attic/temp"))
      client.close()
    } finally broker.close()
  }

  test("close() stops a connected client without an uncaught exception") {
    val reported = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((t: Thread, e: Throwable) =>
      reported.add(s"${t.getName}: $e"))
    val broker = new MqttTestBroker()
    try {
      val client = new MqttClient(broker.url, Seq("#"), clientId = "quiet-stop").start()
      assert(client.awaitConnected())
      val reader = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .find(_.getName == "mqtt-reader-quiet-stop").get
      client.close()
      reader.join(5000)
      assert(!reader.isAlive, "the reader loop must end after close()")
      val fromReaders = reported.toArray(Array.empty[String]).filter(_.startsWith("mqtt-reader-"))
      assert(fromReaders.isEmpty, s"uncaught on a clean stop: ${fromReaders.mkString("; ")}")
      assert(client.reconnects.get() == 0)
    } finally {
      broker.close()
      Thread.setDefaultUncaughtExceptionHandler(prev)
    }
  }

  test("a broker going down under a connected client records the cause of each reconnect") {
    val broker = new MqttTestBroker()
    val client = new MqttClient(broker.url, Seq("#"), reconnectBackoffMillis = 50).start()
    try {
      assert(client.awaitConnected())
      assert(client.lastCause.get() == null)
      broker.close()
      var tries = 0
      while (client.reconnects.get() < 2 && tries < 100) { Thread.sleep(20); tries += 1 }
      assert(client.reconnects.get() >= 2, "the client must keep retrying")
      // the first drop is the severed socket; every retry after it is
      // refused because nothing listens on the port any more
      assert(client.lastCause.get().isInstanceOf[java.net.ConnectException],
        s"cause: ${client.lastCause.get()}")
    } finally client.close()
  }

  private def awaitSubscriber(broker: MqttTestBroker): Unit = {
    var tries = 0
    while (broker.subscriberCount == 0 && tries < 250) { Thread.sleep(20); tries += 1 }
    assert(broker.subscriberCount > 0, "the broker never registered the SUBSCRIBE")
  }

  test("a keepalive-enforcing broker drops a client silent for 1.5 × its keepalive") {
    val broker = new MqttTestBroker(enforceKeepAlive = true)
    try {
      val s = new java.net.Socket("127.0.0.1", broker.port)
      try {
        MqttCodec.write(s.getOutputStream, MqttCodec.Connect("silent", 1))
        assert(MqttCodec.read(s.getInputStream) == MqttCodec.ConnAck(0))
        val t0 = System.nanoTime()
        s.setSoTimeout(10000)
        assert(s.getInputStream.read() == -1, "the broker must close the connection")
        val waitedMs = (System.nanoTime() - t0) / 1000000
        assert(waitedMs >= 1400 && waitedMs < 5000, s"dropped after $waitedMs ms")
      } finally s.close()
    } finally broker.close()
  }

  test("a subscriber advertising a 3 s keepalive stays connected through 10 s of silence") {
    val broker = new MqttTestBroker(enforceKeepAlive = true)
    try {
      val client = new MqttClient(broker.url, Seq("#"), keepAliveSecs = 3).start()
      try {
        assert(client.awaitConnected())
        awaitSubscriber(broker)
        Thread.sleep(10000) // no data either way: only the client's PINGREQs
        assert(client.reconnects.get() == 0, s"cause: ${client.lastCause.get()}")
        assert(broker.subscriberCount == 1)
        broker.publish("t", "still here")
        var got = Seq.empty[String]
        var tries = 0
        while (got.isEmpty && tries < 100) {
          got = client.poll().map(m => new String(m.payload, "UTF-8")); Thread.sleep(20); tries += 1
        }
        assert(got == Seq("still here"))
      } finally client.close()
    } finally broker.close()
  }

  test("reconnect backoff doubles per failure, caps at 5 s and resets on CONNACK") {
    val port = { val b = new MqttTestBroker(); try b.port finally b.close() }
    val client = new MqttClient(s"tcp://127.0.0.1:$port", Seq("#"), reconnectBackoffMillis = 100)
    /** The delay of each reconnect after the `from`-th, until `n` were seen. */
    def delays(from: Long, n: Int): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      var count = from
      val deadline = System.nanoTime() + 20000000000L
      while (seen.length < n && System.nanoTime() < deadline) {
        // the client records the delay before it moves the count
        if (client.reconnects.get() > count) { seen += client.lastBackoffMillis.get(); count += 1 }
        else Thread.sleep(2)
      }
      seen.toSeq
    }
    val warns = warnsDuring(client) {
      client.start()
      try {
        // nothing listens: every attempt is refused
        assert(delays(0, 7) == Seq(100L, 200L, 400L, 800L, 1600L, 3200L, 5000L))
        val broker = new MqttTestBroker(port)
        val before = try {
          assert(client.awaitConnected(15000)) // after the 5 s wait
          awaitSubscriber(broker)
          client.reconnects.get()
        } finally broker.close()
        assert(delays(before, 1) == Seq(100L), "a CONNACK resets the backoff")
      } finally client.close()
    }
    assert(warns.exists(w => w.contains("java.net.ConnectException") && w.contains("in 5000 ms")),
      warns.mkString("\n"))
  }

  test("idle watchdog reconnects the client after data timeout") {
    val broker = new MqttTestBroker()
    try {
      val client = new MqttClient(broker.url, Seq("#"), dataTimeoutMillis = 400,
        reconnectBackoffMillis = 50).start()
      assert(client.awaitConnected())
      Thread.sleep(1500) // several timeouts with no data
      assert(client.reconnects.get() >= 1)
      // still functional after reconnect
      Thread.sleep(200)
      broker.publish("t", "alive")
      Thread.sleep(300)
      assert(client.poll().map(_.payload.map(_.toChar).mkString).contains("alive"))
      client.close()
    } finally broker.close()
  }

  test("maxRecordsPerBatch caps per-trigger admission; backlog drains fully") {
    val broker = new MqttTestBroker()
    val ckDir = Files.createTempDirectory("mqtt_cap_ck").toString
    try {
      val stream = spark.readStream.format("mqtt")
        .option("url", broker.url)
        .option("topics", "#")
        .option("maxRecordsPerBatch", "2")
        .load()
      var batchSizes = List.empty[Long]
      val q = stream.writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          val n = df.count()
          if (n > 0) batchSizes = batchSizes :+ n
        })
        .option("checkpointLocation", ckDir)
        .start()
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(50); tries += 1 }
      (1 to 5).foreach(i => broker.publish("t", s"""{"i": $i}"""))
      Thread.sleep(500)
      q.processAllAvailable()
      q.stop()
      assert(batchSizes.sum == 5, s"batchSizes=$batchSizes")
      assert(batchSizes.forall(_ <= 2), s"batchSizes=$batchSizes")
    } finally broker.close()
  }

  test("a large drained batch plans multiple input partitions") {
    val broker = new MqttTestBroker()
    try {
      val stream = new graft.sources.mqtt.MqttMicroBatchStream(
        Map("url" -> broker.url, "topics" -> "#", "targetrecordsperpartition" -> "2"))
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 200) {
        stream.latestOffset() // first call starts + subscribes the client
        Thread.sleep(20); tries += 1
      }
      (1 to 5).foreach(i => broker.publish("t", s"m$i"))
      var end = stream.latestOffset()
      tries = 0
      while (end.asInstanceOf[graft.sources.mqtt.MqttOffset].count < 5 && tries < 100) {
        Thread.sleep(30); end = stream.latestOffset(); tries += 1
      }
      val parts = stream.planInputPartitions(graft.sources.mqtt.MqttOffset(0), end)
      assert(parts.length == 3, s"expected ceil(5/2)=3 partitions, got ${parts.length}")
      val sizes = parts.map(_.asInstanceOf[graft.sources.mqtt.MqttInputPartition].rows.length)
      assert(sizes.toSeq == Seq(2, 2, 1))
      stream.stop()
    } finally broker.close()
  }

  test("restart from a checkpoint re-bases counters; new messages are not dropped") {
    val broker = new MqttTestBroker()
    try {
      // fresh instance (counters at 0) simulates a restarted driver; the
      // checkpointed start offset is far ahead of anything it has seen
      val stream = new graft.sources.mqtt.MqttMicroBatchStream(
        Map("url" -> broker.url, "topics" -> "#"))
      val start = stream.deserializeOffset("50")
      assert(start == graft.sources.mqtt.MqttOffset(50))
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 200) {
        stream.latestOffset()
        Thread.sleep(20); tries += 1
      }
      (1 to 3).foreach(i => broker.publish("t", s"post-restart-$i"))
      var end = stream.latestOffset()
      tries = 0
      while (end.asInstanceOf[graft.sources.mqtt.MqttOffset].count < 53 && tries < 100) {
        Thread.sleep(30); end = stream.latestOffset(); tries += 1
      }
      // offsets continue monotonically past the checkpoint (no regression)
      assert(end == graft.sources.mqtt.MqttOffset(53), s"end=$end")
      val parts = stream.planInputPartitions(start, end)
      val rows = parts.flatMap(_.asInstanceOf[graft.sources.mqtt.MqttInputPartition].rows)
      assert(rows.map(r => new String(r._2, "UTF-8")).toSeq ==
        Seq("post-restart-1", "post-restart-2", "post-restart-3"))
      stream.stop()
    } finally broker.close()
  }

  test("DSv2 mqtt source end-to-end through the full pipeline") {
    val broker = new MqttTestBroker()
    val ckDir = Files.createTempDirectory("mqtt_ck").toString
    val outDir = Files.createTempDirectory("mqtt_out").toString
    try {
      val stream = spark.readStream
        .format("mqtt")
        .option("url", broker.url)
        .option("topics", "iot/#")
        .load()
      assert(stream.schema == graft.streaming.GraftPipeline.envelopeSchema)

      val cfg = graft.streaming.GraftConfig(
        streamIdTemplate = "org/$topic/s",
        truncateTopicLevels = 1, // keep levels+1 = 2 segments: "iot/roomX"
        payloadSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType))))
      val routed = graft.streaming.GraftPipeline.plan(stream, cfg)

      val q = routed.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .start()

      // wait for the subscriber, then publish
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(50); tries += 1 }
      assert(broker.subscriberCount > 0, "source never subscribed")
      broker.publish("iot/roomA/dev1", """{"v": 1.5}""")
      broker.publish("iot/roomB/dev2", """{"v": 2.5}""")
      broker.publish("other/ignored", """{"v": 9.9}""")
      broker.publish("iot/roomA/dev1", "garbage {")
      Thread.sleep(500)
      q.processAllAvailable()
      q.stop()

      val out = spark.read.parquet(outDir)
      assert(out.count() == 3) // 3 matched iot/# messages (garbage kept, valid=false)
      assert(out.filter($"valid").count() == 2)
      val ids = out.filter($"valid").select("stream_id").as[String].collect().toSet
      assert(ids == Set("org/iot/roomA/s", "org/iot/roomB/s"))
    } finally broker.close()
  }

  test("non-UTF-8 payload bytes land in the drop-and-count path, not mojibake") {
    val broker = new MqttTestBroker()
    val ckDir = Files.createTempDirectory("mqtt_bin_ck").toString
    val outDir = Files.createTempDirectory("mqtt_bin_out").toString
    try {
      val stream = spark.readStream.format("mqtt")
        .option("url", broker.url).option("topics", "#").load()
      // envelope is BINARY at the source boundary, as the reference's Buffer
      assert(stream.schema("payload").dataType ==
        org.apache.spark.sql.types.BinaryType)
      val cfg = graft.streaming.GraftConfig(
        payloadSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType))))
      val routed = graft.streaming.GraftPipeline.plan(stream, cfg)
      val q = routed.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir).start()
      var tries = 0
      while (broker.subscriberCount == 0 && tries < 100) { Thread.sleep(50); tries += 1 }
      broker.publish("t/ok", """{"v": 1.0}""")
      // 0xC3 0x28: invalid 2-byte UTF-8 sequence; 0xFF never appears in UTF-8
      broker.publishBytes("t/bad", Array(0xC3, 0x28, 0xFF, 0x7B).map(_.toByte))
      broker.publish("t/badjson", "not json")
      Thread.sleep(500)
      q.processAllAvailable()
      q.stop()
      val out = spark.read.parquet(outDir)
      // all three kept for counting; only the decodable+parseable one valid
      assert(out.count() == 3)
      assert(out.filter($"valid").count() == 1)
      assert(out.filter($"valid").select($"value.v").as[Double].collect().toSeq == Seq(1.0))
      // both failure modes (bad bytes, bad JSON) are indistinguishable
      // errors to the stats layer — the reference's drop-and-count
      assert(out.filter(!$"valid").count() == 2)
    } finally broker.close()
  }
}
