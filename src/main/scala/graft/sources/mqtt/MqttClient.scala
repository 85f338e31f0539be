package graft.sources.mqtt

import java.net.{Socket, URI}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.util.control.NonFatal
import org.apache.spark.internal.Logging
import MqttCodec._

/** Received message envelope (the reference's `message` event payload,
  * bin/mqtt-streamr.js:144, plus arrival time).
  */
case class MqttMessage(topic: String, payload: Array[Byte], arrivalMillis: Long,
    qos: Int = 0, packetId: Int = 0)

/** Driver-side MQTT subscriber with the reference's connection behavior:
  * connect → subscribe N topic filters (wildcards allowed) → push received
  * messages to an in-memory queue; a resettable inactivity watchdog
  * force-reconnects after `dataTimeoutMillis` of silence
  * (src/DataTimeoutUtil.js:1-18, wiring bin/mqtt-streamr.js:86-97), and a
  * broken socket triggers reconnect with backoff.
  *
  * Keepalive: CONNECT advertises `keepAliveSecs` (0 turns it off), and the
  * watchdog thread sends PINGREQ once half of it passes with no packet
  * written, so a broker that enforces the keepalive (MQTT 3.1.1
  * §3.1.2.10: it may drop a client silent for 1.5 × keepalive) keeps an
  * idle subscriber connected.
  *
  * Reconnect backoff is capped exponential: `reconnectBackoffMillis`
  * after the first failure, doubled per consecutive failure up to
  * [[MqttClient.MaxReconnectBackoffMillis]], and back to the base once a
  * CONNACK arrives.
  *
  * Delivery guarantee is the SUBSCRIBE QoS (r13): at `subscribeQos = 0`
  * (default) this is the reference's fire-and-forget at-most-once. At
  * `subscribeQos = 1` the broker holds each message until PUBACK; with
  * `autoAck = true` the client acks on receipt (loss window = client
  * memory), with `autoAck = false` the CONSUMER calls [[ack]] after it
  * has persisted the message (ack-after-persist — the WAL-backed source
  * acks only after the segment is on disk, closing the window
  * entirely). Unacked messages are redelivered by the broker with the
  * DUP flag after reconnect, so QoS 1 is at-LEAST-once: duplicates are
  * possible by design and are the dedup operators' job downstream.
  */
class MqttClient(
    url: String,
    topics: Seq[String],
    clientId: String = s"graft-${java.util.UUID.randomUUID()}",
    dataTimeoutMillis: Long = 900000L,
    reconnectBackoffMillis: Long = 200L,
    subscribeQos: Int = 0,
    autoAck: Boolean = true,
    keepAliveSecs: Int = 60) extends AutoCloseable with Logging {
  require(keepAliveSecs >= 0 && keepAliveSecs <= 0xffff,
    s"keepAliveSecs must fit MQTT's 16-bit field, got $keepAliveSecs")

  private val queue = new ConcurrentLinkedQueue[MqttMessage]()
  private val running = new AtomicBoolean(true)
  private val lastData = new AtomicLong(System.currentTimeMillis())
  private val lastWrite = new AtomicLong(System.currentTimeMillis())
  private val connected = new CountDownLatch(1)
  @volatile private var socket: Socket = _
  /** reconnect counter (tests/metrics) */
  val reconnects = new AtomicLong(0)
  /** what broke the connection (or refused it) before the latest reconnect */
  val lastCause = new AtomicReference[Throwable]()
  /** the delay the latest reconnect waited (tests/metrics) */
  val lastBackoffMillis = new AtomicLong(0)

  // One lock per connection around every packet write: ack() runs on the
  // consumer thread while the reader thread can write PingResp (or PubAck
  // in autoAck mode) on the same OutputStream — interleaved writes would
  // corrupt the MQTT byte stream. Writes are tiny; contention is nil.
  // The watchdog's PINGREQ goes through it too.
  private val writeLock = new Object
  private def send(out: java.io.OutputStream, p: MqttCodec.Packet): Unit =
    writeLock.synchronized {
      write(out, p)
      lastWrite.set(System.currentTimeMillis())
    }

  private val uri = new URI(url) // tcp://host:port
  require(uri.getScheme == "tcp", s"only tcp:// URLs supported, got $url")

  private val readerThread = new Thread(() => runLoop(), s"mqtt-reader-$clientId")
  readerThread.setDaemon(true)

  private val watchdogThread = new Thread(() => watchdogLoop(), s"mqtt-watchdog-$clientId")
  watchdogThread.setDaemon(true)

  def start(): MqttClient = {
    readerThread.start()
    if (dataTimeoutMillis > 0 || keepAliveSecs > 0) watchdogThread.start()
    this
  }

  /** Blocks until the first CONNACK (or timeout). */
  def awaitConnected(timeoutMillis: Long = 10000): Boolean =
    connected.await(timeoutMillis, TimeUnit.MILLISECONDS)

  /** Drain up to `max` buffered messages. */
  def poll(max: Int = Int.MaxValue): Seq[MqttMessage] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MqttMessage]
    var m = queue.poll()
    while (m != null && out.length < max) {
      out += m
      m = if (out.length < max) queue.poll() else null
    }
    out.toSeq
  }

  private def runLoop(): Unit = {
    var failures = 0 // consecutive, since the last CONNACK
    while (running.get()) {
      try {
        val s = new Socket(uri.getHost, uri.getPort)
        socket = s
        val out = s.getOutputStream
        send(out, Connect(clientId, keepAliveSecs))
        read(s.getInputStream) match {
          case ConnAck(0) => failures = 0
          case other => throw new java.io.IOException(s"connect refused: $other")
        }
        send(out, Subscribe(1, topics, subscribeQos))
        connected.countDown()
        lastData.set(System.currentTimeMillis())
        while (running.get() && !s.isClosed) {
          read(s.getInputStream) match {
            case Publish(topic, payload, qos, pid, _) =>
              lastData.set(System.currentTimeMillis()) // watchdog reset (js:145-147)
              queue.add(MqttMessage(topic, payload, System.currentTimeMillis(), qos, pid))
              if (qos > 0 && autoAck) send(out, PubAck(pid))
            case PingReq => send(out, PingResp)
            case _ => () // SubAck, PingResp, ...
          }
        }
      } catch {
        // close() shut the socket under the blocked read: a clean stop
        case NonFatal(_) if !running.get() => ()
        case NonFatal(e) =>
          lastCause.set(e)
          val delay = MqttClient.backoffMillis(reconnectBackoffMillis, failures)
          failures += 1
          lastBackoffMillis.set(delay)
          val n = reconnects.incrementAndGet()
          logWarning(s"mqtt $url: connection lost (${e.getClass.getName}: " +
            s"${e.getMessage}); reconnect #$n in $delay ms")
          Thread.sleep(delay)
      }
    }
  }

  /** Acknowledge QoS 1 packet ids (manual-ack mode) — called by the
    * consumer AFTER it has durably persisted the messages. A broken
    * socket here is benign: the broker redelivers the unacked messages
    * (DUP) on reconnect, which at-least-once explicitly permits.
    */
  def ack(packetIds: Seq[Int]): Unit = {
    val s = socket
    if (s != null && !s.isClosed)
      try packetIds.foreach(pid => send(s.getOutputStream, PubAck(pid)))
      catch { case NonFatal(_) => () }
  }

  private def watchdogLoop(): Unit = {
    val pingAfterMillis = keepAliveSecs * 500L // half the keepalive
    val tick = Seq(1000L,
      if (dataTimeoutMillis > 0) dataTimeoutMillis / 4 + 1 else 1000L,
      if (keepAliveSecs > 0) pingAfterMillis / 2 + 1 else 1000L).min
    while (running.get()) {
      Thread.sleep(tick)
      val now = System.currentTimeMillis()
      if (dataTimeoutMillis > 0 && now - lastData.get() >= dataTimeoutMillis) {
        // force-close; the reader loop reconnects (mqttClient.end(true) +
        // connectMqttClient() at bin/mqtt-streamr.js:88-96)
        lastData.set(now)
        try if (socket != null) socket.close() catch { case NonFatal(_) => () }
      } else if (keepAliveSecs > 0 && now - lastWrite.get() >= pingAfterMillis) {
        // a broken socket here is the reader's to notice and reconnect
        val s = socket
        if (s != null && !s.isClosed)
          try send(s.getOutputStream, PingReq) catch { case NonFatal(_) => () }
      }
    }
  }

  override def close(): Unit = {
    running.set(false)
    try if (socket != null) { send(socket.getOutputStream, Disconnect); socket.close() }
    catch { case NonFatal(_) => () }
  }
}

object MqttClient {
  /** The ceiling of the reconnect backoff. */
  val MaxReconnectBackoffMillis = 5000L

  /** The wait before a reconnect after `failures` earlier consecutive
    * failures: `base` doubled per failure, capped.
    */
  private def backoffMillis(base: Long, failures: Int): Long =
    math.min(base << math.min(failures, 20), MaxReconnectBackoffMillis)
}
