package graft

import java.net.{ServerSocket, Socket}
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.control.NonFatal
import graft.sources.mqtt.MqttCodec
import graft.sources.mqtt.MqttCodec._

/** Tiny in-JVM MQTT 3.1.1 broker for connector tests: accepts CONNECT and
  * SUBSCRIBE, fans PUBLISHed messages out to matching subscribers (`+`/`#`
  * wildcards). QoS 0 and (r13) QoS 1: a subscriber that requested QoS 1
  * receives packets with per-connection packet ids, the broker tracks
  * them unacked-until-PUBACK, and `redeliverUnacked()` re-sends with the
  * DUP flag — the redelivery a real broker performs after a session
  * resumes, triggerable deterministically for specs.
  *
  * With `enforceKeepAlive` the broker drops a connection from which
  * nothing arrives for 1.5 × the keepalive its CONNECT advertised (MQTT
  * 3.1.1 §3.1.2.10); off by default.
  */
class MqttTestBroker(port0: Int = 0, enforceKeepAlive: Boolean = false) extends AutoCloseable {
  private val server = new ServerSocket(port0)
  val port: Int = server.getLocalPort
  val url = s"tcp://127.0.0.1:$port"
  private val running = new AtomicBoolean(true)

  private class Sub(val socket: Socket, val filters: Seq[String], val qos: Int) {
    val nextPid = new java.util.concurrent.atomic.AtomicInteger(1)
    val unacked = new java.util.concurrent.ConcurrentHashMap[Int, (String, Array[Byte])]()
  }
  private val subs = new CopyOnWriteArrayList[Sub]()
  private val conns = new CopyOnWriteArrayList[Socket]()

  private val acceptThread = new Thread(() => {
    while (running.get()) {
      try {
        val s = server.accept()
        conns.add(s)
        new Thread(() => handle(s), "mqtt-broker-conn").start()
      } catch { case NonFatal(_) => () }
    }
  }, "mqtt-broker-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  private def handle(s: Socket): Unit = {
    try {
      var connected = true
      while (connected && running.get()) {
        MqttCodec.read(s.getInputStream) match {
          case Connect(_, keepAliveSecs) =>
            // a read that waits longer throws, which drops the connection
            if (enforceKeepAlive && keepAliveSecs > 0) s.setSoTimeout(keepAliveSecs * 1500)
            MqttCodec.write(s.getOutputStream, ConnAck(0))
          case Subscribe(pid, topics, qos) =>
            subs.add(new Sub(s, topics, qos))
            MqttCodec.write(s.getOutputStream, SubAck(pid, topics.map(_ => qos)))
          case Publish(topic, payload, _, _, _) => fanout(topic, payload)
          case PubAck(pid) =>
            subs.forEach(sub => if (sub.socket eq s) sub.unacked.remove(pid))
          case PingReq => MqttCodec.write(s.getOutputStream, PingResp)
          case Disconnect => connected = false
          case _ => ()
        }
      }
    } catch { case NonFatal(_) => () }
    finally {
      subs.removeIf(_.socket eq s)
      conns.remove(s)
      try s.close() catch { case NonFatal(_) => () }
    }
  }

  /** Broker-side publish (what an external producer would do). */
  def publish(topic: String, payload: String): Unit =
    fanout(topic, payload.getBytes("UTF-8"))

  /** Raw-bytes publish, e.g. payloads that are not valid UTF-8. */
  def publishBytes(topic: String, payload: Array[Byte]): Unit =
    fanout(topic, payload)

  private def fanout(topic: String, payload: Array[Byte]): Unit =
    subs.forEach { sub =>
      if (sub.filters.exists(MqttTestBroker.topicMatches(_, topic)))
        try {
          if (sub.qos > 0) {
            val pid = sub.nextPid.getAndIncrement() & 0xffff
            sub.unacked.put(pid, (topic, payload))
            MqttCodec.write(sub.socket.getOutputStream,
              Publish(topic, payload, qos = 1, packetId = pid))
          } else MqttCodec.write(sub.socket.getOutputStream, Publish(topic, payload))
        } catch { case NonFatal(_) => subs.remove(sub) }
    }

  def subscriberCount: Int = subs.size()

  /** Messages delivered at QoS 1 but not yet PUBACKed. */
  def unackedCount: Int = {
    var n = 0
    subs.forEach(sub => n += sub.unacked.size())
    n
  }

  /** Re-send every unacked QoS 1 message with the DUP flag — the
    * redelivery a broker performs when a persistent session resumes.
    */
  def redeliverUnacked(): Unit =
    subs.forEach { sub =>
      sub.unacked.forEach { (pid, tp) =>
        try MqttCodec.write(sub.socket.getOutputStream,
          Publish(tp._1, tp._2, qos = 1, packetId = pid, dup = true))
        catch { case NonFatal(_) => () }
      }
    }

  /** Stops accepting and drops every open connection, as a broker that
    * goes down does. */
  override def close(): Unit = {
    running.set(false)
    try server.close() catch { case NonFatal(_) => () }
    conns.forEach(c => try c.close() catch { case NonFatal(_) => () })
  }
}

object MqttTestBroker {

  /** MQTT topic-filter match incl. `+` (one level) and `#` (rest). Same
    * semantics the reference gets from its broker (README.md:23-26); the
    * bridge itself only subscribes, so matching lives with the broker.
    */
  def topicMatches(filter: String, topic: String): Boolean = {
    def go(f: List[String], t: List[String]): Boolean = (f, t) match {
      case (Nil, Nil) => true
      case ("#" :: _, _) => true
      case ("+" :: fr, _ :: tr) => go(fr, tr)
      case (fh :: fr, th :: tr) if fh == th => go(fr, tr)
      case _ => false
    }
    go(filter.split("/", -1).toList, topic.split("/", -1).toList)
  }
}
