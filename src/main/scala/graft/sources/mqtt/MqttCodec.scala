package graft.sources.mqtt

import java.io.{DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal MQTT 3.1.1 wire codec (public spec: OASIS mqtt-v3.1.1) — just
  * the packets the bridge needs: CONNECT/CONNACK, SUBSCRIBE/SUBACK,
  * PUBLISH (QoS 0 and 1 + PUBACK, r13), PING, DISCONNECT. The reference
  * delegates this to the `mqtt` npm package (package.json:17); we carry a
  * ~150-line codec so the connector has zero external dependencies.
  * QoS 1 carries a 2-byte packet id after the topic and a DUP flag on
  * redelivery; the receiver acknowledges with PUBACK(packetId) — the
  * at-least-once leg the WAL-backed source builds on (SURVEY §7.4#3).
  */
object MqttCodec {

  sealed trait Packet
  case class Connect(clientId: String, keepAliveSecs: Int = 60) extends Packet
  case class ConnAck(returnCode: Int) extends Packet
  case class Subscribe(packetId: Int, topics: Seq[String], qos: Int = 0) extends Packet
  case class SubAck(packetId: Int, results: Seq[Int]) extends Packet
  case class Publish(topic: String, payload: Array[Byte], qos: Int = 0,
      packetId: Int = 0, dup: Boolean = false) extends Packet
  case class PubAck(packetId: Int) extends Packet
  case object PingReq extends Packet
  case object PingResp extends Packet
  case object Disconnect extends Packet

  // ---- encoding ---------------------------------------------------------

  private def mqttString(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    Array[Byte](((b.length >> 8) & 0xff).toByte, (b.length & 0xff).toByte) ++ b
  }

  private def varint(n0: Int): Array[Byte] = {
    var n = n0
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var continue = true
    while (continue) {
      var d = n % 128
      n /= 128
      if (n > 0) d |= 0x80 else continue = false
      out += d.toByte
    }
    out.toArray
  }

  def encode(p: Packet): Array[Byte] = p match {
    case Connect(clientId, keepAlive) =>
      val vh = mqttString("MQTT") ++ Array[Byte](4, 0x02) ++ // level 4, clean session
        Array[Byte](((keepAlive >> 8) & 0xff).toByte, (keepAlive & 0xff).toByte)
      val body = vh ++ mqttString(clientId)
      Array[Byte](0x10) ++ varint(body.length) ++ body
    case ConnAck(rc) =>
      Array[Byte](0x20, 2, 0, rc.toByte)
    case Subscribe(pid, topics, qos) =>
      val body = Array[Byte](((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte) ++
        topics.flatMap(t => mqttString(t) ++ Array[Byte](qos.toByte)) // requested QoS
      Array[Byte](0x82.toByte) ++ varint(body.length) ++ body
    case SubAck(pid, results) =>
      val body = Array[Byte](((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte) ++
        results.map(_.toByte)
      Array[Byte](0x90.toByte) ++ varint(body.length) ++ body
    case Publish(topic, payload, qos, pid, dup) =>
      val pidBytes = // packet id present only above QoS 0 (spec 3.3.2-2)
        if (qos > 0) Array[Byte](((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte)
        else Array.empty[Byte]
      val body = mqttString(topic) ++ pidBytes ++ payload
      val flags = (if (dup) 0x08 else 0) | ((qos & 3) << 1)
      Array[Byte]((0x30 | flags).toByte) ++ varint(body.length) ++ body
    case PubAck(pid) =>
      Array[Byte](0x40, 2, ((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte)
    case PingReq => Array[Byte](0xc0.toByte, 0)
    case PingResp => Array[Byte](0xd0.toByte, 0)
    case Disconnect => Array[Byte](0xe0.toByte, 0)
  }

  def write(out: OutputStream, p: Packet): Unit = {
    out.write(encode(p))
    out.flush()
  }

  // ---- decoding ---------------------------------------------------------

  private def readVarint(in: DataInputStream): Int = {
    var mult = 1
    var value = 0
    var d = 0
    do {
      d = in.readUnsignedByte()
      value += (d & 0x7f) * mult
      mult *= 128
    } while ((d & 0x80) != 0)
    value
  }

  private def readMqttString(buf: Array[Byte], off: Int): (String, Int) = {
    val len = ((buf(off) & 0xff) << 8) | (buf(off + 1) & 0xff)
    (new String(buf, off + 2, len, UTF_8), off + 2 + len)
  }

  /** Blocking read of one packet; throws EOFException on clean close. */
  def read(in0: InputStream): Packet = {
    val in = new DataInputStream(in0)
    val h = in.readUnsignedByte()
    val len = readVarint(in)
    val body = new Array[Byte](len)
    in.readFully(body)
    (h >> 4) match {
      case 1 => // CONNECT
        val (_, o1) = readMqttString(body, 0) // protocol name
        val keepAlive = ((body(o1 + 2) & 0xff) << 8) | (body(o1 + 3) & 0xff)
        val (cid, _) = readMqttString(body, o1 + 4)
        Connect(cid, keepAlive)
      case 2 => ConnAck(body(1) & 0xff)
      case 3 =>
        val qos = (h >> 1) & 3
        val dup = (h & 0x08) != 0
        val (topic, o) = readMqttString(body, 0)
        if (qos == 0) Publish(topic, body.drop(o))
        else {
          val pid = ((body(o) & 0xff) << 8) | (body(o + 1) & 0xff)
          Publish(topic, body.drop(o + 2), qos, pid, dup)
        }
      case 4 =>
        PubAck(((body(0) & 0xff) << 8) | (body(1) & 0xff))
      case 8 =>
        val pid = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
        var o = 2
        var reqQos = 0
        val topics = scala.collection.mutable.ArrayBuffer.empty[String]
        while (o < body.length) {
          val (t, o2) = readMqttString(body, o)
          topics += t
          reqQos = body(o2) & 3 // requested QoS (uniform across our filters)
          o = o2 + 1
        }
        Subscribe(pid, topics.toSeq, reqQos)
      case 9 =>
        val pid = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
        SubAck(pid, body.drop(2).map(_.toInt & 0xff).toSeq)
      case 12 => PingReq
      case 13 => PingResp
      case 14 => Disconnect
      case other => throw new EOFException(s"unsupported MQTT packet type $other")
    }
  }
}
