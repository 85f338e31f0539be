package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.sources.mqtt.MqttPublishConnection

/** Network [[StreamPublisher]]: one MQTT PUBLISH per routed record, topic =
  * stream_id, payload = value_json bytes — the reference's per-record
  * remote publish (bin/mqtt-streamr.js:191-198) with its delivery contract:
  * fire-and-forget QoS 0, errors logged-and-counted rather than failing the
  * pipeline (js:193-197), so under foreachBatch replay delivery is
  * at-least-once (the reference offers no exactly-once either).
  *
  * Scale shape: the publish runs on EXECUTORS via foreachPartition — one
  * connection per task, records stream out without ever collecting to the
  * driver. Success/error totals flow back through Spark accumulators; a
  * partition that cannot connect counts all its records as errors instead
  * of failing the batch (a dead broker must not wedge a 1000-executor job;
  * the interval stats surface the loss). A batch with any failed publish
  * logs one WARN with its failed and total counts.
  */
class MqttStreamPublisher(url: String, @transient spark: SparkSession,
    timeoutMs: Int = 10000)
    extends StreamPublisher with Logging {

  private val successAcc = spark.sparkContext.longAccumulator("mqtt_publish_success")
  private val errorAcc = spark.sparkContext.longAccumulator("mqtt_publish_error")

  def successCount: Long = successAcc.value
  def errorCount: Long = errorAcc.value

  override def publish(routed: DataFrame, batchId: Long): Unit = {
    // capture only what the task needs: the publisher itself holds a
    // SparkSession and must not ship to executors
    val u = url
    val tmo = timeoutMs
    val sAcc = successAcc
    val eAcc = errorAcc
    val (ok0, err0) = (successCount, errorCount)
    routed.select(col("stream_id"), col("value_json"))
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          var conn: MqttPublishConnection = null
          try {
            conn = new MqttPublishConnection(u, timeoutMs = tmo)
            it.foreach { r =>
              try {
                conn.publish(r.getString(0),
                  r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
                sAcc.add(1L)
              } catch { case scala.util.control.NonFatal(_) => eAcc.add(1L) }
            }
          } catch {
            // no connection: drain and count, don't fail the batch
            case scala.util.control.NonFatal(_) => it.foreach(_ => eAcc.add(1L))
          } finally if (conn != null) conn.close()
        }
      }
    val failed = errorCount - err0
    if (failed > 0)
      logWarning(s"mqtt publish to $url: $failed of ${failed + successCount - ok0} " +
        s"records of batch $batchId failed")
  }
}
