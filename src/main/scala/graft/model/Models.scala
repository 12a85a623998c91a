package graft.model

/** Row models mirroring the reference's entry classes (SURVEY §1.1).
  * Time is epoch millis in Long at the edges, as in the reference
  * (`flink-base/.../entries/SensorReading.scala:8`).
  */

/** `SensorReading(id, timestamp, temperature)` —
  * `flink-base/src/main/scala/com/wufuqiang/flink/base/entries/SensorReading.scala:8`. */
case class SensorReading(id: String, timestamp: Long, temperature: Double)

object Sentinels {
  /** `OfflineDataSetUtils.java:39`. */
  val Invalid = "RECOMDASHBOARDINVALID"
}
