package graft

/** Re-exports of the engine's Catalyst-native functions, which live in
  * `org.apache.spark.sql.graft` because they use `private[sql]` Spark APIs
  * (`AbstractDataType`, `ExpressionUtils`) — the standard host package for
  * Spark-native extension libraries. User code imports `graft.functions._`.
  */
package object functions {
  type PcmSnr = org.apache.spark.sql.graft.PcmSnr
  type PcmAllclose = org.apache.spark.sql.graft.PcmAllclose
  val PcmFunctions = org.apache.spark.sql.graft.PcmFunctions
}
