package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs of one step of a larger action. Jobs started from
  * a `foreachBatch` all carry the stream's start call site, and a served
  * request's jobs carry the handler's; the step name tells them apart in
  * the UI and to any listener (`spark.job.description`). The caller's own
  * description (the stream's batch, the gateway's request) is kept as a
  * prefix and restored afterwards.
  */
object JobStep {
  private val Description = "spark.job.description"

  def apply[T](s: SparkSession, step: String)(body: => T): T = {
    val sc = s.sparkContext
    val outer = sc.getLocalProperty(Description)
    sc.setJobDescription(if (outer == null) step else s"$outer: $step")
    try body finally sc.setLocalProperty(Description, outer)
  }
}
