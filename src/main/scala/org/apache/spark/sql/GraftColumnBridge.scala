package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.types.StructType

/** Column ⇄ catalyst-Expression bridge for the engine's custom expressions.
  *
  * Spark 4 moved the public `Column` to a ColumnNode wrapper
  * (`org.apache.spark.sql.internal.ColumnNode`); the conversion helpers
  * (`classic.ExpressionUtils`) are `private[sql]`. Library code that wants
  * to embed a custom catalyst `Expression` in a Column WITHOUT a
  * per-session function-registry round trip (the `call_function` path needs
  * [[graft.plans.GraftExtensions.register]] to have run on the session that
  * analyzes the plan) goes through this one-file shim living in the `sql`
  * package. Used by hot-path primitives ([[graft.functions.TextFunctions.hex60]],
  * `VectorFunctions.dotDec`) that are built in Column space before any
  * session is known. It also reaches the `private[sql]` JSON encoder for
  * [[jsonLines]].
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Dataset.toJSON`'s lines for rows already on the driver: the same
    * generator over the same schema with the same options, so the bytes
    * are identical, without the `mapPartitions` job `toJSON` runs.
    */
  def jsonLines(schema: StructType, rows: Seq[InternalRow], timeZone: String): Seq[String] = {
    val writer = new java.io.CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer, new JSONOptions(Map.empty[String, String], timeZone))
    try rows.map { r =>
      gen.write(r)
      gen.flush()
      val json = writer.toString
      writer.reset()
      json
    } finally gen.close()
  }
}
