package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp fixed when the plan is built (`micros` since the epoch),
  * which generated code reads by reference instead of inlining.
  *
  * Why: a timestamp literal — what the optimizer turns
  * `current_timestamp()` into — is written into the generated Java as a
  * constant, so a plan stamped with a new instant is new source code and
  * a new Janino compile, on the driver and again in the task. A stream
  * that stamps each micro-batch with its ingest time therefore compiled
  * its whole flatten projection once per batch (two compiles of ~20–40 ms
  * each on a 4-core VM, measured through Spark's codegen metrics). This
  * expression is not foldable, so it survives optimization; as a
  * `CodegenFallback` its generated code is a call through the plan's
  * reference array, the same text for every instant, and each batch reuses
  * the compiled class. Rows are the same as with the literal.
  */
case class FixedInstant(micros: Long) extends LeafExpression with CodegenFallback {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType
  override def prettyName: String = "fixed_instant"
  override def eval(input: InternalRow): Any = micros
}
