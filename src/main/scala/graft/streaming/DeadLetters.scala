package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, TimestampType}

import graft.delta.DeltaTable
import graft.transforms.Transformer

/** Dead-letter queue implementations + factory (reference E1,
  * /root/reference/src/dead_letters.rs:145-199): Noop (default — no infra,
  * no PII in logs), DeltaSink (opt-in via table path), Logging (local
  * development only, never chosen by the factory — same as the reference).
  */
trait DeadLetterSink {
  /** Write one micro-batch of DeadLetter-shaped rows (base64_bytes,
    * json_string, error, timestamp). */
  def write(dead: DataFrame, batchId: Long): Unit
}

object NoopDeadLetterSink extends DeadLetterSink {
  override def write(dead: DataFrame, batchId: Long): Unit = ()
}

/** Local development only: prints each dead letter. */
final class LoggingDeadLetterSink extends DeadLetterSink {
  override def write(dead: DataFrame, batchId: Long): Unit =
    dead.collect().foreach(r => println(s"[dead-letter batch=$batchId] $r"))
}

/** Delta-table DLQ with its own txn line and optional transforms
  * (reference DeltaSinkDeadLetterQueue, dead_letters.rs:200-292). */
final class DeltaDeadLetterSink(table: DeltaTable, appId: String,
                                transforms: Seq[(String, String)]) extends DeadLetterSink {
  override def write(dead: DataFrame, batchId: Long): Unit = {
    val out = new Transformer(transforms)(dead)
    table.append(out, Some(appId + "-dlq"), batchId): Unit
  }
}

/** A dead letter's `timestamp`: one instant per batch, taken when the
  * batch is split. `current_timestamp()` is folded to a literal that is
  * inlined into the generated source, so each batch would compile a class
  * of its own (on the driver and again on an executor). This value reaches
  * generated code as a reference object, so the source is the same on
  * every batch and Spark's codegen cache hits. Not foldable, for the same
  * reason. */
case class BatchTimestamp(micros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchTimestamp", java.lang.Long.valueOf(micros),
      classOf[java.lang.Long].getName)
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object DeadLetterSinks {
  /** Factory (reference dlq_from_opts): DeltaSink iff a table path is
    * configured, else Noop. */
  def fromOptions(spark: SparkSession, opts: IngestOptions): DeadLetterSink =
    opts.dlqTablePath match {
      case Some(p) =>
        val t = DeltaTable.forPath(spark, p)
        if (!t.exists) t.create(PipelineStages.DeadLetterSchema)
        new DeltaDeadLetterSink(t, opts.appId, opts.dlqTransforms)
      case None => NoopDeadLetterSink
    }
}
