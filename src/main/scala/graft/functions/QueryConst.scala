package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, Metadata, MetadataBuilder, TimestampType}

/** A per-query time constant (a window bound, a step-grid origin)
  * that reaches the generated Java as a REFERENCE, not as source
  * text. Spark's `Literal` writes a long straight into the source,
  * so every new `[mint, maxt)` yields new source, a miss in the
  * compiled-class cache, a fresh compile and a class that runs
  * cold. A dashboard re-issues the same query each refresh with its
  * window moved one step; with its constants bound here the source
  * is the same every refresh and the compiled classes are reused.
  *
  * Non-foldable, so the optimizer keeps it as it is. Use it only
  * where no scan could push the predicate it sits in (a bound on a
  * decoded-sample column, a step index): a bound that can reach
  * `PushedFilters` or `PartitionFilters` must stay a `Literal`.
  * `sql`/`toString` render the value as the literal would, so
  * `EXPLAIN` reads the same.
  */
case class QueryConst(value: Long, dataType: DataType) extends LeafExpression {
  require(dataType == LongType || dataType == TimestampType,
    s"QueryConst binds a long or a timestamp, not $dataType")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queryConst", java.lang.Long.valueOf(value))
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "queryConst",
      v => s"$v = $ref.longValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def sql: String = Literal(value, dataType).sql
  override def toString: String = Literal(value, dataType).toString
}

object QueryConst {
  /** A bound long. */
  def long(v: Long): Column = ColumnBridge.column(QueryConst(v, LongType))

  /** A bound timestamp at epoch milliseconds `ms`. */
  def timestampMillis(ms: Long): Column =
    ColumnBridge.column(QueryConst(Math.multiplyExact(ms, 1000L), TimestampType))

  /** Column metadata a store puts on the timestamp column of the
    * samples it decoded from chunk blobs. That column is computed
    * after the scan, so no range predicate on it can be pushed, and
    * a consumer may bind the predicate's bounds (see `PromQL`). A
    * column without the mark gets literal bounds, which is always
    * safe: a cast-wrapped raw ts still pushes against a literal.
    */
  private val DecodedTsKey = "graft.decoded_sample_ts"
  private val decodedTsMeta: Metadata =
    new MetadataBuilder().putBoolean(DecodedTsKey, true).build()

  /** `c` as `name`, marked as a decoded-sample timestamp. */
  def decodedTs(c: Column, name: String): Column = c.as(name, decodedTsMeta)

  /** Whether `df`'s column `name` carries the decoded-sample mark. */
  def isDecodedTs(df: DataFrame, name: String): Boolean =
    df.schema.find(_.name == name).exists(_.metadata.contains(DecodedTsKey))
}
