package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType}

/**
 * Stored secondary numeric index — the Spark-native form of the
 * reference's SecondaryIndexDataStore (core/store/.../index/secondary/
 * SecondaryIndexDataStoreImpl.java: a (lexicoded-value → primary-key)
 * table scanned by byte range, joined back to the primary store).
 *
 * The index table's `sec_key` is the sign-flip lexicoded value
 * (core/index/.../lexicoder/DoubleLexicoder.java:11-35), so a numeric
 * BETWEEN is exactly an unsigned-lexicographic byte BETWEEN — a plain
 * binary-column comparison that Spark pushes into the parquet scan
 * (row-group min/max pruning on the index table). At scale the index scan
 * reads only the matching key range; the join back to the primary store is
 * an equi-join on the primary key (broadcast when the hit set is small —
 * AQE decides).
 */
object SecondaryIndex {

  /** sign-flip double lexicode as a codegen'd expression. */
  case class DoubleLexicode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      graft.index.Lexicoders.encodeDouble(v.asInstanceOf[Double])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.index.Lexicoders.encodeDouble($v)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def lexicodeDouble(v: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(DoubleLexicode(expression(v.cast("double"))))
  }

  /** build the index table: (sec_key = lexicoded value, <idCol>). Write it
    * out sorted by sec_key for range-pruned scans. */
  def build(df: DataFrame, idCol: String, valueCol: String): DataFrame =
    df.select(lexicodeDouble(col(valueCol)).as("sec_key"), col(idCol))

  /** range query THROUGH the index: byte-range scan on the index table,
    * then join the matching primary keys back to the store. Inclusive
    * bounds; exact by the lexicoder's order-preservation. */
  def queryRange(primary: DataFrame, index: DataFrame, idCol: String,
                 lo: Double, hi: Double): DataFrame = {
    val loKey = graft.index.Lexicoders.encodeDouble(lo)
    val hiKey = graft.index.Lexicoders.encodeDouble(hi)
    val hits = index
      .where(col("sec_key") >= lit(loKey) && col("sec_key") <= lit(hiKey))
      .select(col(idCol))
    primary.join(hits, idCol)
  }

  /** sign-flip long lexicode as a codegen'd expression (the temporal
    * secondary key — epoch millis, TemporalIndexStrategy semantics). */
  case class LongLexicode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      graft.index.Lexicoders.encodeLong(v.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.index.Lexicoders.encodeLong($v)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def lexicodeLong(v: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(LongLexicode(expression(v.cast("long"))))
  }

  /** temporal secondary index: sec_key = lexicoded epoch millis
    * (reference: core/store/.../index/temporal/TemporalIndexStrategy.java,
    * pinned by TemporalIndexStrategyTest's literal date key). */
  def buildTemporal(df: DataFrame, idCol: String, tsCol: String): DataFrame =
    // unix_millis floor-divides (Timestamp.getTime semantics) — a double
    // division would truncate toward zero and mis-key pre-epoch instants
    df.select(
      lexicodeLong(unix_millis(col(tsCol).cast("timestamp"))).as("sec_key"),
      col(idCol))
}
