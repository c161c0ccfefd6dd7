package org.apache.spark.sql.graftx

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Column-API surface over Spark's OWN Bloom-filter machinery behind
  * runtime join row filtering (`BloomFilterAggregate` and the
  * `BloomFilter` sketch that `BloomFilterMightContain` probes). Spark
  * ships the expressions unregistered — they are internal to
  * `InjectRuntimeFilter` — so this exposes the vetted implementations
  * rather than re-deriving a sketch.
  *
  * Scale role (tx17): a membership set that is too large to broadcast as
  * raw values compresses into a FIXED-SIZE bit array (~9.6 bits/item at
  * 1% fpp vs the full string payload), with one-sided error: a Bloom
  * probe never misses a true member, it can only over-report. Consumers
  * therefore get a guaranteed-superset filter, the same contract
  * Spark's own runtime filtering relies on.
  */
object BloomFunctions {

  /** Aggregate `c` (must be LongType — xxhash64 the raw values) into a
    * binary Bloom filter sized for `items` expected members and `bits`
    * filter bits. */
  def bloom_filter_agg(c: Column, items: Long, bits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(c),
      Literal(items), Literal(bits)).toAggregateExpression())

  /** True iff `v` (LongType, same hashing as the build side) may be a
    * member of the filter `f`; false is authoritative. The filter ships
    * once as a broadcast variable, not as a binary literal: a literal
    * rides in the task binary of every task of every stage that
    * evaluates it (≈1.2 MB per task for tx17's sketch), a broadcast
    * reaches each executor once. */
  def might_contain_broadcast(f: Broadcast[BloomFilter], v: Column): Column =
    ExpressionUtils.column(
      BroadcastMightContain(ExpressionUtils.expression(v), f))
}

/** True iff the LongType child may be a member of the broadcast Bloom
  * filter (null for a null child; false is authoritative) — the
  * semantics of `BloomFilterMightContain` with a non-null filter. The
  * filter is read from the broadcast once per generated-class instance,
  * so an executor deserializes it at most once. */
case class BroadcastMightContain(child: Expression,
    filter: Broadcast[BloomFilter])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "might_contain_broadcast"
  // the broadcast id differs run to run; plans print the child only
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  @transient private lazy val bloom = filter.value

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bloomBroadcast", filter)
    val cls = classOf[BloomFilter].getName
    val bf = ctx.addMutableState(cls, "bloom",
      b => s"$b = ($cls) $bc.value();", forceInline = true)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $bf.mightContainLong($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
