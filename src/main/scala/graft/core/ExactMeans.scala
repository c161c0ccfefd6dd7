package graft.core

import java.math.BigInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Exact per-key, per-position sums and counts of an array column in ONE
  * shuffle-free job — the centroid step of every Lloyd's-style training
  * loop (`Clustering.kmeansFull`/`kmeansTwoLevelFull`,
  * `ProductQuantizer.train`, Learn's em03).
  *
  * Input: a relation `(key: int, vec: array<float|double|bigint>)`.
  * The job is one `mapPartitions` over `queryExecution.toRdd` that folds
  * each partition into per-key partials, collected and merged exactly on
  * the driver — no exchange, no Catalyst aggregation. The per-iteration
  * work is k x dim numbers, so the old `posexplode` -> `groupBy` ->
  * `collect` step paid two jobs and a shuffle to move them.
  *
  * Exactness contract (bit-identical to `sum(Num.scaledLong(v, s))` /
  * `count(lit(1))` grouped by (key, position)):
  *  - a floating-point element adds `floor(v * 10^s + 0.5)` (the same
  *    double arithmetic and saturating long conversion as Spark's
  *    `floor`); an integral element adds itself;
  *  - `count` counts every array position, null elements included; the
  *    sum skips null elements and is null where all of them were null;
  *  - a null array adds nothing, and a key whose arrays are all null or
  *    empty is absent from the result;
  *  - sums accumulate in `Long` with `Math.addExact`, spilling into a
  *    `BigInteger` on overflow, so no wrapped sum reaches the result and
  *    the result does not depend on partitioning or row order;
  *  - `Cell.mean` is `sum.toDouble / 10^s / count.toDouble`, the
  *    decimal-sum formulation's `cast(double) / 1e{s} / count`.
  */
object ExactMeans {

  /** Exact totals of one key: `count(d)` rows reached position d, `sum(d)`
    * is the exact sum there (null where every element was null). */
  final class Cell(val count: Array[Long], val sum: Array[BigInt],
      scale: Int) {
    def dims: Int = count.length
    def mean(d: Int): Double = {
      if (sum(d) == null)
        throw new NullPointerException(s"position $d holds only nulls")
      sum(d).toDouble / math.pow(10, scale) / count(d).toDouble
    }
    def means: Seq[Double] = (0 until dims).map(mean)
  }

  /** One key's partial inside a partition. The exact sum at position d is
    * `spill(d) + sum(d)`; `spill` exists only once a long add overflowed. */
  private final class Partial extends Serializable {
    var count = new Array[Long](0)
    var sum = new Array[Long](0)
    var seen = new Array[Boolean](0)
    var spill: Array[BigInteger] = null

    def ensure(n: Int): Unit = if (n > count.length) {
      count = java.util.Arrays.copyOf(count, n)
      sum = java.util.Arrays.copyOf(sum, n)
      seen = java.util.Arrays.copyOf(seen, n)
      if (spill != null) spill = java.util.Arrays.copyOf(spill, n)
    }

    def add(d: Int, v: Long): Unit = {
      seen(d) = true
      try sum(d) = Math.addExact(sum(d), v)
      catch { case _: ArithmeticException =>
        if (spill == null) spill = new Array[BigInteger](count.length)
        val s = if (spill(d) == null) BigInteger.ZERO else spill(d)
        spill(d) = s.add(BigInteger.valueOf(sum(d)))
        sum(d) = v
      }
    }

    def total(d: Int): BigInteger = {
      val s = BigInteger.valueOf(sum(d))
      if (spill == null || spill(d) == null) s else s.add(spill(d))
    }
  }

  /** Per-key exact sums and counts of `df`'s (key, vec) columns; `scale`
    * is the decimal grid of floating-point elements and of `Cell.mean`. */
  def apply(df: DataFrame, scale: Int): Map[Int, Cell] = {
    val fields = df.schema.fields
    require(fields.length == 2, s"expected (key, vec), got ${df.schema}")
    require(fields(0).dataType == IntegerType, s"key type ${fields(0).dataType}")
    val kind = fields(1).dataType match {
      case ArrayType(DoubleType, _) => 0
      case ArrayType(FloatType, _) => 1
      case ArrayType(LongType, _) => 2
      case t => throw new IllegalArgumentException(s"vec type $t")
    }
    val factor = math.pow(10, scale)
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val parts = scala.collection.mutable.HashMap.empty[Int, Partial]
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(1)) {
          require(!r.isNullAt(0), "null key")
          val key = r.getInt(0)
          val a = r.getArray(1)
          val n = a.numElements()
          val p = parts.getOrElseUpdate(key, new Partial)
          p.ensure(n)
          var d = 0
          while (d < n) {
            p.count(d) += 1L
            if (!a.isNullAt(d)) p.add(d, (kind: @scala.annotation.switch) match {
              case 0 => math.floor(a.getDouble(d) * factor + 0.5).toLong
              case 1 => math.floor(a.getFloat(d).toDouble * factor + 0.5).toLong
              case _ => a.getLong(d)
            })
            d += 1
          }
        }
      }
      Iterator.single(parts.toArray)
    }
    val partials = SQLExecution.withNewExecutionId(df.queryExecution,
      Some("exact means"))(rdd.collect())
    partials.flatten.groupBy(_._1).toSeq.flatMap { case (key, ps) =>
      val n = ps.map(_._2.count.length).max
      val count = new Array[Long](n)
      val sum = new Array[BigInteger](n)
      ps.foreach { case (_, p) =>
        var d = 0
        while (d < p.count.length) {
          count(d) += p.count(d)
          if (p.seen(d))
            sum(d) = if (sum(d) == null) p.total(d) else sum(d).add(p.total(d))
          d += 1
        }
      }
      if (n == 0) None
      else Some(key -> new Cell(count,
        sum.map(b => if (b == null) null else BigInt(b)), scale))
    }.toMap
  }
}
