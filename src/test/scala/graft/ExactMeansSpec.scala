package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{ExactMeans, Num}
import graft.operators.{Clustering, ProductQuantizer}

/** The shuffle-free exact-means kernel equals the DataFrame formulation it
  * replaced (posexplode -> groupBy(key, dim) -> exact decimal sum and
  * count(lit(1))) bit for bit, at any partitioning. */
class ExactMeansSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession()

  /** The replaced formulation: per (key, dim) exact scaled sum (null when
    * every element was null), row count, and the double mean. */
  private def reference(df: DataFrame, scale: Int)
      : Map[(Int, Int), (BigInt, Long, java.lang.Double)] =
    df.select(col("key"),
        posexplode(col("vec")).as(Seq("dim", "v")))
      .groupBy(col("key"), col("dim"))
      .agg(sum(Num.scaledLong(col("v").cast("double"), scale)).as("s"),
        count(lit(1)).as("n"),
        (sum(Num.scaledLong(col("v").cast("double"), scale)).cast("double")
          / math.pow(10, scale) / count(lit(1))).as("cv"))
      .collect().map { r =>
        (r.getInt(0), r.getInt(1)) -> (
          if (r.isNullAt(2)) null else BigInt(r.getDecimal(2).toBigInteger),
          r.getLong(3),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)))
      }.toMap

  private def kernel(df: DataFrame, scale: Int)
      : Map[(Int, Int), (BigInt, Long, java.lang.Double)] =
    ExactMeans(df, scale).toSeq.flatMap { case (k, c) =>
      (0 until c.dims).map { d =>
        (k, d) -> (c.sum(d), c.count(d),
          if (c.sum(d) == null) null else java.lang.Double.valueOf(c.mean(d)))
      }
    }.toMap

  private def frame(rows: Seq[Row], parts: Int, elem: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("key", IntegerType),
        StructField("vec", ArrayType(elem, containsNull = true)))))

  private def assertSame(df: DataFrame, scale: Int): Unit = {
    val want = reference(df, scale)
    val got = kernel(df, scale)
    assert(got.keySet == want.keySet)
    want.foreach { case (kd, (s, n, m)) =>
      val (gs, gn, gm) = got(kd)
      assert(gs == s && gn == n, s"$kd: sum/count $gs/$gn vs $s/$n")
      if (m == null) assert(gm == null, s"$kd: mean $gm vs null")
      else assert(java.lang.Double.doubleToRawLongBits(gm) ==
        java.lang.Double.doubleToRawLongBits(m), s"$kd: mean $gm vs $m")
    }
  }

  /** Random signed vectors with null elements, null and empty arrays and
    * ragged lengths over 7 keys. */
  private def randomRows(seed: Long, n: Int, float: Boolean): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val key = rnd.nextInt(7)
      val vec: Seq[Any] = rnd.nextInt(20) match {
        case 0 => null
        case 1 => Seq.empty
        case _ => Seq.fill(8 + rnd.nextInt(3)) {
          if (rnd.nextInt(10) == 0) null
          else {
            val x = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(4))
            if (float) x.toFloat else x
          }
        }
      }
      Row(key, vec)
    }
  }

  test("kernel == decimal formulation at 1, 3 and 7 partitions") {
    for ((float, elem) <- Seq(false -> DoubleType, true -> FloatType);
         parts <- Seq(1, 3, 7)) {
      val rows = randomRows(11L, 600, float)
      assertSame(frame(rows, parts, elem), 10)
      assertSame(frame(rows, parts, elem), 2)
    }
    val one = kernel(frame(randomRows(12L, 400, float = false), 1,
      DoubleType), 10)
    val seven = kernel(frame(randomRows(12L, 400, float = false), 7,
      DoubleType), 10)
    assert(one == seven)
  }

  test("all-null positions, empty partitions and absent keys") {
    val rows = Seq(
      Row(1, Seq(null, 2.5)), Row(1, Seq(null, -1.25)),
      Row(2, Seq.empty), Row(3, null), Row(4, Seq(-0.5)))
    val df = frame(rows, 9, DoubleType) // 9 slices, 5 rows: empty partitions
    assertSame(df, 10)
    val got = ExactMeans(df, 10)
    assert(got.keySet == Set(1, 4)) // empty and null arrays drop out
    assert(got(1).sum(0) == null && got(1).count(0) == 2L)
    assert(got(1).mean(1) == 0.625)
    assert(intercept[NullPointerException](got(1).mean(0)) != null)
  }

  test("sums past Long range stay exact (spill to BigInteger)") {
    // floor(9e8 * 1e10 + 0.5) = 9e18: two of them overflow a long, and so
    // does the cross-partition merge; 1e10 saturates Spark's long floor
    val big = Seq.fill(6)(Row(0, Seq(9.0e8, -9.0e8, 1.0e10))) ++
      Seq.fill(3)(Row(1, Seq(-9.0e8, 0.0, -1.0e10)))
    for (parts <- Seq(1, 3, 7)) assertSame(frame(big, parts, DoubleType), 10)
    val got = ExactMeans(frame(big, 1, DoubleType), 10)
    assert(got(0).sum(0) == BigInt("54000000000000000000"))
  }

  test("bigint elements are summed as given") {
    val df = spark.createDataFrame(Seq((0, Array(Long.MaxValue, -3L)),
      (0, Array(Long.MaxValue, 1L)), (1, Array(7L, 7L)))).toDF("key", "vec")
    val got = ExactMeans(df, 0)
    assert(got(0).sum.toSeq == Seq(BigInt(Long.MaxValue) * 2, BigInt(-2)))
    assert(got(1).count.toSeq == Seq(1L, 1L))
  }

  /** Flat Lloyd's with the replaced posexplode/groupBy means step. */
  private def referenceKmeans(e: DataFrame, k: Int, iters: Int)
      : Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] =
      e.orderBy(col("vec_id")).limit(k).collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }
    for (_ <- 1 to iters) {
      val rows = e.select(col("embedding"),
          org.apache.spark.sql.graftx.NearestCentroidFunctions.nearest_centroid(
            col("embedding"), cents.map(_._2.toArray).toArray,
            cents.map(_._1).toArray).as("cl"))
        .select(col("cl"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cl"), col("dim"))
        .agg((sum(Num.scaledLong(col("v").cast("double"), 10))
          .cast("double") / 1e10 / count(lit(1))).as("cv"))
        .collect()
      cents = rows.groupBy(_.getInt(0)).toSeq.map { case (cl, rs) =>
        (cl, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  test("kmeansFull == the replaced loop, a cluster that empties included") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    // vec_ids 0 and 1 carry the same vector: seed 1 ties with seed 0,
    // loses every member to it and drops out after the first iteration
    val dup = Array.fill(6)((rnd.nextFloat() - 0.5f) * 4f)
    val vecs = Seq((0L, dup), (1L, dup.clone())) ++ (2L until 300L).map(i =>
      (i, Array.fill(6)((rnd.nextFloat() - 0.5f) * 4f)))
    for (parts <- Seq(1, 3, 7)) {
      val e = vecs.toDF("vec_id", "embedding").repartition(parts)
      val want = referenceKmeans(e, k = 5, iters = 3)
      val got = Clustering.kmeansFull(e, k = 5, iters = 3)._2
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      spark.catalog.clearCache()
      assert(!want.exists(_._1 == 1), "the duplicate seed must empty")
      assert(got.map(_._1) == want.map(_._1))
      got.zip(want).foreach { case ((_, g), (_, w)) =>
        assert(g.map(java.lang.Double.doubleToRawLongBits) ==
          w.map(java.lang.Double.doubleToRawLongBits))
      }
    }
  }

  test("ProductQuantizer.train is topology-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(9L)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 2f)))
    val books = Seq(1, 3, 7).map { parts =>
      val e = vecs.toDF("vec_id", "embedding").repartition(parts).cache()
      val cb = ProductQuantizer.train(e, m = 2, dsub = 4, kc = 6, iters = 2)
      e.unpersist()
      cb
    }
    assert(books.forall(_ == books.head) && books.head.forall(_.nonEmpty))
  }
}
