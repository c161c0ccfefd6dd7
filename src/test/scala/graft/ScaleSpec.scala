package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scale

/** Scale-technique proofs: salted aggregation equals plain aggregation,
  * and bucketed tables join without an exchange. */
class ScaleSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("salted aggregation == plain groupBy on a skewed key") {
    val li = graft.core.Tables(spark, sf, "lineitem")
    // l_returnflag is the skew archetype: ~3 values over the whole table
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(30,2)")).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2))).toSet
    val salted = Scale.saltedAgg(li, col("l_returnflag"), salts = 8,
      (count(lit(1)), "n"),
      (sum(col("l_quantity").cast("decimal(30,2)")), "q"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2))).toSet
    assert(salted == plain)
  }

  test("partitioned writes prune partitions at the scan") {
    val dir = tempDir("parted").getPath
    val ev = graft.core.Tables(spark, sf, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$dir/events")
    val one = spark.read.parquet(s"$dir/events")
      .filter(col("day") === "2024-01-03")
    val scan = one.queryExecution.executedPlan.toString
    // the date filter must become a PartitionFilter (directory pruning),
    // not a post-scan row filter over all partitions
    assert(scan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition pruning in:\n$scan")
    val expected = ev.filter(col("day") === "2024-01-03").count()
    assert(one.count() == expected && expected > 0)
  }

  test("bucketed tables join with zero exchanges") {
    val wh = tempDir("bucketed").getPath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bk LOCATION '$wh'")
    val li = graft.core.Tables(spark, sf, "lineitem")
    val o = graft.core.Tables(spark, sf, "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("graft_bk.li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("graft_bk.o_b")
    // force the non-broadcast path: the point is that co-located,
    // co-sorted buckets sort-merge-join with NO exchange on the join keys
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bk.li_b")
        .join(spark.table("graft_bk.o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected shuffle on join keys:\n$plan")
      assert(joined.count() == 3)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("lshPlanes holds bucket occupancy: floored at small N, grows with " +
      "log2(N), capped") {
    import graft.operators.Scale.lshPlanes
    // spec'd test scales keep today's B=8 (results unchanged)
    assert(lshPlanes(500) == 8 && lshPlanes(5000) == 8)
    // 10x step at sf1.0: occupancy 50000/2^10 ~ 49 (~ the 64 target)
    assert(lshPlanes(50000) == 10)
    // web scale stays bounded by the cap
    assert(lshPlanes(1000000000L) == 24)
    // occupancy stays within [target/2, target] wherever uncapped:
    // 2^B in [N/target, 2N/target]
    Seq(10000L, 123456L, 7777777L).foreach { n =>
      val b = lshPlanes(n)
      assert((1L << b) >= n / 64 && (1L << b) <= 2 * n / 64 + 1, s"n=$n b=$b")
    }
  }
}
