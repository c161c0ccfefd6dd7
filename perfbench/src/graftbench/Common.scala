package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = s""""${esc(s)}""""
  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** The session the benchmark measures: `graft.Bench`'s configuration,
  * with every directory Spark writes to placed inside the run's own
  * state directory. */
object Session {
  def create(nproc: Int, runDir: File): SparkSession = {
    val s = graft.core.Topology(graft.core.EngineConf(SparkSession.builder()))
      .appName("graftbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Order-independent result digest: row count plus the sum of per-row
  * xxhash64 values over the columns sorted by name (the canonical form of
  * `tools/check.py`). Floating-point values are hashed at 10 significant
  * digits so the digest does not depend on the summation order of
  * distributed aggregates. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(isnan(c), lit("NaN")).otherwise(
        format_string("%.9e", c.cast("double") + lit(0.0)))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def apply(df: DataFrame): String = {
    val names = df.columns.sorted
    val cols = names.map(n => canon(col(s"`$n`"), df.schema(n).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }
}
