package graft.core

import org.apache.spark.sql.DataFrame

/** The one place that knows how to emit a SINGLE parquet file at an
  * exact path (driver-testdata layout, bench drip-feed chunks, spec
  * fixtures): coalesce(1) to a hidden tmp dir, move the part file to
  * the target, drop the _SUCCESS debris. Four call sites previously
  * hand-rolled this move-the-part-file dance; any change to the layout
  * contract (checksums, _SUCCESS handling) now has one home.
  *
  * Single-FILE output is a fixture/testdata concern only — engine
  * output at scale stays directory-of-parts. The read side of a single
  * file stays parallel as long as the writer bounds parquet row groups
  * (ScaleData's 2 MB default; see Tables.layout).
  */
object ParquetFiles {
  def writeSingle(df: DataFrame, target: java.io.File): Unit = {
    val parent = target.getParentFile
    parent.mkdirs()
    val tmp = new java.io.File(parent, s".tmp_${target.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => !f.getName.startsWith(".") &&
      f.getName.endsWith(".parquet")).getOrElse(sys.error(
      s"no part file under $tmp — parquet writer layout changed?"))
    if (target.exists()) target.delete()
    java.nio.file.Files.move(part.toPath, target.toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }
}
