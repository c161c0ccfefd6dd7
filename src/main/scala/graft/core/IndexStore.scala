package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Location, completeness and description of persisted derived artifacts
  * that are built once and consumed many times (ANN indexes, mined pair
  * tables). Local-relative by default; a deployment points
  * SPARK_GRAFT_INDEX_DIR at shared storage (HDFS/S3 — all access goes
  * through the Hadoop FS API). Keyed by the source data directory (one
  * store per dataset) and a layout version prefix, so a layout change
  * invalidates cleanly.
  *
  * Every artifact is one parquet directory plus a `_manifest.json`
  * written as the build's last step: the schema `spark.read.parquet`
  * infers for the directory, its row count and named build-time stats.
  * A reader opens the parquet with that schema and takes sizes from the
  * manifest, so a warm read runs no schema-inference job and a consumer
  * needs no counting job. The manifest is also the completeness marker:
  * a directory without one (a build killed midway, or a layout older
  * than the manifest) is rebuilt in place.
  *
  * The build adds no job either: the row count and the stats are
  * observed while the write runs (`Dataset.observe`), and the schema is
  * the written one, which is what inference reads back from a footer
  * Spark wrote — data columns, then partition columns (which keep their
  * written type), all nullable. Reading the artifact back would cost a
  * schema job and a driver-side read of every footer (32 for the IVF
  * cells).
  */
object IndexStore {

  /** What a complete artifact is; see the object scaladoc. */
  final case class Manifest(schema: StructType, rows: Long,
      stats: Map[String, Long])

  /** An artifact opened through its manifest. */
  final case class Artifact(df: DataFrame, manifest: Manifest) {
    def rows: Long = manifest.rows
    def stat(name: String): Long = manifest.stats(name)
  }

  private val ManifestName = "_manifest.json"

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private val RowsKey = "__rows"

  /** `t` with every field, element and value nullable, as Spark reads
    * any parquet file. */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType =>
      StructType(st.map(f => f.copy(dataType = nullable(f.dataType),
        nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), true)
    case other => other
  }

  def root(d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9.]+", "_").dropWhile(_ == '_')
    // v2: k-means assignment moved to the native NearestCentroid
    // expression (squared-distance compare) — a v1 IVF index persisted by
    // the struct/sqrt formulation could disagree on exact-tie cells, and
    // the probe/fused bit-identity contract requires index and query to
    // share one assignment code path.
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "target/graft_index") +
      s"/v2_$key"
  }

  private def manifestPath(s: SparkSession,
      dir: String): (FileSystem, Path) = {
    val p = new Path(dir, ManifestName)
    (p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  /** An artifact is present only with its manifest. */
  def ready(s: SparkSession, dir: String): Boolean = {
    val (fs, p) = manifestPath(s, dir)
    fs.exists(p)
  }

  private def manifest(s: SparkSession, dir: String): Manifest = {
    val (fs, p) = manifestPath(s, dir)
    val in = fs.open(p)
    val js = try json.readTree(in) finally in.close()
    val stats = Map.newBuilder[String, Long]
    js.get("stats").properties().forEach(e =>
      stats += e.getKey -> e.getValue.asLong())
    Manifest(DataType.fromJson(js.get("schema").toString)
      .asInstanceOf[StructType], js.get("rows").asLong(), stats.result())
  }

  /** The artifact at `dir`, opened with its manifest's schema. */
  def read(s: SparkSession, dir: String): Artifact = {
    val m = manifest(s, dir)
    Artifact(s.read.schema(m.schema).parquet(dir), m)
  }

  /** Writes `data` as the artifact at `dir`, replacing whatever is there,
    * and then its manifest. `stats` are aggregate columns over `data`
    * (never null: an empty artifact aggregates to what they say), observed
    * during the write. The old manifest goes first, so no manifest ever
    * describes a directory that is still being written. */
  def write(s: SparkSession, dir: String, data: DataFrame,
      partitionBy: Seq[String] = Nil,
      stats: Map[String, Column] = Map.empty): Manifest = {
    val (fs, p) = manifestPath(s, dir)
    fs.delete(p, false)
    val seen = Observation()
    data.observe(seen, count(lit(1)).as(RowsKey),
        stats.map { case (k, c) => c.as(k) }.toSeq: _*)
      .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    val got = seen.get
    val cols = data.schema.filterNot(f => partitionBy.contains(f.name))
    val schema = nullable(StructType(cols ++ partitionBy.map(data.schema(_))))
    val m = Manifest(schema.asInstanceOf[StructType],
      got(RowsKey).asInstanceOf[Long],
      stats.keys.map(k => k -> got(k).asInstanceOf[Number].longValue).toMap)
    val js = json.createObjectNode()
    js.set[com.fasterxml.jackson.databind.JsonNode]("schema",
      json.readTree(m.schema.json))
    js.put("rows", m.rows)
    val st = js.putObject("stats")
    m.stats.foreach { case (k, v) => st.put(k, v) }
    val tmp = new Path(dir, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(json.writeValueAsBytes(js)) finally out.close()
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not commit $p")
    m
  }

  /** The build-once/read-many choreography for a single parquet
    * artifact: build and [[write]] on first touch, [[read]] for every
    * consumer (dd09's pair table, the gx edge table, dd17's postings).
    * The multi-artifact index builds (IVF cells + centroids, PQ codes +
    * codebook) sequence their own writes, because readiness there spans
    * several artifacts: the one written last is the one they test. */
  def loadOrBuild(s: SparkSession, path: String,
      stats: Map[String, Column] = Map.empty)(
      build: => DataFrame): Artifact = {
    if (!ready(s, path)) write(s, path, build, stats = stats)
    read(s, path)
  }
}
