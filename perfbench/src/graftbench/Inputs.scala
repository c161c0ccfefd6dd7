package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Inputs the benchmark writes itself. */
object Inputs {

  /** Write `lines` to `dir/name` atomically: a hidden temp file (ignored
    * by Spark's file listing) renamed into place. */
  def writeAtomic(dir: File, name: String, lines: Seq[String]): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length else 0L

  /** The parquet fixtures: `graft.ScaleData` output, which is a pure
    * function of the row id (no seed). `open0.1` is the open-vocabulary
    * corpus, the regime where the occupancy gates are off. */
  val Fixtures: Seq[(String, Double, Boolean)] = Seq(
    ("sf0.001", 0.001, false), ("sf0.1", 0.1, false), ("open0.1", 0.1, true))

  def generateFixtures(spark: SparkSession, root: File): Unit =
    Fixtures.foreach { case (name, sf, open) =>
      val dir = new File(root, name)
      if (!new File(dir, "_DONE").isFile) {
        deleteTree(dir)
        graft.ScaleData.generate(spark, sf, dir.getPath, openVocab = open)
        Files.write(new File(dir, "_DONE").toPath, Array.emptyByteArray)
      }
    }

  /** `[bytes, rows, row_groups, files]` per table, as `graft.Bench`
    * stamps its sidecars. */
  def fingerprint(spark: SparkSession, dir: File): Seq[(String, Seq[Long])] =
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).map { t =>
        val l = graft.core.Tables.layout(spark, t.getPath)
        t.getName.stripSuffix(".parquet") ->
          Seq(l.bytes, l.rows, l.rowGroups.toLong, l.files.toLong)
      }

  // ---- LogQuerier access logs (FIXTURES.md section 3) ----

  /** The four LogQuerier patterns: name, pattern, fixed string. */
  val GrepPatterns: Seq[(String, String, Boolean)] = Seq(
    ("grep_frequent", "192.168.1.100", true),
    ("grep_medium", "192.168.1.150", true),
    ("grep_rare", "10.0.0.50", true),
    ("grep_product", "/product/\\d+", false))

  /** Common Log Format lines in the LogQuerier generator's mix: IPs
    * 60/30/10 % frequent/medium/rare, 35 % of URLs `/product/<1..101>`.
    * Returns, per pattern name, the expected match count per file. */
  def writeLogs(dir: File, seed: Long, machines: Int,
      linesPerMachine: Int): Map[String, Map[String, Long]] = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val urls = Seq("/home", "/about", "/contact", "/login", "/logout")
    val methods = Seq("GET", "POST", "PUT", "DELETE")
    val statuses = Seq(200, 301, 404, 500)
    val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun")
    val counts = Array.ofDim[Long](machines, GrepPatterns.size)
    (0 until machines).foreach { m =>
      val lines = (0 until linesPerMachine).map { _ =>
        val r = rnd.nextDouble()
        val ip = if (r < 0.6) "192.168.1.100"
          else if (r < 0.9) "192.168.1.150" else "10.0.0.50"
        val product = rnd.nextDouble() < 0.35
        val url = if (product) s"/product/${1 + rnd.nextInt(101)}"
          else urls(rnd.nextInt(urls.size))
        val ts = f"${1 + rnd.nextInt(28)}%02d/${months(rnd.nextInt(6))}/2024:" +
          f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d +0000"
        GrepPatterns.indices.foreach { p =>
          val hit = if (p < 3) GrepPatterns(p)._2 == ip else product
          if (hit) counts(m)(p) += 1
        }
        s"""$ip - - [$ts] "${methods(rnd.nextInt(4))} $url HTTP/1.1" """ +
          s"${statuses(rnd.nextInt(4))} ${500 + rnd.nextInt(4501)}"
      }
      writeAtomic(dir, s"machine.$m.log", lines)
    }
    GrepPatterns.indices.map { p =>
      GrepPatterns(p)._1 -> (0 until machines)
        .map(m => s"machine.$m.log" -> counts(m)(p)).toMap
    }.toMap
  }

  // ---- RainStorm churn stream (RainStormApps.syntheticChurnLines shape) ----

  /** One churn-schema CSV file of `n` lines whose row numbers start at
    * `first`; geography, gender and activity are drawn from the seed. */
  def churnLines(rnd: SplittableRandom, first: Long, n: Int): IndexedSeq[String] =
    (0 until n).map { j =>
      val i = first + j
      val geo = Seq("France", "Spain", "Germany")(rnd.nextInt(3))
      val gender = if (rnd.nextBoolean()) "Female" else "Male"
      s"$i,${15600000 + i},Surname$i,${500 + rnd.nextInt(350)},$geo,$gender," +
        s"${20 + rnd.nextInt(60)},${rnd.nextInt(10)},${rnd.nextInt(100000)}.5," +
        s"${1 + rnd.nextInt(4)},${rnd.nextInt(2)},${rnd.nextInt(2)}," +
        s"${40000 + rnd.nextInt(60000)}.1,${rnd.nextInt(5) == 0}"
    }
}
