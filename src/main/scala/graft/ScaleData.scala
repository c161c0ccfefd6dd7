package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-testdata generator for scale factors above the
  * driver-provided sf0.1 — the evidence tool for "does the plan shape hold
  * one order of magnitude up". Reproduces the driver tables' schemas and
  * distribution structure as measured from `/root/testdata/sf0.1`
  * (TESTDATA.md): TPC-H-ish star schema row ratios, the documents table's
  * tail-truncated near-dup copies (prefix-identical, shingle-Jaccard in
  * [0.9, 0.99], ~5% of docs) plus rare exact duplicates, and the
  * embeddings table's unit-norm 64-dim random vectors (label carries no
  * cluster structure — measured same-label mean cos ~= 0.002).
  *
  * Everything is a pure hash of the row id (xxhash64 columns, no RNG
  * state), so generation is distributed, codegen'd, and reproducible at
  * any scale; each table is written as a single parquet FILE named
  * `<table>.parquet` so the output dir is path-compatible with the driver
  * testdata layout consumed by Verify/Bench and tools/check.py.
  *
  * Usage: runMain graft.ScaleData <sf> <outDir> [open] [aniso] [nulls]
  * (sf=1.0 -> 6M lineitem; "open" switches the documents table to the
  * open-vocabulary Zipf fixture — see [[documents]]; "nulls" injects
  * ~2% NULLs into the group/join key columns — the null-key hardening
  * fixture, see `nullify` in [[generate]])
  *
  * SPARK_GRAFT_TABLES (optional, comma-separated) restricts generation to
  * a subset — e.g. `embeddings` for a sim09 trend point, where writing
  * the 24M-row sf4 lineitem would be pure waste. The per-table bytes are
  * identical to a full run (generation is a pure hash of the row id).
  */
object ScaleData {

  /** Uniform [0,1) from a hash column. */
  private def u(h: Column): Column =
    pmod(h, lit(1000000000L)).cast("double") / 1e9

  private def pick(h: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*),
      (pmod(h, lit(vals.size.toLong)) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val out = args(1)
    val openVocab = args.length > 2 && args(2) == "open"
    val anisoEmb = args.length > 2 && args.contains("aniso")
    val nullKeys = args.length > 2 && args.contains("nulls")
    val spark = SparkSession.builder()
      .appName(s"graft-scaledata-sf$sf")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "16g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, sf, out, openVocab, anisoEmb, nullKeys)
    spark.stop()
  }

  /** Parquet row-group size of every generated table (see [[generate]]). */
  private val RowGroupBytes = 2 * 1024 * 1024

  def generate(spark: SparkSession, sf: Double, out: String,
      openVocab: Boolean = false, anisoEmb: Boolean = false,
      nullKeys: Boolean = false): Unit = {
    // Bounded parquet row groups (2 MB vs the 128 MB default): row
    // groups are the scan-parallelism unit — a single-row-group file
    // scans on ONE core no matter the split config (the r9 finding that
    // silently starved every per-row-heavy map side), and the driver's
    // own single-file layout had exactly one group per table through
    // sf8. 2 MB is the measured sweet spot of an A/B at sf1
    // (128 MB / 2 MB / 512 KB): big tables reach full scan width
    // (q01 5.10 -> 0.94 s; lineitem sf1 = 70 groups) while the per-
    // group reader-reinit overhead that 512 KB groups put on every
    // small scan (rs03 0.28 -> 0.66 s, q17 0.53 -> 1.09 s) stays near
    // the single-group floor. Set on the session's hadoop conf — the
    // value ParquetOutputFormat actually reads at write time.
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", RowGroupBytes)
    val nCust = (sf * 150000).toLong
    val nSupp = (sf * 10000).toLong
    val nPart = (sf * 200000).toLong
    val nOrders = (sf * 1500000).toLong
    val nEvents = (sf * 1000000).toLong
    val nUsers = (sf * 15000).toLong
    val nDocs = (sf * 50000).toLong
    val nVecs = (sf * 50000).toLong

    import spark.implicits._

    val tableFilter = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // NULL-KEY variant (r14, VERDICT r13 next-#2): ~2% of the GROUP/JOIN
    // key columns go NULL — the class the ev05/q26 `<=>` fixes belong
    // to. The driver fixtures carry no NULL group keys, so any
    // agg-then-self-join kernel that regroups with `=` instead of `<=>`
    // silently drops the NULL group and no gate ever notices; this
    // fixture makes the whole 129-query oracle suite exercise that path
    // (tools/check.py sidecar). Injection is deterministic (id-hash) and
    // AFTER the value columns derive, so non-key data is unchanged.
    def nullify(df: DataFrame, idCol: String, cols: String*): DataFrame =
      if (!nullKeys) df
      else cols.foldLeft(df) { (d, c) =>
        d.withColumn(c, when(
          pmod(xxhash64(col(idCol), lit(s"null:$c")), lit(50L)) === 0,
          lit(null)).otherwise(col(c)))
      }
    def write(out: String, name: String, df: => DataFrame): Unit =
      if (tableFilter.isEmpty || tableFilter(name))
        ScaleData.writeTable(out, name, df)

    write(out, "region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))

    write(out, "nation", (0 until 25)
      .map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    def ids(n: Long, c: String): DataFrame =
      spark.range(0, n, 1, 32).toDF(c)

    write(out, "customer", nullify(ids(nCust, "c_custkey")
      .withColumn("c_name", format_string("Customer#%09d", $"c_custkey"))
      .withColumn("c_nationkey",
        pmod(xxhash64($"c_custkey", lit("cnat")), lit(25L)).cast("int"))
      .withColumn("c_acctbal",
        round(lit(-1000.0) + u(xxhash64($"c_custkey", lit("cbal"))) * 11000, 2))
      .withColumn("c_mktsegment", pick(xxhash64($"c_custkey", lit("cseg")),
        Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))),
      "c_custkey", "c_mktsegment", "c_nationkey"))

    write(out, "supplier", ids(nSupp, "s_suppkey")
      .withColumn("s_name", format_string("Supplier#%09d", $"s_suppkey"))
      .withColumn("s_nationkey",
        pmod(xxhash64($"s_suppkey", lit("snat")), lit(25L)).cast("int"))
      .withColumn("s_acctbal",
        round(lit(-1000.0) + u(xxhash64($"s_suppkey", lit("sbal"))) * 11000, 2)))

    write(out, "part", ids(nPart, "p_partkey")
      .withColumn("p_name", concat_ws(" ",
        pick(xxhash64($"p_partkey", lit("pn1")),
          Seq("large", "small", "brushed", "polished", "plated", "antique")),
        pick(xxhash64($"p_partkey", lit("pn2")),
          Seq("ring", "box", "case", "tube", "disk", "plate", "rod", "cap"))))
      .withColumn("p_brand", concat(lit("Brand#"),
        (pmod(xxhash64($"p_partkey", lit("pb")), lit(25L)) + 1).cast("string")))
      .withColumn("p_type", pick(xxhash64($"p_partkey", lit("pt")),
        Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")))
      .withColumn("p_size",
        (pmod(xxhash64($"p_partkey", lit("ps")), lit(50L)) + 1).cast("int"))
      .withColumn("p_retailprice",
        lit(900.0) + pmod(xxhash64($"p_partkey", lit("pr")), lit(1000L))
          .cast("double") / 10))

    val orders = ids(nOrders, "o_orderkey")
      .withColumn("o_custkey",
        pmod(xxhash64($"o_orderkey", lit("oc")), lit(nCust)))
      .withColumn("o_orderstatus",
        pick(xxhash64($"o_orderkey", lit("os")), Seq("P", "O", "F")))
      .withColumn("o_totalprice",
        round(lit(1000.0) + u(xxhash64($"o_orderkey", lit("op"))) * 499000, 2))
      .withColumn("o_orderdate", date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64($"o_orderkey", lit("od")), lit(2405L)).cast("int"))
        .cast("timestamp"))
      .withColumn("o_orderpriority",
        pick(xxhash64($"o_orderkey", lit("opr")), Seq("1-URGENT", "2-HIGH",
          "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    write(out, "orders", nullify(orders, "o_orderkey",
      "o_orderpriority", "o_orderstatus"))

    // 1..7 lines per order (mean 4, matching the measured ratio).
    val li = orders.select($"o_orderkey", $"o_orderdate")
      .withColumn("l_linenumber", explode(sequence(lit(1),
        (pmod(xxhash64($"o_orderkey", lit("nl")), lit(7L)) + 1).cast("int"))))
    def lh(salt: String): Column =
      xxhash64($"o_orderkey", $"l_linenumber", lit(salt))
    write(out, "lineitem", li
      .withColumn("l_partkey", pmod(lh("pk"), lit(nPart)))
      .withColumn("l_suppkey", pmod(lh("sk"), lit(nSupp)))
      .withColumn("l_quantity",
        (pmod(lh("q"), lit(50L)) + 1).cast("double"))
      .withColumn("l_extendedprice", round($"l_quantity" *
        (lit(900.0) + u(lh("up")) * 1200), 2))
      .withColumn("l_discount",
        pmod(lh("d"), lit(11L)).cast("double") / 100)
      .withColumn("l_tax", pmod(lh("t"), lit(9L)).cast("double") / 100)
      .withColumn("l_returnflag", pick(lh("rf"), Seq("N", "R", "A")))
      .withColumn("l_linestatus", pick(lh("ls"), Seq("F", "O")))
      .withColumn("l_shipdate", date_add($"o_orderdate".cast("date"),
        (pmod(lh("sd"), lit(95L)) + 1).cast("int")).cast("timestamp"))
      .select($"o_orderkey".as("l_orderkey"), $"l_partkey", $"l_suppkey",
        $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
        $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate")
      .transform(nullify(_, "l_orderkey", "l_returnflag", "l_linestatus")))

    // events: 30 days of Jan 2024, exponential-ish value (mean ~50).
    // ts is written as raw epoch-NANOS int64: the driver files carry
    // TIMESTAMP(NANOS), which the engine reads as a long under
    // nanosAsLong=true (Tables then does `timestamp_micros(ts DIV 1000)`),
    // so a plain long is bit-compatible on the Spark side;
    // tools/scale_nanos.py restores the nanos logical type for DuckDB.
    val t0Nanos = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli *
      1000000L
    write(out, "events", ids(nEvents, "event_id")
      .withColumn("ts", lit(t0Nanos) +
        (u(xxhash64($"event_id", lit("ts"))) * 30L * 86400L * 1000000L)
          .cast("long") * 1000L)
      .withColumn("user_id",
        pmod(xxhash64($"event_id", lit("u")), lit(nUsers)))
      .withColumn("event_type", pick(xxhash64($"event_id", lit("et")),
        Seq("click", "view", "purchase", "signup", "error")))
      .withColumn("value", greatest(lit(0.01),
        round(-log(lit(1.0) - u(xxhash64($"event_id", lit("v")))) * 50, 2)))
      .withColumn("props", concat(lit("{\"k\": "),
        pmod(xxhash64($"event_id", lit("p")), lit(100L)), lit("}")))
      .transform(nullify(_, "event_id", "user_id", "event_type")))

    write(out, "documents",
      nullify(documents(spark, nDocs, openVocab), "doc_id", "lang", "source"))
    write(out, "embeddings", embeddings(spark, nVecs, anisoEmb))
  }

  /** Bag-of-words docs over the driver vocab; ~5% are near-dup copies of
    * an earlier doc sharing the full word-sequence prefix but with the
    * tail extended/truncated by 1-2 words (J in [0.9, 0.99] on 3-word
    * shingles), a small fraction of those exact copies.
    *
    * `openVocab = false` (the default) reproduces the DRIVER testdata's
    * 30-word closed vocabulary — oracle continuity with every previous
    * round, but its 3-shingle vocabulary saturates at 27k from sf1, so
    * per-shingle df grows linearly in N and candidate pair-work grows
    * quadratically BY FIXTURE CONSTRUCTION (PLANS.md measures this) —
    * useless for judging whether the pair kernels are linear on real
    * corpora. `openVocab = true` is that evidence fixture: a Zipf-tailed
    * vocabulary that GROWS with the corpus (V = max(30, nDocs) word
    * types, rank drawn as floor(V^u) — the standard log-uniform
    * inverse-CDF giving P(r) ~ 1/r, Zipf s=1), the Heaps-law regime real
    * text lives in, where the shingle-key count grows with N and
    * per-key df stays bounded, so a linear kernel measures linear. The
    * near-dup copy mechanism is vocab-independent (copies replay the
    * base doc's word sequence), so dedup oracles work identically. */
  private def documents(spark: SparkSession, n: Long,
      openVocab: Boolean = false): DataFrame = {
    import spark.implicits._
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "a", "the", "line", "sort",
      "window", "spark", "order", "data", "column", "join", "small",
      "customer", "query", "big", "filter", "group", "vector", "stream")
    val vocabArr = array(vocab.map(lit): _*)
    val vOpen = math.max(vocab.size.toLong, n)
    def hh(salt: String): Column = xxhash64($"doc_id", lit(salt))
    def baseLen(x: Column): Column =
      (pmod(xxhash64(x, lit("len")), lit(93L)) + 8).cast("int")
    val delta = pmod(hh("delta"), lit(19L)) + 1
    // copy only when the source doc is long enough that a 2-word tail
    // change keeps shingle-Jaccard >= 0.9
    val copyOk = (pmod(hh("copy"), lit(100L)) < 5) && ($"doc_id" >= 20) &&
      (baseLen($"doc_id" - delta) >= lit(25))
    spark.range(0, n, 1, 32).toDF("doc_id")
      .withColumn("base", when(copyOk, $"doc_id" - delta).otherwise($"doc_id"))
      .withColumn("len", baseLen($"base") + when(copyOk,
        // tail edit: -2,-1,+1,+2 words; rare exact copy (tail 0)
        when(pmod(hh("exact"), lit(1000L)) < 30, lit(0)).otherwise(
          element_at(array(lit(-2), lit(-1), lit(1), lit(2)),
            (pmod(hh("tail"), lit(4L)) + 1).cast("int")))).otherwise(lit(0)))
      .withColumn("text", array_join(transform(sequence(lit(1), $"len"),
        i =>
          if (openVocab)
            // Zipf s=1 via inverse CDF: rank = floor(V^u), u uniform
            concat(lit("w"), floor(pow(lit(vOpen.toDouble),
              u(xxhash64($"base", i, lit("w"))))).cast("long"))
          else
            element_at(vocabArr,
              (pmod(xxhash64($"base", i, lit("w")), lit(vocab.size.toLong))
                + 1).cast("int"))), " "))
      .withColumn("lang", when(pmod(hh("lang"), lit(1000L)) < 420, "en")
        .when(pmod(hh("lang"), lit(1000L)) < 565, "zh")
        .when(pmod(hh("lang"), lit(1000L)) < 710, "es")
        .when(pmod(hh("lang"), lit(1000L)) < 855, "fr")
        .otherwise("de"))
      .withColumn("source",
        concat(lit("src"), pmod(hh("src"), lit(20L)).cast("string")))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Unit-norm 64-dim random vectors (Box-Muller over id-hash uniforms);
    * labels are independent of the vectors, as in the driver data.
    *
    * `aniso = true` switches to the ANISOTROPIC-spectrum variant (the
    * whitening-adoption evidence fixture — VERDICT r11 #5): per-dim
    * standard deviations {8, 6, 4, 3} on the first four raw dimensions
    * before normalization, then four fixed Givens rotations (c = 0.8,
    * s = 0.6) mixing each dominant axis with a far one, so the leading
    * eigenvectors are NOT axis-aligned and the PCA path genuinely has
    * to recover them — the Heaps-law analogue for spectra: real text
    * embeddings concentrate variance in a few directions, which is the
    * regime where sign-LSH bucket distributions skew and whitening
    * pays (PcaRotateBench's planted control measured a 3.3x
    * candidate-volume drop; this fixture lets PRODUCT queries exercise
    * the adoption path end-to-end). */
  private def embeddings(spark: SparkSession, n: Long,
      aniso: Boolean = false): DataFrame = {
    import spark.implicits._
    def zOf(id: Column, d: Column): Column = {
      val u1 = (pmod(xxhash64(id, d, lit("g1")), lit(999999000L))
        .cast("double") + 500) / 1e9
      val u2 = pmod(xxhash64(id, d, lit("g2")), lit(1000000000L))
        .cast("double") / 1e9
      sqrt(log(u1) * -2) * cos(u2 * 2 * math.Pi)
    }
    def z(d: Column): Column = zOf($"vec_id", d)
    // anisotropy: scale the first four raw dims, then mix each with a
    // far axis through a fixed Givens rotation so dominance is not
    // axis-aligned. Everything stays a pure hash of the row id.
    // PLANTED near-dups (aniso only): ~2% of vectors are perturbed
    // copies of an earlier vector (scaled-space v_base + 0.35*noise ->
    // cos ~ 0.94 after normalization; rotation is linear so the angle
    // survives) — the HIGH-threshold band real dedup corpora carry,
    // without which band-split recall (the whitening knob's actual
    // adoption domain) is unmeasurable on random geometry
    val plantDelta = pmod(xxhash64($"vec_id", lit("pd")), lit(500L)) + 1
    val planted = pmod(xxhash64($"vec_id", lit("plant")), lit(100L)) < 2 &&
      $"vec_id" >= 500
    // spectrum sized so lambda_1/mean ~ 7x (well past the 4x adoption
    // threshold) while pairwise-cosine spread stays moderate — an
    // {8,6,4,3} trial concentrated so much variance that the 0.45
    // near-dup threshold admitted ~13% of ALL pairs and the exact pair
    // family exploded; {3,2.5,2,1.5} keeps the pair relation real-world
    // sparse (~0.5%) with the skew the whitening knob exists for
    val scales = Map(0 -> 3.0, 1 -> 2.5, 2 -> 2.0, 3 -> 1.5)
    val givens = Seq((0, 17), (1, 29), (2, 41), (3, 53))
    def rawCol: Column =
      if (!aniso) transform(sequence(lit(0), lit(63)), d => z(d))
      else {
        // rotation as an index remap over the materialized __sc array
        val rot = givens.foldLeft(
            (v: Column, d: Column) => element_at(v, d.cast("int") + 1)) {
          case (get, (a, b)) => (v: Column, d: Column) =>
            when(d === a, get(v, lit(a)) * 0.8 - get(v, lit(b)) * 0.6)
              .when(d === b, get(v, lit(a)) * 0.6 + get(v, lit(b)) * 0.8)
              .otherwise(get(v, d))
        }
        transform(sequence(lit(0), lit(63)), d => rot($"__sc", d))
      }
    def scz(id: Column, d: Column): Column =
      scales.foldLeft(zOf(id, d)) { case (c, (dim, sc)) =>
        when(d === dim, zOf(id, d) * sc).otherwise(c) }
    val base0 = spark.range(0, n, 1, 32).toDF("vec_id")
    val based = if (aniso) base0.withColumn("__sc",
        transform(sequence(lit(0), lit(63)), d =>
          when(planted,
            scz($"vec_id" - plantDelta, d) + lit(0.35) * scz($"vec_id", d))
            .otherwise(scz($"vec_id", d))))
      else base0
    based
      .withColumn("raw", rawCol)
      .withColumn("norm", sqrt(aggregate($"raw", lit(0.0),
        (acc, x) => acc + x * x)))
      .withColumn("embedding",
        transform($"raw", x => (x / $"norm").cast("float")))
      .withColumn("label",
        pmod(xxhash64($"vec_id", lit("lab")), lit(10L)).cast("int"))
      .select("vec_id", "embedding", "label")
  }

  /** Write as a single parquet FILE `<out>/<name>.parquet` (driver testdata
    * layout). Single-file is fine at these sizes; the READ side stays
    * parallel because [[generate]] bounds row groups at 2 MB. */
  private def writeTable(out: String, name: String, df: DataFrame): Unit = {
    val target = new java.io.File(out, s"$name.parquet")
    graft.core.ParquetFiles.writeSingle(df, target)
    println(s"wrote $target")
  }
}
