package graft

import org.scalatest.funsuite.AnyFunSuite

/** Test-only [[graft.operators.MediaEncoder]]: the stub's vectors scaled
  * by 2. Top-level class (not an inner object) so the closure serializer
  * ships it without dragging a ScalaTest outer reference along. */
private class DoublingEncoder extends graft.operators.MediaEncoder {
  def encode(rows: Iterator[(Long, String, Array[Byte])])
      : Iterator[graft.operators.MediaEmb] =
    graft.operators.Multimodal.StubMediaEncoder.encode(rows)
      .map(e => graft.operators.MediaEmb(e.media_id, e.kind,
        e.emb.map(_ * 2)))
}

/** Round-13 additions: the pluggable media-encoder seam and the mm04
  * audit relation (the driver-gated form that closed the last no_oracle
  * row). */
class Round13Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("MediaEncoder seam: a swapped encoder changes ONLY the vectors — " +
      "domain, kinds, and plumbing are encoder-agnostic") {
    import graft.operators.Multimodal
    val stub = Multimodal.mediaEmb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
      .sortBy(_._1)
    spark.catalog.clearCache()
    val swapped = Multimodal.mediaEmb(spark, sf, new DoublingEncoder)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
      .sortBy(_._1)
    assert(stub.nonEmpty)
    assert(stub.map(t => (t._1, t._2)).sameElements(
      swapped.map(t => (t._1, t._2))),
      "encoder swap must not change the (media_id, kind) domain")
    stub.zip(swapped).foreach { case ((id, _, a), (_, _, b)) =>
      assert(a.map(_ * 2) == b, s"media $id: swapped emb is not 2x stub")
    }
  }

  test("mm04 audit: one row per media, contract booleans hold, and " +
      "has_twin equals a brute-force identical-embedding census") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val rows = Multimodal.mediaKnnAudit(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.length == docs, s"audit ${rows.length} rows, corpus $docs")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("dup_recall_ok"), s"dup_recall_ok: $r")
      assert(r.getAs[Boolean]("le1_row"), s"le1_row: $r")
      assert(r.getAs[Boolean]("sound_ok"), s"sound_ok: $r")
    }
    // brute-force twin census over the embedding relation itself
    val em = Multimodal.mediaEmb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    spark.catalog.clearCache()
    val twins = em.filter(_._3.exists(_ != 0f))
      .groupBy(t => (t._2, t._3)).values
      .filter(_.size > 1).flatMap(_.map(_._1)).toSet
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Boolean]("has_twin") == twins(id),
        s"media $id: has_twin ${r.getAs[Boolean]("has_twin")}, " +
          s"census says ${twins(id)}")
    }
    assert(twins.nonEmpty, "fixture lost its planted duplicate clusters")
  }
}
