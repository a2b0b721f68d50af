package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Delete-then-readd across the persisted index family: tombstones are
  * SCOPED to the data segments present when the delete committed
  * ([[IndexStore.tombstones]]), so a document/vector re-ingested after
  * a delete is live again via its new delivery — the old rows stay
  * masked, the new rows are visible, a compact keeps exactly the
  * re-added content, and a SECOND delete retracts the re-added copy
  * (live-rows presence, not the old already-tombstoned anti-join).
  */
class TombstoneScopeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha bravo charlie delta echo"),
    (2L, "alpha bravo foxtrot golf hotel"),
    (3L, "india juliet kilo lima mike"),
  ).toDF("doc_id", "text")

  test("literal index: delete, readd, search, compact, re-delete") {
    val dir = tmpDir("scope_lit")
    val needles = Seq((10L, "juliet kilo")).toDF("nid", "needle")
    def hits(corpus: org.apache.spark.sql.DataFrame) =
      LiteralIndex.searchSaved(spark, dir, corpus, col("doc_id"),
          col("text"), needles, col("nid"), col("needle"))
        .as[(Long, Long)].collect().toSet
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    LiteralIndex.delete(spark, dir, Seq(3L).toDF("doc_id"), col("doc_id"))
    assert(hits(docs).isEmpty)
    // corrected delivery: same id, revised text — must become visible
    val readd = Seq((3L, "india juliet kilo lima CORRECTED")).toDF("doc_id", "text")
    LiteralIndex.appendDocs(spark, dir, readd, col("doc_id"), col("text"))
    val corpus2 = docs.filter(col("doc_id") =!= 3L).unionByName(readd)
    assert(hits(corpus2) == Set((10L, 3L)))
    // compact applies the masks physically but KEEPS the re-added rows
    LiteralIndex.compact(spark, dir, retainVersions = 8)
    assert(hits(corpus2) == Set((10L, 3L)))
    // the re-added copy is deletable (old code no-op'd on the standing
    // tombstone and the corrected delivery was un-retractable)
    LiteralIndex.delete(spark, dir, Seq(3L).toDF("doc_id"), col("doc_id"))
    assert(hits(corpus2).isEmpty)
  }

  test("bm25 index: readd scores exactly like a rebuild over the union") {
    val dir = tmpDir("scope_bm25")
    val queries = Seq((1L, Seq("juliet", "kilo"))).toDF("qid", "qterms")
    TextSearch.buildAndSave(docs, col("doc_id"), col("text"), dir,
      buckets = 8)
    TextSearch.delete(spark, dir, Seq(3L).toDF("doc_id"), col("doc_id"))
    val readd = Seq((3L, "india juliet kilo lima CORRECTED"))
      .toDF("doc_id", "text")
    TextSearch.appendDocs(spark, dir, readd, col("doc_id"), col("text"))
    val got = TextSearch.searchSaved(spark, dir, queries, col("qid"),
        col("qterms"), k = 5)
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    // reference: from-scratch build over survivors ∪ corrected delivery
    val refDir = tmpDir("scope_bm25_ref")
    TextSearch.buildAndSave(
      docs.filter(col("doc_id") =!= 3L).unionByName(readd),
      col("doc_id"), col("text"), refDir, buckets = 8)
    val want = TextSearch.searchSaved(spark, refDir, queries, col("qid"),
        col("qterms"), k = 5)
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.exists(_._3 == 3L), s"re-added doc missing from $got")
  }

  test("dedup index: a re-added doc pairs against new batches again") {
    val dir = tmpDir("scope_dedup")
    DedupIndex.build(docs, col("doc_id"), col("text"), dir,
      n = 2, bands = 8, rowsPerBand = 2)
    DedupIndex.delete(spark, dir, Seq(1L).toDF("doc_id"), col("doc_id"))
    // near-clone of doc 1: no pairs while doc 1 is deleted
    val probe = Seq((99L, "alpha bravo charlie delta echo"))
      .toDF("doc_id", "text")
    val before = DedupIndex.dedupBatch(spark, dir, probe, col("doc_id"),
      col("text"), threshold = 0.5).count()
    assert(before == 0L)
    DedupIndex.append(spark, dir,
      Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val after = DedupIndex.dedupBatch(spark, dir, probe, col("doc_id"),
        col("text"), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(after == Set((1L, 99L)), s"got $after")
  }

  test("sq index: a re-added vector is searchable again") {
    val dir = tmpDir("scope_sq")
    val embs = (0 until 8).map(i =>
        (i.toLong, Array.tabulate(4)(j =>
          (if (j == i % 4) 1.0f else 0.0f) + 0.01f * i)))
      .toDF("vec_id", "embedding")
    SqIndex.save(SqIndex.build(embs), dir)
    SqIndex.delete(spark, dir, Seq(4L).toDF("vec_id"), col("vec_id"))
    def ids(corpus: org.apache.spark.sql.DataFrame): Set[Long] = {
      val m = SqIndex.load(spark, dir, corpus)
      m.encoded.select("vec_id").as[Long].collect().toSet
    }
    assert(!ids(embs).contains(4L))
    val readd = embs.filter(col("vec_id") === 4L)
    SqIndex.saveAppend(SqIndex.load(spark, dir, embs), readd, dir)
    assert(ids(embs).contains(4L))
    // second delete retracts the re-added copy
    SqIndex.delete(spark, dir, Seq(4L).toDF("vec_id"), col("vec_id"))
    assert(!ids(embs).contains(4L))
  }

  test("gc: every advertised manifest version stays fully readable") {
    val dir = tmpDir("scope_gc")
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 4, retainVersions = 2)
    // several replace-commits so GC and history pruning both engage
    for (_ <- 1 to 4)
      LiteralIndex.compact(spark, dir, retainVersions = 2)
    val vs = IndexStore.versions(spark, dir)
    assert(vs.size <= 2, s"advertised $vs")
    // every advertised version must scan end-to-end, not just resolve
    vs.foreach { v =>
      val snap = IndexStore.snapshotAt(spark, dir, v)
      assert(snap.read("grams").get.count() > 0L, s"version $v unreadable")
    }
  }
}
