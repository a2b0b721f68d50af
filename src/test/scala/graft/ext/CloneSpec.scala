package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The corpus-clone laws ([[IndexStore.cloneAt]],
  * [[Takedown.cloneCorpus]]): the clone answers exactly the pinned
  * state, is fully independent in BOTH directions (source mutations
  * invisible to the clone, clone mutations invisible to the source),
  * carries its own incarnation and version-1 history, and brings
  * intra-segment sidecars along.
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha bravo charlie delta"),
    (2L, "alpha bravo echo foxtrot"),
    (3L, "golf hotel india juliet"),
    (4L, "kilo lima mike november"),
  ).toDF("doc_id", "text")

  private def liveIds(root: String): Set[Long] =
    CorpusStore.read(spark, root).select("id").as[Long].collect().toSet

  test("cloneAt: pinned content travels; fresh incarnation and history") {
    val src = tmpDir("clone_src")
    CorpusStore.build(docs, col("doc_id"), src)
    val v = CorpusStore.append(spark, src,
      Seq((5L, "oscar papa")).toDF("doc_id", "text"), col("doc_id"))
    val dst = tmpDir("clone_dst") + "/ix"
    val dv = IndexStore.cloneAt(spark, src, dst, v)
    assert(dv === 1L)
    assert(liveIds(dst) === Set(1L, 2L, 3L, 4L, 5L))
    assert(IndexStore.incarnation(spark, dst) !==
      IndexStore.incarnation(spark, src))
    assert(IndexStore.versions(spark, dst) === Seq(1L))
  }

  test("cloneAt clones a PINNED version, not the head") {
    val src = tmpDir("clone_pin_src")
    val v1 = CorpusStore.build(docs, col("doc_id"), src)
    CorpusStore.append(spark, src,
      Seq((9L, "later delivery")).toDF("doc_id", "text"), col("doc_id"))
    val dst = tmpDir("clone_pin_dst") + "/ix"
    IndexStore.cloneAt(spark, src, dst, v1)
    assert(liveIds(dst) === Set(1L, 2L, 3L, 4L))
  }

  test("clone independence holds in both directions") {
    val src = tmpDir("clone_ind_src")
    val v = CorpusStore.build(docs, col("doc_id"), src)
    val dst = tmpDir("clone_ind_dst") + "/ix"
    IndexStore.cloneAt(spark, src, dst, v)
    // mutate the source: invisible to the clone
    CorpusStore.delete(spark, src,
      Seq(1L).toDF("doc_id"), col("doc_id"))
    CorpusStore.append(spark, src,
      Seq((6L, "source only")).toDF("doc_id", "text"), col("doc_id"))
    assert(liveIds(dst) === Set(1L, 2L, 3L, 4L))
    // mutate the clone: invisible to the source
    CorpusStore.delete(spark, dst,
      Seq(3L).toDF("doc_id"), col("doc_id"))
    assert(liveIds(src) === Set(2L, 3L, 4L, 6L))
    assert(liveIds(dst) === Set(1L, 2L, 4L))
  }

  test("cloneAt refuses a destination that is already an index root") {
    val src = tmpDir("clone_dup_src")
    val v = CorpusStore.build(docs, col("doc_id"), src)
    val dst = tmpDir("clone_dup_dst") + "/ix"
    IndexStore.cloneAt(spark, src, dst, v)
    intercept[IllegalArgumentException] {
      IndexStore.cloneAt(spark, src, dst, v)
    }
  }

  test("cloneCorpus: one pinned vector, every surface, registry rebuilt") {
    val root = tmpDir("clone_corp_root")
    val store = tmpDir("clone_corp_store")
    val bm25 = tmpDir("clone_corp_bm25")
    CorpusStore.build(docs, col("doc_id"), store)
    TextSearch.buildAndSave(docs, col("doc_id"), col("text"), bm25,
      buckets = 4)
    Takedown.register(spark, root, Takedown.Surface("store", store))
    Takedown.register(spark, root, Takedown.Surface("bm25", bm25))
    val dstRoot = tmpDir("clone_corp_dst")
    val cloned = Takedown.cloneCorpus(spark, root, dstRoot)
    assert(cloned.map(_._1.kind).sorted === Seq("bm25", "store"))
    // post-clone delivery on the source surfaces
    val extra = Seq((7L, "alpha golf delivery")).toDF("doc_id", "text")
    CorpusStore.append(spark, store, extra, col("doc_id"))
    TextSearch.appendDocs(spark, bm25, extra, col("doc_id"), col("text"))
    val byKind = cloned.map { case (s, _) => s.kind -> s.path }.toMap
    assert(liveIds(byKind("store")) === Set(1L, 2L, 3L, 4L))
    val hits = TextSearch.searchSaved(spark, byKind("bm25"),
        Seq((1L, Seq("alpha", "golf"))).toDF("qid", "qterms"),
        col("qid"), col("qterms"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(hits === Set(1L, 2L, 3L))
    // the clone root's own registry can run registry-wide operations:
    // a takedown against the CLONE leaves the source intact
    Takedown.retract(spark, dstRoot, Seq(2L).toDF("id"), col("id"))
    assert(liveIds(byKind("store")) === Set(1L, 3L, 4L))
    assert(liveIds(store) === Set(1L, 2L, 3L, 4L, 7L))
    // provenance names the source corpus and, per surface, the source
    // path + incarnation + version the clone was cut from
    val prov = Takedown.provenance(spark, dstRoot)
    assert(prov.head === Seq("source", root))
    val byK = prov.tail.map(r => r(0) -> r).toMap
    assert(byK.keySet === Set("store", "bm25"))
    assert(byK("store")(1) === store)
    assert(byK("store")(2) === IndexStore.incarnation(spark, store))
    assert(byK("store")(4) === byKind("store"))
    // a non-clone root has no provenance
    assert(Takedown.provenance(spark, root).isEmpty)
  }
}
