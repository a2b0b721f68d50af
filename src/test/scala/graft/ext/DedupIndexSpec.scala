package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "pack my box with five dozen liquor jugs right now"),
    (3L, "sphinx of black quartz judge my vow says the king"),
    (4L, "how vexingly quick daft zebras jump around the park"),
  ).toDF("id", "t")

  // 11 ≈ 1, 12 ≈ 2 (one-word perturbations), 13 is novel, and 14 ≈ 15
  // are near-dups of each other WITHIN the batch
  private val batch = Seq(
    (11L, "the quick brown fox jumps over the lazy dog tonight"),
    (12L, "pack my box with five dozen liquor jugs right here"),
    (13L, "completely unrelated text about distributed query engines"),
    (14L, "jackdaws love my big sphinx of quartz every morning"),
    (15L, "jackdaws love my big sphinx of quartz every evening"),
  ).toDF("id", "t")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq

  test("dedupBatch equals from-scratch minhashDedup on pairs touching the batch") {
    val dir = graft.Gate.tmpDir("dedup_idx_spec_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    val inc = pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3))
    val full = pairsOf(Dedup.minhashDedup(base.unionByName(batch),
        col("id"), col("t"), n = 2, threshold = 0.3)
      .filter(col("id_b") >= 11L))
    assert(inc == full)
    assert(inc.map(p => (p._1, p._2)).toSet ==
      Set((1L, 11L), (2L, 12L), (14L, 15L)))
  }

  test("append admits the batch; the next batch deduplicates against it") {
    val dir = graft.Gate.tmpDir("dedup_idx_spec_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    DedupIndex.append(spark, dir, batch, col("id"), col("t"))
    // a doc near-identical to an APPENDED doc (13) must now be caught
    val next = Seq(
      (21L, "completely unrelated text about distributed query planners"))
      .toDF("id", "t")
    val inc = pairsOf(DedupIndex.dedupBatch(spark, dir, next,
      col("id"), col("t"), threshold = 0.3))
    assert(inc.map(p => (p._1, p._2)) == Seq((13L, 21L)))
    // geometry survives the roundtrip
    assert(DedupIndex.readMeta(spark, dir) == DedupIndex.Meta(2, 16, 4))
  }

  test("ingestBatch returns dedupBatch's pairs and admits like append") {
    val dirA = graft.Gate.tmpDir("dedup_idx_spec_")
    val dirB = graft.Gate.tmpDir("dedup_idx_spec_")
    DedupIndex.build(base, col("id"), col("t"), dirA, n = 2)
    DedupIndex.build(base, col("id"), col("t"), dirB, n = 2)
    // separate path: dedup then admit
    val sep = pairsOf(DedupIndex.dedupBatch(spark, dirA, batch,
      col("id"), col("t"), threshold = 0.3))
    DedupIndex.append(spark, dirA, batch, col("id"), col("t"))
    // fused path
    val fused = pairsOf(DedupIndex.ingestBatch(spark, dirB, batch,
      col("id"), col("t"), threshold = 0.3))
    assert(fused == sep)
    // both indexes answer the SAME on a follow-up batch
    val next = Seq(
      (21L, "completely unrelated text about distributed query planners"))
      .toDF("id", "t")
    val a = pairsOf(DedupIndex.dedupBatch(spark, dirA, next,
      col("id"), col("t"), threshold = 0.3))
    val b = pairsOf(DedupIndex.dedupBatch(spark, dirB, next,
      col("id"), col("t"), threshold = 0.3))
    assert(a == b && a.map(p => (p._1, p._2)) == Seq((13L, 21L)))
  }

  test("df drift across appends reclassifies stop shingles like a full recompute") {
    val dir = graft.Gate.tmpDir("dedup_idx_spec_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    DedupIndex.append(spark, dir, batch, col("id"), col("t"))
    val next = Seq((31L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("id", "t")
    // maxDF = 2: incremental df (build partials + append partials + batch)
    // must equal what a from-scratch run over the full corpus computes
    val inc = pairsOf(DedupIndex.dedupBatch(spark, dir, next,
      col("id"), col("t"), threshold = 0.3, maxDF = 2))
    val full = pairsOf(Dedup.minhashDedup(
        base.unionByName(batch).unionByName(next),
        col("id"), col("t"), n = 2, threshold = 0.3, maxDF = 2)
      .filter(col("id_b") === 31L))
    assert(inc == full)
  }

  test("compact collapses df partials and preserves dedup results") {
    val dir = graft.Gate.tmpDir("dedup_idx_cmp_") + "/idx"
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    DedupIndex.append(spark, dir, batch, col("id"), col("t"))
    val next = Seq(
      (21L, "completely unrelated text about distributed query planners"))
      .toDF("id", "t")
    val before = pairsOf(DedupIndex.dedupBatch(spark, dir, next,
      col("id"), col("t"), threshold = 0.3, maxDF = 2))
    val partialsBefore = IndexStore.snapshot(spark, dir)
      .read("df").get.count()
    DedupIndex.compact(spark, dir)
    // df partials collapsed to one row per shingle...
    val df = IndexStore.snapshot(spark, dir).read("df").get
    assert(df.count() == df.select("sh").distinct().count())
    assert(df.count() < partialsBefore)
    // ...and geometry + batch-dedup results are byte-identical
    assert(DedupIndex.readMeta(spark, dir) == DedupIndex.Meta(2, 16, 4))
    val after = pairsOf(DedupIndex.dedupBatch(spark, dir, next,
      col("id"), col("t"), threshold = 0.3, maxDF = 2))
    assert(after == before)
  }

  test("deleteDocs retracts docs: batch dedup matches surviving-corpus rebuild") {
    val dir = graft.Gate.tmpDir("dedup_idx_del_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    DedupIndex.delete(spark, dir, Seq(1L).toDF("id"), col("id"))
    // maxDF low enough that the deleted doc's NEGATIVE df partials
    // matter, not just its absence from candidates
    val inc = pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3, maxDF = 3))
    val full = pairsOf(Dedup.minhashDedup(
        base.filter(col("id") =!= 1L).unionByName(batch),
        col("id"), col("t"), n = 2, threshold = 0.3, maxDF = 3)
      .filter(col("id_b") >= 11L))
    assert(inc == full)
    // doc 1's near-dup (11) must no longer pair against it
    assert(!inc.exists(_._1 == 1L))
    // compaction applies the tombstone physically, same answers
    DedupIndex.compact(spark, dir)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("shingles").get.filter(col("id") === 1L).count() === 0L)
    assert(snap.read("buckets").get.filter(col("id") === 1L).count() === 0L)
    assert(snap.read("tombstones").isEmpty)
    val after = pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3, maxDF = 3))
    assert(after == full)
    // re-deleting is a no-op, not a double-subtract
    DedupIndex.delete(spark, dir, Seq(1L, 999L).toDF("id"), col("id"))
    assert(pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3, maxDF = 3)) == full)
  }

  test("reverifyDrift re-emits an admitted pair a df crossing demotes") {
    // A and B share 4 of their 5 bigram shingles → jaccard 4/6 ≈ 0.667,
    // admitted at 0.6 with df("a b") = 2 ≤ maxDF = 2. The batch doc
    // pushes df("a b") to 3: the shared shingle becomes a stop shingle,
    // the pair re-scores to 3/(5+5-3) ≈ 0.429 and flips to not-dup.
    val drift = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),
      (3L, "totally different words here friend"),
      (4L, "another unrelated sentence about engines"),
    ).toDF("id", "t")
    val dir = graft.Gate.tmpDir("dedup_idx_drift_")
    DedupIndex.build(drift, col("id"), col("t"), dir, n = 2)
    val batch = Seq((9L, "a b z")).toDF("id", "t")
    val got = DedupIndex.reverifyDrift(spark, dir, batch,
        col("id"), col("t"), threshold = 0.6, maxDF = 2)
      .select("id_a", "id_b", "jaccard_old", "jaccard_new", "is_dup")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq((1L, 2L, 4.0 / 6.0, 3.0 / 7.0, false)))
    // without the batch, nothing crosses and nothing is re-reported
    val none = DedupIndex.reverifyDrift(spark, dir,
      Seq((10L, "q r s")).toDF("id", "t"),
      col("id"), col("t"), threshold = 0.6, maxDF = 2)
    assert(none.count() == 0L)
    // plan pin: affected ids broadcast into a (band,bucket)-keyed hash
    // join over the saved buckets — never a cartesian/nested-loop
    val p = DedupIndex.affectedCandidatePairs(spark, dir,
        Seq(1L).toDF("id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedupBatchAt re-runs yesterday's admission against the pinned version") {
    val dir = graft.Gate.tmpDir("dedup_idx_tt_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 2)
    val v0 = IndexStore.snapshot(spark, dir).version
    val then_ = pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3))
    // mutate the index: admit the batch, then delete doc 1
    DedupIndex.append(spark, dir, batch, col("id"), col("t"))
    DedupIndex.delete(spark, dir, Seq(1L).toDF("id"), col("id"))
    // latest: doc 1 can no longer pair; the batch pairs with itself
    val now = pairsOf(DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3))
    assert(!now.exists(p => p._1 == 1L))
    // pinned v0: exactly the original decision, byte for byte
    val replay = pairsOf(DedupIndex.dedupBatchAt(spark, dir, v0, batch,
      col("id"), col("t"), threshold = 0.3))
    assert(replay == then_)
  }

  test("stats reports live docs and the df-partial debt") {
    val dir = graft.Gate.tmpDir("dd_stats_")
    DedupIndex.build(base, col("id"), col("t"), dir, n = 3)
    DedupIndex.append(spark, dir, batch, col("id"), col("t"))
    DedupIndex.delete(spark, dir, Seq(2L, 12L).toDF("id"), col("id"))
    val got = DedupIndex.stats(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got("live_docs") === 7L) // 4 + 5 − 2
    // build + append df partials, plus the delete's negative partials
    assert(got("df_partial_segments") === 3L)
    assert(got("segments") === 3L)
    assert(got("tombstone_segments") === 1L)
    assert(got("version") === 3L)
    // compaction folds the partials
    DedupIndex.compact(spark, dir)
    val after = DedupIndex.stats(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(after("df_partial_segments") === 1L)
    assert(after("live_docs") === 7L)
  }
}
