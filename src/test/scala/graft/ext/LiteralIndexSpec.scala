package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LiteralIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "def foo(x): return x+1"),
    (2L, "def foo (x): return x + 1"),
    (3L, "call foo(x) then def foo(x): again"),
    (4L, "unrelated words entirely"),
    (5L, "another def foo(x): appears here"),
  ).toDF("doc_id", "text")

  private def needles = Seq((10L, "foo(x)"), (11L, "def foo(x):"),
    (12L, "xyzw")).toDF("nid", "needle")

  private def sweep(dir: String) =
    LiteralIndex.searchSaved(spark, dir, docs, col("doc_id"), col("text"),
        needles, col("nid"), col("needle"))
      .as[(Long, Long)].collect().toSet

  test("saved sweep equals the in-memory literal search; append visible") {
    val dir = tmpDir("lit_idx")
    LiteralIndex.buildAndSave(docs.filter(col("doc_id") <= 3),
      col("doc_id"), col("text"), dir, n = 4, buckets = 8)
    LiteralIndex.appendDocs(spark, dir, docs.filter(col("doc_id") > 3),
      col("doc_id"), col("text"))
    val want = TextSearch.literalSearch(docs, col("doc_id"), col("text"),
      needles, col("nid"), col("needle")).as[(Long, Long)].collect().toSet
    assert(sweep(dir) == want)
    assert(want.contains((10L, 5L))) // an appended doc actually matches
  }

  test("deleteDocs masks immediately; compact removes grams physically") {
    val dir = tmpDir("lit_del")
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    LiteralIndex.delete(spark, dir, Seq(3L, 5L).toDF("doc_id"),
      col("doc_id"))
    val want = TextSearch.literalSearch(
      docs.filter(!col("doc_id").isin(3L, 5L)), col("doc_id"), col("text"),
      needles, col("nid"), col("needle")).as[(Long, Long)].collect().toSet
    assert(sweep(dir) == want)
    LiteralIndex.compact(spark, dir, retainVersions = 8)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    assert(snap.read("grams").get.select("id").as[Long]
      .collect().forall(i => i != 3L && i != 5L))
    assert(sweep(dir) == want)
  }

  test("time travel: a pinned version answers as of its commit") {
    val dir = tmpDir("lit_tt")
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    val v0 = IndexStore.snapshot(spark, dir).version
    LiteralIndex.delete(spark, dir, Seq(3L).toDF("doc_id"),
      col("doc_id"))
    // live sweep excludes doc 3; the pinned pre-delete version keeps it
    assert(!sweep(dir).contains((10L, 3L)))
    val pinned = LiteralIndex.searchSavedAt(spark, dir, v0, docs,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .as[(Long, Long)].collect().toSet
    assert(pinned.contains((10L, 3L)))
  }

  test("sweep prunes the gram scan to the needles' buckets") {
    val dir = tmpDir("lit_plan")
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    val plan = LiteralIndex.searchSaved(spark, dir, docs, col("doc_id"),
        col("text"), needles, col("nid"), col("needle"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"), plan)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("rarest-k gram selection matches hand-computed dfs") {
    // needle 1: abcd df=5, bcde df=2, cdef df=1 → 2 rarest: cdef, bcde
    val gramDf = Seq(
      (1L, "abcd", 5L), (1L, "bcde", 2L), (1L, "cdef", 1L),
      (2L, "zzzz", 9L), (2L, "yyyy", 9L), (2L, "xxxx", 9L),
    ).toDF("needle_id", "g", "df")
    val top2 = TextSearch.rarestGrams(gramDf, rareGrams = 2,
      maxDF = Long.MaxValue).as[(Long, String)].collect().toSet
    // needle 2 is all-ties: rank breaks by gram value, deterministic
    assert(top2 == Set((1L, "cdef"), (1L, "bcde"),
      (2L, "xxxx"), (2L, "yyyy")))
    // maxDF drops above-cap grams but always keeps the single rarest
    val capped = TextSearch.rarestGrams(gramDf, rareGrams = 3, maxDF = 1L)
      .as[(Long, String)].collect().toSet
    assert(capped == Set((1L, "cdef"), (2L, "xxxx")))
  }

  test("rare-gram-pruned sweep stays exact on common-gram needles") {
    val corpus = (1L to 30L).map(i =>
        (i, s"the quick brown fox number $i jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val nd = Seq((10L, "the quick brown fox number 7 jumps"),
      (11L, "the lazy dog"), (12L, "never in corpus")).toDF("nid", "needle")
    val dir = tmpDir("lit_rare")
    LiteralIndex.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    // aggressive planning: 2 rarest grams, df cap below the boilerplate
    // grams' df — answers must still equal naive contains()
    val got = LiteralIndex.searchSaved(spark, dir, corpus, col("doc_id"),
        col("text"), nd, col("nid"), col("needle"),
        rareGrams = 2, maxDF = 5L)
      .as[(Long, Long)].collect().toSet
    val want = corpus.crossJoin(nd)
      .filter(length(col("needle")) >= 4 &&
        col("text").contains(col("needle")))
      .select(col("nid"), col("doc_id")).as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.contains((10L, 7L)) && want.exists(_._1 == 11L))
  }

  test("appendDocs computes the delta grams exactly once per delivery") {
    val dir = tmpDir("lit_once")
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
      n = 4, buckets = 8)
    val acc = spark.sparkContext.longAccumulator("textEvals")
    val counting = udf { (s: String) => acc.add(1); s }
    val delta = Seq((50L, "def foo(x): delta delivery")).toDF("doc_id", "raw")
      .repartition(1)
      .withColumn("text", counting(col("raw")))
    LiteralIndex.appendDocs(spark, dir, delta, col("doc_id"), col("text"))
    // the delta is persisted under the lock: the emptiness probe, the
    // grams write, and the lexicon write share ONE evaluation per row
    assert(acc.value == 1L, s"text evaluated ${acc.value} times")
    val corpus = docs.unionByName(delta.select("doc_id", "text"))
    val got = LiteralIndex.searchSaved(spark, dir, corpus, col("doc_id"),
        col("text"), needles, col("nid"), col("needle"))
      .as[(Long, Long)].collect().toSet
    assert(got.contains((10L, 50L)))
  }

  test("append races a rebuild: any doc in the index is findable") {
    // the old bug: appendDocs read meta OUTSIDE the lock, so a rebuild
    // with a different bucket count could land in between and the
    // delivery's grams got bucketed with the stale count — present in
    // the grams relation but invisible to the bucket-pruned sweep. With
    // the meta read under the writer lock the delivery either precedes
    // the rebuild (replaced away entirely) or follows it (bucketed with
    // the new count): indexed-but-unfindable must never happen.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (round <- 1 to 3) {
      val dir = tmpDir(s"lit_race$round")
      LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), dir,
        n = 4, buckets = 8)
      val delta = Seq((60L, "def foo(x): raced delivery")).toDF("doc_id", "text")
      val fBuild = Future(LiteralIndex.buildAndSave(
        docs, col("doc_id"), col("text"), dir, n = 4, buckets = 2))
      val fAppend = Future(LiteralIndex.appendDocs(spark, dir, delta,
        col("doc_id"), col("text")))
      Await.result(fBuild, 120.seconds)
      Await.result(fAppend, 120.seconds)
      val indexed = IndexStore.snapshot(spark, dir).read("grams").get
        .select("id").distinct().as[Long].collect().toSet
      val found = LiteralIndex.searchSaved(spark, dir,
          docs.unionByName(delta), col("doc_id"), col("text"),
          Seq((10L, "foo(x)")).toDF("nid", "needle"),
          col("nid"), col("needle"))
        .as[(Long, Long)].collect().map(_._2).toSet
      // docs containing "foo(x)" verbatim (doc 2 has "foo (x)" — a space)
      val matchable = Set(1L, 3L, 5L, 60L)
      assert((indexed intersect matchable) == found,
        s"round $round: indexed=$indexed found=$found")
    }
  }

  test("stats reports the gram vocabulary envelope, including the " +
      "documented tombstone-blind planning staleness") {
    val dir = graft.Gate.tmpDir("lit_stats_")
    LiteralIndex.buildAndSave(docs.filter(col("doc_id") < 4),
      col("doc_id"), col("text"), dir, n = 4, buckets = 4)
    LiteralIndex.appendDocs(spark, dir,
      docs.filter(col("doc_id") >= 4), col("doc_id"), col("text"))
    LiteralIndex.delete(spark, dir, Seq(2L).toDF("doc_id"),
      col("doc_id"))
    val got = LiteralIndex.stats(spark, dir)
      .as[(String, Long)].collect().toMap
    // recompute the envelope over ALL delivered docs (the lexicon is
    // planning-grade: tombstoned docs still count until compact)
    val grams = docs
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("text")) - 3),
          i => col("text").substr(i, lit(4))))).as("g"))
      .groupBy("g").count()
      .agg(count(lit(1)), max("count")).head()
    assert(got("n_grams") === grams.getLong(0))
    assert(got("df_max") === grams.getLong(1))
    assert(got("gram_width") === 4L)
    assert(got("lexicon_partial_segments") === 2L)
    assert(got("segments") === 3L)
    assert(got("tombstone_segments") === 1L)
    assert(got("version") === 3L)
  }
}
