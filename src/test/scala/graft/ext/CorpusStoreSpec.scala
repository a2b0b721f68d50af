package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Store-of-record lifecycle laws for [[CorpusStore]]: build/append/
  * delete/readd under scoped tombstones, compaction as a no-op on the
  * live view, and time travel to a retained version.
  */
class CorpusStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Long*) =
    ids.map(i => (i, s"text-$i")).toDF("doc_id", "text")

  private def liveIds(root: String): Set[Long] =
    CorpusStore.read(spark, root).select("id").as[Long].collect().toSet

  test("build, append, delete, readd — live view tracks intent") {
    val root = tmpDir("cs_life")
    CorpusStore.build(rows(1, 2, 3), col("doc_id"), root)
    assert(liveIds(root) == Set(1L, 2L, 3L))
    // verbatim columns survive (plus the normalized id key)
    val r = CorpusStore.read(spark, root).filter(col("id") === 2)
      .select("text").as[String].collect()
    assert(r.toSeq == Seq("text-2"))
    CorpusStore.append(spark, root, rows(4, 5), col("doc_id"))
    assert(liveIds(root) == Set(1L, 2L, 3L, 4L, 5L))
    CorpusStore.delete(spark, root, Seq(2L, 4L).toDF("doc_id"),
      col("doc_id"))
    assert(liveIds(root) == Set(1L, 3L, 5L))
    // delete is idempotent (live-presence-judged)
    CorpusStore.delete(spark, root, Seq(2L).toDF("doc_id"),
      col("doc_id"))
    assert(liveIds(root) == Set(1L, 3L, 5L))
    // readd: the corrected delivery is visible immediately — the old
    // tombstone is scoped to delete-time segments and cannot mask it
    CorpusStore.append(spark, root, rows(2), col("doc_id"))
    assert(liveIds(root) == Set(1L, 2L, 3L, 5L))
    // and a readded id can be deleted AGAIN
    CorpusStore.delete(spark, root, Seq(2L).toDF("doc_id"),
      col("doc_id"))
    assert(liveIds(root) == Set(1L, 3L, 5L))
  }

  test("compact preserves the live view and drops tombstone debt") {
    val root = tmpDir("cs_compact")
    CorpusStore.build(rows(1, 2, 3, 4), col("doc_id"), root)
    CorpusStore.delete(spark, root, Seq(3L).toDF("doc_id"),
      col("doc_id"))
    CorpusStore.compact(spark, root)
    assert(liveIds(root) == Set(1L, 2L, 4L))
    // post-compact the snapshot has one segment and no tombstones
    assert(IndexStore.segmentCount(spark, root) == 1)
  }

  test("time travel reads a retained version verbatim") {
    val root = tmpDir("cs_tt")
    val v1 = CorpusStore.build(rows(1, 2), col("doc_id"), root,
      retainVersions = 4)
    val v2 = CorpusStore.append(spark, root, rows(3), col("doc_id"))
    assert(v2 > v1)
    assert(CorpusStore.readAt(spark, root, v1)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(CorpusStore.readAt(spark, root, v2)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("readRange prunes non-overlapping deliveries by zone map") {
    val root = tmpDir("cs_skip")
    CorpusStore.build(rows(0L to 9L: _*), col("doc_id"), root)
    CorpusStore.append(spark, root, rows(100L to 109L: _*), col("doc_id"))
    CorpusStore.append(spark, root, rows(200L to 209L: _*), col("doc_id"))
    CorpusStore.delete(spark, root, Seq(105L).toDF("doc_id"),
      col("doc_id"))
    val got = CorpusStore.readRange(spark, root, 100L, 150L)
    assert(got.select("id").as[Long].collect().toSet ==
      ((100L to 109L).toSet - 105L), "range read must respect tombstones")
    // the zone map kept exactly ONE of the three delivery segments:
    // every scanned rows file belongs to a single seg dir
    val rowSegs = got.inputFiles.filter(_.contains("/rows/"))
      .map(_.split("/").dropRight(2).last).distinct
    assert(rowSegs.length == 1,
      s"expected one pruned segment, scanned ${rowSegs.toSeq}")
    // a range no delivery covers reads nothing and returns empty
    assert(CorpusStore.readRange(spark, root, 500L, 600L).count() == 0)
    // readRange ≡ read().filter — including ranges spanning segments
    assert(CorpusStore.readRange(spark, root, 5L, 205L)
      .select("id").as[Long].collect().toSet ==
      CorpusStore.read(spark, root).filter(col("id").between(5L, 205L))
        .select("id").as[Long].collect().toSet)
    // post-compact (range-clustered rewrite) the same reads still hold
    CorpusStore.compact(spark, root, clusterPartitions = 3)
    assert(CorpusStore.readRange(spark, root, 100L, 150L)
      .select("id").as[Long].collect().toSet ==
      ((100L to 109L).toSet - 105L))
  }

  test("key normalization replaces a pre-existing id column") {
    val root = tmpDir("cs_key")
    val df = Seq((10L, "k-a", "x")).toDF("id", "key", "text")
    CorpusStore.build(df, col("key"), root)
    val out = CorpusStore.read(spark, root)
    assert(out.columns.count(_ == "id") == 1)
    assert(out.select("id").as[String].collect().toSeq == Seq("k-a"))
  }

  test("schema evolves by addition: old rows null-fill, no rewrite") {
    val root = tmpDir("cs_evolve")
    CorpusStore.build(
      Seq((1L, "one"), (2L, "two")).toDF("id", "text"), col("id"), root)
    CorpusStore.append(spark, root,
      Seq((3L, "three", "en"), (4L, "four", "de"))
        .toDF("id", "text", "lang"),
      col("id"))
    val out = CorpusStore.read(spark, root)
      .select("id", "text", "lang").as[(Long, String, Option[String])]
      .collect().toSet
    assert(out == Set((1L, "one", None), (2L, "two", None),
      (3L, "three", Some("en")), (4L, "four", Some("de"))))
    // tombstones apply across the heterogeneous segments
    CorpusStore.delete(spark, root, Seq(1L, 3L).toDF("id"), col("id"))
    assert(CorpusStore.read(spark, root)
      .select("id").as[Long].collect().toSet == Set(2L, 4L))
    // compact materializes the merged schema physically; values and
    // nulls survive the range-clustered rewrite verbatim
    CorpusStore.compact(spark, root, clusterPartitions = 2)
    val post = CorpusStore.read(spark, root)
      .select("id", "text", "lang").as[(Long, String, Option[String])]
      .collect().toSet
    assert(post == Set((2L, "two", None), (4L, "four", Some("de"))))
    // zone-map range reads still prune over evolved segments
    CorpusStore.append(spark, root,
      Seq((10L, "ten", "fr")).toDF("id", "text", "lang"), col("id"))
    assert(CorpusStore.readRange(spark, root, 10L, 10L)
      .select("id").as[Long].collect().toSeq == Seq(10L))
  }

  test("change feed: commit-exact deltas, compact-invariant, " +
      "refresh-fatal") {
    val root = tmpDir("cs_cdc")
    def dump(since: Long): Set[(Long, String, Long)] =
      CorpusStore.changes(spark, root, since)
        .select(col("id").as[Long], col("_change").as[String],
          col("_version").as[Long])
        .collect().toSet
    CorpusStore.build( // v1
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "text"),
      col("id"), root)
    CorpusStore.append(spark, root, // v2
      Seq((4L, "four"), (5L, "five")).toDF("id", "text"), col("id"))
    CorpusStore.delete(spark, root, // v3; both ids live → effective
      Seq(2L, 4L).toDF("id"), col("id"))
    CorpusStore.append(spark, root, // v4: readd
      Seq((2L, "two again")).toDF("id", "text"), col("id"))
    assert(dump(1L) == Set(
      (4L, "insert", 2L), (5L, "insert", 2L),
      (2L, "delete", 3L), (4L, "delete", 3L),
      (2L, "insert", 4L)))
    assert(dump(3L) == Set((2L, "insert", 4L)))
    // a delete of an already-dead id is not an event (write-time
    // live-presence filter publishes nothing — no commit, no delta)
    CorpusStore.delete(spark, root, Seq(4L).toDF("id"), col("id"))
    assert(dump(4L) == Set.empty)
    // compact rewrites everything physically, changes nothing
    CorpusStore.compact(spark, root, retainVersions = 10) // v5
    assert(dump(4L) == Set.empty)
    assert(dump(1L) == Set(
      (4L, "insert", 2L), (5L, "insert", 2L),
      (2L, "delete", 3L), (4L, "delete", 3L),
      (2L, "insert", 4L)))
    // a full refresh is a world swap: the feed refuses, naming it
    CorpusStore.build(Seq((9L, "nine")).toDF("id", "text"), col("id"),
      root, retainVersions = 10) // v6
    val e = intercept[IllegalArgumentException](dump(1L))
    assert(e.getMessage.contains("re-seed"))
    assert(e.getMessage.contains("6"))
    // an unretained since-version also refuses rather than undercounts
    val e2 = intercept[IllegalArgumentException](
      CorpusStore.changes(spark, root, 999L))
    assert(e2.getMessage.contains("not retained"))
  }

  test("readFederated: earliest root wins, deletes cede, schemas merge") {
    val a = tmpDir("cs_fed_a")
    val b = tmpDir("cs_fed_b")
    // overlay carries an extra column the production store lacks
    CorpusStore.build(
      Seq((1L, "one-fixed", "r2"), (2L, "two-fixed", "r2"))
        .toDF("doc_id", "text", "rev"),
      org.apache.spark.sql.functions.col("doc_id"), a)
    CorpusStore.build(rows(1L, 2L, 3L),
      org.apache.spark.sql.functions.col("doc_id"), b)
    def fed: Map[Long, (String, Option[String])] =
      CorpusStore.readFederated(spark, Seq(a, b))
        .select("id", "text", "rev").as[(Long, String, Option[String])]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // precedence: overlay wins 1 and 2, production serves 3 (rev null)
    assert(fed === Map(
      1L -> (("one-fixed", Some("r2"))),
      2L -> (("two-fixed", Some("r2"))),
      3L -> (("text-3", None))))
    // a retracted overlay row cedes to production
    CorpusStore.delete(spark, a, Seq(1L).toDF("id"),
      org.apache.spark.sql.functions.col("id"))
    assert(fed(1L) === (("text-1", None)))
    // a production takedown with a live overlay row still serves
    CorpusStore.delete(spark, b, Seq(2L).toDF("id"),
      org.apache.spark.sql.functions.col("id"))
    assert(fed(2L) === (("two-fixed", Some("r2"))))
    // deleted everywhere → gone
    CorpusStore.delete(spark, a, Seq(2L).toDF("id"),
      org.apache.spark.sql.functions.col("id"))
    assert(!fed.contains(2L))
  }

  test("tailInto: durable cursor, at-least-once replay on crash") {
    val root = tmpDir("cs_tail")
    val cursor = s"$root/_consumer/cursor"
    val seen = scala.collection.mutable.Buffer[(Long, String, Long)]()
    def tick(fail: Boolean = false): Option[(Long, Long)] =
      CorpusStore.tailInto(spark, root, cursor) { df =>
        val rows = df.select(col("id").as[Long],
            col("_change").as[String], col("_version").as[Long])
          .collect()
        if (fail) sys.error("consumer crashed mid-window")
        seen ++= rows
      }
    CorpusStore.build( // v1
      Seq((1L, "one"), (2L, "two")).toDF("id", "text"), col("id"), root)
    assert(tick().isEmpty) // nothing after the seed version: no call
    CorpusStore.append(spark, root, // v2
      Seq((3L, "three")).toDF("id", "text"), col("id"))
    // crash mid-window: cursor must NOT advance
    intercept[RuntimeException](tick(fail = true))
    assert(seen.isEmpty)
    // replay delivers the same window, then advances
    assert(tick().contains((1L, 2L)))
    assert(seen.toSet == Set((3L, "insert", 2L)))
    assert(tick().isEmpty) // advanced: no re-delivery
    CorpusStore.delete(spark, root, Seq(1L).toDF("id"), col("id"))
    assert(tick().contains((2L, 3L)))
    assert(seen.toSet == Set((3L, "insert", 2L), (1L, "delete", 3L)))
  }

  test("stats reports the live row count and layout debt") {
    val root = tmpDir("cs_stats")
    CorpusStore.build(rows(1, 2, 3), col("doc_id"), root)
    CorpusStore.append(spark, root, rows(4, 5), col("doc_id"))
    CorpusStore.delete(spark, root, Seq(2L, 4L).toDF("doc_id"),
      col("doc_id"))
    val got = CorpusStore.stats(spark, root)
      .as[(String, Long)].collect().toMap
    assert(got("live_rows") === 3L)
    assert(got("segments") === 3L)
    assert(got("tombstone_segments") === 1L)
    assert(got("version") === 3L)
  }
}
