package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-index commit protocol ([[IndexStore]]): readers pin a
  * manifest version, mutators publish atomically under the writer lock
  * — so a search racing a compaction can never error or read a
  * half-swapped index (the rename-swap this replaced had a no-index
  * window between its two renames), and concurrent mutators serialize
  * instead of last-writer-winning each other's segments away. Mirrors
  * BillingStoreConcurrencySpec's reader test, per the same design.
  */
class IndexStoreConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cats and dogs and cats"),
    (3L, "a completely unrelated document about spark")
  ).toDF("doc_id", "text")

  private def queries = Seq((100L, Seq("cat", "sat")))
    .toDF("qid", "qterms")

  test("a reader racing repeated compactions never errors, sees one world") {
    val dir = tmpDir("ixrace")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val expected = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    @volatile var compactorError: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // retention must exceed the commits a concurrent reader's longest
    // operation can span — the version-depth contract. A tight
    // compaction loop against slow readers needs a deeper window than
    // the default 2 (same sizing exercise Delta vacuum retention is).
    val compactor = new Thread(() =>
      try while (!stop.get())
        TextSearch.compact(spark, dir, retainVersions = 16)
      catch { case t: Throwable => compactorError = Some(t) })
    compactor.start()
    try {
      // every read while the index is being republished underneath must
      // return exactly the committed answers — never an error, never a
      // mixed old+new view (which would double or drop postings)
      (1 to 12).foreach { _ =>
        val got = rows(TextSearch.searchSaved(spark, dir, queries,
          col("qid"), col("qterms"), k = 4).orderBy("rn"))
        assert(got === expected)
      }
    } finally {
      stop.set(true)
      compactor.join(60000)
    }
    assert(compactorError.isEmpty, s"compactor failed: $compactorError")
  }

  test("append racing compact loses zero postings (lock serializes)") {
    val dir = tmpDir("ixappcmp")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val delta = Seq((10L, "another cat document where the cat sat twice"))
      .toDF("doc_id", "text")
    val appender = new Thread(() =>
      TextSearch.appendDocs(spark, dir, delta, col("doc_id"), col("text")))
    val compactor = new Thread(() => TextSearch.compact(spark, dir))
    appender.start(); compactor.start()
    appender.join(60000); compactor.join(60000)
    // whichever order the lock granted, the delivery must survive: the
    // post-race index answers like a from-scratch union rebuild
    val got = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 5).orderBy("rn"))
    val want = rows(TextSearch.search(
      TextSearch.buildIndex(corpus.unionByName(delta),
        col("doc_id"), col("text")),
      queries, col("qid"), col("qterms"), k = 5).orderBy("rn"))
    assert(got === want)
  }

  test("maybeCompact fires only past the segment threshold, then resets it") {
    val dir = tmpDir("ixpolicy")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    assert(IndexStore.segmentCount(spark, dir) == 1)
    // one fresh build is under any sane threshold — no compaction
    assert(!TextSearch.maybeCompact(spark, dir, maxSegments = 3))
    // three appends push the manifest to 4 segments
    (1 to 3).foreach { i =>
      TextSearch.appendDocs(spark, dir,
        Seq((100L + i, s"delivery number $i about cats"))
          .toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    assert(IndexStore.segmentCount(spark, dir) == 4)
    assert(TextSearch.maybeCompact(spark, dir, maxSegments = 3))
    assert(IndexStore.segmentCount(spark, dir) == 1)
    // answers unchanged by the policy-triggered compaction
    val got = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 5).orderBy("rn"))
    assert(got.nonEmpty)
  }

  test("ANN search racing IVF compaction sees one world; policy amortizes") {
    val embs = (0L until 60L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivfrace")
    val model = IvfIndex.build(embs, k = 3)
    IvfIndex.save(model, dir)
    val delta = (100L until 110L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    IvfIndex.saveAppend(model, delta, dir)
    val all = embs.unionByName(delta)
    def answers() = rows(
      IvfIndex.search(IvfIndex.load(spark, dir, all), col("vec_id") < 3,
          k = 3, nProbe = 3)
        .orderBy("query_id", "rank"))
    val expected = answers()
    @volatile var compactorError: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() =>
      try while (!stop.get())
        IvfIndex.compact(spark, dir, retainVersions = 16)
      catch { case t: Throwable => compactorError = Some(t) })
    compactor.start()
    try {
      (1 to 8).foreach { _ =>
        assert(answers() == expected) // never an error, never a mixed view
      }
    } finally { stop.set(true); compactor.join() }
    assert(compactorError.isEmpty, s"compactor failed: $compactorError")
    // size-tiered policy: fresh compact leaves 1 segment — under the
    // threshold nothing fires; appends past it trigger exactly one
    assert(!IvfIndex.maybeCompact(spark, dir, maxSegments = 2))
    IvfIndex.saveAppend(model, delta.withColumn("vec_id",
      col("vec_id") + 100), dir)
    IvfIndex.saveAppend(model, delta.withColumn("vec_id",
      col("vec_id") + 200), dir)
    assert(IndexStore.segmentCount(spark, dir) == 3)
    assert(IvfIndex.maybeCompact(spark, dir, maxSegments = 2))
    assert(IndexStore.segmentCount(spark, dir) == 1)
  }

  test("dedup batch racing index compaction sees one world") {
    import org.apache.spark.sql.functions.lower
    val dir = tmpDir("ddrace")
    val docs = corpus.select(col("doc_id").as("id"),
      lower(col("text")).as("t"))
    DedupIndex.build(docs, col("id"), col("t"), dir, n = 2)
    val batch = Seq((10L, "the cat sat on the mat tonight"))
      .toDF("id", "t")
    val expected = DedupIndex.dedupBatch(spark, dir, batch,
      col("id"), col("t"), threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    @volatile var err: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // dedup reads span multiple jobs (candidates + verification), so
    // they can outlive several tight-loop commits: size the retention
    // window accordingly (the version-depth contract)
    val compactor = new Thread(() =>
      try while (!stop.get())
        DedupIndex.compact(spark, dir, retainVersions = 16)
      catch { case t: Throwable => err = Some(t) })
    compactor.start()
    try (1 to 8).foreach { _ =>
      val got = DedupIndex.dedupBatch(spark, dir, batch,
        col("id"), col("t"), threshold = 0.3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expected)
    } finally {
      stop.set(true)
      compactor.join(60000)
    }
    assert(err.isEmpty, s"compactor failed: $err")
  }

  test("pooled commit writes run under their caller's job group") {
    import org.apache.spark.sql.functions.lower
    val docs = corpus.select(col("doc_id").as("id"),
      lower(col("text")).as("t"))
    // a dedup build writes five relations, four of them on the commit
    // pool; a pool thread must not keep the group of whichever caller
    // created it
    val got = graft.GroupJobs.counting(spark.sparkContext, "pool-group-") {
      g =>
        Seq("a", "b").map { name =>
          g.step(name)(DedupIndex.build(docs, col("id"), col("t"),
            tmpDir(s"pool_$name"), n = 2))
          g.jobs(name)
        }
    }
    assert(got.forall(_ >= 5), got)
    assert(got.distinct.size == 1, got)
  }

  test("gc retains segments pinned by the retention window, drops older") {
    val dir = tmpDir("ixgc")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val segsBefore = IndexStore.snapshot(spark, dir).lines
      .map(_.split("/").head).toSet
    TextSearch.compact(spark, dir)
    // retention = 2 versions: the pre-compact segment must survive the
    // compacting commit (a pinned reader may still be scanning it)...
    val listed = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("seg-")).toSet
    assert(segsBefore.subsetOf(listed))
    // ...and fall out once one more commit pushes it past the window
    TextSearch.compact(spark, dir)
    val after2 = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("seg-")).toSet
    assert(segsBefore.intersect(after2).isEmpty)
  }

  test("slow reader outliving retention fails cleanly, naming its version") {
    val dir = tmpDir("ixslow")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val pinned = IndexStore.snapshot(spark, dir)
    // two replace-commits push the pinned version past retention=2 and
    // GC deletes its segments out from under the reader
    TextSearch.compact(spark, dir)
    TextSearch.compact(spark, dir)
    val e = intercept[java.io.FileNotFoundException] {
      pinned.read("postings").get.count()
    }
    assert(e.getMessage.contains(s"version ${pinned.version}"), e.getMessage)
    assert(e.getMessage.contains("lease"), e.getMessage)
  }

  test("a reader lease holds its version through later commits") {
    val dir = tmpDir("ixlease")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val v0 = IndexStore.snapshot(spark, dir).version
    val queries = Seq((1L, Seq("alpha"))).toDF("qid", "qterms")
    IndexStore.withLease(spark, dir, v0) { snap =>
      // three compacting commits would normally GC v0's segments
      TextSearch.compact(spark, dir)
      TextSearch.compact(spark, dir)
      TextSearch.compact(spark, dir)
      // the leased snapshot still scans end-to-end
      assert(snap.read("postings").get.count() > 0L)
      // and the version stays addressable for fresh pins too
      assert(IndexStore.versions(spark, dir).contains(v0))
    }
    // lease released: the next commit's GC finally reclaims v0
    TextSearch.compact(spark, dir)
    assert(!IndexStore.versions(spark, dir).contains(v0))
    // an expired lease never blocks GC: write one already lapsed
    val v1 = IndexStore.snapshot(spark, dir).version
    assertThrows[java.io.FileNotFoundException] {
      IndexStore.withLease(spark, dir, v0)(_ => ())
    }
    assert(IndexStore.versions(spark, dir).contains(v1))
  }
}
