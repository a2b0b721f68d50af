package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cats and dogs and cats"),
    (3L, "a completely unrelated document about spark")
  ).toDF("doc_id", "text")

  private def queries = Seq((100L, Seq("cat", "sat")))
    .toDF("qid", "qterms")

  private def savedPostings(dir: String) =
    IndexStore.snapshot(spark, dir).read("postings").get

  test("index relations carry tf, dl, df, positions, and corpus stats") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val p = ix.postings.filter(col("id") === 0 && col("term") === "the")
      .head()
    assert(p.getAs[Long]("tf") === 2L)
    assert(p.getAs[Long]("dl") === 6L)
    // positional payload: "the" is tokens 0 and 4 of doc 0
    assert(p.getAs[Seq[Int]]("positions") === Seq(0, 4))
    assert(ix.lexicon.filter(col("term") === "sat").head()
      .getAs[Long]("df") === 2L)
    val st = ix.stats.head()
    assert(st.getAs[Long]("n_docs") === 4L)
    // (6 + 6 + 5 + 6) / 4
    assert(math.abs(st.getAs[Double]("avgdl") - 5.75) < 1e-9)
  }

  test("bm25 scores match the formula and rank the right doc first") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val hits = TextSearch.search(ix, queries, col("qid"), col("qterms"),
      k = 3).orderBy("rn").collect()
    // "cat" appears only in doc 0; "sat" in docs 0 and 1 → doc 0 first,
    // matching both terms
    assert(hits.head.getAs[Long]("id") === 0L)
    assert(hits.head.getAs[Long]("matched") === 2L)
    // hand-computed BM25 (k1=1.2, b=0.75, N=4, avgdl=5.75, doc 0 dl=6):
    // idf(cat)=ln(1+(4-1+0.5)/1.5), idf(sat)=ln(1+(4-2+0.5)/2.5),
    // tfnorm(tf=1,dl=6)=2.2/(1+0.3+0.9*6/5.75)
    val tfn = 2.2 / (1.0 + 0.3 + 0.9 * 6.0 / 5.75)
    val expected = (math.log(1 + 3.5 / 1.5) + math.log(1 + 2.5 / 2.5)) * tfn
    assert(math.abs(hits.head.getAs[Double]("score") - expected) < 1e-5)
    // a query term absent from the corpus contributes nothing
    val hits2 = TextSearch.search(ix,
      Seq((101L, Seq("cat", "zzzmissing"))).toDF("qid", "qterms"),
      col("qid"), col("qterms"), k = 3).collect()
    assert(hits2.forall(_.getAs[Long]("matched") === 1L))
  }

  test("maxDF suppresses frequent terms and rescores from the survivors") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val q = Seq((100L, Seq("the", "cat", "sat"))).toDF("qid", "qterms")
    // df: the=2, sat=2, cat=1 → maxDF=1 keeps only "cat": one matched
    // term, score is cat's contribution alone (hand-computed)
    val capped = TextSearch.search(ix, q, col("qid"), col("qterms"),
      k = 3, maxDF = 1L).orderBy("rn").collect()
    assert(capped.map(_.getAs[Long]("id")).toSeq === Seq(0L))
    assert(capped.head.getAs[Long]("matched") === 1L)
    val tfn = 2.2 / (1.0 + 0.3 + 0.9 * 6.0 / 5.75)
    val expected = math.log(1 + 3.5 / 1.5) * tfn
    assert(math.abs(capped.head.getAs[Double]("score") - expected) < 1e-5)
    // maxDF=2 admits all three terms: doc 0 matches all of them and
    // docs 1 ("the sat") re-enter the result
    val loose = TextSearch.search(ix, q, col("qid"), col("qterms"),
      k = 3, maxDF = 2L).orderBy("rn").collect()
    assert(loose.head.getAs[Long]("matched") === 3L)
    assert(loose.map(_.getAs[Long]("id")).length > 1)
  }

  test("saved index answers exactly like the in-memory one, pruned") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val mem = TextSearch.search(ix, queries, col("qid"), col("qterms"),
      k = 3).orderBy("rn")
    val dir = tmpDir("bm25idx")
    TextSearch.save(ix, dir, buckets = 8)
    val saved = TextSearch.searchSaved(spark, dir, queries, col("qid"),
      col("qterms"), k = 3).orderBy("rn")
    assert(rows(saved) === rows(mem))
    // the saved layout is bucket-partitioned so searches prune on it
    assert(savedPostings(dir).columns.contains("bucket"))
    // maxDF threads through the saved path too
    val cappedSaved = TextSearch.searchSaved(spark, dir,
      Seq((100L, Seq("the", "cat", "sat"))).toDF("qid", "qterms"),
      col("qid"), col("qterms"), k = 3, maxDF = 1L).collect()
    assert(cappedSaved.map(_.getAs[Long]("id")).toSeq === Seq(0L))
    assert(cappedSaved.head.getAs[Long]("matched") === 1L)
  }

  test("appended delivery answers like a from-scratch union rebuild") {
    val delta = Seq((10L, "another cat document where the cat sat twice"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bm25app")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 8)
    TextSearch.appendDocs(spark, dir, delta, col("doc_id"), col("text"))
    val inc = TextSearch.searchSaved(spark, dir, queries, col("qid"),
      col("qterms"), k = 4).orderBy("rn")
    val full = TextSearch.search(
      TextSearch.buildIndex(corpus.unionByName(delta),
        col("doc_id"), col("text")),
      queries, col("qid"), col("qterms"), k = 4).orderBy("rn")
    assert(rows(inc) === rows(full))
    // the delivery changed global df("cat") and avgdl, and the new doc
    // must be retrievable — not just present
    assert(inc.collect().exists(_.getAs[Long]("id") === 10L))
  }

  test("compaction preserves answers and collapses partials") {
    val delta = Seq((10L, "another cat document where the cat sat twice"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bm25cmp")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 8)
    TextSearch.appendDocs(spark, dir, delta, col("doc_id"), col("text"))
    val before = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    TextSearch.compact(spark, dir)
    val after = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    assert(after === before)
    val snap = IndexStore.snapshot(spark, dir)
    // two deliveries' stats partials collapse to one row
    assert(snap.read("stats").get.count() === 1L)
    // df partials sum to one row per (bucket, term)
    val lex = snap.read("lexicon").get
    assert(lex.count() === lex.select("term").distinct().count())
    // compaction replaced the manifest content, not appended to it
    assert(snap.dirs("postings").size === 1)
  }

  test("deleteDocs scores like a rebuild over the surviving corpus") {
    val dir = tmpDir("bm25del")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 8)
    // delete doc 1 ("the dog sat on the log"): df(sat) 2→1, df(the)
    // 2→1, n_docs 4→3, avgdl moves — scores must shift accordingly
    TextSearch.delete(spark, dir, Seq(1L).toDF("doc_id"),
      col("doc_id"))
    val masked = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    val rebuilt = rows(TextSearch.search(
      TextSearch.buildIndex(corpus.filter(col("doc_id") =!= 1),
        col("doc_id"), col("text")),
      queries, col("qid"), col("qterms"), k = 4).orderBy("rn"))
    assert(masked === rebuilt)
    // pre-compact the postings still hold the doc (tombstone-masked)...
    assert(savedPostings(dir).filter(col("id") === 1).count() > 0)
    // ...and compaction applies the tombstone physically, same answers
    TextSearch.compact(spark, dir)
    assert(savedPostings(dir).filter(col("id") === 1).count() === 0)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    assert(rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn")) === rebuilt)
    // deleting the same id again is a no-op, not a double-subtract
    TextSearch.delete(spark, dir, Seq(1L, 999L).toDF("doc_id"),
      col("doc_id"))
    assert(rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn")) === rebuilt)
  }

  test("phrase search counts occurrences, handles repeats and overlaps") {
    val c = Seq(
      (0L, "the cat sat and the cat sat again"),
      (1L, "cat sat the cat"),
      (2L, "a a a a"),
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val phrases = Seq(
      (100L, Seq("the", "cat", "sat")),
      (101L, Seq("a", "a")) // duplicate-term phrase, overlapping hits
    ).toDF("pid", "pterms")
    val expected = Set((100L, 0L, 2L), (101L, 2L, 3L))
    val got = TextSearch.phraseSearch(c, col("doc_id"), col("text"),
        phrases, col("pid"), col("pterms"))
      .as[(Long, Long, Long)].collect().toSet
    // "the cat sat" twice in doc 0, never in doc 1 ("cat sat the cat")
    // "a a" overlaps 3 times in "a a a a"
    assert(got === expected)
    // the saved positional postings answer identically, without the
    // corpus — and respect tombstones
    val dir = tmpDir("bm25phr")
    TextSearch.buildAndSave(c, col("doc_id"), col("text"), dir,
      buckets = 8)
    val saved = TextSearch.phraseSearchSaved(spark, dir, phrases,
        col("pid"), col("pterms"))
      .as[(Long, Long, Long)].collect().toSet
    assert(saved === expected)
    TextSearch.delete(spark, dir, Seq(0L).toDF("doc_id"),
      col("doc_id"))
    val afterDel = TextSearch.phraseSearchSaved(spark, dir, phrases,
        col("pid"), col("pterms"))
      .as[(Long, Long, Long)].collect().toSet
    assert(afterDel === Set((101L, 2L, 3L)))
  }

  test("weighted search: unit weights equal search; boosts reorder") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val plain = rows(TextSearch.search(ix, queries, col("qid"),
      col("qterms"), k = 4).orderBy("rn"))
    val unit = rows(TextSearch.searchWeighted(ix,
      Seq((100L, "cat", 1.0), (100L, "sat", 1.0))
        .toDF("qid", "term", "w"),
      col("qid"), col("term"), col("w"), k = 4).orderBy("rn"))
    assert(unit === plain)
    // (cat, dog) at equal weights ties docs 0 and 1 (same tf, dl, df)
    // and id breaks toward doc 0; boosting "dog" must flip the order
    val boosted = TextSearch.searchWeighted(ix,
        Seq((100L, "cat", 1.0), (100L, "dog", 50.0))
          .toDF("qid", "term", "w"),
        col("qid"), col("term"), col("w"), k = 4)
      .orderBy("rn").select("id").as[Long].collect().toSeq
    assert(boosted.indexOf(1L) < boosted.indexOf(0L))
    // duplicate vector components sum their weights
    val summed = rows(TextSearch.searchWeighted(ix,
      Seq((100L, "cat", 0.5), (100L, "cat", 0.5), (100L, "sat", 1.0))
        .toDF("qid", "term", "w"),
      col("qid"), col("term"), col("w"), k = 4).orderBy("rn"))
    assert(summed === plain)
  }

  test("proximity search finds the minimal covering window") {
    val docs = Seq(
      (0L, "cat x x x dog x cat dog"),   // windows: [0..4]=5, [6..7]=2
      (1L, "dog y cat"),                 // one window: 3
      (2L, "cat only here"),             // dog missing → no match
      (3L, "x cat dog x")                // adjacent: 2
    ).toDF("doc_id", "text")
    val phrases = Seq((7L, Seq("cat", "dog"))).toDF("pid", "pterms")
    val got = TextSearch.proximitySearch(docs, col("doc_id"), col("text"),
        phrases, col("pid"), col("pterms"), maxWindow = 10)
      .as[(Long, Long, Int)].collect().map(r => r._2 -> r._3).toMap
    assert(got == Map(0L -> 2, 1L -> 3, 3L -> 2))
    // tightening the window drops the looser match
    val tight = TextSearch.proximitySearch(docs, col("doc_id"),
        col("text"), phrases, col("pid"), col("pterms"), maxWindow = 2)
      .as[(Long, Long, Int)].collect().map(_._2).toSet
    assert(tight == Set(0L, 3L))
  }

  test("rm3 expansion adds feedback-doc terms, never duplicates originals") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val expanded = TextSearch.expandQueries(ix, queries, col("qid"),
        col("qterms"), fbDocs = 1, fbTerms = 2)
      .as[(Long, Seq[String])].collect().toMap
    val terms = expanded(100L)
    // top feedback doc for (cat, sat) is doc 0 ("the cat sat on the
    // mat"); its best new terms by tf/dl are "the" (2/6) then the
    // tf-tied singletons ("mat", "on" — term-name tie-break picks both
    // never reaching "sat"/"cat", which are originals and excluded)
    assert(terms.contains("cat") && terms.contains("sat"))
    assert(terms.toSet.size == terms.size)
    assert(terms.toSet == Set("cat", "sat", "the", "mat"))
    // expanded search still returns standard shape, originals intact
    val hits = TextSearch.search(ix,
      expanded.toSeq.toDF("query_id", "qterms"),
      col("query_id"), col("qterms"), k = 3)
    assert(hits.count() > 0)
  }

  test("time travel: a pinned version answers through later append + delete") {
    val dir = tmpDir("ttix")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    val v0 = IndexStore.snapshot(spark, dir).version
    val expected = rows(TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    // mutate twice: append a new cat doc, then delete doc 0 — both
    // commit new manifest versions on top of v0
    TextSearch.appendDocs(spark, dir,
      Seq((10L, "cat cat cat")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    TextSearch.delete(spark, dir, Seq(0L).toDF("doc_id"),
      col("doc_id"))
    // latest: doc 0 gone, doc 10 present
    val latest = TextSearch.searchSaved(spark, dir, queries,
      col("qid"), col("qterms"), k = 5)
    assert(latest.filter(col("id") === 0L).isEmpty)
    assert(!latest.filter(col("id") === 10L).isEmpty)
    // pinned v0: exactly the original answers — the retention window
    // keeps the pre-mutation world readable
    val pinned = rows(TextSearch.searchSavedAt(spark, dir, v0, queries,
      col("qid"), col("qterms"), k = 4).orderBy("rn"))
    assert(pinned === expected)
    // a version outside the retained window is a clean error, not a
    // half-world read
    intercept[java.io.FileNotFoundException] {
      IndexStore.snapshotAt(spark, dir, v0 + 100)
    }
  }

  test("stats reports the df-partial debt and posting-list envelope " +
      "without touching the postings relation") {
    val dir = tmpDir("tsstats")
    TextSearch.buildAndSave(corpus, col("doc_id"), col("text"), dir,
      buckets = 4)
    TextSearch.appendDocs(spark, dir,
      Seq((10L, "cat cat cat")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    TextSearch.delete(spark, dir, Seq(0L).toDF("doc_id"),
      col("doc_id"))
    val got = TextSearch.stats(spark, dir)
      .as[(String, Long)].collect().toMap
    // recompute the envelope from the loaded (summed) index
    val ix = TextSearch.load(spark, dir)
    val lex = ix.lexicon.filter(col("df") > 0)
      .agg(count(lit(1)), max("df")).head()
    assert(got("n_terms") === lex.getLong(0))
    assert(got("df_max") === lex.getLong(1))
    // n_docs sums the partials: build + append + negative delete
    assert(got("n_docs") ===
      ix.stats.select("n_docs").head().getLong(0))
    assert(got("version") === 3L)
    // build + append + delete segments; lexicon partials ride the two
    // content deliveries plus the delete's negative partials
    assert(got("segments") === 3L)
    assert(got("df_partial_segments") === 3L)
    assert(got("tombstone_segments") === 1L)
    // compaction folds the partials; the gauges reset
    TextSearch.compact(spark, dir)
    val after = TextSearch.stats(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(after("df_partial_segments") === 1L)
    assert(after("tombstone_segments") === 0L)
    assert(after("n_terms") <= got("n_terms"))
  }

  test("postings are never shuffled: query join broadcasts") {
    val ix = TextSearch.buildIndex(corpus, col("doc_id"), col("text"))
    val plan = TextSearch.search(ix, queries, col("qid"), col("qterms"),
      k = 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.toLowerCase.contains("cartesian"))
  }

  test("literal search: exact substrings, punctuation-faithful, gram prune") {
    val docs = Seq(
      (1L, "def foo(x): return x+1"),
      (2L, "def foo (x): return x + 1"), // spacing differs -> no match
      (3L, "call foo(x) then def foo(x): again"),
      (4L, "unrelated words entirely"),
    ).toDF("doc_id", "text")
    val needles = Seq((10L, "foo(x)"), (11L, "def foo(x):"),
      (12L, "xyzw")).toDF("nid", "needle")
    val got = TextSearch.literalSearch(docs, col("doc_id"), col("text"),
        needles, col("nid"), col("needle"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 3L), (11L, 1L), (11L, 3L)))
    // a needle shorter than the gram width matches nothing (contract)
    val short = TextSearch.literalSearch(docs, col("doc_id"), col("text"),
      Seq((13L, "foo")).toDF("nid", "needle"), col("nid"), col("needle"))
    assert(short.isEmpty)
  }
}
