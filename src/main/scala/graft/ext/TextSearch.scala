package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** BM25 full-text retrieval over a document corpus: build / persist an
  * inverted index, then score short queries with Okapi BM25 and return
  * per-query top-k. In a training-data pipeline this is the retrieval
  * primitive behind benchmark decontamination ("which corpus documents
  * match this eval question"), targeted data selection, and
  * quality-by-retrievability audits — the sparse complement of the dense
  * ANN family ([[EmbeddingSearch]], [[IvfIndex]], [[PqIndex]]).
  *
  * Scale shape: the index is three relations off ONE token explode —
  * positional postings (term, id, tf, dl, positions), lexicon
  * (term, df), and a one-row stats frame — all corpus-token-linear,
  * built with two hash aggregations and no joins against the corpus
  * afterwards (document length is DENORMALIZED into the postings, the
  * standard impact-index trick, so scoring never re-joins a
  * corpus-sized side). A search streams the postings through one
  * broadcast-hash join against the (tiny) exploded query terms; df and
  * global stats ride along as broadcasts; the only shuffle is the final
  * (query, doc) partial-aggregated groupBy, whose size is bounded by
  * matched postings, not the corpus. Saved indexes are hash-bucketed by
  * term so a search prunes to the query terms' buckets at the file
  * index — touching 100 TB of postings is never required to answer an
  * 8-term query — and BM25 scans prune the `positions` column at the
  * parquet reader, so the positional payload is only ever read by the
  * phrase path.
  *
  * Persistence runs on [[IndexStore]]'s segment+manifest layout: every
  * mutation (build, [[appendDocs]], [[delete]], [[compact]]) writes
  * an immutable `seg-*` directory under the writer lock and atomically
  * publishes a manifest version; readers pin one version per operation,
  * so a search racing a compaction sees exactly the old or the new
  * index — never a half-swapped directory (the rename-swap this
  * replaces had a no-index window between its two renames).
  */
object TextSearch extends IndexFamily {

  val kind = "bm25"
  val live = ("postings", "id")
  val needs = Some("text")

  /** postings: (term, id, tf, dl, positions); lexicon: (term, df);
    * stats: one row (n_docs, dl_sum, avgdl); tombstones: deleted doc
    * ids still awaiting physical removal at [[compact]] (None for
    * in-memory builds and delete-free saved indexes).
    */
  final case class Index(postings: DataFrame, lexicon: DataFrame,
      stats: DataFrame, tombstones: Option[DataFrame] = None)

  /** One positional tokenize pass: (id, term, tf, positions) — the
    * aggregate every index relation derives from.
    */
  private def tfOf(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("id"),
        posexplode(TextAnalysis.tokens(text)).as(Seq("pos", "term")))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  private def indexFrom(tf: DataFrame): Index = {
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val postings = tf.join(dl, "id")
    val lexicon = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_sum"))
      .withColumn("avgdl", col("dl_sum").cast("double") / col("n_docs"))
    Index(postings, lexicon, stats)
  }

  /** Build the in-memory index relations from a corpus. One explode
    * feeds everything; `dl` is folded back into the postings via the
    * same (id)-keyed aggregate that computes it. `materialize = true`
    * persists the shared (id, term, tf, positions) aggregate so the
    * derived relations reuse one tokenize pass instead of re-exploding
    * the corpus each — use it when building and consuming in one job
    * (searching in place); the session cache owns the entry, so drop it
    * via `spark.catalog.clearCache()` when done. Persistence flows
    * ([[buildAndSave]], [[appendDocs]]) manage that cache lifecycle
    * themselves — prefer them over save-of-a-materialized-build in
    * long-lived processes.
    */
  def buildIndex(docs: DataFrame, id: Column, text: Column,
      materialize: Boolean = false): Index = {
    val tf0 = tfOf(docs, id, text)
    indexFrom(if (materialize) tf0.persist() else tf0)
  }

  /** Term → storage bucket (stable across save/search). */
  private def bucketOf(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** Bucket count of a saved index, from its meta relation — layout
    * parameters live WITH the layout, so append/search can never drift
    * from the bucket count the writer used.
    */
  private def bucketsOf(snap: IndexStore.Snapshot): Int =
    IndexStore.cachedMeta(snap) {
      snap.read("meta")
        .getOrElse(sys.error(s"index at ${snap.root} has no meta"))
        .select(max("buckets")).head().getInt(0)
    }

  /** Write `rows` partitioned by their `bucket` column. */
  private def bucketed(rows: DataFrame): String => Unit =
    rows.repartition(col("bucket")).write.partitionBy("bucket").parquet(_)

  /** One segment's index relations — independent writes over one
    * persisted tf aggregate, overlapped by the commit.
    */
  private def relsOf(ix: Index, buckets: Int): Seq[Rel] = Seq(
    Rel("postings")(bucketed(
      ix.postings.withColumn("bucket", bucketOf(col("term"), buckets)))),
    Rel("lexicon")(bucketed(
      ix.lexicon.withColumn("bucket", bucketOf(col("term"), buckets)))),
    Rel("stats")(ix.stats.select("n_docs", "dl_sum").coalesce(1)
      .write.parquet(_)))

  private def metaRel(spark: SparkSession, buckets: Int): Rel = {
    import spark.implicits._
    Rel("meta")(Seq(buckets).toDF("buckets").coalesce(1).write.parquet(_))
  }

  /** Persist the index hash-bucketed by term: postings and lexicon are
    * written `partitionBy(bucket)`, so a search that knows its query
    * terms reads only their buckets (partition pruning at the file
    * index — the on-disk analogue of a posting-list seek).
    *
    * The lexicon and corpus stats are stored as SUMMABLE PARTIALS
    * (per-delivery df counts; per-delivery (n_docs, dl_sum) rows) and
    * aggregated on [[load]] — the same append-only-partials design as
    * the dedup index's df table, which is what lets [[appendDocs]]
    * admit a delivery (and [[delete]] retract one, with NEGATIVE
    * partials) without rewriting history. A long-lived index
    * accumulating many deliveries re-sums more partials per load; the
    * remedy is [[compact]], on the cadence appends warrant.
    *
    * Replaces whatever index was at `path` (manifest pointer swap; the
    * old segments are GC'd after the retention window).
    */
  def save(ix: Index, path: String, buckets: Int = 64): Unit = {
    val spark = ix.postings.sparkSession
    IndexStore.commit(spark, path, "build", Replace())(
      relsOf(ix, buckets) :+ metaRel(spark, buckets): _*)
  }

  /** Build from `docs` and [[save]] in one flow, managing the shared
    * tokenize aggregate's cache lifecycle (persisted for the multi-
    * relation write, unpersisted before returning — nothing leaks into
    * the session cache).
    */
  def buildAndSave(docs: DataFrame, id: Column, text: Column, path: String,
      buckets: Int = 64): Unit = {
    val tf = tfOf(docs, id, text).persist()
    try save(indexFrom(tf), path, buckets)
    finally tf.unpersist()
  }

  /** Admit one delivery to a saved index: encode the delta alone and
    * append its postings, df partials, and stats partial — the existing
    * corpus is never read (the bucket count comes from the index's own
    * meta). Queries issued after the append see exact corpus-wide df
    * and avgdl (partials sum on load), identical to a from-scratch
    * rebuild over the union. The delta's tokenize aggregate is persisted
    * for the multi-relation write and unpersisted before returning —
    * safe to drive from a per-micro-batch `foreachBatch` loop without
    * accumulating cache entries for the stream's lifetime.
    */
  def appendDocs(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column): Unit = {
    val tf = tfOf(newDocs, id, text).persist()
    // an empty delivery (idle micro-batch) must not publish a zero-row
    // segment — empty parquet dirs break later schema inference
    try if (!tf.isEmpty) IndexStore.withLock(spark, path) {
      val buckets = bucketsOf(IndexStore.snapshot(spark, path))
      IndexStore.commit(spark, path, "append", Append)(
        relsOf(indexFrom(tf), buckets): _*)
      ()
    } finally tf.unpersist()
  }

  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit =
    appendDocs(spark, path, fresh, col("id"), col("text"))

  /** Retract documents from a saved index without reading the corpus or
    * rewriting history: one columnar scan of the postings (no text, no
    * shuffle beyond two small aggregates) computes the deleted docs'
    * exact contributions, which are appended as a tombstone segment —
    * NEGATIVE df partials per term, a negative (n_docs, dl_sum) stats
    * partial, and the tombstoned ids. Searches issued after the delete
    * score EXACTLY as a from-scratch build over the surviving corpus
    * (df/stats net out via the partials sum; hits anti-join the
    * tombstones); [[compact]] later applies the tombstones physically.
    * Ids already tombstoned or absent from the index are ignored, so
    * the negative partials can never double-subtract.
    */
  override def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: Column): Unit = IndexStore.withLock(spark, path) {
    val snap = IndexStore.snapshot(spark, path)
    val buckets = bucketsOf(snap)
    val requested = ids.select(idCol.as("id")).distinct()
    // the doomed contributions come from LIVE postings ([[IndexStore
    // .liveRowsAmong]] — scope-aware, Bloom-segment-pruned: only the
    // deliveries that may hold the requested ids are read, never the
    // whole postings relation): an already-masked id nets to nothing
    // (idempotent, never a double-subtract), while a doc re-ingested
    // after an earlier delete has live rows again — its newest delivery
    // — which are exactly what this delete must retract. The delete
    // batch is takedown-sized → broadcast into the postings scan.
    val dead = IndexStore.liveRowsAmong(snap, "postings", "id", requested)
      .drop("bucket").join(broadcast(requested), "id").persist()
    try if (!dead.isEmpty) {
      val negLex = dead.groupBy("term")
        .agg((-count(lit(1))).as("df"))
        .withColumn("bucket", bucketOf(col("term"), buckets))
      val negStats = dead.groupBy("id").agg(first("dl").as("dl"))
        .agg((-count(lit(1))).as("n_docs"), (-sum("dl")).as("dl_sum"))
      // scoped to the postings deliveries present NOW: a later re-add
      // of a deleted doc is live immediately (its positive df/stats
      // partials pair with its unmasked postings — the sums net right)
      IndexStore.commit(spark, path, "delete", Append)(Seq(
        Rel("lexicon")(bucketed(negLex)),
        Rel("stats")(negStats.coalesce(1).write.parquet(_))) ++
        IndexStore.tombstones(dead.select("id").distinct(),
          snap.segments("postings")): _*)
      ()
    } finally dead.unpersist()
  }

  /** Compact an appended index: tombstones are applied physically
    * (their postings dropped, summed-to-≤0 lexicon rows removed), df
    * partials SUMMED to one row per term, stats partials to one row,
    * and postings rewritten clustered — every delivery's small files
    * collapse into one tight set per bucket. Pure layout rewrite
    * (post-delete answers unchanged by construction, pinned in
    * TextSearchSpec). Publishes a manifest pointer swap — a reader
    * racing this sees the old or the new index, never a mix — and GCs
    * segments outside the retention window.
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val buckets = bucketsOf(snap)
      IndexStore.commit(spark, path, "compact", Replace(retainVersions))(
        Rel("postings")(bucketed(
          IndexStore.liveRows(snap, "postings", key = "id"))),
        Rel("lexicon")(bucketed(snap.read("lexicon").get
          .groupBy("bucket", "term").agg(sum("df").as("df"))
          .filter(col("df") > 0))),
        Rel("stats")(snap.read("stats").get
          .agg(sum("n_docs").as("n_docs"), sum("dl_sum").as("dl_sum"))
          .coalesce(1).write.parquet(_)),
        metaRel(spark, buckets))
      ()
    }

  /** [[stats]] gauges for the sparse-retrieval family:
    * `df_partial_segments` — segments carrying lexicon df partials,
    * i.e. how many per-delivery partial rows every [[load]] re-sums
    * before a search can score (the summable-partials design's
    * documented cost, paid until [[compact]] folds them — the BM25
    * analogue of IVF's cell skew); `n_terms` (live vocabulary: terms
    * whose summed df > 0); `df_max` (the widest posting list — the
    * worst per-term scoring fan-out a query can touch); `n_docs`
    * (summed corpus size). Lexicon/stats-relation-bounded — the
    * corpus-sized postings relation is never scanned.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] = {
    val lex = snap.read("lexicon").get
      .groupBy("term").agg(sum("df").as("df"))
      .filter(col("df") > 0)
      .agg(count(lit(1)).as("n_terms"), max("df").as("df_max"))
      .head()
    def longAt(i: Int): Long = if (lex.isNullAt(i)) 0L else lex.getLong(i)
    val nDocs = {
      val r = snap.read("stats").get.agg(sum("n_docs")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    Seq(
      "df_max" -> longAt(1),
      "df_partial_segments" -> snap.segments("lexicon").size.toLong,
      "n_docs" -> nDocs,
      "n_terms" -> longAt(0))
  }

  /** Sum the lexicon/stats partials back into search-ready relations. */
  private def fromPartials(postings: DataFrame, lexParts: DataFrame,
      statsParts: DataFrame, tombstones: Option[DataFrame]): Index = Index(
    postings,
    lexParts.groupBy("term").agg(sum("df").as("df")),
    statsParts.agg(sum("n_docs").as("n_docs"), sum("dl_sum").as("dl_sum"))
      .withColumn("avgdl", col("dl_sum").cast("double") / col("n_docs")),
    tombstones)

  def load(spark: SparkSession, path: String): Index = {
    val snap = IndexStore.snapshot(spark, path)
    // postings arrive pre-masked (scope-aware live rows), so the Index
    // needs no tombstone frame — deleted docs are simply absent, and
    // re-added docs are present via their newest delivery
    fromPartials(
      IndexStore.liveRows(snap, "postings", key = "id").drop("bucket"),
      snap.read("lexicon").get.drop("bucket"),
      snap.read("stats").get,
      None)
  }

  /** Exact phrase occurrences via positional postings: a phrase of
    * terms t0..t(L-1) occurs at `start` iff token `start+i` equals t_i
    * for every i. One aligned-start join finds ALL occurrences of ALL
    * phrases at once — each corpus (pos, term) row that matches some
    * phrase term votes for the start `pos − i` it would imply, and a
    * start winning all L distinct votes is an occurrence. No iterative
    * per-term self-joins, so phrase length only widens the broadcast,
    * never deepens the plan.
    *
    * Scale shape: the positional explode streams the corpus once;
    * the phrase-term frame is tiny → broadcast; the vote groupBy is
    * keyed (phrase, doc, start), bounded by matched positions, not the
    * corpus. Returns (phrase_id, id, n_occ), one row per document
    * containing the phrase at least once. For repeated sweeps over a
    * persisted corpus use [[phraseSearchSaved]] — same answers, but the
    * scan prunes to the phrase terms' buckets instead of re-exploding
    * the corpus per call.
    */
  def phraseSearch(docs: DataFrame, id: Column, text: Column,
      phrases: DataFrame, phraseId: Column, phraseTerms: Column)
      : DataFrame = {
    val pos = docs.select(id.as("id"),
      posexplode(TextAnalysis.tokens(text)).as(Seq("pos", "term")))
    alignedVote(pos, phrases, phraseId, phraseTerms)
  }

  /** Phrase search over a SAVED index's positional postings — the
    * decontamination-sweep path at 100 TB: the phrase terms' buckets
    * are partition-pruned at the file index, their positions arrays
    * re-explode into (id, pos, term), and the same aligned-start vote
    * runs against that bounded slice; the corpus text is never
    * touched. Tombstoned documents are excluded, matching what a
    * rebuild over the surviving corpus would return.
    */
  def phraseSearchSaved(spark: SparkSession, path: String,
      phrases: DataFrame, phraseId: Column, phraseTerms: Column)
      : DataFrame = {
    val snap = IndexStore.snapshot(spark, path)
    val buckets = bucketsOf(snap)
    val wanted = phrases
      .select(explode(array_distinct(phraseTerms)).as("term")).distinct()
      .select(bucketOf(col("term"), buckets).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pos = IndexStore.liveRows(snap, "postings", key = "id")
      .filter(col("bucket").isin(wanted: _*))
      .select(col("id"), col("term"), explode(col("positions")).as("pos"))
    alignedVote(pos, phrases, phraseId, phraseTerms)
  }

  /** Character n-grams of raw text (no tokenization/casefolding — this
    * feeds LITERAL matching, where "Foo(" and "foo (" must differ).
    */
  private def charGrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - n + 1),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Rare-gram planning shared by [[literalSearch]] and
    * [[LiteralIndex]]: given per-needle grams with their corpus df,
    * keep only the `rareGrams` RAREST grams per needle (ties broken by
    * gram value — deterministic), and among those drop grams with
    * df > `maxDF` except the single rarest (a needle must keep at
    * least one gram to have any prune at all). Candidates are then
    * docs containing ALL KEPT grams — a sound superset of docs
    * containing the full needle, so the `contains` verify keeps
    * exactness. This is the frequent-key discipline every sibling
    * family has (BM25 `maxDF`, stop-shingles, stop-chunks): without
    * it a natural-language needle's ubiquitous grams ("the ", " and")
    * drag corpus-sized posting lists through the candidate join; with
    * it at most `rareGrams` posting lists per needle — all but
    * possibly one bounded by `maxDF` — are ever joined.
    * Input: (needle_id, g, df). Output: (needle_id, g) kept grams.
    */
  private[ext] def rarestGrams(gramDf: DataFrame, rareGrams: Int,
      maxDF: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("needle_id").orderBy(col("df").asc, col("g").asc)
    gramDf.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= rareGrams &&
        (col("df") <= maxDF || col("rk") === 1))
      .select("needle_id", "g")
  }

  /** Exact literal substring search — grep over the corpus, done as a
    * pruned candidate join instead of a full-text scan per needle: a
    * document can contain `needle` only if it contains every character
    * n-gram of the needle, so candidates are pruned by gram presence
    * and a `contains` verify on the candidates alone removes
    * gram-coincidence false positives — the result is exactly "all
    * (needle, doc) with needle a substring of doc". The
    * decontamination shape token search can't deliver: code fragments,
    * exact benchmark strings, punctuation-sensitive boilerplate.
    * Needles shorter than `n` characters are not matched (they'd have
    * no grams); corpus docs shorter than `n` match nothing, correctly.
    *
    * The prune uses only the `rareGrams` RAREST grams per needle
    * ([[rarestGrams]]): a first pass counts the needles' grams' corpus
    * df (map-side-combined aggregate — its shuffle is at most one row
    * per needle gram per partition, regardless of how frequent the
    * gram is), then only the rare grams' posting streams enter the
    * candidate join. Natural-language needles always contain
    * ubiquitous grams; requiring ALL grams would process their
    * corpus-sized hit streams for zero extra selectivity.
    *
    * Scale shape: two corpus character-gram streams (one df-count
    * aggregate, one candidate join bounded by rare-gram posting
    * lists), needle grams broadcast both ways, and the verify joins
    * text only for candidate docs. Returns (needle_id, id) pairs.
    */
  def literalSearch(docs: DataFrame, id: Column, text: Column,
      needles: DataFrame, needleId: Column, needle: Column,
      n: Int = 4, rareGrams: Int = 4,
      maxDF: Long = Long.MaxValue): DataFrame = {
    val nd = needles.select(needleId.as("needle_id"), needle.as("needle"))
    val nGrams = nd.select(col("needle_id"),
      explode(charGrams(col("needle"), n)).as("g")).distinct()
    val docGrams = docs.select(id.as("id"),
      explode(array_distinct(charGrams(text, n))).as("g"))
    val gramDf = docGrams
      .join(broadcast(nGrams.select("g").distinct()), "g")
      .groupBy("g").agg(count(lit(1)).as("df"))
    val rare = rarestGrams(
      nGrams.join(broadcast(gramDf), Seq("g"), "left")
        .na.fill(0L, Seq("df")), rareGrams, maxDF)
    val nCounts = rare.groupBy("needle_id").agg(count(lit(1)).as("ng"))
    val cand = docGrams.join(broadcast(rare), "g")
      .groupBy("needle_id", "id").agg(count(lit(1)).as("hit"))
      .join(broadcast(nCounts), "needle_id")
      .filter(col("hit") === col("ng"))
      .select("needle_id", "id")
    docs.select(id.as("id"), text.as("__t"))
      .join(cand, "id")
      .join(broadcast(nd), "needle_id")
      .filter(col("__t").contains(col("needle")))
      .select("needle_id", "id")
  }

  /** Proximity (unordered SpanNear) search: for each (phrase, document)
    * where every DISTINCT phrase term occurs, the MINIMAL token window
    * `[lo, hi]` containing at least one occurrence of each term —
    * returned as `min_window = hi − lo + 1` and filtered to
    * `≤ maxWindow`. Order-free, between [[phraseSearch]] (exact
    * adjacency) and BM25 (no position constraint at all): "these terms
    * near each other" is the decontamination / concept-co-occurrence
    * query neither neighbor answers.
    *
    * Scale shape: the corpus positional stream joins the broadcast
    * phrase terms (only matched positions survive — bounded like the
    * phrase path), then a per-(phrase, doc) two-pointer sweep computes
    * the classic minimum covering window in O(P log P) per group. The
    * sweep is deliberately `flatMapGroups` imperative code — the one
    * shape the relational API can't express without a positions
    * cross-product that is |P₁|·…·|P_K| per document where the sweep
    * is linear; per-group state is one document's matched positions,
    * bounded.
    */
  def proximitySearch(docs: DataFrame, id: Column, text: Column,
      phrases: DataFrame, phraseId: Column, phraseTerms: Column,
      maxWindow: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs.select(id.as("id"),
      posexplode(TextAnalysis.tokens(text)).as(Seq("pos", "term")))
    val pt = phrases.select(phraseId.as("phrase_id"),
      explode(array_distinct(phraseTerms)).as("term"))
    val kOf = phrases.select(phraseId.as("phrase_id"),
      size(array_distinct(phraseTerms)).as("k"))
    pos.join(broadcast(pt), "term")
      .join(broadcast(kOf), "phrase_id")
      .select(col("phrase_id"), col("id"), col("term"), col("pos"),
        col("k"))
      .as[(Long, Long, String, Int, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, Long),
          it: Iterator[(Long, Long, String, Int, Int)]) =>
        val (pid, did) = key
        val rows = it.toArray
        val k = rows.head._5
        val terms = rows.map(_._3).distinct
        if (terms.length < k) Iterator.empty
        else {
          val idx = terms.zipWithIndex.toMap
          val evs = rows.map(r => (r._4, idx(r._3))).sortBy(_._1)
          val count = new Array[Int](terms.length)
          var covered = 0
          var lo = 0
          var best = Int.MaxValue
          evs.foreach { case (p, t) =>
            if (count(t) == 0) covered += 1
            count(t) += 1
            while (covered == k) {
              best = math.min(best, p - evs(lo)._1 + 1)
              val lt = evs(lo)._2
              count(lt) -= 1
              if (count(lt) == 0) covered -= 1
              lo += 1
            }
          }
          if (best == Int.MaxValue) Iterator.empty
          else Iterator((pid, did, best))
        }
      }
      .toDF("phrase_id", "id", "min_window")
      .filter(col("min_window") <= maxWindow)
  }

  /** The shared aligned-start vote over an (id, pos, term) stream. */
  private def alignedVote(pos: DataFrame, phrases: DataFrame,
      phraseId: Column, phraseTerms: Column): DataFrame = {
    val pt = phrases.select(phraseId.as("phrase_id"),
      posexplode(phraseTerms).as(Seq("i", "term")))
    val phLen = phrases.select(phraseId.as("phrase_id"),
      size(phraseTerms).as("len"))
    pos.join(broadcast(pt), "term")
      .withColumn("start", col("pos") - col("i"))
      .groupBy("phrase_id", "id", "start")
      .agg(countDistinct("i").as("n_votes"))
      .join(broadcast(phLen), "phrase_id")
      .filter(col("n_votes") === col("len"))
      .groupBy("phrase_id", "id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Pseudo-relevance-feedback query expansion (RM3-lite, after
    * Lavrenko & Croft's relevance models): a first-pass BM25 retrieves
    * each query's top `fbDocs` documents, every term in those documents
    * earns the relevance-model MLE weight `Σ_d tf(t,d)/dl(d)` (uniform
    * feedback-doc prior), and the top `fbTerms` NEW terms (original
    * query terms excluded) join the query. The second-pass search then
    * runs over the expanded term set with standard BM25 weighting —
    * the "-lite": expansion terms are admitted, not interpolated with
    * per-term λ weights, which keeps the whole flow relational and
    * oracle-checkable. Weights round to 6 decimals with term-name
    * tie-break so an oracle engine selects identical expansions.
    *
    * Scale shape: the feedback set is queries × fbDocs rows →
    * broadcast into one postings join; term scoring is a groupBy over
    * the feedback docs' postings only (bounded by their lengths, not
    * the corpus). Returns (query_id, qterms) ready for [[search]].
    */
  def expandQueries(ix: Index, queries: DataFrame, qid: Column,
      qterms: Column, fbDocs: Int = 5, fbTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fb = search(ix, queries, qid, qterms, fbDocs, k1, b)
      .select("query_id", "id")
    val weights = ix.postings.select("id", "term", "tf", "dl")
      .join(broadcast(fb), "id")
      .groupBy("query_id", "term")
      .agg(round(sum(col("tf").cast("double") / col("dl")), 6).as("w"))
    val orig = queries.select(qid.as("query_id"),
      explode(array_distinct(qterms)).as("term"))
    val cand = weights.join(orig, Seq("query_id", "term"), "left_anti")
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("w"), col("term"))
    val expansion = cand.withColumn("rn", row_number().over(rk))
      .filter(col("rn") <= fbTerms).select("query_id", "term")
    orig.unionByName(expansion).distinct()
      .groupBy("query_id")
      .agg(sort_array(collect_list(col("term"))).as("qterms"))
  }

  /** FULL RM3 — the interpolated weighted form [[expandQueries]]
    * approximates by admission: the expanded query is a sparse weighted
    * vector `λ·P_mle(t|q) + (1−λ)·P_rm(t)` where original terms carry
    * `λ/|q|` (uniform query MLE), the top-`fbTerms` relevance-model
    * terms carry `(1−λ)·w/Σw` (weights normalized over the selected
    * set), and a term on both sides sums. Feed the result straight to
    * [[searchWeighted]]. Same bounded shapes as [[expandQueries]];
    * weights are 6-decimal-rounded BEFORE normalization so an oracle
    * engine derives identical vectors.
    */
  def expandQueriesRm3(ix: Index, queries: DataFrame, qid: Column,
      qterms: Column, fbDocs: Int = 5, fbTerms: Int = 10,
      lambda: Double = 0.6, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val fb = search(ix, queries, qid, qterms, fbDocs, k1, b)
      .select("query_id", "id")
    val weights = ix.postings.select("id", "term", "tf", "dl")
      .join(broadcast(fb), "id")
      .groupBy("query_id", "term")
      .agg(round(sum(col("tf").cast("double") / col("dl")), 6).as("w"))
    val orig = queries.select(qid.as("query_id"),
      explode(array_distinct(qterms)).as("term"))
    val qlen = orig.groupBy("query_id").agg(count(lit(1)).as("nq"))
    val origW = orig.join(qlen, "query_id")
      .select(col("query_id"), col("term"),
        (lit(lambda) / col("nq")).as("weight"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("w"), col("term"))
    val top = weights.join(orig, Seq("query_id", "term"), "left_anti")
      .withColumn("rn", row_number().over(rk))
      .filter(col("rn") <= fbTerms)
    val wsum = top.groupBy("query_id").agg(sum("w").as("ws"))
    val expW = top.join(wsum, "query_id")
      .select(col("query_id"), col("term"),
        (lit(1.0 - lambda) * col("w") / col("ws")).as("weight"))
    origW.unionByName(expW)
      .groupBy("query_id", "term").agg(sum("weight").as("weight"))
  }

  /** Top-k BM25 per query. `queries` carries an ARRAY of query terms
    * per row (tokenize upstream — [[TextAnalysis.tokens]] matches the
    * index's tokenization); duplicates within a query are ignored, as
    * is any term absent from the corpus. Scores use the Robertson/
    * Lucene idf `ln(1 + (N − df + ½)/(df + ½))` (always ≥ 0) and the
    * usual saturated tf with length normalization. Ranking orders by
    * the 6-decimal-ROUNDED score with doc id as tie-break so an
    * oracle engine ranks identical values identically.
    *
    * Returns (query_id, rn, id, matched, score), rn ≤ k.
    *
    * `maxDF` suppresses query terms whose document frequency exceeds it
    * — the stop-term discipline that matters at 100 TB, where a single
    * ubiquitous term ("the") otherwise makes the matched-postings join
    * corpus-sized for near-zero idf contribution. Same knob as the
    * dedup family's stop-shingle cap; `matched` counts only surviving
    * terms, mirroring how the dedup jaccard ignores suppressed
    * shingles.
    */
  def search(ix: Index, queries: DataFrame, qid: Column, qterms: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDF: Long = Long.MaxValue): DataFrame =
    searchTerms(ix,
      queries.select(qid.as("query_id"),
          explode(array_distinct(qterms)).as("term"))
        .withColumn("weight", lit(1.0)),
      k, k1, b, maxDF)

  /** BM25 with PER-TERM QUERY WEIGHTS — the primitive behind query
    * boosting, interpolated relevance models, and learned-sparse
    * (SPLADE-style) retrieval, where the query IS a sparse weighted
    * term vector: `score(q, d) = Σ_t w(q, t) · bm25_t(d)`. `queries`
    * carries the vector in long form, one (query_id, term, weight) row
    * per component; duplicate components sum their weights. Weight 1.0
    * on every term is exactly [[search]] (`x · 1.0` is bit-identical),
    * so the two rankings share one scorer and one discipline
    * (6-decimal rounding, id tie-break, tombstone exclusion, maxDF
    * suppression).
    */
  def searchWeighted(ix: Index, queries: DataFrame, qid: Column,
      term: Column, weight: Column, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDF: Long = Long.MaxValue): DataFrame =
    searchTerms(ix,
      queries.select(qid.as("query_id"), term.as("term"),
          weight.cast("double").as("weight"))
        .groupBy("query_id", "term")
        .agg(sum("weight").as("weight")),
      k, k1, b, maxDF)

  /** Shared scorer over a (query_id, term, weight) frame. */
  private def searchTerms(ix: Index, qt: DataFrame, k: Int, k1: Double,
      b: Double, maxDF: Long): DataFrame = {
    // lexicon streams past the broadcast query terms; the annotated
    // (term, query_id, df, weight) result is itself tiny → broadcast
    // into the postings scan. Postings are never shuffled, and the
    // explicit column prune keeps the positional payload out of the
    // BM25 scan.
    val lex =
      if (maxDF == Long.MaxValue) ix.lexicon
      else ix.lexicon.filter(col("df") <= maxDF)
    val qdf = broadcast(lex.join(broadcast(qt), "term"))
    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1 * (1.0 - b)) +
          lit(k1 * b) * col("dl") / col("avgdl")) *
        col("weight")
    val live = ix.tombstones.fold(ix.postings)(t =>
      ix.postings.join(broadcast(t), Seq("id"), "left_anti"))
    val scored = live.select("term", "id", "tf", "dl").join(qdf, "term")
      .crossJoin(broadcast(ix.stats))
      .groupBy("query_id", "id")
      .agg(sum(contrib).as("score_raw"), count(lit(1)).as("matched"))
      .withColumn("score", round(col("score_raw"), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), col("id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("id"), col("matched"),
        col("score"))
  }

  /** Search a SAVED index with bucket pruning: the distinct query terms
    * are collected (bounded by the query batch — queries are short by
    * construction), their buckets become literal partition filters, and
    * the postings/lexicon scans read only those buckets. This is the
    * 100 TB path: the scan cost is the matched posting lists, not the
    * index. With a `maxDF` cap, the (tiny, already-pruned) lexicon is
    * consulted FIRST and the postings pruning tightens to the buckets
    * of the terms that SURVIVE the cap — a ubiquitous term's
    * corpus-sized posting bucket is never read just to be discarded.
    */
  def searchSaved(spark: SparkSession, path: String, queries: DataFrame,
      qid: Column, qterms: Column, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDF: Long = Long.MaxValue): DataFrame =
    searchSnapshot(IndexStore.snapshot(spark, path), queries, qid, qterms,
      k, k1, b, maxDF)

  /** [[searchSaved]] against a PINNED manifest version
    * ([[IndexStore.snapshotAt]]) — time travel within the GC retention
    * window: answers are exactly what the index returned as of that
    * commit, regardless of appends/deletes that landed since. The
    * lineage contract for data selection: record the version a
    * selection queried, re-run it verbatim under audit.
    */
  def searchSavedAt(spark: SparkSession, path: String, version: Long,
      queries: DataFrame, qid: Column, qterms: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDF: Long = Long.MaxValue): DataFrame =
    searchSnapshot(IndexStore.snapshotAt(spark, path, version), queries,
      qid, qterms, k, k1, b, maxDF)

  /** PRECEDENCE-AWARE FEDERATED SEARCH across N saved indexes — the
    * search twin of [[CorpusStore.readFederated]]: a corrections
    * overlay (or staging layer, or regional shard) queried WITH
    * production under overlay-wins / delete-cedes semantics, without
    * physically merging the indexes or hand-fusing results. Each root
    * answers from its OWN index (its own df/avgdl — scores are fused
    * raw, the documented federation trade), over-fetching k×overFetch;
    * a hit from root i is then DISQUALIFIED iff any higher-precedence
    * root j < i has that id LIVE — the id's authoritative version
    * lives there, so a superseded version must not serve even when the
    * authority's ranking didn't surface it. An id retracted from the
    * overlay cedes back: it is not live there, so production's hit
    * stands.
    *
    * Scale shape: per root one bucket-pruned saved search; the
    * precedence probe tests only RESULT ids (bounded by queries × k ×
    * overFetch) against higher roots' live postings via Bloom-pruned
    * segment reads ([[IndexStore.liveRowsAmong]]) — never a corpus
    * read, never a window for the resolution (anti-joins); the final
    * top-k re-rank is the standard per-query window over ≤ N × k ×
    * overFetch rows. Returns [[search]]'s shape
    * (query_id, rn, id, matched, score).
    */
  def searchFederated(spark: SparkSession, roots: Seq[String],
      queries: DataFrame, qid: Column, qterms: Column, k: Int,
      overFetch: Int = 4, k1: Double = 1.2, b: Double = 0.75,
      maxDF: Long = Long.MaxValue): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), col("id"))
    federate(spark, roots, "id") { i =>
      searchSaved(spark, roots(i), queries, qid, qterms, k * overFetch, k1,
        b, maxDF)
    }.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("id"), col("matched"),
        col("score"))
  }

  private def searchSnapshot(snap: IndexStore.Snapshot, queries: DataFrame,
      qid: Column, qterms: Column, k: Int, k1: Double, b: Double,
      maxDF: Long): DataFrame = {
    val spark = snap.spark
    val buckets = bucketsOf(snap)
    // bucket ids come from Spark's own xxhash64 over the term batch (one
    // tiny job) — never a reimplementation that could drift from the
    // writer's hash
    val qterm = queries
      .select(explode(array_distinct(qterms)).as("term")).distinct()
    val wantedLex = qterm
      .select(bucketOf(col("term"), buckets).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // bucket is a pure function of term, so pruning the partials BEFORE
    // the df re-sum is exact — a term's every partial lives in one bucket
    val lexParts = snap.read("lexicon").get
      .filter(col("bucket").isin(wantedLex: _*)).drop("bucket")
    val wantedPost =
      if (maxDF == Long.MaxValue) wantedLex
      else lexParts.groupBy("term").agg(sum("df").as("df"))
        .join(qterm, "term").filter(col("df") <= maxDF)
        .select(bucketOf(col("term"), buckets).as("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
    val ix = fromPartials(
      IndexStore.liveRows(snap, "postings", key = "id")
        .filter(col("bucket").isin(wantedPost: _*)).drop("bucket"),
      lexParts,
      snap.read("stats").get,
      None)
    search(ix, queries, qid, qterms, k, k1, b, maxDF)
  }
}
