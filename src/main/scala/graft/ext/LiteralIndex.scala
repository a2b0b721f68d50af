package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** Persisted exact-substring search — the saved-index path of
  * [[TextSearch.literalSearch]], for repeated decontamination sweeps
  * over a standing corpus (benchmark strings, code fragments, exact
  * boilerplate): the corpus's distinct character n-grams are stored
  * ONCE, hash-bucketed by gram, and each needle batch reads only its
  * own grams' buckets — at 100 TB a sweep touches the needles' posting
  * buckets plus the candidate docs' text, never the corpus.
  *
  * Storage is [[IndexStore]]'s segment+manifest layout (atomic publish,
  * pinned readers, GC), with the ANN family's shared tombstone
  * machinery: [[delete]] masks retracted documents immediately,
  * [[compact]] applies them physically, and the corpus table stays the
  * single source of text truth — like the vector indexes, the index
  * stores only its derived grams and re-attaches text at verify time.
  */
object LiteralIndex extends IndexFamily {

  val kind = "literal"
  val live = ("grams", "id")
  val needs = Some("text")

  /** Raw-text char n-grams — shared with [[TextSearch.literalSearch]]
    * via the same spelling: no tokenization, no casefolding (literal
    * means literal).
    */
  private def charGrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - n + 1),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  private def bucketOf(g: Column, buckets: Int): Column =
    pmod(xxhash64(g), lit(buckets.toLong)).cast("int")

  /** (id, g, bucket) distinct grams of a corpus slice. */
  private def gramsOf(docs: DataFrame, id: Column, text: Column, n: Int,
      buckets: Int): DataFrame =
    docs.select(id.as("id"),
        explode(array_distinct(charGrams(text, n))).as("g"))
      .withColumn("bucket", bucketOf(col("g"), buckets))

  private def gramsRel(g: DataFrame): Rel = Rel("grams")(
    g.repartition(col("bucket")).write.partitionBy("bucket").parquet(_))

  /** Per-gram df partials of one delivery — the planning statistics
    * behind [[TextSearch.rarestGrams]], stored bucket-partitioned like
    * the grams (a sweep reads only its needles' buckets) and SUMMABLE
    * across segments (the BM25 lexicon's append-only-partials design:
    * a delivery adds its own counts, history is never rewritten).
    * Tombstoned docs still count until [[compact]] — df here steers
    * WHICH grams prune (any choice is sound; the `contains` verify
    * keeps exactness), so planning-grade staleness is acceptable and
    * documented.
    */
  private def lexiconRel(g: DataFrame): Rel = Rel("lexicon")(
    g.groupBy("g", "bucket").agg(count(lit(1)).as("df"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(_))

  private def metaRel(spark: SparkSession, n: Int, buckets: Int): Rel = {
    import spark.implicits._
    Rel("meta")(Seq((n, buckets)).toDF("n", "buckets").coalesce(1)
      .write.parquet(_))
  }

  private def metaOf(snap: IndexStore.Snapshot): (Int, Int) =
    IndexStore.cachedMeta(snap) {
      val r = snap.read("meta")
        .getOrElse(sys.error(s"no meta at ${snap.root}")).head()
      (r.getAs[Int]("n"), r.getAs[Int]("buckets"))
    }

  /** Build the gram postings from `docs` and publish as the whole
    * index (replace semantics).
    */
  def buildAndSave(docs: DataFrame, id: Column, text: Column,
      path: String, n: Int = 4, buckets: Int = 64,
      retainVersions: Int = 2): Unit = {
    val spark = docs.sparkSession
    val g = gramsOf(docs, id, text, n, buckets).persist()
    try IndexStore.commit(spark, path, "build", Replace(retainVersions))(
      gramsRel(g), lexiconRel(g), metaRel(spark, n, buckets))
    finally g.unpersist()
  }

  /** Admit a delivery: only the delta's grams are computed and appended
    * (gram width and bucket count come from the index's own meta; an
    * empty delivery publishes nothing). The meta read, emptiness check,
    * and publish all happen under the writer lock — a concurrent
    * rebuild with a different bucket count can land strictly before or
    * strictly after this delivery, never interleave with it (the
    * [[TextSearch.appendDocs]] discipline) — and the delta grams are
    * persisted so the gram explode runs once per delivery, not once
    * for the emptiness probe and again per written relation.
    */
  def appendDocs(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column): Unit =
    IndexStore.withLock(spark, path) {
      val (n, buckets) = metaOf(IndexStore.snapshot(spark, path))
      val g = gramsOf(newDocs, id, text, n, buckets).persist()
      try if (!g.isEmpty)
        IndexStore.commit(spark, path, "append", Append)(
          gramsRel(g), lexiconRel(g))
      finally g.unpersist()
    }

  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit =
    appendDocs(spark, path, fresh, col("id"), col("text"))

  /** Apply tombstones physically and re-cluster every delivery's files
    * into one set per bucket (manifest pointer swap). The lexicon is
    * recomputed from the surviving grams — this is where df sheds the
    * tombstoned docs' counts.
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val (n, buckets) = metaOf(snap)
      val live = IndexStore.liveRows(snap, "grams", key = "id").persist()
      try IndexStore.commit(spark, path, "compact", Replace(retainVersions))(
        gramsRel(live), lexiconRel(live), metaRel(spark, n, buckets))
      finally live.unpersist()
    }

  /** [[stats]] gauges for the gram index: `gram_width` (the frozen
    * n), `n_grams` (distinct grams with summed df > 0 — the planning
    * vocabulary) and
    * `df_max` (the heaviest gram — the worst candidate fan-out a
    * needle can touch if rare-gram pruning ever picks it), both over
    * the SUMMED lexicon partials — which, per the documented planning-
    * staleness contract, still count tombstoned docs until [[compact]];
    * `lexicon_partial_segments` (the per-sweep re-sum debt).
    * Lexicon-relation-bounded — the token-linear grams relation is
    * never scanned.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] = {
    val (n, _) = metaOf(snap)
    val lex = snap.read("lexicon").get
      .groupBy("g").agg(sum("df").as("df"))
      .filter(col("df") > 0)
      .agg(count(lit(1)).as("n_grams"), max("df").as("df_max"))
      .head()
    def longAt(i: Int): Long = if (lex.isNullAt(i)) 0L else lex.getLong(i)
    Seq(
      "df_max" -> longAt(1),
      "gram_width" -> n.toLong,
      "lexicon_partial_segments" -> snap.segments("lexicon").size.toLong,
      "n_grams" -> longAt(0))
  }

  /** Sweep a needle batch against the saved index: the needles' grams
    * look up their corpus df in the (bucket-pruned) lexicon, the
    * `rareGrams` RAREST grams per needle are selected
    * ([[TextSearch.rarestGrams]] — the frequent-key discipline: a
    * natural-language needle's ubiquitous grams would otherwise drag
    * corpus-sized posting buckets through the candidate join), ONLY the
    * rare grams' buckets become partition filters on the gram scan, an
    * all-RARE-grams-present candidate join narrows to (needle, doc)
    * pairs, and a `contains` verify against `docs` (the corpus table —
    * text is never stored in the index) removes false positives, so
    * pruning with a gram subset never changes answers. Tombstoned
    * documents are excluded. Same answers as
    * [[TextSearch.literalSearch]] over the surviving corpus, with the
    * scan pruned to the rare grams' buckets.
    */
  def searchSaved(spark: SparkSession, path: String, docs: DataFrame,
      id: Column, text: Column, needles: DataFrame, needleId: Column,
      needle: Column, rareGrams: Int = 4,
      maxDF: Long = Long.MaxValue): DataFrame =
    searchSnapshot(IndexStore.snapshot(spark, path), docs, id, text,
      needles, needleId, needle, rareGrams, maxDF)

  /** [[searchSaved]] against a PINNED manifest version — the literal
    * family's side of the index time-travel contract
    * ([[TextSearch.searchSavedAt]] / [[IvfIndex.loadAt]]): a sweep
    * recorded with its version re-runs verbatim under audit, regardless
    * of appends/deletes landed since (within the GC retention window).
    */
  def searchSavedAt(spark: SparkSession, path: String, version: Long,
      docs: DataFrame, id: Column, text: Column, needles: DataFrame,
      needleId: Column, needle: Column, rareGrams: Int = 4,
      maxDF: Long = Long.MaxValue): DataFrame =
    searchSnapshot(IndexStore.snapshotAt(spark, path, version), docs, id,
      text, needles, needleId, needle, rareGrams, maxDF)

  /** The needles' grams with their lexicon df — (needle_id, g, df),
    * df 0 for grams absent from the corpus (absent grams are the BEST
    * prune: no doc can match). Reads only the needle grams' lexicon
    * buckets. Indexes written before the lexicon relation existed
    * plan as if every gram had equal df (rank ties break by gram
    * value), which degrades planning, never answers.
    */
  private def needleGramDf(snap: IndexStore.Snapshot, nGrams: DataFrame,
      buckets: Int): DataFrame = {
    val lexBuckets = nGrams
      .select(bucketOf(col("g"), buckets).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    snap.read("lexicon") match {
      case Some(lex) =>
        val df = lex.filter(col("bucket").isin(lexBuckets: _*))
          .join(broadcast(nGrams.select("g").distinct()), "g")
          .groupBy("g").agg(sum("df").as("df"))
        nGrams.join(broadcast(df), Seq("g"), "left").na.fill(0L, Seq("df"))
      case None => nGrams.withColumn("df", lit(0L))
    }
  }

  private def searchSnapshot(snap: IndexStore.Snapshot, docs: DataFrame,
      id: Column, text: Column, needles: DataFrame, needleId: Column,
      needle: Column, rareGrams: Int, maxDF: Long): DataFrame = {
    val (n, buckets) = metaOf(snap)
    val spark = docs.sparkSession
    val nd = needles.select(needleId.as("needle_id"), needle.as("needle"))
    val nGrams = nd.select(col("needle_id"),
      explode(charGrams(col("needle"), n)).as("g")).distinct()
    // the kept-gram frame is ≤ |needles| × rareGrams rows by
    // construction — collect it once into a LocalRelation (the plan is
    // decided eagerly, like the bucket list) so neither the window nor
    // the lexicon read re-runs when the caller executes the returned
    // lazy plan
    val planned = TextSearch.rarestGrams(
      needleGramDf(snap, nGrams, buckets), rareGrams, maxDF)
    val rareDf = spark.createDataFrame(
      java.util.Arrays.asList(planned.collect(): _*), planned.schema)
    val wanted = rareDf
      .select(bucketOf(col("g"), buckets).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val grams = IndexStore.liveRows(snap, "grams", key = "id")
      .filter(col("bucket").isin(wanted: _*))
    val nCounts = rareDf.groupBy("needle_id").agg(count(lit(1)).as("ng"))
    val cand = grams.join(broadcast(rareDf), "g")
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
}
