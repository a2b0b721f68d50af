package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Gate, Tables}
import OracleSql._
import graft.ext.{CorpusStore, DataOps, Dedup, EmbeddingSearch,
  Multimodal, Takedown, TextAnalysis}

/** Gates for the dataset-assembly operators (training-data pipelines):
  * deterministic train/val/test splitting, weighted source mixing,
  * benchmark decontamination, PII scrubbing, and Gopher-style repetition
  * signals. All five are hash/regex-deterministic, so every gate carries an
  * exact DuckDB oracle (md5 and RE2-compatible regexes match across engines).
  */
object DataOpsQueries {

  // ---- deterministic train/val/test split --------------------------------
  private def splitAssign(s: SparkSession, d: String): DataFrame =
    DataOps.stratifiedSplit(Tables.documents(s, d), col("doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("total_chars"))
      .orderBy("split")

  private val trainCut = f"${(0.8 * 256).toInt}%02x"
  private val valCut = f"${(0.9 * 256).toInt}%02x"

  /** [[graft.ext.DataOps.groupSplit]]: the LEAKAGE-SAFE split — rows
    * split by their dup-CLUSTER's hash (exact-dup groups via text md5,
    * min-id representative), so duplicate copies can never straddle
    * train/test and an eval benchmark can't measure memorization. The
    * oracle replays the grouping, the representative election, the
    * hash-bucket assignment, and the per-split rollup; the
    * members-stay-together law itself is pinned in DataOpsSpec.
    */
  private def splitGroups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keyed = docs.withColumn("__k", md5(lower(trim(col("text")))))
    val reps = keyed.groupBy("__k").agg(min("doc_id").as("cluster"))
    val assign = keyed.join(reps, "__k")
      .select(col("doc_id").as("id"), col("cluster"))
    DataOps.groupSplit(docs, col("doc_id"), assign)
      .join(assign.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"),
        sum("n_chars").as("total_chars"))
      .orderBy("split")
  }

  private val splitGroupsSql =
    s"""WITH cl AS (
       |  SELECT doc_id, n_chars,
       |         min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
       |           AS cluster
       |  FROM documents),
       |t AS (
       |  SELECT *,
       |         CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 2)
       |                < '$trainCut' THEN 'train'
       |              WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 2)
       |                < '$valCut' THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM cl)
       |SELECT split, count(*) AS n_docs,
       |       count(DISTINCT cluster) AS n_clusters,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM t GROUP BY split ORDER BY split""".stripMargin

  private val splitAssignSql =
    s"""WITH t AS (
       |  SELECT *,
       |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
       |                < '$trainCut' THEN 'train'
       |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
       |                < '$valCut' THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents)
       |SELECT split, count(*) AS n_docs,
       |       count(DISTINCT source) AS n_sources,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM t GROUP BY split ORDER BY split""".stripMargin

  // ---- weighted source mixing --------------------------------------------
  /** srcN gets weight ((N % 4) + 1) * 0.25 — exercises downsampling at
    * 0.25 / 0.5 / 0.75 and the keep-all (w = 1.0) path.
    */
  private val mixWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) * 0.25).toMap

  private def weightedMix(s: SparkSession, d: String): DataFrame =
    DataOps.weightedMix(Tables.documents(s, d), col("doc_id"),
        col("source"), mixWeights)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("source")

  private val weightedMixSql =
    """WITH m AS (
      |  SELECT source,
      |         CAST(substring(source, 4) AS INTEGER) % 4 AS k,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) AS b
      |  FROM documents)
      |SELECT source, count(*) AS n_kept FROM m
      |WHERE b < CASE k WHEN 0 THEN '40' WHEN 1 THEN '80'
      |                 WHEN 2 THEN 'c0' ELSE 'zz' END
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- deterministic up/down resampling ----------------------------------
  /** srcN gets weight (N % 5) * 0.75 — exercises drop-all (0), fractional
    * downsample (0.75), and true upsampling (1.5, 2.25, 3.0).
    */
  private val resampleWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 5) * 0.75).toMap

  private def weightedResample(s: SparkSession, d: String): DataFrame =
    DataOps.weightedResample(Tables.documents(s, d), col("doc_id"),
        col("source"), resampleWeights)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy("source")

  private val weightedResampleSql =
    """WITH m AS (
      |  SELECT source, doc_id,
      |         CAST(substring(source, 4) AS INTEGER) % 5 AS k,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) AS b
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id,
      |         CASE k WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 3 ELSE 0 END
      |         + CASE WHEN b < CASE k WHEN 1 THEN 'c0' WHEN 2 THEN '80'
      |                              WHEN 3 THEN '40' ELSE '00' END
      |                THEN 1 ELSE 0 END AS copies
      |  FROM m)
      |SELECT source, CAST(sum(copies) AS BIGINT) AS n_rows,
      |       count(*) AS n_docs
      |FROM c WHERE copies > 0
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- sequence packing ---------------------------------------------------
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tok", TextAnalysis.bpeTokenCount(col("text")))
    DataOps.packSequences(docs, col("doc_id"), col("n_tok"),
        budget = 512, buckets = 16, seed = "s1")
      .groupBy("pack_bucket", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("pack_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("pack_bucket", "pack_id")
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '__BPE__'))
      |           AS INTEGER) AS n_tok,
      |         doc_id % 16 AS pack_bucket,
      |         md5('s1' || CAST(doc_id AS VARCHAR)) AS pack_key
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_tok, pack_bucket,
      |         CAST(floor((sum(n_tok) OVER (PARTITION BY pack_bucket
      |                       ORDER BY pack_key) - n_tok) / 512)
      |           AS BIGINT) AS pack_id
      |  FROM t)
      |SELECT pack_bucket, pack_id, count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |       min(doc_id) AS first_doc
      |FROM p GROUP BY pack_bucket, pack_id
      |ORDER BY pack_bucket, pack_id""".stripMargin
      .replace("'__BPE__'",
        s"'${TextAnalysis.bpePattern.replace("'", "''")}'")

  // ---- duplicate-cluster resolution (connected components) ---------------
  /** Corpus = embeddings plus an exact copy of every vector at id+10000:
    * each original pairs with its clone (cos = 1), and the naturally
    * near-dup pairs (cos >= 0.45) bridge clones into components of 4+,
    * so cluster labels genuinely propagate across multi-hop paths.
    */
  private def dupGraph(s: SparkSession, d: String,
      everyNth: Int = 1): (DataFrame, DataFrame) = {
    val base0 = EmbeddingSearch.prepared(Tables.embeddings(s, d))
    val base = if (everyNth == 1) base0
      else base0.filter(col("vec_id") % everyNth === 0)
    val corpus = base.unionAll(
      base.withColumn("vec_id", col("vec_id") + 10000))
    // clones preserve cosines, so the corpus pair set is the BASE pair set
    // expanded through the four original/clone combinations plus the
    // identity (x, x+10000) pairs — algebraically identical to the
    // all-pairs join over the doubled corpus (which the oracle runs), at
    // a quarter of the dot products. Scoring scans base ids < 10000 only.
    val basePairs = base.as("a")
      .join(base.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        EmbeddingSearch.dot(col("a.v"), col("b.v")) /
          sqrt(col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val off = lit(10000L)
    val pairs = basePairs.select(col("id_a"), col("id_b"))
      .unionAll(basePairs.select(col("id_a"), (col("id_b") + off).as("id_b")))
      .unionAll(basePairs.select(col("id_b").as("id_a"), (col("id_a") + off).as("id_b")))
      .unionAll(basePairs.select((col("id_a") + off).as("id_a"), (col("id_b") + off).as("id_b")))
      .unionAll(base.select(col("vec_id").as("id_a"), (col("vec_id") + off).as("id_b")))
    (corpus.select(col("vec_id").as("id")), pairs)
  }

  private def dupClusters(s: SparkSession, d: String): DataFrame = {
    val (nodes, pairs) = dupGraph(s, d)
    Dedup.dupClusters(nodes, pairs, parallelism = Some(8))
      .select(col("id").as("vec_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_keeper"))
      .orderBy("vec_id")
  }

  /** Same graph construction on the even-id half of the corpus, resolved
    * by the O(log n) large-star/small-star variant
    * ([[Dedup.dupClustersStar]]) — gated against its own recursive-CTE
    * oracle, proving the second component algorithm independently. Half
    * corpus because the all-pairs cosine build is O(n²) and the
    * capability proof doesn't need it twice at full size.
    */
  private def dupClustersStar(s: SparkSession, d: String): DataFrame = {
    val (nodes, pairs) = dupGraph(s, d, everyNth = 2)
    Dedup.dupClustersStar(nodes, pairs, parallelism = Some(8))
      .select(col("id").as("vec_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_keeper"))
      .orderBy("vec_id")
  }

  private val dupClustersSql =
    s"""WITH RECURSIVE
       |corpus AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS s, b.vec_id AS t
       |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |  WHERE ${cosine("a.v", "b.v")} >= 0.45),
       |edges AS (SELECT s, t FROM p UNION ALL SELECT t, s FROM p),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS r FROM corpus
       |  UNION
       |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id)
       |SELECT id AS vec_id, min(r) AS cluster, min(r) = id AS is_keeper
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** INCREMENTAL clustering maintenance
    * ([[Dedup.incrementalComponents]]): the base half of the graph is
    * clustered first (the "yesterday" state), then the planted clone
    * delivery — its nodes and every edge touching them — folds in
    * incrementally: affected old clusters re-contract as depth-1 stars
    * with the delta, untouched labels carry over verbatim, and the
    * result must equal the FULL-batch recursive-CTE oracle exactly
    * (same oracle as q_dup_clusters_star). This is the streaming-dedup
    * composition at 100 TB: the incremental index emits the delta's
    * pairs, this op merges them into standing cluster state at
    * delta-proportional cost instead of relabeling the corpus.
    */
  private def dupClustersInc(s: SparkSession, d: String): DataFrame = {
    val (nodes, pairs0) = dupGraph(s, d, everyNth = 2)
    // the all-pairs cosine pair-gen feeds the "yesterday" clustering AND
    // the delta's edge filter — materialize it once; likewise the
    // standing labels, which the incremental op consults three times
    // (in production both would be stored tables, not live plans)
    val pairs = pairs0.localCheckpoint(true)
    val prev = Dedup.dupClustersStar(
      nodes.filter(col("id") < 10000),
      pairs.filter(col("id_a") < 10000 && col("id_b") < 10000),
      parallelism = Some(8)).localCheckpoint(true)
    Dedup.incrementalComponents(prev,
        nodes.filter(col("id") >= 10000),
        pairs.filter(col("id_a") >= 10000 || col("id_b") >= 10000),
        parallelism = Some(8))
      .select(col("id").as("vec_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_keeper"))
      .orderBy("vec_id")
  }

  private val dupClustersStarSql =
    s"""WITH RECURSIVE
       |corpus AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id % 2 = 0
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings
       |  WHERE vec_id % 2 = 0),
       |p AS (
       |  SELECT a.vec_id AS s, b.vec_id AS t
       |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |  WHERE ${cosine("a.v", "b.v")} >= 0.45),
       |edges AS (SELECT s, t FROM p UNION ALL SELECT t, s FROM p),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS r FROM corpus
       |  UNION
       |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id)
       |SELECT id AS vec_id, min(r) AS cluster, min(r) = id AS is_keeper
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  // ---- benchmark decontamination -----------------------------------------
  /** Benchmark corpus = every 25th document; any doc sharing a 7-word
    * shingle with it (including the planted members themselves) is flagged.
    */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 25 === 0).select("text")
    DataOps.decontaminate(docs, col("doc_id"), col("text"),
        bench, col("text"), n = 7)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    s"""WITH tok AS (
       |  SELECT doc_id, ${tokenize("text")} AS toks
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 7
       |           THEN list_transform(range(len(toks) - 6),
       |                  i -> array_to_string(toks[i+1:i+7], ' '))
       |           ELSE [array_to_string(toks, ' ')] END AS shs
       |  FROM tok),
       |docsh AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh0),
       |benchsh AS (SELECT DISTINCT sh FROM docsh WHERE doc_id % 25 = 0),
       |hits AS (SELECT d.doc_id, count(*) AS n_hits
       |         FROM docsh d JOIN benchsh USING (sh) GROUP BY 1)
       |SELECT doc.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       |       coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM documents doc LEFT JOIN hits h ON doc.doc_id = h.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  // ---- PII scrubbing ------------------------------------------------------
  /** The raw corpus is synthetic word salad, so each row gets deterministic
    * planted PII (email + IPv4 + phone built from doc_id) that both engines
    * construct identically; the gate hash-compares the redacted text.
    */
  private def plantedSpark(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 203.0.113."),
        (col("doc_id") % 200 + 1).cast("string"),
        lit(" or call +1 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("planted"))

  /** k-anonymity / l-diversity release audit
    * ([[graft.ext.DataOps.kAnonymity]]) over the customer table:
    * quasi-identifiers (nation, market segment), sensitive attribute =
    * the account-balance sign band. Every class size, distinct-count,
    * and verdict value-checked relationally.
    */
  private def kAnonymity(s: SparkSession, d: String): DataFrame =
    graft.ext.DataOps.kAnonymity(
        Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        when(col("c_acctbal") < 0, "neg").otherwise("pos"),
        k = 8, l = 2)
      .select(col("q0").as("nation"), col("q1").as("segment"),
        col("class_size"), col("l_distinct"),
        col("k_anonymous"), col("l_diverse"))
      .orderBy("nation", "segment")

  private val kAnonymitySql =
    """SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |       count(*) AS class_size,
      |       count(DISTINCT CASE WHEN c_acctbal < 0
      |         THEN 'neg' ELSE 'pos' END) AS l_distinct,
      |       count(*) >= 8 AS k_anonymous,
      |       count(DISTINCT CASE WHEN c_acctbal < 0
      |         THEN 'neg' ELSE 'pos' END) >= 2 AS l_diverse
      |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ε-DP noisy count release ([[graft.ext.DataOps.dpCounts]]) over the
    * event-type histogram: seeded inverse-CDF Laplace(1/ε) noise, so
    * the released values replay byte-for-byte from the recorded seed —
    * which is exactly what the oracle does (same md5-derived uniform,
    * same closed form, both engines' ln compared at 6 decimals).
    */
  private def dpCounts(s: SparkSession, d: String): DataFrame =
    graft.ext.DataOps.dpCounts(Tables.events(s, d),
        col("event_type"), epsilon = 0.5, seed = "rel1")
      .select(col("g").as("event_type"), col("n"), col("n_noisy"))
      .orderBy("event_type")

  private val dpCountsSql =
    """WITH c AS (SELECT event_type AS g, count(*) AS n
      |           FROM events GROUP BY 1),
      |u AS (SELECT g, n,
      |        ('0x' || substr(md5('rel1' || g), 1, 12))::BIGINT
      |          / power(16, 12) - 0.5 AS u
      |      FROM c)
      |SELECT g AS event_type, n,
      |       round(n + (-2.0) * sign(u) * ln(1 - 2 * abs(u)), 6)
      |         AS n_noisy
      |FROM u ORDER BY event_type""".stripMargin

  private def piiScrub(s: SparkSession, d: String): DataFrame =
    plantedSpark(s, d)
      .select(col("doc_id"),
        md5(TextAnalysis.scrubPii(col("planted"))).as("h"),
        (length(col("planted")) -
          length(TextAnalysis.scrubPii(col("planted")))).as("len_delta"))
      .orderBy("doc_id")

  private val piiScrubSql = {
    def q(re: String) = re.replace("'", "''")
    s"""WITH p AS (
       |  SELECT doc_id,
       |         text || ' contact user' || doc_id
       |           || '@mail.example.com from 203.0.113.'
       |           || (doc_id % 200 + 1)
       |           || ' or call +1 415-555-'
       |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS planted
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, planted,
       |         regexp_replace(regexp_replace(regexp_replace(planted,
       |           '${q(TextAnalysis.emailRe)}', '<EMAIL>', 'g'),
       |           '${q(TextAnalysis.ipv4Re)}', '<IP>', 'g'),
       |           '${q(TextAnalysis.phoneRe)}', '<PHONE>', 'g') AS scrubbed
       |  FROM p)
       |SELECT doc_id, md5(scrubbed) AS h,
       |       CAST(len(planted) - len(scrubbed) AS INTEGER) AS len_delta
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---- Gopher-style repetition / shape signals ---------------------------
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      round(TextAnalysis.dupNgramRatio(toks, 2), 6).as("dup2_ratio"),
      round(TextAnalysis.meanWordLen(toks), 6).as("mean_word_len"),
      round(TextAnalysis.symbolRatio(col("text")), 6).as("symbol_ratio"),
    ).orderBy("doc_id")
  }

  private val repetitionSql =
    s"""WITH tok AS (
       |  SELECT doc_id, text,
       |         ${tokenize("text")} AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, text, toks,
       |         CASE WHEN len(toks) >= 2
       |           THEN list_transform(range(len(toks) - 1),
       |                  i -> array_to_string(toks[i+1:i+2], ' '))
       |           ELSE [array_to_string(toks, ' ')] END AS shs
       |  FROM tok)
       |SELECT doc_id,
       |       round(1.0 - CAST(len(list_distinct(shs)) AS DOUBLE) / len(shs), 6)
       |         AS dup2_ratio,
       |       round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
       |             / len(toks), 6) AS mean_word_len,
       |       round(CAST(len(text)
       |               - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
       |               AS DOUBLE)
       |             / greatest(len(text), 1), 6) AS symbol_ratio
       |FROM sh ORDER BY doc_id""".stripMargin

  // ---- full dataset-assembly pipeline (flagship composition) -------------
  /** The whole training-data pipeline as ONE query: PII scrub → quality
    * filter (length / stopword density / lexical diversity) → exact dedup
    * (min-id keeper) → benchmark decontamination (7-gram overlap) →
    * deterministic split → per-split stats. Every stage is one of the
    * engine's operators; the oracle replays the identical chain in SQL.
    */
  private def assembleDataset(s: SparkSession, d: String): DataFrame = {
    // materialize scrub + tokenization as columns: the three filter
    // ratios would otherwise each re-run the regex scrub and the split
    // (Catalyst doesn't CSE HOF subtrees across filter conjuncts)
    val docs = Tables.documents(s, d)
      .withColumn("ctext", TextAnalysis.scrubPii(col("text")))
      .withColumn("toks", TextAnalysis.tokens(col("ctext")))
    val toks = col("toks")
    // persist ABOVE the dedup fork: quality feeds both the keeper agg and
    // the join back, so an un-cached plan runs the 3-regex scrub +
    // tokenize twice more than needed
    val quality = docs
      .withColumn("n_tok", size(toks))
      .filter(size(toks) >= 15 &&
        TextAnalysis.stopwordRatio(toks) >= 0.02 &&
        TextAnalysis.uniqueRatio(toks) >= 0.35)
      .drop("toks")
      .persist()
    val keepers = quality.groupBy(md5(col("ctext")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    // feeds decontaminate twice (shingle table + final join)
    val deduped = quality.join(keepers, "doc_id").persist()
    val bench = docs.filter(col("doc_id") % 25 === 0).select("ctext")
    val finalDocs = DataOps.decontaminate(deduped, col("doc_id"),
        col("ctext"), bench, col("ctext"), n = 7)
      .filter(!col("contaminated"))
    DataOps.stratifiedSplit(finalDocs, col("doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("split")
  }

  // ---- deterministic output sharding (the training-data landing) ----

  /** [[graft.ext.DataOps.shardPacked]]: the corpus laid out in seeded
    * md5 order and cut into fixed-token shards — every row's (shard,
    * ord) derives from (corpus, seed) alone, so the training run's
    * shard contents replay byte-identically and the oracle recomputes
    * the ENTIRE layout (order keys, global seeded rank, running token
    * offsets, boundary rule: a doc belongs to the shard its starting
    * offset falls in). The prefix sum is the two-pass distributed
    * spelling (PlanShapeSpec pins no SinglePartition).
    */
  private def shardWriter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tok",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
    DataOps.shardPacked(docs, col("doc_id"), col("n_tok"),
        shardTokens = 8000L, seed = "w1")
      .select(col("doc_id"), col("shard"), col("ord"))
      .orderBy("ord")
  }

  private val shardWriterSql =
    s"""WITH tok AS (SELECT doc_id,
       |    len(${tokenize("text")})::BIGINT
       |      AS n_tok
       |  FROM documents),
       |o AS (SELECT doc_id, n_tok,
       |    md5('w1:' || CAST(doc_id AS VARCHAR)) AS key FROM tok),
       |r AS (SELECT doc_id, n_tok,
       |    row_number() OVER (ORDER BY key, doc_id) AS ord,
       |    sum(n_tok) OVER (ORDER BY key, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM o)
       |SELECT doc_id, CAST((cum - n_tok) // 8000 AS BIGINT) AS shard, ord
       |FROM r ORDER BY ord""".stripMargin

  // ---- CROSS-MODAL dataset assembly (text ⨝ media, masks composed) ----

  /** The multimodal extension of [[assembleDataset]]: documents join
    * their MEDIA rows and the final selection composes three masks
    * into (doc, media, caption) training records — the pair-assembly
    * step a caption↔image training pipeline runs after hygiene.
    *
    *   - captions are PARAGRAPH-SCRUBBED (the q_paragraph_dedup
    *     derivation on the same slice: 25-token paragraphs plus the
    *     planted boilerplate footer, global min-(id, idx) keeper
    *     election, kept paragraphs re-joined) — replayed fully by the
    *     oracle's marked CTE;
    *   - media dedups in the PIXEL domain ([[graft.ext.Multimodal
    *     .imageDupPairs]], the q_media_dup_real fixture: every doc a
    *     deterministic 16×16 PNG under media_id doc+500000, every
    *     fifth doc ALSO a BMP re-encode of the same pixels under
    *     doc+700000 — byte-different, so only a real decode + DCT
    *     pHash collapses it; the keeper is the smaller id). The clone
    *     construction is deterministic and collision-free, so the
    *     oracle states the mask in closed form — the q_media_dup_real
    *     contract, whose gate hash-checks exactly this pair set;
    *   - the TAKEDOWN mask drives a real registered surface: a corpus
    *     store under a [[graft.ext.Takedown]] registry, one durable
    *     retract intent for every thirteenth doc, live rows read back.
    *
    * 100 TB shape: the media dedup is banded-LSH-then-verify (never
    * all-pairs), the paragraph election one hash aggregation, the
    * joins broadcast-able id maps — each mask is its own scalable
    * operator and the assembly is three equi-joins.
    */
  private def assembleMultimodal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
    val media = docs.select("doc_id").as[Long]
      .flatMap { id =>
        val base =
          (id + 500000L, id, Multimodal.synthImage(s"doc-$id", "png"))
        if (id % 5 == 0)
          Seq(base,
            (id + 700000L, id, Multimodal.synthImage(s"doc-$id", "bmp")))
        else Seq(base)
      }.toDF("media_id", "doc_id", "payload")
    // pixel-domain dedup mask: the dropped side of each hamming-0 pair
    val dropped = Multimodal.imageDupPairs(s,
        media.select(col("media_id").as("doc_id"), col("payload")),
        maxHamming = 0)
      .select(col("id_b").as("media_id")).distinct()
    val keptMedia = media.join(dropped, Seq("media_id"), "left_anti")
    // takedown mask through the real registry surface
    val root = graft.Gate.tmpDir("gate_amm_root_")
    val store = graft.Gate.tmpDir("gate_amm_store_")
    CorpusStore.build(docs.select(col("doc_id").as("id"), col("text")),
      col("id"), store)
    Takedown.register(s, root, Takedown.Surface("store", store))
    Takedown.retract(s, root,
      docs.filter(col("doc_id") % 13 === 7).select(col("doc_id").as("id")),
      col("id"))
    val live = CorpusStore.read(s, store).select(col("id").as("doc_id"))
    // paragraph-scrubbed captions (the paraCorpus derivation, <60 slice)
    val toks = TextAnalysis.tokens(col("text"))
    val paras = docs
      .select(col("doc_id").as("id"), toks.as("toks"))
      .select(col("id"), concat(
        transform(
          sequence(lit(0),
            (ceil(size(col("toks")) / lit(25.0)) - 1).cast("int")),
          i => array_join(slice(col("toks"), i * 25 + 1, lit(25)), " ")),
        array(concat(lit("subscribe to our newsletter edition "),
          col("id") % 3))).as("paras"))
      .select(col("id"), posexplode(col("paras")).as(Seq("idx", "para")))
    val captions = TextAnalysis.paragraphDedup(paras, col("id"),
        col("idx"), col("para"))
      .select(col("id").as("doc_id"),
        md5(col("clean_text")).as("caption_h"))
    keptMedia.join(live, Seq("doc_id"))
      .join(captions, Seq("doc_id"))
      .select(col("doc_id"), col("media_id"), col("caption_h"))
      .orderBy("doc_id", "media_id")
  }

  private val assembleMultimodalSql =
    s"""WITH tok AS (SELECT doc_id AS id,
       |               ${tokenize("text")} AS toks
       |             FROM documents WHERE doc_id < 60),
       |p0 AS (SELECT id, list_append(
       |         list_transform(range(CAST(ceil(len(toks) / 25.0) AS INT)),
       |           i -> array_to_string(toks[i*25+1 : i*25+25], ' ')),
       |         'subscribe to our newsletter edition ' || (id % 3)) AS paras
       |       FROM tok),
       |paras AS (SELECT id, r['i'] AS idx, r['p'] AS para
       |          FROM p0, unnest(list_transform(range(len(paras)),
       |            i -> {'i': i, 'p': paras[i+1]})) AS t(r)),
       |marked AS (SELECT id, idx, para,
       |             row_number() OVER (PARTITION BY para
       |                                ORDER BY id, idx) AS rn
       |           FROM paras),
       |clean AS (SELECT id,
       |            coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
       |                                chr(10) ORDER BY idx), '')
       |              AS clean_text
       |          FROM marked GROUP BY id),
       |media AS (SELECT doc_id, doc_id + 500000 AS media_id
       |          FROM documents WHERE doc_id < 60
       |          UNION ALL
       |          SELECT doc_id, doc_id + 700000 FROM documents
       |          WHERE doc_id < 60 AND doc_id % 5 = 0)
       |SELECT m.doc_id, m.media_id, md5(c.clean_text) AS caption_h
       |FROM media m JOIN clean c ON c.id = m.doc_id
       |WHERE m.media_id < 700000
       |  AND m.doc_id % 13 <> 7
       |ORDER BY doc_id, media_id""".stripMargin

  private val assembleDatasetSql = {
    def q(re: String) = re.replace("'", "''")
    val enList = TextAnalysis.langProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""WITH clean AS (
       |  SELECT doc_id, source,
       |         regexp_replace(regexp_replace(regexp_replace(text,
       |           '${q(TextAnalysis.emailRe)}', '<EMAIL>', 'g'),
       |           '${q(TextAnalysis.ipv4Re)}', '<IP>', 'g'),
       |           '${q(TextAnalysis.phoneRe)}', '<PHONE>', 'g') AS ctext
       |  FROM documents),
       |tok AS (
       |  SELECT *, ${tokenize("ctext")} AS toks
       |  FROM clean),
       |quality AS (
       |  SELECT *, len(toks) AS n_tok FROM tok
       |  WHERE len(toks) >= 15
       |    AND CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE)
       |          / len(toks) >= 0.02
       |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.35),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(ctext)),
       |deduped AS (
       |  SELECT q.* FROM quality q JOIN keepers USING (doc_id)),
       |shing AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 7
       |           THEN list_transform(range(len(toks) - 6),
       |                  i -> array_to_string(toks[i+1:i+7], ' '))
       |           ELSE [array_to_string(toks, ' ')] END AS shs
       |  FROM tok),
       |benchsh AS (
       |  SELECT DISTINCT unnest(list_distinct(shs)) AS sh FROM shing
       |  WHERE doc_id % 25 = 0),
       |dirty AS (
       |  SELECT DISTINCT s.doc_id
       |  FROM (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM shing) s
       |  JOIN benchsh USING (sh)),
       |final AS (
       |  SELECT d.* FROM deduped d LEFT JOIN dirty ON d.doc_id = dirty.doc_id
       |  WHERE dirty.doc_id IS NULL)
       |SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
       |              < '$trainCut' THEN 'train'
       |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
       |              < '$valCut' THEN 'val'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |       count(DISTINCT source) AS n_sources
       |FROM final GROUP BY split ORDER BY split""".stripMargin
  }

  // ---- token-budget data selection ----------------------------------------
  /** [[DataOps.selectUnderBudget]]: greedy best-first selection of
    * documents (by n_chars, ties by id) until the 20k-token budget is
    * exhausted; the running total including the doc must fit.
    */
  private def tokenBudget(s: SparkSession, d: String): DataFrame =
    DataOps.selectUnderBudget(Tables.documents(s, d),
      col("doc_id"), col("n_chars").cast("double"),
      TextAnalysis.tokenCount(col("text")).cast("long"), budget = 20000L)
      .select(col("id").as("doc_id"),
        col("score").cast("long").as("n_chars"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")

  /** Per-group budget selection ([[DataOps.selectUnderBudgetBy]]): each
    * source gets its own token budget (derived from the source name so
    * budgets differ per group and the oracle can mirror them inline)
    * and fills best-score-first independently — the mixture-
    * construction step. The grouped two-pass prefix sum must land on
    * exactly the per-source running sums the oracle's partitioned
    * window computes.
    */
  private def tokenBudgetBy(s: SparkSession, d: String): DataFrame = {
    val budgets = Tables.documents(s, d)
      .select(col("source").as("grp")).distinct()
      .withColumn("budget", lit(3000L) + lit(500L) * length(col("grp")))
    DataOps.selectUnderBudgetBy(Tables.documents(s, d), col("source"),
        col("doc_id"), col("n_chars").cast("double"),
        TextAnalysis.tokenCount(col("text")).cast("long"), budgets)
      .select(col("grp").as("source"), col("id").as("doc_id"),
        col("score").cast("long").as("n_chars"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  private val tokenBudgetBySql =
    s"""WITH t AS (SELECT source, doc_id, n_chars,
       |             CAST(len(${tokenize("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT source, doc_id, n_chars, n_tokens,
       |        CAST(sum(n_tokens) OVER (PARTITION BY source
       |             ORDER BY n_chars DESC, doc_id
       |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |      FROM t)
       |SELECT source, doc_id, n_chars, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 3000 + 500 * length(source)
       |ORDER BY source, doc_id""".stripMargin

  private val tokenBudgetSql =
    s"""WITH t AS (SELECT doc_id, n_chars,
       |                  CAST(len(${tokenize("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, n_chars, n_tokens,
       |             CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |      FROM t)
       |SELECT doc_id, n_chars, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin

  // ---- column profiling ----------------------------------------------------
  /** [[DataOps.profile]] over three heterogeneous lineitem columns
    * (double / date / string) — null counts, exact distincts, stringified
    * min/max, one output row per column.
    */
  private def profileCols(s: SparkSession, d: String): DataFrame =
    DataOps.profile(Tables.lineitem(s, d),
      Seq("l_quantity", "l_shipdate", "l_returnflag"))
      .orderBy("column")

  private val profileColsSql =
    """SELECT count(*) AS n_rows, 'l_quantity' AS "column",
      |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_nulls,
      |       count(DISTINCT l_quantity) AS n_distinct,
      |       CAST(min(l_quantity) AS VARCHAR) AS vmin,
      |       CAST(max(l_quantity) AS VARCHAR) AS vmax
      |FROM lineitem
      |UNION ALL
      |SELECT count(*), 'l_shipdate',
      |       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT),
      |       count(DISTINCT l_shipdate),
      |       CAST(min(l_shipdate) AS VARCHAR),
      |       CAST(max(l_shipdate) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT count(*), 'l_returnflag',
      |       CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT),
      |       count(DISTINCT l_returnflag),
      |       CAST(min(l_returnflag) AS VARCHAR),
      |       CAST(max(l_returnflag) AS VARCHAR)
      |FROM lineitem
      |ORDER BY "column"""".stripMargin

  // ---- deterministic negative sampling -----------------------------------
  /** [[DataOps.negativeSample]]: 5 hash-drawn negatives per query doc
    * from a 64-doc hash-ranked pool, self excluded. Pool membership and
    * per-query order are independent md5 draws, both reproduced
    * relationally by the oracle — pair sets match exactly, not just
    * counts.
    */
  private def negativeSample(s: SparkSession, d: String): DataFrame =
    DataOps.negativeSample(Tables.documents(s, d), col("doc_id"),
        Tables.documents(s, d).filter(col("doc_id") < 8), col("doc_id"),
        k = 5, poolSize = 64)
      .orderBy("query_id", "rn")

  private val negativeSampleSql =
    s"""WITH pool AS (
       |  SELECT doc_id AS id FROM documents
       |  ORDER BY md5('pool:' || CAST(doc_id AS VARCHAR)), id LIMIT 64),
       |q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id < 8),
       |cand AS (SELECT query_id, id,
       |           md5(CAST(query_id AS VARCHAR) || ':'
       |               || CAST(id AS VARCHAR)) AS pk
       |         FROM q CROSS JOIN pool WHERE query_id <> id),
       |r AS (SELECT query_id, id,
       |        CAST(${rankBy("pk, id")} AS INTEGER) AS rn
       |      FROM cand)
       |SELECT query_id, rn, id FROM r WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin

  // ---- DSIR importance-resampled selection --------------------------------
  /** [[DataOps.importanceWeights]] + [[DataOps.gumbelTopK]]: hashed
    * n-gram importance weights of every document against a target
    * distribution (sources src0–src3), then the Gumbel-top-100
    * importance resample. The oracle re-derives the full chain —
    * unigram+bigram features, both smoothed bucket models, per-doc
    * log-weights, and the hash-Gumbel perturbation — so the selected
    * SET and its order are value-checked, not just counted.
    */
  private def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val target = docs.filter(
      col("source").isin("src0", "src1", "src2", "src3"))
    val w = DataOps.importanceWeights(docs, col("doc_id"), col("text"),
      target, col("text"), buckets = 512)
    DataOps.gumbelTopK(
        w.select(col("id"), col("n_feat"),
          round(col("log_w"), 6).as("log_w")),
        col("id"), col("log_w"), k = 100, seed = "dsir")
      .select(col("rn"), col("id").as("doc_id"), col("n_feat"),
        col("log_w"), col("key"))
      .orderBy("rn")
  }

  private val dsirSelectSql =
    s"""WITH tok AS (SELECT doc_id AS id, source,
       |               ${tokenize("text")} AS tk
       |             FROM documents),
       |uni AS (SELECT id, source, unnest(tk) AS g FROM tok),
       |bi AS (SELECT id, source, tk[i] || ' ' || tk[i + 1] AS g
       |       FROM (SELECT id, source, tk,
       |               unnest(range(1, len(tk))) AS i
       |             FROM tok)),
       |f AS (SELECT id, source,
       |        ('0x' || substr(md5(g), 1, 12))::BIGINT % 512 AS b
       |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |fc AS (SELECT id, b, count(*) AS cnt FROM f GROUP BY 1, 2),
       |rawt AS (SELECT b, count(*) AS rcnt FROM f GROUP BY 1),
       |tgtt AS (SELECT b, count(*) AS tcnt FROM f
       |         WHERE source IN ('src0', 'src1', 'src2', 'src3')
       |         GROUP BY 1),
       |rt AS (SELECT CAST(sum(rcnt) AS DOUBLE) AS rtot FROM rawt),
       |tt AS (SELECT CAST(sum(tcnt) AS DOUBLE) AS ttot FROM tgtt),
       |lr AS (SELECT rawt.b,
       |         ln((coalesce(tcnt, 0) + 0.5) / (ttot + 0.5 * 512))
       |         - ln((rcnt + 0.5) / (rtot + 0.5 * 512)) AS lr
       |       FROM rawt LEFT JOIN tgtt ON rawt.b = tgtt.b, rt, tt),
       |w AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_feat,
       |        round(sum(cnt * lr), 6) AS log_w
       |      FROM fc JOIN lr USING (b) GROUP BY 1),
       |g AS (SELECT id, n_feat, log_w,
       |        round(log_w - ln(-ln(
       |          ('0x' || substr(md5('dsir:' || CAST(id AS VARCHAR)),
       |             1, 12))::BIGINT / 281474976710656.0)), 6) AS key
       |      FROM w),
       |r AS (SELECT *, CAST(row_number() OVER (ORDER BY key DESC, id)
       |        AS INTEGER) AS rn
       |      FROM g)
       |SELECT rn, id AS doc_id, n_feat, log_w, key
       |FROM r WHERE rn <= 100 ORDER BY rn""".stripMargin

  // ---- CCNet-style perplexity bucketing -----------------------------------
  /** [[DataOps.quantileBuckets]] over [[TextAnalysis.unigramLogProbs]]:
    * within each source, documents cut into head/middle/tail thirds by
    * LM score — the CCNet shape, with the within-group rank computed by
    * the distributed prefix sum rather than a one-task-per-group
    * window. The oracle re-ranks relationally, so bucket boundaries
    * (including the uneven-remainder cuts) are value-checked.
    */
  private def pplBuckets(s: SparkSession, d: String): DataFrame = {
    val lp = TextAnalysis.unigramLogProbs(
        Tables.documents(s, d), "doc_id", "text")
      .select(col("id"), round(col("mean_logprob"), 6).as("lp"))
    val scored = lp.join(
      Tables.documents(s, d).select(col("doc_id").as("id"), col("source")),
      "id")
    DataOps.quantileBuckets(scored, col("source"), col("id"), col("lp"),
        k = 3)
      .withColumnRenamed("grp", "source")
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), min("score").as("lp_min"),
        max("score").as("lp_max"))
      .orderBy("source", "bucket")
  }

  private val pplBucketsSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(${tokenize("text")})
       |           AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tc),
       |lp AS (SELECT doc_id,
       |         round(sum(tf * ln(CAST(cnt AS DOUBLE) / total)) / sum(tf), 6)
       |           AS lp
       |       FROM tf JOIN tc USING (term), tot GROUP BY doc_id),
       |s AS (SELECT d.source, lp.doc_id, lp.lp
       |      FROM lp JOIN documents d USING (doc_id)),
       |r AS (SELECT source, doc_id, lp,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY lp DESC, doc_id) AS rk,
       |        count(*) OVER (PARTITION BY source) AS n
       |      FROM s),
       |b AS (SELECT source,
       |        CAST(floor((rk - 1) * 3.0 / n) AS INTEGER) AS bucket, lp
       |      FROM r)
       |SELECT source, bucket, count(*) AS n_docs,
       |       min(lp) AS lp_min, max(lp) AS lp_max
       |FROM b GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin

  // ---- stratified eval-set sampling ---------------------------------------
  /** [[DataOps.stratifiedSample]]: 5 deterministic hash-draws per source
    * — the fixed-size-per-group holdout every eval pipeline carves out.
    * The oracle replays the seeded hash ranking, so the exact sampled
    * ids (not just counts) are value-checked.
    */
  private def stratifiedSample(s: SparkSession, d: String): DataFrame =
    DataOps.stratifiedSample(Tables.documents(s, d), col("source"),
        col("doc_id"), k = 5)
      .select(col("grp").as("source"), col("id").as("doc_id"), col("rank"))
      .orderBy("source", "rank")

  private val stratifiedSampleSql =
    """WITH r AS (SELECT source, doc_id,
      |        CAST(row_number() OVER (PARTITION BY source
      |          ORDER BY md5('s1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |          AS BIGINT) AS rank
      |      FROM documents)
      |SELECT source, doc_id, rank FROM r
      |WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  // ---- temperature mixing --------------------------------------------------
  /** [[DataOps.temperatureMix]] at α = 0.5 over a skewed 60/30/10 domain
    * split (the documents table's own sources are uniform, which would
    * make every rate 1.0 and verify nothing): the big domain downsamples
    * to rate ≈ 0.79, the small one upsamples to ≈ 1.93 — the XLM-R
    * flattening, reproduced exactly by the oracle from the counts up
    * (power, normalization, 6-decimal rate rounding, md5 copy draw).
    */
  private def temperatureMixGate(s: SparkSession, d: String): DataFrame = {
    val dom = when(col("doc_id") % 10 < 6, "a")
      .when(col("doc_id") % 10 < 9, "b").otherwise("c")
    DataOps.temperatureMix(
        Tables.documents(s, d).withColumn("dom", dom),
        col("doc_id"), col("dom"), alpha = 0.5)
      .groupBy("dom")
      .agg(count(lit(1)).as("n_rows"), countDistinct("doc_id").as("n_docs"))
      .orderBy("dom")
  }

  private val temperatureMixSql =
    """WITH d AS (SELECT doc_id,
      |             CASE WHEN doc_id % 10 < 6 THEN 'a'
      |                  WHEN doc_id % 10 < 9 THEN 'b'
      |                  ELSE 'c' END AS dom
      |           FROM documents),
      |c AS (SELECT dom, count(*) AS n FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
      |             sum(power(n, 0.5)) AS denom FROM c),
      |r AS (SELECT dom, n,
      |        round(power(n, 0.5) / denom * total * 1.0 / n, 6) AS rate
      |      FROM c, t),
      |m AS (SELECT d.dom, d.doc_id, r.rate,
      |        substring(md5(CAST(d.doc_id AS VARCHAR)), 3, 2) AS b
      |      FROM d JOIN r USING (dom)),
      |cp AS (SELECT dom, doc_id,
      |         CAST(floor(rate) AS INT)
      |         + CASE WHEN b < printf('%02x',
      |             CAST(floor((rate - floor(rate)) * 256) AS INT))
      |           THEN 1 ELSE 0 END AS copies
      |       FROM m)
      |SELECT dom, CAST(sum(copies) AS BIGINT) AS n_rows,
      |       count(*) AS n_docs
      |FROM cp WHERE copies > 0 GROUP BY dom ORDER BY dom""".stripMargin

  // ---- hard-negative mining ------------------------------------------------
  /** [[EmbeddingSearch.hardNegatives]]: per query (vec_id < 8), the top-5
    * most-similar corpus vectors that are not labeled positives (self and
    * self+1 here), drawn from a 12-candidate exact pass — the DPR-style
    * complement of q_negative_sample's random draws. The oracle replays
    * candidate ranking, positive exclusion, and re-ranking, so the mined
    * pair set matches exactly.
    */
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val queries = embs.filter(col("vec_id") < 8)
    val positives = queries.select(col("vec_id").as("query_id"))
      .select(col("query_id"), explode(array(col("query_id"),
        col("query_id") + 1)).as("neighbor_id"))
    EmbeddingSearch.hardNegatives(embs, queries, positives,
        k = 5, candidateK = 12)
      .orderBy("query_id", "rn")
  }

  private val hardNegativesSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 8),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e),
       |$cosRanked,
       |c AS (SELECT * FROM r WHERE rank <= 12),
       |f AS (SELECT query_id, vec_id, cos,
       |        CAST(${rankBy("rank")} AS INTEGER) AS rn
       |      FROM c
       |      WHERE vec_id <> query_id AND vec_id <> query_id + 1)
       |SELECT query_id, rn, vec_id AS neighbor_id, round(cos, 6) AS cos
       |FROM f WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** Heavy hitters ([[graft.ext.DataOps.heavyHitters]]): every token
    * occurring in ≥ 0.5% of the corpus token stream, with EXACT counts
    * — per-partition Misra–Gries summaries bound the candidate set
    * (sound superset by the averaging argument), and the exact verify
    * pass over candidates only decides membership and values, so the
    * output equals the naive global GROUP BY the oracle runs while the
    * engine-side shuffle is bounded by candidates, not distinct
    * tokens. The stop-list mining shape at 100 TB, where distinct
    * n-grams are corpus-scale but the frequent ones fit a broadcast.
    */
  private def heavyHittersGate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("k"))
    graft.ext.DataOps.heavyHitters(toks, col("k"), minFrac = 0.005)
      .orderBy(desc("cnt"), col("k"))
  }

  private val heavyHittersSql =
    """WITH tok AS (SELECT unnest(regexp_split_to_array(
      |               lower(trim(text)), '\s+')) AS k
      |             FROM documents),
      |n AS (SELECT count(*) AS n FROM tok),
      |c AS (SELECT k, count(*) AS cnt FROM tok GROUP BY 1)
      |SELECT k, cnt FROM c, n
      |WHERE cnt >= greatest(1, ceil(0.005 * n))
      |ORDER BY cnt DESC, k""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("q_heavy_hitters", heavyHittersGate, Some(heavyHittersSql)),
    Gate("q_dsir_select", dsirSelect, Some(dsirSelectSql)),
    Gate("q_ppl_buckets", pplBuckets, Some(pplBucketsSql)),
    Gate("q_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Gate("q_temperature_mix", temperatureMixGate, Some(temperatureMixSql)),
    Gate("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    Gate("q_split_assign", splitAssign, Some(splitAssignSql)),
    Gate("q_split_groups", splitGroups, Some(splitGroupsSql)),
    Gate("q_negative_sample", negativeSample, Some(negativeSampleSql)),
    Gate("q_profile", profileCols, Some(profileColsSql)),
    Gate("q_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Gate("q_token_budget_by", tokenBudgetBy, Some(tokenBudgetBySql)),
    Gate("q_weighted_mix", weightedMix, Some(weightedMixSql)),
    Gate("q_weighted_resample", weightedResample, Some(weightedResampleSql)),
    Gate("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Gate("q_assemble_dataset", assembleDataset, Some(assembleDatasetSql)),
    Gate("q_assemble_multimodal", assembleMultimodal,
      Some(assembleMultimodalSql)),
    Gate("q_shard_writer", shardWriter, Some(shardWriterSql)),
    Gate("q_dup_clusters", dupClusters, Some(dupClustersSql)),
    Gate("q_dup_clusters_star", dupClustersStar, Some(dupClustersStarSql)),
    Gate("q_dup_clusters_inc", dupClustersInc, Some(dupClustersStarSql)),
    Gate("q_decontaminate", decontaminate, Some(decontaminateSql)),
    Gate("q_pii_scrub", piiScrub, Some(piiScrubSql)),
    Gate("q_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    Gate("q_dp_counts", dpCounts, Some(dpCountsSql)),
    Gate("q_repetition", repetition, Some(repetitionSql)),
  )
}
