package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Gate, Tables}
import OracleSql._
import GateOps._
import graft.ext.{Audio, Dedup, EmbeddingSearch, Multimodal, SemDedup, TextAnalysis}

/** Gates for the training-data-pipeline extension surface (SURVEY §2.10):
  * dedup family, similarity search, text analysis, multimodal plumbing.
  * SQL-expressible ops carry exact DuckDB oracles. The approximate ops are
  * gated on verified outcomes instead: sketch dedup (MinHash/SimHash)
  * exact-verifies its candidates, so its output is the true pair set the
  * oracle recomputes; ANN top-k emits per-query recall-vs-brute-force
  * booleans the oracle asserts true.
  */
object ExtQueries {

  // ---- exact dedup -------------------------------------------------------
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), col("text"), col("doc_id"))
      .orderBy("h")

  private val dedupExactSql =
    """SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keeper_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  // ---- token statistics --------------------------------------------------
  private def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
        avg("n_chars").as("avg_chars"))
      .orderBy("source")

  private val tokenStatsSql =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(len(${tokenize("text")})) AS BIGINT)
       |         AS total_tokens,
       |       avg(n_chars) AS avg_chars
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- normalization fingerprint ----------------------------------------
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private val fingerprintSql =
    """SELECT doc_id,
      |       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- quality score -----------------------------------------------------
  private def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      round(TextAnalysis.stopwordRatio(toks), 6).as("stop_ratio"),
      round(TextAnalysis.uniqueRatio(toks), 6).as("uniq_ratio"),
      round(TextAnalysis.qualityScore(toks), 6).as("quality"),
    ).orderBy("doc_id")
  }

  private val enList = TextAnalysis.langProfiles.head._2
    .map(w => s"'$w'").mkString(", ")

  private val qualityScoreSql =
    s"""WITH t AS (SELECT doc_id,
       |             ${tokenize("text")} AS toks
       |           FROM documents)
       |SELECT doc_id,
       |       CAST(len(toks) AS INTEGER) AS n_tokens,
       |       round(CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE)
       |             / len(toks), 6) AS stop_ratio,
       |       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
       |         AS uniq_ratio,
       |       round(CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE)
       |               / len(toks) * 0.4
       |             + least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.3
       |             + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3,
       |             6) AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  /** Crawl-text normalization ([[TextAnalysis.normalizeText]]): each doc
    * is wrapped in a deterministic mess — decomposed accent (e +
    * U+0301), zero-width space, C0 control, tab runs, BOM, padding —
    * built identically in Spark and in the oracle from literals, then
    * normalized. The oracle replays NFC (`nfc_normalize`) and the exact
    * same strip/collapse regex chain; both engines must produce the
    * identical composed, stripped, single-spaced string and code-point
    * length. (NUL is in the strip class but not the fixture — DuckDB
    * literals can't carry it.)
    */
  private def textNormalize(s: SparkSession, d: String): DataFrame = {
    val messy = concat(lit("  cafe\u0301\u200b  "), col("text"),
      lit("  x\u0001y\tz \uFEFF w"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.normalizeText(messy).as("norm"))
      .withColumn("n_norm", length(col("norm")))
      .orderBy("doc_id")
  }

  private val textNormalizeSql =
    """WITH m AS (SELECT doc_id,
      |  '  cafe' || chr(769) || chr(8203) || '  ' || text ||
      |  '  x' || chr(1) || 'y' || chr(9) || 'z ' || chr(65279) || ' w'
      |    AS messy FROM documents),
      |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
      |        nfc_normalize(messy),
      |        '\p{Cf}', '', 'g'),
      |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
      |        '\s+', ' ', 'g')) AS norm FROM m)
      |SELECT doc_id, norm, CAST(length(norm) AS INTEGER) AS n_norm
      |FROM n ORDER BY doc_id""".stripMargin

  /** Domain-reputation filter ([[TextAnalysis.domainFilter]]): block two
    * domains outright, drop domains whose MEAN document quality falls
    * below the corpus median (threshold 0.422 splits the synthetic
    * domains non-vacuously at every sf), and carry the per-domain stats
    * onto every surviving doc. The oracle recomputes the whole funnel —
    * per-doc quality, domain aggregate, blocklist, threshold, join-back
    * — relationally.
    */
  private def domainFilterGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.domainFilter(Tables.documents(s, d),
        col("source"), col("text"),
        blocklist = Seq("src3", "src7"), minQuality = 0.422)
      .select(col("doc_id"), col("source").as("domain"), col("domain_docs"),
        round(col("domain_quality"), 6).as("domain_quality"))
      .orderBy("doc_id")

  private val domainFilterSql =
    s"""WITH t AS (SELECT doc_id, source,
       |             ${tokenize("text")} AS toks
       |           FROM documents),
       |q AS (SELECT doc_id, source,
       |        CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE)
       |            / len(toks) * 0.4
       |          + least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.3
       |          + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3
       |          AS quality
       |      FROM t),
       |d AS (SELECT source, count(*) AS domain_docs, avg(quality) AS mq
       |      FROM q GROUP BY 1),
       |keep AS (SELECT * FROM d
       |         WHERE source NOT IN ('src3', 'src7') AND mq >= 0.422)
       |SELECT q.doc_id, q.source AS domain, keep.domain_docs,
       |       round(keep.mq, 6) AS domain_quality
       |FROM q JOIN keep ON q.source = keep.source
       |ORDER BY doc_id""".stripMargin

  // ---- heuristic language ID --------------------------------------------
  private def langId(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      TextAnalysis.languageId(toks).as("predicted"),
    ).orderBy("doc_id")
  }

  /** The when-chain argmax, generated from the same profile list the Spark
    * side uses so the two can never drift apart.
    */
  private val langIdSql: String = {
    val profs = TextAnalysis.langProfiles
    def score(ws: Seq[String]) =
      s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    val scoreCols = profs.map { case (l, ws) => s"${score(ws)} AS s_$l" }
      .mkString(",\n            ")
    val cases = profs.zipWithIndex.init.map { case ((l, _), i) =>
      val conds = profs.drop(i + 1).map { case (o, _) => s"s_$l >= s_$o" }
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
    s"""WITH t AS (SELECT doc_id, lang,
       |             ${tokenize("text")} AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, lang,
       |            $scoreCols
       |      FROM t)
       |SELECT doc_id, lang,
       |       CASE $cases
       |         ELSE '${profs.last._1}' END AS predicted
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---- n-gram Jaccard near-dedup (planted near-dupes) --------------------
  /** Corpus = documents plus a perturbed copy of every 10th doc — the
    * planted near-duplicates both engines must find at jaccard ≥ 0.5.
    */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id").as("id"), lower(trim(col("text"))).as("t"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          concat(lower(trim(col("text"))), lit(" zq zr")).as("t")))
  }

  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(dupCorpus(s, d), col("id"), col("t"),
      n = 3, threshold = 0.5, maxDF = 20)
      .orderBy("id_a", "id_b")

  /** All true near-dup pairs (jaccard ≥ 0.5) of the planted corpus, as a
    * CTE stack shared by the exact-join gate and the sketch-dedup oracles
    * (MinHash/SimHash verify their candidates exactly, so a complete-recall
    * sketch pass emits exactly this set).
    */
  private val truePairsCte =
    """WITH corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks FROM corpus),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq USING (sh)
      |         WHERE df <= 20),
      |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      |           FROM rare a JOIN rare b ON a.sh = b.sh AND a.id < b.id
      |           GROUP BY 1, 2),
      |pairs AS (
      |  SELECT common.id_a, common.id_b, common.common,
      |         sa.n_sh AS n_a, sb.n_sh AS n_b,
      |         CAST(common.common AS DOUBLE)
      |           / (sa.n_sh + sb.n_sh - common.common) AS jaccard
      |  FROM common
      |  JOIN sizes sa ON sa.id = common.id_a
      |  JOIN sizes sb ON sb.id = common.id_b)""".stripMargin

  private val ngramJaccardSql =
    s"""$truePairsCte
       |SELECT id_a, id_b, common, n_a, n_b, jaccard FROM pairs
       |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** Prefix-filtered EXACT similarity join ([[Dedup.prefixJaccardPairs]]):
    * same planted corpus, but true uncapped Jaccard — no stop-shingle df
    * cap anywhere in the semantics. The oracle is therefore the honest
    * quadratic ground truth (all-pairs over the full inverted index),
    * which the engine must reproduce exactly while only ever joining
    * rarity-ordered prefixes.
    */
  private def simjoinPrefix(s: SparkSession, d: String): DataFrame =
    Dedup.prefixJaccardPairs(dupCorpus(s, d), col("id"), col("t"),
      n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  private val simjoinPrefixSql =
    """WITH corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks FROM corpus),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      |           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      |           GROUP BY 1, 2),
      |pairs AS (
      |  SELECT common.id_a, common.id_b, common.common,
      |         sa.n_sh AS n_a, sb.n_sh AS n_b,
      |         CAST(common.common AS DOUBLE)
      |           / (sa.n_sh + sb.n_sh - common.common) AS jaccard
      |  FROM common
      |  JOIN sizes sa ON sa.id = common.id_a
      |  JOIN sizes sb ON sb.id = common.id_b)
      |SELECT id_a, id_b, common, n_a, n_b, jaccard FROM pairs
      |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** Sorted-neighborhood blocking ([[Dedup.sortedNeighborPairs]]): block
    * on the first 12 squashed characters, pair each doc with its 7 key-
    * order successors, verify with exact 3-gram Jaccard ≥ 0.1. The
    * oracle replays rank, the neighbor window, and the hash-invariant
    * set arithmetic on raw shingle strings.
    */
  private def sortedNeighbors(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborPairs(Tables.documents(s, d), col("doc_id"),
        substring(regexp_replace(lower(trim(col("text"))), "\\s+", ""),
          1, 12),
        col("text"), window = 8, n = 3, minJaccard = 0.1)
      .orderBy("id_a", "id_b")

  private val sortedNeighborsSql =
    """WITH d AS (SELECT doc_id AS id, lower(trim(text)) AS t
      |           FROM documents),
      |k AS (SELECT id, substr(regexp_replace(t, '\s+', '', 'g'), 1, 12)
      |        AS key FROM d),
      |r AS (SELECT id, row_number() OVER (ORDER BY key, id) AS rnk
      |      FROM k),
      |cand AS (SELECT DISTINCT least(a.id, b.id) AS id_a,
      |           greatest(a.id, b.id) AS id_b
      |         FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk < a.rnk + 8),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks FROM d),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |common AS (SELECT c.id_a, c.id_b, count(*) AS common
      |           FROM cand c JOIN sh a ON a.id = c.id_a
      |           JOIN sh b ON b.id = c.id_b AND b.sh = a.sh
      |           GROUP BY 1, 2)
      |SELECT common.id_a, common.id_b, common.common,
      |       sa.n_sh AS n_a, sb.n_sh AS n_b,
      |       CAST(common.common AS DOUBLE)
      |         / (sa.n_sh + sb.n_sh - common.common) AS jaccard
      |FROM common
      |JOIN sizes sa ON sa.id = common.id_a
      |JOIN sizes sb ON sb.id = common.id_b
      |WHERE CAST(common.common AS DOUBLE)
      |        / (sa.n_sh + sb.n_sh - common.common) >= 0.1
      |ORDER BY id_a, id_b""".stripMargin

  /** A sketch-dedup run (candidates + exact verify) with complete recall
    * emits exactly the true pair set — the MinHash gate's oracle (32
    * minhashes in 8 bands make missing a jaccard-0.5 pair vanishingly
    * unlikely; measured complete at every sf). It verifies with the same
    * stop-shingle-suppressed jaccard (maxDF=20) the exact join uses, so
    * values are identical, not just the pair set.
    */
  private val verifiedPairsSql =
    s"""$truePairsCte
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** Dup-graph PageRank ([[graft.ext.GraphOps.pageRank]]): the verified
    * near-dup pairs become an undirected graph and 3 damped iterations
    * rank each doc's centrality — within a cluster the top-rank doc is
    * the canonical-representative signal connectivity alone can't give.
    * The oracle UNROLLS the same three iterations relationally on top of
    * the exact-pair CTE, so every rank value is checked, not a fixpoint
    * property.
    */
  /** The verified near-dup pair set shared by graph-composition gates
    * (same build-once contract as [[sharedDedupIndex]]): the LSH
    * pipeline that produces it is priced by q_minhash_dedup, so
    * downstream graph gates pay for their graph work, not a re-run of
    * the dedup.
    */
  private def sharedDupPairs(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"dup_pairs:$d", "gate_dup_pairs_") { dir =>
      Dedup.minhashDedup(dupCorpus(s, d), col("id"), col("t"),
          n = 3, threshold = 0.5, maxDF = 20)
        .write.mode("overwrite").parquet(s"$dir/pairs")
    }

  private def dupPageRank(s: SparkSession, d: String): DataFrame =
    graft.ext.GraphOps.pageRank(
      s.read.parquet(s"${sharedDupPairs(s, d)}/pairs"))
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy("id")

  private val dupPageRankSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT d.src AS id,
         |  0.15 + 0.85 * coalesce(s.x, 0) AS rank
         |FROM deg d LEFT JOIN (
         |  SELECT e.dst, sum(r.rank / dg.deg) AS x
         |  FROM edges e JOIN $prev r ON r.id = e.src
         |  JOIN deg dg ON dg.src = e.src
         |  GROUP BY e.dst) s ON s.dst = d.src)""".stripMargin
    s"""$truePairsCte,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs WHERE jaccard >= 0.5),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS id, 1.0 AS rank FROM deg),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id""".stripMargin
  }

  // ---- MinHash LSH / SimHash: banded candidates + exact verification ----
  private def minhashDedup(s: SparkSession, d: String): DataFrame =
    Dedup.minhashDedup(dupCorpus(s, d), col("id"), col("t"),
      n = 3, threshold = 0.5, maxDF = 20)
      .orderBy("id_a", "id_b")

  /** Incremental dedup against a PERSISTED index ([[graft.ext.DedupIndex]]):
    * build the index over the base documents, then dedup the planted
    * near-dup batch against it — the batch's bucket keys broadcast against
    * saved buckets, exact verification reads old shingle sets only for
    * candidate docs, and the corpus text is never re-scanned. The oracle
    * is the full-corpus true-pair set restricted to pairs involving a
    * new-batch doc (planted ids are offset by 100000, so that's
    * `id_b >= 100000`): the incremental path must land on exactly the
    * values a from-scratch run reports for those pairs.
    */
  /** The base-corpus index shared by the two composition gates, built
    * ONCE per JVM ([[graft.Gate.memoDir]]): both gates pin per-batch
    * dedup semantics against the oracle, and the full-corpus build they
    * share is already priced by its own lifecycle gates — rebuilding it
    * inside each gate only re-times known work. Read-only consumers use
    * the dir directly; [[streamDedupIndex]] appends, so it takes a copy.
    */
  private def sharedDedupIndex(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"dedup_idx:$d", "gate_dedup_idx_") { dir =>
      val old = Tables.documents(s, d).select(col("doc_id").as("id"),
        lower(trim(col("text"))).as("t"))
      graft.ext.DedupIndex.build(old, col("id"), col("t"), dir, n = 3)
    }

  /** Pre-builds both shared indexes OUTSIDE any timed window (Bench
    * calls this during warmup; Verify doesn't need to — the first
    * consumer builds lazily and correctness is unaffected).
    */
  def prewarmSharedIndex(s: SparkSession, d: String): Unit = {
    sharedDedupIndex(s, d)
    sharedDupIndex(s, d)
    sharedBm25Index(s, d)
    sharedDupPairs(s, d)
    sharedLiteralIndex(s, d)
    sharedIvfIndex(s, d)
    sharedIngestRoot(s, d)
    MaintainQueries.sharedGraphSeed(s, d)
    // the federated binary roots are training-free corpus encodes with
    // no dependency on a bench-priced memo — safe to prime here so
    // q_ann_fed_serve's window prices the SERVE at every scale point
    ScaleQueries.sharedFedBinaryRoots(s, d)
    ()
  }

  /** The fixed 20-doc delivery [[sharedIngestRoot]] admits and
    * `q_ingest_probe` replays — ids far outside every base and
    * replica id domain.
    */
  private def probeDelivery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 20)
      .select((col("doc_id") + 600000).as("id"), col("text"))
      .join(Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select((col("vec_id") + 600000).as("id"),
          col("embedding").as("emb")), Seq("id"))

  /** Shared ingest root for the admission probe: store + bm25 +
    * literal + ivf registered under one root with the probe delivery
    * ALREADY admitted — built in prewarm, outside every timed window,
    * so `q_ingest_probe`'s timed window is a REPLAYED admit: one
    * durable intent write plus four bloom-pruned presence probes that
    * each find the whole delivery live and publish nothing. That is
    * the steady-state admission cost a 100 TB ingest loop pays per
    * already-seen delivery, isolated from index construction.
    */
  private def sharedIngestRoot(s: SparkSession, d: String): String = {
    // resolve the shared builds BEFORE the memo body: memoDir is a
    // computeIfAbsent, and a nested memoDir call inside it is a
    // recursive update on the same map
    val bm25Src = sharedBm25Index(s, d)
    val litSrc = sharedLiteralIndex(s, d)
    val ivfSrc = sharedIvfIndex(s, d)
    graft.Gate.memoDir(s"ingest_probe:$d", "gate_ingprobe_") { root =>
      import graft.ext.Takedown
      val storeDir = graft.Gate.tmpDir("gate_ingprobe_store_")
      graft.ext.CorpusStore.build(
        Tables.documents(s, d).select(col("doc_id").as("id"), col("text")),
        col("id"), storeDir)
      val bm25Dir = graft.Gate.copyDir(bm25Src, "gate_ingprobe_bm25_")
      val litDir = graft.Gate.copyDir(litSrc, "gate_ingprobe_lit_")
      val ivfDir = graft.Gate.copyDir(ivfSrc, "gate_ingprobe_ivf_")
      Takedown.register(s, root, Takedown.Surface("store", storeDir))
      Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
      Takedown.register(s, root, Takedown.Surface("literal", litDir))
      Takedown.register(s, root, Takedown.Surface("ivf", ivfDir))
      graft.ext.Ingest.admit(s, root, probeDelivery(s, d), col("id"))
      ()
    }
  }

  /** The saved base-corpus BM25 index shared by the maintenance /
    * composition gates (same build-once contract as
    * [[sharedDedupIndex]]): the build+save lifecycle is priced by
    * q_bm25_persist, so append/stream/fusion gates start from a copy
    * (or read-only load) instead of re-pricing known work.
    */
  /** Bucket count for the BM25 gates' saved layouts: a layout-only
    * parameter (semantics and oracles unaffected) sized to the gate
    * corpora — production corpora want the 64+ default for finer
    * partition pruning.
    */
  private val bm25Buckets = 16

  private def sharedBm25Index(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"bm25_idx:$d", "gate_bm25_idx_") { dir =>
      graft.ext.TextSearch.buildAndSave(Tables.documents(s, d),
        col("doc_id"), col("text"), dir, buckets = bm25Buckets)
    }

  /** Saved literal (gram-bucket) index over the base corpus, built once
    * per JVM — the takedown gates mutate a [[graft.Gate.copyDir]] copy,
    * so their timed window prices RETRACTION, not index construction
    * (the build lifecycle is priced by q_literal_persist).
    */
  private def sharedLiteralIndex(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"literal_idx:$d", "gate_lit_idx_") { dir =>
      graft.ext.LiteralIndex.buildAndSave(Tables.documents(s, d),
        col("doc_id"), col("text"), dir, n = 4, buckets = 16)
    }

  /** Saved IVF index over the base embeddings, built once per JVM (same
    * contract as [[sharedLiteralIndex]]; the build lifecycle is priced
    * by q_ivf_persist).
    */
  private def sharedIvfIndex(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"ivf_idx:$d", "gate_ivf_idx_") { dir =>
      graft.ext.IvfIndex.save(
        graft.ext.IvfIndex.build(Tables.embeddings(s, d),
          k = 16, sampleFraction = 0.25), dir)
    }

  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nw = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    val dir = sharedDedupIndex(s, d)
    graft.ext.DedupIndex.dedupBatch(s, dir, nw, col("id"), col("t"),
        threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  private val dedupIncrementalSql =
    s"""$truePairsCte
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE jaccard >= 0.5 AND id_b >= 100000
       |ORDER BY id_a, id_b""".stripMargin

  /** Index retraction ([[graft.ext.DedupIndex.delete]]): every
    * doc_id % 10 == 5 base document is tombstoned (negative df partials
    * from one shingle-table scan — no corpus re-read), the index is
    * [[graft.ext.DedupIndex.compact]]ed so the tombstones apply
    * physically, and the same delivery as q_dedup_incremental dedups
    * against the survivor index. The oracle recomputes the pair set
    * from scratch over (surviving base ∪ delta): deleted docs must not
    * pair, and the df suppression set must reflect their absence —
    * DedupIndexSpec pins the pre-compact (tombstone-masked) path to the
    * same answers.
    */
  private def dedupDelete(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nw = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    val dir = graft.Gate.copyDir(sharedDedupIndex(s, d), "gate_dedup_del_")
    graft.ext.DedupIndex.delete(s, dir,
      docs.filter(col("doc_id") % 10 === 5).select("doc_id"), col("doc_id"))
    graft.ext.DedupIndex.compact(s, dir)
    graft.ext.DedupIndex.dedupBatch(s, dir, nw, col("id"), col("t"),
        threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** q_dedup_delete's oracle, shared verbatim by q_cdc_maintain_dedup
    * ([[MaintainQueries]]): the feed-maintained index reaches exactly
    * the same final state (full corpus admitted, doc_id % 10 == 5
    * retracted), so the surviving-corpus true-pair set is the same.
    */
  private[queries] def dedupDeleteOracle: String = dedupDeleteSql

  private val dedupDeleteSql =
    s"""${truePairsCte.replace(
        "SELECT doc_id AS id, lower(trim(text)) AS t FROM documents",
        "SELECT doc_id AS id, lower(trim(text)) AS t FROM documents" +
          " WHERE doc_id % 10 <> 5")}
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE jaccard >= 0.5 AND id_b >= 100000
       |ORDER BY id_a, id_b""".stripMargin

  /** Index compaction ([[graft.ext.DedupIndex.compact]]): compaction is
    * a pure layout rewrite (df partials summed, derivatives clustered by
    * id), so batch dedup against the COMPACTED index must land on
    * exactly the values the uncompacted one produces — the gate runs
    * the q_dedup_incremental query against a compacted private copy and
    * shares its oracle verbatim.
    */
  private def dedupCompact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nw = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    val dir = graft.Gate.copyDir(sharedDedupIndex(s, d), "gate_cmp_idx_")
    graft.ext.DedupIndex.compact(s, dir)
    graft.ext.DedupIndex.dedupBatch(s, dir, nw, col("id"), col("t"),
        threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** The production ingest shape for dedup: deliveries STREAM in, each
    * micro-batch dedups against the persisted [[graft.ext.DedupIndex]]
    * and is then admitted to it — `foreachBatch` composes the streaming
    * source with the batch index exactly as the reference's sensors
    * compose polling with its batch loaders. Batch boundaries must not
    * change the answer: a pair split across micro-batches is caught when
    * its second member arrives (the first is already in the index).
    * Deliberately NO df suppression here (maxDF = ∞): per-batch doc
    * frequencies see only the history so far, so a df-capped jaccard
    * would depend on where the batch boundary fell — without the cap,
    * |A∩B| is batch-invariant and the union of per-batch pair sets is
    * pinned against one full-corpus oracle. (With a cap, re-verify
    * admitted pairs when df drifts — see DedupIndexSpec's drift test.)
    */
  private def streamDedupIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nw = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    // this gate APPENDS each micro-batch to the index, so it works on a
    // private tmpfs copy of the shared build — rerunning the gate must
    // start from the base corpus, not from a previously admitted stream
    val idx = graft.Gate.copyDir(sharedDedupIndex(s, d), "gate_sdi_idx_")
    val in = graft.Gate.tmpDir("gate_sdi_in_")
    val ckpt = graft.Gate.tmpDir("gate_sdi_ck_")
    val out = graft.Gate.tmpDir("gate_sdi_out_")
    // two delivery files → two micro-batches (maxFilesPerTrigger=1)
    nw.filter(col("id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    nw.filter(col("id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "id LONG, t STRING", in, ckpt) { (batch, _) =>
      // fused dedup+admit: one batch encode feeds both the pair search
      // and the appended derivatives (scoring completes eagerly before
      // the append, so batch-boundary semantics are unchanged)
      val pairs = graft.ext.DedupIndex.ingestBatch(s, idx, batch,
        col("id"), col("t"), threshold = 0.5)
      pairs.write.mode("append").parquet(out)
    }
    s.read.schema("id_a LONG, id_b LONG, jaccard DOUBLE").parquet(out)
      .orderBy("id_a", "id_b")
  }

  /** Exact-substring repeat coverage
    * ([[graft.ext.TextAnalysis.repeatedSpans]], Lee et al. ACL 2022):
    * every 5-token window occurring at least twice corpus-wide is a
    * hit; per document the hits merge into maximal intervals and the
    * gate reports span/coverage stats. The oracle mirrors the
    * positional 48-bit md5 gram hashing and the gaps-and-islands merge
    * relationally.
    */
  private def repeatedSpans(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.repeatedSpans(Tables.documents(s, d),
        col("doc_id"), col("text"), L = 5, minOcc = 2)
      .orderBy("id")

  private val repeatedSpansSql =
    s"""WITH ${docTokens("tok", "documents")},
       |tk AS (SELECT id, toks, len(toks) AS n_tokens FROM tok),
       |g0 AS (SELECT id, unnest(list_transform(range(n_tokens - 4),
       |         i -> struct_pack(pos := i,
       |                h := CAST(('0x' || substr(md5(
       |                       array_to_string(toks[i+1:i+5], ' ')), 1, 12))
       |                     AS BIGINT)))) AS u
       |       FROM tk WHERE n_tokens >= 5),
       |g AS (SELECT id, u.pos AS pos, u.h AS h FROM g0),
       |hot AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT g.id, g.pos FROM g JOIN hot USING (h)),
       |ordered AS (SELECT id, pos,
       |              max(pos + 5) OVER (PARTITION BY id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |                AS pme
       |            FROM hits),
       |isl AS (SELECT id, pos,
       |          sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY id ORDER BY pos
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS island
       |        FROM ordered),
       |spans AS (SELECT id, island, min(pos) AS s, max(pos) + 5 AS e
       |          FROM isl GROUP BY 1, 2),
       |cov AS (SELECT id, count(*) AS n_spans,
       |          CAST(sum(e - s) AS BIGINT) AS covered
       |        FROM spans GROUP BY id)
       |SELECT tk.id, tk.n_tokens,
       |       CAST(coalesce(cov.n_spans, 0) AS BIGINT) AS n_spans,
       |       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
       |       round(CAST(coalesce(cov.covered, 0) AS DOUBLE) / tk.n_tokens,
       |             4) AS coverage
       |FROM tk LEFT JOIN cov USING (id)
       |ORDER BY id""".stripMargin

  /** Repeated-span REMOVAL ([[graft.ext.TextAnalysis.scrubRepeatedSpans]]):
    * the transform the coverage report motivates — tokens inside any
    * repeated interval are dropped and the survivors re-joined. The
    * oracle rebuilds the kept-token array with the same lambda logic
    * and compares an md5 of the scrubbed text (rows stay small).
    */
  private def scrubSpans(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.scrubRepeatedSpans(Tables.documents(s, d),
        col("doc_id"), col("text"), L = 5, minOcc = 2)
      .select(col("id"), col("n_tokens"), col("kept_tokens"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("id")

  private val scrubSpansSql =
    s"""WITH ${docTokens("tok", "documents")},
       |tk AS (SELECT id, toks, len(toks) AS n_tokens FROM tok),
       |g0 AS (SELECT id, unnest(list_transform(range(n_tokens - 4),
       |         i -> struct_pack(pos := i,
       |                h := CAST(('0x' || substr(md5(
       |                       array_to_string(toks[i+1:i+5], ' ')), 1, 12))
       |                     AS BIGINT)))) AS u
       |       FROM tk WHERE n_tokens >= 5),
       |g AS (SELECT id, u.pos AS pos, u.h AS h FROM g0),
       |hot AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT g.id, g.pos FROM g JOIN hot USING (h)),
       |ordered AS (SELECT id, pos,
       |              max(pos + 5) OVER (PARTITION BY id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |                AS pme
       |            FROM hits),
       |isl AS (SELECT id, pos,
       |          sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY id ORDER BY pos
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS island
       |        FROM ordered),
       |spans AS (SELECT id, island, min(pos) AS s, max(pos) + 5 AS e
       |          FROM isl GROUP BY 1, 2),
       |sarr AS (SELECT id, array_agg(struct_pack(s := s, e := e)) AS sps
       |         FROM spans GROUP BY id),
       |kept AS (SELECT tk.id, tk.n_tokens,
       |           list_filter(list_transform(range(len(toks)),
       |             i -> CASE WHEN sps IS NOT NULL AND len(list_filter(sps,
       |                    sp -> sp.s <= i AND i < sp.e)) > 0
       |                  THEN NULL ELSE toks[i+1] END),
       |             x -> x IS NOT NULL) AS kt
       |         FROM tk LEFT JOIN sarr ON sarr.id = tk.id)
       |SELECT id, n_tokens, CAST(len(kt) AS BIGINT) AS kept_tokens,
       |       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
       |FROM kept ORDER BY id""".stripMargin

  /** df-drift re-verification ([[graft.ext.DedupIndex.reverifyDrift]]):
    * re-delivering every 7th document pushes its shingles' document
    * frequency up; shingles crossing the maxDF=4 cap become stop
    * shingles for the WHOLE corpus, so previously admitted pairs
    * re-score. The gate emits each admitted pair touching a crossing
    * shingle with its pre/post jaccard and post-batch verdict,
    * restricted to the planted high-jaccard pairs (LSH recall on those
    * is ~1, so the bucket-driven candidate universe equals the oracle's
    * relational one); the oracle recomputes both df regimes from
    * scratch over the same corpus.
    */
  private def sharedDupIndex(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"dedup_idx_dup:$d", "gate_drift_idx_") { dir =>
      graft.ext.DedupIndex.build(dupCorpus(s, d), col("id"), col("t"),
        dir, n = 3)
    }

  private def dedupDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("id"),
        lower(trim(col("text"))).as("t"))
    graft.ext.DedupIndex.reverifyDrift(s, sharedDupIndex(s, d), batch,
        col("id"), col("t"), threshold = 0.5, maxDF = 4)
      .filter(col("id_b") >= 100000)
      .select("id_a", "id_b", "jaccard_old", "jaccard_new", "is_dup")
      .orderBy("id_a", "id_b")
  }

  private val dedupDriftSql =
    """WITH corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |batch AS (SELECT doc_id + 200000 AS id, lower(trim(text)) AS t
      |          FROM documents WHERE doc_id % 7 = 0),
      |tokc AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks
      |         FROM corpus),
      |tokb AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks
      |         FROM batch),
      |shc AS (SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 3
      |          THEN list_transform(range(len(toks) - 2),
      |                 i -> array_to_string(toks[i+1:i+3], ' '))
      |          ELSE [array_to_string(toks, ' ')] END)) AS sh FROM tokc),
      |shb AS (SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 3
      |          THEN list_transform(range(len(toks) - 2),
      |                 i -> array_to_string(toks[i+1:i+3], ' '))
      |          ELSE [array_to_string(toks, ' ')] END)) AS sh FROM tokb),
      |dfo AS (SELECT sh, count(*) AS df_old FROM shc GROUP BY sh),
      |dfb AS (SELECT sh, count(*) AS delta FROM shb GROUP BY sh),
      |crossing AS (SELECT sh FROM dfo JOIN dfb USING (sh)
      |             WHERE df_old <= 4 AND df_old + delta > 4),
      |affected AS (SELECT DISTINCT id FROM shc JOIN crossing USING (sh)),
      |sizes AS (SELECT id, count(*) AS n_sh FROM shc GROUP BY id),
      |rare_old AS (SELECT s.id, s.sh FROM shc s JOIN dfo USING (sh)
      |             WHERE df_old <= 4),
      |rare_new AS (SELECT id, sh FROM rare_old
      |             WHERE sh NOT IN (SELECT sh FROM crossing)),
      |co AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      |       FROM rare_old a JOIN rare_old b
      |         ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
      |cn AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      |       FROM rare_new a JOIN rare_new b
      |         ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
      |SELECT co.id_a, co.id_b,
      |       CAST(co.c AS DOUBLE)
      |         / (sa.n_sh + sb.n_sh - co.c) AS jaccard_old,
      |       CAST(coalesce(cn.c, 0) AS DOUBLE)
      |         / (sa.n_sh + sb.n_sh - coalesce(cn.c, 0)) AS jaccard_new,
      |       CAST(coalesce(cn.c, 0) AS DOUBLE)
      |         / (sa.n_sh + sb.n_sh - coalesce(cn.c, 0)) >= 0.5 AS is_dup
      |FROM co
      |JOIN sizes sa ON sa.id = co.id_a
      |JOIN sizes sb ON sb.id = co.id_b
      |LEFT JOIN cn ON cn.id_a = co.id_a AND cn.id_b = co.id_b
      |WHERE CAST(co.c AS DOUBLE) / (sa.n_sh + sb.n_sh - co.c) >= 0.5
      |  AND co.id_b >= 100000
      |  AND (co.id_a IN (SELECT id FROM affected)
      |       OR co.id_b IN (SELECT id FROM affected))
      |ORDER BY co.id_a, co.id_b""".stripMargin

  /** The full STREAMING DEDUP MAINTENANCE LOOP in one gate: per
    * micro-batch, [[graft.ext.DedupIndex.ingestBatch]] dedups the
    * delivery against the evolving index (one encode, no corpus
    * re-scan) and [[graft.ext.Dedup.incrementalComponents]] folds the
    * emitted pairs into STANDING cluster labels (delta-proportional —
    * untouched labels carry over verbatim), which round-trip through
    * storage between batches exactly as a production job would persist
    * them. After the drain, the standing labels must equal a from-
    * scratch batch clustering of the complete accumulated pair set —
    * the recursive-CTE oracle — proving the two incremental operators
    * COMPOSE across arbitrary micro-batch boundaries, which is the
    * whole point of incremental maintenance at 100 TB: no stage of the
    * loop ever relabels or re-reads the corpus.
    */
  private def streamClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nw = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    val idx = graft.Gate.copyDir(sharedDedupIndex(s, d), "gate_sc_idx_")
    val in = graft.Gate.tmpDir("gate_sc_in_")
    val ckpt = graft.Gate.tmpDir("gate_sc_ck_")
    val lab = graft.Gate.tmpDir("gate_sc_lab_")
    nw.filter(col("id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    nw.filter(col("id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    // yesterday's state: every base doc a singleton (the base corpus'
    // internal pairs are a batch job priced by q_dup_clusters; this
    // gate prices the incremental fold)
    docs.select(col("doc_id").as("id"), col("doc_id").as("cluster"))
      .write.mode("overwrite").parquet(s"$lab/v0")
    val last = new java.util.concurrent.atomic.AtomicLong(0L)
    drain(s, "id LONG, t STRING", in, ckpt) { (batch, batchId) =>
      // label versions key on the CHECKPOINTED batchId, not a driver
      // counter: a replayed batch b re-reads v(b) and overwrites
      // v(b+1) — the fold is retry-idempotent, as a production
      // maintenance loop must be
      val pairs = graft.ext.DedupIndex.ingestBatch(s, idx, batch,
        col("id"), col("t"), threshold = 0.5)
      Dedup.incrementalComponents(
          s.read.parquet(s"$lab/v$batchId"),
          batch.select(col("id")),
          pairs.select("id_a", "id_b"),
          parallelism = Some(8))
        .write.mode("overwrite").parquet(s"$lab/v${batchId + 1}")
      last.set(batchId + 1)
    }
    s.read.parquet(s"$lab/v${last.get()}").orderBy("id")
  }

  private val streamClustersSql =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks
      |        FROM corpus),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |cmn AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      |        WHERE b.id >= 100000
      |        GROUP BY 1, 2),
      |pairs AS (SELECT c.id_a, c.id_b
      |          FROM cmn c JOIN sizes sa ON sa.id = c.id_a
      |                     JOIN sizes sb ON sb.id = c.id_b
      |          WHERE CAST(c.common AS DOUBLE)
      |                  / (sa.n_sh + sb.n_sh - c.common) >= 0.5),
      |edges AS (SELECT id_a AS s, id_b AS t FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT id, id AS r FROM corpus
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id)
      |SELECT id, min(r) AS cluster FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  private val streamDedupIndexSql =
    """WITH corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks
      |        FROM corpus),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |cmn AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      |        WHERE b.id >= 100000
      |        GROUP BY 1, 2),
      |pairs AS (SELECT c.id_a, c.id_b,
      |            CAST(c.common AS DOUBLE)
      |              / (sa.n_sh + sb.n_sh - c.common) AS jaccard
      |          FROM cmn c JOIN sizes sa ON sa.id = c.id_a
      |                     JOIN sizes sb ON sb.id = c.id_b)
      |SELECT id_a, id_b, jaccard FROM pairs
      |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** SimHash banding has no recall guarantee for a Jaccard threshold
    * (measured: 92/94 true pairs at sf0.001, 100% at sf0.01/0.1), so
    * unlike the MinHash gate this one cannot claim output == true pair
    * set at every scale. Instead it emits the EXACT pair set (always
    * oracle-matched) plus a recall audit: the fraction of true pairs the
    * simhash candidate generation surfaced, asserted ≥ 0.9 — the
    * accuracy-boolean oracle pattern. Candidates are compared
    * pre-verification, so the exact shingle join runs once.
    */
  private def simhashDedup(s: SparkSession, d: String): DataFrame = {
    val corpus = dupCorpus(s, d)
    val exact = Dedup.jaccardPairs(corpus, col("id"), col("t"),
      n = 3, threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b", "jaccard")
    val found = Dedup.simhashCandidates(corpus, col("id"), col("t"))
      .withColumn("__found", lit(1))
    val marked = exact.join(found, Seq("id_a", "id_b"), "left")
    val recall = marked.agg(
      (sum(coalesce(col("__found"), lit(0))).cast("double") /
        count(lit(1))).as("recall"))
    marked.crossJoin(broadcast(recall))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (col("recall") >= 0.9).as("recall_ok"))
      .orderBy("id_a", "id_b")
  }

  private val simhashDedupSql =
    s"""$truePairsCte
       |SELECT id_a, id_b, jaccard, true AS recall_ok FROM pairs
       |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  // ---- similarity search -------------------------------------------------
  private def embedTopK(s: SparkSession, d: String): DataFrame =
    EmbeddingSearch.bruteForceTopK(Tables.embeddings(s, d),
      col("vec_id") < 10, k = 5)
      .orderBy("query_id", "rank")

  /** External-query search ([[EmbeddingSearch.bruteForceTopKFor]]): the
    * queries are their OWN vectors (reversed corpus embeddings under
    * fresh negative ids), not corpus rows — the lookup path a user hits
    * when searching with a new embedding. No self-exclusion; the oracle
    * mirrors the construction with `list_reverse`.
    */
  private def embedQueryExt(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val queries = embs.filter(col("vec_id") < 5)
      .select((-col("vec_id") - 1).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    EmbeddingSearch.bruteForceTopKFor(embs, queries, k = 3)
      .orderBy("query_id", "rank")
  }

  private val embedQueryExtSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |q AS (SELECT -vec_id - 1 AS query_id, list_reverse(ev) AS qv
       |      FROM e WHERE vec_id < 5),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e),
       |$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val embedTopKSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  /** The LSH pipeline is fully deterministic — seeded hyperplanes, exact
    * sign tests, sequential-fold dot products — so instead of a recall
    * bound the oracle mirrors the *whole pipeline*: the plane constants
    * are inlined into the SQL as list literals and DuckDB recomputes
    * bucketing, in-bucket scoring, and ranking bit-identically.
    */
  private def lshTopK(s: SparkSession, d: String): DataFrame =
    EmbeddingSearch.lshTopK(Tables.embeddings(s, d),
      col("vec_id") < 10, k = 5, nPlanes = 4)
      .orderBy("query_id", "rank")

  private val lshTopKSql: String = {
    val planes = EmbeddingSearch.hyperplanes(nPlanes = 4, dim = 64)
    def lst(p: Array[Double]) = p.map(_.toString).mkString("[", ", ", "]")
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${lst(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n          + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |          $bucket AS bucket
       |      FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket
       |      FROM b WHERE vec_id < 10),
       |p AS (SELECT query_id, b.vec_id,
       |             ${cosine("qv", "b.v")} AS cos
       |      FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.query_id),
       |$cosTop5""".stripMargin
  }

  /** JL random-projection search ([[EmbeddingSearch.projectedTopK]]):
    * 64-dim embeddings sketched to 16 dims through the seeded Gaussian
    * matrix, then exact top-5 cosine in the PROJECTED space. Like the
    * LSH gates the matrix is inlined into the SQL as list literals, so
    * the oracle reproduces the whole pipeline — projection, cosine,
    * ranking — not a recall bound.
    */
  private def jlProject(s: SparkSession, d: String): DataFrame =
    EmbeddingSearch.projectedTopK(Tables.embeddings(s, d),
        col("vec_id") < 10, k = 5, dProj = 16, dim = 64)
      .orderBy("query_id", "rank")

  private val jlProjectSql: String = {
    val planes = EmbeddingSearch.hyperplanes(nPlanes = 16, dim = 64)
    def lst(p: Array[Double]) = p.map(_.toString).mkString("[", ", ", "]")
    val comps = planes
      .map(p => s"list_dot_product(v, ${lst(p)}) / sqrt(16.0)")
      .mkString("[", ",\n            ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pr AS (SELECT vec_id, $comps AS pv FROM e),
       |q AS (SELECT vec_id AS query_id, pv AS qv FROM pr
       |      WHERE vec_id < 10),
       |p AS (SELECT query_id, pr.vec_id,
       |        ${cosine("qv", "pr.pv")} AS cos
       |      FROM q, pr WHERE pr.vec_id <> q.query_id),
       |$cosTop5""".stripMargin
  }

  /** Multi-probe LSH ([[EmbeddingSearch.lshTopKMultiProbe]], Lv et al.
    * VLDB 2007): the query probes its bucket plus every 1-bit-flip
    * neighbor. Like q_embed_lsh_topk the seeded hyperplanes are inlined
    * into the SQL, so bucketing, the probe expansion (`unnest` of the
    * XOR'd bucket list), scoring, and ranking are all mirrored
    * bit-identically — the oracle checks the multiprobe SEMANTICS, not
    * just recall.
    */
  private def lshMultiProbe(s: SparkSession, d: String): DataFrame =
    EmbeddingSearch.lshTopKMultiProbe(Tables.embeddings(s, d),
      col("vec_id") < 10, k = 5, nPlanes = 4)
      .orderBy("query_id", "rank")

  private val lshMultiProbeSql: String = {
    val planes = EmbeddingSearch.hyperplanes(nPlanes = 4, dim = 64)
    def lst(p: Array[Double]) = p.map(_.toString).mkString("[", ", ", "]")
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${lst(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n          + ")
    val probes = "[bucket" +
      (0 until 4).map(i => s", xor(bucket, ${1L << i})").mkString + "]"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |          $bucket AS bucket
       |      FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv,
       |             unnest($probes) AS bucket
       |      FROM b WHERE vec_id < 10),
       |p AS (SELECT query_id, b.vec_id,
       |             ${cosine("qv", "b.v")} AS cos
       |      FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.query_id),
       |$cosTop5""".stripMargin
  }

  /** (query_id, recall_ok) for an ANN result vs brute-force top-k — used
    * by gates whose index is data-trained (IVF), where no closed-form SQL
    * mirror exists; the oracle asserts every boolean true.
    */
  private[queries] def recallGate(embs: DataFrame, ann: DataFrame,
      k: Int, minHits: Int): DataFrame = {
    val bf = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 10, k = k)
    val hits = ann.select("query_id", "neighbor_id")
      .join(bf.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)) >= minHits).as("recall_ok"))
      .orderBy("query_id")
  }

  // ---- embedding-cosine near-dup (exact all-pairs; oracle-matched) -------
  private def embedDupPairs(s: SparkSession, d: String): DataFrame = {
    val e = EmbeddingSearch.prepared(Tables.embeddings(s, d))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        EmbeddingSearch.dot(col("a.v"), col("b.v")) /
          sqrt(col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")
  }

  private val embedDupPairsSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(${cosine("a.v", "b.v")}, 6) AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosine("a.v", "b.v")} >= 0.45
       |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup semantic-dedup gate ([[graft.ext.SemDedup]], Abbas et al.
    * 2023): coarse-cluster on max-cosine against 8 deterministic seed
    * vectors (corpus rows 0..7 — mirrorable in SQL, unlike a k-means fit),
    * then mark within-cluster near-duplicates (cos ≥ 0.4, lowest-id
    * keeper). The oracle replays assignment, pairing, and keeper rule
    * end to end, so the hash check pins the whole semantic-dedup
    * decision per vector — which survive, which drop, and why (cluster).
    */
  private def semDedup(s: SparkSession, d: String): DataFrame =
    SemDedup.dedup(Tables.embeddings(s, d), col("vec_id") < 8, tau = 0.4)
      .orderBy("vec_id")

  private val semDedupSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id < 8),
       |cx AS (SELECT e.vec_id, s.sid,
       |        ${cosine("e.v", "s.sv")} AS c
       |       FROM e, s),
       |asg AS (SELECT vec_id, sid AS cluster FROM (
       |          SELECT vec_id, sid,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY c DESC, sid) AS rn
       |          FROM cx) WHERE rn = 1),
       |d AS (SELECT DISTINCT b2.vec_id AS dup_id
       |      FROM asg a2
       |      JOIN asg b2 ON a2.cluster = b2.cluster
       |                 AND a2.vec_id < b2.vec_id
       |      JOIN e ea ON ea.vec_id = a2.vec_id
       |      JOIN e eb ON eb.vec_id = b2.vec_id
       |      WHERE ${cosine("ea.v", "eb.v")} >= 0.4)
       |SELECT g.vec_id, g.cluster, (d.dup_id IS NOT NULL) AS is_dup
       |FROM asg g LEFT JOIN d ON d.dup_id = g.vec_id
       |ORDER BY g.vec_id""".stripMargin

  // ---- vector centroid aggregate -----------------------------------------
  /** Per-group embedding centroids via `ml.stat.Summarizer` — a true
    * vector aggregate: one pass, a d-dim buffer per group, associative
    * merge (no posexplode → d× row blowup → re-collect). The gate emits
    * the first three centroid coordinates; DuckDB mirrors with per-index
    * list averages.
    */
  private def embedCentroids(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val e = Tables.embeddings(s, d)
      .withColumn("grp", (col("vec_id") % 8).cast("int"))
      .withColumn("fv", array_to_vector(col("embedding").cast("array<double>")))
    e.groupBy("grp")
      .agg(count(lit(1)).as("n"), Summarizer.mean(col("fv")).as("c"))
      .select(col("grp"), col("n"),
        round(element_at(vector_to_array(col("c"), "float64"), 1), 6).as("c0"),
        round(element_at(vector_to_array(col("c"), "float64"), 2), 6).as("c1"),
        round(element_at(vector_to_array(col("c"), "float64"), 3), 6).as("c2"))
      .orderBy("grp")
  }

  private val embedCentroidsSql =
    """WITH e AS (SELECT CAST(vec_id % 8 AS INTEGER) AS grp,
      |                  embedding::DOUBLE[] AS v
      |           FROM embeddings)
      |SELECT grp, count(*) AS n,
      |       round(avg(v[1]), 6) AS c0,
      |       round(avg(v[2]), 6) AS c1,
      |       round(avg(v[3]), 6) AS c2
      |FROM e GROUP BY grp ORDER BY grp""".stripMargin

  // ---- multimodal --------------------------------------------------------
  private def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.toMedia(Tables.documents(s, d))
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("content_hash"),
        col("meta.origin").as("origin"))
      .orderBy("doc_id")

  private val multimodalMetaSql =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |       md5(text) AS content_hash,
      |       source AS origin
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame-sampling analogue ([[Multimodal.sampleSlices]]): fixed-length
    * byte slices at a stride over the binary payload. Restricted to
    * ASCII (lang='en') docs so the oracle can mirror byte slicing with
    * character substr — DuckDB has no BLOB substring.
    */
  private def multimodalSlices(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("lang") === "en" && col("doc_id") < 200)
    Multimodal.sampleSlices(Multimodal.toMedia(docs),
      sliceLen = 16, stride = 64, maxSlices = 4)
      .select(col("doc_id"), col("slice_no"),
        col("bytes").cast("string").as("chunk"))
      .orderBy("doc_id", "slice_no")
  }

  private val multimodalSlicesSql =
    """WITH m AS (SELECT doc_id, text FROM documents
      |           WHERE lang = 'en' AND doc_id < 200),
      |s AS (SELECT doc_id,
      |             unnest(generate_series(0,
      |               least(3, CAST(floor(length(text) / 64) AS INTEGER))))
      |               AS slice_no,
      |             text
      |      FROM m)
      |SELECT doc_id, CAST(slice_no AS INTEGER) AS slice_no,
      |       substr(text, slice_no * 64 + 1, 16) AS chunk
      |FROM s ORDER BY doc_id, slice_no""".stripMargin

  private def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(s,
      Multimodal.toMedia(Tables.documents(s, d)))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("top_bin"),
        round(element_at(col("histogram"), 1), 6).as("hist_0"))
      .orderBy("doc_id")

  /** The stub decoder is a deterministic byte-nibble histogram and the
    * driver corpus is pure ASCII (verified: octet_length == length for
    * every row), so DuckDB can mirror it per-character — making the whole
    * mapPartitions decode path hash-checkable, not just rows-counted.
    */
  private val multimodalFeaturesSql =
    """WITH ch AS (SELECT doc_id, ascii(unnest(split(text, ''))) // 16 AS bin
      |            FROM documents),
      |h AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY doc_id, bin),
      |tb AS (SELECT doc_id, bin AS top_bin,
      |              row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY c DESC, bin) AS rn
      |       FROM h),
      |h0 AS (SELECT doc_id, sum(CASE WHEN bin = 0 THEN c ELSE 0 END) AS c0
      |       FROM h GROUP BY doc_id)
      |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_bytes,
      |       CAST(coalesce(tb.top_bin, 0) AS INTEGER) AS top_bin,
      |       round(coalesce(h0.c0, 0) / greatest(1, length(d.text)), 6)
      |         AS hist_0
      |FROM documents d
      |LEFT JOIN tb ON tb.doc_id = d.doc_id AND tb.rn = 1
      |LEFT JOIN h0 ON h0.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Perceptual near-dup over media
    * ([[graft.ext.Multimodal.perceptualDupPairs]]): corpus-mean-
    * thresholded 63-bit signatures from the stub decode, LSH-banded
    * candidates, exact hamming verification ≤ 4 — the media analogue
    * of MinHash-LSH-then-verify. The ASCII gate corpus lets DuckDB
    * mirror the stub per character, so signatures, banding, and every
    * hamming value are hash-checked end to end.
    */
  private def mediaDupPairs(s: SparkSession, d: String): DataFrame =
    Multimodal.perceptualDupPairs(s,
        Multimodal.toMedia(Tables.documents(s, d)
          .filter(col("doc_id") < 200)),
        maxHamming = 4)
      .orderBy("id_a", "id_b")

  /** REAL-decode perceptual near-dup ([[graft.ext.Multimodal
    * .imageDupPairs]]): every doc renders a deterministic 16×16 PNG
    * (pixels streamed from md5 of its id); docs ≡ 0 (mod 5)
    * additionally re-encode the SAME pixels as BMP under id+200000 —
    * byte-different, pixel-identical payloads. `javax.imageio` decodes
    * real pixels, the classic DCT pHash (32×32 luma → 8×8 low-freq
    * minus DC → median-thresholded bits) signs them, and banded LSH +
    * hamming-0 verify must pair EXACTLY each doc with its re-encoded
    * clone: every clone collapses (a byte-level hash would split
    * them), and nothing else collides (md5 pixel streams are mutually
    * random). The clone construction is deterministic, so the oracle
    * states the full expected pair set in SQL; the decode's pixel-
    * domain invariances (brightness shift, undecodable strays) are
    * spec-pinned in MultimodalSpec.
    */
  private def mediaDupReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).filter(col("doc_id") < 60)
      .select("doc_id").as[Long]
      .flatMap { id =>
        val base = (id, Multimodal.synthImage(s"doc-$id", "png"))
        if (id % 5 == 0)
          Seq(base, (id + 200000L, Multimodal.synthImage(s"doc-$id", "bmp")))
        else Seq(base)
      }.toDF("doc_id", "payload")
    Multimodal.imageDupPairs(s, media, maxHamming = 0)
      .orderBy("id_a", "id_b")
  }

  private val mediaDupRealSql =
    """SELECT doc_id AS id_a, doc_id + 200000 AS id_b, 0 AS hamming
      |FROM documents WHERE doc_id < 60 AND doc_id % 5 = 0
      |ORDER BY id_a, id_b""".stripMargin

  /** Frame-sampled video near-dup ([[Multimodal.videoDupPairs]]): 6-frame
    * synthetic videos (length-prefixed container, real per-frame PNG/BMP
    * decode + DCT pHash), sampled every 2nd frame, banded per-frame LSH
    * candidates, temporal-aligned verify. Construction decides the
    * answer, so the oracle is exact without decoding: every `% 4 == 0`
    * doc gets a re-encoded clone (all 3 sampled frames collide →
    * frac 1.0); every `% 4 == 1` doc a clone with sampled frame 2
    * replaced (2 of 3 → frac ⅔); nothing else may pair.
    */
  private def videoDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).filter(col("doc_id") < 40)
      .select("doc_id").as[Long]
      .flatMap { id =>
        val base = (id, Multimodal.synthVideo(s"vid-$id", 6, "png"))
        if (id % 4 == 0)
          Seq(base,
            (id + 300000L, Multimodal.synthVideo(s"vid-$id", 6, "bmp")))
        else if (id % 4 == 1)
          Seq(base, (id + 300000L,
            Multimodal.synthVideo(s"vid-$id", 6, "bmp", replaceFrame = 2)))
        else Seq(base)
      }.toDF("doc_id", "payload")
    Multimodal.videoDupPairs(s, media, sampleEvery = 2, maxHamming = 0,
        minMatchFrac = 0.5)
      .orderBy("id_a", "id_b")
  }

  private val videoDupSql =
    """SELECT doc_id AS id_a, doc_id + 300000 AS id_b,
      |       CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 2 END AS BIGINT)
      |         AS frames_matched,
      |       round(CASE WHEN doc_id % 4 = 0 THEN 1.0
      |             ELSE 2.0 / 3.0 END, 6) AS match_frac
      |FROM documents WHERE doc_id < 40 AND doc_id % 4 IN (0, 1)
      |ORDER BY id_a, id_b""".stripMargin

  private val mediaDupPairsSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |ch AS (SELECT doc_id, ascii(unnest(split(text, ''))) % 63 AS bin
      |       FROM d),
      |len AS (SELECT doc_id, length(text) AS n FROM d),
      |h AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY 1, 2),
      |grid AS (SELECT len.doc_id, b.bin, len.n FROM len
      |         CROSS JOIN (SELECT unnest(range(0, 63)) AS bin) b),
      |bins AS (SELECT g.doc_id, g.bin,
      |           coalesce(h.c, 0) / greatest(1, g.n) AS f
      |         FROM grid g LEFT JOIN h
      |           ON h.doc_id = g.doc_id AND h.bin = g.bin),
      |mu AS (SELECT bin, avg(f) AS mf FROM bins GROUP BY 1),
      |ph AS (SELECT doc_id,
      |         bit_or(CASE WHEN f > mf THEN (1::BIGINT << bins.bin)
      |                     ELSE 0::BIGINT END) AS phash
      |       FROM bins JOIN mu ON mu.bin = bins.bin GROUP BY 1),
      |bands AS (SELECT doc_id, b.bno, (phash >> (b.bno * 7)) & 127 AS bval
      |          FROM ph CROSS JOIN (SELECT unnest(range(0, 9)) AS bno) b),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b
      |           ON a.bno = b.bno AND a.bval = b.bval
      |          AND a.doc_id < b.doc_id),
      |ver AS (SELECT c.id_a, c.id_b,
      |          CAST(bit_count(xor(pa.phash, pb.phash)) AS INTEGER)
      |            AS hamming
      |        FROM cand c JOIN ph pa ON pa.doc_id = c.id_a
      |                    JOIN ph pb ON pb.doc_id = c.id_b)
      |SELECT id_a, id_b, hamming FROM ver
      |WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin

  // ---- BPE-style token counting (oracle: same RE2-compatible regex) ---
  private def bpeTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.bpeTokenCount(col("text"))).as("total_bpe_tokens"))
      .orderBy("source")

  private val bpeTokensSql =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(len(regexp_extract_all(lower(text),
       |         '${TextAnalysis.bpePattern.replace("'", "''")}'))) AS BIGINT)
       |         AS total_bpe_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** BPE merge learning ([[TextAnalysis.bpeTrain]]): the top-6 learned
    * merges with their pair counts. The oracle replays the identical
    * algorithm as a chain of MATERIALIZED CTEs (one pair-count + argmax
    * + replace round per merge — materialization stops DuckDB's CTE
    * inlining from exponentiating the chain), using the same
    * delimited-string vocab representation and the same (count desc,
    * lexicographic) deterministic tie-break.
    */
  private def bpeTrainGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeTrain(Tables.documents(s, d), col("text"), numMerges = 6)
      .orderBy("rank")

  /** Shared oracle CTE chain for the BPE gates: words → counts → one
    * (pair-count, argmax, replace) round per merge. `w` is carried
    * through every vocab CTE so the apply oracle can key final piece
    * states by word; the train oracle just ignores it.
    */
  private def bpeChainSql(k: Int): String = {
    def iterCte(i: Int): String = {
      val prev = s"vocab_${i - 1}"
      val pat = s"' ' || (SELECT l FROM best_$i) || ' ' || " +
        s"(SELECT r FROM best_$i) || ' '"
      val rep = s"' ' || (SELECT l || r FROM best_$i) || ' '"
      s"""pairs_$i AS MATERIALIZED (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT unnest(list_transform(range(len(toks)-1),
         |          i -> struct_pack(l := toks[CAST(i+1 AS INT)],
         |                           r := toks[CAST(i+2 AS INT)]))) AS p, cnt
         |        FROM (SELECT string_split(trim(state), ' ') AS toks, cnt
         |              FROM $prev))
         |  GROUP BY 1, 2),
         |best_$i AS MATERIALIZED (
         |  SELECT l, r, c FROM pairs_$i ORDER BY c DESC, l, r LIMIT 1),
         |vocab_$i AS MATERIALIZED (
         |  SELECT w, replace(replace(replace(state, $pat, $rep), $pat, $rep),
         |                 $pat, $rep) AS state, cnt
         |  FROM $prev)""".stripMargin
    }
    s"""WITH words AS (SELECT unnest(
       |    ${tokenize("text")}) AS w
       |  FROM documents),
       |wc AS MATERIALIZED (SELECT w, count(*) AS cnt FROM words
       |  WHERE w <> '' GROUP BY w),
       |vocab_0 AS MATERIALIZED (SELECT w, ' ' || array_to_string(
       |    list_transform(range(length(w)),
       |      i -> substr(w, CAST(i+1 AS INT), 1)), ' ') || ' ' AS state, cnt
       |  FROM wc),
       |""".stripMargin + (1 to k).map(iterCte).mkString(",\n")
  }

  private val bpeTrainSql: String = {
    val k = 6
    bpeChainSql(k) + "\nSELECT * FROM (" +
      (1 to k).map(i => s"SELECT $i AS rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, c AS pair_count FROM best_$i")
        .mkString(" UNION ALL ") + ") ORDER BY rank"
  }

  /** BPE segmentation under the learned table ([[TextAnalysis.bpeApply]]):
    * train 6 merges, then segment the whole distinct-word vocabulary in
    * ONE static projection (no per-merge jobs — the merge chain folds
    * into plan constants). Output is each word's corpus frequency and
    * its space-joined piece sequence; the oracle reads the SAME chain's
    * final vocab state, so the gate proves train + apply agree end to
    * end on the identity `apply(train(corpus)) = final training state`.
    */
  private def bpeApplyGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val merges = TextAnalysis.bpeTrain(docs, col("text"), numMerges = 6)
      .orderBy("rank").select("lhs", "rhs").as[(String, String)]
      .collect().toSeq
    TextAnalysis.bpeApply(docs, col("text"), merges)
      .select(col("w"), col("cnt"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  private val bpeApplySql: String =
    bpeChainSql(6) +
      "\nSELECT w, cnt, trim(state) AS pieces_str FROM vocab_6 ORDER BY w"

  /** BPE at PRODUCTION merge-table scale ([[TextAnalysis.bpeSegment]]):
    * a 1,000-merge table applies through the broadcast-rank greedy
    * segmenter — the spelling that survives a real tokenizer's 30k–50k
    * merges, where [[TextAnalysis.bpeApply]]'s 3-regex-per-merge folded
    * projection would build a ~100k-node expression tree and break
    * Catalyst analysis long before data size matters. The working
    * vocabulary is adjacent-token BIGRAM compounds (the corpus's ~30
    * distinct words are too few to chain 1,000 merges); the merge
    * table is the deduped left-to-right prefix chains of the top-400
    * compounds (frequency-ordered), which is WELL-FORMED by
    * construction — every merge's left side is produced by an earlier
    * rank — so the greedy min-rank loop provably equals the rank-order
    * fold the oracle replays (one recursive-CTE level per rank, the
    * same sentinel-delimited triple-replace as the q_bpe_train chain).
    * Words with 4+ same-char runs are excluded from the universe: on
    * runs ≥5 the delimited-string replace and the classic array fold
    * legitimately disagree on piece ARRANGEMENT, and the gate pins the
    * fold semantics. Output: the top-200 compounds' piece sequences —
    * non-trivial segmentations, because a frequent second word's early
    * ranks consume its characters before a rarer compound's chain can
    * cross the word boundary.
    */
  private def bpeLarge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = TextAnalysis.tokens(col("text"))
    val bigrams = docs.select(explode(zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, b))).as("t"))
    val runPat = ('a' to 'z').map(c => s"$c$c$c$c").mkString("|")
    val wc = bigrams
      .filter(col("t") =!= "" && col("t").rlike("^[a-z]+$") &&
        !col("t").rlike(runPat))
      .groupBy(col("t").as("w")).agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      // model derivation on a k-bounded collect (the merge table is the
      // MODEL — ≤1000 rows by contract): deduped prefix chains of the
      // top-400 compounds, first occurrence wins, insertion order is
      // the rank order
      val topw = wc.filter(length(col("w")) >= 2)
        .orderBy(col("cnt").desc, col("w")).limit(400)
        .select("w").as[String].collect()
      val seen = scala.collection.mutable.LinkedHashSet[(String, String)]()
      topw.foreach { w =>
        (1 until w.length).foreach { i =>
          seen += ((w.substring(0, i), w.substring(i, i + 1)))
        }
      }
      val merges = seen.iterator.take(1000).toSeq
      val top200 = wc.orderBy(col("cnt").desc, col("w")).limit(200)
        .select("w")
      TextAnalysis.bpeSegment(bigrams, col("t"), merges)
        .join(broadcast(top200), Seq("w"), "left_semi")
        .select(col("w"), col("cnt"),
          array_join(col("pieces"), " ").as("pieces_str"))
        .orderBy("w")
    } finally { wc.unpersist(); () }
  }

  private val bpeLargeSql =
    s"""WITH RECURSIVE
       |tok AS (SELECT ${tokenize("text")}
       |          AS toks
       |        FROM documents),
       |wb AS (SELECT unnest(list_transform(range(len(toks)-1),
       |         i -> toks[CAST(i+1 AS INT)] || toks[CAST(i+2 AS INT)]))
       |         AS w
       |       FROM tok),
       |wc AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM wb
       |  WHERE w <> '' AND regexp_matches(w, '^[a-z]+$$')
       |    AND NOT regexp_matches(w,
       |      'aaaa|bbbb|cccc|dddd|eeee|ffff|gggg|hhhh|iiii|jjjj|kkkk|llll|mmmm|nnnn|oooo|pppp|qqqq|rrrr|ssss|tttt|uuuu|vvvv|wwww|xxxx|yyyy|zzzz')
       |  GROUP BY w),
       |topw AS MATERIALIZED (
       |  SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS wo
       |  FROM wc WHERE length(w) >= 2
       |  ORDER BY cnt DESC, w LIMIT 400),
       |chain AS (
       |  SELECT wo, CAST(t.i AS INT) AS i,
       |         substr(w, 1, CAST(t.i AS INT)) AS l,
       |         substr(w, CAST(t.i AS INT) + 1, 1) AS r
       |  FROM topw, unnest(range(1, length(w))) AS t(i)),
       |dd AS (
       |  SELECT l, r, wo, i,
       |         row_number() OVER (PARTITION BY l, r ORDER BY wo, i) AS occ
       |  FROM chain),
       |merges AS MATERIALIZED (
       |  SELECT l, r, row_number() OVER (ORDER BY wo, i) AS rank
       |  FROM dd WHERE occ = 1
       |  QUALIFY rank <= 1000),
       |top200 AS MATERIALIZED (
       |  SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 200),
       |seg AS (
       |  SELECT w,
       |    ' ' || array_to_string(list_transform(range(length(w)),
       |      i -> substr(w, CAST(i+1 AS INT), 1)), ' ') || ' ' AS state,
       |    0 AS r
       |  FROM top200
       |  UNION ALL
       |  SELECT s.w,
       |    replace(replace(replace(s.state,
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '),
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '),
       |      ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ')
       |      AS state,
       |    s.r + 1
       |  FROM seg s JOIN merges m ON m.rank = s.r + 1)
       |SELECT t.w, t.cnt, trim(s.state) AS pieces_str
       |FROM seg s JOIN top200 t USING (w)
       |WHERE s.r = (SELECT max(rank) FROM merges)
       |ORDER BY w""".stripMargin

  /** Multinomial Naive Bayes language classifier ([[graft.ext.Classify]]):
    * train with add-one smoothing on the ⅔ split (doc_id % 3 ≠ 0,
    * labeled by `lang`), predict the held-out ⅓. The fixture's languages
    * share one synthetic vocabulary by design, so the gate's value is
    * NOT accuracy — it value-checks the entire scoring pipeline (counts,
    * smoothing, OOV floor, priors, argmax with rounded-score/label
    * tie-break, runner-up margin) against a full relational replay.
    */
  private def nbLangGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val model = graft.ext.Classify.nbTrain(
      docs.filter(col("doc_id") % 3 =!= 0), col("lang"), col("text"))
    graft.ext.Classify.nbPredict(model,
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private val nbLangSql =
    """WITH train AS (SELECT lang, text FROM documents WHERE doc_id % 3 <> 0),
      |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |tf AS (SELECT lang, term, count(*) AS cnt
      |       FROM (SELECT lang, unnest(regexp_split_to_array(
      |               lower(trim(text)), '\s+')) AS term FROM train)
      |       WHERE term <> '' GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot
      |        FROM tf GROUP BY 1),
      |v AS (SELECT count(DISTINCT term) AS v FROM tf),
      |pri AS (SELECT lang, ln(CAST(count(*) AS DOUBLE) /
      |          (SELECT count(*) FROM train)) AS log_prior
      |        FROM train GROUP BY 1),
      |stf AS (SELECT doc_id, term, count(*) AS tf
      |        FROM (SELECT doc_id, unnest(regexp_split_to_array(
      |                lower(trim(text)), '\s+')) AS term FROM test)
      |        WHERE term <> '' GROUP BY 1, 2),
      |sc AS (SELECT s.doc_id, t.lang,
      |         sum(s.tf * ln(coalesce((f.cnt + 1.0) / (t.tot + v.v),
      |                                1.0 / (t.tot + v.v))))
      |           + any_value(p.log_prior) AS score
      |       FROM stf s
      |       CROSS JOIN tot t
      |       LEFT JOIN tf f ON f.lang = t.lang AND f.term = s.term
      |       JOIN pri p ON p.lang = t.lang, v
      |       GROUP BY 1, 2),
      |r AS (SELECT doc_id, lang, score,
      |        CAST(row_number() OVER (PARTITION BY doc_id
      |          ORDER BY round(score, 6) DESC, lang) AS INTEGER) AS rn
      |      FROM sc)
      |SELECT a.doc_id, a.lang AS pred, round(a.score, 6) AS score,
      |       round(a.score - b.score, 6) AS margin
      |FROM r a JOIN r b ON b.doc_id = a.doc_id AND b.rn = 2
      |WHERE a.rn = 1 ORDER BY a.doc_id""".stripMargin

  /** HTML boilerplate stripping ([[TextAnalysis.htmlExtract]]): each
    * document wrapped in a deterministic HTML shell — script with a
    * `<`-bearing body, style, comment, headings, paragraphs, entities —
    * then extracted back to text. The oracle rebuilds the identical
    * HTML in SQL and replays the identical strip/decode/collapse chain
    * in DuckDB (RE2), value-checking every regex against a second
    * engine's semantics.
    */
  private def htmlExtractGate(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><head><script type=\"text/javascript\">var t = 1 < 2;" +
        "</script><style>p { color: red }</style></head><body>" +
        "<!-- nav\nmenu --><h1>Doc "),
      col("doc_id"),
      lit("</h1><p>"), substring(col("text"), 1, 80),
      lit("</p><div class=\"x\">"), expr("substr(text, 81)"),
      lit("</div><p>Tom &amp; Jerry &lt;3 &quot;q&quot;&nbsp;&#39;s</p>" +
        "</body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.htmlExtract(html).as("extracted"))
      .orderBy("doc_id")
  }

  private val htmlExtractSql =
    """WITH h AS (SELECT doc_id,
      |  '<html><head><script type="text/javascript">var t = 1 < 2;' ||
      |  '</script><style>p { color: red }</style></head><body>' ||
      |  '<!-- nav' || chr(10) || 'menu --><h1>Doc ' ||
      |  CAST(doc_id AS VARCHAR) ||
      |  '</h1><p>' || substr(text, 1, 80) ||
      |  '</p><div class="x">' || substr(text, 81) ||
      |  '</div><p>Tom &amp; Jerry &lt;3 &quot;q&quot;&nbsp;&#39;s</p>' ||
      |  '</body></html>' AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
      |         html,
      |         '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      |         '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      |         '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, regexp_replace(t,
      |         '(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table)\b[^>]*>',
      |         chr(10), 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g')
      |         AS t FROM s2),
      |s4 AS (SELECT doc_id,
      |         replace(replace(replace(replace(replace(replace(t,
      |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
      |       FROM s3)
      |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
      |         '[ \t\x0B\f\r]+', ' ', 'g'),
      |         ' ?\n[ \n]*', chr(10), 'g'),
      |         '^[\s]+|[\s]+$', '', 'g') AS extracted
      |FROM s4 ORDER BY doc_id""".stripMargin

  /** URL canonicalization ([[TextAnalysis.canonicalUrl]]): each doc gets
    * a MESSY variant (rotated by `doc_id % 4`: uppercase www host +
    * default port + trailing slash / tracking params + fragment /
    * slash-before-query / gclid + shuffled params) and a CLEAN twin;
    * both canonicalize and must collapse to the same key. The oracle
    * rebuilds both URLs and replays the identical canonicalization in
    * DuckDB, value-checking every regexp/filter/sort step — plus the
    * `collapsed` flag that IS the dedup-by-URL semantics.
    */
  private def urlCanon(s: SparkSession, d: String): DataFrame = {
    val base = concat(lit("https://"), col("source"),
      lit(".example.com/doc/"), col("doc_id").cast("string"))
    val messy = when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".EXAMPLE.COM:443/doc/"), col("doc_id").cast("string"),
          lit("/")))
      .when(col("doc_id") % 4 === 1,
        concat(base, lit("?utm_source=feed&b=2&a=1#section")))
      .when(col("doc_id") % 4 === 2,
        concat(base, lit("/?a=1&utm_campaign=x&b=2")))
      .otherwise(concat(lit("https://www."), col("source"),
        lit(".example.com:443/doc/"), col("doc_id").cast("string"),
        lit("?b=2&a=1&gclid=xyz")))
    val clean = when(col("doc_id") % 4 === 0, base)
      .otherwise(concat(base, lit("?a=1&b=2")))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.canonicalUrl(messy).as("canonical"),
        (TextAnalysis.canonicalUrl(messy) ===
          TextAnalysis.canonicalUrl(clean)).as("collapsed"))
      .orderBy("doc_id")
  }

  private val urlCanonSql = {
    // the same canonicalization, spelled once as pure expressions over a
    // fragment-stripped url `nf` and its pre-computed canonical query `q`
    // single-line expression fragments: embedding multi-line text into
    // the outer stripMargin string would let the outer margin strip eat
    // the first '|' of a '||' at line start
    // coalesce: DuckDB regexp_extract yields NULL on no match where
    // Spark yields '' — a no-query URL must not NULL the whole concat
    def qExpr(nf: String): String =
      s"coalesce(array_to_string(list_sort(list_filter(" +
        s"string_split(regexp_extract($nf, '\\?(.*)$$', 1), '&'), " +
        s"p -> NOT regexp_matches(p, " +
        s"'^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=') AND p <> '')), '&'), '')"
    def canon(nf: String, q: String): String =
      s"lower(regexp_extract($nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) " +
        s"|| '://' || regexp_replace(regexp_replace(" +
        s"lower(regexp_extract($nf, " +
        s"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)), " +
        s"':(80|443)$$', ''), '^www\\.', '') " +
        s"|| regexp_replace(regexp_extract($nf, " +
        s"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1), '/+$$', '') " +
        s"|| CASE WHEN $q = '' THEN '' ELSE '?' || $q END"
    s"""WITH u AS (SELECT doc_id,
       |  CASE
       |    WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' || upper(source) ||
       |      '.EXAMPLE.COM:443/doc/' || CAST(doc_id AS VARCHAR) || '/'
       |    WHEN doc_id % 4 = 1 THEN 'https://' || source ||
       |      '.example.com/doc/' || CAST(doc_id AS VARCHAR) ||
       |      '?utm_source=feed&b=2&a=1#section'
       |    WHEN doc_id % 4 = 2 THEN 'https://' || source ||
       |      '.example.com/doc/' || CAST(doc_id AS VARCHAR) ||
       |      '/?a=1&utm_campaign=x&b=2'
       |    ELSE 'https://www.' || source || '.example.com:443/doc/' ||
       |      CAST(doc_id AS VARCHAR) || '?b=2&a=1&gclid=xyz'
       |  END AS messy,
       |  'https://' || source || '.example.com/doc/' ||
       |    CAST(doc_id AS VARCHAR) ||
       |    CASE WHEN doc_id % 4 = 0 THEN '' ELSE '?a=1&b=2' END AS clean
       |  FROM documents),
       |n AS (SELECT doc_id,
       |        regexp_replace(messy, '#.*$$', '') AS nfm,
       |        regexp_replace(clean, '#.*$$', '') AS nfc
       |      FROM u),
       |qq AS (SELECT doc_id, nfm, nfc,
       |         ${qExpr("nfm")} AS qm,
       |         ${qExpr("nfc")} AS qc
       |       FROM n)
       |SELECT doc_id, ${canon("nfm", "qm")} AS canonical,
       |       (${canon("nfm", "qm")}) = (${canon("nfc", "qc")})
       |         AS collapsed
       |FROM qq ORDER BY doc_id""".stripMargin
  }

  /** Frame-aligned audio near-dup ([[graft.ext.Audio.audioDupPairs]]):
    * 4096-sample synthetic WAV clips (hand-rolled RIFF PCM16 writer /
    * chunk-walking parser), 1024-sample frames fingerprinted via
    * Goertzel band energies (31 sign-of-adjacent-band bits — the
    * intra-frame Haitsma–Kalker scheme), shared banded frame-aligned
    * matching. Construction decides the oracle: `% 4 == 0` docs get a
    * container-re-encoded clone (junk LIST chunk, same PCM → 4/4
    * frames), `% 4 == 1` docs a clone with frame 1's samples spliced
    * from another signal (3/4 frames); nothing else pairs.
    */
  private def audioDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 4096
    val media = Tables.documents(s, d).filter(col("doc_id") < 40)
      .select("doc_id").as[Long]
      .flatMap { id =>
        val base = (id,
          Audio.wavBytes(Audio.synthPcm(s"aud-$id", n), 8000))
        if (id % 4 == 0)
          Seq(base, (id + 400000L, Audio.wavBytes(
            Audio.synthPcm(s"aud-$id", n), 8000, junkChunk = true)))
        else if (id % 4 == 1)
          Seq(base, (id + 400000L, Audio.wavBytes(
            Audio.synthPcm(s"aud-$id", n, replaceFrom = 1024,
              replaceLen = 1024), 8000, junkChunk = true)))
        else Seq(base)
      }.toDF("doc_id", "payload")
    Audio.audioDupPairs(s, media, frameLen = 1024, maxHamming = 0,
        minMatchFrac = 0.5)
      .orderBy("id_a", "id_b")
  }

  private val audioDupSql =
    """SELECT doc_id AS id_a, doc_id + 400000 AS id_b,
      |       CAST(CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END AS BIGINT)
      |         AS frames_matched,
      |       round(CASE WHEN doc_id % 4 = 0 THEN 1.0 ELSE 0.75 END, 6)
      |         AS match_frac
      |FROM documents WHERE doc_id < 40 AND doc_id % 4 IN (0, 1)
      |ORDER BY id_a, id_b""".stripMargin

  /** Streaming NB scoring ([[graft.ext.Classify.nbPredict]] inside
    * `foreachBatch`): the model trains once on the static ⅔ split; the
    * held-out ⅓ then ARRIVES AS A STREAM in two micro-batches, each
    * scored against the broadcast-side model and appended to a sink.
    * Per-document predictions are independent of batching, so the
    * accumulated sink must equal the batch gate exactly — the SAME
    * oracle gates both. The 100 TB serving shape: classifier tables
    * built offline, scoring riding every ingest micro-batch.
    */
  private def streamNb(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val model = graft.ext.Classify.nbTrain(
      docs.filter(col("doc_id") % 3 =!= 0), col("lang"), col("text"))
    val test = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val in = graft.Gate.tmpDir("gate_snb_in_")
    val out = graft.Gate.tmpDir("gate_snb_out_")
    val ckpt = graft.Gate.tmpDir("gate_snb_ck_")
    test.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    test.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "doc_id LONG, text STRING", in, ckpt) { (batch, _) =>
      graft.ext.Classify.nbPredict(model, batch, col("doc_id"),
          col("text"))
        .write.mode("append").parquet(out)
    }
    s.read.parquet(out)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Incremental NB ([[graft.ext.Classify.nbMerge]]): the training split
    * arrives as two batches — the first's count partials are PERSISTED
    * to parquet and loaded back (the durable model form), the second's
    * are folded in by summation — and the merged model must predict
    * byte-identically to [[nbLangGate]]'s from-scratch train: the SAME
    * oracle gates both. This is the `incremental ≡ rebuild` law every
    * index family here satisfies, now for the learner.
    */
  private def nbIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val c1 = graft.ext.Classify.nbCount(
      docs.filter(col("doc_id") % 3 === 1), col("lang"), col("text"))
    val dir = graft.Gate.tmpDir("gate_nb_counts_")
    graft.ext.Classify.saveCounts(c1, dir)
    val c2 = graft.ext.Classify.nbCount(
      docs.filter(col("doc_id") % 3 === 2), col("lang"), col("text"))
    val model = graft.ext.Classify.nbFromCounts(
      graft.ext.Classify.nbMerge(graft.ext.Classify.loadCounts(s, dir), c2))
    graft.ext.Classify.nbPredict(model,
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- winnowing fingerprints ------------------------------------------
  /** Gate runs the pipeline on the md5-derived 48-bit gram hash (xxhash64,
    * the default, has no DuckDB twin) so every stage — normalization,
    * k-gram hashing, the w-window minima, dedup — is value-checked.
    */
  private def winnowing(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.winnowingFingerprintsFast(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        element_at(array_sort(col("fps")), 1).as("min_fp"))
      .orderBy("doc_id")

  private val winnowingSql =
    """WITH t AS (SELECT doc_id,
      |             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
      |           FROM documents),
      |g AS (SELECT doc_id,
      |        CASE WHEN length(s) >= 5
      |          THEN list_transform(range(length(s) - 4),
      |                 i -> CAST(('0x' || substr(md5(substr(s, i + 1, 5)), 1, 12))
      |                           AS BIGINT))
      |          ELSE [CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)]
      |          END AS gh
      |      FROM t),
      |m AS (SELECT doc_id,
      |        list_distinct(list_transform(range(greatest(len(gh) - 3, 1)),
      |          j -> list_min(gh[j + 1 : least(j + 4, len(gh))]))) AS fps
      |      FROM g)
      |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fingerprints,
      |       list_min(fps) AS min_fp
      |FROM m ORDER BY doc_id""".stripMargin

  /** Winnowing-overlap pairs ([[TextAnalysis.winnowOverlapPairs]], the
    * MOSS shape) over the planted dup corpus, on the md5-derived 48-bit
    * hash so every stage mirrors in SQL: fingerprinting, the stop-
    * fingerprint df cap, the pair join, and the containment ratio. The
    * ratio is a quotient of integers, so the ≥ 0.8 cut lands identically
    * in both engines.
    */
  private def winnowOverlap(s: SparkSession, d: String): DataFrame =
    TextAnalysis.winnowOverlapPairs(dupCorpus(s, d), col("id"), col("t"),
        k = 20, maxDF = 20, minRatio = 0.8)
      .orderBy("id_a", "id_b")

  private val winnowOverlapSql =
    """WITH corpus AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t0 FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lower(trim(text)) || ' zq zr'
      |  FROM documents WHERE doc_id % 10 = 0),
      |t AS (SELECT id,
      |        lower(regexp_replace(trim(t0), '\s+', ' ', 'g')) AS s
      |      FROM corpus),
      |g AS (SELECT id,
      |        CASE WHEN length(s) >= 20
      |          THEN list_transform(range(length(s) - 19),
      |                 i -> CAST(('0x' || substr(md5(substr(s, i + 1, 20)),
      |                                           1, 12)) AS BIGINT))
      |          ELSE [CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)]
      |          END AS gh
      |      FROM t),
      |m AS (SELECT id,
      |        list_distinct(list_transform(range(greatest(len(gh) - 3, 1)),
      |          j -> list_min(gh[j + 1 : least(j + 4, len(gh))]))) AS fps
      |      FROM g),
      |fp AS (SELECT id, unnest(fps) AS fp FROM m),
      |dfq AS (SELECT fp, count(*) AS df FROM fp GROUP BY fp),
      |rare AS (SELECT f.id, f.fp FROM fp f JOIN dfq USING (fp)
      |         WHERE df <= 20),
      |rsz AS (SELECT id, count(*) AS n_fp FROM rare GROUP BY id),
      |cmn AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      |        FROM rare a JOIN rare b ON a.fp = b.fp AND a.id < b.id
      |        GROUP BY 1, 2),
      |sc AS (SELECT c.id_a, c.id_b, c.n_common,
      |          CAST(c.n_common AS DOUBLE)
      |            / least(sa.n_fp, sb.n_fp) AS overlap
      |       FROM cmn c JOIN rsz sa ON sa.id = c.id_a
      |                  JOIN rsz sb ON sb.id = c.id_b)
      |SELECT id_a, id_b, n_common, round(overlap, 6) AS overlap
      |FROM sc WHERE overlap >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // ---- TF-IDF --------------------------------------------------------------
  /** Top-3 TF-IDF terms per document (restricted to doc_id < 20 for the
    * gate; document frequencies always come from the WHOLE corpus). The
    * per-doc ranking orders by the ROUNDED score with the term as
    * tie-break, so both engines rank identical values.
    */
  private def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), col("term"))
    TextAnalysis.tfidf(Tables.documents(s, d), "doc_id", "text")
      .filter(col("doc_id") < 20)
      .withColumn("score", round(col("tfidf"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rn")
  }

  private val tfidfTopSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(${tokenize("text")})
       |           AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT doc_id, term, tf, df,
       |              round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
       |       FROM tf JOIN df USING (term), n
       |       WHERE doc_id < 20),
       |r AS (SELECT *, CAST(row_number() OVER
       |        (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER)
       |        AS rn
       |      FROM sc)
       |SELECT doc_id, rn, term, tf, df, score
       |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ---- BM25 full-text retrieval -------------------------------------------
  /** Shared query batch for the BM25 gates: the first 8 distinct tokens
    * of each doc_id < 8 document — short keyword queries, the retrieval
    * shape decontamination/data-selection actually issues.
    */
  private def bm25Queries(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 8))
          .as("qterms"))

  /** Okapi BM25 top-5 per query ([[graft.ext.TextSearch]]): inverted
    * index built in place (one materialized tokenize pass), queries
    * scored with Robertson idf + saturated, length-normalized tf, and
    * ranked on the ROUNDED score with doc id tie-break so the oracle
    * ranks identical values. The oracle recomputes the whole model —
    * postings, document lengths, df, corpus stats, the BM25 formula —
    * relationally in DuckDB, so scores (not just the hit set) are
    * value-checked.
    */
  private def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ext.TextSearch.buildIndex(Tables.documents(s, d),
      col("doc_id"), col("text"), materialize = true)
    graft.ext.TextSearch.search(ix, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** BM25 index persistence ([[graft.ext.TextSearch.save]]/`searchSaved`):
    * build → save (term-hash-bucketed layout) → search the SAVED index
    * with bucket pruning — only the query terms' buckets are read. The
    * answers must equal the in-memory gate's, so it shares the oracle
    * verbatim; the pruned read path is what the layout buys at 100 TB.
    */
  private def bm25Persist(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_bm25_idx_")
    graft.ext.TextSearch.buildAndSave(Tables.documents(s, d),
      col("doc_id"), col("text"), dir, buckets = bm25Buckets)
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** df-capped BM25 ([[graft.ext.TextSearch.search]] `maxDF`): terms in
    * more than 78% of the corpus are suppressed at query time — the
    * stop-term cap that keeps the matched-postings join off the
    * corpus-sized lists at 100 TB. The query terms' df values cluster
    * between 74% and 81% of n_docs in the synthetic corpus at every
    * scale factor, so this cap genuinely splits them: roughly half the
    * terms are suppressed and half survive, scores shrink to the
    * surviving terms' contributions, matched counts drop, and ranks
    * move — all value-checked against the capped relational recompute
    * (a cap below 74% would suppress everything and verify nothing).
    * The pruned saved-path variant goes through [[graft.ext.TextSearch
    * .searchSaved]]'s maxDF so the lexicon-first bucket tightening is
    * the exercised code path.
    */
  /** FEDERATED SEARCH ([[graft.ext.TextSearch.searchFederated]]): a
    * corrections overlay (every fifth document re-indexed with amended
    * text, a third of the corrections later retracted) searched WITH
    * the production index under q_store_federate's precedence —
    * overlay wins on id collision even when the overlay's own ranking
    * didn't surface the id (the superseded production version must not
    * serve), retracted corrections cede back to production. Each root
    * scores with its OWN corpus statistics and the fused top-5
    * re-ranks raw. The oracle rebuilds BOTH BM25 models relationally
    * (survivors only — deletes are negative partials on both engines),
    * applies the precedence mask, and re-ranks — every fused score
    * value-checked.
    */
  private def searchFederate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val overlayDir = graft.Gate.tmpDir("gate_sfed_a_")
    graft.ext.TextSearch.buildAndSave(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" corrected"))),
      col("doc_id"), col("text"), overlayDir, buckets = bm25Buckets)
    graft.ext.TextSearch.delete(s, overlayDir, // retracted fixes
      docs.filter(col("doc_id") % 3 === 1).select("doc_id"),
      col("doc_id"))
    val prodDir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_sfed_b_")
    graft.ext.TextSearch.delete(s, prodDir, // production takedown
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
      col("doc_id"))
    graft.ext.TextSearch.searchFederated(s, Seq(overlayDir, prodDir),
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val searchFederateSql = {
    def bmBlock(src: String, corpus: String): String =
      s"""${docTokens(s"tok_$src", s"$corpus")},
         |tf_$src AS (SELECT id, term, count(*) AS tf
         |  FROM (SELECT id, unnest(toks) AS term FROM tok_$src)
         |  GROUP BY 1, 2),
         |dl_$src AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl
         |  FROM tf_$src GROUP BY 1),
         |lex_$src AS (SELECT term, count(*) AS df FROM tf_$src GROUP BY 1),
         |st_$src AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
         |  FROM dl_$src),
         |sc_$src AS (SELECT q.query_id, tf.id,
         |    sum($bm25Weight) AS score_raw,
         |    count(*) AS matched
         |  FROM q JOIN tf_$src tf USING (term)
         |  JOIN lex_$src lex USING (term)
         |  JOIN dl_$src dl ON dl.id = tf.id, st_$src st
         |  GROUP BY 1, 2),
         |h_$src AS (SELECT query_id, id, matched,
         |    round(score_raw, 6) AS score
         |  FROM (SELECT *, ${rankBy("round(score_raw, 6) DESC, id")} AS rn
         |        FROM sc_$src)
         |  WHERE rn <= 20)""".stripMargin
    s"""WITH ${docTokens("qtok", "documents")},
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |ca AS (SELECT doc_id, text || ' corrected' AS text FROM documents
       |       WHERE doc_id % 5 = 0 AND doc_id % 3 <> 1),
       |cb AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${bmBlock("a", "ca")},
       |${bmBlock("b", "cb")},
       |fed AS (SELECT * FROM h_a
       |        UNION ALL
       |        SELECT * FROM h_b
       |        WHERE NOT (id % 5 = 0 AND id % 3 <> 1)),
       |fin AS (SELECT query_id,
       |          CAST(${rankBy("score DESC, id")} AS INTEGER) AS rn,
       |          id, matched, score
       |        FROM fed)
       |SELECT query_id, rn, id, matched, score
       |FROM fin WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
  }

  private def bm25Capped(s: SparkSession, d: String): DataFrame = {
    val cap = Tables.documents(s, d).count() * 78L / 100L
    graft.ext.TextSearch.searchSaved(s, sharedBm25Index(s, d),
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5, maxDF = cap)
      .orderBy("query_id", "rn")
  }

  private val bm25CappedSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       WHERE lex.df <= CAST(floor(st.n_docs * 78 / 100.0) AS BIGINT)
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** Incremental index maintenance ([[graft.ext.TextSearch.appendDocs]]):
    * a delivery (every 9th doc, text perturbed, ids offset) is admitted
    * by appending its postings + df/stats PARTIALS — the base corpus is
    * never re-read. Search after the append must produce exactly what a
    * from-scratch build over the union produces: the oracle recomputes
    * BM25 over the unioned corpus, so the df drift and avgdl shift the
    * delivery causes are value-checked, not just the new hits.
    */
  private def bm25Append(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val delta = docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" extra retrieval tail")).as("text"))
    // this gate APPENDS, so it works on a private copy of the shared
    // base build (the build itself is priced by q_bm25_persist)
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_app_")
    graft.ext.TextSearch.appendDocs(s, dir, delta,
      col("doc_id"), col("text"))
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25AppendSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' extra retrieval tail'
       |  FROM documents WHERE doc_id % 9 = 0),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** Exact phrase search ([[graft.ext.TextSearch.phraseSearch]]): each
    * doc_id < 8 document's first 3 tokens become a phrase query; the
    * aligned-start positional join returns every document containing
    * the phrase with its occurrence count (the source doc guarantees
    * ≥ 1 hit per phrase). The oracle rebuilds positional postings and
    * the same vote-counting relationally.
    */
  private def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val phrases = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("pid"),
        slice(TextAnalysis.tokens(col("text")), 1, 3).as("pterms"))
    graft.ext.TextSearch.phraseSearch(docs, col("doc_id"), col("text"),
        phrases, col("pid"), col("pterms"))
      .orderBy("phrase_id", "id")
  }

  private val phraseSearchSql =
    s"""WITH ${docTokens("tok", "documents")},
       |g0 AS (SELECT id, unnest(list_transform(range(len(toks)),
       |         p -> struct_pack(pos := p, term := toks[p+1]))) AS u
       |       FROM tok),
       |g AS (SELECT id, u.pos AS pos, u.term AS term FROM g0),
       |ph AS (SELECT id AS phrase_id, toks[1:3] AS pterms
       |       FROM tok WHERE id < 8),
       |pt0 AS (SELECT phrase_id, unnest(list_transform(range(3),
       |          i -> struct_pack(i := i, term := pterms[i+1]))) AS u
       |        FROM ph),
       |pt AS (SELECT phrase_id, u.i AS i, u.term AS term FROM pt0),
       |votes AS (SELECT pt.phrase_id, g.id, g.pos - pt.i AS start
       |          FROM g JOIN pt ON g.term = pt.term
       |          GROUP BY 1, 2, 3, pt.i),
       |occ AS (SELECT phrase_id, id, start FROM votes
       |        GROUP BY 1, 2, 3 HAVING count(*) = 3)
       |SELECT phrase_id, id, count(*) AS n_occ
       |FROM occ GROUP BY 1, 2 ORDER BY phrase_id, id""".stripMargin

  /** Phrase search over the SAVED index
    * ([[graft.ext.TextSearch.phraseSearchSaved]]): the same phrase batch
    * as q_phrase_search, answered from the persisted positional postings
    * with bucket pruning instead of a corpus re-scan — the
    * decontamination-sweep path at 100 TB. Shares q_phrase_search's
    * oracle verbatim: saved answers must equal the corpus-scan answers.
    */
  private def phrasePersist(s: SparkSession, d: String): DataFrame = {
    val phrases = Tables.documents(s, d).filter(col("doc_id") < 8)
      .select(col("doc_id").as("pid"),
        slice(TextAnalysis.tokens(col("text")), 1, 3).as("pterms"))
    graft.ext.TextSearch.phraseSearchSaved(s, sharedBm25Index(s, d),
        phrases, col("pid"), col("pterms"))
      .orderBy("phrase_id", "id")
  }

  /** Proximity search ([[graft.ext.TextSearch.proximitySearch]],
    * unordered SpanNear): 3-term queries (first three tokens of docs
    * 0-7, pairwise-distinct filter so K is fixed for the oracle) must
    * co-occur within a 12-token window; the result is each matching
    * doc's MINIMAL covering window. The two-pointer sweep's every
    * window length is value-checked against the oracle's positions
    * cross-product minimum — the O(P) sweep and the O(P³) relational
    * spelling must agree exactly.
    */
  private def proximity(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val phrases = Tables.documents(s, d).filter(col("doc_id") < 8)
      .select(col("doc_id").as("pid"),
        slice(toks, 1, 3).as("pterms"))
      .filter(size(col("pterms")) === 3 &&
        element_at(col("pterms"), 1) =!= element_at(col("pterms"), 2) &&
        element_at(col("pterms"), 2) =!= element_at(col("pterms"), 3) &&
        element_at(col("pterms"), 1) =!= element_at(col("pterms"), 3))
    graft.ext.TextSearch.proximitySearch(Tables.documents(s, d),
        col("doc_id"), col("text"), phrases, col("pid"), col("pterms"),
        maxWindow = 12)
      .orderBy("phrase_id", "id")
  }

  private val proximitySql =
    s"""WITH d AS (SELECT doc_id,
       |             ${tokenize("text")} AS tk
       |           FROM documents),
       |pos AS (SELECT doc_id AS id, i AS pos, tk[i] AS term
       |        FROM (SELECT doc_id, tk,
       |                unnest(range(1, len(tk) + 1)) AS i
       |              FROM d)),
       |ph AS (SELECT doc_id AS qid, tk[1] AS t1, tk[2] AS t2, tk[3] AS t3
       |       FROM d
       |       WHERE doc_id < 8 AND len(tk) >= 3
       |         AND tk[1] <> tk[2] AND tk[2] <> tk[3] AND tk[1] <> tk[3]),
       |m1 AS (SELECT ph.qid, p.id, p.pos FROM ph
       |       JOIN pos p ON p.term = ph.t1),
       |m2 AS (SELECT ph.qid, p.id, p.pos FROM ph
       |       JOIN pos p ON p.term = ph.t2),
       |m3 AS (SELECT ph.qid, p.id, p.pos FROM ph
       |       JOIN pos p ON p.term = ph.t3),
       |win AS (SELECT m1.qid, m1.id,
       |          min(greatest(m1.pos, m2.pos, m3.pos)
       |              - least(m1.pos, m2.pos, m3.pos) + 1) AS min_window
       |        FROM m1
       |        JOIN m2 ON m2.qid = m1.qid AND m2.id = m1.id
       |        JOIN m3 ON m3.qid = m1.qid AND m3.id = m1.id
       |        GROUP BY 1, 2)
       |SELECT qid AS phrase_id, id, CAST(min_window AS INTEGER)
       |         AS min_window
       |FROM win WHERE min_window <= 12 ORDER BY phrase_id, id""".stripMargin

  /** Exact literal substring search ([[graft.ext.TextSearch
    * .literalSearch]]): three 20-char raw slices of real documents plus
    * one absent literal, matched corpus-wide via the char-4-gram
    * candidate prune + contains verify. The result contract is exactly
    * "needle is a substring of text", so the oracle is a plain
    * contains() cross join — the pruned plan must reproduce the naive
    * semantics verbatim (punctuation, casing, and word boundaries
    * included, which token-level search cannot promise).
    */
  private def literalSearchGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val needles = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
      .unionByName(s.range(1).select(lit(999L).as("nid"),
        lit("@@no-such-literal@@").as("needle")))
    graft.ext.TextSearch.literalSearch(docs, col("doc_id"), col("text"),
        needles, col("nid"), col("needle"))
      .orderBy("needle_id", "id")
  }

  private val literalSearchSql =
    """WITH nd AS (
      |  SELECT doc_id AS needle_id, substring(text, 8, 20) AS needle
      |  FROM documents WHERE doc_id < 3
      |  UNION ALL SELECT 999, '@@no-such-literal@@')
      |SELECT n.needle_id, d.doc_id AS id
      |FROM documents d CROSS JOIN nd n
      |WHERE length(n.needle) >= 4 AND contains(d.text, n.needle)
      |ORDER BY needle_id, id""".stripMargin

  /** Persisted literal sweep ([[graft.ext.LiteralIndex]]): the corpus's
    * char-4-grams build on 90% of the docs, the rest arrive via
    * [[graft.ext.LiteralIndex.appendDocs]] (delta-only), every
    * doc_id % 7 == 1 document is tombstoned, and the same needle batch
    * as q_literal_search sweeps the index with bucket-pruned gram scans
    * — answers must equal plain contains() over the SURVIVING corpus
    * (append visible, deletes masked), which is exactly what the
    * oracle states.
    */
  private def literalPersistGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = graft.Gate.tmpDir("gate_lit_idx_")
    graft.ext.LiteralIndex.buildAndSave(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      dir, n = 4, buckets = 16)
    graft.ext.LiteralIndex.appendDocs(s, dir,
      docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"))
    graft.ext.LiteralIndex.delete(s, dir,
      docs.filter(col("doc_id") % 7 === 1).select("doc_id"), col("doc_id"))
    val needles = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
      .unionByName(s.range(1).select(lit(999L).as("nid"),
        lit("@@no-such-literal@@").as("needle")))
    graft.ext.LiteralIndex.searchSaved(s, dir, docs, col("doc_id"),
        col("text"), needles, col("nid"), col("needle"))
      .orderBy("needle_id", "id")
  }

  private val literalPersistSql =
    """WITH nd AS (
      |  SELECT doc_id AS needle_id, substring(text, 8, 20) AS needle
      |  FROM documents WHERE doc_id < 3
      |  UNION ALL SELECT 999, '@@no-such-literal@@')
      |SELECT n.needle_id, d.doc_id AS id
      |FROM documents d CROSS JOIN nd n
      |WHERE d.doc_id % 7 <> 1
      |  AND length(n.needle) >= 4 AND contains(d.text, n.needle)
      |ORDER BY needle_id, id""".stripMargin

  /** Common-gram literal sweep — the decontamination case the
    * rare-gram planner exists for: the needles are leading slices of
    * natural-language documents, which always contain ubiquitous
    * char-4-grams ("the ", " and" — corpus-sized posting buckets).
    * The sweep plans from the index's df lexicon and prunes with only
    * the 3 RAREST grams per needle under a df cap, so the candidate
    * join is bounded by rare posting lists no matter how common the
    * needle's other grams are; the `contains` verify keeps the
    * answers exactly equal to the naive contains() oracle. ScaleProbe
    * carries this gate to show the sweep stays flat as the corpus
    * (and with it the common grams' df) grows 10×.
    */
  private def literalCommonGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = graft.Gate.tmpDir("gate_lit_common_")
    graft.ext.LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"),
      dir, n = 4, buckets = 16)
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 1, 40).as("needle"))
    graft.ext.LiteralIndex.searchSaved(s, dir, docs, col("doc_id"),
        col("text"), needles, col("nid"), col("needle"),
        rareGrams = 3, maxDF = 50L)
      .orderBy("needle_id", "id")
  }

  private val literalCommonSql =
    """WITH nd AS (
      |  SELECT doc_id AS needle_id, substring(text, 1, 40) AS needle
      |  FROM documents WHERE doc_id < 4)
      |SELECT n.needle_id, d.doc_id AS id
      |FROM documents d CROSS JOIN nd n
      |WHERE length(n.needle) >= 4 AND contains(d.text, n.needle)
      |ORDER BY needle_id, id""".stripMargin

  /** Document retraction ([[graft.ext.TextSearch.delete]]): every
    * doc_id % 7 == 3 document is tombstoned (negative df/stats partials
    * computed from one postings scan — the corpus text is never
    * re-read), then the index is [[graft.ext.TextSearch.compact]]ed so
    * the tombstones apply physically, and the search runs over the
    * compacted result. The oracle recomputes BM25 from scratch over the
    * SURVIVING corpus, so the df/avgdl shifts deletion causes — not
    * just the disappearance of the deleted hits — are value-checked.
    * TextSearchSpec pins the pre-compact (tombstone-masked) search to
    * the same answers and the physical removal of tombstoned postings.
    */
  private def bm25Delete(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_del_")
    val doomed = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
      .select("doc_id")
    graft.ext.TextSearch.delete(s, dir, doomed, col("doc_id"))
    graft.ext.TextSearch.compact(s, dir)
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** Weighted-query BM25 ([[graft.ext.TextSearch.searchWeighted]]):
    * the same query terms as q_bm25_topk but as a SPARSE WEIGHTED
    * VECTOR — each term boosted by its length (deterministic, oracle-
    * mirrorable) — the query-boosting / learned-sparse-retrieval
    * primitive. The oracle recomputes the weighted sum, so the weight
    * path is value-checked, not just the ordering.
    */
  private def bm25Boost(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ext.TextSearch.load(s, sharedBm25Index(s, d))
    val q = bm25Queries(s, d)
      .select(col("qid"), explode(col("qterms")).as("term"))
      .withColumn("w", length(col("term")).cast("double"))
    graft.ext.TextSearch.searchWeighted(ix, q, col("qid"), col("term"),
        col("w"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25BoostSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight
       |             * length(q.term)) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** Pseudo-relevance-feedback retrieval
    * ([[graft.ext.TextSearch.expandQueries]], RM3-lite): first-pass
    * BM25 top-5 per query → relevance-model term weights
    * `Σ tf/dl` over the feedback docs → top-10 NEW terms join the
    * query → second-pass BM25 over the expanded term set. The oracle
    * recomputes the whole two-pass flow relationally — feedback-doc
    * selection, the MLE weights, the expansion cut, and the re-scored
    * ranking are all value-checked, not just the final hit list.
    */
  private def bm25Rm3(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ext.TextSearch.load(s, sharedBm25Index(s, d))
    val expanded = graft.ext.TextSearch.expandQueries(ix,
      bm25Queries(s, d), col("qid"), col("qterms"),
      fbDocs = 5, fbTerms = 10)
    graft.ext.TextSearch.search(ix, expanded, col("query_id"),
        col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25Rm3Sql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q0 AS (SELECT id AS query_id,
       |         unnest(list_distinct(toks[1:8])) AS term
       |       FROM tok WHERE id < 8),
       |sc1 AS (SELECT q0.query_id, tf.id,
       |          sum($bm25Weight) AS score_raw
       |        FROM q0 JOIN tf USING (term) JOIN lex USING (term)
       |        JOIN dl ON dl.id = tf.id, st
       |        GROUP BY 1, 2),
       |fb AS (SELECT query_id, id FROM (
       |         SELECT query_id, id,
       |           ${rankBy("round(score_raw, 6) DESC, id")} AS rn
       |         FROM sc1)
       |       WHERE rn <= 5),
       |cw AS (SELECT fb.query_id, tf.term,
       |         round(sum(CAST(tf.tf AS DOUBLE) / dl.dl), 6) AS w
       |       FROM fb JOIN tf ON tf.id = fb.id JOIN dl ON dl.id = fb.id
       |       GROUP BY 1, 2),
       |cand AS (SELECT cw.query_id, cw.term, cw.w
       |         FROM cw LEFT JOIN q0
       |           ON q0.query_id = cw.query_id AND q0.term = cw.term
       |         WHERE q0.term IS NULL),
       |exp AS (SELECT query_id, term FROM (
       |          SELECT query_id, term,
       |            ${rankBy("w DESC, term")} AS rn
       |          FROM cand)
       |        WHERE rn <= 10),
       |q AS (SELECT query_id, term FROM q0
       |      UNION
       |      SELECT query_id, term FROM exp),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** FULL interpolated RM3
    * ([[graft.ext.TextSearch.expandQueriesRm3]] →
    * [[graft.ext.TextSearch.searchWeighted]]): original terms at
    * λ/|q|, top-10 relevance-model terms at (1−λ)·w/Σw, λ = 0.6 —
    * the weighted form q_bm25_rm3 approximates by admission. The
    * oracle recomputes feedback selection, MLE weights, normalization,
    * interpolation, AND the weighted ranking relationally.
    */
  private def bm25Rm3W(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ext.TextSearch.load(s, sharedBm25Index(s, d))
    val qw = graft.ext.TextSearch.expandQueriesRm3(ix,
      bm25Queries(s, d), col("qid"), col("qterms"),
      fbDocs = 5, fbTerms = 10, lambda = 0.6)
    graft.ext.TextSearch.searchWeighted(ix, qw, col("query_id"),
        col("term"), col("weight"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25Rm3WSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q0 AS (SELECT id AS query_id,
       |         unnest(list_distinct(toks[1:8])) AS term
       |       FROM tok WHERE id < 8),
       |sc1 AS (SELECT q0.query_id, tf.id,
       |          sum($bm25Weight) AS score_raw
       |        FROM q0 JOIN tf USING (term) JOIN lex USING (term)
       |        JOIN dl ON dl.id = tf.id, st
       |        GROUP BY 1, 2),
       |fb AS (SELECT query_id, id FROM (
       |         SELECT query_id, id,
       |           ${rankBy("round(score_raw, 6) DESC, id")} AS rn
       |         FROM sc1)
       |       WHERE rn <= 5),
       |cw AS (SELECT fb.query_id, tf.term,
       |         round(sum(CAST(tf.tf AS DOUBLE) / dl.dl), 6) AS w
       |       FROM fb JOIN tf ON tf.id = fb.id JOIN dl ON dl.id = fb.id
       |       GROUP BY 1, 2),
       |cand AS (SELECT cw.query_id, cw.term, cw.w
       |         FROM cw LEFT JOIN q0
       |           ON q0.query_id = cw.query_id AND q0.term = cw.term
       |         WHERE q0.term IS NULL),
       |top AS (SELECT query_id, term, w FROM (
       |          SELECT query_id, term, w,
       |            ${rankBy("w DESC, term")} AS rn
       |          FROM cand)
       |        WHERE rn <= 10),
       |qlen AS (SELECT query_id, count(*) AS nq FROM q0 GROUP BY 1),
       |wsum AS (SELECT query_id, sum(w) AS ws FROM top GROUP BY 1),
       |qw AS (SELECT query_id, term, sum(weight) AS weight FROM (
       |         SELECT q0.query_id, q0.term, 0.6 / qlen.nq AS weight
       |         FROM q0 JOIN qlen USING (query_id)
       |         UNION ALL
       |         SELECT t.query_id, t.term, 0.4 * t.w / wsum.ws AS weight
       |         FROM top t JOIN wsum USING (query_id))
       |       GROUP BY 1, 2),
       |sc AS (SELECT qw.query_id, tf.id,
       |         sum($bm25Weight
       |             * qw.weight) AS score_raw,
       |         count(*) AS matched
       |       FROM qw JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** Index TIME TRAVEL ([[graft.ext.TextSearch.searchSavedAt]] /
    * [[graft.ext.IndexStore.snapshotAt]]): a delivery is appended, then
    * the search pins the PRE-APPEND manifest version — and must answer
    * exactly the base-corpus BM25 (the plain bm25 oracle), proving the
    * GC retention window keeps pinned history readable through later
    * commits. This is the lineage contract for data selection at
    * 100 TB: record the index version a selection queried, re-run it
    * verbatim under audit regardless of what landed since.
    */
  private def bm25TimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_tt_")
    val v0 = graft.ext.IndexStore.snapshot(s, dir).version
    val delta = Tables.documents(s, d).filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000).as("id"),
        concat(col("text"), lit(" extra retrieval tail")).as("t"))
    graft.ext.TextSearch.appendDocs(s, dir, delta, col("id"), col("t"))
    graft.ext.TextSearch.searchSavedAt(s, dir, v0, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** STREAMING document retraction — the takedown / right-to-be-forgotten
    * path at 100 TB: deletion requests arrive as a stream and each
    * micro-batch lands on the SAVED index via
    * [[graft.ext.TextSearch.delete]] (tombstones + negative
    * df/stats partials; the corpus text is never re-read), then one
    * [[graft.ext.TextSearch.compact]] applies them physically. Here the
    * same doomed set as q_bm25_delete arrives split across two
    * micro-batches (maxFilesPerTrigger=1), so the gate additionally
    * pins that retraction is batch-boundary-invariant: a takedown
    * STREAM must land the index exactly where one batch delete of the
    * same ids does — hence the oracle is q_bm25_delete's verbatim.
    */
  private def streamBm25Delete(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_sdel_")
    val doomed = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
      .select("doc_id")
    val in = graft.Gate.tmpDir("gate_bm25_sdel_in_")
    val ckpt = graft.Gate.tmpDir("gate_bm25_sdel_ck_")
    doomed.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    doomed.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "doc_id LONG", in, ckpt) { (batch, _) =>
      graft.ext.TextSearch.delete(s, dir, batch, col("doc_id"))
    }
    graft.ext.TextSearch.compact(s, dir)
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** STREAMING cross-surface takedown ([[graft.ext.Takedown]] under
    * `foreachBatch`): retraction requests drain from a file stream in
    * two micro-batches, and EACH batch drives one `retract()` through
    * the registry — BM25 and literal surfaces per delivery, intent
    * logged before any surface mutates. After the drain, `resume()`
    * must find nothing pending (every intent completed), and both
    * surfaces must answer exactly like one batch delete of the whole
    * set: takedown orchestration is batch-boundary-invariant, the
    * property that lets a 100 TB deployment feed its takedown queue
    * straight into the registry without batching logic of its own.
    */
  private def streamTakedown(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Takedown
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_std_root_")
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_std_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_std_lit_")
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    val doomed = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val in = graft.Gate.tmpDir("gate_std_in_")
    val ckpt = graft.Gate.tmpDir("gate_std_ck_")
    doomed.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    doomed.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "doc_id LONG", in, ckpt) { (batch, _) =>
      Takedown.retract(s, root, batch, col("doc_id"))
    }
    require(Takedown.resume(s, root).isEmpty,
      "drained takedown stream left pending intents")
    val bm = graft.ext.TextSearch.searchSaved(s, bm25Dir,
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
    val lt = graft.ext.LiteralIndex.searchSaved(s, litDir, docs,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .select(lit("literal").as("surface"), col("needle_id").as("qid"),
        col("id"))
    bm.unionByName(lt).orderBy("surface", "qid", "id")
  }

  private val streamTakedownSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM corpus d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle))
       |SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |ORDER BY surface, qid, id""".stripMargin

  /** The corpus STORE OF RECORD, built once per JVM (mutating gates
    * copy it — same contract as [[sharedBm25Index]]).
    */
  private def sharedCorpusStore(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"corpus_store:$d", "gate_corpus_store_") { dir =>
      graft.ext.CorpusStore.build(
        Tables.documents(s, d).select("doc_id", "text"),
        col("doc_id"), dir)
      ()
    }

  /** Store-of-record takedown ([[graft.ext.CorpusStore]] as a `store`
    * surface in [[graft.ext.Takedown]]): the corpus table AND three
    * derived index families register under one takedown root, and ONE
    * `retract()` — one durable intent — removes the doomed ids from
    * the store and every index. The output probes all four surfaces
    * (the store's surviving ids, BM25 top-5, a literal sweep, an
    * exhaustive-probe ANN top-5) and the oracle recomputes each from
    * the surviving corpus: the GDPR contract is that no surface —
    * least of all the one holding the actual rows — still answers for
    * a retracted document. Retraction stays metadata-bounded on every
    * surface (scoped tombstones; the store rewrites nothing until its
    * own compact).
    */
  private def takedownStore(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Takedown
    val docs = Tables.documents(s, d)
    val embs = Tables.embeddings(s, d)
    val root = graft.Gate.tmpDir("gate_tds_root_")
    val storeDir =
      graft.Gate.copyDir(sharedCorpusStore(s, d), "gate_tds_store_")
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_tds_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_tds_lit_")
    val ivfDir = graft.Gate.copyDir(sharedIvfIndex(s, d), "gate_tds_ivf_")
    Takedown.register(s, root, Takedown.Surface("store", storeDir))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    Takedown.register(s, root, Takedown.Surface("ivf", ivfDir))
    val doomed = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    Takedown.retract(s, root, doomed, col("doc_id"))
    val st = graft.ext.CorpusStore.read(s, storeDir)
      .select(lit("store").as("surface"), lit(0L).as("qid"), col("id"))
    val bm = graft.ext.TextSearch.searchSaved(s, bm25Dir,
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
    val lt = graft.ext.LiteralIndex.searchSaved(s, litDir, docs,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .select(lit("literal").as("surface"), col("needle_id").as("qid"),
        col("id"))
    val iv = graft.ext.IvfIndex.search(
        graft.ext.IvfIndex.load(s, ivfDir, embs),
        col("vec_id") < 10, k = 5, nProbe = Int.MaxValue)
      .select(lit("ivf").as("surface"), col("query_id").as("qid"),
        col("neighbor_id").as("id"))
    st.unionByName(bm).unionByName(lt).unionByName(iv)
      .orderBy("surface", "qid", "id")
  }

  private val takedownStoreSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |sr AS (SELECT 'store' AS surface, CAST(0 AS BIGINT) AS qid,
       |              doc_id AS id
       |       FROM corpus),
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM corpus d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle)),
       |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 3),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |       WHERE vec_id % 7 <> 3),
       |p AS (SELECT qid, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM qs, ev WHERE vec_id <> qid),
       |iv AS (SELECT 'ivf' AS surface, qid, vec_id AS id
       |       FROM (SELECT qid, vec_id,
       |               row_number() OVER (PARTITION BY qid
       |                 ORDER BY cos DESC, vec_id) AS rank
       |             FROM p)
       |       WHERE rank <= 5)
       |SELECT surface, qid, id FROM sr
       |UNION ALL SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |UNION ALL SELECT surface, qid, id FROM iv
       |ORDER BY surface, qid, id""".stripMargin

  /** Cross-surface consistent read snapshot ([[graft.ext.Takedown
    * .withPinned]]): BM25 and literal surfaces register under one
    * root, the gate pins a version VECTOR resolved at one commit
    * point, then RACES an append of new documents into BOTH surfaces
    * — and answers every query from the pinned vector via the family
    * `*At` readers, under per-surface TTL leases that hold GC off.
    * The oracle computes both searches over the ORIGINAL corpus only:
    * the appended docs must be invisible on every surface at once,
    * the property a data-selection run needs so its recorded lineage
    * (this vector) replays verbatim under audit. Without the vector,
    * each surface pins independently and a selection racing an ingest
    * can read BM25 post-append but the literal index pre-append.
    */
  private def pinnedRead(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Takedown
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_pin_root_")
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_pin_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_pin_lit_")
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    Takedown.withPinned(s, root) { vector =>
      val at = vector.map { case (sf, v) => sf.kind -> v }.toMap
      // the race: a delivery lands on BOTH surfaces AFTER the pin —
      // doc ids shifted out of the query range, text echoing doc 0's
      // prefix so an unpinned literal sweep WOULD match them
      val delivery = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" pinned-race-delivery")).as("text"))
      graft.ext.TextSearch.appendDocs(s, bm25Dir, delivery,
        col("doc_id"), col("text"))
      graft.ext.LiteralIndex.appendDocs(s, litDir, delivery,
        col("doc_id"), col("text"))
      val bm = graft.ext.TextSearch.searchSavedAt(s, bm25Dir, at("bm25"),
          bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
        .select(lit("bm25").as("surface"), col("query_id").as("qid"),
          col("id"))
      val needles = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("nid"),
          substring(col("text"), 8, 20).as("needle"))
      // verify corpus = original docs ∪ the delivery: a pinned index
      // must EXCLUDE the delivery by version alone, not because the
      // verify pass never saw its rows
      val verifyCorpus = docs.select("doc_id", "text").unionByName(delivery)
      val lt = graft.ext.LiteralIndex.searchSavedAt(s, litDir,
          at("literal"), verifyCorpus, col("doc_id"), col("text"),
          needles, col("nid"), col("needle"))
        .select(lit("literal").as("surface"), col("needle_id").as("qid"),
          col("id"))
      // materialize INSIDE the lease scope — the pinned-read contract is
      // that segments are guaranteed only while the leases are held
      bm.unionByName(lt).orderBy("surface", "qid", "id")
        .localCheckpoint(true)
    }
  }

  private val pinnedReadSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM documents d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle))
       |SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |ORDER BY surface, qid, id""".stripMargin

  /** Cross-surface corpus CLONE ([[graft.ext.Takedown.cloneCorpus]]):
    * store-of-record + BM25 surfaces register under one corpus root,
    * the whole corpus deep-clones at one pinned commit point, and THEN
    * a delivery lands on the SOURCE surfaces. The gate answers store
    * reads and BM25 searches from the CLONE — which must reflect the
    * pinned pre-delivery state, proving the copy is complete (every
    * manifest relation plus intra-segment sidecars travel) and
    * independent (post-clone source mutations are invisible). The
    * oracle recomputes both surfaces from the pre-delivery corpus.
    */
  private def storeClone(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{CorpusStore, Takedown, TextSearch}
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_clone_root_")
    val storeDir = s"$root/store"
    CorpusStore.build(docs.select("doc_id", "text"), col("doc_id"),
      storeDir)
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d),
      "gate_clone_bm25_")
    Takedown.register(s, root, Takedown.Surface("store", storeDir))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    val cloneRoot = graft.Gate.tmpDir("gate_clone_dst_")
    val byKind = Takedown.cloneCorpus(s, root, cloneRoot)
      .map { case (sf, _) => sf.kind -> sf.path }.toMap
    // the race: a delivery lands on BOTH source surfaces after the
    // clone — text echoes the originals so an un-isolated clone's BM25
    // would rank the impostors
    val delivery = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" clone-race-delivery")).as("text"))
    CorpusStore.append(s, storeDir, delivery, col("doc_id"))
    TextSearch.appendDocs(s, bm25Dir, delivery, col("doc_id"), col("text"))
    val bm = TextSearch.searchSaved(s, byKind("bm25"), bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val st = CorpusStore.read(s, byKind("store"))
      .filter(col("id") >= 490)
      .select(lit("store").as("surface"), lit(-1L).as("qid"), col("id"))
    bm.unionByName(st).orderBy("surface", "qid", "id")
  }

  private val storeCloneSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |sr AS (SELECT 'store' AS surface, CAST(-1 AS BIGINT) AS qid,
       |              doc_id AS id
       |       FROM documents WHERE doc_id >= 490)
       |SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM sr
       |ORDER BY surface, qid, id""".stripMargin

  /** Zone-map data skipping on the corpus store ([[graft.ext
    * .CorpusStore.readRange]]): three deliveries land as three
    * segments with one-row min/max sidecars, some in-range ids are
    * retracted, and a range read prunes every delivery whose zone map
    * cannot overlap — then answers from the one that can, tombstones
    * applied, pushed range filter pruning row groups inside it. The
    * oracle recomputes the surviving range relationally. At 100 TB
    * this is the point-lookup path: a handful of sidecar rows decide
    * which deliveries are touched at all (CorpusStoreSpec pins the
    * single-segment scan via inputFiles).
    */
  private def storeSkip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_skip_store_")
    graft.ext.CorpusStore.build(
      docs.filter(col("doc_id") < 150).select("doc_id", "text"),
      col("doc_id"), root)
    graft.ext.CorpusStore.append(s, root,
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
        .select("doc_id", "text"), col("doc_id"))
    graft.ext.CorpusStore.append(s, root,
      docs.filter(col("doc_id") >= 300).select("doc_id", "text"),
      col("doc_id"))
    graft.ext.CorpusStore.delete(s, root,
      docs.filter(col("doc_id").between(160, 240) &&
        col("doc_id") % 5 === 0).select("doc_id"), col("doc_id"))
    graft.ext.CorpusStore.readRange(s, root, 160L, 240L)
      .select(col("id"), md5(col("text")).as("h"))
      .orderBy("id")
  }

  private val storeSkipSql =
    """SELECT doc_id AS id, md5(text) AS h FROM documents
      |WHERE doc_id BETWEEN 160 AND 240 AND doc_id % 5 <> 0
      |ORDER BY id""".stripMargin

  /** Schema evolution on the corpus store ([[graft.ext.CorpusStore]]):
    * a later delivery ADDS a `lang` column the original build lacks —
    * reads union segments by name with the old rows null-filled, so
    * accreting crawl metadata never rewrites the store; tombstones
    * still apply across the heterogeneous segments. The oracle
    * reconstructs the evolved view relationally (new rows carry the
    * derived tag, old rows NULL, deleted rows gone). The merged schema
    * materializes physically at the next compact — CorpusStoreSpec
    * pins read ≡ across that rewrite.
    */
  private def storeEvolve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_evolve_store_")
    graft.ext.CorpusStore.build(
      docs.filter(col("doc_id") < 200).select("doc_id", "text"),
      col("doc_id"), root)
    graft.ext.CorpusStore.append(s, root,
      docs.filter(col("doc_id") >= 200).select(
        col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "en")
          .when(col("doc_id") % 3 === 1, "de")
          .otherwise("fr").as("lang")),
      col("doc_id"))
    graft.ext.CorpusStore.delete(s, root,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
      col("doc_id"))
    graft.ext.CorpusStore.read(s, root)
      .select(col("id"), col("lang"), md5(col("text")).as("h"))
      .orderBy("id")
  }

  private val storeEvolveSql =
    """SELECT doc_id AS id,
      |  CASE WHEN doc_id < 200 THEN NULL
      |       WHEN doc_id % 3 = 0 THEN 'en'
      |       WHEN doc_id % 3 = 1 THEN 'de'
      |       ELSE 'fr' END AS lang,
      |  md5(text) AS h
      |FROM documents WHERE doc_id % 7 <> 0
      |ORDER BY id""".stripMargin

  /** Change-data feed on the corpus store ([[graft.ext.CorpusStore
    * .changes]]): a consumer that saw version 1 reads exactly the
    * deltas commits 2 (an append — its segment IS the inserts) and 3
    * (a delete — its tombstone segment IS the effective deletes)
    * added, never re-reading the store. The oracle reconstructs the
    * feed relationally from the same mutation predicates. At 100 TB
    * this is how derived surfaces stay current: tail the feed, not
    * the table (CorpusStoreSpec pins compact-invariance and the
    * full-refresh refusal).
    */
  private def storeCdc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_cdc_store_")
    graft.ext.CorpusStore.build( // v1
      docs.filter(col("doc_id") < 250).select("doc_id", "text"),
      col("doc_id"), root)
    graft.ext.CorpusStore.append(s, root, // v2
      docs.filter(col("doc_id") >= 250).select("doc_id", "text"),
      col("doc_id"))
    graft.ext.CorpusStore.delete(s, root, // v3
      docs.filter(col("doc_id") % 6 === 0).select("doc_id"),
      col("doc_id"))
    graft.ext.CorpusStore.changes(s, root, 1L)
      .select(col("id"), col("_change").as("op"),
        col("_version").as("ver"), md5(col("text")).as("h"))
      .orderBy("ver", "id")
  }

  private val storeCdcSql =
    """SELECT doc_id AS id, 'insert' AS op, 2::BIGINT AS ver,
      |       md5(text) AS h
      |FROM documents WHERE doc_id >= 250
      |UNION ALL
      |SELECT doc_id AS id, 'delete' AS op, 3::BIGINT AS ver,
      |       NULL AS h
      |FROM documents WHERE doc_id % 6 = 0
      |ORDER BY ver, id""".stripMargin

  /** Derived-surface maintenance FROM the change feed — the
    * composition the feed exists for: a BM25 index seeded from the
    * store at version 1 is brought current by applying each later
    * commit's delta (feed inserts → index append, feed deletes →
    * index delete, in commit order), never re-reading the store. The
    * maintained index must then be INDISTINGUISHABLE from one built
    * off the final corpus — the oracle is `q_bm25_delete`'s
    * surviving-corpus BM25 recomputation verbatim, scoring df/avgdl
    * statistics and all. At 100 TB this is the derived-surface
    * currency story: each maintenance tick costs the delta, and a
    * row inserted-then-deleted inside the window nets out through
    * the same live-presence semantics every family shares.
    */
  private def cdcMaintain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val store = graft.Gate.tmpDir("gate_cdcm_store_")
    val bm25 = graft.Gate.tmpDir("gate_cdcm_bm25_")
    graft.ext.CorpusStore.build( // v1
      docs.filter(col("doc_id") < 300).select("doc_id", "text"),
      col("doc_id"), store)
    graft.ext.TextSearch.buildAndSave( // the surface as of v1
      graft.ext.CorpusStore.read(s, store), col("id"), col("text"),
      bm25, buckets = bm25Buckets)
    graft.ext.CorpusStore.append(s, store, // v2
      docs.filter(col("doc_id") >= 300).select("doc_id", "text"),
      col("doc_id"))
    graft.ext.CorpusStore.delete(s, store, // v3 (spans v1 AND v2 rows)
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
      col("doc_id"))
    val feed = graft.ext.CorpusStore.changes(s, store, 1L).persist()
    try {
      val vs = feed.select("_version").distinct().collect()
        .map(_.getLong(0)).sorted // commit order — a handful of longs
      vs.foreach { v =>
        val delta = feed.filter(col("_version") === v)
        val ins = delta.filter(col("_change") === "insert")
        if (!ins.isEmpty)
          graft.ext.TextSearch.appendDocs(s, bm25, ins, col("id"),
            col("text"))
        val del = delta.filter(col("_change") === "delete").select("id")
        if (!del.isEmpty)
          graft.ext.TextSearch.delete(s, bm25, del, col("id"))
      }
    } finally { feed.unpersist(); () }
    graft.ext.TextSearch.searchSaved(s, bm25, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  /** Cross-surface atomic ingest ([[graft.ext.Ingest]] — the append
    * mirror of `q_takedown_store`): the store of record and three
    * derived index families register under one root, and ONE
    * `admit()` — one durable delivery intent — lands ten new
    * documents-with-embeddings on the store AND every index. The
    * output probes all four surfaces (store ids, BM25 top-5 with the
    * delivery in the df/avgdl statistics, a literal sweep that must
    * find the delivery's echoed prefixes, an exhaustive-probe ANN
    * top-5 over base ∪ delivery vectors) and the oracle recomputes
    * each over the UNION corpus: the ingest contract is that no
    * surface trails the others after one admit. Each surface apply is
    * live-presence-idempotent, so the same intent crash-replays with
    * no double-insert (IngestSpec); cost per surface is the delta
    * encode plus one column-pruned live-id scan — the same class as
    * the family delete paths.
    */
  /** Steady-state admission probe ([[sharedIngestRoot]]): replay an
    * already-admitted delivery against four surfaces and value-check
    * that the replay did not double-insert. The timed window is the
    * admission-idempotency path in isolation — intent write + four
    * Bloom-sidecar presence probes + empty-delta no-ops — which is
    * the per-delivery overhead every ingest tick pays; ScaleProbe
    * rows pin it near-flat in corpus size (the blooms are the only
    * corpus-proportional bytes it touches).
    */
  private def ingestProbe(s: SparkSession, d: String): DataFrame = {
    val root = sharedIngestRoot(s, d)
    graft.ext.Ingest.admit(s, root, probeDelivery(s, d), col("id"))
    val storeDir = graft.ext.Takedown.surfaces(s, root)
      .find(_.kind == "store").get.path
    graft.ext.CorpusStore.read(s, storeDir)
      .filter(col("id").between(600000L, 600019L))
      .select(col("id"), md5(col("text")).as("h"))
      .orderBy("id")
  }

  private val ingestProbeSql =
    """SELECT doc_id + 600000 AS id, md5(text) AS h
      |FROM documents WHERE doc_id < 20
      |ORDER BY id""".stripMargin

  private def ingestAll(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Ingest, Takedown}
    val docs = Tables.documents(s, d)
    val embs = Tables.embeddings(s, d)
    val root = graft.Gate.tmpDir("gate_ing_root_")
    // the store base holds text AND (where one exists) embedding — the
    // multimodal source of truth an Ingest-managed corpus keeps. LEFT
    // join: every document is a corpus row whether or not it has been
    // embedded yet (at sf0.1 the embeddings table covers only part of
    // the document id domain — an INNER join silently dropped 3000
    // store rows there, caught by the round-10 full-suite sf0.1 verify)
    val storeDir = graft.Gate.tmpDir("gate_ing_store_")
    graft.ext.CorpusStore.build(
      docs.select(col("doc_id").as("id"), col("text"))
        .join(embs.select(col("vec_id").as("id"),
          col("embedding").as("emb")), Seq("id"), "left"),
      col("id"), storeDir)
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_ing_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_ing_lit_")
    val ivfDir = graft.Gate.copyDir(sharedIvfIndex(s, d), "gate_ing_ivf_")
    Takedown.register(s, root, Takedown.Surface("store", storeDir))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    Takedown.register(s, root, Takedown.Surface("ivf", ivfDir))
    val delivery = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 500000).as("id"),
        concat(col("text"), lit(" ingest-delivery")).as("text"))
      .join(embs.filter(col("vec_id") < 10)
        .select((col("vec_id") + 500000).as("id"),
          reverse(col("embedding")).as("emb")), Seq("id"))
    Ingest.admit(s, root, delivery, col("id"))
    val st = graft.ext.CorpusStore.read(s, storeDir)
      .select(lit("store").as("surface"), lit(0L).as("qid"), col("id"))
    val bm = graft.ext.TextSearch.searchSaved(s, bm25Dir,
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
    val verifyCorpus = docs.select("doc_id", "text").unionByName(
      delivery.select(col("id").as("doc_id"), col("text")))
    val lt = graft.ext.LiteralIndex.searchSaved(s, litDir, verifyCorpus,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .select(lit("literal").as("surface"), col("needle_id").as("qid"),
        col("id"))
    val allVecs = embs.select("vec_id", "embedding").unionByName(delivery
      .select(col("id").as("vec_id"), col("emb").as("embedding")))
    val iv = graft.ext.IvfIndex.search(
        graft.ext.IvfIndex.load(s, ivfDir, allVecs),
        col("vec_id") < 10, k = 5, nProbe = Int.MaxValue)
      .select(lit("ivf").as("surface"), col("query_id").as("qid"),
        col("neighbor_id").as("id"))
    st.unionByName(bm).unionByName(lt).unionByName(iv)
      .orderBy("surface", "qid", "id")
  }

  private val ingestAllSql =
    s"""WITH delivery AS (
       |  SELECT doc_id + 500000 AS doc_id, text || ' ingest-delivery' AS text
       |  FROM documents WHERE doc_id < 10),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM delivery),
       |${docTokens("tok", "corpus")},
       |$bm25Stats,
       |q AS (SELECT doc_id AS query_id,
       |        unnest(list_distinct(
       |          ${tokenize("text")}[1:8])) AS term
       |      FROM documents WHERE doc_id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |sr AS (SELECT 'store' AS surface, CAST(0 AS BIGINT) AS qid,
       |              doc_id AS id
       |       FROM corpus),
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM corpus d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle)),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |       UNION ALL
       |       SELECT vec_id + 500000, list_reverse(embedding::DOUBLE[])
       |       FROM embeddings WHERE vec_id < 10),
       |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < 10),
       |p AS (SELECT qid, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM qs, ev WHERE vec_id <> qid),
       |iv AS (SELECT 'ivf' AS surface, qid, vec_id AS id
       |       FROM (SELECT qid, vec_id,
       |               row_number() OVER (PARTITION BY qid
       |                 ORDER BY cos DESC, vec_id) AS rank
       |             FROM p)
       |       WHERE rank <= 5)
       |SELECT surface, qid, id FROM sr
       |UNION ALL SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |UNION ALL SELECT surface, qid, id FROM iv
       |ORDER BY surface, qid, id""".stripMargin

  /** Streaming corpus ingest, end to end ([[graft.sources.Jsonl
    * .readStream]] × [[graft.ext.Ingest.admit]]): a JSONL landing
    * zone — two deliveries plus a malformed line each — is tailed as
    * a file stream; every micro-batch quarantines its corrupt lines
    * and admits the survivors to the store of record, BM25, and the
    * literal index under ONE durable intent per batch. Because admit
    * is live-presence-idempotent per id, the maintained surfaces are
    * batch-boundary-invariant: the same oracle that scores a one-shot
    * admit scores this two-batch drain (the `q_stream_kmv` /
    * `q_stream_nb` discipline, now for the whole multi-surface ingest
    * path). The output probes all three surfaces against the
    * union-corpus oracle; a crashed batch would resume exactly like a
    * crashed takedown (IngestSpec).
    */
  private def streamIngestAll(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Ingest, Takedown}
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_sia_root_")
    // a dedicated store whose schema matches the stream's (id, text)
    // deliveries — segments union by name, so delivery schemas must be
    // consistent per store root (the documented Ingest contract)
    val storeDir = graft.Gate.tmpDir("gate_sia_store_")
    graft.ext.CorpusStore.build(
      docs.select(col("doc_id").as("id"), col("text")),
      col("id"), storeDir)
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_sia_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_sia_lit_")
    Takedown.register(s, root, Takedown.Surface("store", storeDir))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    val delivery = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("id"),
        concat(col("text"), lit(" stream-ingest-delivery")).as("text"))
    val in = graft.Gate.tmpDir("gate_sia_in_")
    val ckpt = graft.Gate.tmpDir("gate_sia_ck_")
    Seq(0, 1).foreach { b =>
      delivery.filter(col("id") % 2 === b)
        .select(to_json(struct(col("id"), col("text"))).as("value"))
        .unionByName(s.range(1).select(
          concat(lit("{stream junk "), lit(b)).as("value")))
        .coalesce(1).write.mode("overwrite").text(s"$in/d$b")
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val q = graft.sources.Jsonl.readStream(s, schema)(in)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = batch.filter(col("_corrupt").isNull)
          .select("id", "text")
        if (!fresh.isEmpty) { Ingest.admit(s, root, fresh, col("id")); () }
      }
      .start()
    q.awaitTermination()
    require(Ingest.resume(s, root).isEmpty,
      "drained ingest stream left pending deliveries")
    val st = graft.ext.CorpusStore.read(s, storeDir)
      .select(lit("store").as("surface"), lit(0L).as("qid"), col("id"))
    val bm = graft.ext.TextSearch.searchSaved(s, bm25Dir,
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"),
        substring(col("text"), 8, 20).as("needle"))
    val verifyCorpus = docs.select("doc_id", "text").unionByName(
      delivery.select(col("id").as("doc_id"), col("text")))
    val lt = graft.ext.LiteralIndex.searchSaved(s, litDir, verifyCorpus,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .select(lit("literal").as("surface"), col("needle_id").as("qid"),
        col("id"))
    st.unionByName(bm).unionByName(lt).orderBy("surface", "qid", "id")
  }

  private val streamIngestAllSql =
    s"""WITH delivery AS (
       |  SELECT doc_id + 500000 AS doc_id,
       |         text || ' stream-ingest-delivery' AS text
       |  FROM documents WHERE doc_id < 20),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM delivery),
       |${docTokens("tok", "corpus")},
       |$bm25Stats,
       |q AS (SELECT doc_id AS query_id,
       |        unnest(list_distinct(
       |          ${tokenize("text")}[1:8])) AS term
       |      FROM documents WHERE doc_id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |sr AS (SELECT 'store' AS surface, CAST(0 AS BIGINT) AS qid,
       |              doc_id AS id
       |       FROM corpus),
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM corpus d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle))
       |SELECT surface, qid, id FROM sr
       |UNION ALL SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |ORDER BY surface, qid, id""".stripMargin

  /** Durable selection lineage ([[graft.ext.SelectionLog]]): a
    * data-selection run pins the corpus's surfaces at one commit
    * point, RECORDS the version vector durably (with each root's
    * incarnation id) under the registry root, and an AUDIT — here,
    * after a delivery has landed on both surfaces — replays the
    * selection from the record alone: `replay(sid)` re-resolves the
    * file, verifies incarnations, leases the recorded versions, and
    * answers via the `*At` readers. The oracle computes the store and
    * BM25 results over the ORIGINAL corpus only: the replayed
    * selection must be byte-identical to what the recording run saw,
    * which is the reproducibility contract a training-data audit
    * needs ("which corpus state produced this dataset?" answered by a
    * few hundred durable bytes, not by freezing 100 TB).
    */
  private def selectionReplay(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{SelectionLog, Takedown}
    val docs = Tables.documents(s, d)
    val root = graft.Gate.tmpDir("gate_sel_root_")
    val storeDir =
      graft.Gate.copyDir(sharedCorpusStore(s, d), "gate_sel_store_")
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_sel_bm25_")
    Takedown.register(s, root, Takedown.Surface("store", storeDir))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    // the selection run: pin + record; its own result is not the point
    val (sid, _) = SelectionLog.run(s, root)(_ => ())
    // the world moves on — a delivery lands on BOTH surfaces
    val delivery = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" replay-race-delivery")).as("text"))
    graft.ext.CorpusStore.append(s, storeDir, delivery, col("doc_id"))
    graft.ext.TextSearch.appendDocs(s, bm25Dir, delivery,
      col("doc_id"), col("text"))
    // the audit: replay from the durable record alone
    SelectionLog.replay(s, root, sid) { vector =>
      val at = vector.map { case (sf, v) => sf.kind -> v }.toMap
      val st = graft.ext.CorpusStore.readAt(s, storeDir, at("store"))
        .select(lit("store").as("surface"), lit(0L).as("qid"), col("id"))
      val bm = graft.ext.TextSearch.searchSavedAt(s, bm25Dir, at("bm25"),
          bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
        .select(lit("bm25").as("surface"), col("query_id").as("qid"),
          col("id"))
      // materialize INSIDE the lease scope — segments are guaranteed
      // only while the replay leases are held
      st.unionByName(bm).orderBy("surface", "qid", "id")
        .localCheckpoint(true)
    }
  }

  private val selectionReplaySql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |sr AS (SELECT 'store' AS surface, CAST(0 AS BIGINT) AS qid,
       |              doc_id AS id
       |       FROM documents),
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5)
       |SELECT surface, qid, id FROM sr
       |UNION ALL SELECT surface, qid, id FROM bm
       |ORDER BY surface, qid, id""".stripMargin

  /** Delete-then-readd ([[graft.ext.IndexStore]] scoped tombstones):
    * every doc_id % 7 == 3 document is retracted, then a CORRECTED
    * delivery re-ingests the same ids with revised text via
    * [[graft.ext.TextSearch.appendDocs]] — no compact in between. The
    * tombstone is scoped to the delete-time segments, so the corrected
    * delivery is visible immediately while the original rows stay
    * masked, and the df/avgdl partials (negative from the delete,
    * positive from the re-add) must net to EXACTLY a from-scratch
    * build over survivors ∪ corrected docs — which is what the oracle
    * computes. This is the correction/redelivery flow every ingest
    * pipeline runs; before scoping, the re-added docs were silently
    * invisible until a compact dropped them entirely.
    */
  private def bm25Readd(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_readd_")
    val docs = Tables.documents(s, d)
    val doomed = docs.filter(col("doc_id") % 7 === 3)
    graft.ext.TextSearch.delete(s, dir, doomed.select("doc_id"),
      col("doc_id"))
    graft.ext.TextSearch.appendDocs(s, dir,
      doomed.select(col("doc_id"),
        concat(col("text"), lit(" corrected redelivery")).as("t")),
      col("doc_id"), col("t"))
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25ReaddSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3
       |  UNION ALL
       |  SELECT doc_id, text || ' corrected redelivery'
       |  FROM documents WHERE doc_id % 7 = 3),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  private val bm25DeleteSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  /** Cross-surface takedown orchestration ([[graft.ext.Takedown]]):
    * one corpus derives a BM25 index, a literal gram index, and an IVF
    * vector index; all three register under one takedown root, and ONE
    * `retract()` call drives all three family deletes through the
    * durable intent log. A second identical retract proves the
    * composition idempotent (every surface judges presence against
    * live rows and no-ops). The output then probes EVERY surface —
    * BM25 top-5, a literal sweep whose needles include a slice of a
    * retracted doc, and an exhaustive-probe ANN top-5 — and the oracle
    * recomputes each from the SURVIVING corpus: the retracted ids must
    * be gone everywhere, and their former hit slots must backfill with
    * the next-best survivors on every surface at once.
    */
  private def takedownGate(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Takedown
    val docs = Tables.documents(s, d)
    val embs = Tables.embeddings(s, d)
    val root = graft.Gate.tmpDir("gate_td_root_")
    val bm25Dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_td_bm25_")
    val litDir = graft.Gate.copyDir(sharedLiteralIndex(s, d), "gate_td_lit_")
    val ivfDir = graft.Gate.copyDir(sharedIvfIndex(s, d), "gate_td_ivf_")
    // the binary-code index builds in one encode pass — no shared memo
    val binDir = graft.Gate.tmpDir("gate_td_bin_")
    graft.ext.BinaryIndex.buildAndSave(embs, binDir)
    Takedown.register(s, root, Takedown.Surface("bm25", bm25Dir))
    Takedown.register(s, root, Takedown.Surface("literal", litDir))
    Takedown.register(s, root, Takedown.Surface("ivf", ivfDir))
    Takedown.register(s, root, Takedown.Surface("binary", binDir))
    val doomed = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    Takedown.retract(s, root, doomed, col("doc_id"))
    Takedown.retract(s, root, doomed, col("doc_id"))
    val bm = graft.ext.TextSearch.searchSaved(s, bm25Dir,
        bm25Queries(s, d), col("qid"), col("qterms"), k = 5)
      .select(lit("bm25").as("surface"), col("query_id").as("qid"),
        col("id"))
    val needles = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("nid"), substring(col("text"), 8, 20).as("needle"))
    val lt = graft.ext.LiteralIndex.searchSaved(s, litDir, docs,
        col("doc_id"), col("text"), needles, col("nid"), col("needle"))
      .select(lit("literal").as("surface"), col("needle_id").as("qid"),
        col("id"))
    val iv = graft.ext.IvfIndex.search(
        graft.ext.IvfIndex.load(s, ivfDir, embs),
        col("vec_id") < 10, k = 5, nProbe = Int.MaxValue)
      .select(lit("ivf").as("surface"), col("query_id").as("qid"),
        col("neighbor_id").as("id"))
    // binary two-stage over SURVIVING codes, value-checked end to end
    // (q_binary_topk's 20%-of-corpus candidate stage — the near-uniform
    // fixture is sign-bit Hamming's worst case)
    val bi = graft.ext.BinaryIndex.load(s, binDir, embs)
    val bCand = math.max(200, (bi.codes.count() / 5L).toInt)
    val bn = graft.ext.BinaryIndex.search(bi, col("vec_id") < 10, k = 5,
        candidates = bCand)
      .select(lit("binary").as("surface"), col("query_id").as("qid"),
        col("neighbor_id").as("id"))
    bm.unionByName(lt).unionByName(iv).unionByName(bn)
      .orderBy("surface", "qid", "id")
  }

  private val takedownSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${docTokens("tok", "corpus")},
       |${docTokens("qtok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM qtok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Ranked,
       |bm AS (SELECT 'bm25' AS surface, query_id AS qid, id
       |       FROM r WHERE rn <= 5),
       |nd AS (SELECT doc_id AS qid, substring(text, 8, 20) AS needle
       |       FROM documents WHERE doc_id < 4),
       |lt AS (SELECT 'literal' AS surface, n.qid, d.doc_id AS id
       |       FROM corpus d CROSS JOIN nd n
       |       WHERE length(n.needle) >= 4 AND contains(d.text, n.needle)),
       |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 3),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |       WHERE vec_id % 7 <> 3),
       |p AS (SELECT qid, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM qs, ev WHERE vec_id <> qid),
       |iv AS (SELECT 'ivf' AS surface, qid, vec_id AS id
       |       FROM (SELECT qid, vec_id,
       |               row_number() OVER (PARTITION BY qid
       |                 ORDER BY cos DESC, vec_id) AS rank
       |             FROM p)
       |       WHERE rank <= 5),
       |bh AS (SELECT qs.qid, ev.vec_id,
       |         list_sum(list_transform(range(1, len(ev.ev) + 1),
       |           i -> CASE WHEN (qs.qv[i] > 0) <> (ev.ev[i] > 0)
       |                THEN 1 ELSE 0 END)) AS ham
       |       FROM qs, ev WHERE ev.vec_id <> qs.qid),
       |bcand AS (SELECT qid, vec_id FROM (
       |            SELECT qid, vec_id,
       |              row_number() OVER (PARTITION BY qid
       |                ORDER BY ham, vec_id) AS rn
       |            FROM bh)
       |          WHERE rn <= greatest(200,
       |            (SELECT count(*) FROM ev) // 5)),
       |bn AS (SELECT 'binary' AS surface, qid, vec_id AS id FROM (
       |         SELECT p.qid, p.vec_id,
       |           row_number() OVER (PARTITION BY p.qid
       |             ORDER BY p.cos DESC, p.vec_id) AS rank
       |         FROM p JOIN bcand c
       |           ON c.qid = p.qid AND c.vec_id = p.vec_id)
       |       WHERE rank <= 5)
       |SELECT surface, qid, id FROM bm
       |UNION ALL SELECT surface, qid, id FROM lt
       |UNION ALL SELECT surface, qid, id FROM iv
       |UNION ALL SELECT surface, qid, id FROM bn
       |ORDER BY surface, qid, id""".stripMargin

  /** Hybrid retrieval ([[graft.ext.HybridSearch.rrf]]): BM25 top-20 and
    * dense cosine top-20 (vec_id ≡ doc_id — the embeddings table is the
    * documents' vector column split out) fuse by reciprocal-rank into a
    * final top-5 per query. Rank-only fusion needs no score
    * calibration; the oracle rebuilds BOTH retrievers' rankings and the
    * fusion relationally, so the fused scores are value-checked end to
    * end.
    */
  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    // composition gate: read-only load of the shared base build
    val ix = graft.ext.TextSearch.load(s, sharedBm25Index(s, d))
    val sparse = graft.ext.TextSearch.search(ix, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 20)
      .select(col("query_id"), col("id"), col("rn").as("rank"))
    val dense = EmbeddingSearch.bruteForceTopK(Tables.embeddings(s, d),
        col("vec_id") < 8, k = 20)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
    graft.ext.HybridSearch.rrf(Seq(sparse, dense), k = 5)
      .orderBy("query_id", "rn")
  }

  private val hybridWeightedSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |qs AS (SELECT id AS query_id,
       |         unnest(list_distinct(toks[1:8])) AS term
       |       FROM tok WHERE id < 8),
       |sc AS (SELECT qs.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM qs JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |sp AS (SELECT query_id, id, round(score_raw, 6) AS score,
       |         ${rankBy("round(score_raw, 6) DESC, id")} AS rank
       |       FROM sc),
       |sp20 AS (SELECT query_id, id, score,
       |           min(score) OVER (PARTITION BY query_id) AS mn,
       |           max(score) OVER (PARTITION BY query_id) AS mx
       |         FROM sp WHERE rank <= 20),
       |spn AS (SELECT query_id, id,
       |          CASE WHEN mx = mn THEN 1.0
       |               ELSE (score - mn) / (mx - mn) END AS ns
       |        FROM sp20),
       |qd AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < 8),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |        ${cosine("qv", "ev")} AS cos
       |      FROM qd, e WHERE vec_id <> query_id),
       |dr AS (SELECT query_id, vec_id AS id, round(cos, 6) AS score,
       |         ${rankBy("cos DESC, vec_id")} AS rank
       |       FROM p),
       |dn20 AS (SELECT query_id, id, score,
       |           min(score) OVER (PARTITION BY query_id) AS mn,
       |           max(score) OVER (PARTITION BY query_id) AS mx
       |         FROM dr WHERE rank <= 20),
       |dnn AS (SELECT query_id, id,
       |          CASE WHEN mx = mn THEN 1.0
       |               ELSE (score - mn) / (mx - mn) END AS ns
       |        FROM dn20),
       |fused AS (SELECT query_id, id, round(sum(c), 6) AS fused,
       |            count(*) AS n_lists
       |          FROM (SELECT query_id, id, 0.7 * ns AS c FROM spn
       |                UNION ALL
       |                SELECT query_id, id, 0.3 * ns FROM dnn)
       |          GROUP BY 1, 2),
       |r AS (SELECT query_id, id, n_lists, fused,
       |        CAST(${rankBy("fused DESC, id")} AS INTEGER) AS rn
       |      FROM fused)
       |SELECT query_id, rn, id, n_lists, fused
       |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** Score-calibrated hybrid fusion ([[graft.ext.HybridSearch.weighted]]):
    * the same sparse top-20 (BM25) and dense top-20 (exact cosine) lists
    * as q_hybrid_rrf, fused by weighted min-max-normalized scores
    * (0.7 sparse / 0.3 dense) instead of ranks — the oracle recomputes
    * both retrievers, the per-(query, list) normalization, and the
    * convex sum relationally, so the gap-preserving calibration itself
    * is value-checked, not just the final ordering.
    */
  private def hybridWeighted(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ext.TextSearch.load(s, sharedBm25Index(s, d))
    val sparse = graft.ext.TextSearch.search(ix, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 20)
      .select(col("query_id"), col("id"), col("score"))
    val dense = EmbeddingSearch.bruteForceTopK(Tables.embeddings(s, d),
        col("vec_id") < 8, k = 20)
      .select(col("query_id"), col("neighbor_id").as("id"),
        col("cos").as("score"))
    graft.ext.HybridSearch.weighted(Seq(sparse, dense),
        Seq(0.7, 0.3), k = 5)
      .orderBy("query_id", "rn")
  }

  /** MMR diversification ([[graft.ext.HybridSearch.mmr]]): the dense
    * top-20 (exact cosine, self excluded) re-ranks under
    * `0.7·rel − 0.3·max-sim-to-picked` for 5 greedy steps. The oracle
    * unrolls every step relationally — step 1's max-rel election, each
    * later step's anti-join against the picked set, the max-similarity
    * aggregate over raw cosines, and the argmax window with id
    * tie-break — so the whole greedy selection is value-checked, the
    * Viterbi/beam-walk unroll discipline applied to diversification.
    * Two cross-engine traps are part of what this gate pins: (a) the
    * oracle's constants are cast `::DOUBLE` — DuckDB parses `0.7` as
    * DECIMAL, so `(1 - 0.7)` would be EXACTLY 0.3 where Spark computes
    * the IEEE double 0.30000000000000004; (b) relevance enters RAW
    * (not pre-rounded) — a 6-decimal rel times 0.7 lands exactly on
    * 7th-decimal HALVES (probability ~1/10 per row, structural), where
    * Spark's decimal-string HALF_UP and DuckDB's binary-double rounding
    * disagree; raw doubles keep the rounded outputs off the half grid
    * (both caught at sf0.01).
    */
  private def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val e = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", EmbeddingSearch.dot(col("v"), col("v")))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val cand = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        EmbeddingSearch.dot(col("qv"), col("v"))
          / sqrt(col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("vec_id").as("id"),
        col("cos").as("rel"))
    graft.ext.HybridSearch.mmr(cand, embs, k = 5, lambda = 0.7)
      .orderBy("query_id", "step")
  }

  private val mmrRerankSql = {
    def step(prev: Int, cur: Int): String =
      s"""ms$cur AS (SELECT r.query_id, r.id, max(r.rel) AS rel,
         |  max(${cosine("r.v", "sv.v")}) AS msim
         |  FROM cv r JOIN (SELECT c.query_id, c.id, v.v
         |                  FROM c$prev c JOIN e v ON v.vec_id = c.id) sv
         |    ON sv.query_id = r.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM c$prev x
         |    WHERE x.query_id = r.query_id AND x.id = r.id)
         |  GROUP BY 1, 2),
         |sel$cur AS (SELECT query_id, id, score, $cur AS step FROM (
         |  SELECT query_id, id, 0.7::DOUBLE * rel - (1 - 0.7::DOUBLE) * msim AS score,
         |    ${rankBy("0.7::DOUBLE * rel - (1 - 0.7::DOUBLE) * msim DESC, id")} AS rn
         |  FROM ms$cur) WHERE rn = 1),
         |c$cur AS (SELECT * FROM c$prev UNION ALL
         |          SELECT * FROM sel$cur)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |qd AS (SELECT vec_id AS query_id, v AS qv FROM e
       |       WHERE vec_id < 8),
       |p AS (SELECT query_id, vec_id,
       |        ${cosine("qv", "v")} AS cos
       |      FROM qd JOIN e ON vec_id <> query_id),
       |cand AS (SELECT query_id, vec_id AS id, cos AS rel
       |  FROM (SELECT *, ${rankBy("cos DESC, vec_id")} AS rank FROM p)
       |  WHERE rank <= 20),
       |cv AS MATERIALIZED (SELECT c.query_id, c.id, c.rel, e.v
       |  FROM cand c JOIN e ON e.vec_id = c.id),
       |sel1 AS (SELECT query_id, id, score, 1 AS step FROM (
       |  SELECT query_id, id, 0.7::DOUBLE * rel AS score,
       |    ${rankBy("0.7::DOUBLE * rel DESC, id")} AS rn
       |  FROM cv) WHERE rn = 1),
       |c1 AS (SELECT * FROM sel1),
       |${step(1, 2)},
       |${step(2, 3)},
       |${step(3, 4)},
       |${step(4, 5)}
       |SELECT query_id, CAST(step AS INTEGER) AS step, id,
       |       round(score, 6) AS mmr
       |FROM c5 ORDER BY query_id, step""".stripMargin
  }

  /** Group-capped MMR ([[graft.ext.HybridSearch.mmrCapped]]): the
    * q_mmr_rerank fixture diversified under a per-group cap of 1 —
    * each embedding's label is its group (source domain / dedup
    * cluster stand-in), so no two picks per query may share a label.
    * The oracle unrolls every greedy step like q_mmr_rerank's and adds
    * the cap predicate to each election (a candidate whose group
    * already holds a pick is excluded via NOT EXISTS over the picked
    * set) — the per-source-cap RAG-assembly discipline value-checked
    * step by step. Same cross-engine traps pinned (::DOUBLE constants,
    * raw rel into the arithmetic, rounding only at output).
    */
  private def mmrCapped(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val e = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", EmbeddingSearch.dot(col("v"), col("v")))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val cand = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        EmbeddingSearch.dot(col("qv"), col("v"))
          / sqrt(col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("vec_id").as("id"),
        col("cos").as("rel"))
    val groups = embs.select(col("vec_id").as("id"),
      col("label").as("grp"))
    graft.ext.HybridSearch.mmrCapped(cand, embs, groups, k = 5,
        lambda = 0.7, cap = 1)
      .orderBy("query_id", "step")
  }

  private val mmrCappedSql = {
    def step(prev: Int, cur: Int): String =
      s"""ms$cur AS (SELECT r.query_id, r.id, r.grp, max(r.rel) AS rel,
         |  max(${cosine("r.v", "sv.v")}) AS msim
         |  FROM cvg r JOIN (SELECT c.query_id, c.id, v.v
         |                  FROM c$prev c JOIN e v ON v.vec_id = c.id) sv
         |    ON sv.query_id = r.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM c$prev x
         |    WHERE x.query_id = r.query_id AND x.id = r.id)
         |    AND NOT EXISTS (SELECT 1 FROM c$prev x2
         |    WHERE x2.query_id = r.query_id AND x2.grp = r.grp)
         |  GROUP BY 1, 2, 3),
         |sel$cur AS (SELECT query_id, id, grp, score, $cur AS step FROM (
         |  SELECT query_id, id, grp,
         |    0.7::DOUBLE * rel - (1 - 0.7::DOUBLE) * msim AS score,
         |    ${rankBy("0.7::DOUBLE * rel - (1 - 0.7::DOUBLE) * msim DESC, id")} AS rn
         |  FROM ms$cur) WHERE rn = 1),
         |c$cur AS (SELECT * FROM c$prev UNION ALL
         |          SELECT * FROM sel$cur)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |qd AS (SELECT vec_id AS query_id, v AS qv FROM e
       |       WHERE vec_id < 8),
       |p AS (SELECT query_id, vec_id,
       |        ${cosine("qv", "v")} AS cos
       |      FROM qd JOIN e ON vec_id <> query_id),
       |cand AS (SELECT query_id, vec_id AS id, cos AS rel
       |  FROM (SELECT *, ${rankBy("cos DESC, vec_id")} AS rank FROM p)
       |  WHERE rank <= 20),
       |cvg AS MATERIALIZED (SELECT c.query_id, c.id, c.rel, e.v, g.grp
       |  FROM cand c JOIN e ON e.vec_id = c.id
       |  JOIN (SELECT vec_id AS gid, label AS grp FROM embeddings) g
       |    ON g.gid = c.id),
       |sel1 AS (SELECT query_id, id, grp, score, 1 AS step FROM (
       |  SELECT query_id, id, grp, 0.7::DOUBLE * rel AS score,
       |    ${rankBy("0.7::DOUBLE * rel DESC, id")} AS rn
       |  FROM cvg) WHERE rn = 1),
       |c1 AS (SELECT * FROM sel1),
       |${step(1, 2)},
       |${step(2, 3)},
       |${step(3, 4)},
       |${step(4, 5)}
       |SELECT query_id, CAST(step AS INTEGER) AS step, id, grp,
       |       round(score, 6) AS mmr
       |FROM c5 ORDER BY query_id, step""".stripMargin
  }

  private val hybridRrfSql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |qs AS (SELECT id AS query_id,
       |         unnest(list_distinct(toks[1:8])) AS term
       |       FROM tok WHERE id < 8),
       |sc AS (SELECT qs.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw
       |       FROM qs JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |sp AS (SELECT query_id, id,
       |         ${rankBy("round(score_raw, 6) DESC, id")} AS rank
       |       FROM sc),
       |qd AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < 8),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |        ${cosine("qv", "ev")} AS cos
       |      FROM qd, e WHERE vec_id <> query_id),
       |dn AS (SELECT query_id, vec_id AS id,
       |         ${rankBy("cos DESC, vec_id")} AS rank
       |       FROM p),
       |fused AS (SELECT query_id, id,
       |            round(sum(1.0 / (60 + rank)), 6) AS rrf,
       |            count(*) AS n_lists
       |          FROM (SELECT query_id, id, rank FROM sp WHERE rank <= 20
       |                UNION ALL
       |                SELECT query_id, id, rank FROM dn WHERE rank <= 20)
       |          GROUP BY 1, 2),
       |r AS (SELECT query_id, id, n_lists, rrf,
       |        CAST(${rankBy("rrf DESC, id")} AS INTEGER) AS rn
       |      FROM fused)
       |SELECT query_id, rn, id, n_lists, rrf
       |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** Streaming index maintenance: the delivery STREAMS in and each
    * micro-batch is admitted with [[graft.ext.TextSearch.appendDocs]]
    * (same foreachBatch × batch-operator composition as
    * [[streamDedupIndex]]). Because the lexicon/stats are append-only
    * summable partials, the final index is batch-boundary-INVARIANT —
    * the post-drain search shares the union-corpus oracle with the
    * single-batch append gate verbatim.
    */
  private def bm25Stream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val delta = docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000).as("id"),
        concat(col("text"), lit(" extra retrieval tail")).as("t"))
    // appends per micro-batch → private copy of the shared base build
    val dir = graft.Gate.copyDir(sharedBm25Index(s, d), "gate_bm25_str_")
    val in = graft.Gate.tmpDir("gate_bm25_in_")
    val ckpt = graft.Gate.tmpDir("gate_bm25_ck_")
    // two delivery files → two micro-batches (maxFilesPerTrigger=1)
    delta.filter(col("id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    delta.filter(col("id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "id LONG, t STRING", in, ckpt) { (batch, _) =>
      graft.ext.TextSearch.appendDocs(s, dir, batch, col("id"), col("t"))
    }
    graft.ext.TextSearch.searchSaved(s, dir, bm25Queries(s, d),
        col("qid"), col("qterms"), k = 5)
      .orderBy("query_id", "rn")
  }

  private val bm25Sql =
    s"""WITH ${docTokens("tok", "documents")},
       |$bm25Stats,
       |q AS (SELECT id AS query_id,
       |        unnest(list_distinct(toks[1:8])) AS term
       |      FROM tok WHERE id < 8),
       |sc AS (SELECT q.query_id, tf.id,
       |         sum($bm25Weight) AS score_raw,
       |         count(*) AS matched
       |       FROM q JOIN tf USING (term) JOIN lex USING (term)
       |       JOIN dl ON dl.id = tf.id, st
       |       GROUP BY 1, 2),
       |$bm25Top5""".stripMargin

  // ---- unigram LM scoring --------------------------------------------------
  /** Per-doc mean log-probability under the corpus unigram model; rounded
    * to 6 decimals (the double-sum across engines agrees far below that).
    */
  private def docLogProb(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLogProbs(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"),
        round(col("mean_logprob"), 6).as("mean_logprob"))
      .orderBy("doc_id")

  private val docLogProbSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(${tokenize("text")})
       |           AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tc)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       round(sum(tf * ln(CAST(cnt AS DOUBLE) / total)) / sum(tf), 6)
       |         AS mean_logprob
       |FROM tf JOIN tc USING (term), tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Interpolated trigram LM ([[TextAnalysis.trigramLogProbs]],
    * Jelinek–Mercer λ = 0.6/0.3/0.1): per-doc mean token log-prob under
    * the mixed trigram/bigram/unigram model — the KenLM-lite fluency
    * filter. The oracle rebuilds all three count tables and the exact
    * interpolation arithmetic.
    */
  private def trigramLogProb(s: SparkSession, d: String): DataFrame =
    TextAnalysis.trigramLogProbs(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_trigrams"),
        round(col("mean_logprob"), 6).as("mean_logprob"))
      .orderBy("doc_id")

  private val trigramLogProbSql =
    s"""WITH tok AS (SELECT doc_id AS id,
       |    ${tokenize("text")} AS ts
       |  FROM documents),
       |tg AS (SELECT id, unnest(list_transform(range(len(ts) - 2),
       |         i -> struct_pack(u := ts[i+1], v := ts[i+2],
       |                          w := ts[i+3]))) AS g
       |       FROM tok WHERE len(ts) >= 3),
       |nf AS (SELECT id, g.u AS u, g.v AS v, g.w AS w, count(*) AS n
       |       FROM tg GROUP BY 1, 2, 3, 4),
       |tc AS (SELECT u, v, w, CAST(sum(n) AS BIGINT) AS t3
       |       FROM nf GROUP BY 1, 2, 3),
       |bg AS (SELECT unnest(list_transform(range(len(ts) - 1),
       |         i -> struct_pack(p := ts[i+1], c := ts[i+2]))) AS b
       |       FROM tok WHERE len(ts) >= 2),
       |bc AS (SELECT b.p AS p, b.c AS c, count(*) AS b2 FROM bg
       |       GROUP BY 1, 2),
       |u1 AS (SELECT term, count(*) AS c1
       |       FROM (SELECT unnest(ts) AS term FROM tok) GROUP BY 1),
       |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM u1)
       |SELECT nf.id AS doc_id, CAST(sum(nf.n) AS BIGINT) AS n_trigrams,
       |       round(sum(nf.n * ln(
       |           0.6 * CAST(tc.t3 AS DOUBLE) / cx.b2
       |         + 0.3 * CAST(bw.b2 AS DOUBLE) / uv.c1
       |         + 0.1 * CAST(uw.c1 AS DOUBLE) / tt.total)) / sum(nf.n), 6)
       |         AS mean_logprob
       |FROM nf JOIN tc USING (u, v, w)
       |JOIN bc cx ON cx.p = nf.u AND cx.c = nf.v
       |JOIN bc bw ON bw.p = nf.v AND bw.c = nf.w
       |JOIN u1 uv ON uv.term = nf.v
       |JOIN u1 uw ON uw.term = nf.w, tt
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Character-entropy quality signal ([[graft.ext.TextAnalysis
    * .charEntropy]]): bits/char per document — the filter that catches
    * repeated-character spam (low) and base64/binary junk (high) that
    * token-level signals miss. One explode + two hash reductions; the
    * oracle recomputes the per-(doc, char) counts and the
    * `log₂(len) − Σ n·log₂ n / len` spelling exactly.
    */
  private def charEntropyGate(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.charEntropy(Tables.documents(s, d),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_chars"),
        round(col("entropy"), 6).as("entropy"))
      .orderBy("doc_id")

  private val charEntropySql =
    """WITH ch AS (SELECT doc_id,
      |              unnest(regexp_split_to_array(text, '')) AS c
      |            FROM documents),
      |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
      |       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Content-defined chunking ([[graft.ext.TextAnalysis.cdcChunks]]):
    * every document sliced at content-local Rabin-style boundaries
    * (w=8 grams, mod-16 cut → ~16-char expected chunks). The full
    * chunk relation — boundaries, lengths, AND 48-bit chunk hashes —
    * is value-checked against the oracle's windowed re-derivation, so
    * the cut rule, the interval fold, and the partition-exactness all
    * verify, not just counts.
    */
  private def cdcChunksGate(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.cdcChunks(Tables.documents(s, d),
        col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_idx")

  private val cdcChunksSql =
    """WITH d AS (SELECT doc_id AS id, text, length(text) AS len
      |           FROM documents),
      |g AS (SELECT id, i,
      |        ('0x' || substr(md5(substring(text, i, 8)), 1, 12))::BIGINT
      |          % 16 AS h
      |      FROM (SELECT id, text, len,
      |              unnest(range(1, len - 8 + 2)) AS i
      |            FROM d WHERE len >= 8)),
      |cuts AS (SELECT g.id, i + 7 AS cut
      |         FROM g JOIN d USING (id)
      |         WHERE h = 0 AND i + 7 < d.len),
      |ends AS (SELECT id, cut AS e FROM cuts
      |         UNION ALL SELECT id, len FROM d),
      |ord AS (SELECT id, e,
      |          row_number() OVER (PARTITION BY id ORDER BY e) AS rk,
      |          lag(e) OVER (PARTITION BY id ORDER BY e) AS preve
      |        FROM ends),
      |ch AS (SELECT id, CAST(rk - 1 AS INT) AS chunk_idx,
      |         CAST(coalesce(preve + 1, 1) AS INT) AS start,
      |         CAST(e - coalesce(preve, 0) AS INT) AS chunk_len
      |       FROM ord)
      |SELECT ch.id AS doc_id, chunk_idx, start, chunk_len,
      |       ('0x' || substr(md5(substring(d.text, start, chunk_len)),
      |          1, 12))::BIGINT AS chunk_hash
      |FROM ch JOIN d USING (id) WHERE chunk_len > 0
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Chunk-level near-dup detection ([[graft.ext.TextAnalysis
    * .cdcDupPairs]]): the corpus plus a PREFIX-EDITED copy of every 9th
    * document — the shifted-near-copy case fixed-stride slicing
    * misses; each (original, copy) pair must surface with high
    * chunk-set overlap because content-defined boundaries re-align
    * right after the edit. The oracle re-derives chunking, the df cap,
    * the pair join, and the overlap scores relationally.
    */
  private def cdcDupPairsGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id").as("id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 500000).as("id"),
          concat(lit("EDITED PREFIX "), col("text")).as("text")))
    graft.ext.TextAnalysis.cdcDupPairs(corpus, col("id"), col("text"))
      .orderBy("id_a", "id_b")
  }

  private val cdcDupPairsSql =
    """WITH corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 500000, 'EDITED PREFIX ' || text
      |  FROM documents WHERE doc_id % 9 = 0),
      |d AS (SELECT id, text, length(text) AS len FROM corpus),
      |g AS (SELECT id, i,
      |        ('0x' || substr(md5(substring(text, i, 8)), 1, 12))::BIGINT
      |          % 16 AS h
      |      FROM (SELECT id, text, len,
      |              unnest(range(1, len - 8 + 2)) AS i
      |            FROM d WHERE len >= 8)),
      |cuts AS (SELECT g.id, i + 7 AS cut
      |         FROM g JOIN d USING (id)
      |         WHERE h = 0 AND i + 7 < d.len),
      |ends AS (SELECT id, cut AS e FROM cuts
      |         UNION ALL SELECT id, len FROM d),
      |ord AS (SELECT id, e,
      |          lag(e) OVER (PARTITION BY id ORDER BY e) AS preve
      |        FROM ends),
      |ch AS (SELECT o.id,
      |         ('0x' || substr(md5(substring(d.text,
      |            CAST(coalesce(preve + 1, 1) AS INT),
      |            CAST(e - coalesce(preve, 0) AS INT))), 1, 12))::BIGINT
      |           AS chunk_hash
      |       FROM ord o JOIN d USING (id)
      |       WHERE e - coalesce(preve, 0) > 0),
      |u AS (SELECT DISTINCT id, chunk_hash FROM ch),
      |dfc AS (SELECT chunk_hash, count(*) AS df FROM u GROUP BY 1),
      |uk AS (SELECT u.id, u.chunk_hash
      |       FROM u JOIN dfc USING (chunk_hash) WHERE df <= 64),
      |n AS (SELECT id, count(*) AS nch FROM uk GROUP BY 1),
      |p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
      |      FROM uk a JOIN uk b
      |        ON a.chunk_hash = b.chunk_hash AND a.id < b.id
      |      GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |       round(CAST(shared AS DOUBLE) / least(na.nch, nb.nch), 6)
      |         AS overlap
      |FROM p JOIN n na ON na.id = p.id_a JOIN n nb ON nb.id = p.id_b
      |WHERE shared >= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Bigram-LM quality scoring ([[graft.ext.TextAnalysis
    * .bigramLogProbs]]): mean add-½-smoothed bigram log-probability per
    * document under the corpus transition counts — the
    * transitions-not-tokens quality filter (scrambled boilerplate
    * scores low here while passing the unigram filter). The oracle
    * re-derives bigrams, both count relations, the vocabulary, and the
    * smoothed mean relationally.
    */
  private def bigramLogProb(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.bigramLogProbs(Tables.documents(s, d),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("mean_logprob"), 6).as("mean_logprob"))
      .orderBy("doc_id")

  private val bigramLogProbSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         ${tokenize("text")} AS tk
       |  FROM documents),
       |bg AS (SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
       |       FROM (SELECT doc_id, tk,
       |               unnest(range(1, len(tk))) AS i
       |             FROM toks)),
       |bf AS (SELECT doc_id, prev, cur, count(*) AS n
       |       FROM bg GROUP BY 1, 2, 3),
       |bc AS (SELECT prev, cur, CAST(sum(n) AS BIGINT) AS bcnt
       |       FROM bf GROUP BY 1, 2),
       |cc AS (SELECT prev, CAST(sum(bcnt) AS BIGINT) AS ccnt
       |       FROM bc GROUP BY 1),
       |v AS (SELECT count(DISTINCT term) AS vocab
       |      FROM (SELECT unnest(tk) AS term FROM toks))
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |       round(sum(n * ln((bcnt + 0.5) / (ccnt + 0.5 * vocab)))
       |             / sum(n), 6) AS mean_logprob
       |FROM bf JOIN bc USING (prev, cur) JOIN cc USING (prev), v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- token-bounded chunking ---------------------------------------------
  /** [[TextAnalysis.chunk]]: 64-token windows with 16-token overlap
    * (stride 48) over the documents table — the context-window prep step
    * for training/retrieval. Pure per-row array arithmetic, no shuffle;
    * the oracle re-derives every chunk with DuckDB list slicing, so
    * boundaries, overlap, and the short-doc single-chunk case are all
    * value-checked.
    */
  private def chunkDocs(s: SparkSession, d: String): DataFrame =
    graft.ext.TextAnalysis.chunk(
      Tables.documents(s, d).select("doc_id", "text"), col("text"),
      maxTokens = 64, overlap = 16)
      .select("doc_id", "chunk_id", "chunk_tokens", "chunk_text")
      .orderBy("doc_id", "chunk_id")

  private val chunkDocsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |         string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |c AS (SELECT doc_id, toks,
      |             greatest(CAST(ceil((n - 16) / 48.0) AS INT), 1)
      |               AS n_chunks
      |      FROM n),
      |g AS (SELECT doc_id, toks,
      |             unnest(generate_series(0, n_chunks - 1)) AS chunk_id
      |      FROM c),
      |s AS (SELECT doc_id, chunk_id,
      |             toks[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS chunk
      |      FROM g)
      |SELECT doc_id, chunk_id, len(chunk) AS chunk_tokens,
      |       array_to_string(chunk, ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ---- asymmetric containment ---------------------------------------------
  /** [[Dedup.containmentPairs]] over documents plus planted "quote
    * pages" (every 20th document concatenated with its successor at id +
    * 200000): the embedded originals score containment ≈ 1 in the page
    * while symmetric Jaccard sits near |A|/(|A|+|B|) — the
    * quoted-article case Jaccard-threshold dedup structurally misses.
    * Exact directed computation, mirrored shingle-for-shingle in the
    * oracle.
    */
  private def containment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pages = docs.as("a")
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(col("a.doc_id") % 20 === 0)
      .select((col("a.doc_id") + 200000).as("id"),
        concat(lower(trim(col("a.text"))), lit(" "),
          lower(trim(col("b.text")))).as("t"))
    val corpus = docs
      .select(col("doc_id").as("id"), lower(trim(col("text"))).as("t"))
      .unionAll(pages)
    Dedup.containmentPairs(corpus, col("id"), col("t"),
      n = 3, threshold = 0.8, maxDF = 20)
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("id_a", "id_b")
  }

  private val containmentSql =
    """WITH base AS (
      |  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents),
      |pages AS (
      |  SELECT a.id + 200000 AS id, a.t || ' ' || b.t AS t
      |  FROM base a JOIN base b ON b.id = a.id + 1
      |  WHERE a.id % 20 = 0),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pages),
      |tok AS (SELECT id, regexp_split_to_array(t, '\s+') AS toks
      |        FROM corpus),
      |sh0 AS (SELECT id,
      |          CASE WHEN len(toks) >= 3
      |            THEN list_transform(range(len(toks) - 2),
      |                   i -> array_to_string(toks[i+1:i+3], ' '))
      |            ELSE [array_to_string(toks, ' ')] END AS shs
      |        FROM tok),
      |sh AS (SELECT id, unnest(list_distinct(shs)) AS sh FROM sh0),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id
      |          HAVING count(*) >= 5),
      |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq USING (sh)
      |         WHERE df <= 20),
      |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      |           FROM rare a JOIN rare b
      |             ON a.sh = b.sh AND a.id <> b.id
      |           GROUP BY 1, 2)
      |SELECT common.id_a, common.id_b, common.common,
      |       sa.n_sh AS n_a,
      |       round(CAST(common.common AS DOUBLE) / sa.n_sh, 6)
      |         AS containment
      |FROM common
      |JOIN sizes sa ON sa.id = common.id_a
      |JOIN sizes sb ON sb.id = common.id_b
      |WHERE CAST(common.common AS DOUBLE) / sa.n_sh >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ---- cluster keeper selection -------------------------------------------
  /** The dedup DECISION end-to-end: near-dup pairs (MinHash-LSH, exact-
    * verified) → connected components → per-cluster keeper chosen by a
    * QUALITY policy (longest text, ties to the smallest id) instead of
    * min-id — "keep the most complete copy", the policy real pipelines
    * want. The argmax is a one-pass `max_by` on an exact integer
    * composite (len ⊕ id), no window; the oracle recomputes components
    * with a recursive CTE and the keeper with `arg_max`.
    */
  private def clusterKeepers(s: SparkSession, d: String): DataFrame = {
    val corpus = dupCorpus(s, d).persist()
    val pairs = Dedup.minhashDedup(corpus, col("id"), col("t"),
      n = 3, threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b")
    // star contraction, not label propagation: same min-label components
    // (pinned by DedupSpec/StarClusterProperties), O(log n) rounds — the
    // chain-length-proportional propagation was this gate's cost center
    val clusters = Dedup.dupClustersStar(corpus.select("id"), pairs,
      parallelism = Some(8))
    clusters.join(corpus, "id")
      .withColumn("len", length(col("t")).cast("long"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("id"), col("len") * 10000000L - col("id"))
          .as("keeper_id"),
        max("len").as("keeper_len"))
      .orderBy("cluster")
  }

  private val clusterKeepersSql =
    s"""${truePairsCte.replace("WITH corpus", "WITH RECURSIVE corpus")},
       |verified AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS (SELECT id_a AS s, id_b AS t FROM verified
       |          UNION ALL SELECT id_b, id_a FROM verified),
       |reach AS (
       |  SELECT id, id AS r FROM corpus
       |  UNION
       |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id),
       |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |lens AS (SELECT id, CAST(length(t) AS BIGINT) AS len FROM corpus)
       |SELECT cluster, count(*) AS n_members,
       |       arg_max(id, len * 10000000 - id) AS keeper_id,
       |       max(len) AS keeper_len
       |FROM lab JOIN lens USING (id)
       |GROUP BY cluster ORDER BY cluster""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("q_chunk_docs", chunkDocs, Some(chunkDocsSql)),
    Gate("q_cluster_keepers", clusterKeepers, Some(clusterKeepersSql)),
    Gate("q_containment", containment, Some(containmentSql)),
    Gate("q_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Gate("q_bpe_train", bpeTrainGate, Some(bpeTrainSql)),
    Gate("q_bpe_apply", bpeApplyGate, Some(bpeApplySql)),
    Gate("q_bpe_large", bpeLarge, Some(bpeLargeSql)),
    Gate("q_nb_classify", nbLangGate, Some(nbLangSql)),
    Gate("q_nb_incremental", nbIncremental, Some(nbLangSql)),
    Gate("q_stream_nb", streamNb, Some(nbLangSql)),
    Gate("q_tfidf", tfidfTop, Some(tfidfTopSql)),
    Gate("q_bm25_topk", bm25TopK, Some(bm25Sql)),
    Gate("q_search_federate", searchFederate, Some(searchFederateSql)),
    Gate("q_bm25_persist", bm25Persist, Some(bm25Sql)),
    Gate("q_bm25_append", bm25Append, Some(bm25AppendSql)),
    Gate("q_bm25_timetravel", bm25TimeTravel, Some(bm25Sql)),
    Gate("q_bm25_rm3", bm25Rm3, Some(bm25Rm3Sql)),
    Gate("q_bm25_boost", bm25Boost, Some(bm25BoostSql)),
    Gate("q_bm25_rm3w", bm25Rm3W, Some(bm25Rm3WSql)),
    Gate("q_bm25_stream", bm25Stream, Some(bm25AppendSql)),
    Gate("q_bm25_capped", bm25Capped, Some(bm25CappedSql)),
    Gate("q_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Gate("q_hybrid_weighted", hybridWeighted, Some(hybridWeightedSql)),
    Gate("q_mmr_rerank", mmrRerank, Some(mmrRerankSql)),
    Gate("q_mmr_capped", mmrCapped, Some(mmrCappedSql)),
    Gate("q_phrase_search", phraseSearch, Some(phraseSearchSql)),
    Gate("q_phrase_persist", phrasePersist, Some(phraseSearchSql)),
    Gate("q_proximity", proximity, Some(proximitySql)),
    Gate("q_bm25_delete", bm25Delete, Some(bm25DeleteSql)),
    Gate("q_stream_delete", streamBm25Delete, Some(bm25DeleteSql)),
    Gate("q_literal_search", literalSearchGate, Some(literalSearchSql)),
    Gate("q_literal_persist", literalPersistGate, Some(literalPersistSql)),
    Gate("q_literal_common", literalCommonGate, Some(literalCommonSql)),
    Gate("q_takedown", takedownGate, Some(takedownSql)),
    Gate("q_takedown_store", takedownStore, Some(takedownStoreSql)),
    Gate("q_store_skip", storeSkip, Some(storeSkipSql)),
    Gate("q_store_evolve", storeEvolve, Some(storeEvolveSql)),
    Gate("q_store_cdc", storeCdc, Some(storeCdcSql)),
    Gate("q_cdc_maintain", cdcMaintain, Some(bm25DeleteSql)),
    Gate("q_ingest_probe", ingestProbe, Some(ingestProbeSql)),
    Gate("q_ingest_all", ingestAll, Some(ingestAllSql)),
    Gate("q_pinned_read", pinnedRead, Some(pinnedReadSql)),
    Gate("q_store_clone", storeClone, Some(storeCloneSql)),
    Gate("q_selection_replay", selectionReplay, Some(selectionReplaySql)),
    Gate("q_stream_ingest_all", streamIngestAll, Some(streamIngestAllSql)),
    Gate("q_bm25_readd", bm25Readd, Some(bm25ReaddSql)),
    Gate("q_stream_takedown", streamTakedown, Some(streamTakedownSql)),
    Gate("q_dup_pagerank", dupPageRank, Some(dupPageRankSql)),
    Gate("q_doc_logprob", docLogProb, Some(docLogProbSql)),
    Gate("q_char_entropy", charEntropyGate, Some(charEntropySql)),
    Gate("q_cdc_chunks", cdcChunksGate, Some(cdcChunksSql)),
    Gate("q_cdc_dup", cdcDupPairsGate, Some(cdcDupPairsSql)),
    Gate("q_bigram_logprob", bigramLogProb, Some(bigramLogProbSql)),
    Gate("q_trigram_logprob", trigramLogProb, Some(trigramLogProbSql)),
    Gate("q_winnow_fp", winnowing, Some(winnowingSql)),
    Gate("q_winnow_overlap", winnowOverlap, Some(winnowOverlapSql)),
    Gate("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    Gate("q_token_stats", tokenStats, Some(tokenStatsSql)),
    Gate("q_fingerprint", fingerprint, Some(fingerprintSql)),
    Gate("q_quality_score", qualityScore, Some(qualityScoreSql)),
    Gate("q_domain_filter", domainFilterGate, Some(domainFilterSql)),
    Gate("q_text_normalize", textNormalize, Some(textNormalizeSql)),
    Gate("q_lang_id", langId, Some(langIdSql)),
    Gate("q_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    Gate("q_simjoin_prefix", simjoinPrefix, Some(simjoinPrefixSql)),
    Gate("q_sorted_neighbors", sortedNeighbors, Some(sortedNeighborsSql)),
    Gate("q_minhash_dedup", minhashDedup, Some(verifiedPairsSql)),
    Gate("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Gate("q_dedup_delete", dedupDelete, Some(dedupDeleteSql)),
    Gate("q_dedup_drift", dedupDrift, Some(dedupDriftSql)),
    Gate("q_repeated_spans", repeatedSpans, Some(repeatedSpansSql)),
    Gate("q_scrub_spans", scrubSpans, Some(scrubSpansSql)),
    Gate("q_dedup_compact", dedupCompact, Some(dedupIncrementalSql)),
    Gate("q_stream_dedup_index", streamDedupIndex, Some(streamDedupIndexSql)),
    Gate("q_stream_clusters", streamClusters, Some(streamClustersSql)),
    Gate("q_simhash_dedup", simhashDedup, Some(simhashDedupSql)),
    Gate("q_embed_topk", embedTopK, Some(embedTopKSql)),
    Gate("q_embed_query_ext", embedQueryExt, Some(embedQueryExtSql)),
    Gate("q_embed_dup_pairs", embedDupPairs, Some(embedDupPairsSql)),
    Gate("q_semdedup", semDedup, Some(semDedupSql)),
    Gate("q_embed_centroids", embedCentroids, Some(embedCentroidsSql)),
    Gate("q_embed_lsh_topk", lshTopK, Some(lshTopKSql)),
    Gate("q_lsh_multiprobe", lshMultiProbe, Some(lshMultiProbeSql)),
    Gate("q_jl_project", jlProject, Some(jlProjectSql)),
    Gate("q_multimodal_meta", multimodalMeta, Some(multimodalMetaSql)),
    Gate("q_multimodal_features", multimodalFeatures,
      Some(multimodalFeaturesSql)),
    Gate("q_media_dup", mediaDupPairs, Some(mediaDupPairsSql)),
    Gate("q_media_dup_real", mediaDupReal, Some(mediaDupRealSql)),
    Gate("q_video_dup", videoDup, Some(videoDupSql)),
    Gate("q_audio_dup", audioDup, Some(audioDupSql)),
    Gate("q_html_extract", htmlExtractGate, Some(htmlExtractSql)),
    Gate("q_url_canon", urlCanon, Some(urlCanonSql)),
    Gate("q_multimodal_slices", multimodalSlices,
      Some(multimodalSlicesSql)),
  )
}
