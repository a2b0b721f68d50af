package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Gate, Tables}
import OracleSql._
import GateOps._
import graft.ext.{EmbeddingSearch, GraphOps, TextAnalysis}

/** Round-9 graph + corpus-hygiene + tokenizer gates: embedding-graph
  * composition (exact kNN graph, IVF-blocked and NN-Descent scale
  * paths, label propagation), paragraph-level exact dedup (batch,
  * incremental registry, streaming), the Gopher quality-rule bank,
  * and the segmentation family (WordPiece greedy longest-match,
  * unigram min-cost Viterbi, unigram vocabulary pruning). Every
  * SQL-expressible gate is value-checked against a DuckDB oracle that
  * recomputes the same derivation relationally — iterative ops unroll
  * their fixed iteration/DP depth as (materialized) CTE stacks, the
  * q_dup_pagerank pattern; data-trained graph gates use the
  * recall-vs-exact-graph contract, the q_ivf_topk pattern.
  */
object GraphTextQueries {

  // ---- exact kNN graph over the embeddings table ----

  /** [[graft.ext.EmbeddingSearch.knnGraph]]: every vector's top-3
    * cosine neighbors — the similarity substrate label propagation
    * spreads over. Exact brute force is the gate-scale baseline AND
    * the oracle; the 100 TB path blocks candidates by IVF cell or LSH
    * bucket (see knnGraph's scaladoc).
    */
  /** The exact k=3 graph shared by the graph-composition gates (the
    * [[ExtQueries]] shared-build contract): computed once per JVM —
    * q_knn_graph prices the construction, downstream gates
    * (label propagation, blocked-graph recall) pay for THEIR work,
    * not a graph re-run.
    */
  /** [[sharedKnnGraph]] for sibling gate modules (q_stream_knn's
    * recall harness reads the same memoized exact graph).
    */
  private[queries] def sharedKnnGraphDir(s: SparkSession,
      d: String): String = sharedKnnGraph(s, d)

  private def sharedKnnGraph(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"knn_graph:$d", "gate_knn_") { dir =>
      EmbeddingSearch.knnGraph(Tables.embeddings(s, d), k = 3)
        .write.mode("overwrite").parquet(s"$dir/knn")
    }

  private def knnGraph(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .orderBy("query_id", "rank")

  private val knnGraphSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$allPairsCos,
       |$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- IVF-blocked kNN graph (the 100 TB shape) ----

  /** The APPROXIMATE kNN graph the scale path actually builds: every
    * corpus row searches only its nProbe nearest IVF cells
    * ([[graft.ext.IvfIndex.search]] with an all-rows query predicate) —
    * per-probe cost corpus/cells × nProbe instead of corpus², the
    * [[graft.ext.SemDedup]] blocking pattern applied to graph
    * construction. The quantizer is data-trained, so (as with
    * q_ivf_topk) no closed-form SQL mirror exists; the checkable
    * contract is graph recall vs the exact graph: ≥80% of nodes must
    * recover at least 1 of their true top-3 neighbors from 4 of 16
    * cells. Measured: 96–98% of nodes qualify with 2.1–2.45 of 3 true
    * neighbors recovered on average (sf0.001/0.01/0.1) — probing 25%
    * of the corpus keeps most true neighbors even on near-random
    * embeddings, the worst case for cell locality.
    */
  private def knnGraphBlocked(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    // cells scale with the corpus (constant ~125-vector cells), so
    // per-node candidate work is CONSTANT and the whole graph build is
    // corpus-linear — the fixed-cell-count spelling degrades to
    // probing a constant FRACTION of the corpus (quadratic total). At
    // the gate SFs (500–2000 vectors) this resolves to the same 16
    // cells as before; the formula is the 100 TB design point.
    val cells = math.max(16, (embs.count() / 125L).toInt)
    val model = graft.ext.IvfIndex.build(embs, k = cells,
      sampleFraction = 0.25)
    val ann = graft.ext.IvfIndex.search(model, lit(true), k = 3,
      nProbe = 4)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    recallFloor(embs, ann, exact, "n_nodes", "graph_ok")
  }

  // ---- NN-Descent: quantizer-free approximate kNN graph ----

  /** [[graft.ext.EmbeddingSearch.nnDescent]] from the deterministic
    * id-ring seed: descend with internal k=32 for 5 rounds, rank the
    * top-3. Data-dependent like the IVF gate, so the checkable
    * contract is again graph recall vs the memoized exact graph — the
    * floor (≥80% of nodes recover ≥1 of their true top-3) is the same
    * as q_knn_graph_blocked's, letting the two scale paths (trained
    * cells vs descent rounds) be read side by side. Measured 94–100%
    * across the SFs. The near-random test embeddings are NN-Descent's
    * WORST case (neighbor-of-neighbor correlation needs local
    * structure): internal k=3 converged to only ~10% recall, which is
    * why the descent runs wide (k=32) and deep (5 rounds) here —
    * clustered real-world embeddings converge in 2–3 rounds at small k
    * (Dong et al. report ~90%+ on real datasets with k·iters an order
    * of magnitude lower).
    */
  /** The converged NN-Descent graph shared by the descent-family gates
    * (same contract as [[sharedKnnGraph]]): descend once per JVM at
    * internal k=32 for 5 rounds, store the top-8 edges. q_nn_descent
    * (the first accessor in bench order) prices the construction;
    * q_search_graph prices the WALK over it, not a second descent.
    */
  private def sharedDescentGraph(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"descent_graph:$d", "gate_nnd_") { dir =>
      EmbeddingSearch.nnDescent(Tables.embeddings(s, d), k = 32,
          iters = 5)
        .filter(col("rank") <= 8)
        .write.mode("overwrite").parquet(s"$dir/graph")
    }

  private def nnDescentGate(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val ann = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
      .filter(col("rank") <= 3)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    recallFloor(embs, ann, exact, "n_nodes", "graph_ok")
  }

  // ---- NN-Descent VALUE-CHECKED: the descent algebra replayed ----

  /** [[graft.ext.EmbeddingSearch.nnDescent]] with every round
    * value-checked: the descent is deterministic end to end — the
    * id-ring seed (node i's neighbors are the next k ids in id order,
    * a row_number any engine reproduces), the exact candidate scoring
    * (sequential-fold dot), and the cos-desc/id-asc top-k election —
    * so the whole construction replays relationally: one CTE pair per
    * round (symmetrize + neighbor-of-neighbor expansion, then
    * score-and-rank), exactly the algebra [[nnDescentGate]]'s recall
    * floor exercises at production width. Runs narrow (k=4, 2 rounds)
    * so the oracle stays n·(2k)² per round; the production-width gate
    * keeps owning convergence QUALITY, this gate proves every edge,
    * score, and rank of the descent itself — the remaining count+true
    * family member after the serving walk (q_search_graph_exact),
    * the insertion (q_graph_insert_exact), and the filtered walk
    * (q_search_graph_filtered_exact) were closed.
    */
  private def nnDescentExact(s: SparkSession, d: String): DataFrame =
    EmbeddingSearch.nnDescent(Tables.embeddings(s, d), k = 4, iters = 2)
      .orderBy("query_id", "rank")

  /** Score candidate edges exactly against CTE `e`, keep each node's
    * top-k (raw-cos ranking, id tie-break — the scoreAndRank contract;
    * cos left RAW, rounded only where a result boundary requires it).
    * Shared by the descent-family exact oracles.
    */
  private def descentScoreRank(cand: String, out: String,
      k: Int): String =
    s"""$out AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cos, rank FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      ${rankBy("cos DESC, neighbor_id")} AS rank
       |    FROM (SELECT c.query_id, c.neighbor_id,
       |            ${cosine("a.v", "b.v")} AS cos
       |          FROM $cand c
       |          JOIN e a ON a.vec_id = c.query_id
       |          JOIN e b ON b.vec_id = c.neighbor_id))
       |  WHERE rank <= $k)""".stripMargin

  /** One descent round: symmetrize g<prev>, expand neighbor-of-
    * neighbor, union the standing edges, dedup, re-score.
    */
  private def descentRound(prev: Int, cur: Int, k: Int): String =
    s"""u$cur AS (SELECT query_id AS src, neighbor_id AS dst FROM g$prev
       |  UNION ALL
       |  SELECT neighbor_id, query_id FROM g$prev),
       |x$cur AS (SELECT DISTINCT query_id, neighbor_id FROM (
       |  SELECT l.src AS query_id, r.dst AS neighbor_id
       |  FROM u$cur l JOIN u$cur r ON l.dst = r.src
       |  WHERE l.src <> r.dst
       |  UNION ALL
       |  SELECT query_id, neighbor_id FROM g$prev)),
       |${descentScoreRank(s"x$cur", s"g$cur", k)}""".stripMargin

  /** The id-ring seed over CTE `e` (row_number in id order, next-k
    * wrap) — [[descentScoreRank]]'s g0 input.
    */
  private def descentRingCtes(k: Int): String =
    s"""rk AS (SELECT vec_id,
       |         row_number() OVER (ORDER BY vec_id) AS rk,
       |         count(*) OVER () AS n
       |       FROM e),
       |ring AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM rk a, range(1, ${k + 1}) t(j)
       |  JOIN rk b ON b.rk = (a.rk - 1 + t.j) % a.n + 1
       |  WHERE a.vec_id <> b.vec_id)""".stripMargin

  private val nnDescentExactSql =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${descentRingCtes(4)},
       |${descentScoreRank("ring", "g0", 4)},
       |${descentRound(0, 1, 4)},
       |${descentRound(1, 2, 4)}
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM g2 ORDER BY query_id, rank""".stripMargin

  /** The WARM-START seed mixing value-checked — the
    * [[graft.ext.EmbeddingSearch.nnDescentFrom]] path `rewire` and the
    * periodic quality pass run: seed with a standing graph's edges
    * (here the exact kNN graph of the `vec_id >= 20` corpus), give
    * ring edges only to the 20 unseeded delivery nodes (the anti-join
    * + union + dedup mixing), then one descent round over the union
    * corpus. Every seeded edge, every round-1 expansion, and the final
    * ranks replay relationally — q_nn_descent_exact proves the cold
    * algebra, THIS gate proves the seed-mixing algebra layered on it.
    */
  private def nnDescentWarmExact(s: SparkSession,
      d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val standing = embs.filter(col("vec_id") >= 20)
    val seed = EmbeddingSearch.knnGraph(standing, k = 4)
    EmbeddingSearch.nnDescentFrom(embs, Some(seed), k = 4, iters = 1)
      .orderBy("query_id", "rank")
  }

  private val nnDescentWarmExactSql =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |es AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
       |sp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${cosine("a.v", "b.v")} AS cos
       |       FROM es a, es b WHERE a.vec_id <> b.vec_id),
       |seed AS MATERIALIZED (SELECT query_id, neighbor_id
       |  FROM (SELECT query_id, neighbor_id,
       |          ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM sp)
       |  WHERE rank <= 4),
       |${descentRingCtes(4)},
       |sd AS (SELECT DISTINCT query_id, neighbor_id FROM (
       |  SELECT r.query_id, r.neighbor_id FROM ring r
       |  WHERE NOT EXISTS (SELECT 1 FROM seed s
       |    WHERE s.query_id = r.query_id)
       |  UNION ALL
       |  SELECT query_id, neighbor_id FROM seed)),
       |${descentScoreRank("sd", "g0", 4)},
       |${descentRound(0, 1, 4)}
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM g1 ORDER BY query_id, rank""".stripMargin

  // ---- graph-based ANN serving: beam search over the descent graph ----

  /** [[graft.ext.EmbeddingSearch.graphSearch]]: external queries
    * (vec_id < 20, lookup semantics) answered by beam descent over the
    * MAINTAINED NN-Descent graph ([[sharedDescentGraph]]) — the
    * quantizer-free serving path: no IVF/PQ structure is trained or
    * loaded, the walk uses only the edge list the construction /
    * warm-start maintenance family already produces. Data-dependent
    * like its siblings, so the checkable contract is recall vs the
    * memoized exact graph: ≥80% of queries must recover ≥1 of their
    * true top-3 neighbors (self-hits excluded — the walk legitimately
    * ranks the query's own corpus row first, the exact graph never
    * contains it). The walk probes ≤ entries + hops × beam × degree
    * nodes per query — corpus-independent given the graph, the number
    * that matters at 100 TB. EmbeddingSearchSpec pins EXACTNESS on the
    * clustered fixture (walk ≡ brute force) and the visited-set bound.
    */
  private def searchGraph(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
    val queries = embs.filter(col("vec_id") < 20)
    val got = graft.ext.EmbeddingSearch.graphSearch(embs, graph, queries,
        k = 5, beamWidth = 16, hops = 4, entryPoints = 16)
      .filter(col("neighbor_id") =!= col("query_id"))
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .filter(col("query_id") < 20)
    recallFloor(queries, got, exact)
  }

  // ---- the beam walk VALUE-CHECKED: relational replay in DuckDB ----

  /** [[graft.ext.EmbeddingSearch.graphSearch]] with every hop
    * value-checked: the walk is DETERMINISTIC (fixed smallest-id entry
    * set, fixed hop count, cos-desc/id-asc tie-breaks), so over the
    * EXACT kNN graph — which the oracle can rebuild all-pairs, as
    * q_knn_graph already does — the whole descent replays relationally:
    * one unrolled CTE level per hop carrying the visited state
    * (query, node, cos, expanded), each level selecting the top-beam
    * unexpanded frontier, expanding it through the symmetrized edge
    * list, and exact-scoring only the newly reached nodes. Every
    * frontier choice, every score, and the final top-k hash-compare —
    * the Viterbi/BPE-unroll discipline applied to the serving path,
    * closing the gap where the graph family's gates certified only
    * count+floor.
    */
  private def searchGraphExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
    graft.ext.EmbeddingSearch.graphSearch(embs, exact, queries, k = 3,
        beamWidth = 4, hops = 3, entryPoints = 4)
      .orderBy("query_id", "rank")
  }

  /** One unrolled walk hop for the relational beam-descent replays:
    * elect the top-`beam` unexpanded frontier from state `s<prev>`,
    * expand through `und`, score only newly reached nodes → `s<cur>`.
    * Expects CTEs `e` (vec_id, v), `q` (query_id, qv), `und`
    * (src, dst) in scope — shared by the q_search_graph_exact and
    * q_graph_insert_exact oracles. `sfx` namespaces every CTE (state,
    * corpus, edge list — the query CTE `q` stays shared) so one oracle
    * can replay several roots' walks side by side (q_graph_federate).
    */
  private def walkHop(prev: Int, cur: Int, beam: Int,
      sfx: String = ""): String =
    s"""f$sfx$cur AS MATERIALIZED (SELECT query_id, node_id FROM (
       |  SELECT query_id, node_id,
       |    ${rankBy("cos DESC, node_id")} AS rn
       |  FROM s$sfx$prev WHERE NOT expanded) WHERE rn <= $beam),
       |n$sfx$cur AS MATERIALIZED (
       |  SELECT DISTINCT f.query_id, u.dst AS node_id
       |  FROM f$sfx$cur f JOIN und$sfx u ON u.src = f.node_id
       |  WHERE NOT EXISTS (SELECT 1 FROM s$sfx$prev s
       |    WHERE s.query_id = f.query_id AND s.node_id = u.dst)),
       |s$sfx$cur AS MATERIALIZED (
       |  SELECT s.query_id, s.node_id, s.cos,
       |    s.expanded OR EXISTS (SELECT 1 FROM f$sfx$cur f
       |      WHERE f.query_id = s.query_id AND f.node_id = s.node_id)
       |      AS expanded
       |  FROM s$sfx$prev s
       |  UNION ALL
       |  SELECT n.query_id, n.node_id,
       |    ${cosine("q.qv", "e.v")} AS cos,
       |    false AS expanded
       |  FROM n$sfx$cur n JOIN q ON q.query_id = n.query_id
       |  JOIN e$sfx e ON e.vec_id = n.node_id)""".stripMargin

  private val searchGraphExactSql = {
    def hop(prev: Int, cur: Int): String = walkHop(prev, cur, 4)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |                   WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |${hop(0, 1)},
       |${hop(1, 2)},
       |${hop(2, 3)}
       |SELECT query_id, node_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, node_id, cos,
       |        ${rankBy("cos DESC, node_id")} AS rank
       |      FROM s3)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** The HUB-ENTRY election value-checked: [[graphSearch]] with
    * `hubEntries = true` starts the walk from the highest-DEGREE live
    * nodes (ties → smaller id) instead of the smallest ids — the
    * round-11 HNSW-upper-layer flattening, until now certified only by
    * EmbeddingSearchSpec's recall comparison. Over the exact graph the
    * election is one aggregate over the symmetrized edge list and the
    * rest of the walk is the q_search_graph_exact replay verbatim, so
    * the oracle swaps ONLY the entries CTE — degree count, desc order,
    * id tie-break — and every downstream frontier, score, and rank is
    * hash-compared through the changed entry set.
    */
  private def searchGraphHubExact(s: SparkSession,
      d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
    graft.ext.EmbeddingSearch.graphSearch(embs, exact, queries, k = 3,
        beamWidth = 4, hops = 3, entryPoints = 4, hubEntries = true)
      .orderBy("query_id", "rank")
  }

  private val searchGraphHubExactSql = {
    def hop(prev: Int, cur: Int): String = walkHop(prev, cur, 4)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |                   WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT src AS node_id, count(*) AS deg
       |              FROM und GROUP BY src)
       |            ORDER BY deg DESC, node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |${hop(0, 1)},
       |${hop(1, 2)},
       |${hop(2, 3)}
       |SELECT query_id, node_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, node_id, cos,
       |        ${rankBy("cos DESC, node_id")} AS rank
       |      FROM s3)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- kNN classification + evaluation over the graph family ----

  /** [[graft.ext.GraphOps.knnClassify]] on the memoized exact kNN
    * graph: each vector's label predicted by majority vote of its
    * top-3 neighbors' labels (ties → smallest label). The
    * non-parametric classifier riding the graph the embedding family
    * already maintains; fully deterministic, so the oracle replays the
    * all-pairs graph, the vote counts, and the tie-break — every
    * prediction value-checked next to its true label.
    */
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val labels = embs.select(col("vec_id").as("id"), col("label"))
    GraphOps.knnClassify(graph, labels, k = 3)
      .join(labels, Seq("id"))
      .select(col("id"), col("label"), col("predicted"))
      .orderBy("id")
  }

  private val knnVoteCtes =
    """knng AS (SELECT query_id, vec_id AS neighbor_id
      |         FROM r WHERE rank <= 3),
      |lbl AS (SELECT vec_id AS id, label FROM embeddings),
      |votes AS (SELECT k.query_id AS id, l.label, count(*) AS c
      |          FROM knng k JOIN lbl l ON l.id = k.neighbor_id
      |          GROUP BY 1, 2),
      |pred AS (SELECT id, label AS predicted FROM (
      |  SELECT id, label, row_number() OVER (PARTITION BY id
      |    ORDER BY c DESC, label) AS rn
      |  FROM votes) WHERE rn = 1),
      |scored AS (SELECT t.id, t.label, p.predicted
      |           FROM lbl t JOIN pred p USING (id))""".stripMargin

  private val knnClassifySql =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$allPairsCos,
       |$cosRanked,
       |$knnVoteCtes
       |SELECT id, label, predicted FROM scored ORDER BY id""".stripMargin

  /** [[graft.ext.Eval.classifierMetrics]] over the kNN classifier's
    * predictions: per-class support, predicted count, true positives,
    * precision, recall, F1 (zero-denominator conventions pinned). The
    * oracle recomputes the predictions AND the metric arithmetic, so
    * the evaluation operator itself is value-checked, not just its
    * input.
    */
  private def classEval(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val labels = embs.select(col("vec_id").as("id"), col("label"))
    val scored = GraphOps.knnClassify(graph, labels, k = 3)
      .join(labels, Seq("id"))
    graft.ext.Eval.classifierMetrics(scored).orderBy("clazz")
  }

  private val classEvalSql =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$allPairsCos,
       |$cosRanked,
       |$knnVoteCtes,
       |tpc AS (SELECT label AS clazz, count(*) AS tp FROM scored
       |        WHERE label = predicted GROUP BY 1),
       |sup AS (SELECT label AS clazz, count(*) AS support FROM scored
       |        GROUP BY 1),
       |prd AS (SELECT predicted AS clazz, count(*) AS predicted_n
       |        FROM scored GROUP BY 1)
       |SELECT clazz,
       |  CAST(coalesce(support, 0) AS BIGINT) AS support,
       |  CAST(coalesce(predicted_n, 0) AS BIGINT) AS predicted_n,
       |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
       |  round(coalesce(tp / predicted_n, 0), 6) AS precision,
       |  round(coalesce(tp / support, 0), 6) AS recall,
       |  round(CASE WHEN coalesce(tp / predicted_n, 0)
       |                  + coalesce(tp / support, 0) > 0
       |    THEN 2.0 * coalesce(tp / predicted_n, 0)
       |             * coalesce(tp / support, 0)
       |         / (coalesce(tp / predicted_n, 0)
       |            + coalesce(tp / support, 0))
       |    ELSE 0 END, 6) AS f1
       |FROM sup FULL OUTER JOIN prd USING (clazz)
       |LEFT JOIN tpc USING (clazz)
       |ORDER BY clazz""".stripMargin

  /** [[graft.ext.Eval.clusteringMetrics]]: pair-counting P/R/F1 +
    * purity for a deterministic clustering — connected components
    * ([[graft.ext.Dedup.dupClusters]]) over the MUTUAL-1NN graph
    * (a→b and b→a both rank 1), evaluated against the embedding
    * labels. Mutual-1NN yields many small clusters, so every
    * contingency quantity is non-degenerate. The scale point is the
    * operator's shape: all pair totals fold out of (cluster, label)
    * cells via C(n,2) — no pairwise join exists anywhere — and the
    * oracle replays the components (recursive CTE), the cells, and
    * the binomial arithmetic exactly.
    */
  private def clusterEval(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val top1 = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val mutual = top1.as("a").join(top1.as("b"),
        col("a.query_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.query_id") &&
          col("a.query_id") < col("a.neighbor_id"))
      .select(col("a.query_id").as("id_a"),
        col("a.neighbor_id").as("id_b"))
    val nodes = embs.select(col("vec_id").as("id"))
    val assign = graft.ext.Dedup.dupClusters(nodes, mutual,
      parallelism = Some(8))
    val truth = embs.select(col("vec_id").as("id"), col("label"))
    graft.ext.Eval.clusteringMetrics(assign, truth)
  }

  private val clusterEvalSql =
    s"""WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id,
       |    embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$allPairsCos,
       |$cosRanked,
       |top1 AS (SELECT query_id, vec_id FROM r WHERE rank = 1),
       |mut AS (SELECT a.query_id AS id_a, a.vec_id AS id_b
       |        FROM top1 a JOIN top1 b
       |          ON b.query_id = a.vec_id AND b.vec_id = a.query_id
       |        WHERE a.query_id < a.vec_id),
       |edges AS (SELECT id_a AS s, id_b AS t FROM mut
       |          UNION ALL SELECT id_b, id_a FROM mut),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS rr FROM embeddings
       |  UNION
       |  SELECT ed.s, reach.rr FROM edges ed JOIN reach ON ed.t = reach.id),
       |comp AS (SELECT id, min(rr) AS cluster FROM reach GROUP BY id),
       |cells AS (SELECT c.cluster, t.label, count(*) AS nij
       |          FROM comp c
       |          JOIN (SELECT vec_id AS id, label FROM embeddings) t
       |            USING (id)
       |          GROUP BY 1, 2),
       |bycl AS (SELECT cluster, sum(nij) AS ai, max(nij) AS mx
       |         FROM cells GROUP BY 1),
       |bylb AS (SELECT label, sum(nij) AS bj FROM cells GROUP BY 1),
       |tots AS (SELECT
       |  CAST((SELECT sum((nij * (nij - 1)) // 2) FROM cells) AS BIGINT)
       |    AS tp,
       |  CAST((SELECT sum(nij) FROM cells) AS BIGINT) AS n,
       |  CAST((SELECT sum((ai * (ai - 1)) // 2) FROM bycl) AS BIGINT)
       |    AS sc,
       |  CAST((SELECT sum(mx) FROM bycl) AS BIGINT) AS pure,
       |  CAST((SELECT sum((bj * (bj - 1)) // 2) FROM bylb) AS BIGINT)
       |    AS sl)
       |SELECT n, tp AS pair_tp, sc - tp AS pair_fp, sl - tp AS pair_fn,
       |  round(coalesce(tp / sc, 0), 6) AS pair_precision,
       |  round(coalesce(tp / sl, 0), 6) AS pair_recall,
       |  round(CASE WHEN coalesce(tp / sc, 0) + coalesce(tp / sl, 0) > 0
       |    THEN 2.0 * coalesce(tp / sc, 0) * coalesce(tp / sl, 0)
       |         / (coalesce(tp / sc, 0) + coalesce(tp / sl, 0))
       |    ELSE 0 END, 6) AS pair_f1,
       |  round(pure / n, 6) AS purity
       |FROM tots""".stripMargin

  /** [[graft.ext.Eval.rankMetrics]] with the whole evaluation
    * value-checked: the system under test is the beam walk over the
    * exact graph (the q_search_graph_exact configuration, widened to
    * top-5) and the judgments are the exact top-3 graded 3/2/1 plus
    * the query's own row at grade 4 (lookup semantics — the walk
    * legitimately ranks the corpus-identical row first). The walk is
    * lossy at beam 4 (recall/mrr/ndcg land strictly inside (0, 1] and
    * vary per query), so the metric arithmetic — hit join, 2^rel
    * gains, per-query ideal DCG, the zero conventions — is exercised
    * on non-degenerate values and replayed relationally end to end.
    */
  private def rankEval(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
    val results = graft.ext.EmbeddingSearch.graphSearch(embs, exact,
        queries, k = 5, beamWidth = 4, hops = 3, entryPoints = 4)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
    val qrels = queries
      .select(col("vec_id").as("query_id"), col("vec_id").as("id"),
        lit(4).as("rel"))
      .unionByName(exact.filter(col("query_id") < 20)
        .select(col("query_id"), col("neighbor_id").as("id"),
          (lit(4) - col("rank")).as("rel")))
    graft.ext.Eval.rankMetrics(results, qrels).orderBy("query_id")
  }

  private val rankEvalSql = {
    def hop(prev: Int, cur: Int): String = walkHop(prev, cur, 4)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |                   WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |${hop(0, 1)},
       |${hop(1, 2)},
       |${hop(2, 3)},
       |res AS (SELECT query_id, node_id AS id, rank
       |  FROM (SELECT query_id, node_id,
       |          ${rankBy("cos DESC, node_id")} AS rank
       |        FROM s3)
       |  WHERE rank <= 5),
       |qr AS (SELECT query_id, query_id AS id, 4 AS rel FROM q
       |  UNION ALL
       |  SELECT query_id, vec_id AS id, 4 - rank AS rel
       |  FROM r WHERE rank <= 3 AND query_id < 20),
       |hits AS (SELECT res.query_id, count(*) AS n_hit,
       |    min(res.rank) AS first_hit,
       |    sum((power(2.0, qr.rel) - 1)
       |      / (ln(CAST(res.rank + 1 AS DOUBLE)) / ln(2.0))) AS dcg
       |  FROM res JOIN qr ON qr.query_id = res.query_id
       |    AND qr.id = res.id
       |  GROUP BY 1),
       |ideal AS (SELECT query_id, count(*) AS n_rel,
       |    sum((power(2.0, rel) - 1)
       |      / (ln(CAST(j + 1 AS DOUBLE)) / ln(2.0))) AS idcg
       |  FROM (SELECT query_id, id, rel,
       |          ${rankBy("rel DESC, id")} AS j
       |        FROM qr)
       |  GROUP BY 1)
       |SELECT i.query_id, i.n_rel,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(coalesce(h.n_hit, 0) / i.n_rel, 6) AS recall,
       |  round(coalesce(1.0 / h.first_hit, 0), 6) AS mrr,
       |  round(coalesce(h.dcg / i.idcg, 0), 6) AS ndcg
       |FROM ideal i LEFT JOIN hits h USING (query_id)
       |ORDER BY query_id""".stripMargin
  }

  // ---- the INSERTION algebra value-checked end to end ----

  /** [[graft.ext.EmbeddingSearch.insertEdges]] with every step
    * value-checked: 20 held-out vectors insert into the EXACT kNN
    * graph over the standing corpus (which the oracle rebuilds
    * all-pairs), and the oracle replays the whole insertion
    * relationally — the beam walk (the q_search_graph_exact unrolled
    * CTE stack), the exact intra-delivery pairs, each new node's top-k
    * election over their union, the back-link proposals, and every
    * touched node's merged re-ranked edge set. Both output relations
    * (the delivered nodes' edges and the touched nodes' merged edges)
    * hash-compare — the count+floor posture of q_graph_insert is the
    * trained-graph contract; THIS gate proves the algebra itself.
    */
  private def graphInsertExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val standing = embs.filter(col("vec_id") >= 20)
    val graph = graft.ext.EmbeddingSearch.knnGraph(standing, k = 3)
    val delivery = embs.filter(col("vec_id") < 20)
    val (newEdges, merged) = graft.ext.EmbeddingSearch.insertEdges(
      standing, graph, delivery, k = 3, beamWidth = 4, hops = 3,
      entryPoints = 4)
    newEdges.withColumn("part", lit("new"))
      .unionByName(merged.withColumn("part", lit("merged")))
      .orderBy("part", "query_id", "rank")
  }

  private val graphInsertExactSql = {
    val hops = (1 to 3).map(h => walkHop(h - 1, h, 4)).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id >= 20),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id,
       |                     embedding::DOUBLE[] AS qv
       |                   FROM embeddings WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |$hops,
       |walked AS (SELECT query_id, node_id AS neighbor_id,
       |             round(cos, 6) AS cos FROM s3),
       |intra AS (SELECT a.query_id,
       |            b.query_id AS neighbor_id,
       |            round(${cosine("a.qv", "b.qv")}, 6) AS cos
       |          FROM q a, q b WHERE a.query_id <> b.query_id),
       |newe AS MATERIALIZED (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT * FROM walked UNION ALL SELECT * FROM intra))
       |  WHERE rank <= 3),
       |rev AS (SELECT neighbor_id AS query_id, query_id AS neighbor_id,
       |          cos
       |        FROM newe WHERE neighbor_id >= 20),
       |knge AS (SELECT query_id, vec_id AS neighbor_id,
       |           round(cos, 6) AS cos
       |         FROM r WHERE rank <= 3),
       |merged AS (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT k.* FROM knge k
       |              WHERE k.query_id IN (SELECT query_id FROM rev)
       |              UNION ALL SELECT * FROM rev))
       |  WHERE rank <= 3)
       |SELECT 'new' AS part, query_id, neighbor_id, cos,
       |       CAST(rank AS INTEGER) AS rank FROM newe
       |UNION ALL
       |SELECT 'merged', query_id, neighbor_id, cos,
       |       CAST(rank AS INTEGER) FROM merged
       |ORDER BY part, query_id, rank""".stripMargin
  }

  // ---- the PERSISTED index lifecycle value-checked end to end ----

  /** [[graft.ext.KnnGraphIndex]]'s whole lifecycle as VALUES: build
    * the index with a narrow descent (k=4, 2 rounds — the
    * q_nn_descent_exact algebra) over the standing corpus, `insert`
    * one 20-vector delivery (the q_graph_insert_exact algebra, here
    * over the DESCENT graph the index actually stores), tombstone
    * every 9th id, then read `liveEdges`. The oracle replays all of
    * it relationally — the descent, the beam-walk insertion, the
    * back-link merges — and then the PERSISTENCE semantics this gate
    * exists for: per-node max-gen supersession (a touched standing
    * node's gen-2 edge set wins over its gen-1 build rows; an
    * unchanged node's gen-1 rows survive — and since the recompute is
    * deterministic, either resolution yields the same values, which
    * is itself the invariant `changedNodes` relies on), and scoped
    * tombstones masking a deleted node's OWN rows while edges
    * pointing AT it stay until compaction (the documented graph-index
    * posture, now hash-checked rather than asserted).
    */
  private def graphIndexExact(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gidx_exact_")
    val embs = Tables.embeddings(s, d)
    val standing = embs.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding"))
    val delivery = embs.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    graft.ext.KnnGraphIndex.build(standing, dir, k = 4, iters = 2)
    graft.ext.KnnGraphIndex.insert(s, dir, delivery, beamWidth = 4, hops = 3,
      entryPoints = 4)
    graft.ext.KnnGraphIndex.delete(s, dir,
      embs.filter(col("vec_id") % 9 === 0), col("vec_id"))
    val snap = graft.ext.IndexStore.snapshot(s, dir)
    graft.ext.KnnGraphIndex.liveEdges(snap).orderBy("vec_id", "rank")
  }

  private val graphIndexExactSql = {
    val hops = (1 to 3).map(h => walkHop(h - 1, h, 4)).mkString(",\n")
    s"""WITH eall AS MATERIALIZED (SELECT vec_id,
       |    embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |e AS MATERIALIZED (SELECT vec_id, v FROM eall
       |  WHERE vec_id >= 20),
       |${descentRingCtes(4)},
       |${descentScoreRank("ring", "g0", 4)},
       |${descentRound(0, 1, 4)},
       |${descentRound(1, 2, 4)},
       |und AS MATERIALIZED (
       |  SELECT query_id AS src, neighbor_id AS dst FROM g2
       |  UNION
       |  SELECT neighbor_id, query_id FROM g2),
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM eall
       |                   WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |$hops,
       |walked AS (SELECT query_id, node_id AS neighbor_id,
       |             round(cos, 6) AS cos FROM s3),
       |intra AS (SELECT a.query_id,
       |            b.query_id AS neighbor_id,
       |            round(${cosine("a.qv", "b.qv")}, 6) AS cos
       |          FROM q a, q b WHERE a.query_id <> b.query_id),
       |newe AS MATERIALIZED (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT * FROM walked UNION ALL SELECT * FROM intra))
       |  WHERE rank <= 4),
       |rev AS (SELECT neighbor_id AS query_id, query_id AS neighbor_id,
       |          cos
       |        FROM newe WHERE neighbor_id >= 20),
       |oldg AS (SELECT query_id, neighbor_id, round(cos, 6) AS cos,
       |           rank
       |         FROM g2),
       |merged AS (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT o.query_id, o.neighbor_id, o.cos FROM oldg o
       |              WHERE o.query_id IN (SELECT query_id FROM rev)
       |              UNION ALL SELECT * FROM rev))
       |  WHERE rank <= 4),
       |live AS (
       |  SELECT query_id AS vec_id, neighbor_id, cos, rank FROM newe
       |  UNION ALL
       |  SELECT query_id, neighbor_id, cos, rank FROM merged
       |  UNION ALL
       |  SELECT query_id, neighbor_id, cos, rank FROM oldg
       |  WHERE query_id NOT IN (SELECT query_id FROM rev))
       |SELECT vec_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
       |FROM live WHERE vec_id % 9 <> 0
       |ORDER BY vec_id, rank""".stripMargin
  }

  // ---- the serving walk and the insert tick as SCALE PROBES ----

  /** The serving walk ALONE, timed against a graph built outside the
    * window: 100 external queries beam-descend the memoized descent
    * graph ([[sharedDescentGraph]] — corpus-linear to build, so the
    * 10×/30× ScaleProbe replicas can afford the untimed warm build the
    * probe harness gives them). The q_search_graph recall harness
    * embeds the quadratic exact-graph oracle and so cannot be probed
    * (the documented exclusion); THIS gate's timed window contains
    * nothing but the walk, so its BASELINE.md ratio is the measured
    * form of the "corpus-independent given the graph" claim. The
    * checkable contract here is result-set cardinality (a graph with
    * ≥ entries live nodes must fill every query's top-5 exactly);
    * walk QUALITY is owned by q_search_graph (recall floor) and
    * q_search_graph_exact (value-checked replay).
    */
  private def graphServe(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
    val queries = embs.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    graft.ext.EmbeddingSearch.graphSearch(embs, graph, queries, k = 5,
        beamWidth = 16, hops = 4, entryPoints = 16)
      .groupBy((col("query_id") - 1000000).as("query_id"))
      .agg(count(lit(1)).as("n_results"))
      .orderBy("query_id")
  }

  private val graphServeSql =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results
      |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin

  /** One INSERT TICK alone — the delta-bounded maintenance cost
    * ([[graft.ext.EmbeddingSearch.insertEdges]]) with everything else
    * outside the window: a FIXED 64-vector delivery wires into the
    * memoized descent graph (restricted to the standing corpus), so at
    * the 10×/30× replicas the timed work is 64 walks + 64² intra
    * pairs + back-link merges against a 10×/30× larger corpus — the
    * near-flat-ratio claim behind retiring warm descent as the tick.
    * Contract: every delivered vector wires exactly k=8 edges (the
    * walk always visits ≥ entries ≫ 8 candidates), value-checked as
    * cardinality; tick QUALITY is owned by q_graph_insert's recall
    * floor.
    */
  private def graphInsertTick(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
    val standing = embs.filter(col("vec_id") >= 64)
    val standingGraph = graph
      .filter(col("query_id") >= 64 && col("neighbor_id") >= 64)
    val delivery = embs.filter(col("vec_id") < 64)
    val (newEdges, _) = graft.ext.EmbeddingSearch.insertEdges(standing,
      standingGraph, delivery, k = 8, beamWidth = 16, hops = 4,
      entryPoints = 16)
    newEdges.groupBy("query_id")
      .agg(count(lit(1)).as("n_edges"))
      .orderBy("query_id")
  }

  private val graphInsertTickSql =
    """SELECT vec_id AS query_id, CAST(8 AS BIGINT) AS n_edges
      |FROM embeddings WHERE vec_id < 64 ORDER BY query_id""".stripMargin

  /** FEDERATED graph SERVING alone, timed against roots built outside
    * the window — the probe twin q_graph_federate cannot be (its
    * oracle rebuilds both roots' all-pairs exact graphs in-window by
    * design, so probing it measures the quadratic oracle): the
    * q_ann_federate fixture's two persisted graph indexes (amended
    * overlay with partial retraction; production with its own
    * takedown) are memoized — production built from the shared descent
    * graph, the overlay from its own corpus-linear descent — and the
    * timed window holds ONLY [[graft.ext.KnnGraphIndex
    * .searchFederatedVectors]]: two beam walks, the Bloom-pruned
    * precedence probe of RESULT ids (the boundedness claim this
    * gate's BASELINE.md rows measure), and the calibrated fuse.
    * Contract: every query's fused top-5 fills exactly (cardinality —
    * both roots over-fetch 20 from corpora far larger); federation
    * VALUES are owned by q_graph_federate's hash check.
    */
  private def graphFedServe(s: SparkSession, d: String): DataFrame = {
    val pre = sharedFedGraphRoots(s, d)
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    graft.ext.KnnGraphIndex.searchFederatedVectors(s,
        Seq(s"$pre/overlay", s"$pre/prod"), queries, k = 5,
        beamWidth = 16, hops = 4, entryPoints = 16, overFetch = 4)
      .groupBy("query_id").agg(count(lit(1)).as("n_results"))
      .orderBy("query_id")
  }

  private val graphFedServeSql =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results
      |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin

  /** The two persisted graph roots q_graph_fed_serve federates over,
    * built once per (JVM, dir): production = [[graft.ext.KnnGraphIndex
    * .buildFrom]] over its OWN corpus-linear descent (k=8, iters=3 —
    * deliberately GATE-PRIVATE rather than the shared
    * [[sharedDescentGraph]] memo, so Bench can prewarm this fixture
    * without stealing q_nn_descent's descent-memo pricing; the serve
    * gate checks fill cardinality, which a k=8 graph serves
    * identically) with a %7 takedown; overlay = every fifth vector
    * re-delivered NEGATED, its own descent, a %3 retraction. Exactly
    * the q_graph_federate / q_ann_federate fixture shape, persisted so
    * the serve window never pays construction (Bench prewarms this at
    * sf; ScaleProbe's warmBig untimed pass populates it at the
    * replica scales).
    */
  private[graft] def sharedFedGraphRoots(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"gfed_serve:$d", "gate_gfsrv_") { dir =>
      val embs = Tables.embeddings(s, d)
      val prodCorpus = embs.select(col("vec_id"), col("embedding"))
      graft.ext.KnnGraphIndex.buildFrom(prodCorpus,
        EmbeddingSearch.nnDescent(prodCorpus, k = 8, iters = 3),
        s"$dir/prod", k = 8)
      graft.ext.KnnGraphIndex.delete(s, s"$dir/prod",
        embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
        col("vec_id"))
      val amended = embs.filter(col("vec_id") % 5 === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x))
        .select(col("vec_id"), col("embedding"))
      graft.ext.KnnGraphIndex.buildFrom(amended,
        EmbeddingSearch.nnDescent(amended, k = 8, iters = 3),
        s"$dir/overlay", k = 8)
      graft.ext.KnnGraphIndex.delete(s, s"$dir/overlay",
        embs.filter(col("vec_id") % 3 === 1).select("vec_id"),
        col("vec_id"))
      ()
    }

  /** [[graft.ext.EmbeddingSearch.graphSearchWhere]]: the filtered-ANN
    * contract on the graph-serving path (q_ann_filtered's predicate —
    * `vec_id % 3 = 0` — on the quantizer-free family): the walk runs
    * over the full descent graph, over-fetches 4k, and the passing
    * nodes re-rank. The recall contract is vs EXACT brute force over
    * the FILTERED corpus (computed fresh — the memoized exact graph's
    * top-3 is predicate-blind): ≥80% of the 20 queries recover ≥1 of
    * their true filtered top-3.
    */
  private def searchGraphFiltered(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
    val queries = embs.filter(col("vec_id") < 20)
    val pred = col("vec_id") % 3 === 0
    val got = graft.ext.EmbeddingSearch.graphSearchWhere(embs, graph,
        queries, pred, k = 5, beamWidth = 16, hops = 4,
        entryPoints = 16)
      .filter(col("neighbor_id") =!= col("query_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rank"))
    val truth = graft.ext.EmbeddingSearch
      .bruteForceTopKFor(embs.filter(pred), queries, 4)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    recallFloor(queries, got, truth)
  }

  // ---- the FILTERED walk VALUE-CHECKED: over-fetch + post-filter ----

  /** [[graft.ext.EmbeddingSearch.graphSearchWhere]] with every step
    * value-checked: over the EXACT kNN graph the whole filtered-serving
    * pipeline is deterministic — the q_search_graph_exact beam walk
    * (same [[walkHop]] CTE stack), the raw-cosine top-(k·overFetch)
    * over-fetch election, the 6-decimal rounding at the walk boundary,
    * the predicate semi-join (`node_id % 3 = 0`, q_ann_filtered's
    * predicate), and the ROUNDED-cosine re-rank to the final top-k.
    * The rounding boundary matters and is part of what's checked: the
    * wide list is elected on raw cosines inside the walk, but the
    * filtered re-rank orders by the rounded scores the walk publishes —
    * an oracle that re-ranked on raw values could disagree on
    * near-ties. q_search_graph_filtered keeps owning recall on the
    * trained descent graph; THIS gate proves the post-filter algebra.
    */
  private def searchGraphFilteredExact(s: SparkSession,
      d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
    graft.ext.EmbeddingSearch.graphSearchWhere(embs, exact, queries,
        col("vec_id") % 3 === 0, k = 3, beamWidth = 4, hops = 3,
        entryPoints = 4, overFetch = 4)
      .orderBy("query_id", "rank")
  }

  private val searchGraphFilteredExactSql = {
    def hop(prev: Int, cur: Int): String = walkHop(prev, cur, 4)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |                   WHERE vec_id < 20),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |${hop(0, 1)},
       |${hop(1, 2)},
       |${hop(2, 3)},
       |wide AS (SELECT query_id, node_id, round(cos, 6) AS cos
       |  FROM (SELECT query_id, node_id, cos,
       |          ${rankBy("cos DESC, node_id")} AS rn
       |        FROM s3)
       |  WHERE rn <= 12)
       |SELECT query_id, node_id AS neighbor_id, cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, node_id, cos,
       |        ${rankBy("cos DESC, node_id")} AS rank
       |      FROM wide WHERE node_id % 3 = 0)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---- PERSISTED hub/filtered serving, value-checked + floor ----

  /** [[graft.ext.KnnGraphIndex]] hub serving VALUE-CHECKED: the index
    * is built from the exact kNN graph ([[graft.ext.KnnGraphIndex
    * .buildFrom]] — the admission path for externally-constructed
    * graphs), which freezes the `degrees` relation (directed endpoint
    * counts over the committed edges — out-degree is the constant k
    * for full nodes, so the ranking ≡ reverse-kNN in-degree, the HNSW
    * hub signal) and elects the `hubs` relation at COMMIT time. The
    * serve then reads entries from the persisted hubs — no edge-wide
    * aggregate in the query window (PlanShapeSpec pins the plan) —
    * and the oracle replays the degree accounting, the election
    * (deg desc, id asc, top-4), and every downstream hop of the walk:
    * the q_search_graph_hub_exact discipline moved onto the persisted
    * relations the 100 TB deployment would actually serve from.
    */
  private def graphHubPersistExact(s: SparkSession,
      d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_ghpx_")
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    graft.ext.KnnGraphIndex.buildFrom(
      embs.select(col("vec_id"), col("embedding")), exact, dir, k = 3)
    val queries = embs.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    graft.ext.KnnGraphIndex.search(s, dir, queries, k = 3,
        beamWidth = 4, hops = 3, entryPoints = 4, hubEntries = true)
      .orderBy("query_id", "rank")
  }

  private val graphHubPersistExactSql = {
    def hop(prev: Int, cur: Int): String = walkHop(prev, cur, 4)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |                   WHERE vec_id < 20),
       |deg AS (SELECT node_id, count(*) AS deg FROM (
       |          SELECT src AS node_id FROM knn
       |          UNION ALL SELECT dst FROM knn) GROUP BY 1),
       |entries AS (SELECT node_id FROM deg
       |            ORDER BY deg DESC, node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |${hop(0, 1)},
       |${hop(1, 2)},
       |${hop(2, 3)}
       |SELECT query_id, node_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, node_id, cos,
       |        ${rankBy("cos DESC, node_id")} AS rank
       |      FROM s3)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** [[graft.ext.KnnGraphIndex.search]] with a predicate — the
    * filtered-ANN contract finally reachable THROUGH the persisted
    * index (round 11's persisted serving could only do smallest-id,
    * unfiltered): over-fetch 4k on the full live graph, post-filter,
    * re-rank on the rounded walk scores. Built from the exact graph,
    * so the whole pipeline is the q_search_graph_filtered_exact
    * algebra verbatim and shares its oracle — the persisted round-trip
    * (buildFrom → liveEdges → walk) must be value-invisible.
    */
  private def graphFilteredPersist(s: SparkSession,
      d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_gfp_")
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    graft.ext.KnnGraphIndex.buildFrom(
      embs.select(col("vec_id"), col("embedding")), exact, dir, k = 3)
    val queries = embs.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    graft.ext.KnnGraphIndex.search(s, dir, queries, k = 3,
        beamWidth = 4, hops = 3, entryPoints = 4,
        where = Some(col("vec_id") % 3 === 0), overFetch = 4)
      .orderBy("query_id", "rank")
  }

  /** The INSERT-MAINTAINED hub path under the recall floor: the index
    * builds from the memoized descent graph restricted to the standing
    * corpus (vec_id ≥ 20), a 20-vector delivery lands via the
    * delta-bounded [[graft.ext.KnnGraphIndex.insert]] — which updates
    * `degrees` by the commit's own edge delta and re-elects `hubs`
    * among {standing hubs ∪ delta-touched nodes} only — and serving
    * answers from the PERSISTED hub entries. Contract: ≥80% of the 20
    * queries recover ≥1 of their true top-3 (self-hits excluded —
    * each query's own inserted row legitimately ranks first).
    * q_graph_hub_persist_exact owns the election algebra; THIS gate
    * owns the maintained lifecycle's serving quality.
    */
  private def graphHubPersist(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_ghp_")
    val embs = Tables.embeddings(s, d)
    val standing = embs.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding"))
    val graph = s.read.parquet(s"${sharedDescentGraph(s, d)}/graph")
      .filter(col("query_id") >= 20 && col("neighbor_id") >= 20)
    graft.ext.KnnGraphIndex.buildFrom(standing, graph, dir, k = 8)
    graft.ext.KnnGraphIndex.insert(s, dir,
      embs.filter(col("vec_id") < 20).select(col("vec_id"),
        col("embedding")))
    val queries = embs.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val got = graft.ext.KnnGraphIndex.search(s, dir, queries, k = 5,
        beamWidth = 16, hops = 4, entryPoints = 16, hubEntries = true)
      .filter(col("neighbor_id") =!= col("query_id"))
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .filter(col("query_id") < 20)
    recallFloor(queries, got, exact)
  }

  // ---- index health stats, value-checked number by number ----

  /** [[graft.ext.KnnGraphIndex.stats]]: the health relation that
    * decides WHEN maintenance fires (maybeRewire's debt counters,
    * maybeCompact's segment gauge) and what an operator dashboards at
    * 100 TB. The fixture is fully deterministic — buildFrom over the
    * memoized exact graph, then a takedown of every seventh node — so
    * the oracle recomputes every number from the raw derivation:
    * live/dangling edge counts over the masked groups, the stored
    * degree envelope (endpoint counts over the FULL build-time graph,
    * masked to live ids — stored totals keep the delete staleness by
    * design, and the oracle replays exactly that), the build-time hub
    * election minus its tombstoned members, the election age, the
    * segment/tombstone layout constants, and the debt counters
    * (buildFrom clears, the delete bumps).
    */
  private def graphStats(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_gstats_")
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    graft.ext.KnnGraphIndex.buildFrom(
      embs.select(col("vec_id"), col("embedding")), exact, dir, k = 3)
    graft.ext.KnnGraphIndex.delete(s, dir,
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    graft.ext.KnnGraphIndex.stats(s, dir).orderBy("metric")
  }

  private val graphStatsSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$allPairsCos,
       |knn AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst
       |  FROM (SELECT query_id, vec_id,
       |          ${rankBy("cos DESC, vec_id")} AS rank
       |        FROM p)
       |  WHERE rank <= 3),
       |dead AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3),
       |lv AS (SELECT src, dst FROM knn
       |       WHERE src NOT IN (SELECT vec_id FROM dead)),
       |deg AS (SELECT node_id, count(*) AS dg FROM (
       |          SELECT src AS node_id FROM knn
       |          UNION ALL SELECT dst FROM knn) GROUP BY 1),
       |livedeg AS (SELECT * FROM deg
       |            WHERE node_id NOT IN (SELECT vec_id FROM dead)),
       |hubs AS (SELECT node_id FROM deg
       |         ORDER BY dg DESC, node_id LIMIT 64)
       |SELECT * FROM (
       |  SELECT 'dangling_edges' AS metric, count(*)::BIGINT AS value
       |  FROM lv WHERE dst IN (SELECT vec_id FROM dead)
       |  UNION ALL SELECT 'debt_deliveries', 0::BIGINT
       |  UNION ALL SELECT 'debt_tombstones', 1::BIGINT
       |  UNION ALL SELECT 'deg_max', max(dg)::BIGINT FROM livedeg
       |  UNION ALL SELECT 'deg_min', min(dg)::BIGINT FROM livedeg
       |  UNION ALL SELECT 'deg_sum', sum(dg)::BIGINT FROM livedeg
       |  UNION ALL SELECT 'hub_count', count(*)::BIGINT FROM hubs
       |    WHERE node_id NOT IN (SELECT vec_id FROM dead)
       |  UNION ALL SELECT 'hub_election_age', 1::BIGINT
       |  UNION ALL SELECT 'live_edges', count(*)::BIGINT FROM lv
       |  UNION ALL SELECT 'live_nodes', count(*)::BIGINT FROM embeddings
       |    WHERE vec_id % 7 <> 3
       |  UNION ALL SELECT 'segments', 2::BIGINT
       |  UNION ALL SELECT 'tombstone_segments', 1::BIGINT
       |  UNION ALL SELECT 'version', 2::BIGINT)
       |ORDER BY metric""".stripMargin

  // ---- measured serving quality: the sampled-recall probe ----

  /** [[graft.ext.KnnGraphIndex.recallProbe]]: the MEASURED quality
    * number the proxy debt counters (maybeRewire's deliveries/
    * tombstones) stand in for — a bounded deterministic sample of the
    * index's own vectors served through the beam walk and scored
    * against exact brute force over the live corpus. The fixture is
    * the memoized DESCENT graph persisted via buildFrom (k=8 — the
    * q_search_graph serving construction; a k=3 graph is too sparse
    * to navigate on this near-random corpus), so the probe's sample
    * is deterministic: 16 hash-ranked sample queries × top-3, and the
    * walk must clear the family floor: ≥80% of the sampled queries
    * recover ≥1 of their true top-3 (`n_covered` — the q_search_graph
    * criterion; the probe reports aggregate recall BESIDE it, and
    * exact per-pair values are owned by the walk-replay twins).
    * Documented cost: |sample| × corpus scorings, maintenance-window
    * work — the number that lets an operator set maybeRewire's
    * maxDebt empirically instead of by folklore.
    */
  /** The persisted serving index q_recall_probe measures, built ONCE
    * per JVM ([[graft.Gate.memoDir]]): the probe never mutates the
    * index (a pure maintenance-window READ), and the buildFrom persist
    * of the memoized descent graph is priced by the persisted-index
    * family gates — the probe's own window prices exactly its
    * documented cost, |sample| walks + |sample| × corpus scorings.
    */
  private[queries] def sharedRecallProbeIndex(s: SparkSession,
      d: String): String = {
    // resolve the parent memo BEFORE entering this one (memoDir is a
    // computeIfAbsent; nested resolution is a same-map recursive update)
    val descent = sharedDescentGraph(s, d)
    graft.Gate.memoDir(s"rprobe_idx:$d", "gate_rprobe_") { dir =>
      val embs = Tables.embeddings(s, d)
      val graph = s.read.parquet(s"$descent/graph")
      graft.ext.KnnGraphIndex.buildFrom(
        embs.select(col("vec_id"), col("embedding")), graph,
        s"$dir/idx", k = 8)
      ()
    }
  }

  private def recallProbeGate(s: SparkSession, d: String): DataFrame = {
    val dir = s"${sharedRecallProbeIndex(s, d)}/idx"
    graft.ext.KnnGraphIndex.recallProbe(s, dir, sampleN = 16, k = 3)
      .select(col("n_queries"), col("n_truth"),
        (col("n_covered") >= col("n_queries") * 0.8).as("recall_ok"))
  }

  private val recallProbeSql =
    """SELECT CAST(16 AS BIGINT) AS n_queries,
      |       CAST(48 AS BIGINT) AS n_truth, true AS recall_ok""".stripMargin

  // ---- FEDERATED graph search, value-checked end to end ----

  /** [[graft.ext.KnnGraphIndex.searchFederatedVectors]]: the
    * q_ann_federate fixture (an overlay of AMENDED embeddings — every
    * fifth vector re-delivered negated, a third of the amendments
    * later retracted — over production with its own takedown) answered
    * by BEAM WALKS over per-root persisted graph indexes. Each root is
    * built from ITS OWN exact kNN graph ([[graft.ext.KnnGraphIndex
    * .buildFrom]]), so the oracle replays everything: both roots'
    * graphs all-pairs, the tombstone-masked live edge lists (a
    * deleted node's own edge group vanishes, dangling edges AT it
    * stay and its reached candidates score nothing — the documented
    * posture, here hash-checked through federation), both walks
    * (suffixed [[walkHop]] stacks), the k×overFetch per-root
    * over-fetch on raw cosines, the precedence mask (overlay wins,
    * delete cedes), and the calibrated fused re-rank on the rounded
    * scores.
    */
  private def graphFederate(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val amended = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
      .select(col("vec_id"), col("embedding"))
    val aDir = graft.Gate.tmpDir("gate_gfed_a_")
    val bDir = graft.Gate.tmpDir("gate_gfed_b_")
    graft.ext.KnnGraphIndex.buildFrom(amended,
      EmbeddingSearch.knnGraph(amended, 3), aDir, k = 3)
    graft.ext.KnnGraphIndex.delete(s, aDir, // retracted amendments
      embs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      col("vec_id"))
    graft.ext.KnnGraphIndex.buildFrom(
      embs.select(col("vec_id"), col("embedding")),
      s.read.parquet(s"${sharedKnnGraph(s, d)}/knn"), bDir, k = 3)
    graft.ext.KnnGraphIndex.delete(s, bDir, // production takedown
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    graft.ext.KnnGraphIndex.searchFederatedVectors(s, Seq(aDir, bDir),
        queries, k = 5, beamWidth = 4, hops = 3, entryPoints = 4,
        overFetch = 4)
      .orderBy("query_id", "rank")
  }

  private val graphFederateSql = {
    /** One root's graph + walk + top-20: exact kNN over the FULL root
      * corpus `ef<sfx>`, live edges = groups of non-deleted nodes,
      * entries = 4 smallest LIVE nodes of the symmetrized list, 3
      * beam-4 hops scoring only the LIVE corpus `e<sfx>`.
      */
    def root(sfx: String): String =
      s"""p$sfx AS (SELECT a.vec_id AS query_id, b.vec_id,
         |             ${cosine("a.v", "b.v")} AS cos
         |      FROM ef$sfx a, ef$sfx b WHERE a.vec_id <> b.vec_id),
         |knn$sfx AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst
         |  FROM (SELECT query_id, vec_id,
         |          ${rankBy("cos DESC, vec_id")} AS rank
         |        FROM p$sfx)
         |  WHERE rank <= 3),
         |lv$sfx AS (SELECT src, dst FROM knn$sfx
         |  WHERE src IN (SELECT vec_id FROM e$sfx)),
         |und$sfx AS MATERIALIZED (SELECT src, dst FROM lv$sfx
         |  UNION SELECT dst, src FROM lv$sfx),
         |entries$sfx AS (SELECT node_id FROM (
         |    SELECT DISTINCT src AS node_id FROM und$sfx
         |    WHERE src IN (SELECT vec_id FROM e$sfx))
         |  ORDER BY node_id LIMIT 4),
         |s${sfx}0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
         |  ${cosine("q.qv", "e.v")} AS cos,
         |  false AS expanded
         |  FROM q CROSS JOIN entries$sfx en
         |  JOIN e$sfx e ON e.vec_id = en.node_id),
         |${walkHop(0, 1, 4, sfx)},
         |${walkHop(1, 2, 4, sfx)},
         |${walkHop(2, 3, 4, sfx)},
         |h$sfx AS (SELECT query_id, node_id, round(cos, 6) AS cos FROM (
         |    SELECT query_id, node_id, cos,
         |      ${rankBy("cos DESC, node_id")} AS rn
         |    FROM s${sfx}3)
         |  WHERE rn <= 20)""".stripMargin
    s"""WITH efa AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> -x) AS v
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |ea AS MATERIALIZED (SELECT vec_id, v FROM efa
       |  WHERE vec_id % 3 <> 1),
       |efb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |eb AS MATERIALIZED (SELECT vec_id, v FROM efb
       |  WHERE vec_id % 7 <> 3),
       |q AS MATERIALIZED (SELECT vec_id AS query_id,
       |    embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |${root("a")},
       |${root("b")},
       |fed AS (SELECT * FROM ha
       |        UNION ALL
       |        SELECT * FROM hb
       |        WHERE NOT (node_id % 5 = 0 AND node_id % 3 <> 1))
       |SELECT query_id, node_id AS neighbor_id, cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, node_id, cos,
       |        ${rankBy("cos DESC, node_id")} AS rank
       |      FROM fed)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---- STREAMED persisted-graph lifecycle, value-checked ----

  /** The STREAMED index lifecycle as VALUES: q_stream_graph_index's
    * two-batch drain (first batch builds, second lands via
    * delta-bounded insert) with the cold build swapped for
    * [[graft.ext.KnnGraphIndex.buildFrom]] over the first batch's
    * EXACT graph — which makes the WHOLE streamed composition
    * deterministic: the oracle replays batch 1's all-pairs graph,
    * batch 2's insertion algebra (the q_graph_insert_exact CTE stack —
    * beam walk, exact intra-delivery pairs, top-k election, back-link
    * merges), and the final tombstone-free live read with max-gen
    * supersession. q_stream_graph_index keeps owning the
    * descent-built lifecycle's recall floor; THIS gate proves the
    * stream → build → insert → liveEdges composition row for row
    * (checkpointed micro-batch boundaries included — the batch split
    * is id parity, so any batch-assignment drift changes the hash).
    */
  private def streamGraphExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val in = graft.Gate.tmpDir("gate_sgx_in_")
    val ckpt = graft.Gate.tmpDir("gate_sgx_ck_")
    val idx = graft.Gate.tmpDir("gate_sgx_idx_") + "/ix"
    embs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    embs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    var delivered = 0
    drain(s, embs.schema, in, ckpt) { (batch, _) =>
      if (delivered == 0) {
        val b = batch.select(col("vec_id"), col("embedding"))
          .localCheckpoint(true)
        graft.ext.KnnGraphIndex.buildFrom(b,
          EmbeddingSearch.knnGraph(b, 3), idx, k = 3)
        ()
      } else graft.ext.KnnGraphIndex.insert(s, idx, batch,
        beamWidth = 4, hops = 3, entryPoints = 4)
      delivered += 1
    }
    graft.ext.KnnGraphIndex
      .liveEdges(graft.ext.IndexStore.snapshot(s, idx))
      .orderBy("vec_id", "rank")
  }

  private val streamGraphExactSql = {
    val hops = (1 to 3).map(h => walkHop(h - 1, h, 4)).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |$exactKnn3,
       |q AS MATERIALIZED (SELECT vec_id AS query_id,
       |                     embedding::DOUBLE[] AS qv
       |                   FROM embeddings WHERE vec_id % 2 = 1),
       |entries AS (SELECT node_id FROM (
       |              SELECT DISTINCT src AS node_id FROM und)
       |            ORDER BY node_id LIMIT 4),
       |s0 AS MATERIALIZED (SELECT q.query_id, en.node_id,
       |  ${cosine("q.qv", "e.v")} AS cos,
       |  false AS expanded
       |  FROM q CROSS JOIN entries en JOIN e ON e.vec_id = en.node_id),
       |$hops,
       |walked AS (SELECT query_id, node_id AS neighbor_id,
       |             round(cos, 6) AS cos FROM s3),
       |intra AS (SELECT a.query_id,
       |            b.query_id AS neighbor_id,
       |            round(${cosine("a.qv", "b.qv")}, 6) AS cos
       |          FROM q a, q b WHERE a.query_id <> b.query_id),
       |newe AS MATERIALIZED (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT * FROM walked UNION ALL SELECT * FROM intra))
       |  WHERE rank <= 3),
       |rev AS (SELECT neighbor_id AS query_id, query_id AS neighbor_id,
       |          cos
       |        FROM newe WHERE neighbor_id % 2 = 0),
       |knge AS (SELECT query_id, vec_id AS neighbor_id,
       |           round(cos, 6) AS cos, rank
       |         FROM r WHERE rank <= 3),
       |merged AS (SELECT query_id, neighbor_id, cos, rank
       |  FROM (SELECT *, ${rankBy("cos DESC, neighbor_id")} AS rank
       |        FROM (SELECT k.query_id, k.neighbor_id, k.cos FROM knge k
       |              WHERE k.query_id IN (SELECT query_id FROM rev)
       |              UNION ALL SELECT * FROM rev))
       |  WHERE rank <= 3),
       |live AS (
       |  SELECT query_id AS vec_id, neighbor_id, cos, rank FROM newe
       |  UNION ALL
       |  SELECT query_id, neighbor_id, cos, rank FROM merged
       |  UNION ALL
       |  SELECT query_id, neighbor_id, cos, rank FROM knge
       |  WHERE query_id NOT IN (SELECT query_id FROM rev))
       |SELECT vec_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
       |FROM live ORDER BY vec_id, rank""".stripMargin
  }

  /** The BARE-STATE streamed lifecycle as VALUES — q_stream_knn's own
    * flow (parquet state dirs, stage-and-swap graph publish, corpus
    * appended only AFTER the inserted graph materializes) with the
    * cold build swapped for the exact kNN graph: the
    * q_stream_graph_exact trick applied to the [[EmbeddingSearch
    * .graphInsert]] composition. [[graft.ext.KnnGraphIndex.insert]]
    * and graphInsert share [[EmbeddingSearch.insertEdges]], but the
    * bare path's WHOLE-GRAPH union (untouched old groups ∪ re-ranked
    * touched groups ∪ new groups) and its state-staging discipline
    * were floor-only over a stream boundary until now (r12 verdict
    * ask #6) — here batch 1 lands the even ids' exact graph, batch
    * 2's odd ids wire in by insert-by-search, and the final published
    * graph hash-checks against the SAME relational replay
    * q_stream_graph_exact uses (identical fixture and knobs, identical
    * final semantics — a touched-but-unchanged node's re-ranked group
    * ≡ its old group, so the index's changed-rows delta publish and
    * the bare path's full-group rewrite read back identically).
    * q_stream_knn keeps owning the descent-built lifecycle's recall
    * floor.
    */
  private def streamKnnExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val in = graft.Gate.tmpDir("gate_sknx_in_")
    val ckpt = graft.Gate.tmpDir("gate_sknx_ck_")
    val state = graft.Gate.tmpDir("gate_sknx_state_")
    embs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    embs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    var delivered = 0
    drain(s, embs.schema, in, ckpt) { (batch, _) =>
      if (delivered == 0) {
        batch.write.mode("append").parquet(s"$state/corpus")
        EmbeddingSearch.knnGraph(s.read.parquet(s"$state/corpus"), 3)
          .write.mode("overwrite").parquet(s"$state/graph_next")
      } else {
        // inserted graph materializes BEFORE the corpus append — the
        // q_stream_knn staging discipline, here hash-checked: an
        // early append would leak the delivery into its own walk
        EmbeddingSearch.graphInsert(s.read.parquet(s"$state/corpus"),
            s.read.parquet(s"$state/graph"), batch, k = 3,
            beamWidth = 4, hops = 3, entryPoints = 4)
          .write.mode("overwrite").parquet(s"$state/graph_next")
        batch.write.mode("append").parquet(s"$state/corpus")
      }
      s.read.parquet(s"$state/graph_next")
        .write.mode("overwrite").parquet(s"$state/graph")
      delivered += 1
    }
    s.read.parquet(s"$state/graph")
      .select(col("query_id").as("vec_id"), col("neighbor_id"),
        col("cos"), col("rank"))
      .orderBy("vec_id", "rank")
  }

  // ---- INCREMENTAL evaluation: summable partials, same oracles ----

  /** [[graft.ext.Eval.classifierCounts]] /
    * [[graft.ext.Eval.classifierMetricsFrom]]: the q_class_eval
    * evaluation recomputed INCREMENTALLY — the scored population
    * splits into three disjoint batches, each contributes per-class
    * (support, predicted_n, tp) count partials, the partials merge by
    * plain sums, and the finisher computes the same P/R/F1. Gated
    * against q_class_eval's OWN oracle: the incremental path must be
    * value-invisible (the nbCount/nbMerge summable-partials law
    * applied to evaluation, so streaming curation keeps running
    * metrics without re-scoring history).
    */
  private def classEvalInc(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val graph = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val labels = embs.select(col("vec_id").as("id"), col("label"))
    val scored = GraphOps.knnClassify(graph, labels, k = 3)
      .join(labels, Seq("id"))
    val parts = (0 until 3).map(i =>
      graft.ext.Eval.classifierCounts(scored.filter(col("id") % 3 === i)))
    graft.ext.Eval.classifierMetricsFrom(
        graft.ext.Eval.classifierCountsMerge(parts))
      .orderBy("clazz")
  }

  /** [[graft.ext.Eval.rankHits]] / [[graft.ext.Eval.rankMetricsFrom]]:
    * q_rank_eval recomputed incrementally — the walk's result lists
    * split by rank parity into two disjoint batches, per-query
    * (n_hit, first_hit, dcg) hit partials merge by sum/min/sum, and
    * the finisher joins the ideal-DCG spine. Same oracle as
    * q_rank_eval: the split must be value-invisible.
    */
  private def rankEvalInc(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
    val results = graft.ext.EmbeddingSearch.graphSearch(embs, exact,
        queries, k = 5, beamWidth = 4, hops = 3, entryPoints = 4)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
    val qrels = queries
      .select(col("vec_id").as("query_id"), col("vec_id").as("id"),
        lit(4).as("rel"))
      .unionByName(exact.filter(col("query_id") < 20)
        .select(col("query_id"), col("neighbor_id").as("id"),
          (lit(4) - col("rank")).as("rel")))
    val parts = Seq(results.filter(col("rank") % 2 === 0),
        results.filter(col("rank") % 2 === 1))
      .map(b => graft.ext.Eval.rankHits(b, qrels))
    graft.ext.Eval.rankMetricsFrom(graft.ext.Eval.rankHitsMerge(parts),
        qrels)
      .orderBy("query_id")
  }

  /** STREAMING evaluation — the rank-metric partials maintained across
    * micro-batches: queries arrive as a stream (the serving shape —
    * evaluation traffic is a query stream, not a batch), each batch
    * runs the deterministic beam walk and appends its per-query
    * (n_hit, first_hit, dcg) HIT PARTIALS ([[graft.ext.Eval.rankHits]])
    * to a running store; after the drain the partials merge by
    * sum/min/sum and the finisher joins the ideal-DCG spine. Batch
    * boundaries cannot change any metric (the merge law EvalSpec pins),
    * so the gate shares q_rank_eval's oracle — running metrics for a
    * streaming curation loop without re-scoring history, value-checked.
    */
  private def streamEval(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val exact = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
    val queries = embs.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val qrels = queries
      .select(col("vec_id").as("query_id"), col("vec_id").as("id"),
        lit(4).as("rel"))
      .unionByName(exact.filter(col("query_id") < 20)
        .select(col("query_id"), col("neighbor_id").as("id"),
          (lit(4) - col("rank")).as("rel")))
      .localCheckpoint(true)
    val in = graft.Gate.tmpDir("gate_seval_in_")
    val ckpt = graft.Gate.tmpDir("gate_seval_ck_")
    val out = graft.Gate.tmpDir("gate_seval_out_")
    queries.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b1")
    queries.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b2")
    drain(s, queries.schema, in, ckpt) { (batch, _) =>
      val results = graft.ext.EmbeddingSearch.graphSearch(embs, exact,
          batch, k = 5, beamWidth = 4, hops = 3, entryPoints = 4)
        .select(col("query_id"), col("neighbor_id").as("id"),
          col("rank"))
      graft.ext.Eval.rankHits(results, qrels)
        .write.mode("append").parquet(out)
    }
    val partials = s.read.schema(
        "query_id LONG, n_hit LONG, first_hit INT, dcg DOUBLE")
      .parquet(out)
    graft.ext.Eval.rankMetricsFrom(
        graft.ext.Eval.rankHitsMerge(Seq(partials)), qrels)
      .orderBy("query_id")
  }

  // ---- label propagation over the kNN graph ----

  /** [[graft.ext.GraphOps.labelPropagate]] on the symmetrized kNN
    * graph: every fifth vector keeps its true label (the clamped
    * seeds), two synchronous majority-vote rounds spread them. The
    * oracle unrolls both rounds relationally — every propagated label
    * is value-checked, not a fixpoint property. Output keeps UNLABELED
    * nodes as NULL rows so coverage is part of the checked result.
    */
  private def labelProp(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val knn = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val edges = knn.unionByName(
      knn.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val seeds = embs.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("label"))
    val labeled = GraphOps.labelPropagate(edges, seeds, iters = 2)
    embs.select(col("vec_id").as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"), col("label"))
      .orderBy("id")
  }

  private val labelPropSql = {
    def round(prev: String, cur: String) =
      s"""v_$cur AS (SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN l_$prev l ON l.id = e.src GROUP BY 1, 2),
         |m_$cur AS (SELECT id, max(c) AS c FROM v_$cur GROUP BY id),
         |w_$cur AS (SELECT v.id, min(v.label) AS label
         |  FROM v_$cur v JOIN m_$cur m ON m.id = v.id AND m.c = v.c
         |  GROUP BY v.id),
         |l_$cur AS (SELECT * FROM l_0
         |  UNION ALL
         |  SELECT id, label FROM w_$cur
         |  WHERE id NOT IN (SELECT id FROM l_0))""".stripMargin
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id,
       |             ${cosine("a.v", "b.v")} AS cos
       |      FROM e0 a, e0 b WHERE a.vec_id <> b.vec_id),
       |$cosRanked,
       |knn AS (SELECT query_id AS src, vec_id AS dst FROM r WHERE rank <= 3),
       |edges AS (SELECT src, dst FROM knn
       |          UNION SELECT dst, src FROM knn),
       |l_0 AS (SELECT vec_id AS id, label FROM embeddings
       |        WHERE vec_id % 5 = 0),
       |${round("0", "1")},
       |${round("1", "2")}
       |SELECT e.vec_id AS id, l.label
       |FROM embeddings e LEFT JOIN l_2 l ON l.id = e.vec_id
       |ORDER BY id""".stripMargin
  }

  // ---- incremental min-label propagation over the kNN graph ----

  /** [[graft.ext.GraphOps.minLabelFold]]: the monotone (fixpoint
    * min-label) member of the label-prop family maintained
    * INCREMENTALLY — standing labels computed over the first 60% of
    * the kNN graph, then the remaining nodes and every edge touching
    * them fold in at delta cost (affected components re-elect, the
    * rest carry over verbatim). The result must equal the from-scratch
    * fixpoint over the FULL graph, which the oracle computes exactly
    * with a recursive reachability CTE (the q_dup_clusters_inc
    * contract applied to labels) — every propagated label
    * value-checked, no iteration-count coupling.
    */
  private def labelPropInc(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val knn = s.read.parquet(s"${sharedKnnGraph(s, d)}/knn")
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    val nodes = embs.select(col("vec_id").as("id"),
      when(col("vec_id") % 5 === 0, col("label")).as("seed"))
    val b = embs.count() * 3 / 5
    val prev = GraphOps.minLabelPropagate(
        nodes.filter(col("id") < b),
        knn.filter(col("id_a") < b && col("id_b") < b),
        parallelism = Some(8))
      .localCheckpoint(true)
    GraphOps.minLabelFold(prev,
        nodes.filter(col("id") >= b),
        knn.filter(col("id_a") >= b || col("id_b") >= b),
        parallelism = Some(8))
      .select(col("id"), col("label"))
      .orderBy("id")
  }

  private val labelPropIncSql =
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$allPairsCos,
       |$cosRanked,
       |knn AS (SELECT query_id AS src, vec_id AS dst FROM r
       |        WHERE rank <= 3),
       |edges AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT ed.dst AS id, reach.r FROM edges ed
       |  JOIN reach ON reach.id = ed.src),
       |seeds AS (SELECT vec_id AS id, label FROM embeddings
       |          WHERE vec_id % 5 = 0),
       |lab AS (SELECT reach.id, min(s.label) AS label
       |        FROM reach JOIN seeds s ON s.id = reach.r
       |        GROUP BY reach.id)
       |SELECT emb.vec_id AS id, l.label
       |FROM embeddings emb LEFT JOIN lab l ON l.id = emb.vec_id
       |ORDER BY id""".stripMargin

  // ---- paragraph-level exact dedup (the C4 boilerplate scrub) ----

  /** The paragraph-structured derived corpus: each document splits
    * into 25-token paragraphs, and every document appends one of three
    * boilerplate footers (`... edition {id % 3}`) — the planted
    * cross-document repetition a crawl actually has. Both the Spark
    * gate and the oracle derive this corpus identically.
    */
  private def paraCorpus(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id").as("id"), toks.as("toks"))
      .select(col("id"), concat(
        transform(
          sequence(lit(0),
            (ceil(size(col("toks")) / lit(25.0)) - 1).cast("int")),
          i => array_join(slice(col("toks"), i * 25 + 1, lit(25)), " ")),
        array(concat(lit("subscribe to our newsletter edition "),
          col("id") % 3))).as("paras"))
      .select(col("id"), posexplode(col("paras")).as(Seq("idx", "para")))
  }

  private def paragraphDedup(s: SparkSession, d: String): DataFrame =
    TextAnalysis.paragraphDedup(paraCorpus(s, d),
      col("id"), col("idx"), col("para"))
      .orderBy("id")

  private val paragraphDedupSql =
    s"""WITH ${docTokens("tok", "documents")},
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
       |           FROM paras)
       |SELECT id,
       |       count(*) AS n_paras,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS kept_paras,
       |       coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
       |                           chr(10) ORDER BY idx), '') AS clean_text
       |FROM marked GROUP BY id ORDER BY id""".stripMargin

  // ---- incremental paragraph-dedup registry ----

  /** [[graft.ext.ParagraphIndex]]: the registry is built from the
    * first 400 documents' paragraphs, then the remaining documents
    * arrive as a delivery and scrub against everything seen — without
    * re-reading the base corpus. Because the keeper election is an
    * associative `min(struct(id, idx))` and ids grow with arrival
    * order, the incremental result must equal a from-scratch global
    * [[TextAnalysis.paragraphDedup]] restricted to the delivery's
    * documents — which is exactly what the oracle computes (the full
    * marked CTE, filtered to id ≥ 400).
    */
  private def paragraphDedupInc(s: SparkSession, d: String): DataFrame = {
    val all = paraCorpus(s, d)
    val root = graft.Gate.tmpDir("gate_para_idx_") + "/ix"
    graft.ext.ParagraphIndex.build(all.filter(col("id") < 400),
      col("id"), col("idx"), col("para"), root)
    graft.ext.ParagraphIndex.ingestBatch(s, root,
      all.filter(col("id") >= 400), col("id"), col("idx"), col("para"))
      .orderBy("id")
  }

  private val paragraphDedupIncSql =
    s"""WITH ${docTokens("tok", "documents")},
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
       |           FROM paras)
       |SELECT id,
       |       count(*) AS n_paras,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS kept_paras,
       |       coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
       |                           chr(10) ORDER BY idx), '') AS clean_text
       |FROM marked WHERE id >= 400 GROUP BY id ORDER BY id""".stripMargin

  /** The streaming twin of [[paragraphDedupInc]] — the crawl-ingest
    * loop as it actually runs: deliveries tail in as a file stream and
    * each micro-batch scrubs-then-registers under `foreachBatch` ×
    * [[graft.ext.ParagraphIndex.ingestBatch]]. Deliveries are id-range
    * split (files process oldest-first), preserving the
    * ids-grow-with-arrival invariant the min-law composition needs, so
    * the two-batch drain is batch-boundary-invariant and the SAME
    * from-scratch oracle as the incremental gate scores it.
    */
  private def streamParagraph(s: SparkSession, d: String): DataFrame = {
    import graft.ext.ParagraphIndex
    val all = paraCorpus(s, d)
    val root = graft.Gate.tmpDir("gate_spara_root_") + "/ix"
    ParagraphIndex.build(all.filter(col("id") < 400),
      col("id"), col("idx"), col("para"), root)
    val in = graft.Gate.tmpDir("gate_spara_in_")
    val ckpt = graft.Gate.tmpDir("gate_spara_ck_")
    val out = graft.Gate.tmpDir("gate_spara_out_")
    all.filter(col("id") >= 400 && col("id") < 450).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    all.filter(col("id") >= 450).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, "id LONG, idx INT, para STRING", in, ckpt) { (batch, bid) =>
      ParagraphIndex.ingestBatch(s, root, batch,
          col("id"), col("idx"), col("para"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/b-$bid")
    }
    s.read.option("recursiveFileLookup", "true").parquet(out)
      .orderBy("id")
  }

  // ---- WordPiece greedy longest-match segmentation ----

  /** [[graft.ext.TextAnalysis.wordpieceSegment]] under a corpus-derived
    * vocabulary (all single characters in both positions, the 10 most
    * frequent words whole, the next 10's 4-char prefixes and ##
    * 4-char suffixes — every rule relational, so the oracle rebuilds
    * the identical vocab). The oracle then replays greedy
    * longest-match-first EXACTLY: a non-recursive (word, position) →
    * longest-matching-piece table (argmax by length over the vocab
    * join), and a recursive CTE that walks each word through it —
    * every piece of every segmentation value-checked, the q_bpe_large
    * pattern applied to the other production tokenizer family.
    */
  private def wordpieceApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val words = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val top = words.orderBy(col("cnt").desc, col("w")).limit(20)
      .as[(String, Long)].collect()
    val (topWhole, donors) = top.map(_._1).splitAt(10)
    val chars = words.select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "").distinct().as[String].collect()
    val vocab = (chars.toSeq.flatMap(c => Seq(c, "##" + c)) ++
      topWhole ++ donors.map(_.take(4)) ++
      donors.map(w => "##" + w.takeRight(4))).distinct
    TextAnalysis.wordpieceSegment(docs, col("text"), vocab)
      .select(col("w"), col("cnt"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  private val wordpieceApplySql =
    s"""WITH RECURSIVE tok AS (SELECT
       |    ${tokenize("text")} AS toks
       |  FROM documents),
       |words AS (SELECT w, count(*) AS cnt
       |          FROM (SELECT unnest(toks) AS w FROM tok)
       |          WHERE w <> '' GROUP BY w),
       |top20 AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
       |          FROM words QUALIFY rk <= 20),
       |chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS c
       |          FROM (SELECT w, unnest(range(length(w))) AS ci FROM words)),
       |vocab AS (
       |  SELECT c AS piece, false AS cont, c AS raw FROM chars
       |  UNION SELECT '##' || c, true, c FROM chars
       |  UNION SELECT w, false, w FROM top20 WHERE rk <= 10
       |  UNION SELECT left(w, 4), false, left(w, 4) FROM top20
       |    WHERE rk > 10
       |  UNION SELECT '##' || right(w, 4), true, right(w, 4) FROM top20
       |    WHERE rk > 10),
       |positions AS (SELECT w, p0 + 1 AS pos
       |  FROM (SELECT w, unnest(range(length(w))) AS p0 FROM words)),
       |matches AS (SELECT p.w, p.pos, v.piece, length(v.raw) AS len
       |  FROM positions p JOIN vocab v
       |    ON v.cont = (p.pos > 1)
       |   AND substr(p.w, p.pos, length(v.raw)) = v.raw),
       |best AS (SELECT w, pos, piece, len FROM (
       |    SELECT *, row_number() OVER (PARTITION BY w, pos
       |      ORDER BY len DESC, piece) AS rn FROM matches)
       |  WHERE rn = 1),
       |seg AS (
       |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS pieces FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + b.len, s.pieces || ' ' || b.piece
       |  FROM seg s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos <= length(s.w)),
       |done AS (SELECT w, trim(pieces) AS pieces_str FROM seg
       |         WHERE pos = length(w) + 1)
       |SELECT wo.w, wo.cnt, coalesce(d.pieces_str, '[UNK]') AS pieces_str
       |FROM words wo LEFT JOIN done d ON d.w = wo.w
       |ORDER BY wo.w""".stripMargin

  // ---- unigram-LM-shape minimum-cost segmentation ----

  /** [[graft.ext.TextAnalysis.minCostSegment]] under a corpus-derived
    * integer cost table (single chars cost 3, top-10 words cost 1, the
    * next 10's 4-char prefixes/suffixes cost 2 — collisions resolve to
    * the MIN cost, both engines). Unlike the greedy gates this one has
    * real optimization structure: the DP can pick a shorter prefix to
    * reach a cheaper tail. The oracle unrolls the Viterbi DP
    * relationally — one CTE level per word position (max token length
    * in the corpus is 8; 12 levels for headroom), each level the argmin
    * by (cost, pieces) over the ≤8 piece lengths ending there — so
    * every cost and every piece sequence is value-checked.
    */
  private def minCostSegment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val words = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val top = words.orderBy(col("cnt").desc, col("w")).limit(20)
      .as[(String, Long)].collect()
    val (topWhole, donors) = top.map(_._1).splitAt(10)
    val chars = words.select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "").distinct().as[String].collect()
    val raw = chars.toSeq.map(_ -> 3) ++ topWhole.map(_ -> 1) ++
      donors.map(_.take(4) -> 2) ++ donors.map(_.takeRight(4) -> 2)
    val costs = raw.groupBy(_._1).map { case (p, cs) =>
      p -> cs.map(_._2).min }
    TextAnalysis.minCostSegment(docs, col("text"), costs)
      .select(col("w"), col("cnt"), col("cost"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  /** The unrolled Viterbi-DP CTE stack over `vocab`, with CTE names
    * prefixed `pre` — shared by the segmentation and pruning oracles.
    * Produces `${pre}fin` with (w, cost, pieces, p); join on
    * p = length(w) for each word's optimum.
    */
  private def dpStack(vocab: String, pre: String): String = {
    def level(p: Int) = {
      val branches = (1 to math.min(8, p)).map { l =>
        s"""SELECT b.w, b.cost + v.cost AS cost,
           |  CASE WHEN b.pieces = '' THEN v.piece
           |       ELSE b.pieces || ' ' || v.piece END AS pieces
           |FROM $pre${p - l} b JOIN $vocab v
           |  ON v.len = $l AND length(b.w) >= $p
           | AND substr(b.w, ${p - l + 1}, $l) = v.piece""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$pre$p AS MATERIALIZED (SELECT w, cost, pieces FROM (
         |  SELECT w, cost, pieces,
         |         row_number() OVER (PARTITION BY w
         |                            ORDER BY cost, pieces) AS rn
         |  FROM (
         |$branches
         |)) WHERE rn = 1)""".stripMargin
    }
    val levels = (1 to 12).map(level).mkString(",\n")
    val fin = (1 to 12)
      .map(p => s"SELECT w, cost, pieces, $p AS p FROM $pre$p")
      .mkString("\nUNION ALL\n")
    s"""${pre}0 AS MATERIALIZED (SELECT w, 0 AS cost,
       |       CAST('' AS VARCHAR) AS pieces
       |       FROM words),
       |$levels,
       |${pre}fin AS (
       |$fin)""".stripMargin
  }

  private val minCostSegmentSql = {
    s"""WITH tok AS (SELECT
       |    ${tokenize("text")} AS toks
       |  FROM documents),
       |words AS MATERIALIZED (SELECT w, count(*) AS cnt
       |          FROM (SELECT unnest(toks) AS w FROM tok)
       |          WHERE w <> '' GROUP BY w),
       |top20 AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
       |          FROM words QUALIFY rk <= 20),
       |chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS c
       |          FROM (SELECT w, unnest(range(length(w))) AS ci FROM words)),
       |vocab0 AS (
       |  SELECT c AS piece, 3 AS cost FROM chars
       |  UNION ALL SELECT w, 1 FROM top20 WHERE rk <= 10
       |  UNION ALL SELECT left(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT right(w, 4), 2 FROM top20 WHERE rk > 10),
       |vocabc AS MATERIALIZED (SELECT piece,
       |                  CAST(min(cost) AS INTEGER) AS cost,
       |                  length(piece) AS len
       |           FROM vocab0 GROUP BY piece),
       |${dpStack("vocabc", "b")}
       |SELECT wo.w, wo.cnt,
       |       CAST(coalesce(f.cost, -1) AS INTEGER) AS cost,
       |       coalesce(f.pieces, '[UNK]') AS pieces_str
       |FROM words wo LEFT JOIN bfin f
       |  ON f.w = wo.w AND f.p = length(wo.w)
       |ORDER BY wo.w""".stripMargin
  }

  // ---- unigram vocabulary pruning (the training step) ----

  /** [[graft.ext.TextAnalysis.unigramPrune]]: the candidate table is
    * the q_unigram_segment vocab PLUS every distinct 2-char substring
    * (cost 2) — an over-complete candidate set, the unigram-training
    * starting point. One prune round segments, counts weighted piece
    * usage, drops multi-char pieces used fewer than total-words/50
    * times (a data-derived threshold so the gate prunes meaningfully
    * at every SF), and re-segments. The oracle replays BOTH Viterbi
    * passes (two unrolled DP stacks), the usage count, and the prune
    * filter — every post-prune cost and piece sequence value-checked.
    */
  /** The distinct-word relation the whole segmentation family derives
    * from — never collected (tens of millions of rows of unbounded
    * junk tokens at 100 TB).
    */
  private def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** The over-complete unigram candidate cost table shared by the
    * prune and train gates: every distinct character (cost 3, the
    * base alphabet), the top-10 words whole (cost 1), the next 10's
    * 4-char prefixes/suffixes (cost 2), and every distinct 2-char
    * substring (cost 2) — the unigram-training starting point.
    * Candidate DERIVATION is fully relational — the 2-grams come from
    * an in-plan substring explode + distinct, the same shape as the
    * chars derivation — and only the BOUNDED relations are collected
    * (distinct chars ≤ |alphabet|, distinct 2-grams ≤ |alphabet|²,
    * top-20 words): the r9-flagged all-distinct-words driver collect
    * is gone from the flow.
    */
  private def unigramCandidates(s: SparkSession,
      words: DataFrame): Map[String, Int] = {
    import s.implicits._
    val top = words.orderBy(col("cnt").desc, col("w")).limit(20)
      .as[(String, Long)].collect()
    val (topWhole, donors) = top.map(_._1).splitAt(10)
    val chars = words.select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "").distinct().as[String].collect()
    val grams2 = words.filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
        .as("g"))
      .distinct().as[String].collect()
    val raw = chars.toSeq.map(_ -> 3) ++ topWhole.map(_ -> 1) ++
      donors.map(_.take(4) -> 2) ++ donors.map(_.takeRight(4) -> 2) ++
      grams2.toSeq.map(_ -> 2)
    raw.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).min }
  }

  private def unigramPrune(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = wordCounts(docs)
    val costs = unigramCandidates(s, words)
    val total = words.agg(sum("cnt")).head().getLong(0)
    val (_, second) = TextAnalysis.unigramPrune(docs, col("text"),
      costs, minUses = total / 50)
    second
      .select(col("w"), col("cnt"), col("cost"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  private val unigramPruneSql =
    s"""WITH tok AS (SELECT
       |    ${tokenize("text")} AS toks
       |  FROM documents),
       |words AS MATERIALIZED (SELECT w, count(*) AS cnt
       |          FROM (SELECT unnest(toks) AS w FROM tok)
       |          WHERE w <> '' GROUP BY w),
       |top20 AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
       |          FROM words QUALIFY rk <= 20),
       |chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS c
       |          FROM (SELECT w, unnest(range(length(w))) AS ci FROM words)),
       |grams2 AS (SELECT DISTINCT substr(w, gi + 1, 2) AS g
       |           FROM (SELECT w, unnest(range(length(w) - 1)) AS gi
       |                 FROM words WHERE length(w) >= 2)),
       |vocab0 AS (
       |  SELECT c AS piece, 3 AS cost FROM chars
       |  UNION ALL SELECT w, 1 FROM top20 WHERE rk <= 10
       |  UNION ALL SELECT left(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT right(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT g, 2 FROM grams2),
       |vocabc AS MATERIALIZED (SELECT piece,
       |                  CAST(min(cost) AS INTEGER) AS cost,
       |                  length(piece) AS len
       |           FROM vocab0 GROUP BY piece),
       |${dpStack("vocabc", "a")},
       |done1 AS (SELECT wo.w, wo.cnt, f.pieces
       |          FROM words wo JOIN afin f
       |            ON f.w = wo.w AND f.p = length(wo.w)),
       |usage AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS uses
       |  FROM (SELECT cnt, unnest(string_split(pieces, ' ')) AS piece
       |        FROM done1)
       |  GROUP BY piece),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM words),
       |vocab2 AS MATERIALIZED (
       |  SELECT v.piece, v.cost, v.len
       |  FROM vocabc v LEFT JOIN usage u ON u.piece = v.piece, tot
       |  WHERE v.len = 1 OR coalesce(u.uses, 0) >= tot.t // 50),
       |${dpStack("vocab2", "c")}
       |SELECT wo.w, wo.cnt,
       |       CAST(coalesce(f.cost, -1) AS INTEGER) AS cost,
       |       coalesce(f.pieces, '[UNK]') AS pieces_str
       |FROM words wo LEFT JOIN cfin f
       |  ON f.w = wo.w AND f.p = length(wo.w)
       |ORDER BY wo.w""".stripMargin

  // ---- unigram-LM TRAINING: prune iterated to a fixpoint ----

  /** [[graft.ext.TextAnalysis.unigramTrain]]: the full SentencePiece
    * training schedule over the same over-complete candidate table —
    * segment → count usage → prune → re-segment, iterated (maxRounds
    * = 2 here; early-stop at the fixpoint is idempotent, so the
    * oracle's FIXED two-round replay matches wherever convergence
    * lands). The threshold (total-words/30) prunes more aggressively
    * than q_unigram_prune's /50, so the first round's re-segmentation
    * measurably shifts usage and the second round has real work. The
    * oracle replays BOTH rounds relationally: three unrolled Viterbi
    * DP stacks with the two usage-count/prune filters between them —
    * every post-training cost and piece sequence value-checked.
    */
  private def unigramTrainGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = wordCounts(docs)
    val costs = unigramCandidates(s, words)
    val total = words.agg(sum("cnt")).head().getLong(0)
    val (_, seg, _) = TextAnalysis.unigramTrain(docs, col("text"),
      costs, minUses = total / 30, maxRounds = 2)
    seg
      .select(col("w"), col("cnt"), col("cost"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  private val unigramTrainSql = {
    def usageAndPrune(doneFrom: String, fromVocab: String,
        toVocab: String, n: Int): String =
      s"""done$n AS (SELECT wo.w, wo.cnt, f.pieces
         |  FROM words wo JOIN ${doneFrom}fin f
         |    ON f.w = wo.w AND f.p = length(wo.w)),
         |usage$n AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS uses
         |  FROM (SELECT cnt, unnest(string_split(pieces, ' ')) AS piece
         |        FROM done$n)
         |  GROUP BY piece),
         |$toVocab AS MATERIALIZED (
         |  SELECT v.piece, v.cost, v.len
         |  FROM $fromVocab v LEFT JOIN usage$n u ON u.piece = v.piece, tot
         |  WHERE v.len = 1 OR coalesce(u.uses, 0) >= tot.t // 30)""".stripMargin
    s"""WITH tok AS (SELECT
       |    ${tokenize("text")} AS toks
       |  FROM documents),
       |words AS MATERIALIZED (SELECT w, count(*) AS cnt
       |          FROM (SELECT unnest(toks) AS w FROM tok)
       |          WHERE w <> '' GROUP BY w),
       |top20 AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
       |          FROM words QUALIFY rk <= 20),
       |chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS c
       |          FROM (SELECT w, unnest(range(length(w))) AS ci FROM words)),
       |grams2 AS (SELECT DISTINCT substr(w, gi + 1, 2) AS g
       |           FROM (SELECT w, unnest(range(length(w) - 1)) AS gi
       |                 FROM words WHERE length(w) >= 2)),
       |vocab0 AS (
       |  SELECT c AS piece, 3 AS cost FROM chars
       |  UNION ALL SELECT w, 1 FROM top20 WHERE rk <= 10
       |  UNION ALL SELECT left(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT right(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT g, 2 FROM grams2),
       |vocabc AS MATERIALIZED (SELECT piece,
       |                  CAST(min(cost) AS INTEGER) AS cost,
       |                  length(piece) AS len
       |           FROM vocab0 GROUP BY piece),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM words),
       |${dpStack("vocabc", "a")},
       |${usageAndPrune("a", "vocabc", "vocab2", 1)},
       |${dpStack("vocab2", "c")},
       |${usageAndPrune("c", "vocab2", "vocab3", 2)},
       |${dpStack("vocab3", "e")}
       |SELECT wo.w, wo.cnt,
       |       CAST(coalesce(f.cost, -1) AS INTEGER) AS cost,
       |       coalesce(f.pieces, '[UNK]') AS pieces_str
       |FROM words wo LEFT JOIN efin f
       |  ON f.w = wo.w AND f.p = length(wo.w)
       |ORDER BY wo.w""".stripMargin
  }

  // ---- unigram-LM EM training: prune + integer-log2 cost M-step ----

  /** [[graft.ext.TextAnalysis.unigramTrainEm]]: two EM rounds over the
    * same candidate table — segment, prune (threshold total/50), and
    * RE-DERIVE every survivor's cost as the integer log₂ of its
    * inverse usage share (`1 + bitlength(totalUses / max(uses,1))`) —
    * exact integer arithmetic both engines replay bit-identically, no
    * float log in the argmin path. The oracle unrolls both rounds:
    * three Viterbi DP stacks with usage-count → prune → re-cost
    * between them, every final cost and piece sequence value-checked.
    */
  private def unigramEmGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = wordCounts(docs)
    val costs = unigramCandidates(s, words)
    val total = words.agg(sum("cnt")).head().getLong(0)
    val (_, seg, _) = TextAnalysis.unigramTrainEm(docs, col("text"),
      costs, minUses = total / 50, rounds = 2)
    seg
      .select(col("w"), col("cnt"), col("cost"),
        array_join(col("pieces"), " ").as("pieces_str"))
      .orderBy("w")
  }

  private val unigramEmSql = {
    def emStep(doneFrom: String, fromVocab: String, toVocab: String,
        n: Int): String =
      s"""done$n AS (SELECT wo.w, wo.cnt, f.pieces
         |  FROM words wo JOIN ${doneFrom}fin f
         |    ON f.w = wo.w AND f.p = length(wo.w)),
         |usage$n AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS uses
         |  FROM (SELECT cnt, unnest(string_split(pieces, ' ')) AS piece
         |        FROM done$n)
         |  GROUP BY piece),
         |totu$n AS (SELECT CAST(sum(uses) AS BIGINT) AS t FROM usage$n),
         |$toVocab AS MATERIALIZED (
         |  SELECT v.piece,
         |         CAST(1 + length(bin(tu.t
         |           // greatest(coalesce(u.uses, 0), 1))) AS INTEGER)
         |           AS cost,
         |         v.len
         |  FROM $fromVocab v LEFT JOIN usage$n u ON u.piece = v.piece,
         |       totu$n tu, tot
         |  WHERE v.len = 1 OR coalesce(u.uses, 0) >= tot.t // 50)""".stripMargin
    s"""WITH tok AS (SELECT
       |    ${tokenize("text")} AS toks
       |  FROM documents),
       |words AS MATERIALIZED (SELECT w, count(*) AS cnt
       |          FROM (SELECT unnest(toks) AS w FROM tok)
       |          WHERE w <> '' GROUP BY w),
       |top20 AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
       |          FROM words QUALIFY rk <= 20),
       |chars AS (SELECT DISTINCT substr(w, ci + 1, 1) AS c
       |          FROM (SELECT w, unnest(range(length(w))) AS ci FROM words)),
       |grams2 AS (SELECT DISTINCT substr(w, gi + 1, 2) AS g
       |           FROM (SELECT w, unnest(range(length(w) - 1)) AS gi
       |                 FROM words WHERE length(w) >= 2)),
       |vocab0 AS (
       |  SELECT c AS piece, 3 AS cost FROM chars
       |  UNION ALL SELECT w, 1 FROM top20 WHERE rk <= 10
       |  UNION ALL SELECT left(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT right(w, 4), 2 FROM top20 WHERE rk > 10
       |  UNION ALL SELECT g, 2 FROM grams2),
       |vocabc AS MATERIALIZED (SELECT piece,
       |                  CAST(min(cost) AS INTEGER) AS cost,
       |                  length(piece) AS len
       |           FROM vocab0 GROUP BY piece),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM words),
       |${dpStack("vocabc", "a")},
       |${emStep("a", "vocabc", "vocab2", 1)},
       |${dpStack("vocab2", "c")},
       |${emStep("c", "vocab2", "vocab3", 2)},
       |${dpStack("vocab3", "e")}
       |SELECT wo.w, wo.cnt,
       |       CAST(coalesce(f.cost, -1) AS INTEGER) AS cost,
       |       coalesce(f.pieces, '[UNK]') AS pieces_str
       |FROM words wo LEFT JOIN efin f
       |  ON f.w = wo.w AND f.p = length(wo.w)
       |ORDER BY wo.w""".stripMargin
  }

  // ---- Gopher-style quality rule bank ----

  /** [[graft.ext.TextAnalysis.qualityRules]] with the default Gopher
    * bank: one codegen'd projection per document reporting which hard
    * rules failed (joined to a string — the driver compare treats
    * arrays poorly). The oracle restates every predicate in SQL, so
    * thresholds and tokenization are value-checked.
    */
  private def qualityRules(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityRules(Tables.documents(s, d),
      col("doc_id"), col("text"),
      TextAnalysis.gopherRules(col("text")))
      .select(col("id"), col("n_words"),
        array_join(col("failed"), ",").as("failed_rules"), col("pass"))
      .orderBy("id")

  private val qualityRulesSql =
    s"""WITH ${docTokens("t", "documents")},
       |m AS (SELECT id,
       |        len(toks) AS n_words,
       |        list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |          / len(toks) AS mean_len,
       |        len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
       |          / len(toks) AS alpha_ratio,
       |        len(list_filter(toks,
       |          x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS n_stop,
       |        1.0 - len(list_distinct(toks))::DOUBLE / len(toks) AS dup_frac
       |      FROM t),
       |f AS (SELECT id, CAST(n_words AS INTEGER) AS n_words,
       |        list_sort(list_filter([
       |          CASE WHEN n_words < 50 THEN 'too_short' END,
       |          CASE WHEN n_words > 100000 THEN 'too_long' END,
       |          CASE WHEN mean_len < 3 OR mean_len > 10
       |            THEN 'word_length' END,
       |          CASE WHEN alpha_ratio < 0.8 THEN 'alpha_ratio' END,
       |          CASE WHEN n_stop < 2 THEN 'stopwords' END,
       |          CASE WHEN dup_frac > 0.8 THEN 'dup_fraction' END],
       |          x -> x IS NOT NULL)) AS failed
       |      FROM m)
       |SELECT id, n_words,
       |       coalesce(array_to_string(failed, ','), '') AS failed_rules,
       |       len(failed) = 0 AS pass
       |FROM f ORDER BY id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_knn_graph", knnGraph, Some(knnGraphSql)),
    Gate("q_knn_graph_blocked", knnGraphBlocked, Some(graphFloorOk)),
    Gate("q_nn_descent", nnDescentGate, Some(graphFloorOk)),
    Gate("q_nn_descent_exact", nnDescentExact, Some(nnDescentExactSql)),
    Gate("q_nn_descent_warm_exact", nnDescentWarmExact,
      Some(nnDescentWarmExactSql)),
    Gate("q_search_graph_hub_exact", searchGraphHubExact,
      Some(searchGraphHubExactSql)),
    Gate("q_search_graph", searchGraph, Some(searchFloorOk)),
    Gate("q_search_graph_exact", searchGraphExact,
      Some(searchGraphExactSql)),
    Gate("q_graph_insert_exact", graphInsertExact,
      Some(graphInsertExactSql)),
    Gate("q_graph_index_exact", graphIndexExact,
      Some(graphIndexExactSql)),
    Gate("q_graph_serve", graphServe, Some(graphServeSql)),
    Gate("q_graph_insert_tick", graphInsertTick,
      Some(graphInsertTickSql)),
    Gate("q_graph_fed_serve", graphFedServe, Some(graphFedServeSql)),
    Gate("q_search_graph_filtered", searchGraphFiltered,
      Some(searchFloorOk)),
    Gate("q_search_graph_filtered_exact", searchGraphFilteredExact,
      Some(searchGraphFilteredExactSql)),
    Gate("q_graph_hub_persist_exact", graphHubPersistExact,
      Some(graphHubPersistExactSql)),
    Gate("q_graph_filtered_persist", graphFilteredPersist,
      Some(searchGraphFilteredExactSql)),
    Gate("q_graph_hub_persist", graphHubPersist,
      Some(searchFloorOk)),
    Gate("q_graph_stats", graphStats, Some(graphStatsSql)),
    Gate("q_recall_probe", recallProbeGate, Some(recallProbeSql)),
    Gate("q_graph_federate", graphFederate, Some(graphFederateSql)),
    Gate("q_stream_graph_exact", streamGraphExact,
      Some(streamGraphExactSql)),
    Gate("q_stream_knn_exact", streamKnnExact,
      Some(streamGraphExactSql)),
    Gate("q_class_eval_inc", classEvalInc, Some(classEvalSql)),
    Gate("q_rank_eval_inc", rankEvalInc, Some(rankEvalSql)),
    Gate("q_stream_eval", streamEval, Some(rankEvalSql)),
    Gate("q_knn_classify", knnClassify, Some(knnClassifySql)),
    Gate("q_class_eval", classEval, Some(classEvalSql)),
    Gate("q_cluster_eval", clusterEval, Some(clusterEvalSql)),
    Gate("q_rank_eval", rankEval, Some(rankEvalSql)),
    Gate("q_label_prop", labelProp, Some(labelPropSql)),
    Gate("q_label_prop_inc", labelPropInc, Some(labelPropIncSql)),
    Gate("q_paragraph_dedup", paragraphDedup, Some(paragraphDedupSql)),
    Gate("q_paragraph_dedup_inc", paragraphDedupInc,
      Some(paragraphDedupIncSql)),
    Gate("q_stream_paragraph", streamParagraph,
      Some(paragraphDedupIncSql)),
    Gate("q_wordpiece_apply", wordpieceApply, Some(wordpieceApplySql)),
    Gate("q_unigram_segment", minCostSegment, Some(minCostSegmentSql)),
    Gate("q_unigram_prune", unigramPrune, Some(unigramPruneSql)),
    Gate("q_unigram_train", unigramTrainGate, Some(unigramTrainSql)),
    Gate("q_unigram_em", unigramEmGate, Some(unigramEmSql)),
    Gate("q_quality_rules", qualityRules, Some(qualityRulesSql)),
  )
}
