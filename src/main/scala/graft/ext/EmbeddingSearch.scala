package graft.ext

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
  StructField, StructType}

/** Similarity search over an `Array[Float]` embedding column:
  * brute-force cosine top-k as the exact baseline, plus a random-hyperplane
  * LSH bucketed variant as the scale path (queries only compare against
  * their hash bucket instead of the full corpus).
  *
  * All vector math is higher-order-function expressions (`zip_with` +
  * `aggregate`) over `array<double>` — codegen'd, no UDF serialization,
  * and the left-to-right fold order is deterministic, which keeps results
  * reproducible and oracle-comparable.
  */
object EmbeddingSearch {

  /** Sequential-fold dot product of two double arrays — the native
    * codegen'd [[graft.functions.DotProduct]] expression (the HOF spelling
    * `aggregate(zip_with(..))` runs interpreted per element; same fold
    * order, bit-identical results).
    */
  def dot(a: Column, b: Column): Column =
    Bridge.toColumn(
      graft.functions.DotProduct(Bridge.toExpr(a), Bridge.toExpr(b)))

  /** HOF spelling kept for comparison/benchmarks. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance between two array<double> columns (sequential
    * fold — deterministic, shared by the quantizers in [[PqIndex]] and
    * [[IvfIndex]]).
    */
  private[ext] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Corpus projected to (vec_id, v: array<double>, nrm: self-dot). */
  def prepared(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))

  /** [[prepared]] rows as the query side of a search:
    * `(query_id, qv, qnrm)` plus any `extra` columns.
    */
  private[ext] def asQueries(rows: DataFrame, extra: Column*): DataFrame =
    rows.select(Seq(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qnrm")) ++ extra: _*)

  /** The exact re-rank that ends every exact and candidate search here
    * and in the index families ([[IvfIndex]], [[BinaryIndex]],
    * [[PqIndex]], [[SqIndex]], [[IvfPqIndex]]): the
    * cosine of each candidate row (query `qv`/`qnrm`, corpus `v`/`nrm`),
    * and each query's top `k` by cosine (ties → smaller vec_id) as
    * `(query_id, neighbor_id, cos rounded to 6 digits, rank)`.
    */
  private[ext] def rerankTopK(cand: DataFrame, k: Int): DataFrame = {
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .withColumn("cos",
        dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Exact top-k neighbors for each query row (queries ⊂ corpus, selected
    * by `queryPred`). The query side is broadcast — the corpus streams
    * through once, so the cost is one scan regardless of corpus size;
    * ranking is a per-query-partition window (top-k, never a global sort).
    */
  def bruteForceTopK(embs: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = prepared(embs)
    rerankTopK(e.join(broadcast(asQueries(e.filter(queryPred))),
      col("vec_id") =!= col("query_id")), k)
  }

  /** Exact k-nearest-neighbor GRAPH: every corpus row is a query, top-k
    * cosine neighbors each (self excluded), ties → smaller vec_id. The
    * substrate for graph algorithms over embedding similarity —
    * [[GraphOps.labelPropagate]] seeds spread over it, cluster keepers
    * rank by it.
    *
    * This exact spelling is the small/medium-corpus baseline (and the
    * oracle): all-pairs is inherently quadratic, so it is priced for
    * corpora that fit a broadcast (≲10⁶ rows), same shape as
    * [[bruteForceTopK]] with every row on the query side. At 100 TB the
    * graph is approximate by necessity: restrict candidates to IVF
    * cells ([[IvfIndex]] assignments, own + nearest neighbor cells) or
    * LSH buckets ([[lshTopK]]'s bucketing) and run this same
    * score+window inside each block — the [[SemDedup]] blocking
    * pattern, corpus-linear per probe instead of quadratic.
    */
  def knnGraph(embs: DataFrame, k: Int): DataFrame =
    bruteForceTopK(embs, lit(true), k)

  /** NN-Descent (Dong et al., WWW'11): the APPROXIMATE kNN graph built
    * WITHOUT any quantizer or bucketing — start from an arbitrary
    * k-regular graph and repeatedly improve it through the one
    * observation that makes the algorithm work: *a neighbor of a
    * neighbor is likely a neighbor*. Each round expands every node's
    * candidate set to its current neighbors' neighbors (both
    * directions), scores the candidates exactly, and keeps the top-k.
    * This is the cell-free scale path for graph construction at
    * 100 TB — no trained structure, cost per round n·k² candidate
    * scorings (corpus-LINEAR, never all-pairs), and the candidate
    * expansion is two self-joins of a (node, neighbor) edge list on
    * the shared node — plain shuffle-parallel equi-joins.
    *
    * Deterministic by construction: the seed graph is the id-ring
    * (node i's initial neighbors are the next k ids in id order — no
    * RNG), candidate scoring reuses the sequential-fold [[dot]], and
    * ranking ties break to the smaller neighbor id. Per-round
    * localCheckpoint keeps the iteration lineage flat ([[GraphOps]]
    * discipline). Returns (query_id, neighbor_id, cos, rank) like
    * [[knnGraph]]; recall against the exact graph rises with rounds.
    * Tuning honesty: convergence speed depends on LOCAL STRUCTURE —
    * on clustered real-world embeddings small k and 2–3 rounds
    * suffice (Dong et al.), while near-uniform random vectors (this
    * repo's synthetic worst case) need a wide descent (internal
    * k ≈ 32) to reach 90%+ top-3 recall; the gate runs wide and ranks
    * the top-3 afterwards. EmbeddingSearchSpec pins exactness on
    * clustered data and round-over-round improvement.
    */
  def nnDescent(embs: DataFrame, k: Int, iters: Int): DataFrame =
    nnDescentFrom(embs, None, k, iters)

  /** [[nnDescent]] with an optional WARM-START seed — the incremental
    * graph-maintenance path: when a delivery lands, seed with the
    * PREVIOUS converged graph's edges (restricted to surviving nodes)
    * instead of the ring, and the descent only has to wire the new
    * nodes in — most nodes' neighborhoods are already correct, so far
    * fewer rounds converge (EmbeddingSearchSpec pins one round on the
    * clustered fixture vs three from cold). Nodes absent from the seed
    * (the delivery) get ring edges, so expansion reaches them; seed
    * edges pointing at dropped nodes are filtered by the score join.
    */
  def nnDescentFrom(embs: DataFrame, seed: Option[DataFrame], k: Int,
      iters: Int): DataFrame = {
    val e = prepared(embs).persist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // id-ring seed: node i → the next k ids in id order (wrapping) —
    // no RNG, connected by construction (expansion can reach the whole
    // graph), and the rank is the distributed two-pass prefix sum
    // ([[DataOps.globalRanks]]), never a single-partition window
    val ids = DataOps.globalRanks(
        e.select(col("vec_id").as("id"), col("vec_id").as("score")))
      .select(col("id").as("vec_id"), col("rank").as("rk"), col("__n"))
    val ring = ids
      .withColumn("j", explode(sequence(lit(1), lit(k))))
      .withColumn("nrk", (col("rk") - 1 + col("j")) % col("__n") + 1)
      .join(ids.select(col("rk").as("nrk"),
        col("vec_id").as("neighbor_id")), "nrk")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("query_id"), col("neighbor_id"))
    val seeded = seed match {
      case None => ring
      case Some(prev) =>
        val pe = prev.select(col("query_id"), col("neighbor_id"))
        // ring edges only for nodes the previous graph doesn't know
        ring.join(pe.select("query_id").distinct(),
            Seq("query_id"), "left_anti")
          .unionByName(pe).distinct()
    }
    // Rounds keep cos UNROUNDED in-loop (rounding happens once, at the
    // return boundary, exactly where the old per-round scoreAndRank
    // rounded the values a caller could observe) so a prior round's
    // scores are reusable for ranking bit-identically.
    var graph = scoreRank(e, seeded, w, k).localCheckpoint(true)
    // Every candidate pair ever PROPOSED (slim keys, one checkpointed
    // delta per round). A pair scored in an earlier round that lost can
    // never re-enter any later top-k: each node's k-th best (cos, id)
    // is monotone across rounds because the standing edges are always
    // candidates — so re-proposed losers are dropped unscored and only
    // never-seen pairs pay the vector joins (guide §2.3: shuffle fewer
    // bytes — here, score fewer pairs; identical result by the
    // monotonicity argument, pinned by q_nn_descent_exact).
    // Materialization discipline: a seen delta is checkpointed ONLY
    // when a later round will anti-join against it — the FINAL round's
    // fresh set (and, for iters == 1, the seed keys) stay lazy, fused
    // into the single job that ranks the round (a one-round warm pass —
    // rewire's steady state — would otherwise eagerly write its whole
    // expansion for nothing).
    var seen = if (iters == 0) Nil else {
      val s0 = seeded.select("query_id", "neighbor_id").distinct()
      List(if (iters > 1) s0.localCheckpoint(true) else s0)
    }
    // previous round's symmetrized adjacency — pairs reachable through
    // two edges BOTH already present there were generated by that
    // round's expansion (hence ⊆ seen and droppable unseen), so
    // candidate GENERATION itself only walks through edges that are NEW
    // this round (the Dong et al. incremental-join observation, made
    // result-exact here by the seen-filter below)
    var prevUnd: Option[DataFrame] = None
    var i = 0
    while (i < iters) {
      val edges = graph.select(col("query_id").as("src"),
        col("neighbor_id").as("dst"))
      val undirected = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      // neighbor-of-neighbor expansion: src —x— cand for every shared x.
      // The standing edges are NOT unioned in any more: they enter the
      // ranking below directly, scores carried from the round that
      // computed them. From round 2 on, only pairs touching a NEW edge
      // generate (old∘old pairs were all generated last round); near
      // convergence the per-round self-join collapses from Σdeg² to
      // |new|·deg.
      val gen = prevUnd match {
        case None =>
          undirected.as("l")
            .join(undirected.as("r"), col("l.dst") === col("r.src"))
            .select(col("l.src").as("query_id"),
              col("r.dst").as("neighbor_id"))
        case Some(old) =>
          val newEdges = undirected.join(old, Seq("src", "dst"),
            "left_anti")
          newEdges.as("l")
            .join(undirected.as("r"), col("l.dst") === col("r.src"))
            .select(col("l.src").as("query_id"),
              col("r.dst").as("neighbor_id"))
            .unionByName(undirected.as("l")
              .join(newEdges.as("r"), col("l.dst") === col("r.src"))
              .select(col("l.src").as("query_id"),
                col("r.dst").as("neighbor_id")))
      }
      val expanded = gen
        .filter(col("query_id") =!= col("neighbor_id"))
        .distinct()
      val freshLazy = expanded.join(seen.reduce(_ unionByName _),
        Seq("query_id", "neighbor_id"), "left_anti")
      // checkpoint only when round i+1 exists to reuse it (see above)
      val fresh =
        if (i < iters - 1) freshLazy.localCheckpoint(true) else freshLazy
      prevUnd = Some(undirected)
      // prev edges keep their scores; only fresh pairs meet the vectors.
      // dropDuplicates (round 1 only): a cold ring seed can propose one
      // pair twice when the corpus is smaller than k+1 (wrapping), and
      // the old spelling's expanded.distinct() collapsed those before
      // ranking — cos is a pure function of the pair, so any survivor
      // is the same row. Every LATER graph is duplicate-free by
      // construction (the ranked output of a union whose two sides are
      // each unique and mutually disjoint), so the dedup exchange is
      // paid once, not per round.
      val prevEdges = graph.select("query_id", "neighbor_id", "cos")
      val prevCand =
        if (i == 0) prevEdges.dropDuplicates("query_id", "neighbor_id")
        else prevEdges
      graph = rankTopK(prevCand.unionByName(scorePairs(e, fresh)), w, k)
        .localCheckpoint(true)
      seen = fresh :: seen
      i += 1
    }
    e.unpersist()
    graph.select(col("query_id"), col("neighbor_id"),
      round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Score a candidate edge list exactly — the pair-scoring half of
    * [[nnDescentFrom]]'s rounds, cos left UNROUNDED so a later round
    * can rank against it bit-identically. Joins are id-keyed
    * equi-joins.
    */
  private def scorePairs(e: DataFrame, cand: DataFrame): DataFrame =
    // neighbor vectors attach FIRST, query vectors LAST: when the
    // corpus is too big to broadcast these joins shuffle by their key,
    // and ending on query_id leaves the frame partitioned exactly as
    // the ranking window needs — the window's Exchange is elided
    // (guide §2.4). Locally both joins broadcast and the order is
    // indifferent; the scored values are identical either way.
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"),
        col("nrm")), "neighbor_id")
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), "query_id")
      .withColumn("cos",
        dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))

  /** Keep each node's top-k of a scored candidate frame (cos desc,
    * neighbor id asc; per-node candidate sets are k²-bounded, no skew).
    */
  private def rankTopK(scored: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))

  /** [[scorePairs]] + [[rankTopK]] — one descent scoring round. */
  private def scoreRank(e: DataFrame, cand: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      k: Int): DataFrame = rankTopK(scorePairs(e, cand), w, k)

  /** GRAPH-BASED ANN SERVING — answer external queries by beam descent
    * over a prebuilt kNN graph (the HNSW/DiskANN search shape, minus
    * the layer hierarchy: one flat graph, a small deterministic entry
    * set standing in for the upper layers). This is the quantizer-free
    * query path the NN-Descent construction/maintenance family feeds:
    * no trained IVF/PQ structure, just the (maintained) edge list.
    *
    * Per query: start from the `entryPoints` smallest node ids (a
    * deterministic entry set every engine reproduces), and for `hops`
    * rounds expand the `beamWidth` best not-yet-expanded candidates
    * through the symmetrized edge list, exact-scoring only the NEWLY
    * reached nodes (visited-set semantics — nothing rescored). The
    * walk itself is [[graphSearchState]]: when the vectors and the
    * edge list fit the broadcast threshold it runs as one job of
    * partition-local walks over a broadcast copy of the graph (the
    * REPOSE shape: partition-local search, then a merge — here the
    * per-query top-k window below); larger graphs take the relational
    * per-hop loop. Both return the same rows bit for bit.
    *
    * External-lookup semantics match [[bruteForceTopKFor]]: `queries`
    * is its own (vec_id, embedding) frame with unique ids, nothing is
    * self-excluded. The query set is collected to the driver — it is
    * the bounded side of a serving call. Fixed `hops` (not
    * score-convergence) keeps the result deterministic; recall rises
    * with beamWidth/hops/entry count — the standard serving knobs.
    * Work per hop is |queries| × beamWidth edge lookups + scorings —
    * query-linear and corpus-INDEPENDENT given the graph; contrast
    * [[bruteForceTopKFor]], which streams the whole corpus per query
    * batch.
    *
    * Returns (query_id, neighbor_id, cos, rank), rank ≤ k by
    * descending cosine, ties to the smaller neighbor id.
    */
  def graphSearch(embs: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beamWidth: Int = 8, hops: Int = 3,
      entryPoints: Int = 4, hubEntries: Boolean = false,
      entriesOverride: Option[DataFrame] = None): DataFrame = {
    val state = graphSearchState(embs, graph, queries, beamWidth, hops,
      entryPoints, hubEntries, entriesOverride)
    val wBeam = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("node_id").asc)
    state.withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** The walk's full VISITED STATE — every (query, node) pair the beam
    * descent scored, with raw cosines, as (query_id, node_id, cos,
    * expanded): [[graphSearch]] is its top-k, [[insertEdges]] harvests
    * it as the delivered vectors' candidate neighborhoods (the DiskANN
    * insertion trick: the search already visited exactly the nodes
    * worth linking), and KnnGraphIndexSpec's scale law counts its rows
    * — the walk's total scoring work is |state| ≤ |queries| ×
    * (entries + hops × beam × max-degree), CORPUS-INDEPENDENT given
    * the graph.
    *
    * The semantics, which both execution paths reproduce bit for bit
    * (EmbeddingSearchSpec pins them against a verbatim copy of the
    * relational walk):
    *  - a node is LIVE when it has a row in `embs`; only live nodes are
    *    ever scored, so a deleted node lingering in other nodes' edge
    *    lists is never reached;
    *  - entries are the `entriesOverride` rows, else (`hubEntries`) the
    *    `entryPoints` live nodes of highest symmetrized degree, ties to
    *    the smaller id, else the `entryPoints` smallest live ids that
    *    have an edge;
    *  - each hop orders the state (expanded asc, cos desc, node_id
    *    asc) — Spark's ordering: NaN above every number, a null cos
    *    last — flags the first `beamWidth` unexpanded rows expanded,
    *    and scores their symmetrized neighbors not yet in the state;
    *  - cos = [[dot]](qv, v) / sqrt(qnrm × nrm): a null vector gives a
    *    null cos, a zero norm Spark's division by zero (null, or the
    *    DIVIDE_BY_ZERO error under ANSI mode).
    *
    * Path choice: when the vectors and the edge list fit
    * `spark.sql.autoBroadcastJoinThreshold` — the size at which Spark
    * broadcasts a join side, so the relational plan broadcasts both
    * anyway — and every id column is a long ([[walkGraph]] states the
    * rule exactly), the walk runs as [[walkKernel]], one job.
    * Otherwise (a threshold of -1 included) the relational per-hop
    * loop runs: joins, a window and a checkpoint per hop, the only path
    * for graphs too large to broadcast. The query side is collected
    * either way (it is the bounded side of a serving call) and its ids
    * must be unique: a repeated id would mix two walks' state rows.
    */
  private[graft] def graphSearchState(embs: DataFrame, graph: DataFrame,
      queries: DataFrame, beamWidth: Int, hops: Int,
      entryPoints: Int, hubEntries: Boolean = false,
      entriesOverride: Option[DataFrame] = None): DataFrame = {
    val qp = prepared(queries)
    walkState(embs, graph, local(qp, qp.collect()), beamWidth, hops,
      entryPoints, hubEntries, entriesOverride)
  }

  /** `rows` (collected from `df`) served back as a local relation:
    * reading it again starts no Spark job.
    */
  private def local(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      df.schema)

  /** [[graphSearchState]] over queries already in [[prepared]] form and
    * held in a local relation `qp`.
    */
  private def walkState(embs: DataFrame, graph: DataFrame,
      qp: DataFrame, beamWidth: Int, hops: Int, entryPoints: Int,
      hubEntries: Boolean, entriesOverride: Option[DataFrame])
      : DataFrame = {
    val qRows = qp.collect()
    val dupIds = qRows.filterNot(_.isNullAt(0)).groupBy(_.get(0))
      .collect { case (id, rs) if rs.length > 1 => id }
    require(dupIds.isEmpty,
      s"graph walk: duplicate query ids (${dupIds.take(3).mkString(", ")})" +
        " — each query id names one walk, and a repeated id would mix " +
        "two walks' state rows; de-duplicate or re-key the queries")
    walkGraph(embs, graph, qp, entryPoints, hubEntries, entriesOverride)
      match {
        case Some(g) =>
          walkKernel(qp.sparkSession, g, qRows, beamWidth, hops)
        case None => relationalWalk(embs, graph, qp, beamWidth, hops,
          entryPoints, hubEntries, entriesOverride)
      }
  }

  /** The walk's inputs in compact broadcast form. `ids` are the live
    * node ids ascending, so a node's index orders like its id; `vecs`
    * (null for a null embedding) and `nrms` are their [[prepared]]
    * vectors and self-dots; `off`/`nbr` are the symmetrized adjacency
    * as CSR over node indices, holding only live neighbors (no other
    * node can be scored); `entries` are the elected entry indices.
    */
  private[ext] final case class WalkGraph(ids: Array[Long],
      vecs: Array[Array[Double]], nrms: Array[Double], off: Array[Int],
      nbr: Array[Int], entries: Array[Int])

  /** [[graphSearchState]]'s size rule, and the [[WalkGraph]] when it
    * holds: `spark.sql.autoBroadcastJoinThreshold` is not -1, every id
    * column is a long, the optimizer's size estimate of `embs` fits the
    * threshold, and the edge list, at 16 bytes a row, fits what is
    * left. The edge list is MEASURED, not estimated — a graph is
    * derived through joins, whose estimate is the product of their
    * sides — by a collect capped one row past that budget, so an
    * oversized graph stops there. Entries are elected by
    * [[graphSearchState]]'s rules. None also when `embs` repeats a
    * vec_id: the relational walk scores each repeated row, which one
    * node per id cannot express.
    */
  private[ext] def walkGraph(embs: DataFrame, graph: DataFrame,
      queries: DataFrame, entryPoints: Int, hubEntries: Boolean,
      entriesOverride: Option[DataFrame]): Option[WalkGraph] = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val embBytes = embs.queryExecution.optimizedPlan.stats.sizeInBytes
    val idFields = Seq(embs.schema("vec_id"), queries.schema("vec_id"),
      graph.schema("query_id"), graph.schema("neighbor_id")) ++
      entriesOverride.map(_.schema("node_id"))
    if (threshold < 0 || embBytes > threshold ||
        !idFields.forall(_.dataType == LongType)) return None
    val cap = ((threshold - embBytes) / 16 + 1).min(Int.MaxValue).toInt
    val edgeRows = graph.select("query_id", "neighbor_id").limit(cap)
      .collect()
    if (edgeRows.length == cap) return None
    val rows = prepared(embs).collect().filterNot(_.isNullAt(0))
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) return None
    def index(id: Any): Int =
      if (id == null) -1
      else math.max(-1, java.util.Arrays.binarySearch(ids,
        id.asInstanceOf[Long]))
    // each live node's distinct symmetrized neighbors — dead and null
    // ones included, as they count toward degree and "has an edge"
    val adj = Array.fill(ids.length)(new java.util.HashSet[Any]())
    edgeRows.foreach { r =>
      val (si, di) = (index(r.get(0)), index(r.get(1)))
      if (si >= 0) adj(si).add(r.get(1))
      if (di >= 0) adj(di).add(r.get(0))
    }
    val nbrs = adj.map(_.asScala.iterator.map(index).filter(_ >= 0)
      .toArray.sorted)
    val entries = entriesOverride match {
      case Some(pre) =>
        pre.select("node_id").collect().map(r => index(r.get(0)))
          .filter(_ >= 0)
      case None =>
        val withEdge = ids.indices.filter(adj(_).size > 0)
        (if (hubEntries) withEdge.sortBy(i => (-adj(i).size, i))
         else withEdge).take(entryPoints).toArray
    }
    Some(WalkGraph(ids, rows.map(vector), rows.map(r =>
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)),
      nbrs.scanLeft(0)(_ + _.length), nbrs.flatten, entries))
  }

  /** A [[prepared]] row's vector as a plain array; null for a null
    * embedding, and a null element as 0.0 — what [[dot]] folds it as.
    */
  private def vector(r: Row): Array[Double] =
    if (r.isNullAt(1)) null
    else r.getSeq[Any](1).iterator.map {
      case d: Double => d
      case _ => 0.0
    }.toArray

  /** The partition-local walk: `g` is broadcast once, the queries are
    * split over `defaultParallelism` tasks, and each task walks its
    * queries one by one in plain loops — the whole state is one job.
    */
  private def walkKernel(spark: SparkSession, g: WalkGraph,
      qRows: Array[Row], beamWidth: Int, hops: Int): DataFrame = {
    val ansi = SQLConf.get.ansiEnabled
    val qs = qRows.filterNot(_.isNullAt(0)).map(r =>
      (r.getLong(0), vector(r), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    val sc = spark.sparkContext
    val bc = sc.broadcast(g)
    val rows = sc.parallelize(qs.toSeq,
        math.max(1, math.min(sc.defaultParallelism, qs.length)))
      .mapPartitions(_.flatMap { case (qid, qv, qnrm) =>
        val g = bc.value
        walkOne(g, qv, qnrm, beamWidth, hops, ansi).iterator.map(v =>
          Row(qid, g.ids(v.node), v.cos, v.expanded))
      })
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("node_id", LongType), StructField("cos", DoubleType),
      StructField("expanded", BooleanType, nullable = false)))
    try spark.createDataFrame(rows, schema).localCheckpoint(true)
    finally bc.destroy()
  }

  /** One scored state row of a kernel walk; `cos` null where Spark's
    * cosine is null.
    */
  private final class Visit(val node: Int, val cos: java.lang.Double) {
    var expanded = false
  }

  /** Frontier order among unexpanded rows: cos desc with a null cos
    * last, then node index (= id) asc — the relational window's order.
    */
  private val frontierOrder: Ordering[Visit] = (a, b) =>
    if (a.cos == null || b.cos == null) {
      if (a.cos != null) -1
      else if (b.cos != null) 1
      else Integer.compare(a.node, b.node)
    } else {
      val c = SQLOrderingUtil.compareDoubles(b.cos, a.cos)
      if (c != 0) c else Integer.compare(a.node, b.node)
    }

  /** One query's walk over `g`: the state rows in visit order. */
  private def walkOne(g: WalkGraph, qv: Array[Double], qnrm: Double,
      beamWidth: Int, hops: Int, ansi: Boolean): Seq[Visit] = {
    // the DotProduct fold, then Spark's Divide (null on a zero divisor,
    // or its DIVIDE_BY_ZERO error under ANSI mode)
    def score(i: Int): java.lang.Double = {
      val v = g.vecs(i)
      if (qv == null || v == null) null
      else {
        val n = math.min(qv.length, v.length)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += qv(j) * v(j); j += 1 }
        val den = math.sqrt(qnrm * g.nrms(i))
        if (den != 0.0) dot / den
        else if (ansi) throw Bridge.divideByZeroError()
        else null
      }
    }
    val visited = new java.util.BitSet(g.ids.length)
    val state = ArrayBuffer.empty[Visit]
    def visit(i: Int): Unit = {
      visited.set(i)
      state += new Visit(i, score(i))
    }
    g.entries.foreach(visit)
    var h = 0
    while (h < hops) {
      val frontier = state.filterNot(_.expanded).sorted(frontierOrder)
        .take(beamWidth)
      frontier.foreach(_.expanded = true)
      for (f <- frontier) {
        var j = g.off(f.node)
        while (j < g.off(f.node + 1)) {
          if (!visited.get(g.nbr(j))) visit(g.nbr(j))
          j += 1
        }
      }
      h += 1
    }
    state.toSeq
  }

  /** The relational walk: per hop a window election, an equi-join
    * expansion, a left-anti visited filter and a checkpoint, all
    * queries advancing together.
    */
  private def relationalWalk(embs: DataFrame, graph: DataFrame,
      qp: DataFrame, beamWidth: Int, hops: Int, entryPoints: Int,
      hubEntries: Boolean, entriesOverride: Option[DataFrame])
      : DataFrame = {
    val e = prepared(embs).persist()
    val edges = graph.select(col("query_id").as("src"),
      col("neighbor_id").as("dst"))
    val q = qp.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    // symmetrize: kNN edges are directed, but a navigable walk needs
    // both directions (HNSW stores back-links for the same reason)
    val und = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // entry set — two deterministic strategies, both restricted to
    // LIVE nodes (the semi-join matters on a maintained graph: a
    // deleted node can linger in OTHER nodes' edge lists until
    // compaction, and a dead entry would silently shrink the effective
    // entry set — it scores nothing, so nothing expands from it):
    //   default — the smallest live node ids: structure-blind but
    //     portable (no RNG, no data-dependent seed);
    //   hubEntries — the highest-DEGREE live nodes (ties → smaller
    //     id): the HNSW upper-layer idea flattened — cluster centers
    //     accumulate reverse kNN edges, so starting there shortens
    //     walks on clustered corpora (EmbeddingSearchSpec shows hubs
    //     reach at hops−1 what smallest-id entries need an extra hop
    //     for). Degree ranks over the already-built symmetrized list;
    //     a production deployment would precompute it with the graph.
    //   entriesOverride — a PRECOMPUTED entry relation (node_id rows,
    //     already elected, ordered, and bounded by the caller): the
    //     persisted-index serving path ([[KnnGraphIndex]]) maintains its
    //     hub/degree relations at commit time and passes them here, so
    //     the query window never recomputes an edge-wide aggregate.
    val entries = entriesOverride match {
      case Some(pre) => pre.select("node_id")
      case None =>
        val liveNodes = und.select(col("src").as("node_id")).distinct()
          .join(e.select(col("vec_id").as("node_id")),
            Seq("node_id"), "left_semi")
        (if (hubEntries)
          und.groupBy(col("src").as("node_id"))
            .agg(count(lit(1)).as("deg"))
            .join(liveNodes, Seq("node_id"), "left_semi")
            .orderBy(col("deg").desc, col("node_id").asc)
        else liveNodes.orderBy("node_id"))
          .limit(entryPoints).select("node_id")
    }
    // score ONLY the candidate (query, node) pairs: node vectors via
    // id equi-join, query vectors broadcast (the query set is the
    // bounded side of a serving call)
    def score(cand: DataFrame): DataFrame =
      cand.join(e.select(col("vec_id").as("node_id"), col("v"),
          col("nrm")), "node_id")
        .join(broadcast(q), "query_id")
        .withColumn("cos",
          dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
        .select(col("query_id"), col("node_id"), col("cos"))
    // frontier election rides ONE window pass per hop: ordering
    // unexpanded rows first puts the top-beamWidth unexpanded nodes at
    // ranks 1..beamWidth (expanded rows sort strictly after every
    // unexpanded one), so the same rank both SELECTS the frontier and
    // FLIPS its expansion flag — the old shape re-joined the whole
    // state against the frontier to flip flags, one state-wide shuffle
    // join per hop that this election makes redundant (guide §2.4:
    // share the partitioning one operation already established).
    // Frontier membership and all scored values are unchanged.
    //
    // A DELTA-STATE variant (scored rows checkpointed once per hop,
    // flags in a slim elected-frontier relation, election ranking only
    // the unexpanded subset) measured ~30% slower on the 667-query
    // insert walk: its per-hop anti-join plus an extra eager job cost
    // more than the full-state rewrite they avoid, because the state is
    // query-bounded, never corpus-sized. Each step here is its own
    // Spark job, which is why graphs that fit a broadcast skip this
    // loop for [[walkKernel]].
    val wBeam = Window.partitionBy("query_id")
      .orderBy(col("expanded").asc, col("cos").desc, col("node_id").asc)
    // visited state: every scored node, with its expansion flag
    var state = score(q.select("query_id")
        .crossJoin(broadcast(entries)))
      .withColumn("expanded", lit(false))
      .localCheckpoint(true)
    var h = 0
    while (h < hops) {
      val ranked = state.withColumn("rn", row_number().over(wBeam))
      val frontier = ranked
        .filter(!col("expanded") && col("rn") <= beamWidth)
        .select("query_id", "node_id")
      val fresh = frontier.join(und,
          frontier("node_id") === und("src"))
        .select(col("query_id"), col("dst").as("node_id")).distinct()
        .join(state.select("query_id", "node_id"),
          Seq("query_id", "node_id"), "left_anti")
      state = ranked
        .withColumn("expanded",
          col("expanded") || (col("rn") <= beamWidth))
        .drop("rn")
        .unionByName(score(fresh).withColumn("expanded", lit(false)))
        .localCheckpoint(true)
      h += 1
    }
    e.unpersist()
    und.unpersist()
    state
  }

  /** Collapse EXACT duplicate rows within a delivery, and fail loudly
    * when one id carries two DIFFERENT embeddings: a bare
    * `dropDuplicates(key)` would pick an arbitrary survivor — silent
    * nondeterminism feeding an otherwise value-checked index (which of
    * the two vectors got coded/wired would vary run to run with no
    * error). Retried deliveries (same rows twice) stay harmless; a
    * CONFLICTING delivery is an upstream bug and surfaces here, the
    * [[insertEdges]] maxDelivery fail-loud posture applied to delivery
    * CONTENT. A NULL embedding delivered beside a non-null one under
    * the same id is a conflict too — `countDistinct` ignores nulls, so
    * the null/non-null mix is caught by the count(*) vs
    * count(embedding) mismatch instead. One delivery-bounded aggregate
    * — never corpus work.
    *
    * NOTE this check is an EAGER driver-side action: calling through
    * an otherwise-lazy API (an in-memory [[BinaryIndex]] append,
    * [[graphInsert]]) triggers a Spark job at call time even for a
    * clean delivery — the price of failing at the call site that
    * delivered the conflict, not inside some later unrelated action.
    */
  private[ext] def dedupDelivery(df: DataFrame,
      key: String = "vec_id"): DataFrame = {
    val conflicts = df.groupBy(col(key))
      .agg(countDistinct(col("embedding")).as("nd"),
        count(col("embedding")).as("nn"), count(lit(1)).as("n"))
      .filter(col("nd") > 1 || (col("nn") > 0 && col("nn") < col("n")))
    val sample = conflicts.limit(3).collect().map(_.get(0)).mkString(", ")
    require(sample.isEmpty,
      s"delivery carries CONFLICTING rows for the same $key (first: " +
        s"$sample) — two different embeddings (or a null beside a " +
        "non-null) under one id would make the surviving vector " +
        "arbitrary; fix the upstream feed or re-key the rows")
    df.dropDuplicates(key)
  }

  /** INSERT-BY-SEARCH edge wiring (the HNSW/DiskANN insertion shape) —
    * the delta-bounded alternative to re-running warm NN-Descent over
    * the whole corpus on every delivery. Each delivered vector
    * beam-searches the EXISTING graph for its neighborhood; its
    * candidates are the walk's visited state (every node the search
    * scored) plus EXACT intra-delivery pairs (deliveries must see each
    * other — a batch insert has no sequential ordering to lean on), and
    * its edge set is the top-k of that union. Each selected OLD
    * neighbor then merges the back-link into its standing edge list
    * (top-k over old edges + proposed reverse edges) — the
    * bidirectional connect every production graph index performs on
    * insert.
    *
    * Compute is delta-bounded: |delivery| × (entries + hops × beam ×
    * degree) walk scorings + |delivery|² intra pairs + |delivery| × k
    * reverse merges — CORPUS-INDEPENDENT given the graph, vs
    * NN-Descent's n·k² per warm round (KnnGraphIndexSpec pins the law
    * on the visited state). Quality converges from below: a node whose
    * true neighbor arrived in the delivery but proposed no back-link
    * stays stale until the periodic [[graft.ext.KnnGraphIndex.rewire]]
    * descent pass — the standard freshness/quality split. Deliveries
    * are delta-SIZED by contract; a corpus-sized bulk load should
    * build from scratch ([[nnDescent]]), not insert.
    *
    * Returns (newNodeEdges, mergedTouched): the delivered nodes' edge
    * sets, and the full re-ranked edge sets of every OLD node that was
    * proposed a back-link (changed or not — the caller diffs). Both in
    * (query_id, neighbor_id, cos, rank) form, cos rounded to 6 like
    * every stored graph.
    */
  private[graft] def insertEdges(oldEmbs: DataFrame, oldGraph: DataFrame,
      newEmbs: DataFrame, k: Int, beamWidth: Int, hops: Int,
      entryPoints: Int, maxDelivery: Int = 4096): (DataFrame, DataFrame) = {
    // ENFORCE the delta-sized contract instead of assuming it: the exact
    // intra-delivery pairing below is |delivery|² scorings BY DESIGN, so
    // an oversized delivery must fail loudly here, before the walk, not
    // silently go quadratic (the checkedDim/widthGuard discipline
    // applied to the insertion path). One row past the cap proves the
    // overflow, so the collect is bounded; its rows are the walk's
    // query side and the pairing's input, read locally with no job.
    val dp = prepared(newEmbs)
    val dRows = dp.limit((maxDelivery + 1L).min(Int.MaxValue).toInt)
      .collect()
    require(dRows.length <= maxDelivery,
      s"insertEdges: delivery exceeds maxDelivery=$maxDelivery vectors" +
        " — intra-delivery pairing is |delivery|² by " +
        "design (deliveries are delta-sized by contract); build from " +
        "scratch (nnDescent) for bulk loads, or raise maxDelivery " +
        "deliberately")
    val d = local(dp, dRows)
    val walked = walkState(oldEmbs, oldGraph, d, beamWidth, hops,
        entryPoints, hubEntries = false, entriesOverride = None)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"))
    val intra = d.as("a").join(d.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        round(dot(col("a.v"), col("b.v")) /
          sqrt(col("a.nrm") * col("b.nrm")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val newEdges = walked.unionByName(intra)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .localCheckpoint(true)
    // back-links: only new→OLD selections propose (intra-delivery pairs
    // are already symmetric in the candidate union above). dot's
    // sequential fold commutes element-wise, so the reversed cos is
    // bit-identical — no re-scoring.
    val newIds = d.select(col("vec_id").as("neighbor_id"))
    val rev = newEdges.join(broadcast(newIds), Seq("neighbor_id"),
        "left_anti")
      .select(col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id"), col("cos"))
    val touched = rev.select("query_id").distinct()
    val merged = oldGraph.select("query_id", "neighbor_id", "cos")
      .join(broadcast(touched), Seq("query_id"), "left_semi")
      .unionByName(rev)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .localCheckpoint(true)
    (newEdges, merged)
  }

  /** The UPDATED whole graph after an insert-by-search delivery — the
    * bare-edge-list composition streaming maintenance uses
    * ([[insertEdges]] plus the untouched nodes' old edges verbatim).
    * Same row contract as [[nnDescent]]. NOT fully lazy: the
    * [[dedupDelivery]] conflict check runs one delivery-bounded Spark
    * job at call time (its documented fail-at-the-call-site trade).
    */
  def graphInsert(oldEmbs: DataFrame, oldGraph: DataFrame,
      newEmbs: DataFrame, k: Int, beamWidth: Int = 16, hops: Int = 4,
      entryPoints: Int = 16, maxDelivery: Int = 4096): DataFrame = {
    // already-present ids drop out (the KnnGraphIndex.insert guard at
    // the bare-edge-list layer too): a checkpoint-replayed delivery
    // would otherwise keep the node's old edge group verbatim AND
    // union a fresh top-k set — duplicate (query_id, rank) groups
    // corrupting every later batch with no error. dedupDelivery
    // guards the WITHIN-delivery variant of the same hazard (two rows
    // sharing a vec_id inside one delivery would both survive the
    // left-anti and land duplicate edge groups) and fails loudly on
    // conflicting duplicates.
    val fresh = dedupDelivery(newEmbs)
      .join(oldEmbs.select("vec_id"), Seq("vec_id"), "left_anti")
    val (newEdges, mergedTouched) = insertEdges(oldEmbs, oldGraph,
      fresh, k, beamWidth, hops, entryPoints, maxDelivery)
    val touched = mergedTouched.select("query_id").distinct()
    oldGraph.select("query_id", "neighbor_id", "cos", "rank")
      .join(broadcast(touched), Seq("query_id"), "left_anti")
      .unionByName(mergedTouched)
      .unionByName(newEdges)
  }

  /** BINARY (sign-bit) quantization code: bit j of word w is
    * `v[w·64 + j] > 0` — one long per 64 dimensions, the 1-bit-per-dim
    * compression modern vector stores run as their first stage (the
    * RaBitQ/BQ shape without the rotation: these embeddings are
    * already zero-centered, so raw signs carry the direction). A
    * 64-dim corpus stores 8 bytes/vector — 32× smaller than float32 —
    * and Hamming distance between codes estimates angle. Pure
    * codegen'd bit arithmetic, map-side, deterministic.
    */
  def binaryCode(v: Column, dim: Int): Column = {
    val words = (0 until (dim + 63) / 64).map { wi =>
      (0 until math.min(64, dim - wi * 64)).map { j =>
        when(element_at(v, wi * 64 + j + 1) > 0,
          shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }
    array(words: _*)
  }

  /** The corpus's embedding width, verified uniform; `dim <= 0` derives
    * it from the data, an explicit `dim` is ASSERTED against it. Guards
    * the sign-bit codec: `element_at` past the array end folds to a
    * 0 bit, so a silently-truncating dim would degrade stage-1 recall
    * with no error — mismatches must fail loudly instead.
    */
  private[ext] def checkedDim(embs: DataFrame, dim: Int): Int = {
    val row = embs.agg(min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).head()
    if (row.isNullAt(0)) {
      // empty frame: a frozen width passes through vacuously (an empty
      // delta append is a no-op, not a width error); DERIVING a width
      // from nothing must fail loudly — getAs[Int] would otherwise
      // unbox the null aggregate to dim=0 and freeze a zero-width
      // codec that can never assert anything again
      require(dim > 0, "binary codec: cannot derive an embedding " +
        "width from an empty corpus")
      dim
    } else {
      val (lo, hi) = (row.getAs[Int]("lo"), row.getAs[Int]("hi"))
      require(lo == hi, s"binary codec needs a uniform embedding " +
        s"width, corpus has sizes $lo..$hi")
      if (dim <= 0) lo
      else { require(dim == lo, s"binary codec dim=$dim but corpus " +
        s"embeddings have ${lo} dimensions"); dim }
    }
  }

  /** In-plan width guard: passes `v` through when it has exactly `dim`
    * elements, raises at EXECUTION time otherwise — the same loud
    * failure as [[checkedDim]] without its up-front corpus aggregate
    * (a whole extra scan per call on the query hot path). The check
    * rides the projection that consumes the vector, so it can't be
    * pruned away.
    */
  private[ext] def widthGuard(v: Column, dim: Int): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"binary codec dim=$dim but embedding has "),
      size(v).cast("string"), lit(" dimensions"))))

  /** Hamming distance between two code arrays — popcount of the XOR,
    * folded across words (codegen'd `bit_count`).
    */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Two-stage binary-quantized top-k — the cheapest ANN first stage
    * beside the trained quantizers (PQ/SQ/IVF-PQ) and the graph walk:
    * stage 1 scans ONLY (vec_id, code) — 16 bytes/row — and keeps each
    * query's `candidates` nearest codes by Hamming (ties → smaller
    * id); stage 2 re-reads just the survivors' float vectors by id
    * equi-join and re-ranks them exactly. At 100 TB the code relation
    * is the only full-scan: 32× smaller than the vectors, SIMD-width
    * popcount per row, and the exact re-rank touches `candidates`
    * rows per query via a pushed-down id join. Recall is the
    * candidate-count knob; the q_pq_topk recall contract gates it.
    */
  def binaryTopK(embs: DataFrame, queryPred: Column, k: Int,
      candidates: Int = 200, dim: Int = 0): DataFrame = {
    // derive the width from the first row when not given (one cheap
    // head, not a corpus aggregate); uniformity is enforced IN-PLAN by
    // widthGuard — a ragged corpus fails loudly at execution without
    // this hot path paying an extra full scan per call
    val d =
      if (dim > 0) dim
      else embs.select(size(col("embedding")).as("d")).head(1)
        .headOption.map(_.getInt(0)).getOrElse(
          sys.error("binaryTopK: empty corpus — no width to derive"))
    val e = prepared(embs)
      .withColumn("code", binaryCode(widthGuard(col("v"), d), d))
    val qSlim = e.filter(queryPred).select(
      col("vec_id").as("query_id"), col("code").as("qcode"))
    // stage 1: Hamming over the 16-byte code relation only
    val wHam = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val cand = e.select(col("vec_id"), col("code"))
      .join(broadcast(qSlim), col("vec_id") =!= col("query_id"))
      .withColumn("ham", hamming(col("qcode"), col("code")))
      .withColumn("crank", row_number().over(wHam))
      .filter(col("crank") <= candidates)
      .select("query_id", "vec_id")
    // stage 2: exact re-rank of the survivors (vectors re-read by id)
    val qVec = e.filter(queryPred).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(qVec), "query_id")
      .withColumn("cos",
        dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Predicate-filtered graph serving — [[graphSearch]]'s answer
    * restricted to corpus rows passing `where` (the filtered-ANN
    * contract [[IvfIndex.searchWhere]] exposes for the trained
    * family). POST-FILTER variant: the walk runs over the FULL graph
    * and over-fetches `k × overFetch` candidates, then passing nodes
    * re-rank — constraining the walk itself to passing nodes can
    * strand the beam where the predicate is sparse (filtered-DiskANN's
    * documented failure mode), while the full-graph walk keeps its
    * navigability and the filter costs one semi-join. Selective
    * predicates want a larger `overFetch`; the recall gate is the
    * contract, not a result-count guarantee.
    */
  def graphSearchWhere(embs: DataFrame, graph: DataFrame,
      queries: DataFrame, where: Column, k: Int, beamWidth: Int = 16,
      hops: Int = 4, entryPoints: Int = 16, overFetch: Int = 4,
      entriesOverride: Option[DataFrame] = None): DataFrame = {
    val wide = graphSearch(embs, graph, queries, k * overFetch,
      beamWidth, hops, entryPoints, hubEntries = false, entriesOverride)
    val pass = embs.filter(where).select(col("vec_id").as("neighbor_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    wide.join(pass, Seq("neighbor_id"), "left_semi")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
  }

  /** Deterministic random hyperplanes (fixed seed) for sign-bucket LSH. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  private def planeLit(p: Array[Double]): Column =
    array(p.map(lit): _*)

  /** Johnson–Lindenstrauss random projection: the corpus mapped through
    * a seeded Gaussian matrix to `dProj` dimensions, scaled by 1/√dProj
    * so inner products are preserved in expectation. Map-side only —
    * each row meets `dProj` literal plane vectors, no shuffle — the
    * dimension-reduction stage that cuts downstream ANN/storage cost by
    * ~dim/dProj at 100 TB while approximately preserving distances (the
    * JL lemma). Deterministic given the seed, so an external engine
    * reproduces the projection from the same literals. Returns
    * (vec_id, v: array<double>[dProj], nrm).
    */
  def randomProject(embs: DataFrame, dProj: Int, dim: Int,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dProj, dim, seed)
    val scale = math.sqrt(dProj.toDouble)
    val comps = planes.map(p => dot(col("v"), planeLit(p)) / lit(scale))
    prepared(embs).select(col("vec_id"), array(comps: _*).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
  }

  /** Exact top-k in the PROJECTED space — the post-reduction search a
    * JL-sketched pipeline runs. Same shape as [[bruteForceTopK]]:
    * queries broadcast, corpus streams once (through the map-side
    * projection), per-query window top-k.
    */
  def projectedTopK(embs: DataFrame, queryPred: Column, k: Int,
      dProj: Int = 16, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val e = randomProject(embs, dProj, dim, seed)
    rerankTopK(e.join(broadcast(asQueries(e.filter(queryPred))),
      col("vec_id") =!= col("query_id")), k)
  }

  /** Sign-pattern bucket id: bit i = (v · plane_i) > 0. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, planeLit(p)) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN top-k: compare only within the query's hyperplane bucket. With
    * b planes the corpus splits into 2^b buckets, so each query scores
    * ~corpus/2^b rows — at 100 TB, bucketing is a pre-shuffle on the
    * bucket id and each bucket is a co-partitioned local join. Recall is
    * tunable via fewer planes (bigger buckets) or multiple tables.
    */
  /** Exact top-k for EXTERNAL query vectors — `queries` is its own
    * (vec_id, embedding) frame, not a corpus subset, so nothing is
    * self-excluded: a query identical to a corpus row ranks that row
    * first, which is the correct lookup semantics. Same scale shape as
    * [[bruteForceTopK]]: queries broadcast, corpus streams once,
    * per-query window top-k.
    */
  def bruteForceTopKFor(embs: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    rerankTopK(prepared(embs).join(broadcast(asQueries(prepared(queries)))),
      k)

  /** Hard-negative mining for contrastive training (the DPR recipe):
    * per query, the top-`k` HIGHEST-similarity corpus documents that are
    * NOT labeled positives — the negatives that actually move a
    * bi-encoder, where [[graft.ext.DataOps.negativeSample]]'s random
    * draws mostly score near zero. `positives` carries one
    * (query_id, neighbor_id) row per labeled pair; the query itself
    * should be listed there too when queries live inside the corpus.
    *
    * Composition, not a new scorer: an exact candidate pass
    * ([[bruteForceTopKFor]], swap in the IVF/LSH searcher at scale)
    * over-fetches `candidateK` ≥ k + max-positives-per-query
    * candidates, the positive pairs anti-join out (label sets are
    * query-bounded → broadcast), and survivors re-rank by their
    * ORIGINAL candidate rank — no re-scoring, so the result inherits
    * the candidate pass's determinism. Returns
    * (query_id, rn, neighbor_id, cos), rn ≤ k.
    */
  def hardNegatives(embs: DataFrame, queries: DataFrame,
      positives: DataFrame, k: Int, candidateK: Int): DataFrame = {
    val cand = bruteForceTopKFor(embs, queries, candidateK)
    val filtered = cand.join(
      broadcast(positives.select(col("query_id"), col("neighbor_id"))),
      Seq("query_id", "neighbor_id"), "left_anti")
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    filtered.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos"))
  }

  def lshTopK(embs: DataFrame, queryPred: Column, k: Int,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val e = prepared(embs).withColumn("bucket", bucketOf(col("v"), planes))
    rerankTopK(e.join(broadcast(asQueries(e.filter(queryPred),
        col("bucket"))), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** Multi-probe LSH top-k: each query probes its own sign bucket PLUS
    * every bucket at Hamming distance 1 (one flipped hyperplane bit) —
    * the standard recall/latency knob (Lv et al., "Multi-Probe LSH",
    * VLDB 2007): near neighbors that fell just across one hyperplane are
    * recovered without doubling the number of hash tables. The probe set
    * explodes on the (tiny, broadcast) QUERY side — nPlanes+1 rows per
    * query — while the corpus keeps exactly one bucket id per row, so
    * the join cost is (probes × per-bucket size), not a corpus rewrite;
    * at 100 TB the corpus-side layout is identical to [[lshTopK]]'s and
    * the knob is purely query-side.
    */
  def lshTopKMultiProbe(embs: DataFrame, queryPred: Column, k: Int,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val e = prepared(embs).withColumn("bucket", bucketOf(col("v"), planes))
    val probes = array((0 to nPlanes).map {
      case 0 => col("bucket")
      case i => col("bucket").bitwiseXOR(shiftleft(lit(1L), i - 1))
    }: _*)
    rerankTopK(e.join(broadcast(asQueries(e.filter(queryPred),
        explode(probes).as("bucket"))), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: vectors in the
    * same bucket with cosine ≥ threshold (a < b).
    */
  def cosineDupPairs(embs: DataFrame, threshold: Double,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val e = prepared(embs).withColumn("bucket", bucketOf(col("v"), planes))
    e.as("a").join(e.as("b"),
      col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        dot(col("a.v"), col("b.v")) / sqrt(col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }
}
