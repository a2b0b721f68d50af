package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.{Gate, Tables}
import OracleSql._
import GateOps._
import graft.ext.{CorpusStore, DedupIndex, EmbeddingSearch, IvfIndex,
  KnnGraphIndex, Takedown}

/** Round-10 derived-surface MAINTENANCE gates: the corpus store's
  * change feed ([[graft.ext.CorpusStore.changes]]) drives the two
  * index families whose from-scratch rebuilds actually hurt at 100 TB
  * — the ANN index and the near-dup index — and the kNN graph is
  * maintained from a STREAM of deliveries via warm-start NN-Descent.
  * The checkable contract everywhere: a surface maintained
  * incrementally from deltas must answer exactly (or, for the
  * data-trained graph, within the family recall floor of) a surface
  * built from the final corpus — the q_cdc_maintain /
  * surviving-corpus oracle pattern extended to the expensive
  * families.
  */
object MaintainQueries {

  // ---- CDC feed → IVF index maintenance ----

  /** [[graft.ext.CorpusStore.changes]] driving a saved
    * [[graft.ext.IvfIndex]]: the store of record (vec_id-keyed
    * embeddings) commits an append (v2) and a takedown (v3) after the
    * index was seeded from v1; the maintenance loop replays the feed
    * in commit order — inserts land via `saveAppend` (frozen
    * quantizer, delta-only encode), deletes via `delete`
    * (tombstones) — then one compact applies them physically. The
    * oracle is brute force over the SURVIVING corpus (the q_ivf_delete
    * contract): a feed-maintained index must be indistinguishable from
    * one built over the final corpus. Per-tick cost is the commit's
    * delta bytes + the assignment encode — never a corpus re-read;
    * that is what makes the feed the 100 TB maintenance path.
    */
  private def cdcMaintainIvf(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val store = graft.Gate.tmpDir("gate_cdcivf_store_")
    val idx = graft.Gate.tmpDir("gate_cdcivf_idx_")
    CorpusStore.build( // v1: two thirds of the corpus
      embs.filter(col("vec_id") % 3 =!= 0), col("vec_id"), store)
    val seeded = IvfIndex.build(
      CorpusStore.read(s, store).select(col("vec_id"), col("embedding")),
      k = 16, sampleFraction = 0.25)
    IvfIndex.save(seeded, idx)
    CorpusStore.append(s, store, // v2: the remaining third
      embs.filter(col("vec_id") % 3 === 0), col("vec_id"))
    CorpusStore.delete(s, store, // v3: takedown spanning v1 AND v2
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    val feed = CorpusStore.changes(s, store, 1L).persist()
    try {
      val vs = feed.select("_version").distinct().collect()
        .map(_.getLong(0)).sorted // commit order — a handful of longs
      vs.foreach { v =>
        val delta = feed.filter(col("_version") === v)
        val ins = delta.filter(col("_change") === "insert")
          .select(col("vec_id"), col("embedding"))
        if (!ins.isEmpty)
          IvfIndex.saveAppend(IvfIndex.load(s, idx, embs), ins, idx)
        val del = delta.filter(col("_change") === "delete")
          .select(col("id").as("vec_id"))
        if (!del.isEmpty)
          IvfIndex.delete(s, idx, del, col("vec_id"))
      }
    } finally { feed.unpersist(); () }
    IvfIndex.compact(s, idx)
    IvfIndex.search(IvfIndex.load(s, idx, embs), col("vec_id") < 10,
        k = 5, nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  private val cdcMaintainIvfSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 3),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |      WHERE vec_id % 7 <> 3),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  // ---- CDC feed → dedup index maintenance ----

  /** The change feed driving a saved [[graft.ext.DedupIndex]]: store
    * of record on the normalized documents (v1 seed → v2 append → v3
    * takedown), feed replayed in commit order (inserts `append`
    * delta-encode against the saved MinHash geometry, deletes
    * tombstone), one compact, then the q_dedup_delete batch probe: a
    * planted near-dup batch dedups against the maintained index and
    * must land on exactly the full-corpus true-pair values over the
    * SURVIVING corpus — the oracle is q_dedup_delete's verbatim
    * (same final state reached through the feed instead of direct
    * calls). df partials stay consistent because append publishes
    * summable deltas and delete publishes negative partials — the
    * q_dedup_incremental discipline, here exercised via the feed.
    */
  private def cdcMaintainDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), lower(trim(col("text"))).as("t"))
    val store = graft.Gate.tmpDir("gate_cdcdd_store_")
    val idx = graft.Gate.tmpDir("gate_cdcdd_idx_")
    CorpusStore.build(docs.filter(col("id") < 300), col("id"), store) // v1
    DedupIndex.build(CorpusStore.read(s, store), col("id"), col("t"),
      idx, n = 3)
    CorpusStore.append(s, store, // v2
      docs.filter(col("id") >= 300), col("id"))
    CorpusStore.delete(s, store, // v3 (spans v1 AND v2 rows)
      docs.filter(col("id") % 10 === 5).select("id"), col("id"))
    val feed = CorpusStore.changes(s, store, 1L).persist()
    try {
      val vs = feed.select("_version").distinct().collect()
        .map(_.getLong(0)).sorted
      vs.foreach { v =>
        val delta = feed.filter(col("_version") === v)
        val ins = delta.filter(col("_change") === "insert")
          .select(col("id"), col("t"))
        if (!ins.isEmpty)
          DedupIndex.append(s, idx, ins, col("id"), col("t"))
        val del = delta.filter(col("_change") === "delete").select("id")
        if (!del.isEmpty)
          DedupIndex.delete(s, idx, del, col("id"))
      }
    } finally { feed.unpersist(); () }
    DedupIndex.compact(s, idx)
    val nw = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("id"),
        concat(lower(trim(col("text"))), lit(" zq zr")).as("t"))
    DedupIndex.dedupBatch(s, idx, nw, col("id"), col("t"),
        threshold = 0.5, maxDF = 20)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  // ---- CDC feed → persisted kNN-graph maintenance ----

  /** The change feed driving the persisted graph index
    * ([[graft.ext.KnnGraphIndex]]) — the third expensive family under
    * feed maintenance: each insert window admits the delivery via
    * INSERT-BY-SEARCH ([[graft.ext.KnnGraphIndex.insert]] — each
    * delivered vector beam-searches the live graph for its
    * neighborhood, delta-bounded compute, publishing only the
    * delivery's vectors + the touched nodes' changed edge sets);
    * deletes tombstone. After one compact (dangling-reference scrub)
    * the index serves external queries by beam descent, and the
    * checkable contract is recall vs exact brute force over the
    * SURVIVING corpus: ≥80% of the 20 external queries recover ≥1 of
    * their true top-3 survivors (self-hits excluded on both sides).
    */
  /** The v1 store + cold-built graph index the CDC-graph gate starts
    * from, built ONCE per JVM ([[graft.Gate.memoDir]] — the memoized
    * takedown-build discipline): the 5-round cold descent is priced by
    * its own family gates (q_nn_descent prices construction), so
    * re-running it inside every maintenance-gate invocation only
    * re-times known work. The gate MUTATES both artifacts, so it takes
    * [[graft.Gate.copyDir]] copies.
    */
  private[queries] def sharedGraphSeed(s: SparkSession, d: String): String =
    graft.Gate.memoDir(s"cdcg_seed:$d", "gate_cdcg_seed_") { dir =>
      val embs = Tables.embeddings(s, d)
      CorpusStore.build( // v1
        embs.filter(col("vec_id") % 3 =!= 0), col("vec_id"),
        s"$dir/store")
      KnnGraphIndex.build(
        CorpusStore.read(s, s"$dir/store")
          .select(col("vec_id"), col("embedding")),
        s"$dir/graph", k = 32, iters = 5)
      ()
    }

  private def cdcMaintainGraph(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val seed = sharedGraphSeed(s, d)
    val store = graft.Gate.copyDir(s"$seed/store", "gate_cdcg_store_")
    val idx = graft.Gate.copyDir(s"$seed/graph", "gate_cdcg_idx_")
    CorpusStore.append(s, store, // v2
      embs.filter(col("vec_id") % 3 === 0), col("vec_id"))
    CorpusStore.delete(s, store, // v3
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    val feed = CorpusStore.changes(s, store, 1L).persist()
    try {
      val vs = feed.select("_version").distinct().collect()
        .map(_.getLong(0)).sorted
      vs.foreach { v =>
        val delta = feed.filter(col("_version") === v)
        val ins = delta.filter(col("_change") === "insert")
          .select(col("vec_id"), col("embedding"))
        if (!ins.isEmpty) KnnGraphIndex.insert(s, idx, ins)
        val del = delta.filter(col("_change") === "delete")
          .select(col("id").as("vec_id"))
        if (!del.isEmpty) KnnGraphIndex.delete(s, idx, del,
          col("vec_id"))
      }
    } finally { feed.unpersist(); () }
    KnnGraphIndex.compact(s, idx)
    val queries = embs.filter(col("vec_id") < 20)
    val got = KnnGraphIndex.search(s, idx, queries, k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
    val survivors = embs.filter(col("vec_id") % 7 =!= 3)
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    val truth = EmbeddingSearch.bruteForceTopKFor(survivors, queries, 4)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    recallFloor(queries, got, truth)
  }

  // ---- insert-by-search: the delta-bounded graph maintenance tick ----

  /** [[graft.ext.KnnGraphIndex.insert]] as its own gate: the memoized
    * cold-built graph (2/3 of the corpus) takes the remaining third as
    * one insert-by-search delivery — each delivered vector wires in by
    * beam-searching the LIVE graph (walk state + exact intra-delivery
    * pairs → top-k; back-links merge into touched nodes only), compute
    * delta-bounded, never a corpus descent. Contract: after the
    * delivery, beam search over the maintained index must recover ≥80%
    * of the 20 external queries' true top-3 over the UNION corpus —
    * the same floor the warm-descent path held, now met at
    * corpus-independent tick cost (KnnGraphIndexSpec pins the
    * scored-candidate bound; BASELINE.md probes the tick at 10×/30×).
    */
  private def graphInsert(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val seed = sharedGraphSeed(s, d)
    val idx = graft.Gate.copyDir(s"$seed/graph", "gate_gins_idx_")
    KnnGraphIndex.insert(s, idx, embs.filter(col("vec_id") % 3 === 0))
    val queries = embs.filter(col("vec_id") < 20)
    val got = KnnGraphIndex.search(s, idx, queries, k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    val truth = EmbeddingSearch.bruteForceTopKFor(embs, queries, 4)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    recallFloor(queries, got, truth)
  }

  // ---- graph rewire: the degree-restoring maintenance pass ----

  /** [[graft.ext.KnnGraphIndex.rewire]] under the driver gate: start
    * from the memoized post-takedown compacted index
    * ([[sharedRewireSeed]] — compaction scrubbed the dangling
    * references and left degrees BELOW k, compaction being layout-only
    * by contract), then one warm rewire round restores full
    * neighborhoods with a delta-only publish. The contract is the
    * family recall floor over the SURVIVING corpus — after rewire,
    * beam search must recover ≥80% of the 20 external queries' true
    * top-3 survivors (the truth table is part of the memoized seed).
    * The timed window prices REWIRE + serving only: the
    * insert/delete/compact lifecycle it used to replay in-window
    * (26.7 s in-suite in r12, mostly construction) is priced by those
    * ops' own gates (q_graph_insert, q_takedown, q_cdc_maintain_graph).
    */
  private def graphRewire(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val pre = sharedRewireSeed(s, d)
    val idx = graft.Gate.copyDir(s"$pre/graph", "gate_grw_idx_")
    KnnGraphIndex.rewire(s, idx, iters = 1)
    val queries = embs.filter(col("vec_id") < 20)
    val got = KnnGraphIndex.search(s, idx, queries, k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
    val truth = s.read.parquet(s"$pre/truth")
    recallFloor(queries, got, truth)
  }

  /** The post-takedown, compacted index q_graph_rewire re-wires, plus
    * the survivors' brute-force truth for its 20 external queries —
    * built ONCE per JVM outside every timed window (the
    * [[sharedGraphSeed]]/q_ingest_probe prewarm discipline): admit the
    * remaining third onto the seed graph, take down every seventh
    * node, compact. The takedown spans both the cold build and an
    * inserted delivery, exactly the lifecycle the gate replayed
    * in-window before r13.
    */
  private[graft] def sharedRewireSeed(s: SparkSession,
      d: String): String = {
    // resolve the parent memo BEFORE entering this one: memoDir is a
    // computeIfAbsent, and a nested resolution inside the body is a
    // same-map recursive update (the ExtQueries.sharedIngestRoot note)
    val seed = sharedGraphSeed(s, d)
    graft.Gate.memoDir(s"grw_pre:$d", "gate_grw_pre_") { dir =>
      val embs = Tables.embeddings(s, d)
      val idx = s"$dir/graph"
      graft.Gate.copyInto(s"$seed/graph", idx)
      KnnGraphIndex.insert(s, idx, embs.filter(col("vec_id") % 3 === 0))
      KnnGraphIndex.delete(s, idx,
        embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
        col("vec_id"))
      KnnGraphIndex.compact(s, idx)
      val queries = embs.filter(col("vec_id") < 20)
      val survivors = embs.filter(col("vec_id") % 7 =!= 3)
      val w = Window.partitionBy("query_id").orderBy(col("rank"))
      EmbeddingSearch.bruteForceTopKFor(survivors, queries, 4)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("query_id", "neighbor_id")
        .write.mode("overwrite").parquet(s"$dir/truth")
    }
  }

  // ---- registry health + the quality sweep END TO END ----

  /** [[graft.ext.Takedown.health]] under the driver gate: three
    * surfaces (store of record, BM25, graph) registered under one
    * root, a deterministic op on each (BM25 takes a delete, the graph
    * takes one insert delivery, the store stays at its build), then
    * the registry dashboard reads back — version, segment count (the
    * maybeCompact gauge), tombstone segments (un-applied takedown
    * debt), and the graph's maybeRewire debt counters. Every number is
    * a layout CONSTANT of the fixture, so the oracle states the whole
    * relation in closed form — the health numbers an operator
    * dashboards at 100 TB are value-checked, not spec-only.
    */
  /** The three-surface registry q_corpus_health dashboards, built ONCE
    * per JVM ([[graft.Gate.memoDir]] — the r14 bench-window-hygiene
    * ask): the gate exists to price the HEALTH READ (metadata-bounded,
    * the claim), not the store/BM25/graph construction its r13 window
    * paid (15.5 s in-suite, almost all fixture). The gate never
    * mutates the fixture — health is a pure read — so no copy is
    * taken. Bench prewarms this beside [[sharedRewireSeed]].
    */
  private[graft] def sharedHealthFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"health_fix:$d", "gate_health_") { dir =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      val embs = Tables.embeddings(s, d)
      val root = s"$dir/root"
      val store = s"$dir/store"
      val bm25 = s"$dir/bm25"
      val gidx = s"$dir/gidx"
      CorpusStore.build(docs.select(col("doc_id").as("id"), col("text")),
        col("id"), store)
      graft.ext.TextSearch.buildAndSave(docs, col("doc_id"), col("text"),
        bm25, buckets = 4)
      graft.ext.TextSearch.delete(s, bm25,
        docs.filter(col("doc_id") % 10 === 1).select("doc_id"),
        col("doc_id"))
      KnnGraphIndex.build(embs.filter(col("vec_id") < 100), gidx,
        k = 4, iters = 2)
      KnnGraphIndex.insert(s, gidx,
        embs.filter(col("vec_id") >= 100 && col("vec_id") < 120))
      Takedown.register(s, root, Takedown.Surface("store", store))
      Takedown.register(s, root, Takedown.Surface("bm25", bm25))
      Takedown.register(s, root, Takedown.Surface("graph", gidx))
    }

  private def corpusHealth(s: SparkSession, d: String): DataFrame = {
    val root = s"${sharedHealthFixture(s, d)}/root"
    Takedown.health(s, root)
      .select(col("kind"), col("version"), col("segments"),
        col("tombstone_segments"), col("graph_debt_deliveries"),
        col("graph_debt_tombstones"))
      .orderBy("kind")
  }

  private val corpusHealthSql =
    """SELECT * FROM (VALUES
      |  ('bm25',  CAST(2 AS BIGINT), CAST(2 AS INTEGER),
      |   CAST(1 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('graph', CAST(2 AS BIGINT), CAST(2 AS INTEGER),
      |   CAST(0 AS INTEGER), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('store', CAST(1 AS BIGINT), CAST(1 AS INTEGER),
      |   CAST(0 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT)))
      |  AS t(kind, version, segments, tombstone_segments,
      |       graph_debt_deliveries, graph_debt_tombstones)
      |ORDER BY kind""".stripMargin

  /** The maybeRewire debt policy driven END TO END by the registry
    * sweep — the lifecycle the policy exists for: the memoized
    * post-takedown state ([[sharedRewireSeed]] — seed graph + one
    * delta delivery + a takedown + compact) carries exactly the debt
    * the policy tracks (compact paid the election half, the TOMBSTONE
    * half (0, 1) rides the copied sidecar), and then
    * [[graft.ext.Takedown.maintain]] — NOT the caller — fires the
    * rewire that restores the sub-k post-delete degrees. Contract:
    * the sweep reports the graph surface, the debt reads (0, 0)
    * after, and serving over the swept index holds the family ≥80%
    * recall floor against the memoized survivors' brute-force truth —
    * q_graph_rewire's exact quality bar, reached through the REGISTRY
    * instead of a manual rewire call. The spec law pins the policy
    * mechanics; THIS gate proves the production composition
    * (feed state → debt → sweep → quality) as a driver-checked query.
    */
  private def graphMaintainAuto(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val pre = sharedRewireSeed(s, d)
    val idx = graft.Gate.copyDir(s"$pre/graph", "gate_gma_idx_")
    val root = graft.Gate.tmpDir("gate_gma_root_")
    Takedown.register(s, root, Takedown.Surface("graph", idx))
    val swept = Takedown.maintain(s, root, maxSegments = 100,
      maxGraphDebt = 0)
    val fired = swept.exists(_.kind == "graph") &&
      KnnGraphIndex.debt(s, idx) == ((0L, 0L))
    val queries = embs.filter(col("vec_id") < 20)
    val got = KnnGraphIndex.search(s, idx, queries, k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
    val truth = s.read.parquet(s"$pre/truth")
    recallFloor(queries, got, truth)
      .select(col("n_queries"),
        (col("search_ok") && lit(fired)).as("search_ok"))
  }

  // ---- the registry maintenance sweep itself, timed + value-checked ----

  /** The multi-surface registry [[graft.ext.Takedown.maintain]] sweeps
    * in q_maintain_sweep, built ONCE per (JVM, dir): a store of record
    * and a BM25 index each carrying four append deliveries of segment
    * debt, and a graph index carrying one insert delivery of quality
    * debt (below the rewire threshold — the sweep's METADATA reads are
    * what this fixture stages, not a corpus-linear quality pass). The
    * gate copies the surfaces (the sweep mutates them) and registers
    * the copies in a fresh root in-window.
    */
  private[graft] def sharedSweepFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"sweep_fix:$d", "gate_msweep_") { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val embs = Tables.embeddings(s, d)
      CorpusStore.build(docs.filter(col("id") < 300), col("id"),
        s"$dir/store")
      graft.ext.TextSearch.buildAndSave(
        docs.filter(col("id") < 300), col("id"), col("text"),
        s"$dir/bm25", buckets = 8)
      (0 until 4).foreach { i =>
        CorpusStore.append(s, s"$dir/store",
          docs.filter(col("id") >= 300 + i * 10 &&
            col("id") < 310 + i * 10), col("id"))
        graft.ext.TextSearch.appendDocs(s, s"$dir/bm25",
          docs.filter(col("id") >= 300 + i * 10 &&
            col("id") < 310 + i * 10), col("id"), col("text"))
      }
      KnnGraphIndex.build(embs.filter(col("vec_id") % 3 =!= 0),
        s"$dir/graph", k = 8, iters = 2)
      KnnGraphIndex.insert(s, s"$dir/graph",
        embs.filter(col("vec_id") % 3 === 0).limit(64))
    }

  /** [[graft.ext.Takedown.maintain]] over a MULTI-SURFACE root as its
    * own timed, value-checked gate — the registry sweep claimed
    * metadata-bounded (plus corpus-linear compaction where segment
    * debt is due) finally joins the measured families (BASELINE.md
    * probes it at 10×/30×). Debt is STAGED deterministically by the
    * memoized fixture: store and BM25 sit above `maxSegments` (they
    * must compact to one segment), the graph sits below both
    * thresholds (its pass must be a pure metadata/sidecar read — no
    * compact, no rewire, segments untouched). The output states the
    * whole end state in closed form: which kinds swept and every
    * surface's post-sweep segment count.
    */
  private def maintainSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fix = sharedSweepFixture(s, d)
    val store = graft.Gate.copyDir(s"$fix/store", "gate_msw_store_")
    val bm25 = graft.Gate.copyDir(s"$fix/bm25", "gate_msw_bm25_")
    val graph = graft.Gate.copyDir(s"$fix/graph", "gate_msw_graph_")
    val root = graft.Gate.tmpDir("gate_msw_root_")
    Takedown.register(s, root, Takedown.Surface("store", store))
    Takedown.register(s, root, Takedown.Surface("bm25", bm25))
    Takedown.register(s, root, Takedown.Surface("graph", graph))
    val swept = Takedown.maintain(s, root, maxSegments = 3)
      .map(_.kind).toSet
    Seq(
      ("bm25", swept.contains("bm25"),
        graft.ext.IndexStore.segmentCount(s, bm25)),
      ("graph", swept.contains("graph"),
        graft.ext.IndexStore.segmentCount(s, graph)),
      ("store", swept.contains("store"),
        graft.ext.IndexStore.segmentCount(s, store)),
    ).toDF("kind", "swept", "segments").orderBy("kind")
  }

  private val maintainSweepSql =
    """SELECT * FROM (VALUES
      |  ('bm25',  true,  CAST(1 AS INTEGER)),
      |  ('graph', false, CAST(2 AS INTEGER)),
      |  ('store', true,  CAST(1 AS INTEGER)))
      |  AS t(kind, swept, segments)
      |ORDER BY kind""".stripMargin

  // ---- registry-driven IVF cell rebalance (trained-family quality) ----

  /** [[graft.ext.IvfIndex.maybeRebalance]] driven END TO END by the
    * registry sweep — the trained-family twin of q_graph_maintain_auto:
    * a two-cell quantizer is frozen at build over 2/3 of the corpus,
    * the remaining third lands via `saveAppend` (cells only grow under
    * a frozen quantizer — the documented skew path), and then
    * [[graft.ext.Takedown.maintain]] — NOT the caller — observes the
    * oversized cells and fires the split, resolving vectors from the
    * registry's own store of record. Contract: the sweep reports the
    * ivf surface, the biggest live cell settles at or under the
    * threshold (so the NEXT armed sweep no-ops — asserted), and
    * exhaustive-probe search over the rebalanced index ≡ brute force
    * over the corpus, hash-checked (a rebalance re-partitions the
    * corpus into cells; exhaustive probing is partition-invariant, so
    * any lost/duplicated/mis-assigned vector breaks the equality).
    */
  /** The skewed-cells fixture q_ivf_rebalance_auto sweeps — store of
    * record over the full corpus plus a two-cell index whose frozen
    * quantizer took the remaining third via `saveAppend` — built ONCE
    * per JVM ([[graft.Gate.memoDir]]; the builds are priced by
    * q_ivf_persist / the store gates). The sweep MUTATES the index, so
    * the gate takes a [[graft.Gate.copyDir]] copy; the store is only
    * READ (maintain resolves vectors from it; its one segment sits far
    * under every maxSegments used here), so it is shared.
    */
  private[graft] def sharedIvfRebalanceFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"ivfra_fix:$d", "gate_ivfra_") { dir =>
      val embs = Tables.embeddings(s, d)
      CorpusStore.build(embs, col("vec_id"), s"$dir/store")
      val base = embs.filter(col("vec_id") % 3 =!= 0)
      val model = IvfIndex.build(base, k = 2, sampleFraction = 0.25)
      IvfIndex.save(model, s"$dir/idx")
      IvfIndex.saveAppend(model, embs.filter(col("vec_id") % 3 === 0),
        s"$dir/idx")
    }

  private def ivfRebalanceAuto(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val fix = sharedIvfRebalanceFixture(s, d)
    val root = graft.Gate.tmpDir("gate_ivfra_root_")
    val store = s"$fix/store"
    val idx = graft.Gate.copyDir(s"$fix/idx", "gate_ivfra_idx_")
    Takedown.register(s, root, Takedown.Surface("store", store))
    Takedown.register(s, root, Takedown.Surface("ivf", idx))
    val threshold = IvfIndex.maxLiveCell(s, idx) * 2 / 3
    val swept = Takedown.maintain(s, root, maxSegments = 100,
      maxIvfCell = threshold)
    val fired = swept.exists(_.kind == "ivf") &&
      IvfIndex.maxLiveCell(s, idx) <= threshold &&
      !Takedown.maintain(s, root, maxSegments = 100,
        maxIvfCell = threshold).exists(_.kind == "ivf")
    IvfIndex.search(IvfIndex.load(s, idx, embs), col("vec_id") < 10,
        k = 5, nProbe = Int.MaxValue)
      .withColumn("swept_ok", lit(fired))
      .orderBy("query_id", "rank")
  }

  private val ivfRebalanceAutoSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank, true AS swept_ok
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- per-family index health stats, value-checked ----

  /** EVERY non-graph family's health relation under one gate — ivf,
    * pq, sq, ivfpq, binary, bm25, literal, dedup, and the corpus
    * store ([[graft.ext.IvfIndex.stats]] and its eight siblings) —
    * the q_graph_stats posture extended across the registry, closing
    * "an operator sees graph quality but flies blind on the trained
    * indexes". One deterministic lifecycle per family (build 2/3 →
    * frozen-geometry append of the rest → a takedown slice), then
    * every stats row lands in the output as (family, metric, value):
    * layout constants (versions, segment/tombstone counts, codebook
    * ages, partial-segment debts) in closed form, corpus-derivable
    * numbers (live code/row/doc counts, BM25's vocabulary and df
    * envelope, the literal index's gram vocabulary and df envelope —
    * including its documented tombstone-blind planning staleness)
    * recomputed by the oracle from the documents/embeddings tables,
    * and the data-trained IVF/IVFPQ cell envelopes — which no SQL
    * oracle can re-derive without re-running KMeans — value-checked
    * against an independent Spark-side recompute from the index's own
    * persisted relations and emitted as 0/1 consistency metrics.
    */
  /** The nine per-family index lifecycles q_index_stats dashboards,
    * built ONCE per JVM ([[graft.Gate.memoDir]] — the r14
    * bench-window-hygiene discipline, the [[sharedHealthFixture]]
    * precedent): the gate exists to price the STATS READS
    * (index-relation-bounded, the claim) plus the two independent
    * Spark-side envelope recomputes, not nine build→append→delete
    * lifecycles whose ops are each priced by their own family gates
    * (q_*_persist / q_*_delete). `stats` is a pure read, so the gate
    * takes no copies.
    */
  private[graft] def sharedStatsFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"istat_fix:$d", "gate_istat_") { dir =>
      val embs = Tables.embeddings(s, d)
      val base = embs.filter(col("vec_id") % 3 =!= 0)
      val delta = embs.filter(col("vec_id") % 3 === 0)
      val doomed = embs.filter(col("vec_id") % 7 === 2).select("vec_id")

      val ivfModel = IvfIndex.build(base, k = 4, sampleFraction = 0.25)
      IvfIndex.save(ivfModel, s"$dir/ivf")
      IvfIndex.saveAppend(ivfModel, delta, s"$dir/ivf")
      IvfIndex.delete(s, s"$dir/ivf", doomed, col("vec_id"))

      val pqModel = graft.ext.PqIndex.build(base, m = 4, k = 16,
        sampleFraction = 1.0)
      graft.ext.PqIndex.save(pqModel, s"$dir/pq")
      graft.ext.PqIndex.saveAppend(pqModel, delta, s"$dir/pq")
      graft.ext.PqIndex.delete(s, s"$dir/pq", doomed, col("vec_id"))

      val sqModel = graft.ext.SqIndex.build(base)
      graft.ext.SqIndex.save(sqModel, s"$dir/sq")
      graft.ext.SqIndex.saveAppend(sqModel, delta, s"$dir/sq")
      graft.ext.SqIndex.delete(s, s"$dir/sq", doomed, col("vec_id"))

      val docs = Tables.documents(s, d)
        .select(col("doc_id"), lower(trim(col("text"))).as("text"))
      graft.ext.TextSearch.buildAndSave(docs.filter(col("doc_id") < 300),
        col("doc_id"), col("text"), s"$dir/bm25", buckets = 8)
      graft.ext.TextSearch.appendDocs(s, s"$dir/bm25",
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 350),
        col("doc_id"), col("text"))
      graft.ext.TextSearch.delete(s, s"$dir/bm25",
        docs.filter(col("doc_id") < 350 && col("doc_id") % 10 === 1)
          .select("doc_id"), col("doc_id"))

      val ipqModel = graft.ext.IvfPqIndex.build(base, kCells = 4, m = 4,
        k = 16, sampleFraction = 0.5)
      graft.ext.IvfPqIndex.save(ipqModel, s"$dir/ivfpq")
      graft.ext.IvfPqIndex.saveAppend(ipqModel, delta, s"$dir/ivfpq")
      graft.ext.IvfPqIndex.delete(s, s"$dir/ivfpq", doomed,
        col("vec_id"))

      val binModel = graft.ext.BinaryIndex.build(base)
      graft.ext.BinaryIndex.save(binModel, s"$dir/binary")
      graft.ext.BinaryIndex.saveAppend(binModel, delta, s"$dir/binary")
      graft.ext.BinaryIndex.delete(s, s"$dir/binary", doomed,
        col("vec_id"))

      CorpusStore.build(base.select(col("vec_id").as("id"),
        col("embedding")), col("id"), s"$dir/store")
      CorpusStore.append(s, s"$dir/store",
        delta.select(col("vec_id").as("id"), col("embedding")), col("id"))
      CorpusStore.delete(s, s"$dir/store",
        doomed.select(col("vec_id").as("id")), col("id"))

      DedupIndex.build(docs.filter(col("doc_id") < 300), col("doc_id"),
        col("text"), s"$dir/dedup", n = 3)
      DedupIndex.append(s, s"$dir/dedup",
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 350),
        col("doc_id"), col("text"))
      DedupIndex.delete(s, s"$dir/dedup",
        docs.filter(col("doc_id") < 350 && col("doc_id") % 10 === 1)
          .select("doc_id"), col("doc_id"))

      val rawDocs = Tables.documents(s, d).select(col("doc_id"),
        col("text"))
      graft.ext.LiteralIndex.buildAndSave(
        rawDocs.filter(col("doc_id") < 300), col("doc_id"), col("text"),
        s"$dir/literal", n = 4, buckets = 8)
      graft.ext.LiteralIndex.appendDocs(s, s"$dir/literal",
        rawDocs.filter(col("doc_id") >= 300 && col("doc_id") < 350),
        col("doc_id"), col("text"))
      graft.ext.LiteralIndex.delete(s, s"$dir/literal",
        rawDocs.filter(col("doc_id") < 350 && col("doc_id") % 10 === 1)
          .select("doc_id"), col("doc_id"))
    }

  private def indexStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val embs = Tables.embeddings(s, d)
    val fix = sharedStatsFixture(s, d)
    // the nine families' stats computations are independent read-only
    // jobs over disjoint index roots, serialized before only because
    // the gate body called them back to back — run them concurrently
    // on the bounded commit pool (guide §2.6; the Takedown.maintain
    // overlap applied to the dashboard read). Each task's eager
    // driver-side counts/collects overlap with the others'; the union
    // order below is unchanged, so the result is row-identical.
    def ivfRows(): DataFrame = {
      val ivfDir = s"$fix/ivf"
      val ivfStats = IvfIndex.stats(s, ivfDir)
      // the trained envelope, checked against an independent recompute
      // from the persisted assignment itself
      val occ = IvfIndex.load(s, ivfDir, embs).assigned
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), min("n"), max("n")).head()
      val envOk = ivfStats.filter(col("metric").isin(
          "cells", "cell_min", "cell_max"))
        .orderBy("metric").select("value").as[Long].collect().toSeq ==
        Seq(occ.getLong(2), occ.getLong(1), occ.getLong(0))
      ivfStats.filter(col("metric").isin(
          "live_rows", "segments", "tombstone_segments", "version"))
        .withColumn("family", lit("ivf"))
        .unionByName(Seq(("ivf", "cell_envelope_ok",
          if (envOk) 1L else 0L)).toDF("family", "metric", "value")
          .select("metric", "value", "family"))
    }
    def ipqRows(): DataFrame = {
      val ipqDir = s"$fix/ivfpq"
      val ipqStats = graft.ext.IvfPqIndex.stats(s, ipqDir)
      val ipqOcc = graft.ext.IvfPqIndex.load(s, ipqDir, embs).encoded
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), min("n"), max("n")).head()
      val ipqEnvOk = ipqStats.filter(col("metric").isin(
          "cells", "cell_min", "cell_max"))
        .orderBy("metric").select("value").as[Long].collect().toSeq ==
        Seq(ipqOcc.getLong(2), ipqOcc.getLong(1), ipqOcc.getLong(0))
      ipqStats.filter(col("metric").isin(
          "codebook_age", "live_codes", "segments", "subspaces",
          "tombstone_segments", "version"))
        .withColumn("family", lit("ivfpq"))
        .unionByName(Seq(("ivfpq", "cell_envelope_ok",
          if (ipqEnvOk) 1L else 0L)).toDF("family", "metric", "value")
          .select("metric", "value", "family"))
    }
    val tasks: Seq[() => DataFrame] = Seq(
      () => ivfRows(),
      () => graft.ext.PqIndex.stats(s, s"$fix/pq")
        .withColumn("family", lit("pq")),
      () => graft.ext.SqIndex.stats(s, s"$fix/sq")
        .withColumn("family", lit("sq")),
      () => graft.ext.TextSearch.stats(s, s"$fix/bm25")
        .withColumn("family", lit("bm25")),
      () => ipqRows(),
      () => graft.ext.BinaryIndex.stats(s, s"$fix/binary")
        .withColumn("family", lit("binary")),
      () => CorpusStore.stats(s, s"$fix/store")
        .withColumn("family", lit("store")),
      () => DedupIndex.stats(s, s"$fix/dedup")
        .withColumn("family", lit("dedup")),
      () => graft.ext.LiteralIndex.stats(s, s"$fix/literal")
        .withColumn("family", lit("literal")))
    graft.ext.IndexStore.runAll(tasks).map(_.get)
      .reduce(_ unionByName _)
      .select("family", "metric", "value")
      .orderBy("family", "metric")
  }

  private val indexStatsSql =
    s"""WITH survivors AS (SELECT count(*) AS n FROM embeddings
       |                   WHERE vec_id % 7 <> 2),
       |toks AS (SELECT doc_id, unnest(list_distinct(
       |           ${tokenize("text")})) AS term
       |         FROM documents
       |         WHERE doc_id < 350 AND doc_id % 10 <> 1),
       |df AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
       |lex AS (SELECT count(*) AS n_terms, max(df) AS df_max FROM df),
       |nd AS (SELECT count(*) AS n_docs FROM documents
       |       WHERE doc_id < 350 AND doc_id % 10 <> 1),
       |litg AS (SELECT doc_id, unnest(list_distinct(
       |           list_transform(range(1, length(text) - 2),
       |             i -> substring(text, i, 4)))) AS g
       |         FROM documents
       |         WHERE doc_id < 350 AND length(text) >= 4),
       |litdf AS (SELECT g, count(*) AS df FROM litg GROUP BY g),
       |litlex AS (SELECT count(*) AS n_grams, max(df) AS df_max
       |           FROM litdf)
       |SELECT * FROM (
       |  SELECT 'ivf' AS family, 'cell_envelope_ok' AS metric,
       |         1::BIGINT AS value
       |  UNION ALL SELECT 'ivf', 'live_rows', n FROM survivors
       |  UNION ALL SELECT 'ivf', 'segments', 3
       |  UNION ALL SELECT 'ivf', 'tombstone_segments', 1
       |  UNION ALL SELECT 'ivf', 'version', 3
       |  UNION ALL SELECT 'pq', 'codebook_age', 2
       |  UNION ALL SELECT 'pq', 'live_codes', n FROM survivors
       |  UNION ALL SELECT 'pq', 'segments', 3
       |  UNION ALL SELECT 'pq', 'subspaces', 4
       |  UNION ALL SELECT 'pq', 'tombstone_segments', 1
       |  UNION ALL SELECT 'pq', 'version', 3
       |  UNION ALL SELECT 'sq', 'codec_age', 2
       |  UNION ALL SELECT 'sq', 'live_codes', n FROM survivors
       |  UNION ALL SELECT 'sq', 'segments', 3
       |  UNION ALL SELECT 'sq', 'tombstone_segments', 1
       |  UNION ALL SELECT 'sq', 'version', 3
       |  UNION ALL SELECT 'bm25', 'df_max', df_max FROM lex
       |  UNION ALL SELECT 'bm25', 'df_partial_segments', 3
       |  UNION ALL SELECT 'bm25', 'n_docs', n_docs FROM nd
       |  UNION ALL SELECT 'bm25', 'n_terms', n_terms FROM lex
       |  UNION ALL SELECT 'bm25', 'segments', 3
       |  UNION ALL SELECT 'bm25', 'tombstone_segments', 1
       |  UNION ALL SELECT 'bm25', 'version', 3
       |  UNION ALL SELECT 'ivfpq', 'cell_envelope_ok', 1
       |  UNION ALL SELECT 'ivfpq', 'codebook_age', 2
       |  UNION ALL SELECT 'ivfpq', 'live_codes', n FROM survivors
       |  UNION ALL SELECT 'ivfpq', 'segments', 3
       |  UNION ALL SELECT 'ivfpq', 'subspaces', 4
       |  UNION ALL SELECT 'ivfpq', 'tombstone_segments', 1
       |  UNION ALL SELECT 'ivfpq', 'version', 3
       |  UNION ALL SELECT 'binary', 'dim', 64
       |  UNION ALL SELECT 'binary', 'live_codes', n FROM survivors
       |  UNION ALL SELECT 'binary', 'segments', 3
       |  UNION ALL SELECT 'binary', 'tombstone_segments', 1
       |  UNION ALL SELECT 'binary', 'version', 3
       |  UNION ALL SELECT 'store', 'live_rows', n FROM survivors
       |  UNION ALL SELECT 'store', 'segments', 3
       |  UNION ALL SELECT 'store', 'tombstone_segments', 1
       |  UNION ALL SELECT 'store', 'version', 3
       |  UNION ALL SELECT 'dedup', 'df_partial_segments', 3
       |  UNION ALL SELECT 'dedup', 'live_docs', n_docs FROM nd
       |  UNION ALL SELECT 'dedup', 'segments', 3
       |  UNION ALL SELECT 'dedup', 'tombstone_segments', 1
       |  UNION ALL SELECT 'dedup', 'version', 3
       |  UNION ALL SELECT 'literal', 'df_max', df_max FROM litlex
       |  UNION ALL SELECT 'literal', 'gram_width', 4
       |  UNION ALL SELECT 'literal', 'lexicon_partial_segments', 2
       |  UNION ALL SELECT 'literal', 'n_grams', n_grams FROM litlex
       |  UNION ALL SELECT 'literal', 'segments', 3
       |  UNION ALL SELECT 'literal', 'tombstone_segments', 1
       |  UNION ALL SELECT 'literal', 'version', 3)
       |ORDER BY family, metric""".stripMargin

  // ---- FEDERATED selection lineage, recorded + replayed ----

  /** [[graft.ext.SelectionLog.runFederated]] /
    * [[graft.ext.SelectionLog.replayFederated]]: a selection made
    * through the federation (corrections overlay over production, the
    * q_store_federate fixture) gets ONE durable lineage record
    * spanning BOTH registry roots — closing "the audit story stops at
    * the federation boundary". The gate records the federated read,
    * lands later deliveries on BOTH stores (overlay gains more
    * corrections, production gains new documents — the live federated
    * view provably moves), then replays the recorded selection and
    * returns the replayed rows: they must equal the PRE-delivery
    * federated oracle (id + text hash, value-checked), with the
    * post-delivery world invisible through the recorded pins.
    */
  private def selectionReplayFed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
    val overlayRoot = graft.Gate.tmpDir("gate_srf_oroot_")
    val prodRoot = graft.Gate.tmpDir("gate_srf_proot_")
    val overlay = graft.Gate.tmpDir("gate_srf_ostore_")
    val prod = graft.Gate.tmpDir("gate_srf_pstore_")
    CorpusStore.build(
      docs.filter(col("id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" corrected"))),
      col("id"), overlay)
    CorpusStore.build(docs, col("id"), prod)
    Takedown.register(s, overlayRoot,
      Takedown.Surface("store", overlay))
    Takedown.register(s, prodRoot, Takedown.Surface("store", prod))
    val (sid, _) = graft.ext.SelectionLog.runFederated(s,
      Seq(overlayRoot, prodRoot))(_ => ())
    // the federation moves on BOTH sides after the record
    CorpusStore.append(s, overlay,
      docs.filter(col("id") % 5 === 1)
        .withColumn("text", concat(col("text"), lit(" corrected"))),
      col("id"))
    CorpusStore.append(s, prod,
      docs.filter(col("id") % 5 === 2)
        .withColumn("id", col("id") + 100000), col("id"))
    graft.ext.SelectionLog.replayFederated(s, overlayRoot, sid) {
      vectors =>
        val byRoot = vectors.toMap
        val oAt = byRoot(overlayRoot).head._2
        val pAt = byRoot(prodRoot).head._2
        val o = CorpusStore.readAt(s, overlay, oAt)
          .select("id", "text")
        val p = CorpusStore.readAt(s, prod, pAt)
          .select("id", "text")
          .join(o.select("id"), Seq("id"), "left_anti")
        o.unionByName(p)
          .select(col("id"), md5(col("text")).as("h"))
          .orderBy("id")
    }
  }

  private val selectionReplayFedSql =
    """WITH a AS (SELECT doc_id AS id, text || ' corrected' AS text
      |           FROM documents WHERE doc_id % 5 = 0),
      |b AS (SELECT doc_id AS id, text FROM documents),
      |fed AS (SELECT id, text FROM a
      |        UNION ALL
      |        SELECT id, text FROM b
      |        WHERE id NOT IN (SELECT id FROM a))
      |SELECT id, md5(text) AS h FROM fed ORDER BY id""".stripMargin

  // ---- cross-corpus federation: precedence read over two stores ----

  /** [[graft.ext.CorpusStore.readFederated]]: a corrections overlay
    * (every fifth document re-delivered with amended text) federated
    * OVER the full production store — overlay rows win on id
    * collision, and deletes compose: an id retracted from the overlay
    * cedes back to production (the original shows through), an id
    * retracted from production but live in the overlay still serves.
    * The oracle reconstructs the precedence relationally; every id and
    * text hash value-checked.
    */
  private def storeFederate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
    val overlay = graft.Gate.tmpDir("gate_fed_a_")
    val prod = graft.Gate.tmpDir("gate_fed_b_")
    CorpusStore.build(
      docs.filter(col("id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" corrected"))),
      col("id"), overlay)
    CorpusStore.build(docs, col("id"), prod)
    CorpusStore.delete(s, prod, // production takedown
      docs.filter(col("id") % 7 === 3).select("id"), col("id"))
    CorpusStore.delete(s, overlay, // retracted corrections
      docs.filter(col("id") % 3 === 1).select("id"), col("id"))
    CorpusStore.readFederated(s, Seq(overlay, prod))
      .select(col("id"), md5(col("text")).as("h"))
      .orderBy("id")
  }

  private val storeFederateSql =
    """WITH a AS (SELECT doc_id AS id, text || ' corrected' AS text
      |           FROM documents
      |           WHERE doc_id % 5 = 0 AND doc_id % 3 <> 1),
      |b AS (SELECT doc_id AS id, text FROM documents
      |      WHERE doc_id % 7 <> 3),
      |fed AS (SELECT id, text FROM a
      |        UNION ALL
      |        SELECT id, text FROM b
      |        WHERE id NOT IN (SELECT id FROM a))
      |SELECT id, md5(text) AS h FROM fed ORDER BY id""".stripMargin

  // ---- streaming kNN-graph maintenance (warm-start NN-Descent) ----

  /** The production graph-maintenance shape: embedding deliveries
    * drain from a file stream in two micro-batches — the FIRST pays
    * the one-time cold NN-Descent build, every later batch wires in by
    * INSERT-BY-SEARCH ([[graft.ext.EmbeddingSearch.graphInsert]]: each
    * delivered vector beam-searches the standing graph, back-links
    * merge into touched nodes only). The drained graph must meet the
    * q_nn_descent recall floor against the memoized EXACT graph over
    * the union corpus: ≥80% of nodes recover ≥1 of their true top-3
    * neighbors. Per-batch cost is |batch| × walk + |batch|² scorings —
    * DELTA-bounded, corpus-independent given the graph; at 100 TB
    * delivery rates this (not warm descent, which re-scores the whole
    * corpus per tick) is the maintenance loop that survives.
    */
  private def streamKnn(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val in = graft.Gate.tmpDir("gate_sknn_in_")
    val ckpt = graft.Gate.tmpDir("gate_sknn_ck_")
    val state = graft.Gate.tmpDir("gate_sknn_state_")
    embs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    embs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    var delivered = 0
    drain(s, embs.schema, in, ckpt) { (batch, _) =>
      if (delivered == 0) {
        batch.write.mode("append").parquet(s"$state/corpus")
        EmbeddingSearch.nnDescent(s.read.parquet(s"$state/corpus"),
            k = 32, iters = 5)
          .write.mode("overwrite").parquet(s"$state/graph_next")
      } else {
        // materialize the inserted graph BEFORE appending the batch
        // to the corpus dir: the standing-corpus read is lazy, and an
        // early append would leak the delivery into its own walk
        EmbeddingSearch.graphInsert(s.read.parquet(s"$state/corpus"),
            s.read.parquet(s"$state/graph"), batch, k = 32)
          .write.mode("overwrite").parquet(s"$state/graph_next")
        batch.write.mode("append").parquet(s"$state/corpus")
      }
      // publish for the next batch (read-then-overwrite of the same
      // path inside one job is unsafe; stage-and-swap instead)
      s.read.parquet(s"$state/graph_next")
        .write.mode("overwrite").parquet(s"$state/graph")
      delivered += 1
    }
    val ann = s.read.parquet(s"$state/graph").filter(col("rank") <= 3)
    val exact = s.read.parquet(s"${GraphTextQueries.sharedKnnGraphDir(s, d)}/knn")
    recallFloor(embs, ann, exact, "n_nodes", "graph_ok")
  }

  // ---- streamed maintenance of the PERSISTED graph index ----

  /** [[graft.ext.KnnGraphIndex]] maintained from a delivery STREAM:
    * where q_stream_knn maintains bare parquet state dirs, this gate
    * composes `foreachBatch` with the real index lifecycle — the first
    * micro-batch cold-builds the index ([[graft.ext.KnnGraphIndex
    * .build]], priced once), every later batch lands via delta-bounded
    * [[graft.ext.KnnGraphIndex.insert]] — so the streamed graph gets
    * tombstones, time travel, takedown registration, and atomic
    * publishes for free. Contract: after the drain, beam serving meets
    * the family recall floor (≥80% of 20 external queries recover ≥1
    * true top-3 over the union corpus); the batch split is
    * deterministic (id parity), and KnnGraphIndexSpec pins that a
    * takedown BETWEEN batches masks the node in the next batch's
    * serving.
    */
  private def streamGraphIndex(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val in = graft.Gate.tmpDir("gate_sgi_in_")
    val ckpt = graft.Gate.tmpDir("gate_sgi_ck_")
    val idx = graft.Gate.tmpDir("gate_sgi_idx_") + "/ix"
    embs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    embs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    var delivered = 0
    drain(s, embs.schema, in, ckpt) { (batch, _) =>
      if (delivered == 0)
        KnnGraphIndex.build(batch, idx, k = 32, iters = 5)
      else KnnGraphIndex.insert(s, idx, batch)
      delivered += 1
    }
    val queries = embs.filter(col("vec_id") < 20)
    val got = KnnGraphIndex.search(s, idx, queries, k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    val truth = EmbeddingSearch.bruteForceTopKFor(embs, queries, 4)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    recallFloor(queries, got, truth)
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_cdc_maintain_ivf", cdcMaintainIvf, Some(cdcMaintainIvfSql)),
    Gate("q_cdc_maintain_dedup", cdcMaintainDedup,
      Some(ExtQueries.dedupDeleteOracle)),
    Gate("q_cdc_maintain_graph", cdcMaintainGraph,
      Some(searchFloorOk)),
    Gate("q_stream_knn", streamKnn, Some(graphFloorOk)),
    Gate("q_store_federate", storeFederate, Some(storeFederateSql)),
    Gate("q_graph_rewire", graphRewire, Some(searchFloorOk)),
    Gate("q_corpus_health", corpusHealth, Some(corpusHealthSql)),
    Gate("q_graph_maintain_auto", graphMaintainAuto,
      Some(searchFloorOk)),
    Gate("q_graph_insert", graphInsert, Some(searchFloorOk)),
    Gate("q_stream_graph_index", streamGraphIndex,
      Some(searchFloorOk)),
    Gate("q_maintain_sweep", maintainSweep, Some(maintainSweepSql)),
    Gate("q_ivf_rebalance_auto", ivfRebalanceAuto,
      Some(ivfRebalanceAutoSql)),
    Gate("q_index_stats", indexStats, Some(indexStatsSql)),
    Gate("q_selection_replay_fed", selectionReplayFed,
      Some(selectionReplayFedSql)),
  )
}
