package graft.ext

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** The kNN GRAPH as a persisted, maintainable, searchable index — the
  * DiskANN-shape vector-search surface completing the graph family:
  * [[EmbeddingSearch.nnDescent]] builds it, warm-start descent
  * maintains it, [[EmbeddingSearch.graphSearch]] serves queries from
  * it, and the whole lifecycle rides the shared [[IndexStore]]
  * manifest protocol (immutable segments, atomic publish, scoped
  * tombstones, compaction, GC leases, time travel) like every other
  * index family here.
  *
  * Layout: `vectors` (vec_id, embedding) and `edges` (vec_id,
  * neighbor_id, cos, rank, gen — node vec_id's top-k as of commit
  * generation `gen`), plus a one-row `meta` (k, hubs). A node DELETE
  * is one scoped tombstone masking the id's rows in all relations —
  * the family-standard path. A maintenance REWIRE never tombstones:
  * rewired nodes' new edge sets land with a HIGHER `gen` (commit
  * versions are strictly monotone under the writer lock) and reads
  * resolve each node to its max-gen edge set — last-writer-wins
  * carried IN the rows, because tombstone scopes mask whole segments
  * and a segment holds both relations: masking a rewired node's old
  * edges would have masked its still-live vector too. Superseded edge
  * rows cost storage, not correctness, until [[compact]] drops them —
  * so maintenance publishes exactly the delta (the delivery's vectors
  * + the changed nodes' new edge sets), never a graph rewrite.
  *
  * Two SERVING relations ride every commit so the query window never
  * recomputes an edge-wide aggregate (the round-11 weak mark):
  * `degrees` — summable (vec_id, d) delta rows, d the node's
  * directed-endpoint count (out-degree + in-degree over the stored
  * edge list; out-degree is the constant k for full nodes, so ranking
  * by this total ≡ ranking by reverse-kNN in-degree, the HNSW hub
  * signal) — and `hubs` — the elected top-`hubCount` entry set
  * (vec_id, deg, gen; reads take the max-gen set). Build/rewire/
  * compact re-elect hubs over ALL live degrees (those ops are
  * corpus-linear passes anyway); [[insert]] updates degrees by the
  * commit's own edge delta and re-elects among {standing hubs ∪
  * delta-touched nodes} only — delta-bounded, at the documented cost
  * that a never-touched node just below the cut enters only at the
  * next full election. Deletes mask a node's degree/hub rows by the
  * same scoped tombstone; degrees of nodes that POINTED at it go
  * stale until [[compact]] recomputes (entry election is a heuristic,
  * staleness trades nothing but entry quality).
  *
  * 100 TB shape: the steady-state maintenance tick is [[insert]] —
  * insert-by-search, compute ∝ |delivery| × walk + |delivery|² +
  * |delivery| × k scorings, CORPUS-INDEPENDENT given the graph (and
  * the |delivery|² term is now GUARDED: an oversized delivery fails
  * loudly — [[EmbeddingSearch.insertEdges]]) — with
  * [[rewire]]/[[append]]'s warm NN-Descent (n·k² per round,
  * corpus-linear) demoted to the periodic background quality pass that
  * restores the neighborhoods insertion never revisits. Published
  * bytes are delta-bounded on both paths: deliveries plus changed
  * neighborhoods (plus their bounded degree deltas). Deletes are
  * metadata-bounded tombstones; edges POINTING AT deleted nodes stay
  * until [[compact]] scrubs them (searches drop them naturally — a
  * candidate with no live vector scores nothing — at a bounded recall
  * cost, the standard graph-index posture).
  */
object KnnGraphIndex extends IndexFamily {

  val kind = "graph"
  val live = ("vectors", "vec_id")
  val needs = Some("emb")

  /** Insert-by-search: the delivery beam-searches the live graph for
    * its neighborhood — delta-bounded compute, never a corpus-wide
    * descent.
    */
  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit = {
    insert(spark, path, IndexFamily.vectors(fresh)); ()
  }

  private def asGraph(edges: DataFrame): DataFrame =
    edges.select(col("vec_id").as("query_id"), col("neighbor_id"),
      col("cos"), col("rank"))

  private def asStored(graph: DataFrame, gen: Long): DataFrame =
    graph.select(col("query_id").as("vec_id"), col("neighbor_id"),
      col("cos"), col("rank"), lit(gen).as("gen"))

  /** Commit `rels` and ENFORCE the invariant the max-gen edge read
    * depends on: rows were stamped `gen = snap.version + 1`, so the
    * publish must actually land as that version — commits are strictly
    * sequential under the writer lock, but if the manifest's versioning
    * discipline ever changed, two commits stamping one gen would make
    * the (vec_id, gen) read return duplicate merged edge sets.
    */
  private def commitStamped(spark: SparkSession, path: String,
      snap: IndexStore.Snapshot, op: String, publish: IndexStore.Publish)(
      rels: Rel*): Long = {
    val v = IndexStore.commit(spark, path, op, publish)(rels: _*)
    require(v == snap.version + 1,
      s"graph commit landed as version $v but its edge rows are " +
        s"stamped gen ${snap.version + 1} — manifest versioning broke " +
        s"the monotone-gen invariant under $path")
    v
  }

  /** Default hub-entry-set size for indexes persisted BEFORE the
    * degrees/hubs serving relations existed (their one-row meta carries
    * only `k`): legacy indexes read with this and lazily backfill the
    * relations on their first maintenance commit ([[degreesBaseline]])
    * instead of failing with an opaque field-not-found — the
    * retained-version/time-travel posture demands old layouts keep
    * reading.
    */
  private val legacyHubCount = 64

  private def readMeta(snap: IndexStore.Snapshot): (Int, Int) =
    IndexStore.cachedMeta(snap) {
      val row = snap.read("meta").getOrElse(
        sys.error(s"no meta relation under ${snap.root}")).head()
      val hubs = if (row.schema.fieldNames.contains("hubs"))
        row.getAs[Int]("hubs") else legacyHubCount
      (row.getAs[Int]("k"), hubs)
    }

  private def readK(snap: IndexStore.Snapshot): Int = readMeta(snap)._1

  def liveVectors(snap: IndexStore.Snapshot): DataFrame =
    IndexStore.liveRows(snap, "vectors", key = "vec_id")

  /** The current graph: delete tombstones apply (scoped, via the
    * shared [[IndexStore.liveRows]]), then each node resolves to its
    * MAX-GEN edge set — one aggregate + equi-join, so the
    * last-writer-wins read costs one extra shuffle over the edges,
    * never a window.
    */
  def liveEdges(snap: IndexStore.Snapshot): DataFrame = {
    val rows = IndexStore.liveRows(snap, "edges", key = "vec_id")
    val latest = rows.groupBy("vec_id").agg(max("gen").as("gen"))
    rows.join(latest, Seq("vec_id", "gen"))
      .select("vec_id", "neighbor_id", "cos", "rank")
  }

  /** Per-node degree totals: the summable delta rows folded by sum —
    * node-bounded, read only by maintenance-time hub elections (the
    * SERVING path reads [[liveHubs]], never this). A LEGACY index (no
    * degrees relation persisted yet) derives the totals from its live
    * edges — one edge-relation pass, paid only until the first
    * maintenance commit backfills the relation ([[degreesBaseline]]).
    */
  def liveDegrees(snap: IndexStore.Snapshot): DataFrame =
    if (snap.segments("degrees").isEmpty)
      degreeDelta(liveEdges(snap), 1)
    else IndexStore.liveRows(snap, "degrees", key = "vec_id")
      .groupBy("vec_id").agg(sum("d").as("d"))

  /** The elected hub entry set as of the latest election: live hub
    * rows at the max generation. The ONLY relation hub serving reads —
    * PlanShapeSpec pins that its plan never touches the edge list.
    * LEGACY indexes (no hubs relation yet) elect on the fly from
    * [[liveDegrees]] — an edge-wide aggregate in the query window,
    * exactly what the persisted relation exists to avoid, accepted
    * only as the migration read until the first maintenance commit.
    */
  def liveHubs(snap: IndexStore.Snapshot): DataFrame =
    if (snap.segments("hubs").isEmpty)
      electHubs(liveDegrees(snap), readMeta(snap)._2, gen = snap.version)
        .select("vec_id", "deg")
    else {
      val hr = IndexStore.liveRows(snap, "hubs", key = "vec_id")
      val mx = hr.agg(max("gen").as("__mxg"))
      hr.join(broadcast(mx), col("gen") === col("__mxg"))
        .select("vec_id", "deg")
    }

  /** The top-`entryPoints` persisted hubs as a walk entry frame
    * (deg desc, id asc — the [[EmbeddingSearch.graphSearch]] hub
    * ordering). Deleted hubs are already masked by their scoped
    * tombstones, so the frame touches ONLY the hubs relation.
    */
  private[graft] def hubEntryFrame(snap: IndexStore.Snapshot,
      entryPoints: Int): DataFrame =
    liveHubs(snap).orderBy(col("deg").desc, col("vec_id").asc)
      .limit(entryPoints).select(col("vec_id").as("node_id"))

  /** Directed-endpoint degree contributions of an edge frame in stored
    * (vec_id, neighbor_id) form: each edge adds 1 to both endpoints,
    * scaled by `sign` (+1 for committed rows, −1 for replaced ones) —
    * the summable-partials discipline applied to degrees, so
    * maintenance never rescans the edge relation to keep them current.
    */
  private def degreeDelta(edges: DataFrame, sign: Int): DataFrame =
    edges.select(col("vec_id"))
      .unionByName(edges.select(col("neighbor_id").as("vec_id")))
      .groupBy("vec_id").agg((count(lit(1)) * sign).as("d"))

  /** Elect the top-`h` entry set from summed degree totals. */
  private def electHubs(totals: DataFrame, h: Int, gen: Long): DataFrame =
    totals.groupBy("vec_id").agg(sum("d").as("deg"))
      .filter(col("deg") > 0)
      .orderBy(col("deg").desc, col("vec_id").asc).limit(h)
      .select(col("vec_id"), col("deg"), lit(gen).as("gen"))

  /** Restrict a commit's degree-delta rows to ids LIVE after the
    * commit (standing live vectors plus the delivery): a changed
    * node's −1 contributions otherwise include endpoints already
    * TOMBSTONED — the dangling references the change is dropping — and
    * those rows would land in a NEW segment the old tombstone's scope
    * does not mask, so [[liveDegrees]] would report phantom
    * negative-degree rows for dead ids until [[compact]]. The probe is
    * Bloom-pruned segment reads bounded by the delta's ids, never a
    * corpus pass (a legacy backfill's corpus-sized delta falls back to
    * the unpruned read, which it was going to pay anyway).
    */
  private def liveEndpointDeltas(snap: IndexStore.Snapshot,
      deg: DataFrame, delivered: DataFrame): DataFrame = {
    val liveIds = IndexStore.liveRowsAmong(snap, "vectors", "vec_id",
        deg.select("vec_id"))
      .select("vec_id").unionByName(delivered).distinct()
    deg.join(liveIds, Seq("vec_id"), "left_semi")
  }

  /** The degree rows a maintenance commit publishes: normally just the
    * commit's own delta — but a LEGACY index (persisted before the
    * degrees relation existed) gets the full pre-commit totals derived
    * from its live edges unioned in, so this one commit BACKFILLS the
    * relation and every later read is delta-summable again. One
    * edge-relation pass, paid once per legacy index.
    */
  private def degreesBaseline(snap: IndexStore.Snapshot,
      oldEdges: DataFrame, delta: DataFrame): DataFrame =
    if (snap.segments("degrees").nonEmpty) delta
    else degreeDelta(oldEdges, 1).unionByName(delta)

  /** Cold build: full NN-Descent from the id-ring seed, published as
    * version 1. `k` is the stored INTERNAL degree — search quality
    * rises with it; rank-truncate at read time if a consumer wants a
    * thinner graph. `hubCount` bounds the persisted entry set
    * ([[liveHubs]]).
    */
  def build(embs: DataFrame, path: String, k: Int = 32,
      iters: Int = 5, hubCount: Int = 64): Long =
    buildFrom(embs, EmbeddingSearch.nnDescent(embs, k, iters), path, k,
      hubCount)

  /** Persist a PROVIDED graph (query_id, neighbor_id, cos, rank ≤ k)
    * as version 1 — the admission path for graphs constructed outside
    * the cold descent: blocked/cell-bounded builds at 100 TB, an exact
    * graph for a small corpus, a graph imported from another engine.
    * Degrees and the hub entry set derive from the committed edges —
    * no extra scan.
    */
  def buildFrom(embs: DataFrame, graph: DataFrame, path: String,
      k: Int, hubCount: Int = 64): Long = {
    val spark = embs.sparkSession
    import spark.implicits._
    IndexStore.withLock(spark, path) {
      val stored = asStored(graph, gen = 1L).localCheckpoint(true)
      val deg = degreeDelta(stored, 1).localCheckpoint(true)
      // the five relation writes are independent actions over
      // materialized frames — the commit overlaps them
      val v = IndexStore.commit(spark, path, "build", Replace())(
        Rel("meta")(Seq((k, hubCount)).toDF("k", "hubs").coalesce(1)
          .write.parquet(_)),
        Rel("vectors")(embs.select(col("vec_id"), col("embedding"))
          .write.parquet(_)),
        Rel("edges")(stored.write.parquet(_)),
        Rel("degrees")(deg.write.parquet(_)),
        Rel("hubs")(electHubs(deg, hubCount, gen = 1L).write.parquet(_)))
      clearDebt(spark, path, keepTombstones = false)
      v
    }
  }

  /** Admit a delivery by WARM-START descent seeded with the current
    * live edges — the DESCENT-QUALITY admission: every node's
    * neighborhood re-converges, at n·k²·warmIters corpus-linear cost
    * per call. The steady-state feed path is [[insert]] (delta-bounded
    * insert-by-search); use this when a delivery should double as a
    * full quality pass. Live-presence idempotent: already-admitted ids
    * drop out, an empty delta publishes nothing. The commit carries
    * the delivery's vectors plus the full new edge sets of every node
    * whose neighborhood CHANGED, stamped `gen = version + 1` so reads
    * supersede those nodes' older rows. Live edges after the commit ≡
    * the descent's output graph, row for row. Degrees update by the
    * changed nodes' old-vs-new edge delta; hubs re-elect FULLY (this
    * op is corpus-linear anyway).
    */
  def append(spark: SparkSession, path: String, newEmbs: DataFrame,
      warmIters: Int = 2): Long =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val (k, hubCount) = readMeta(snap)
      val oldVec = liveVectors(snap)
      val delivery = EmbeddingSearch.dedupDelivery(newEmbs)
        .select(col("vec_id"), col("embedding"))
        .join(oldVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .persist()
      try {
        if (delivery.isEmpty) snap.version
        else {
          val oldEdges = liveEdges(snap).localCheckpoint(true)
          val corpus = oldVec.select("vec_id", "embedding")
            .unionByName(delivery)
          val stored = asStored(EmbeddingSearch.nnDescentFrom(corpus,
              Some(asGraph(oldEdges)), k, warmIters),
              gen = snap.version + 1)
            .localCheckpoint(true)
          // a node is rewired iff its (neighbor, rank) set changed in
          // either direction — deterministic recompute makes unchanged
          // neighborhoods byte-identical, so the symmetric difference
          // is exactly the delta
          val changed = changedNodes(stored, oldEdges)
          val newRows = stored.join(changed, Seq("vec_id"), "left_semi")
            .localCheckpoint(true)
          val oldRows = oldEdges.select(col("vec_id"), col("neighbor_id"))
            .join(changed, Seq("vec_id"), "left_semi")
          val deg = liveEndpointDeltas(snap, degreesBaseline(snap,
              oldEdges, degreeDelta(newRows, 1)
                .unionByName(degreeDelta(oldRows, -1))),
              delivery.select("vec_id"))
            .localCheckpoint(true)
          val electFrom = if (snap.segments("degrees").isEmpty) deg
            else liveDegrees(snap).unionByName(deg)
          val v = commitStamped(spark, path, snap, "append", Append)(
            Rel("vectors")(delivery.write.parquet(_)),
            Rel("edges")(newRows.write.parquet(_)),
            Rel("degrees")(deg.write.parquet(_)),
            Rel("hubs")(electHubs(electFrom, hubCount,
              gen = snap.version + 1).write.parquet(_)))
          // warm descent re-converged every neighborhood AND elected
          // hubs fully — an append IS a quality pass; debt resets
          clearDebt(spark, path, keepTombstones = false)
          v
        }
      } finally { delivery.unpersist(); () }
    }

  /** The DELTA-BOUNDED maintenance tick — insert-by-search (the
    * HNSW/DiskANN insertion shape, [[EmbeddingSearch.insertEdges]]):
    * each delivered vector beam-searches the LIVE graph for its
    * neighborhood, wires its top-k edges from the walk's visited state
    * plus exact intra-delivery pairs, and merges back-links into only
    * the touched old nodes' edge lists. Compute is
    * |delivery| × walk + |delivery|² + |delivery| × k scorings —
    * CORPUS-INDEPENDENT given the graph, where [[append]]'s warm
    * NN-Descent re-scores every node's neighbor-of-neighbor candidates
    * (n·k² per round) even for a one-vector delivery. The |delivery|²
    * term is enforced delta-sized: a delivery past `maxDelivery` fails
    * loudly with a build-from-scratch message instead of silently
    * going quadratic. This is the steady-state feed path; [[rewire]]
    * remains the periodic full-quality descent pass (insertion never
    * revisits an old node nobody linked to). Publish discipline
    * matches [[append]]: the delivery's vectors plus the CHANGED
    * nodes' new edge sets under a fresh gen, plus the bounded degree
    * delta and a BOUNDED hub re-election ({standing hubs ∪
    * delta-touched nodes} only — never a corpus aggregate, the tick
    * stays corpus-independent); live-presence idempotent, empty delta
    * publishes nothing.
    */
  def insert(spark: SparkSession, path: String, newEmbs: DataFrame,
      beamWidth: Int = 16, hops: Int = 4, entryPoints: Int = 16,
      maxDelivery: Int = 4096): Long =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val (k, hubCount) = readMeta(snap)
      val oldVec = liveVectors(snap)
      val delivery = EmbeddingSearch.dedupDelivery(newEmbs)
        .select(col("vec_id"), col("embedding"))
        .join(oldVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .persist()
      try {
        if (delivery.isEmpty) snap.version
        else {
          val oldEdges = liveEdges(snap).localCheckpoint(true)
          val (newEdges, mergedTouched) = EmbeddingSearch.insertEdges(
            oldVec, asGraph(oldEdges), delivery, k, beamWidth, hops,
            entryPoints, maxDelivery)
          // diff within the touched set only (delta × k rows a side) —
          // never a corpus-wide symmetric difference
          val touched = mergedTouched.select(col("query_id").as("vec_id"))
            .distinct()
          val oldTouched = oldEdges.join(broadcast(touched),
            Seq("vec_id"), "left_semi")
          val gen = snap.version + 1
          val changed = changedNodes(asStored(mergedTouched, gen),
            oldTouched)
          val changedRows = asStored(mergedTouched, gen)
            .join(changed, Seq("vec_id"), "left_semi")
            .localCheckpoint(true)
          // newEdges is already checkpointed inside insertEdges —
          // asStored is a pure projection over it, so a second eager
          // materialization here only re-ran a job over identical data
          val newRows = asStored(newEdges, gen)
          val deg = liveEndpointDeltas(snap, degreesBaseline(snap,
              oldEdges, degreeDelta(newRows, 1)
                .unionByName(degreeDelta(changedRows, 1))
                .unionByName(degreeDelta(
                  oldTouched.join(changed, Seq("vec_id"), "left_semi"),
                  -1))),
              delivery.select("vec_id"))
            .localCheckpoint(true)
          // BOUNDED hub re-election: only standing hubs and nodes whose
          // degree this commit touched can change the elected set's
          // membership order upward; a full election here would make
          // the tick corpus-linear again. A node whose rank should rise
          // because a hub FELL waits for the next full election
          // (rewire/compact/append) — documented entry-set staleness,
          // now BOUNDED by [[maybeRewire]]'s debt policy. A LEGACY
          // index's backfill commit elects fully from the baselined
          // delta instead (that commit is corpus-linear by design).
          val electFrom = if (snap.segments("degrees").isEmpty) deg
            else {
              val cands = liveHubs(snap).select("vec_id")
                .unionByName(deg.select("vec_id")).distinct()
              // Bloom-pruned segment reads: only degree segments that
              // might hold a candidate id are touched — the tick's
              // degree lookup is bounded by the candidate set, not the
              // relation's commit history (compact folds that anyway)
              IndexStore.liveRowsAmong(snap, "degrees", "vec_id", cands)
                .join(broadcast(cands), Seq("vec_id"), "left_semi")
                .select(col("vec_id"), col("d"))
                .unionByName(deg)
            }
          val v = commitStamped(spark, path, snap, "append", Append)(
            Rel("vectors")(delivery.write.parquet(_)),
            Rel("edges")(newRows.unionByName(changedRows).write.parquet(_)),
            Rel("degrees")(deg.write.parquet(_)),
            Rel("hubs")(electHubs(electFrom, hubCount, gen).write.parquet(_)))
          bumpDebt(spark, path, dDeliveries = 1, dTombstones = 0)
          v
        }
      } finally { delivery.unpersist(); () }
    }

  /** Nodes whose (neighbor, rank) set differs between the new and old
    * graphs, in either direction — deterministic recompute makes
    * unchanged neighborhoods byte-identical, so the symmetric
    * difference is exactly the publish delta.
    *
    * INVARIANT the one-pass group-count spelling depends on:
    * (vec_id, neighbor_id, rank) is unique WITHIN each side and never
    * null. Holds by construction everywhere this is called — both
    * sides are (or derive from) a per-node `row_number` top-k
    * ([[EmbeddingSearch.nnDescentFrom]]/[[EmbeddingSearch
    * .insertEdges]] outputs, and [[liveEdges]]' max-gen resolution
    * keeps one rank row per (node, rank)) over non-null ids. A
    * duplicated key would group to count 2 and silently vanish from
    * the delta (stale edges published without error), so any future
    * caller feeding rows NOT produced by a per-node row_number must
    * dedup first.
    */
  private def changedNodes(stored: DataFrame,
      oldEdges: DataFrame): DataFrame = {
    val keyCols = Seq("vec_id", "neighbor_id", "rank")
    // one-pass symmetric difference: (vec_id, neighbor_id, rank) is
    // unique within each side (rank is a per-node row_number), so a
    // key present in exactly ONE side groups to count 1 — the same set
    // the old two-anti-join spelling produced with four shuffle sides;
    // this is one union + one aggregate (guide §2.4: fewer shuffles)
    stored.select(keyCols.map(col): _*)
      .unionByName(oldEdges.select(keyCols.map(col): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__sides"))
      .filter(col("__sides") === 1)
      .select("vec_id").distinct()
  }

  /** RE-WIRE maintenance: warm descent rounds over the live corpus
    * with no delivery — restores node degrees after deletes and
    * compaction scrubbed dangling references ([[compact]] is
    * layout-only by contract, so degrees stay < k until someone
    * re-wires) and generally tightens neighborhoods. Publishes only
    * the changed nodes' new edge sets under a fresh gen (the
    * [[append]] delta discipline) plus their degree delta and a FULL
    * hub re-election; an unchanged graph publishes nothing.
    */
  def rewire(spark: SparkSession, path: String, iters: Int = 1): Long =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val (k, hubCount) = readMeta(snap)
      val corpus = liveVectors(snap).select("vec_id", "embedding")
      val oldEdges = liveEdges(snap).localCheckpoint(true)
      val stored = asStored(EmbeddingSearch.nnDescentFrom(corpus,
          Some(asGraph(oldEdges)), k, iters), gen = snap.version + 1)
        .localCheckpoint(true)
      val changed = changedNodes(stored, oldEdges)
      val noIds = corpus.select("vec_id").limit(0)
      val v = if (changed.isEmpty) {
        // no edge changed — but this is still the FULL ELECTION the
        // bounded insert-time elections defer to: if accumulated
        // insert/delete staleness moved the true top-H away from the
        // standing set, publish a hubs-only refresh (otherwise the
        // staleness insert's delta-bounded election documents would
        // outlive every rewire that found the edges converged).
        // Drift is judged on the ORDERED MEMBERSHIP (the (deg desc,
        // id) id sequence — everything a reader observes, since
        // [[hubEntryFrame]] serves rank-prefixes of it), not on exact
        // deg values: a bare deg change that reorders nothing (one
        // insert tick bumping a standing hub) would otherwise mint a
        // manifest version per rewire on an effectively idle index,
        // pure GC/retention churn.
        val full = electHubs(liveEndpointDeltas(snap, liveDegrees(snap),
          noIds), hubCount, gen = snap.version + 1)
        val wRank = Window.orderBy(col("deg").desc, col("vec_id").asc)
        def seqOf(hs: DataFrame): DataFrame = hs
          .select("vec_id", "deg")
          .withColumn("rn", row_number().over(wRank))
          .select("rn", "vec_id")
        val fullSeq = seqOf(full)
        val curSeq = seqOf(liveHubs(snap))
        val drift = fullSeq.exceptAll(curSeq)
          .unionByName(curSeq.exceptAll(fullSeq))
        if (drift.isEmpty) snap.version
        else commitStamped(spark, path, snap, "append", Append)(
          Rel("hubs")(full.write.parquet(_)))
      } else {
        val newRows = stored.join(changed, Seq("vec_id"), "left_semi")
          .localCheckpoint(true)
        val oldRows = oldEdges.select(col("vec_id"), col("neighbor_id"))
          .join(changed, Seq("vec_id"), "left_semi")
        val deg = liveEndpointDeltas(snap, degreesBaseline(snap,
            oldEdges, degreeDelta(newRows, 1)
              .unionByName(degreeDelta(oldRows, -1))),
            noIds)
          .localCheckpoint(true)
        val electFrom = if (snap.segments("degrees").isEmpty) deg
          else liveEndpointDeltas(snap, liveDegrees(snap), noIds)
            .unionByName(deg)
        commitStamped(spark, path, snap, "append", Append)(
          Rel("edges")(newRows.write.parquet(_)),
          Rel("degrees")(deg.write.parquet(_)),
          Rel("hubs")(electHubs(electFrom, hubCount,
            gen = snap.version + 1).write.parquet(_)))
      }
      // either branch leaves the hub set ≡ a full election over the
      // post-commit live degrees and every live neighborhood descent-
      // converged — the maintenance debt is paid in full
      clearDebt(spark, path, keepTombstones = false)
      v
    }

  /** Retract nodes: one scoped tombstone masks the ids' rows in ALL
    * relations (vector gone, own edge list gone, own degree rows and
    * hub membership gone). Idempotent — only currently-live ids
    * tombstone. Edges of OTHER nodes pointing at the deleted ids stay
    * until [[compact]]; searches drop them via the live-vector score
    * join, and those nodes' stored degrees overstate until compaction
    * recomputes (entry-election staleness only).
    */
  override def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: Column): Unit = IndexStore.withLock(spark, path) {
    val snap = IndexStore.snapshot(spark, path)
    val requested = ids.select(idCol.as("vec_id")).distinct()
    val eff = IndexStore.liveRowsAmong(snap, "vectors", "vec_id",
        requested)
      .select("vec_id")
      .join(broadcast(requested), Seq("vec_id"), "left_semi")
      .distinct()
    if (!eff.isEmpty) {
      IndexStore.commit(spark, path, "delete", Append)(
        IndexStore.tombstones(eff, (snap.segments("vectors") ++
          snap.segments("edges") ++ snap.segments("degrees") ++
          snap.segments("hubs")).distinct): _*)
      bumpDebt(spark, path, dDeliveries = 0, dTombstones = 1)
    }
  }

  /** [[delete]] under the name the perfbench workload calls. */
  def deleteVecs(spark: SparkSession, path: String, ids: DataFrame,
      idCol: Column): Unit = delete(spark, path, ids, idCol)

  /** Apply tombstones physically and scrub dangling references: live
    * vectors and live edges rewrite into one segment, edges keep only
    * rows whose NEIGHBOR is still a live vector (the dead references
    * deletes leave behind). Degrees recompute from the scrubbed edges
    * (folding every delta and clearing delete-staleness) and hubs
    * re-elect fully. Node degrees may drop below k until the next
    * [[append]] re-wires them — compaction is a layout + scrub
    * pass, never a re-train (the family contract).
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val (_, hubCount) = readMeta(snap)
      val vecs = liveVectors(snap).persist()
      try {
        val edges = liveEdges(snap)
          .join(vecs.select(col("vec_id").as("neighbor_id")),
            Seq("neighbor_id"), "left_semi")
          .select(col("vec_id"), col("neighbor_id"), col("cos"),
            col("rank"), lit(snap.version + 1).as("gen"))
          .localCheckpoint(true)
        val deg = degreeDelta(edges, 1).localCheckpoint(true)
        commitStamped(spark, path, snap, "compact",
            Replace(retainVersions))(
          Rel("meta")(snap.read("meta").get.coalesce(1).write.parquet(_)),
          Rel("vectors")(vecs.write.parquet(_)),
          Rel("edges")(edges.write.parquet(_)),
          Rel("degrees")(deg.write.parquet(_)),
          Rel("hubs")(electHubs(deg, hubCount, gen = snap.version + 1)
            .write.parquet(_)))
        // compact folds degrees from the scrubbed edges and elects
        // hubs fully — the ELECTION debt is paid; the TOMBSTONE debt
        // is not (scrubbed nodes keep sub-k degrees until a re-wire,
        // the layout-only contract), so it carries forward and keeps
        // counting toward [[maybeRewire]]
        clearDebt(spark, path, keepTombstones = true)
      } finally { vecs.unpersist(); () }
    }

  // ---- maintenance debt: the trigger [[maybeRewire]] fires on ----

  private def debtFile(root: String) = new Path(root, "_graph_debt")

  /** (deliveries since the last full-quality pass, tombstone commits
    * since the last re-wire) — the two staleness sources the docs
    * above call out: a delta-bounded [[insert]]'s hub election never
    * promotes a never-touched node just below the cut, and a delete's
    * victims leave their old neighbors with sub-k degrees that
    * [[compact]] by contract does not restore. Tracked in a root-level
    * sidecar updated under the writer lock and rewritten by
    * [[graft.store.ControlFile.replace]], so it is never torn; a
    * missing or malformed file reads as zero debt (the policy is a
    * heuristic — undercounting delays a rewire, never corrupts data).
    * [[IndexStore.cloneAt]] copies segments only, so a clone starts
    * debt-free by design.
    */
  override def debt(spark: SparkSession, root: String): (Long, Long) =
    ControlFile.read(ControlFile.fs(spark, root), debtFile(root))
      .map(_.trim.split("\\s+")).collect {
        case Array(d, t) =>
          (scala.util.Try(d.toLong).getOrElse(0L),
            scala.util.Try(t.toLong).getOrElse(0L))
      }.getOrElse((0L, 0L))

  private def writeDebt(spark: SparkSession, root: String, d: Long,
      t: Long): Unit =
    ControlFile.replace(ControlFile.fs(spark, root), debtFile(root), s"$d $t")

  /** Callers hold the writer lock (every mutator goes through
    * [[IndexStore.withLock]]), so read-modify-write cannot race.
    */
  private def bumpDebt(spark: SparkSession, root: String,
      dDeliveries: Long, dTombstones: Long): Unit = {
    val (d, t) = debt(spark, root)
    writeDebt(spark, root, d + dDeliveries, t + dTombstones)
  }

  private def clearDebt(spark: SparkSession, root: String,
      keepTombstones: Boolean): Unit = {
    val t = if (keepTombstones) debt(spark, root)._2 else 0L
    writeDebt(spark, root, 0L, t)
  }

  /** Fire [[rewire]] once accumulated maintenance debt crosses
    * `maxDebt` — the [[maybeCompact]] size-tier policy applied to
    * graph QUALITY, closing the "nothing ever calls rewire" gap: a
    * pure insert/delete workload otherwise accumulates hub-election
    * staleness and sub-k degrees forever, because [[insert]]'s
    * election is delta-bounded by design and [[compact]] is
    * layout-only by contract. Debt is [[debt]]'s two counters summed
    * (each published insert delivery +1, each tombstone commit +1);
    * [[build]]/[[buildFrom]]/[[append]]/[[rewire]] clear it,
    * [[compact]] clears the election half only. [[Takedown.maintain]]
    * runs this for every registered graph surface, so the registry
    * sweep restores quality, not just layout. Returns whether a
    * rewire fired; after a fire the hub set ≡ a full election over
    * the live degrees (KnnGraphIndexSpec pins the law).
    */
  override private[ext] def maintainQuality(spark: SparkSession,
      path: String, maxGraphDebt: Int, maxCell: Long,
      embs: => Option[DataFrame]): Boolean =
    maybeRewire(spark, path, maxGraphDebt)

  def maybeRewire(spark: SparkSession, path: String, maxDebt: Int = 8,
      iters: Int = 1): Boolean =
    // gauge read and fire share one writer-lock scope (reentrant into
    // rewire's own lock): two concurrent maintenance sweeps reading the
    // sidecar unlocked could both observe due debt and both pay a full
    // warm-descent pass — now the second sweep re-reads AFTER the first
    // one's rewire cleared the counters and no-ops
    IndexStore.withLock(spark, path) {
      val (d, t) = debt(spark, path)
      val due = d + t > maxDebt
      if (due) { rewire(spark, path, iters); () }
      due
    }

  /** INDEX HEALTH [[stats]] gauges — the numbers that DECIDE
    * maintenance (when [[maybeRewire]]/[[maybeCompact]] should fire)
    * and that an operator dashboards at 100 TB, today recomputable only
    * by ad-hoc queries against the raw relations. One row each for:
    * `live_nodes` / `live_edges` (the served
    * graph's size); `dangling_edges` (live edge rows whose neighbor's
    * vector is tombstoned — deletes leave them for [[compact]], and
    * each one is a wasted walk candidate); `deg_min`/`deg_max`/
    * `deg_sum` over the STORED degree totals (the degree histogram's
    * envelope — `deg_min` < k means delete-damaged neighborhoods a
    * [[rewire]] would restore; overstatement vs the live edges is the
    * documented delete staleness); `hub_count` and `hub_election_age`
    * (versions since the last election — bounded insert elections age
    * the entry set); `debt_deliveries`/`debt_tombstones` ([[debt]]'s
    * counters).
    * Cost is index-relation-bounded (edge + degree + hub scans, one
    * anti-join) — never a corpus read; q_graph_stats value-checks
    * every number against an oracle recomputing them from the raw
    * relations.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] = {
    val spark = snap.spark
    import spark.implicits._
    val vecs = liveVectors(snap).select("vec_id").persist()
    val edges = liveEdges(snap).persist()
    try {
      // ONE driver action for all six gauges: the node/edge/dangling
      // counts, the degree envelope, the hub count, and the hub
      // generation were six sequential tiny jobs — crossJoining their
      // single-row aggregates computes them in one job over the same
      // persisted frames (guide §2.6 applied inside the plan; every
      // value is the same aggregate as before)
      val hubGenAgg =
        if (snap.segments("hubs").isEmpty)
          Seq(java.lang.Long.valueOf(snap.version)).toDF("hg")
        else IndexStore.liveRows(snap, "hubs", key = "vec_id")
          .agg(max("gen").as("hg"))
      val row = vecs.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .crossJoin(edges
          .join(vecs.select(col("vec_id").as("neighbor_id")),
            Seq("neighbor_id"), "left_anti")
          .agg(count(lit(1)).as("n_dangling")))
        .crossJoin(liveDegrees(snap)
          .agg(min("d").as("lo"), max("d").as("hi"), sum("d").as("sm")))
        .crossJoin(liveHubs(snap).agg(count(lit(1)).as("n_hubs")))
        .crossJoin(hubGenAgg)
        .head()
      val liveNodes = row.getLong(0)
      val liveEdgeCnt = row.getLong(1)
      val dangling = row.getLong(2)
      def longAt(j: Int): Long =
        if (row.isNullAt(3 + j)) 0L else row.getLong(3 + j)
      val hubCount = row.getLong(6)
      val hubGen = if (row.isNullAt(7)) snap.version else row.getLong(7)
      val (dDebt, tDebt) = debt(spark, snap.root)
      Seq(
        "dangling_edges" -> dangling,
        "debt_deliveries" -> dDebt,
        "debt_tombstones" -> tDebt,
        "deg_max" -> longAt(1),
        "deg_min" -> longAt(0),
        "deg_sum" -> longAt(2),
        "hub_count" -> hubCount,
        "hub_election_age" -> (snap.version - hubGen),
        "live_edges" -> liveEdgeCnt,
        "live_nodes" -> liveNodes)
    } finally { vecs.unpersist(); edges.unpersist(); () }
  }

  /** MEASURED serving quality — the number [[maybeRewire]]'s proxy
    * debt counters stand in for: serve a BOUNDED deterministic sample
    * of the index's own live vectors (the `sampleN` smallest
    * `xxhash64(vec_id)` ranks — stable across runs and engines, no
    * RNG) through the beam walk, score the same sample EXACTLY by
    * brute force over the live corpus, and report recall@k (self-hits
    * excluded on both sides — a corpus row trivially finds itself).
    * One row: (n_queries, n_truth, n_hit, n_covered, recall) —
    * `recall` the aggregate hit fraction, `n_covered` the queries
    * recovering ≥1 true neighbor (the family floor's criterion; on
    * high-dimensional near-random corpora aggregate recall@k of a
    * sparse graph sits well below per-query coverage). Cost is
    * |sample| × corpus scorings plus |sample| walks — maintenance-
    * window work by design, NEVER a serving-path read; run it on the
    * [[Takedown.maintain]] cadence to calibrate `maxDebt` empirically
    * (debt thresholds that keep measured recall above the SLO are the
    * right ones — q_recall_probe pins the floor this library's own
    * fixtures hold).
    */
  def recallProbe(spark: SparkSession, path: String, sampleN: Int = 16,
      k: Int = 3, beamWidth: Int = 16, hops: Int = 4,
      entryPoints: Int = 16): DataFrame = {
    val snap = IndexStore.snapshot(spark, path)
    val corpus = liveVectors(snap).select("vec_id", "embedding")
    val sample = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .localCheckpoint(true)
    val got = searchSnap(snap, sample, k + 1, beamWidth, hops,
        entryPoints, hubEntries = false)
      .filter(col("neighbor_id") =!= col("query_id"))
    val wG = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val gotK = got.withColumn("rn", row_number().over(wG))
      .filter(col("rn") <= k).select("query_id", "neighbor_id")
    val wT = Window.partitionBy("query_id").orderBy(col("rank"))
    val truth = EmbeddingSearch.bruteForceTopKFor(corpus, sample, k + 1)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(wT)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id")
    val hits = gotK.join(truth, Seq("query_id", "neighbor_id"))
      .persist()
    try {
      val hit = hits.count()
      val covered = hits.select("query_id").distinct().count()
      val nTruth = truth.count()
      val nQ = sample.count()
      import spark.implicits._
      Seq((nQ, nTruth, hit, covered,
        if (nTruth == 0) 1.0 else hit.toDouble / nTruth))
        .toDF("n_queries", "n_truth", "n_hit", "n_covered", "recall")
    } finally { hits.unpersist(); () }
  }

  /** Serve external queries by beam descent over the live graph —
    * [[EmbeddingSearch.graphSearch]] with this index's live vectors
    * and edges. Lookup semantics (nothing self-excluded).
    * `hubEntries = true` starts the walk from the PERSISTED hub entry
    * set ([[liveHubs]], maintained at commit time) — unlike the
    * bare-edge-list path, no degree aggregate runs in the query
    * window. `where` serves the filtered-ANN contract
    * ([[EmbeddingSearch.graphSearchWhere]]'s over-fetch + post-filter
    * shape) against the live corpus.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, beamWidth: Int = 16, hops: Int = 4,
      entryPoints: Int = 16, hubEntries: Boolean = false,
      where: Option[Column] = None, overFetch: Int = 4): DataFrame =
    searchSnap(IndexStore.snapshot(spark, path), queries, k,
      beamWidth, hops, entryPoints, hubEntries, where, overFetch)

  /** [[search]] against a RETAINED version — the time-travel/lineage
    * reader every family exposes (hold [[IndexStore.withLease]] to
    * pin against GC).
    */
  def searchAt(spark: SparkSession, path: String, version: Long,
      queries: DataFrame, k: Int, beamWidth: Int = 16, hops: Int = 4,
      entryPoints: Int = 16, hubEntries: Boolean = false,
      where: Option[Column] = None, overFetch: Int = 4): DataFrame =
    searchSnap(IndexStore.snapshotAt(spark, path, version), queries, k,
      beamWidth, hops, entryPoints, hubEntries, where, overFetch)

  /** PRECEDENCE-AWARE FEDERATED graph search across saved indexes
    * ([[IndexFamily.federate]]'s semantics — a corrections overlay over
    * a production graph index has a search path, not just a read path):
    * `roots` ordered highest-precedence first, every root's walk
    * over-fetching k×overFetch from its OWN live graph. The fuse is
    * CALIBRATED: every root scores raw cosines against its own vectors.
    */
  def searchFederatedVectors(spark: SparkSession, roots: Seq[String],
      queries: DataFrame, k: Int, beamWidth: Int = 16, hops: Int = 4,
      entryPoints: Int = 16, overFetch: Int = 4): DataFrame =
    federateVectors(spark, roots, k) { i =>
      search(spark, roots(i), queries, k * overFetch, beamWidth, hops,
        entryPoints)
    }

  private def searchSnap(snap: IndexStore.Snapshot, queries: DataFrame,
      k: Int, beamWidth: Int, hops: Int, entryPoints: Int,
      hubEntries: Boolean = false, where: Option[Column] = None,
      overFetch: Int = 4): DataFrame = {
    val vecs = liveVectors(snap)
    val graph = asGraph(liveEdges(snap))
    val entries =
      if (hubEntries) Some(hubEntryFrame(snap, entryPoints)) else None
    where match {
      case None =>
        EmbeddingSearch.graphSearch(vecs, graph, queries, k, beamWidth,
          hops, entryPoints, hubEntries = false, entries)
      case Some(pred) =>
        EmbeddingSearch.graphSearchWhere(vecs, graph, queries, pred, k,
          beamWidth, hops, entryPoints, overFetch, entries)
    }
  }
}
