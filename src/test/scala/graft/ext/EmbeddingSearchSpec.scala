package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EmbeddingSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.7f, 0.7f, 0.0f)),
  ).toDF("vec_id", "embedding")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val v = col("embedding").cast("array<double>")
    val got = embs.select(
      EmbeddingSearch.cosine(v, v).as("self")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("brute-force top-k ranks by true cosine") {
    val top = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") === 0, k = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 4L, 2L, 3L))
  }

  test("LSH top-k returns only same-bucket neighbors, ranked correctly") {
    val res = EmbeddingSearch.lshTopK(embs, col("vec_id") === 0, k = 4,
      nPlanes = 2, dim = 3)
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") === 0, 4)
    val bruteCos = brute.select("neighbor_id", "cos")
      .as[(Long, Double)].collect().toMap
    // every LSH result must carry the same cosine the exact path computes
    res.select("neighbor_id", "cos").as[(Long, Double)].collect()
      .foreach { case (id, c) => assert(math.abs(bruteCos(id) - c) < 1e-9) }
  }

  test("cosine dup pairs finds the near-identical vectors") {
    val pairs = EmbeddingSearch.cosineDupPairs(embs, threshold = 0.99,
      nPlanes = 1, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("hard negatives exclude labeled positives and keep candidate order") {
    val queries = embs.filter(col("vec_id") === 0)
    // vec 0's exact ranking over the full corpus: 0 (self), 1, 4, 2, 3
    val positives = Seq((0L, 0L), (0L, 1L)).toDF("query_id", "neighbor_id")
    val got = EmbeddingSearch.hardNegatives(embs, queries, positives,
        k = 3, candidateK = 5)
      .orderBy("rn").select("rn", "neighbor_id")
      .as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 4L), (2, 2L), (3, 3L)))
    // no positives -> plain lookup semantics, self ranks first
    val plain = EmbeddingSearch.hardNegatives(embs, queries,
        Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id"),
        k = 2, candidateK = 5)
      .orderBy("rn").select("rn", "neighbor_id")
      .as[(Int, Long)].collect().toSeq
    assert(plain == Seq((1, 0L), (2, 1L)))
  }

  test("knnGraph: every row gets k neighbors, equal to per-query topk") {
    val embs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val g = EmbeddingSearch.knnGraph(embs, k = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    // 5 nodes × 2 neighbors
    assert(g.size === 10)
    // node 0's nearest is 1 (cos≈0.994), then 4 (cos≈0.707)
    assert(g.filter(_._1 == 0L).map(t => (t._2, t._3)) ===
      Seq((1, 1L), (2, 4L)))
    // graph rows match the single-query brute force for each node
    val solo = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") === 2L,
        k = 2).select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(g.filter(_._1 == 2L) === solo)
  }

  // ---- binary (sign-bit) quantization ----

  test("binaryCode packs sign bits; hamming counts differing bits") {
    val df = Seq(
      (0L, Array(1.0, -1.0, 2.0)),   // bits: 1,0,1 → 0b101 = 5
      (1L, Array(-1.0, 1.0, 2.0)),   // bits: 0,1,1 → 0b110 = 6
    ).toDF("id", "v")
    val codes = df.select(col("id"),
      EmbeddingSearch.binaryCode(col("v"), dim = 3).as("c"))
    val m = codes.as[(Long, Seq[Long])].collect().toMap
    assert(m(0L) === Seq(5L))
    assert(m(1L) === Seq(6L))
    val h = codes.as("a").join(codes.as("b"),
        col("a.id") < col("b.id"))
      .select(EmbeddingSearch.hamming(col("a.c"), col("b.c")))
      .as[Long].head()
    assert(h === 2L) // bits 0 and 1 differ
  }

  test("binaryTopK with full candidate coverage equals brute force") {
    val got = EmbeddingSearch.binaryTopK(embs, col("vec_id") === 0,
        k = 4, candidates = 10, dim = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val want = EmbeddingSearch.bruteForceTopK(embs,
        col("vec_id") === 0, k = 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want) // re-rank is exact once stage 1 passes everything
  }

  // ---- NN-Descent ----

  /** Two tight clusters: NN-Descent's favorable case — the
    * neighbor-of-neighbor property holds strongly, so a couple of
    * rounds from the id-ring seed (which connects ACROSS clusters,
    * the worst seed) must land on the exact graph.
    */
  private def clustered = (0 until 12).map { i =>
    val base = if (i % 2 == 0) Array(10f, 0f, 0f) else Array(0f, 10f, 0f)
    // ids interleave clusters so the ring seed is maximally wrong
    (i.toLong, base.zipWithIndex.map { case (v, j) =>
      v + (if (j == 2) i * 0.01f else 0f) })
  }.toDF("vec_id", "embedding")

  test("nnDescent converges to the exact graph on clustered data") {
    val exact = EmbeddingSearch.knnGraph(clustered, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val nd = EmbeddingSearch.nnDescent(clustered, k = 3, iters = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(nd === exact)
  }

  test("nnDescent recall never falls as rounds increase") {
    val exact = EmbeddingSearch.knnGraph(clustered, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int): Int =
      EmbeddingSearch.nnDescent(clustered, k = 3, iters = iters)
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().count(exact)
    val r = Seq(0, 1, 2, 3).map(recall)
    assert(r === r.sorted, s"recall per round: $r")
    assert(r.last === exact.size)
  }

  test("nnDescent warm-start: a converged seed is stable, and a " +
      "delivery wires in within two rounds") {
    val exact12 = EmbeddingSearch.knnGraph(clustered, k = 3)
    // stability: seeding with the converged graph and descending one
    // round reproduces it exactly
    val stable = EmbeddingSearch.nnDescentFrom(clustered,
        Some(exact12), k = 3, iters = 1)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(stable === exact12.select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet)
    // incremental: one new cluster-A point lands; warm-start from the
    // 12-node graph reaches the exact 13-node graph in two rounds
    val delivered = clustered.unionByName(
      Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding"))
    val exact13 = EmbeddingSearch.knnGraph(delivered, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val warm = EmbeddingSearch.nnDescentFrom(delivered,
        Some(exact12), k = 3, iters = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(warm === exact13)
  }

  /** Near-random directions (deterministic, no RNG): the descent's
    * UNFAVORABLE case — neighborhoods churn for several rounds, so the
    * r15 fresh-only candidate pruning and incremental generation are
    * actually exercised (on `clustered` the graph converges in one
    * round and the pruned paths would be trivially empty).
    */
  private def churny = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(8)(j =>
      math.sin(i * 7.3 + j * 1.7).toFloat))
  }.toDF("vec_id", "embedding")

  test("r15 fresh-only descent rounds reproduce the full-rescore " +
      "algebra bit for bit") {
    // reference = the r14 loop (score EVERY expanded candidate, rank
    // the full set) copied verbatim; the r15 engine must return the
    // identical (query, neighbor, cos, rank) set at every round count,
    // cold and warm — the monotonicity argument says dropped
    // already-seen losers can never re-enter.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import EmbeddingSearch.{dot, prepared}
    def reference(embs: DataFrame, seed: Option[DataFrame], k: Int,
        iters: Int): DataFrame = {
      val e = prepared(embs)
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      def scoreAndRank(cand: DataFrame): DataFrame =
        cand
          .join(e.select(col("vec_id").as("neighbor_id"), col("v"),
            col("nrm")), "neighbor_id")
          .join(e.select(col("vec_id").as("query_id"),
            col("v").as("qv"), col("nrm").as("qnrm")), "query_id")
          .withColumn("cos",
            dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"), col("rank"))
      val n = embs.count()
      val ids = embs.select(col("vec_id")).orderBy("vec_id")
        .collect().map(_.getLong(0))
      val rk = ids.zipWithIndex.toMap
      val ringRows = for {
        id <- ids.toSeq; j <- 1 to k
        nb = ids(((rk(id) + j) % n).toInt) if nb != id
      } yield (id, nb)
      val ring = ringRows.toDF("query_id", "neighbor_id")
      val seeded = seed match {
        case None => ring
        case Some(prev) =>
          val pe = prev.select(col("query_id"), col("neighbor_id"))
          ring.join(pe.select("query_id").distinct(),
              Seq("query_id"), "left_anti")
            .unionByName(pe).distinct()
      }
      var graph = scoreAndRank(seeded).localCheckpoint(true)
      var i = 0
      while (i < iters) {
        val edges = graph.select(col("query_id").as("src"),
          col("neighbor_id").as("dst"))
        val undirected = edges.unionByName(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val expanded = undirected.as("l")
          .join(undirected.as("r"), col("l.dst") === col("r.src"))
          .select(col("l.src").as("query_id"),
            col("r.dst").as("neighbor_id"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .unionByName(edges.select(col("src").as("query_id"),
            col("dst").as("neighbor_id")))
          .distinct()
        graph = scoreAndRank(expanded).localCheckpoint(true)
        i += 1
      }
      graph
    }
    def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
      df.select("query_id", "neighbor_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    for (iters <- Seq(1, 2, 3)) {
      assert(rows(EmbeddingSearch.nnDescent(churny, 4, iters)) ===
        rows(reference(churny, None, 4, iters)), s"cold iters=$iters")
    }
    // warm start from a deliberately STALE seed (the exact graph of a
    // sub-corpus) over the grown corpus — rounds churn, pruning engages
    val sub = churny.filter(col("vec_id") < 16)
    val staleSeed = EmbeddingSearch.knnGraph(sub, 4).localCheckpoint(true)
    for (iters <- Seq(1, 2)) {
      assert(
        rows(EmbeddingSearch.nnDescentFrom(churny, Some(staleSeed), 4,
          iters)) ===
        rows(reference(churny, Some(staleSeed), 4, iters)),
        s"warm iters=$iters")
    }
  }

  test("r15 delta-state walk reproduces the full-state walk's visited " +
      "rows bit for bit") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import EmbeddingSearch.{dot, prepared}
    // reference = the r14 walk (fused flag window, whole state
    // re-checkpointed per hop) copied verbatim
    def refWalk(embs: DataFrame, graph: DataFrame, queries: DataFrame,
        beamWidth: Int, hops: Int, entryPoints: Int): DataFrame = {
      val e = prepared(embs)
      val q = prepared(queries).select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qnrm"))
      val edges = graph.select(col("query_id").as("src"),
        col("neighbor_id").as("dst"))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val liveNodes = und.select(col("src").as("node_id")).distinct()
        .join(e.select(col("vec_id").as("node_id")),
          Seq("node_id"), "left_semi")
      val entries = liveNodes.orderBy("node_id")
        .limit(entryPoints).select("node_id")
      def score(cand: DataFrame): DataFrame =
        cand.join(e.select(col("vec_id").as("node_id"), col("v"),
            col("nrm")), "node_id")
          .join(broadcast(q), "query_id")
          .withColumn("cos",
            dot(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
          .select(col("query_id"), col("node_id"), col("cos"))
      val wBeam = Window.partitionBy("query_id")
        .orderBy(col("expanded").asc, col("cos").desc,
          col("node_id").asc)
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
      state
    }
    val graph = EmbeddingSearch.nnDescent(churny, 4, 2)
      .localCheckpoint(true)
    val queries = churny.filter(col("vec_id") % 5 === 0)
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "node_id", "cos")
        .as[(Long, Long, Double)].collect().toSet
    // every state row with cos as raw bits (null stays None), as a
    // multiset: the bit-for-bit contract both walk paths keep
    def exact(df: DataFrame): Seq[(Long, Long, Option[Long], Boolean)] =
      df.select("query_id", "node_id", "cos", "expanded").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option.when(!r.isNullAt(2))(
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
          r.getBoolean(3))).toSeq.sorted
    def withConf[A](key: String, value: String)(body: => A): A = {
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    def relational[A](body: => A): A =
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
    def ansiOff[A](body: => A): A =
      withConf("spark.sql.ansi.enabled", "false")(body)
    // the same graph over a maintained corpus: nodes 3 and 7 deleted
    // (their edges dangle), entry node 0 a zero vector, node 2 a null
    // embedding; queries 0 and 2 carry the zero and the null vector
    val maintained = churny.filter(!col("vec_id").isin(3L, 7L))
      .select(col("vec_id"),
        when(col("vec_id") === 0, array_repeat(lit(0f), 8))
          .when(col("vec_id") === 2, lit(null).cast("array<float>"))
          .otherwise(col("embedding")).as("embedding"))
    val mQueries = maintained.filter(col("vec_id") % 5 === 0 ||
      col("vec_id") === 2)
    def dividesByZero(walk: => DataFrame): Unit = {
      val err = intercept[Exception](walk.count())
      assert(Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).exists(t =>
          String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), err)
    }
    def kernelRuns: Boolean = EmbeddingSearch.walkGraph(churny, graph,
      queries, 2, hubEntries = false, None).isDefined
    def bothPaths(body: => Unit): Unit = {
      assert(kernelRuns)
      body
      relational {
        assert(!kernelRuns)
        body
      }
    }
    bothPaths {
      for (hops <- Seq(0, 1, 3)) {
        assert(
          rows(EmbeddingSearch.graphSearchState(churny, graph, queries,
            beamWidth = 3, hops = hops, entryPoints = 2)) ===
          rows(refWalk(churny, graph, queries, 3, hops, 2)),
          s"hops=$hops")
        assert(
          exact(EmbeddingSearch.graphSearchState(churny, graph, queries,
            beamWidth = 3, hops = hops, entryPoints = 2)) ===
          exact(refWalk(churny, graph, queries, 3, hops, 2)),
          s"hops=$hops")
        ansiOff {
          assert(
            exact(EmbeddingSearch.graphSearchState(maintained, graph,
              mQueries, beamWidth = 3, hops = hops, entryPoints = 2)) ===
            exact(refWalk(maintained, graph, mQueries, 3, hops, 2)),
            s"maintained hops=$hops")
        }
      }
      // under ANSI mode the zero-norm entry fails both walks alike
      dividesByZero(EmbeddingSearch.graphSearchState(maintained, graph,
        mQueries, beamWidth = 3, hops = 1, entryPoints = 2))
      dividesByZero(refWalk(maintained, graph, mQueries, 3, 1, 2))
    }
    // entry modes refWalk lacks: the kernel against the relational walk
    // (an override entry may repeat, or name a deleted node)
    val pre = Seq(9L, 3L, 9L, 14L).toDF("node_id")
    for ((embs, qs) <- Seq((churny, queries), (maintained, mQueries));
        hops <- Seq(0, 1, 3)) {
      def walk(hub: Boolean, entries: Option[DataFrame]) =
        ansiOff(exact(EmbeddingSearch.graphSearchState(embs, graph, qs,
          beamWidth = 3, hops = hops, entryPoints = 2, hubEntries = hub,
          entriesOverride = entries)))
      assert(walk(hub = true, None) === relational(walk(hub = true, None)),
        s"hub hops=$hops")
      assert(walk(hub = false, Some(pre)) ===
        relational(walk(hub = false, Some(pre))), s"override hops=$hops")
    }
  }

  test("a graph walk rejects duplicate query ids on both paths") {
    val graph = EmbeddingSearch.knnGraph(embs, k = 2)
    val twice = embs.filter(col("vec_id") < 2)
      .unionByName(embs.filter(col("vec_id") === 1))
    for (threshold <- Seq("10MB", "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        val err = intercept[IllegalArgumentException] {
          EmbeddingSearch.graphSearch(embs, graph, twice, k = 2)
        }
        assert(err.getMessage.contains("duplicate query ids (1)"))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  // ---- graph-based ANN serving (beam descent) ----

  test("graphSearch over the exact graph equals brute force on " +
      "clustered data") {
    val exactGraph = EmbeddingSearch.knnGraph(clustered, k = 3)
    val queries = clustered.filter(col("vec_id") < 4)
    // the two clusters are two disconnected kNN components; the entry
    // set (smallest ids 0 and 1) covers one node of each, so the walk
    // must reach and exactly rank every true neighbor
    val got = EmbeddingSearch.graphSearch(clustered, exactGraph, queries,
        k = 3, beamWidth = 6, hops = 4, entryPoints = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val want = EmbeddingSearch.bruteForceTopKFor(clustered, queries, 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want)
  }

  test("graphSearch lookup semantics: a corpus-identical query ranks " +
      "itself first") {
    val graph = EmbeddingSearch.knnGraph(embs, k = 2)
    val got = EmbeddingSearch.graphSearch(embs, graph,
        embs.filter(col("vec_id") === 0), k = 2, beamWidth = 4,
        hops = 3, entryPoints = 2)
      .orderBy("rank").select("neighbor_id", "cos")
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 === 0L)
    assert(math.abs(got.head._2 - 1.0) < 1e-9)
    assert(got(1)._1 === 1L) // vec 0's true nearest non-self neighbor
  }

  test("graphSearch visits stay bounded: zero hops returns only " +
      "entry-point scorings") {
    val graph = EmbeddingSearch.knnGraph(embs, k = 2)
    val got = EmbeddingSearch.graphSearch(embs, graph,
        embs.filter(col("vec_id") === 3), k = 10, beamWidth = 4,
        hops = 0, entryPoints = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(0L, 1L)) // the two smallest node ids, nothing else
  }

  test("graphSearchWhere equals filtered brute force on clustered data") {
    val exactGraph = EmbeddingSearch.knnGraph(clustered, k = 3)
    val queries = clustered.filter(col("vec_id") < 4)
    val pred = col("vec_id") % 3 === 0
    val got = EmbeddingSearch.graphSearchWhere(clustered, exactGraph,
        queries, pred, k = 2, beamWidth = 6, hops = 4, entryPoints = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val want = EmbeddingSearch.bruteForceTopKFor(
        clustered.filter(pred), queries, 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want)
    assert(got.forall(_._3 % 3 == 0))
  }

  test("hub entries reach at hops-1 what smallest-id entries need an " +
      "extra hop for") {
    // hub-and-spokes geometry: 19 spokes share one dominant axis plus a
    // private orthogonal component, the center (id 19) sits on the
    // axis. Every spoke's nearest neighbor is the center, so the
    // center's symmetrized degree is ~n while spoke 0 (the smallest-id
    // entry) has degree 2 — the structure-blind entry starts the walk
    // at the graph's edge, the degree-ranked one at its hub.
    val dim = 21
    val rows = (0 until 19).map { i =>
      val a = 2.0f - 0.01f * i
      (i.toLong, Array.tabulate(dim)(j =>
        if (j == 0) 10f else if (j == i + 1) a else 0f))
    } :+ ((19L, Array.tabulate(dim)(j => if (j == 0) 10f else 0f)))
    val hubEmbs = rows.toDF("vec_id", "embedding")
    val graph = EmbeddingSearch.knnGraph(hubEmbs, 2)
    val query = hubEmbs.filter(col("vec_id") === 5L)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    def top1(hops: Int, hub: Boolean): Long =
      EmbeddingSearch.graphSearch(hubEmbs, graph, query, k = 1,
          beamWidth = 4, hops = hops, entryPoints = 1, hubEntries = hub)
        .select("neighbor_id").as[Long].head()
    assert(top1(hops = 1, hub = true) === 5L)  // hub reaches in one hop
    assert(top1(hops = 1, hub = false) !== 5L) // edge entry cannot
    assert(top1(hops = 2, hub = false) === 5L) // ...it needs a second
  }

  test("nnDescent output schema and self-exclusion match knnGraph") {
    val nd = EmbeddingSearch.nnDescent(clustered, k = 2, iters = 1)
    assert(nd.columns.toSeq ===
      Seq("query_id", "neighbor_id", "cos", "rank"))
    val rows = nd.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(rows.forall { case (q, nb) => q != nb })
    assert(rows.groupBy(_._1).forall(_._2.length == 2))
  }
}
