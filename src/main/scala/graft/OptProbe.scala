package graft

import org.apache.spark.sql.functions._

/** Round-14 optimization probe: times the shared graph/descent engine
  * phases in isolation (the decomposition the in-suite gate windows
  * cannot give), so before/after comparisons target the phase that
  * actually moved. Not a driver-contract main; prints labeled seconds.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_local"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f")
      r
    }
    // warm up JVM/codegen/parquet
    spark.read.parquet(s"$d/embeddings.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()
    val embs = Tables.embeddings(spark, d)
    val phases = if (args.isEmpty) Set("all") else args.toSet
    def on(p: String) = phases.contains("all") || phases.contains(p)

    if (on("descent")) {
      t("nnDescent_k32_i5_warmup") {
        ext.EmbeddingSearch.nnDescent(embs, 32, 5).count() }
      t("nnDescent_k32_i5") {
        ext.EmbeddingSearch.nnDescent(embs, 32, 5).count() }
      t("nnDescent_k32_i1") {
        ext.EmbeddingSearch.nnDescent(embs, 32, 1).count() }
      t("nnDescent_k32_i0_seed") {
        ext.EmbeddingSearch.nnDescent(embs, 32, 0).count() }
    }
    if (on("index")) {
      val idx = Gate.tmpDir("probe_idx_") + "/ix"
      t("index_build_cold") {
        ext.KnnGraphIndex.build(
          embs.filter(col("vec_id") % 3 =!= 0), idx, k = 32, iters = 5) }
      val delivery = embs.filter(col("vec_id") % 3 === 0)
      t("index_insert_third") {
        ext.KnnGraphIndex.insert(spark, idx, delivery) }
      val queries = embs.filter(col("vec_id") < 20)
      t("index_search_k6_warmup") {
        ext.KnnGraphIndex.search(spark, idx, queries, k = 6).count() }
      t("index_search_k6") {
        ext.KnnGraphIndex.search(spark, idx, queries, k = 6).count() }
      t("index_liveEdges_count") {
        ext.KnnGraphIndex.liveEdges(
          ext.IndexStore.snapshot(spark, idx)).count() }
      t("bruteforce_truth_20q") {
        ext.EmbeddingSearch.bruteForceTopKFor(embs, queries, 4).count() }
      t("index_compact") { ext.KnnGraphIndex.compact(spark, idx) }
      t("index_rewire_i1") { ext.KnnGraphIndex.rewire(spark, idx) }
    }
    if (on("insert2")) {
      // decompose KnnGraphIndex.insert: the walk + intra wiring
      // (insertEdges) vs the publish machinery (diff, degree deltas,
      // election, writes, manifest commit)
      val seedIdx = Gate.tmpDir("probe_i2_") + "/ix"
      ext.KnnGraphIndex.build(
        embs.filter(col("vec_id") % 3 =!= 0), seedIdx, k = 32, iters = 5)
      val delivery = embs.filter(col("vec_id") % 3 === 0)
      for (rep <- 1 to 2) {
        val snap = ext.IndexStore.snapshot(spark, seedIdx)
        val oldVec = ext.KnnGraphIndex.liveVectors(snap)
        val del = t(s"i2_dedup_anti_persist_rep$rep") {
          val x = delivery.select(col("vec_id"), col("embedding"))
            .join(oldVec.select("vec_id"), Seq("vec_id"), "left_anti")
            .persist()
          x.isEmpty; x
        }
        val oldEdges = t(s"i2_oldEdges_lcp_rep$rep") {
          ext.KnnGraphIndex.liveEdges(snap).localCheckpoint(true) }
        t(s"i2_insertEdges_rep$rep") {
          val (ne, mt) = ext.EmbeddingSearch.insertEdges(oldVec,
            oldEdges.select(col("vec_id").as("query_id"),
              col("neighbor_id"), col("cos"), col("rank")),
            del, 32, 16, 4, 16)
          ne.count(); mt.count()
        }
        del.unpersist()
        val cp = Gate.copyDir(seedIdx.stripSuffix("/ix"), "probe_i2c_")
        t(s"i2_full_insert_rep$rep") {
          ext.KnnGraphIndex.insert(spark, s"$cp/ix", delivery) }
      }
    }
    if (on("ab")) {
      // same-JVM A/B: the pre-r14 spellings (copied verbatim) vs the
      // current engine, alternated so host drift cannot fake a win.
      import org.apache.spark.sql.{DataFrame, Column}
      import org.apache.spark.sql.expressions.Window
      import ext.EmbeddingSearch.{dot, prepared}
      def oldWalk(embs: DataFrame, graph: DataFrame, queries: DataFrame,
          beamWidth: Int, hops: Int, entryPoints: Int): DataFrame = {
        val e = prepared(embs).persist()
        val q = prepared(queries).select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("nrm").as("qnrm"))
        val edges = graph.select(col("query_id").as("src"),
          col("neighbor_id").as("dst"))
        val und = edges.unionByName(
          edges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().persist()
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
          .orderBy(col("cos").desc, col("node_id").asc)
        var state = score(q.select("query_id")
            .crossJoin(broadcast(entries)))
          .withColumn("expanded", lit(false))
          .localCheckpoint(true)
        var h = 0
        while (h < hops) {
          val frontier = state.filter(!col("expanded"))
            .withColumn("rn", row_number().over(wBeam))
            .filter(col("rn") <= beamWidth)
            .select("query_id", "node_id")
          val fresh = frontier.join(und,
              frontier("node_id") === und("src"))
            .select(col("query_id"), col("dst").as("node_id")).distinct()
            .join(state.select("query_id", "node_id"),
              Seq("query_id", "node_id"), "left_anti")
          state = state
            .join(frontier.withColumn("f", lit(true)),
              Seq("query_id", "node_id"), "left")
            .withColumn("expanded",
              col("expanded") || coalesce(col("f"), lit(false)))
            .drop("f")
            .unionByName(score(fresh).withColumn("expanded", lit(false)))
            .localCheckpoint(true)
          h += 1
        }
        e.unpersist(); und.unpersist()
        state
      }
      def oldChanged(stored: DataFrame, oldEdges: DataFrame): DataFrame = {
        val keyCols = Seq("vec_id", "neighbor_id", "rank")
        stored.select(keyCols.map(col): _*)
          .join(oldEdges.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(oldEdges.select(keyCols.map(col): _*)
            .join(stored.select(keyCols.map(col): _*), keyCols, "left_anti"))
          .select("vec_id").distinct()
      }
      val seed = embs.filter(col("vec_id") % 3 =!= 0)
      val graph = ext.EmbeddingSearch.nnDescent(seed, 32, 2)
        .localCheckpoint(true)
      val delivery = embs.filter(col("vec_id") % 3 === 0)
        .localCheckpoint(true)
      // perturbed copy: half the nodes' edges re-ranked differently so
      // the diff has real work in both directions
      val graphV = graph.withColumnRenamed("query_id", "vec_id")
        .localCheckpoint(true)
      val stored2 = graphV.withColumn("rank",
          when(col("vec_id") % 2 === 0, col("rank"))
            .otherwise((col("rank") % 8) + 1))
        .localCheckpoint(true)
      for (rep <- 1 to 3) {
        t(s"walk_old_rep$rep") {
          oldWalk(seed, graph, delivery, 16, 4, 16).count() }
        t(s"walk_new_rep$rep") {
          ext.EmbeddingSearch.graphSearchState(seed, graph, delivery,
            16, 4, 16).count() }
        t(s"changed_old_rep$rep") { oldChanged(stored2, graphV).count() }
        t(s"changed_new_rep$rep") {
          // same visibility trick: call through insert's path is not
          // isolated — compare via the private method's public twin by
          // reflection-free spelling (copied new code)
          val keyCols = Seq("vec_id", "neighbor_id", "rank")
          stored2.select(keyCols.map(col): _*)
            .unionByName(graphV.select(keyCols.map(col): _*))
            .groupBy(keyCols.map(col): _*)
            .agg(count(lit(1)).as("__sides"))
            .filter(col("__sides") === 1)
            .select("vec_id").distinct().count() }
      }
    }
    if (on("descent2")) {
      // same-JVM A/B: the r14 descent round (score EVERY expanded
      // candidate, rank the full set) copied verbatim vs the r15
      // fresh-only rounds (seen-pair pruning + carried prev scores),
      // alternated so host drift cannot fake a win; plus a value
      // identity check (the r15 loop must reproduce the r14 rows
      // bit-for-bit).
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      import ext.EmbeddingSearch.{dot, prepared}
      def oldDescent(embs: DataFrame, k: Int, iters: Int): DataFrame = {
        val e = prepared(embs).persist()
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
        val ids = ext.DataOps.globalRanks(
            e.select(col("vec_id").as("id"), col("vec_id").as("score")))
          .select(col("id").as("vec_id"), col("rank").as("rk"),
            col("__n"))
        val ring = ids
          .withColumn("j", explode(sequence(lit(1), lit(k))))
          .withColumn("nrk", (col("rk") - 1 + col("j")) % col("__n") + 1)
          .join(ids.select(col("rk").as("nrk"),
            col("vec_id").as("neighbor_id")), "nrk")
          .filter(col("vec_id") =!= col("neighbor_id"))
          .select(col("vec_id").as("query_id"), col("neighbor_id"))
        var graph = scoreAndRank(ring).localCheckpoint(true)
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
        e.unpersist()
        graph
      }
      val oldG = oldDescent(embs, 32, 5)
      val newG = ext.EmbeddingSearch.nnDescent(embs, 32, 5)
      val diff = oldG.exceptAll(newG).unionByName(newG.exceptAll(oldG))
        .count()
      println(s"PROBE descent2_value_diff $diff (must be 0)")
      for (rep <- 1 to 3) {
        t(s"descent_old_rep$rep") { oldDescent(embs, 32, 5).count() }
        t(s"descent_new_rep$rep") {
          ext.EmbeddingSearch.nnDescent(embs, 32, 5).count() }
      }
      t("descent_old_warm1") {
        oldDescent(embs, 32, 1).count() }
      t("descent_new_warm1") {
        ext.EmbeddingSearch.nnDescent(embs, 32, 1).count() }
    }
    if (on("insertfix")) {
      // hypothesis probe: KnnGraphIndex.insert's code is unchanged in
      // r15, but q_graph_insert's min-of-3 window moved — does a seed
      // index built FROM the r15 descent (identical values) insert
      // slower than one built from the r14 descent (different physical
      // row layout)? Alternated same-JVM reps on private copies.
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      import ext.EmbeddingSearch.{dot, prepared}
      def oldDescent(embs: DataFrame, k: Int, iters: Int): DataFrame = {
        val e = prepared(embs).persist()
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
        val ids = ext.DataOps.globalRanks(
            e.select(col("vec_id").as("id"), col("vec_id").as("score")))
          .select(col("id").as("vec_id"), col("rank").as("rk"),
            col("__n"))
        val ring = ids
          .withColumn("j", explode(sequence(lit(1), lit(k))))
          .withColumn("nrk", (col("rk") - 1 + col("j")) % col("__n") + 1)
          .join(ids.select(col("rk").as("nrk"),
            col("vec_id").as("neighbor_id")), "nrk")
          .filter(col("vec_id") =!= col("neighbor_id"))
          .select(col("vec_id").as("query_id"), col("neighbor_id"))
        var graph = scoreAndRank(ring).localCheckpoint(true)
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
        e.unpersist()
        graph
      }
      val seedCorpus = embs.filter(col("vec_id") % 3 =!= 0)
      val delivery = embs.filter(col("vec_id") % 3 === 0)
      val pathNew = Gate.tmpDir("probe_if_new_") + "/ix"
      val pathOld = Gate.tmpDir("probe_if_old_") + "/ix"
      val gNew = ext.EmbeddingSearch.nnDescent(seedCorpus, 32, 5)
      val gOld = oldDescent(seedCorpus, 32, 5)
      println(s"PROBE if_parts_new ${gNew.rdd.getNumPartitions}")
      println(s"PROBE if_parts_old ${gOld.rdd.getNumPartitions}")
      t("if_build_seed_new") {
        ext.KnnGraphIndex.buildFrom(seedCorpus, gNew, pathNew, 32) }
      t("if_build_seed_old") {
        ext.KnnGraphIndex.buildFrom(seedCorpus, gOld, pathOld, 32) }
      def lay(p: String): String = {
        val d = new java.io.File(s"$p")
        d.listFiles().filter(_.isDirectory).map { seg =>
          seg.listFiles().filter(_.isDirectory).map { rel =>
            val fs = rel.listFiles().filter(_.getName.endsWith(".parquet"))
            s"${rel.getName}:${fs.length}f/${fs.map(_.length).sum}B"
          }.sorted.mkString(" ")
        }.mkString(" | ")
      }
      println(s"PROBE if_layout_new ${lay(pathNew)}")
      println(s"PROBE if_layout_old ${lay(pathOld)}")
      for (rep <- 1 to 3) {
        val cpN = Gate.copyDir(pathNew.stripSuffix("/ix"), "probe_ifn_")
        t(s"if_insert_newseed_rep$rep") {
          ext.KnnGraphIndex.insert(spark, s"$cpN/ix", delivery) }
        val cpO = Gate.copyDir(pathOld.stripSuffix("/ix"), "probe_ifo_")
        t(s"if_insert_oldseed_rep$rep") {
          ext.KnnGraphIndex.insert(spark, s"$cpO/ix", delivery) }
      }
    }
    if (on("walk")) {
      // same-JVM A/B of graphSearchState's two paths — the broadcast
      // kernel (10MB) and the relational loop (-1) — on an insert walk
      val seed = embs.filter(col("vec_id") % 3 =!= 0)
      val graph = ext.EmbeddingSearch.nnDescent(seed, 32, 2)
        .localCheckpoint(true)
      val delivery = embs.filter(col("vec_id") % 3 === 0)
        .localCheckpoint(true)
      def walk(threshold: String) = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        ext.EmbeddingSearch.graphSearchState(seed, graph, delivery, 16, 4,
          16)
      }
      val (kernel, relational) = (walk("10MB"), walk("-1"))
      println("PROBE walk_value_diff " + kernel.exceptAll(relational)
        .unionByName(relational.exceptAll(kernel)).count() + " (must be 0)")
      for (rep <- 1 to 3; th <- Seq("10MB", "-1"))
        t(s"walk_threshold_${th}_rep$rep") { walk(th).count() }
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    if (on("text2")) {
      val docs = Tables.documents(spark, d)
      import ext.TextAnalysis.tokens
      val t0 = tokens(col("text"))
      val tris0 = transform(sequence(lit(1), size(t0) - 2), i =>
        struct(element_at(t0, i).as("u"), element_at(t0, i + 1).as("v"),
          element_at(t0, i + 2).as("w")))
      val tris = when(size(t0) >= 3, tris0)
        .otherwise(array().cast("array<struct<u:string,v:string,w:string>>"))
      val tg = docs.select(col("doc_id").as("id"), explode(tris).as("g"))
        .select(col("id"), col("g.u").as("u"), col("g.v").as("v"),
          col("g.w").as("w"))
      t("tg_count") { tg.count() }
      t("tg_count2") { tg.count() }
      val nf = t("nf_checkpoint") {
        tg.groupBy("id", "u", "v", "w").agg(count(lit(1)).as("n"))
          .localCheckpoint(true) }
      t("tc_from_nf_count") {
        nf.groupBy("u", "v", "w").agg(sum("n").as("t3")).count() }
      t("full_trigram") {
        ext.TextAnalysis.trigramLogProbs(docs, "doc_id", "text").count() }
    }
    if (on("text")) {
      val docs = Tables.documents(spark, d)
      t("trigram_logprobs_warmup") {
        ext.TextAnalysis.trigramLogProbs(docs, "doc_id", "text").count() }
      t("trigram_logprobs") {
        ext.TextAnalysis.trigramLogProbs(docs, "doc_id", "text").count() }
      t("bigram_logprobs") {
        ext.TextAnalysis.bigramLogProbs(docs, "doc_id", "text").count() }
    }
    spark.stop()
  }
}
