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
