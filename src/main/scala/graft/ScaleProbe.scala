package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes over a replica of the largest available testdata
  * (sf0.1), `factor`× into scratch — keys offset so join fanouts and
  * dedup semantics scale LINEARLY, text vocabulary rotated per copy so
  * near-dup structure doesn't degenerate into 10-way cliques. Two modes,
  * sharing the replica, Bench's warm-then-time loop and its child-JVM
  * runner; correctness is NOT checked here (the synthetic replica has no
  * oracle — the sf0.01 driver gate owns correctness).
  *
  *  - `data` (default): time [[dataProbe]] at BOTH scale points in one
  *    warm JVM and report per-gate scaling ratios. A gate whose runtime
  *    grows much faster than the data (ratio >> factor) has a
  *    super-linear stage — the cheapest empirical tripwire for
  *    driver-side bottlenecks and quadratic joins before a real cluster
  *    would hit them. Rows land in BASELINE.md's scaling tables.
  *  - `cores`: the measurement the sf0.1 bench cannot give — at sf0.1
  *    every 8-core/32-core gate ratio is ≈1 because the suite is
  *    task-scheduling/commit/JVM-overhead-bound. Time [[coresProbe]] on
  *    the replica under local[32] and local[8], one warm child JVM per
  *    core count (a master cannot change inside a JVM). Rows land in
  *    BASELINE.md's core-scaling table; a gate whose t8/t32 ratio stays
  *    ≈1 at this scale has a serialized stage worth a named cause.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [data|cores]"`; env knobs:
  * SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE_FACTOR
  * (default 10), SPARK_GRAFT_CPUS (`data` mode, default 4),
  * SPARK_GRAFT_ONLY (narrows the mode's probe set by the [[Gate.select]]
  * rule). A gate failure, or a `cores` child that exits non-zero or runs
  * past [[childTimeoutS]], prints a named failure line and makes the
  * probe exit non-zero.
  */
object ScaleProbe {
  import Bench.num

  /** Key offset per replica copy — far above every base key range. */
  private[graft] val Off = 100000000L

  /** Rotate the common letters per copy so each replica's token
    * vocabulary is (mostly) disjoint: token counts, lengths, and df
    * SHAPE are preserved, but near-dup pairs don't explode into
    * cross-copy cliques — the corpus scales like more documents, not
    * like 10 exact crawls of the same site.
    */
  private def rot(k: Int): Seq[(String, String)] = {
    // three coprime-ish rotation periods (10, 7, 8) → the combined
    // vocabulary period is lcm = 280 copies, comfortably above the
    // 100× third-decade probe. A single period-10 rotation made copies
    // k and k+10 TEXTUALLY IDENTICAL, so a 30× probe carried 3×-sized
    // true-duplicate clusters — quadratically more genuine pairs — and
    // exact pair-enumeration gates read super-linear for reasons that
    // were the harness's, not the operator's (measured: 291× true-pair
    // growth at 30× under the old rotation); the two-period lcm-70
    // variant would have reintroduced the same artifact at 100×.
    val l1 = "aeiousnrtl"
    val l2 = "bcdfghk"
    val l3 = "mpqvwxyz"
    Seq(l1, l2, l3).map(l =>
      (l, l.drop(k % l.length) ++ l.take(k % l.length)))
  }

  private[graft] def replicate(spark: SparkSession, base: String,
      out: String, factor: Int): Unit = {
    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$name.parquet")
      (0 until factor).map(k => f(src, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // tiny dims copy once — replicated fact keys still resolve
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$base/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    copies("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + k * Off) }
    copies("supplier") { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + k * Off) }
    copies("part") { (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + k * Off) }
    copies("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + k * Off)
        .withColumn("o_custkey", col("o_custkey") + k * Off) }
    copies("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * Off)
        .withColumn("l_partkey", col("l_partkey") + k * Off)
        .withColumn("l_suppkey", col("l_suppkey") + k * Off) }
    copies("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + k * Off)
        .withColumn("user_id", col("user_id") + k * Off) }
    copies("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + k * Off)
        .withColumn("text",
          if (k == 0) col("text")
          else rot(k).foldLeft(col("text")) { case (c, (from, to)) =>
            translate(c, from, to) }) }
    copies("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + k * Off) }
  }

  /** Scale-sensitive probe set: the gates whose plans carry the
    * patterns that can go super-linear — shingle joins, LSH candidate
    * generation, index partials, prefix sums, per-query top-k, graph
    * rounds — plus two plain rollups as linear controls.
    */
  private[graft] val dataProbe = Seq(
    "q_daily_rollup", "q_top_users",
    "q_token_stats", "q_token_budget",
    "q_minhash_dedup", "q_dedup_incremental", "q_dedup_drift",
    "q_dup_clusters_star", "q_dup_pagerank", "q_semdedup",
    "q_bm25_topk", "q_bm25_persist", "q_phrase_persist",
    "q_ivf_topk", "q_ivfpq_topk", "q_embed_lsh_topk",
    "q_dup_clusters_inc", "q_negative_sample",
    "q_dsir_select", "q_ppl_buckets", "q_hard_negatives",
    "q_literal_search", "q_literal_common", "q_cdc_chunks", "q_cdc_dup",
    // round-8 additions: bounded-candidate mining, prefix-filtered
    // exact similarity join, vocab-iteration BPE learning, counting
    // classifier, k-bounded distinct sketch
    "q_heavy_hitters", "q_simjoin_prefix", "q_bpe_train",
    "q_nb_classify", "q_kmv_distinct",
    // round 9: steady-state multi-surface admission (bloom-pruned
    // presence probes — the only corpus-proportional bytes it touches
    // are the segment blooms, so the ratio should sit far below the
    // data factor)
    "q_ingest_probe",
    // round 10: the change feed itself — each commit's delta read from
    // exactly that commit's bytes, so the probe's ratio should track
    // the delta size (which replicates with the corpus here), never
    // super-linear in the store — and the fixpoint unigram trainer
    // (three segmentation passes over distinct words + vocab-bounded
    // usage counts; candidate tables grow with the vocabulary, not the
    // corpus). q_search_graph / q_stream_knn are NOT probed for the
    // q_knn_graph_blocked reason: their recall harnesses read the
    // memoized all-pairs exact graph, which a fresh replica dir
    // rebuilds inside the timed window — the probe would measure the
    // quadratic oracle, not the operator.
    "q_store_cdc", "q_unigram_train",
    // round-10 second wave: precedence federation (two full live reads
    // + one min-rank aggregate — corpus-linear by design, the probe
    // pins the constant) and the binary-quantization two-stage search
    // (stage 1 is a corpus-linear 16-byte scan; candidates scale with
    // the corpus in the gate, so the ratio should track data, never
    // exceed it)
    "q_store_federate", "q_binary_topk",
    // round-9 third wave: hot-key-immune paragraph keeper election
    // (map-side-combined min(struct); boilerplate duplication depth
    // must not reach any reducer) and its incremental-registry twin
    "q_paragraph_dedup", "q_paragraph_dedup_inc",
    // NN-Descent graph construction: n·k² per round — linear by
    // design, the probe checks the constant. q_knn_graph_blocked is
    // deliberately NOT probed: its timed window includes the recall
    // harness's exact-graph baseline, which is quadratic BY
    // CONSTRUCTION (all-pairs is the definition of the ground truth) —
    // probing it measures the harness, not the operator. The blocked
    // build itself is corpus-linear now that its cell count scales
    // with the corpus (constant cell size × fixed nProbe).
    "q_nn_descent",
    // round 11: the serving walk and the insert tick, each timed with
    // the descent graph prebuilt OUTSIDE the window (warmBig) — the
    // measured form of "corpus-independent given the graph". The walk
    // touches the edge list only through one frontier equi-join per
    // hop, the tick through 64 walks + 64² intra pairs; both ratios
    // should sit far below the data factor.
    "q_graph_serve", "q_graph_insert_tick",
    // round 13: federated SERVING probe twins — the one flagship scale
    // claim (precedence probes bounded by result ids, Bloom-pruned)
    // that was still made from construction rather than measurement.
    // Roots are memoized fixtures (warmBig populates them per scale);
    // the timed window is two walks / two-stage scans + the precedence
    // mask + the fuse.
    "q_graph_fed_serve", "q_ann_fed_serve",
    // round 13: the deterministic shard writer carries the two-pass
    // distributed prefix sum — exactly the pattern the probe set
    // exists to tripwire (q_token_budget's shape applied to layout)
    "q_shard_writer",
    // round 14: the registry maintenance sweep over a multi-surface
    // root — claimed metadata-bounded plus corpus-linear compaction of
    // the debt-laden surfaces; the fixture memoizes (warmBig) and the
    // timed window is surface copies + the sweep, so the ratio should
    // track the copied/compacted bytes, never exceed the data factor
    "q_maintain_sweep")

  /** Gates whose timed window assumes a memoized shared build: they
    * get one UNTIMED run at the replica scale too, so the big-side
    * timing prices the operator, not the shared-graph construction.
    */
  private[graft] val warmBig = Set("q_graph_serve", "q_graph_insert_tick",
    "q_graph_fed_serve", "q_ann_fed_serve", "q_maintain_sweep")

  /** The heavy `cores` probe set: graph serving + delta-bounded insert
    * tick, multi-surface ingest/stream mirrors, store CDC composition,
    * the takedown flow, federated search, a quantizer refresh, and the
    * dedup-index stream. Two exclusion classes, both deliberate:
    * q_nn_descent / q_stream_knn read the memoized all-pairs EXACT
    * graph (quadratic by construction at the replica scale — the
    * prewarm would pay minutes for the oracle, not the operator); and
    * the bulk graph-maintenance gates (q_graph_insert,
    * q_cdc_maintain_graph, q_stream_graph_index, q_graph_rewire)
    * deliver corpus-proportional batches that trip insertEdges'
    * maxDelivery delta-contract guard at 10× — correctly: bulk loads
    * are build-from-scratch by contract, so those gates have no
    * defined 10× behavior (the same reason [[dataProbe]] never probes
    * them; their delta-bounded twins q_graph_serve /
    * q_graph_insert_tick are probed instead).
    */
  private[graft] val coresProbe = Seq(
    "q_graph_serve", "q_graph_insert_tick", "q_stream_dedup_index",
    "q_literal_persist", "q_ingest_all", "q_stream_ingest_all",
    "q_cdc_maintain", "q_takedown", "q_search_federate",
    "q_ivfpq_retrain")

  /** A `cores` child running longer than this is killed. */
  private val childTimeoutS = 3 * 3600L

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq() | Seq("data") => data()
    case Seq("cores") => cores()
    case Seq("child", cpus, dir) => child(cpus.toInt, dir)
    case _ =>
      System.err.println("usage: graft.ScaleProbe [data|cores]")
      sys.exit(2)
  }

  /** The gates of `probe` that SPARK_GRAFT_ONLY selects, in probe order. */
  private def selected(probe: Seq[String]): Seq[Gate] = {
    val byName = Gate.all.map(g => g.name -> g).toMap
    probe.filter(Gate.select(sys.env.get("SPARK_GRAFT_ONLY"))).map(byName)
  }

  private def factor: Int =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt

  private def replicated(spark: SparkSession, base: String): String = {
    val big = Gate.tmpDir("scaleprobe_sf_")
    println(s"SCALE_PROBE replicating $base x$factor -> $big")
    replicate(spark, base, big, factor)
    big
  }

  private def data(): Unit = {
    val base = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    val big = replicated(spark, base)
    // warm the JVM/codegen and both scale points' shared indexes
    // outside every timed window (same contract as Bench)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$base/region.parquet").count()
    queries.ExtQueries.prewarmSharedIndex(spark, base)
    queries.ExtQueries.prewarmSharedIndex(spark, big)
    val results = selected(dataProbe).map { g =>
      // one UNTIMED base run first: the gate's codegen/plan warmup must
      // not land in the base timing, or light gates report ratios < 1
      // and the table reads as noise. Then base, then the replica — all
      // in the same warm JVM (the shared-index memo keys on the dir, so
      // scale points never share staged artifacts).
      Bench.warm(spark, g.fn, base)
      val tBase = Bench.time(spark, g.name, g.fn, base, 1)
      if (warmBig(g.name)) Bench.warm(spark, g.fn, big)
      val tBig = Bench.time(spark, g.name, g.fn, big, 1)
      val row = for (b <- tBase; x <- tBig) yield (b, x, x / math.max(b, 1e-9))
      row match {
        case Some((b, x, r)) =>
          println(s"SCALE_GATE ${g.name} base=${num(b)}s " +
            s"x$factor=${num(x)}s ratio=${num(r)}")
        case None => println(s"SCALE_PROBE GATE FAILED ${g.name}")
      }
      g.name -> row
    }
    spark.stop()
    val timed = results.collect { case (n, Some((b, x, r))) => (n, b, x, r) }
    val flagged = timed.filter(_._4 > 2.0 * factor).map(_._1)
    val qs = timed.map { case (n, b, x, r) =>
      s""""$n":{"base":${num(b)},"scaled":${num(x)},"ratio":${
        num(r)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","factor":$factor,"queries":$qs,""" +
      s""""superlinear":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    if (timed.size < results.size) sys.exit(1)
  }

  private def cores(): Unit = {
    val big = {
      val spark = GraftSession.local(8)
      try replicated(spark, GraftSession.sfDir) finally spark.stop()
    }
    val runs = Seq(32, 8).map { cpus =>
      val t = scala.collection.concurrent.TrieMap[String, Double]()
      val exit = Bench.runIsolated("graft.ScaleProbe",
          Seq("child", cpus.toString, big), Map.empty, childTimeoutS) {
        line =>
          if (line.startsWith("CHILD_TIMING ") || line.contains("GATE FAILED"))
            println(s"[c$cpus] $line")
          line.split(" ") match {
            case Array("CHILD_TIMING", g, v) =>
              v.toDoubleOption.foreach(t.put(g, _))
            case _ => ()
          }
      }
      if (!exit.contains(0)) println(s"SCALE_PROBE CHILD FAILED cpus=$cpus " +
        exit.fold(s"timed out after ${childTimeoutS}s")(c => s"exit=$c"))
      (exit.contains(0), t.toMap)
    }
    val Seq(t32, t8) = runs.map(_._2)
    println("SCALE_CORES_TABLE gate t32 t8 ratio(t8/t32)")
    val entries = coresProbe.filter(g => t32.contains(g) && t8.contains(g))
      .map { g =>
        val r = t8(g) / t32(g)
        println(s"SCALE_CORES_ROW $g ${num(t32(g))} ${num(t8(g))} " +
          num(r))
        s""""$g":{"t32":${num(t32(g))},"t8":${num(t8(g))},""" +
          s""""ratio":${num(r)}}"""
      }
    println(s"""{"metric":"core_scaling","factor":$factor,""" +
      s""""queries":${entries.mkString("{", ",", "}")}}""")
    if (!runs.forall(_._1)) sys.exit(1)
  }

  /** One `cores` child: every selected gate warm once (shared fixtures
    * and memos build there — the Bench prewarm discipline), then timed.
    * Exits non-zero when a timed run fails.
    */
  private def child(cpus: Int, dir: String): Unit = {
    val spark = GraftSession.local(cpus)
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()
    val failed = selected(coresProbe).filter { g =>
      Bench.warm(spark, g.fn, dir)
      val t = Bench.time(spark, g.name, g.fn, dir, 1)
      t.foreach(v => println(s"CHILD_TIMING ${g.name} ${num(v)}"))
      t.isEmpty
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
