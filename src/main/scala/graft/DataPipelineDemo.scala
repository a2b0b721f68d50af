package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{DataOps, Dedup, TextAnalysis}

/** End-to-end LLM training-data curation run — every stage is one of the
  * engine's gated operators, chained the way a production corpus build
  * chains them (quality filter → dedup → decontaminate → targeted
  * selection → mixture → holdout → packing), against the real testdata
  * tables. Each stage prints rows in/out so the funnel is visible. Run
  * with `sbt "runMain graft.DataPipelineDemo"` (optional arg: sf dir).
  *
  * This is a narrative driver, not a gate: every individual stage's
  * correctness is already value-checked by its own oracle gate — the
  * demo pins the COMPOSITION (operators chain without schema fights,
  * determinism survives the full funnel: a re-run emits byte-identical
  * selections).
  */
object DataPipelineDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4, "ERROR")

    val docs = Tables.documents(spark, sfDir)
    // each stage's rows are checkpointed: the funnel's self-joins
    // otherwise grow one plan that the analyzer re-deduplicates at every
    // count, until the DSIR stage exhausts a 4 GB heap
    def stage(name: String, df: DataFrame): DataFrame = {
      val cut = df.localCheckpoint()
      println(f"$name%-28s ${cut.count()}%6d docs")
      cut
    }
    stage("raw corpus", docs)

    // 0. Crawl front-end: pages arrive as HTML with messy URLs — keep
    //    one page per CANONICAL url (tracking params, ports, fragments
    //    collapse), then strip boilerplate inside the scan projection.
    val pages = docs
      .withColumn("url", concat(lit("https://www."), col("source"),
        lit(".example.com:443/doc/"), col("doc_id").cast("string"),
        lit("?utm_source=crawl#main")))
      .withColumn("html", concat(lit("<html><head><script>track();" +
        "</script></head><body><p>"), col("text"),
        lit("</p></body></html>")))
    val extracted = stage("html extract + url dedup",
      pages.withColumn("canon", TextAnalysis.canonicalUrl(col("url")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("canon")
            .orderBy("doc_id")))
        .filter(col("rk") === 1)
        .withColumn("text", TextAnalysis.htmlExtract(col("html")))
        .drop("html", "url", "canon", "rk"))

    // 1. Quality floor: char entropy inside the prose band, not too
    //    repetitive, enough tokens. (Signals are per-row expressions +
    //    one entropy aggregation — corpus-linear.)
    val toks = TextAnalysis.tokens(col("text"))
    val entropy = TextAnalysis.charEntropy(extracted, "doc_id", "text")
      .select(col("id").as("doc_id"), col("entropy"))
    val quality = stage("quality filter",
      extracted.join(entropy, "doc_id")
        .filter(col("entropy").between(2.0, 6.0))
        .filter(TextAnalysis.dupNgramRatio(toks, 2) < 0.5)
        .filter(size(toks) >= 5))

    // 1b. Language routing: NB trained on the labeled split (counting
    //     = training), keep the majority language — the CCNet gate.
    val nb = graft.ext.Classify.nbTrain(
      quality.filter(col("doc_id") % 3 =!= 0), col("lang"), col("text"))
    val langKept = stage("language gate (nb)",
      quality.join(graft.ext.Classify
          .nbPredict(nb, quality, col("doc_id"), col("text"))
          .select(col("id").as("doc_id"), col("pred")), "doc_id")
        .filter(col("pred") === "en").drop("pred"))

    // 1c. Fluency floor: interpolated trigram LM, drop the worst decile
    //     (the KenLM-lite perplexity filter).
    val lm = TextAnalysis.trigramLogProbs(langKept, "doc_id", "text")
      .select(col("id").as("doc_id"), col("mean_logprob"))
    val cut = lm.agg(percentile_approx(col("mean_logprob"), lit(0.1),
      lit(10000)).as("c")).head().getDouble(0)
    val fluent = stage("fluency filter (trigram lm)",
      langKept.join(lm, "doc_id")
        .filter(col("mean_logprob") >= cut).drop("mean_logprob"))

    // 2. Exact dedup on the normalization fingerprint (keep min id).
    val keeper = fluent
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")
          .orderBy("doc_id")))
      .filter(col("rk") === 1).drop("fp", "rk")
    val exact = stage("exact dedup", keeper)

    // 3. Near-dedup: MinHash-LSH candidates, exact-Jaccard verify,
    //    drop the higher id of each surviving pair.
    val pairs = Dedup.minhashDedup(exact, col("doc_id"), col("text"),
      n = 3, threshold = 0.5)
    val near = stage("near dedup",
      exact.join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))

    // 4. Benchmark decontamination: drop docs sharing any 7-gram with a
    //    (stand-in) eval set — here the first 5 documents.
    val bench = docs.filter(col("doc_id") < 5).select("text")
    val clean = stage("decontaminate",
      DataOps.decontaminate(near, col("doc_id"), col("text"), bench,
        col("text")).filter(!col("contaminated"))
        .drop("contaminated", "n_hits"))

    // 5. DSIR-style targeted selection: keep the 80% most target-like
    //    (target = sources src0-src4), sampled ∝ importance.
    val target = clean.filter(col("source") < "src5")
    val w = DataOps.importanceWeights(clean, col("doc_id"), col("text"),
      target, col("text"), buckets = 512)
    val keepN = (clean.count() * 8 / 10).toInt
    val selected = stage("dsir selection",
      clean.join(DataOps.gumbelTopK(w.select(col("id"), round(col("log_w"), 6)
          .as("log_w")), col("id"), col("log_w"), keepN)
        .select(col("id").as("doc_id")), "doc_id"))

    // 6. Temperature mixing flattens residual source imbalance.
    val mixed = stage("temperature mix",
      DataOps.temperatureMix(selected, col("doc_id"), col("source"),
        alpha = 0.5))

    // 7. Stratified eval holdout: 2 docs per source out; train = rest.
    val holdout = DataOps.stratifiedSample(mixed, col("source"),
      col("doc_id"), k = 2)
    val train = stage("train split (holdout out)",
      mixed.join(holdout.select(col("id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))

    // 8. Pack into fixed-budget training sequences.
    val packed = DataOps.packSequences(
      train.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
      col("doc_id"), col("n_tokens"), budget = 256, buckets = 4)
    val nPacks = packed.select("pack_bucket", "pack_id").distinct().count()
    println(f"packed sequences            $nPacks%6d packs")

    // Determinism: the whole funnel re-derives identically.
    val again = DataOps.temperatureMix(selected, col("doc_id"),
      col("source"), alpha = 0.5)
    require(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty,
      "funnel must be deterministic")
    println("re-run determinism          OK")
    spark.stop()
  }
}
