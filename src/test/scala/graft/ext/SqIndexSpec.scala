package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SqIndexSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated directions in 8-dim space with scaled/noisy copies —
  // same fixture family as PqIndexSpec so the two codecs are comparable.
  private def corpus = {
    val dirs = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0))
    val rnd = new scala.util.Random(11)
    (0 until 30).map { i =>
      val d = dirs(i % 3)
      val noise = d.map(x => x * (1.0 + 0.05 * rnd.nextGaussian()) +
        0.02 * rnd.nextGaussian())
      (i.toLong, noise.map(_.toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("codes are d ints in 0..255 and dequantization error is bounded") {
    val model = SqIndex.build(corpus)
    val codes = model.encoded.select("vec_id", "code")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 30)
    assert(codes.values.forall(c => c.length == 8 &&
      c.forall(x => x >= 0 && x <= 255)))
    // max per-dim reconstruction error ≤ half a quantization step
    val step = model.lo.indices.map(i =>
      (model.hi(i) - model.lo(i)) / 255.0).max
    val err = model.encoded.select(
      aggregate(
        zip_with(transform(col("v"), x => x / sqrt(col("nrm"))),
          transform(col("code"), (c, i) => {
            val l = element_at(typedLit(model.lo), i + 1)
            val h = element_at(typedLit(model.hi), i + 1)
            l + c.cast("double") * (h - l) / lit(255.0)
          }),
          (x, xh) => abs(x - xh)),
        lit(0.0), (acc, x) => greatest(acc, x)).as("e"))
      .agg(max("e")).as[Double].head()
    assert(err <= step / 2 + 1e-12, s"err $err vs step $step")
  }

  test("search finds the same-direction group; top-1 matches brute force") {
    val model = SqIndex.build(corpus)
    val ann = SqIndex.search(model, col("vec_id") < 3, k = 5, shortlist = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(ann.count(_._1 == 0L) == 5)
    // all top-5 neighbors of query i share its direction class i % 3
    assert(ann.forall { case (q, n, _, _) => n % 3 == q % 3 })
    val bf = EmbeddingSearch.bruteForceTopK(corpus, col("vec_id") < 3, k = 1)
      .as[(Long, Long, Double, Int)].collect().map(r => r._1 -> r._2).toMap
    val top1 = ann.filter(_._4 == 1).map(r => r._1 -> r._2).toMap
    assert(top1 == bf)
  }

  test("codegen'd SqEncode matches the interpreted HOF encoder exactly") {
    val model = SqIndex.build(corpus)
    val expr = model.encoded.select("vec_id", "code")
      .as[(Long, Seq[Int])].collect().toMap
    val hof = model.encoded
      .select(col("vec_id"), SqIndex.hofCode(model.lo, model.hi).as("code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(expr == hof)
  }

  test("codegen'd SqAdc matches the interpreted dequantize-and-dot exactly") {
    import org.apache.spark.sql.graftbridge.Bridge
    val model = SqIndex.build(corpus)
    val withQu = model.encoded.withColumn("qu",
      transform(col("v"), x => x / sqrt(col("nrm"))))
    val expr = withQu.select(col("vec_id"),
        Bridge.toColumn(graft.functions.SqAdc(
          Bridge.toExpr(col("code")), Bridge.toExpr(col("qu")),
          model.lo.toArray, model.hi.toArray)).as("s"))
      .as[(Long, Double)].collect().toMap
    val hof = withQu.select(col("vec_id"),
        SqIndex.hofAdc(model, col("code"), col("qu")).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(expr == hof)
  }

  test("save → load in a fresh session answers row-identical; append covers the delta") {
    val dir = graft.Gate.tmpDir("sq_spec_")
    val base = corpus.filter(col("vec_id") < 24)
    val delta = corpus.filter(col("vec_id") >= 24)
    val model = SqIndex.build(base)
    SqIndex.save(model, dir)
    SqIndex.saveAppend(model, delta, dir)
    val loaded = SqIndex.load(spark.newSession(), dir, corpus)
    assert(loaded.lo == model.lo && loaded.hi == model.hi)
    assert(loaded.encoded.count() == 30)
    // the loaded index scores the base corpus exactly like the in-memory
    // one (appended rows are encoded with the same frozen ranges)
    val mem = SqIndex.append(model, delta)
    val a = SqIndex.search(mem, col("vec_id") < 3, k = 5, shortlist = 3)
    val b = SqIndex.search(loaded, col("vec_id") < 3, k = 5, shortlist = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("retrain re-fits the ranges over the live corpus: post-retrain " +
      "search ≡ a from-scratch build, old version answers via loadAt") {
    import graft.Tables
    val embs = Tables.embeddings(spark, sf0001).limit(120)
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val path = graft.Gate.tmpDir("sq_retrain_")
    val model = SqIndex.build(base)
    SqIndex.save(model, path)
    SqIndex.saveAppend(model, embs.filter(col("vec_id") % 3 === 0), path)
    SqIndex.delete(spark, path,
      embs.filter(col("vec_id") % 7 === 2).select("vec_id"), col("vec_id"))
    val preV = IndexStore.snapshot(spark, path).version
    SqIndex.retrain(spark, path, embs)
    assert(IndexStore.snapshot(spark, path).version === preV + 1)
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    val fresh = SqIndex.build(live)
    val q = embs.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val got = SqIndex.searchVectors(
        SqIndex.load(spark, path, embs), q, k = 3)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = SqIndex.searchVectors(fresh, q, k = 3)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === want)
    // the refit actually moved the codec: ranges differ from the stale fit
    assert(SqIndex.load(spark, path, embs).lo !== model.lo)
    // rollback: the pre-retrain version is retained and readable
    assert(SqIndex.loadAt(spark, path, preV, embs).encoded.count() > 0)
    // stats: codec_age resets on retrain; was 2 before (append + delete)
    def stat(name: String): Long = SqIndex.stats(spark, path)
      .filter(col("metric") === name).select("value").as[Long].head()
    assert(stat("codec_age") === 0L)
    assert(stat("version") === preV + 1)
    assert(stat("live_codes") === live.count())
  }

  test("deleteVecs masks at search; compact removes the codes physically") {
    val dir = graft.Gate.tmpDir("sq_del_")
    val model = SqIndex.build(corpus)
    SqIndex.save(model, dir)
    SqIndex.delete(spark, dir,
      corpus.filter(col("vec_id") % 5 === 1).select("vec_id"),
      col("vec_id"))
    val loaded = SqIndex.load(spark, dir, corpus)
    val ids = loaded.encoded.select("vec_id").as[Long].collect().toSet
    assert(ids.forall(_ % 5 != 1) && ids.nonEmpty)
    SqIndex.compact(spark, dir, retainVersions = 8)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    assert(snap.read("codes").get.select("vec_id").as[Long]
      .collect().forall(_ % 5 != 1))
    val after = SqIndex.load(spark, dir, corpus)
    val a = SqIndex.search(loaded, col("vec_id") < 3, k = 5, shortlist = 3)
    val b = SqIndex.search(after, col("vec_id") < 3, k = 5, shortlist = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
