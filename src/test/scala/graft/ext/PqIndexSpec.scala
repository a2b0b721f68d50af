package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated directions in 8-dim space, several vectors near each
  // (scaled copies share the direction → cosine ≈ 1 within a group)
  private def corpus = {
    val dirs = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0))
    val rnd = new scala.util.Random(7)
    (0 until 30).map { i =>
      val d = dirs(i % 3)
      val noise = d.map(x => x * (1.0 + 0.05 * rnd.nextGaussian()) +
        0.02 * rnd.nextGaussian())
      (i.toLong, noise.map(_.toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("codes are m small ints and group members share buckets mostly") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val codes = model.encoded.select("vec_id", "code")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 30)
    assert(codes.values.forall(c => c.length == 2 &&
      c.forall(x => x >= 1 && x <= 4)))
    // same-direction vectors should quantize identically almost always
    val byGroup = codes.groupBy(_._1 % 3).map { case (g, m) =>
      g -> m.values.groupBy(identity).values.map(_.size).max
    }
    // majority, not unanimity: KMeans may legitimately split one
    // direction across two centroids (k exceeds the group count)
    assert(byGroup.values.forall(_ >= 6),
      s"groups should be code-coherent: $byGroup")
  }

  test("codegen'd PqEncode matches the interpreted HOF encoder exactly") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val expr = model.encoded.select(col("vec_id"), col("code"))
      .as[(Long, Seq[Int])].collect().toMap
    val hof = model.encoded
      .select(col("vec_id"), PqIndex.hofCode(model).as("code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(expr.size == 30)
    assert(expr == hof)
  }

  test("codegen'd PqAdc matches the interpreted HOF lookup exactly") {
    import org.apache.spark.sql.graftbridge.Bridge
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    // fixed distance tables: dt(j)(c) = j*10 + c as doubles
    val dt = typedLit(Seq(Seq(0.5, 1.5, 2.5, 3.5), Seq(10.5, 11.5, 12.5, 13.5)))
    val both = model.encoded.select(
      Bridge.toColumn(graft.functions.PqAdc(
        Bridge.toExpr(col("code")), Bridge.toExpr(dt))).as("gen"),
      PqIndex.hofAdc(col("code"), dt).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.length == 30)
    assert(both.forall { case (g, h) => g == h })
  }

  test("save/load roundtrip: identical codebooks, codes, and search results") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val dir = graft.Gate.tmpDir("pq_save_")
    PqIndex.save(model, dir)
    val loaded = PqIndex.load(spark, dir, corpus)
    assert(loaded.m == model.m && loaded.dsub == model.dsub)
    assert(loaded.codebooks == model.codebooks)
    val codes = (df: org.apache.spark.sql.DataFrame) =>
      df.select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    assert(codes(loaded.encoded) == codes(model.encoded))
    val res = (m: PqIndex.Model) =>
      PqIndex.search(m, col("vec_id") < 3, k = 4)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(res(loaded) == res(model))
  }

  test("saveAppend encodes only the delta; load stitches base + delta") {
    val base = corpus.filter(col("vec_id") < 24)
    val delta = corpus.filter(col("vec_id") >= 24)
    val model = PqIndex.build(base, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val dir = graft.Gate.tmpDir("pq_append_")
    PqIndex.save(model, dir)
    PqIndex.saveAppend(model, delta, dir)
    val loaded = PqIndex.load(spark, dir, corpus)
    assert(loaded.encoded.count() == 30)
    // appended codes must equal a direct encode with the frozen codebooks
    val appended = loaded.encoded.filter(col("vec_id") >= 24)
      .select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    val direct = PqIndex.encode(model, delta)
      .select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    assert(appended == direct)
    // in-memory append agrees with the persisted path
    val inMem = PqIndex.append(model, delta).encoded
      .select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    assert(inMem == loaded.encoded.select("vec_id", "code")
      .as[(Long, Seq[Int])].collect().toMap)
  }

  test("deleteVecs masks at search; compact removes the codes physically") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val dir = graft.Gate.tmpDir("pq_del_")
    PqIndex.save(model, dir)
    PqIndex.delete(spark, dir,
      corpus.filter(col("vec_id") % 5 === 1).select("vec_id"),
      col("vec_id"))
    val loaded = PqIndex.load(spark, dir, corpus)
    val ids = loaded.encoded.select("vec_id").as[Long].collect().toSet
    assert(ids.forall(_ % 5 != 1) && ids.nonEmpty)
    PqIndex.compact(spark, dir, retainVersions = 8)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    assert(snap.read("codes").get.select("vec_id").as[Long]
      .collect().forall(_ % 5 != 1))
    // compaction preserves answers bit-for-bit
    val res = (m: PqIndex.Model) =>
      PqIndex.search(m, col("vec_id") < 3, k = 4)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(res(PqIndex.load(spark, dir, corpus)) == res(loaded))
  }

  test("external-vector search: identical query ranks its corpus row first") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    // queries = corpus vectors 0..2 under fresh external ids
    val queries = corpus.filter(col("vec_id") < 3)
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val got = PqIndex.searchVectors(model, queries, k = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(got.length == 12)
    // rank 1 is the identical vector (no self-exclusion = lookup semantics)
    got.filter(_._3 == 1).foreach { case (q, n, _) => assert(n == -q - 1) }
    // dropping the self row reproduces the in-corpus search
    val internal = PqIndex.search(model, col("vec_id") < 3, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val shifted = got.filter(_._3 > 1)
      .map { case (q, n, r) => (-q - 1, n, r - 1) }.toSet
    assert(shifted == internal)
  }

  test("retrain re-fits over the live corpus: post-retrain search ≡ a " +
      "from-scratch build, old version still answers via loadAt") {
    import graft.Tables
    val embs = Tables.embeddings(spark, sf0001).limit(150)
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val path = graft.Gate.tmpDir("pq_retrain_")
    val model = PqIndex.build(base, m = 4, k = 8, sampleFraction = 1.0)
    PqIndex.save(model, path)
    val v1 = IndexStore.snapshot(spark, path).version
    // drift: append new rows under the FROZEN codebooks, drop a slice
    PqIndex.saveAppend(model, embs.filter(col("vec_id") % 3 === 0), path)
    PqIndex.delete(spark, path,
      embs.filter(col("vec_id") % 7 === 2).select("vec_id"), col("vec_id"))
    val preV = IndexStore.snapshot(spark, path).version
    PqIndex.retrain(spark, path, embs, m = 4, k = 8,
      sampleFraction = 1.0)
    assert(IndexStore.snapshot(spark, path).version === preV + 1)
    // post-retrain ≡ from-scratch build over the LIVE corpus: identical
    // codebooks (same seed/sample discipline) → identical search rows
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    val fresh = PqIndex.build(live, m = 4, k = 8, sampleFraction = 1.0)
    val q = embs.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val got = PqIndex.searchVectors(
        PqIndex.load(spark, path, embs), q, k = 3)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = PqIndex.searchVectors(fresh, q, k = 3)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === want)
    // rollback path: the pre-retrain version is retained and readable
    val old = PqIndex.loadAt(spark, path, preV, embs)
    assert(old.encoded.count() > 0)
    // v1 history may have been GC'd (retention 2), but preV must hold
    assert(IndexStore.versions(spark, path).contains(preV))
    assert(v1 === 1L)
  }

  test("stats: codebook_age counts commits since the last train tag") {
    import graft.Tables
    val embs = Tables.embeddings(spark, sf0001).limit(100)
    val base = embs.filter(col("vec_id") % 2 === 0)
    val path = graft.Gate.tmpDir("pq_stats_")
    val model = PqIndex.build(base, m = 4, k = 8, sampleFraction = 1.0)
    PqIndex.save(model, path)
    PqIndex.saveAppend(model, embs.filter(col("vec_id") % 2 === 1), path)
    PqIndex.delete(spark, path,
      embs.filter(col("vec_id") % 10 === 3).select("vec_id"),
      col("vec_id"))
    def stat(name: String): Long = PqIndex.stats(spark, path)
      .filter(col("metric") === name).select("value").as[Long].head()
    // train at v1, then append + delete: age 2
    assert(stat("codebook_age") === 2L)
    assert(stat("version") === 3L)
    assert(stat("subspaces") === 4L)
    assert(stat("tombstone_segments") === 1L)
    assert(stat("live_codes") ===
      embs.filter(col("vec_id") % 10 =!= 3).count())
    // retrain resets the age to zero
    PqIndex.retrain(spark, path, embs, m = 4, k = 8, sampleFraction = 1.0)
    assert(stat("codebook_age") === 0L)
  }

  test("ADC search recovers same-direction neighbors") {
    val model = PqIndex.build(corpus, m = 2, k = 4,
      sampleFraction = 1.0, maxIter = 10)
    val got = PqIndex.search(model, col("vec_id") < 3, k = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.length == 12) // 3 queries × k
    // every returned neighbor shares the query's direction group
    assert(got.forall { case (q, n) => q % 3 == n % 3 },
      s"cross-direction neighbor leaked: ${got.mkString(",")}")
  }
}
