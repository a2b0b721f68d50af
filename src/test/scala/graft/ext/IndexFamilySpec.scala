package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The family registry laws: every kind in [[IndexFamily.all]] drives
  * through [[Ingest]] and [[Takedown]] and stays id-consistent with the
  * store of record, every commit publishes exactly the relations it
  * wrote, the op log tags every build `build` (a trained codec's
  * `train`), every delete `delete` and every compaction `compact`, each
  * step's Spark jobs stay at their pins, and a registry entry naming an
  * unknown kind fails by name before any intent lands.
  */
class IndexFamilySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  /** (id, text, emb) rows: distinct five-word texts, 4-dim vectors. */
  private def rows(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      (i, s"w$i alpha${i % 3} bravo$i charlie${i * 7 % 5} delta$i echo",
        Array.fill(4)(rnd.nextDouble() + 0.1))
    }.toDF("id", "text", "emb")

  private def embs(df: DataFrame): DataFrame =
    df.select(col("id").as("vec_id"), col("emb").as("embedding"))

  /** How each kind builds a small surface at a path from the corpus.
    * A family added to the registry without an entry here fails the
    * table-driven test below by name.
    */
  private val builders: Map[String, (DataFrame, String) => Unit] = Map(
    "store" -> ((d, p) => { CorpusStore.build(d, col("id"), p); () }),
    "bm25" -> ((d, p) =>
      TextSearch.buildAndSave(d, col("id"), col("text"), p, buckets = 4)),
    "dedup" -> ((d, p) => DedupIndex.build(d, col("id"), col("text"), p)),
    "literal" -> ((d, p) => LiteralIndex.buildAndSave(d, col("id"),
      col("text"), p, n = 4, buckets = 4)),
    "ivf" -> ((d, p) => IvfIndex.save(IvfIndex.build(embs(d), k = 2), p)),
    "pq" -> ((d, p) => PqIndex.save(
      PqIndex.build(embs(d), m = 2, k = 4, sampleFraction = 1.0), p)),
    "sq" -> ((d, p) => SqIndex.save(SqIndex.build(embs(d)), p)),
    "ivfpq" -> ((d, p) => IvfPqIndex.save(IvfPqIndex.build(embs(d),
      kCells = 2, m = 2, k = 4, sampleFraction = 1.0), p)),
    "graph" -> ((d, p) => {
      KnnGraphIndex.build(embs(d), p, k = 3, iters = 2); ()
    }),
    "binary" -> ((d, p) => BinaryIndex.save(BinaryIndex.build(embs(d)), p)),
  )

  private def liveIds(s: Takedown.Surface): Set[Long] = {
    val (rel, key) = s.family.live
    IndexStore.liveRows(IndexStore.snapshot(spark, s.path), rel, key)
      .select(key).distinct().as[Long].collect().toSet
  }

  private def lastOp(s: Takedown.Surface): String =
    IndexStore.opAt(spark, s.path, IndexStore.snapshot(spark, s.path).version)

  /** Published = written: every manifest line names an existing relation
    * directory, and every non-hidden directory inside a referenced
    * segment is a manifest line or the id-Bloom sidecar of one.
    */
  private def assertPublishedIsWritten(s: Takedown.Surface,
      when: String): Unit = {
    val lines = IndexStore.snapshot(spark, s.path).lines.toSet
    lines.foreach(l => assert(new java.io.File(s"${s.path}/$l").isDirectory,
      s"${s.kind} $when: manifest line $l has no directory"))
    val blooms = lines.map { l =>
      val Array(seg, rel) = l.split("/")
      s"$seg/${IdBloom.sidecarName(rel)}"
    }
    lines.map(_.split("/").head).foreach { seg =>
      new java.io.File(s"${s.path}/$seg").listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(d => s"$seg/${d.getName}")
        .foreach(d => assert(lines(d) || blooms(d),
          s"${s.kind} $when: $d written but not published"))
    }
  }

  /** Spark jobs per lifecycle step on this fixture. A step whose count
    * moves off its pin fails: more jobs is a regression, and a change
    * that removes jobs lowers the pin.
    */
  private val jobPins: Seq[(String, Int)] = Seq(
    "build-store" -> 2, "build-bm25" -> 16, "build-dedup" -> 11,
    "build-literal" -> 8, "build-ivf" -> 16, "build-pq" -> 5,
    "build-sq" -> 4, "build-ivfpq" -> 20, "build-graph" -> 60,
    "build-binary" -> 4, "admit" -> 346, "retract" -> 214,
    "maintain" -> 173, "dedupBatch" -> 39, "searchSaved" -> 16)

  test("every registered family admits, retracts and compacts in step " +
      "with the store of record; deletes tag 'delete', compactions " +
      "'compact'") {
    val root = tmpDir("fam_root")
    val corpus = rows(1L to 12L)
    val got = graft.GroupJobs.counting(spark.sparkContext, "ext-jobs-") { g =>
      val ss = IndexFamily.all.map { f =>
        val s = Takedown.Surface(f.kind, tmpDir(s"fam_${f.kind}"))
        val build = builders.getOrElse(f.kind,
          fail(s"no test builder for family kind '${f.kind}'"))
        g.step(s"build-${f.kind}")(build(corpus, s.path))
        Takedown.register(spark, root, s)
        s
      }
      val store = ss.find(_.family == CorpusStore).get
      def assertInStep(when: String, expected: Set[Long]): Unit = {
        assert(liveIds(store) == expected, when)
        ss.foreach(s => assert(liveIds(s) == expected, s"${s.kind} $when"))
        ss.foreach(assertPublishedIsWritten(_, when))
      }
      assertInStep("after build", (1L to 12L).toSet)
      ss.foreach(s => assert(lastOp(s) ==
        (if (Set("pq", "sq", "ivfpq")(s.kind)) "train" else "build"), s.kind))

      // id 3 is already live everywhere: admit skips it
      g.step("admit")(Ingest.admit(spark, root,
        rows(Seq(3L, 13L, 14L, 15L)), col("id")))
      assertInStep("after admit", (1L to 15L).toSet)

      g.step("retract")(Takedown.retract(spark, root,
        Seq(2L, 5L, 13L).toDF("id"), col("id")))
      assertInStep("after retract", (1L to 15L).toSet -- Set(2L, 5L, 13L))
      ss.foreach(s => assert(lastOp(s) == "delete", s.kind))

      val swept = g.step("maintain")(
        Takedown.maintain(spark, root, maxSegments = 1))
      assert(swept.map(_.kind).toSet == IndexFamily.all.map(_.kind).toSet)
      assertInStep("after maintain", (1L to 15L).toSet -- Set(2L, 5L, 13L))
      ss.foreach { s =>
        assert(IndexStore.segmentCount(spark, s.path) == 1, s.kind)
        assert(lastOp(s) == "compact", s.kind)
      }

      val health = Takedown.health(spark, root)
        .select("kind", "segments").as[(String, Int)].collect()
      assert(health.map(_._1).sorted.toSeq == ss.map(_.kind).sorted)
      assert(health.forall(_._2 == 1))

      // one probe each of the two read paths the lifecycle serves
      def at(kind: String) = ss.find(_.kind == kind).get.path
      val pairs = g.step("dedupBatch")(DedupIndex.dedupBatch(spark,
          at("dedup"), rows(Seq(20L)).withColumn("text",
            lit("w4 alpha1 bravo4 charlie3 delta4 echo")),
          col("id"), col("text"), threshold = 0.3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      assert(pairs == Set((4L, 20L)))
      val hits = g.step("searchSaved")(TextSearch.searchSaved(spark,
          at("bm25"), Seq((1L, Seq("bravo7"))).toDF("qid", "qterms"),
          col("qid"), col("qterms"), k = 3)
        .select("id").as[Long].collect().toSeq)
      assert(hits == Seq(7L))
      jobPins.map { case (step, _) => step -> g.jobs(step) }
    }
    println(got.map { case (n, j) => s"$n=$j" }.mkString("EXT_JOBS ", " ", ""))
    assert(got == jobPins)
  }

  test("an unknown kind in the registry fails by name before any " +
      "retraction or delivery intent lands") {
    val root = tmpDir("fam_unknown")
    val bm25 = tmpDir("fam_unknown_bm25")
    TextSearch.buildAndSave(rows(1L to 4L), col("id"), col("text"), bm25,
      buckets = 4)
    Takedown.register(spark, root, Takedown.Surface("bm25", bm25))
    // a hand-edited entry (or one another build wrote)
    val entry = java.nio.file.Paths.get(root, "_surfaces", "s-00hnsw00")
    java.nio.file.Files.write(entry,
      s"hnsw\n${tmpDir("fam_hnsw")}".getBytes("UTF-8"))

    val r = intercept[IllegalArgumentException] {
      Takedown.retract(spark, root, Seq(1L).toDF("id"), col("id"))
    }
    assert(r.getMessage.contains("hnsw"))
    val a = intercept[IllegalArgumentException] {
      Ingest.admit(spark, root, rows(Seq(9L)), col("id"))
    }
    assert(a.getMessage.contains("hnsw"))
    assert(intercept[IllegalArgumentException] {
      Takedown.maintain(spark, root)
    }.getMessage.contains("hnsw"))
    assert(intercept[IllegalArgumentException] {
      Takedown.health(spark, root)
    }.getMessage.contains("hnsw"))
    assert(Takedown.pending(spark, root).isEmpty)
    assert(Ingest.pending(spark, root).isEmpty)
  }
}
