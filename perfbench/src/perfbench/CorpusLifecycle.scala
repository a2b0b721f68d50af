package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ext.{CorpusStore, DedupIndex, IndexStore, Ingest, IvfIndex,
  KnnGraphIndex, Takedown, TextSearch}

/** The LLM-data side: a document corpus with embeddings, built as store of
  * record, dedup, BM25 and IVF surfaces under one takedown registry, plus a
  * kNN graph over the same embeddings that the benchmark maintains beside
  * the registry. Each step retracts a small batch (`Takedown.retract`, and
  * `KnnGraphIndex.deleteVecs` on the graph), then admits a delivery that
  * re-ships some live ids and re-admits some retracted ones
  * (`Ingest.admit`, and `KnnGraphIndex.insert`), then reads: a saved BM25
  * search, a dedup probe, a store read and a graph search. Maintenance
  * (`Takedown.maintain` and `KnnGraphIndex.maybeCompact`) runs every
  * `maintainEvery` steps and once more at the end. Expected live ids and
  * the exact top-10 neighbours of each graph query are computed in plain
  * Scala.
  */
final class CorpusLifecycle(seed: Long, dir: Path, k: CorpusKnobs) extends Workload {
  private val in = dir.resolve("in")
  private val surfaceDirs = Seq("registry", "store", "dedup", "bm25", "ivf", "graph")
  private def at(name: String) = dir.resolve(name).toString
  private val root = at("registry")
  private val gen = new CorpusGen(seed, k)
  private val live = mutable.TreeSet[Long]()
  private val retracted = mutable.TreeSet[Long]()
  private var nextId = k.docs + 1L
  private var deliveredIds = 0L
  private var newIds = 0L
  private var inBytes = 0L
  private var recallHits = 0L
  private var recallWanted = 0L

  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("emb", ArrayType(FloatType))))
  private val idSchema = StructType(Seq(StructField("id", LongType)))
  private val probeSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType)))
  private val querySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qterms", ArrayType(StringType))))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def file(name: String, lines: Seq[String]): String = {
    val p = in.resolve(name)
    Io.write(p, lines.mkString("", "\n", "\n"))
    p.toString
  }

  /** Write an input file the engine ingests, counting its bytes. */
  private def input(name: String, lines: Seq[String]): String = {
    val p = file(name, lines)
    inBytes += Io.du(in.resolve(name))
    p
  }

  private def json(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  def stepSeconds: Double = 20.0
  def generate(): Unit = input("docs.jsonl", gen.initialIds.map(gen.jsonLine))

  def inputBytes: Long = inBytes
  def storeBytes: Long = surfaceDirs.map(d => Io.du(dir.resolve(d))).sum
  def rowsCommitted: Long = newIds
  override def ratios: Map[String, Double] = Map(
    "ext.Ingest.admit.new_ratio" -> newIds.toDouble / math.max(deliveredIds, 1L),
    "ext.KnnGraphIndex.search.recall_at_10" -> recallAt10)
  def spans: Seq[String] = LayerMetrics.spans.filter(_.startsWith("ext."))

  /** Share of the exact top-10 neighbours the graph searches returned. */
  def recallAt10: Double = recallHits.toDouble / math.max(recallWanted, 1L)

  def build(env: Env): Unit = {
    val spark = env.spark
    import env.tr.span
    val src = in.resolve("docs.jsonl").toString
    env.rec.op("build", "corpus")({
      val docs = json(spark, docSchema, src)
      val embs = docs.select(col("id").as("vec_id"), col("emb").as("embedding"))
      span("ext.CorpusStore.build") { CorpusStore.build(docs, col("id"), at("store")) }
      span("ext.DedupIndex.build") { DedupIndex.build(docs, col("id"), col("text"), at("dedup")) }
      span("ext.TextSearch.buildAndSave") {
        TextSearch.buildAndSave(docs, col("id"), col("text"), at("bm25"), buckets = 16)
      }
      span("ext.IvfIndex.build_save") {
        IvfIndex.save(IvfIndex.build(embs, k.ivfCells), at("ivf"))
      }
      span("ext.KnnGraphIndex.build") {
        KnnGraphIndex.build(embs, at("graph"), k = k.graphK, iters = k.graphIters)
      }
      span("ext.Takedown.register") {
        Seq("store", "dedup", "bm25", "ivf").foreach(kind =>
          Takedown.register(spark, root, Takedown.Surface(kind, at(kind))))
      }
    })(_ => None)
    live ++= gen.initialIds
  }

  /** Retraction first, so that the step's delivery can re-admit ids
    * retracted in the same step.
    */
  def step(env: Env, i: Int): Unit = {
    if (i % k.retractEvery == 0) retract(env, i)
    admit(env, i)
    reads(env, i)
    if (i % k.maintainEvery == k.maintainEvery - 1) maintain(env, s"after step $i")
  }

  private def retract(env: Env, i: Int): Unit = {
    val spark = env.spark
    import env.tr.span
    val gone = gen.retraction(i, live.toIndexedSeq)
    val p = file(f"retract-$i%05d.jsonl", gone.map(id => s"""{"id":$id}"""))
    env.rec.op("write", s"retract $i")({
      span("ext.Takedown.retract") {
        Takedown.retract(spark, root, json(spark, idSchema, p), col("id"))
      }
      span("ext.KnnGraphIndex.deleteVecs") {
        KnnGraphIndex.deleteVecs(spark, at("graph"), json(spark, idSchema, p), col("id"))
      }
    })(_ => Option.when(Takedown.pending(spark, root).nonEmpty)("retraction left pending"))
    live --= gone
    retracted ++= gone
  }

  private def admit(env: Env, i: Int): Unit = {
    val spark = env.spark
    import env.tr.span
    val ids = gen.delivery(i, nextId, live.toIndexedSeq, retracted.toIndexedSeq)
    val path = input(f"delivery-$i%05d.jsonl", ids.map(gen.jsonLine))
    val fresh = ids.filterNot(live.contains)
    env.rec.op("write", s"admit $i")({
      span("ext.Ingest.admit") {
        Ingest.admit(spark, root, json(spark, docSchema, path), col("id"))
      }
      span("ext.KnnGraphIndex.insert") {
        KnnGraphIndex.insert(spark, at("graph"), json(spark, docSchema, path)
          .select(col("id").as("vec_id"), col("emb").as("embedding")))
      }
    })(_ => Option.when(Ingest.pending(spark, root).nonEmpty)("delivery left pending"))
    deliveredIds += ids.size
    newIds += fresh.size
    live ++= fresh
    retracted --= fresh
    nextId = math.max(nextId, ids.max + 1)
  }

  private def reads(env: Env, i: Int): Unit = {
    val spark = env.spark
    import env.tr.span
    val liveNow = live.toIndexedSeq
    val qs = gen.queries(i, liveNow, retracted.toIndexedSeq)
    val qPath = file(f"query-$i%05d.jsonl", qs.map { case (q, ts, _) =>
      s"""{"qid":$q,"qterms":${ts.map(t => "\"" + t + "\"").mkString("[", ",", "]")}}""" })
    env.rec.op("read", s"bm25 $i")(span("ext.TextSearch.searchSaved") {
      TextSearch.searchSaved(spark, at("bm25"), json(spark, querySchema, qPath),
        col("qid"), col("qterms"), k = 10).select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }) { got =>
      val byQ = got.groupMap(_._1)(_._2)
      qs.collectFirst {
        case (q, _, Some(id)) if !byQ.getOrElse(q, Array.empty[Long]).contains(id) =>
          s"query $q did not return its document $id"
      }.orElse(got.collectFirst { case (_, id) if !live.contains(id) => s"returned non-live id $id" })
    }

    val probes = gen.probes(i, liveNow)
    val pPath = file(f"probe-$i%05d.jsonl", probes.map { case (pid, src) =>
      s"""{"id":$pid,"text":"${gen.text(src)}"}""" })
    env.rec.op("read", s"dedup $i")(span("ext.DedupIndex.dedupBatch") {
      DedupIndex.dedupBatch(spark, at("dedup"), json(spark, probeSchema, pPath),
        col("id"), col("text"), threshold = 0.8).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }) { pairs =>
      probes.collectFirst { case (pid, src) if !pairs((src, pid)) => s"probe $pid missed source $src" }
        .orElse(pairs.collectFirst { case (a, b) if retracted(a) || retracted(b) =>
          s"pair ($a, $b) names a retracted id" })
    }

    env.rec.op("read", s"store $i")(span("ext.CorpusStore.read") {
      CorpusStore.read(spark, at("store")).select("id").collect().map(_.getLong(0))
    }) { ids =>
      Option.when(ids.length != live.size || ids.toSet != live)(
        s"store holds ${ids.length} live ids, expected ${live.size}")
    }

    val gq = gen.graphQueries(i)
    val gPath = file(f"graph-query-$i%05d.jsonl", gq.map { case (q, v) =>
      s"""{"vec_id":$q,"embedding":${VectorGen.json(v)}}""" })
    env.rec.op("read", s"graph $i")(span("ext.KnnGraphIndex.search") {
      KnnGraphIndex.search(spark, at("graph"), json(spark, vecSchema, gPath), k = 10,
        beamWidth = k.searchBeam)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }) { got =>
      val byQ = got.groupMap(_._1)(_._2)
      val corpus = liveNow.map(id => id -> gen.emb(id))
      val hits = gq.map { case (q, v) =>
        (VectorGen.bruteForceTopK(v, corpus, 10).toSet & byQ.getOrElse(q, Array.empty[Long]).toSet).size
      }.sum
      recallHits += hits
      recallWanted += 10L * gq.size
      val recall = hits.toDouble / (10 * gq.size)
      gq.collectFirst { case (q, _) if byQ.getOrElse(q, Array.empty[Long]).length != 10 =>
        s"graph query $q returned ${byQ.getOrElse(q, Array.empty[Long]).length} ids, expected 10" }
        .orElse(got.collectFirst { case (_, id) if !live.contains(id) => s"graph returned non-live id $id" })
        .orElse(Option.when(recall < k.recallFloor)(
          f"graph recall@10 $recall%.3f below ${k.recallFloor}%.2f"))
    }
  }

  private def maintain(env: Env, label: String): Unit =
    env.rec.op("maintain", label)({
      env.tr.span("ext.Takedown.maintain") {
        Takedown.maintain(env.spark, root, maxSegments = k.maxSegments)
      }
      env.tr.span("ext.KnnGraphIndex.maybeCompact") {
        KnnGraphIndex.maybeCompact(env.spark, at("graph"), k.maxSegments)
      }
    })(_ => None)

  def finish(env: Env): Unit = {
    maintain(env, "closing pass")
    val spark = env.spark
    val ids = CorpusStore.read(spark, at("store")).select("id").collect().map(_.getLong(0)).toSet
    env.rec.endCheck("live ids after maintenance",
      Option.when(ids != live)(s"store holds ${ids.size} ids, expected ${live.size}"))
    val vecs = KnnGraphIndex.liveVectors(IndexStore.snapshot(spark, at("graph")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    env.rec.endCheck("graph vectors after maintenance",
      Option.when(vecs != live)(s"graph holds ${vecs.size} vectors, expected ${live.size}"))
  }
}

object CorpusLifecycle {
  val knobs = CorpusKnobs(docs = 1000, vocab = 4000, minWords = 30,
    maxWords = 60, nearDupShare = 0.10, dim = 64, clusters = 16,
    deliverySize = 64, reshipShare = 0.08, readmitShare = 0.03,
    retractSize = 4, retractEvery = 1, maintainEvery = 4, maxSegments = 2,
    ivfCells = 16, spread = 0.35, graphK = 10, graphIters = 3, searchBeam = 32,
    graphQueries = 8, recallFloor = 0.3)
}
