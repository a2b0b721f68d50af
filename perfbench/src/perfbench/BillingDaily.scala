package perfbench

import java.nio.file.Path
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.input_file_name

import graft.billing.{BillingStore, Ingest, Insights, Ledger, Schemas}

/** Expected store content, computed in plain Scala from the generator's
  * rows with the store's documented key semantics: rows of one delivery
  * collapse on the natural key (NULLs compare equal there, as in
  * `dropDuplicates`), and a key with a NULL column never matches a stored
  * row, so such rows are inserted again on every delivery that carries
  * them.
  */
final class BillingTruth {
  val rows = mutable.ArrayBuffer[Bill]()
  private val keys = mutable.HashSet[(LocalDateTime, String, String, String)]()
  /** Latest record count per delivered file (the ledger's last-wins row). */
  val fileCounts = mutable.LinkedHashMap[String, Long]()

  /** Apply one delivery; returns the rows it commits. */
  def deliver(files: Seq[(String, Seq[Bill])]): Long = {
    val batch = files.flatMap(_._2).distinctBy(_.key)
    val fresh = batch.filter(b => b.resource == null || !keys.contains(b.key))
    fresh.foreach(b => if (b.resource != null) keys += b.key)
    rows ++= fresh
    files.foreach { case (f, rs) => fileCounts(f) = rs.size.toLong }
    fresh.size.toLong
  }

  def countSum(p: Bill => Boolean): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, c), b) => if (p(b)) (n + 1, c + b.cents) else (n, c) }
}

/** The paper's own dataflow: a backfilled Hive-partitioned CSV tree, then
  * daily deliveries through the reference job path (ledger hash,
  * `toProcess`, `readCsv`, `appendDedup`, `rebuildAggregates`,
  * `upsertLedger`), each followed by user point reads, one-day range
  * reads and the insights report; `compactRaw` + `gcRaw` before
  * deliveries 0, `compactEvery`, 2 × `compactEvery`, ... and at the end.
  */
final class BillingDaily(seed: Long, dir: Path, k: BillingKnobs) extends Workload {
  import BillingDaily.{Report, Written}
  private val tree = dir.resolve("in")
  private val store = BillingStore(dir.resolve("store").toString)
  private val gen = new BillingGen(seed, k)
  private val truth = new BillingTruth
  private var pending: Seq[(String, Seq[Bill])] = Seq.empty
  private var committed = 0L
  private var staged = 0L
  private var lastDay = 0

  private def land(files: Seq[(String, Seq[Bill])]): Unit = {
    files.foreach { case (rel, rows) => Io.write(tree.resolve(rel), gen.csv(rows)) }
    pending = files
  }

  def stepSeconds: Double = 10.0
  def generate(): Unit = land(gen.backfill())

  def inputBytes: Long = Io.du(tree)
  def storeBytes: Long = Io.du(dir.resolve("store"))
  def rowsCommitted: Long = committed
  override def ratios: Map[String, Double] =
    Map("billing.BillingStore.appendDedup.kept_ratio" -> committed.toDouble / math.max(staged, 1L))
  def spans: Seq[String] = LayerMetrics.spans.filter(_.startsWith("billing."))

  /** The reference job path over whatever the ledger has not seen. */
  private def ingest(env: Env): Written = {
    val spark = env.spark
    import env.tr.span
    val glob = s"$tree/year=*/month=*/day=*/billing.csv"
    val hashed = span("billing.Ledger.hashFiles") {
      Ledger.hashFiles(spark, glob).collect()
    }
    val todo = span("billing.Ledger.toProcess") {
      Ledger.toProcess(spark.createDataFrame(hashed.toSeq.asJava, hashed.head.schema),
        store.ledger(spark))
        .select("filename", "file_hash").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSeq
    }
    val paths = todo.map(_._1)
    val counts = span("billing.Ingest.readCsv") {
      Ingest.readCsv(spark, paths: _*).groupBy(input_file_name()).count()
        .collect().map(r => rel(r.getString(0)) -> r.getLong(1)).toMap
    }
    val kept = span("billing.BillingStore.appendDedup") {
      store.appendDedup(spark, Ingest.readCsv(spark, paths: _*))
    }
    span("billing.BillingStore.rebuildAggregates") { store.rebuildAggregates(spark) }
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val updates = todo.map { case (f, h) =>
      Row(f, h, now, counts.getOrElse(rel(f), 0L)) }
    span("billing.BillingStore.upsertLedger") {
      store.upsertLedger(spark, spark.createDataFrame(updates.asJava, Schemas.processedFiles))
    }
    Written(todo.map(t => rel(t._1)).toSet, counts.values.sum, kept)
  }

  /** A file URI or path, relative to the tree root (`year=.../billing.csv`). */
  private def rel(uri: String): String = uri.substring(uri.indexOf("year="))

  private def write(env: Env, kind: String, label: String): Unit = {
    val files = pending
    val want = truth.deliver(files)
    val wantStaged = files.map(_._2.size.toLong).sum
    env.rec.op(kind, label)(ingest(env)) { w =>
      if (w.todo != files.map(_._1).toSet) Some(s"toProcess gave ${w.todo}, expected ${files.map(_._1)}")
      else if (w.staged != wantStaged) Some(s"staged ${w.staged} rows, expected $wantStaged")
      else if (w.kept != want) Some(s"appendDedup kept ${w.kept} rows, expected $want")
      else None
    }.foreach { w => committed += w.kept; staged += w.staged }
  }

  def build(env: Env): Unit = {
    write(env, "build", "backfill")
    lastDay = k.backfillDays - 1
  }

  /** Compaction comes first, so that even a one-step run dedups a delivery
    * against compacted partitions and reads a store holding both.
    */
  def step(env: Env, i: Int): Unit = {
    if (i % k.compactEvery == 0) maintain(env, s"before delivery $i")
    val files = gen.delivery(i)
    land(files)
    write(env, "write", s"delivery $i")
    lastDay = k.backfillDays + i + (if (i >= k.crossAt) 1 else 0)
    reads(env, i)
  }

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def checkRows(rows: Array[Row], want: (Long, Long)): Option[String] = {
    val got = (rows.length.toLong, rows.map(r => r.getDouble(r.fieldIndex("credit_usage"))).sum)
    if (got._1 != want._1 || !near(got._2, want._2 / 100.0))
      Some(s"got ${got._1} rows / ${got._2} credit, expected ${want._1} / ${want._2 / 100.0}")
    else None
  }

  private def reads(env: Env, i: Int): Unit = {
    val spark = env.spark
    import env.tr.span
    val r = Rng(seed, "billing.read", i)
    (0 until k.pointReads).foreach { _ =>
      val user = f"u${r.int(k.users / 4)}%04d"
      env.rec.op("read", s"user $user")(span("billing.BillingStore.rawForUser") {
        store.rawForUser(spark, user).collect()
      })(checkRows(_, truth.countSum(_.user == user)))
    }
    (0 until k.rangeReads).foreach { _ =>
      val lo = gen.date(lastDay - r.int(3)).atStartOfDay()
      val hi = lo.plusDays(1)
      env.rec.op("read", s"day $lo")(span("billing.BillingStore.rawBetween") {
        store.rawBetween(spark, lo.toInstant(ZoneOffset.UTC), hi.toInstant(ZoneOffset.UTC)).collect()
      })(checkRows(_, truth.countSum(b => !b.ts.isBefore(lo) && b.ts.isBefore(hi))))
    }

    env.rec.op("read", "insights report")(span("billing.Insights.report") {
      report(spark)
    })(checkReport)
  }

  private def report(spark: SparkSession): Report = {
    val raw = store.raw(spark)
    val total = Insights.totalCreditUsage(raw).collect()(0)
    val users = Insights.topUsers(store.agg(spark, "user")).collect().toSeq
    val regions = Insights.topRegions(store.agg(spark, "region")).collect().toSeq
    val ops = Insights.operationFrequency(raw).collect().toSeq
    val rates = Insights.successRates(raw).collect().toSeq
    val ledger = Insights.ledgerSummary(store.ledger(spark)).collect()(0)
    val t = if (total.isNullAt(0)) None else Some(total.getDouble(0))
    val md = Insights.renderReport(t, users, regions, ops, rates,
      ledger.getLong(0), ledger.getLong(1))
    Report(t.getOrElse(0.0), users, regions, ops, rates, ledger.getLong(0),
      ledger.getLong(1), md)
  }

  /** The report against rollups recomputed here from the expected rows. */
  private def checkReport(r: Report): Option[String] = {
    val rows = truth.rows
    def top[K: Ordering](m: Map[K, Long], n: Int): Seq[(K, Long)] =
      m.toSeq.sortBy { case (key, v) => (-v, key) }.take(n)
    val users = top(rows.groupMapReduce(_.user)(_ => 1L)(_ + _), 5)
    val regions = top(rows.groupMapReduce(_.region)(_.cents)(_ + _), 5)
    val ops = top(rows.groupMapReduce(_.op)(_ => 1L)(_ + _), Int.MaxValue)
    val rates = rows.groupBy(_.tier).toSeq.map { case (t, bs) =>
      (t, bs.count(_.success).toLong, bs.size.toLong) }
      .sortBy { case (t, s, n) => (-s.toDouble / n, t) }
    val problems = Seq(
      Option.when(!near(r.total, rows.map(_.cents).sum / 100.0))(s"total ${r.total}"),
      Option.when(r.topUsers.map(x => (x.getString(0), x.getLong(1))) != users)(
        s"top users ${r.topUsers} vs $users"),
      Option.when(r.topRegions.map(_.getString(0)) != regions.map(_._1) ||
        r.topRegions.zip(regions).exists { case (x, (_, c)) => !near(x.getDouble(1), c / 100.0) })(
        s"top regions ${r.topRegions} vs $regions"),
      Option.when(r.opFreq.map(x => (x.getString(0), x.getLong(1))) != ops)(
        s"operation frequency ${r.opFreq} vs $ops"),
      Option.when(r.rates.map(x => (x.getString(0), x.getLong(1), x.getLong(2))) != rates)(
        s"success rates ${r.rates} vs $rates"),
      Option.when(r.files != truth.fileCounts.size || r.records != truth.fileCounts.values.sum)(
        s"ledger ${r.files} files / ${r.records} records"),
      Option.when(!r.markdown.contains(f"**Total credit usage:** ${rows.map(_.cents).sum / 100.0}%.2f"))(
        "rendered total"),
    ).flatten
    problems.headOption
  }

  private def maintain(env: Env, label: String): Unit =
    env.rec.op("maintain", label)(env.tr.span("billing.BillingStore.compactRaw_gcRaw") {
      store.compactRaw(env.spark)
      store.gcRaw(env.spark)
    })(_ => None)

  def finish(env: Env): Unit = {
    maintain(env, "closing pass")
    val spark = env.spark
    val n = store.raw(spark).count()
    env.rec.endCheck("raw row count",
      Option.when(n != truth.rows.size)(s"store holds $n rows, expected ${truth.rows.size}"))
    val daily = store.agg(spark, "daily").collect().map { r =>
      (r.getAs[Int]("year"), r.getAs[Int]("month"), r.getAs[Int]("day")) ->
        (r.getAs[Long]("transaction_count"), r.getAs[Double]("total_credit_usage"),
          r.getAs[Long]("unique_users"), r.getAs[Long]("unique_resources"),
          r.getAs[Long]("successful_operations"), r.getAs[Long]("failed_operations"))
    }.toMap
    val want = truth.rows.groupBy(b => (b.ts.getYear, b.ts.getMonthValue, b.ts.getDayOfMonth))
      .map { case (d, bs) => d -> (bs.size.toLong, bs.map(_.cents).sum / 100.0,
        bs.map(_.user).distinct.size.toLong,
        bs.flatMap(b => Option(b.resource)).distinct.size.toLong,
        bs.count(_.success).toLong, bs.count(!_.success).toLong) }
    val bad = want.keys.toSeq.sorted.find { d =>
      daily.get(d).forall { g => val w = want(d)
        g._1 != w._1 || !near(g._2, w._2) || g._3 != w._3 || g._4 != w._4 ||
          g._5 != w._5 || g._6 != w._6 }
    }
    env.rec.endCheck("daily_aggs",
      if (daily.size != want.size) Some(s"${daily.size} days, expected ${want.size}")
      else bad.map(d => s"day $d: ${daily.get(d)} vs ${want(d)}"))
  }
}

object BillingDaily {
  private final case class Written(todo: Set[String], staged: Long, kept: Long)

  private final case class Report(total: Double, topUsers: Seq[Row],
      topRegions: Seq[Row], opFreq: Seq[Row], rates: Seq[Row], files: Long,
      records: Long, markdown: String)

  val knobs = BillingKnobs(users = 200, resources = 400, backfillDays = 10,
    rowsPerDay = 400, reshipShare = 0.10, lateShare = 0.05, inFileDupShare = 0.02,
    nullKeyShare = 0.01, rewriteEvery = 5, rewriteRows = 20, crossAt = 0,
    compactEvery = 4, pointReads = 12, rangeReads = 3)
}
