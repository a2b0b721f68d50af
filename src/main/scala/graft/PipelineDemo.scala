package graft

import java.nio.file.{Files, Paths}

import graft.billing.{Aggregates, BillingStore, Insights, Ledger}
import graft.streaming.StreamingIngest

/** End-to-end replay of the reference pipeline's lifecycle (SURVEY §3):
  * a Hive-partitioned CSV drop → streaming ingest with checkpoint +
  * dedup → four rollup tables → markdown insights report — all against a
  * throwaway store. Run with `sbt "runMain graft.PipelineDemo"`.
  */
object PipelineDemo {

  private val header = "timestamp,resource_id,user_id,credit_usage,region," +
    "service_tier,operation_type,success,resource_type,invoice_id,currency," +
    "year,month,day"

  private def line(ts: String, res: String, user: String, usage: Double,
      tier: String, op: String, ok: Boolean, inv: String): String =
    s"$ts,$res,$user,$usage,us-east-1,$tier,$op,$ok,compute,$inv,USD," +
      s"${ts.take(4)},${ts.slice(5, 7).toInt},${ts.slice(8, 10).toInt}"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, "ERROR")

    val in = Files.createTempDirectory("demo_in").toString
    val storeDir = Files.createTempDirectory("demo_store").toString
    val ckpt = Files.createTempDirectory("demo_ckpt").toString
    val store = BillingStore(storeDir)

    // day-1 drop
    Files.writeString(Paths.get(in, "billing-20250423.csv"), Seq(header,
      line("2025-04-23 10:00:00", "r1", "u1", 2.5, "free", "read", ok = true, "i1"),
      line("2025-04-23 11:00:00", "r2", "u1", 4.0, "free", "write", ok = false, "i2"),
      line("2025-04-23 12:00:00", "r3", "u2", 1.5, "paid", "read", ok = true, "i3"),
    ).mkString("\n"))
    StreamingIngest.start(spark, in, store, ckpt).awaitTermination()
    println(s"[demo] after day-1 drop: raw=${store.raw(spark).count()}")

    // day-2 drop re-ships a day-1 row (idempotent) plus new data
    Files.writeString(Paths.get(in, "billing-20250424.csv"), Seq(header,
      line("2025-04-23 12:00:00", "r3", "u2", 1.5, "paid", "read", ok = true, "i3"),
      line("2025-04-24 09:00:00", "r4", "u2", 9.0, "paid", "write", ok = true, "i4"),
      line("2025-04-24 10:00:00", "r5", "u3", 3.0, "free", "read", ok = true, "i5"),
    ).mkString("\n"))
    StreamingIngest.start(spark, in, store, ckpt).awaitTermination()
    println(s"[demo] after day-2 drop (1 dupe): raw=${store.raw(spark).count()}")

    // ledger over the same files (modified-file detection path)
    val hashed = Ledger.hashFiles(spark, s"$in/*.csv")
    store.upsertLedger(spark, hashed
      .withColumn("processed_at", org.apache.spark.sql.functions.current_timestamp())
      .withColumn("record_count", org.apache.spark.sql.functions.lit(3L))
      .select("filename", "file_hash", "processed_at", "record_count"))

    // store lifecycle: a CDC correction batch (re-price r2, void r5),
    // small-file compaction, then retention before day 24
    import org.apache.spark.sql.functions.{col, lit}
    val correction = store.raw(spark)
      .filter(col("resource_id") === "r2")
      .withColumn("credit_usage", lit(4.5)).withColumn("op", lit("upsert"))
      .unionByName(store.raw(spark)
        .filter(col("resource_id") === "r5").withColumn("op", lit("delete")))
    val (nUp, nDel) = store.applyChanges(spark, correction)
    println(s"[demo] CDC correction: upserted=$nUp deleted=$nDel")
    val (parts, files) = store.compactRaw(spark)
    println(s"[demo] compaction: $parts partitions ($files files) rewritten")
    val dropped = store.vacuumBefore(spark, 2025, 4, 24)
    println(s"[demo] retention <2025-04-24: dropped=$dropped partition(s); " +
      s"raw=${store.raw(spark).count()}")

    val raw = store.raw(spark)
    val report = Insights.renderReport(
      total = Option(Insights.totalCreditUsage(raw).collect()(0).get(0))
        .map(_.asInstanceOf[Double]),
      topUsers = Insights.topUsers(Aggregates.user(raw)).collect().toSeq,
      topRegions = Insights.topRegions(Aggregates.region(raw)).collect().toSeq,
      opFreq = Insights.operationFrequency(raw).collect().toSeq,
      rates = Insights.successRates(raw).collect().toSeq,
      files = store.ledger(spark).count(),
      records = raw.count())
    println(report)
    spark.stop()
  }
}
