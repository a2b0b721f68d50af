package graft.billing

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import graft.{GroupJobs, SparkSpec}

/** Spark jobs per [[BillingStore]] operation, pinned over one small
  * fixture. A listener counts only the jobs of the job group each step
  * sets, so nothing else running in the JVM is counted. A step whose
  * count moves off its pin fails: more jobs is a regression, and a
  * change that removes jobs lowers the pin.
  */
class BillingStoreJobsSpec extends SparkSpec {

  private def rec(ts: String, res: String, user: String,
      usage: Double): Schemas.BillingRecord =
    Schemas.BillingRecord(Timestamp.valueOf(ts), res, user, usage,
      "us", "free", "read", true, "compute", s"i-$res", "USD",
      ts.take(4).toInt, ts.slice(5, 7).toInt, ts.slice(8, 10).toInt)

  private def df(rs: Schemas.BillingRecord*): DataFrame =
    spark.createDataFrame(rs)

  test("jobs per operation stay at their pins") {
    val store = BillingStore(tmpDir("jobs_store"))
    val ledgerRows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("a.csv", "h1", Timestamp.valueOf("2025-04-26 00:00:00"), 3L),
        Row("b.csv", "h2", Timestamp.valueOf("2025-04-26 00:00:00"), 2L)),
      Schemas.processedFiles)
    val changes = df(rec("2025-04-24 10:00:00", "r3", "u2", 50.0))
      .withColumn("op", lit("upsert"))
      .unionByName(df(rec("2025-04-24 11:00:00", "r4", "u1", 1.0))
        .withColumn("op", lit("delete")))
    // (operation, pinned jobs, call), run in order on one store
    val steps: Seq[(String, Int, () => Any)] = Seq(
      ("appendDedup", 9, () => store.appendDedup(spark, df(
        rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
        rec("2025-04-23 11:00:00", "r2", "u1", 3.0),
        rec("2025-04-24 10:00:00", "r3", "u2", 5.0),
        rec("2025-04-24 11:00:00", "r4", "u1", 1.0)).repartition(2))),
      ("appendIncremental", 18, () => store.appendIncremental(spark, df(
        rec("2025-04-23 12:00:00", "r5", "u3", 4.0),
        rec("2025-04-25 09:00:00", "r6", "u2", 7.0)).repartition(2))),
      ("rebuildAggregates", 13, () => store.rebuildAggregates(spark)),
      ("refreshDailyForDays", 4, () => store.refreshDailyForDays(spark,
        df(rec("2025-04-25 00:00:00", "x", "x", 0.0)))),
      ("upsertLedger", 2, () => store.upsertLedger(spark, ledgerRows)),
      ("rawForUser", 1, () => store.rawForUser(spark, "u1").collect()),
      ("rawBetween", 1, () => store.rawBetween(spark,
        Timestamp.valueOf("2025-04-24 00:00:00").toInstant,
        Timestamp.valueOf("2025-04-25 00:00:00").toInstant).collect()),
      ("compactRaw", 5, () => store.compactRaw(spark)),
      ("applyChanges", 19, () => store.applyChanges(spark, changes)),
      ("vacuumBefore", 0, () => store.vacuumBefore(spark, 2025, 4, 24)),
      ("gcRaw", 0, () => store.gcRaw(spark)))
    val got = GroupJobs.counting(spark.sparkContext, "billing-jobs-") { g =>
      steps.foreach { case (name, _, call) => g.step(name)(call()) }
      steps.map { case (name, _, _) => name -> g.jobs(name) }
    }
    println(got.map { case (n, j) => s"$n=$j" }
      .mkString("BILLING_JOBS ", " ", ""))
    assert(got == steps.map { case (name, pin, _) => name -> pin })
    // the fixture did what each step is there to measure
    assert(store.raw(spark).count() == 2L)
    assert(store.ledger(spark).count() == 2L)
  }
}
