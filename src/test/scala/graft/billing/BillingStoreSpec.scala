package graft.billing

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class BillingStoreSpec extends SparkSpec {

  private def rec(ts: String, res: String, user: String,
      usage: Double): Schemas.BillingRecord =
    Schemas.BillingRecord(Timestamp.valueOf(ts), res, user, usage,
      "us", "free", "read", true, "compute", s"i-$res", "USD",
      ts.take(4).toInt, ts.slice(5, 7).toInt, ts.slice(8, 10).toInt)

  private def df(rs: Schemas.BillingRecord*): DataFrame =
    spark.createDataFrame(rs)

  test("rawChanges reads exactly the files added since a version") {
    val store = BillingStore(tmpDir("iscan_store"))
    store.appendDedup(spark, df(rec("2025-04-23 10:00:00", "r1", "u1", 2.0)))
    val v1 = store.rawVersions(spark).last
    store.appendDedup(spark, df(
      rec("2025-04-24 10:00:00", "r2", "u2", 3.0),
      rec("2025-04-23 11:00:00", "r5", "u1", 1.0)))
    val ch = store.rawChanges(spark, v1)
      .select("resource_id").collect().map(_.getString(0)).toSet
    assert(ch == Set("r2", "r5"))
    // an empty window yields no rows
    val vLatest = store.rawVersions(spark).last
    assert(store.rawChanges(spark, vLatest).count() == 0L)
    // a compaction inside the window re-emits the rewritten partition's
    // rows (the documented append-only caveat): day 23 was fragmented
    // (2 files → 1 rewrite, 2 rows), day 24's single file is untouched
    store.compactRaw(spark)
    assert(store.rawChanges(spark, vLatest).count() == 2L)
    // a version GC dropped is an error, not silence
    intercept[java.util.NoSuchElementException] {
      store.rawChanges(spark, -1L)
    }
    ()
  }

  test("incremental daily refresh equals full rebuild after an append") {
    val store = BillingStore(tmpDir("inc_store"))
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u1", 3.0)))
    store.rebuildAggregates(spark)

    // a second batch touches only day 24 and adds day 25
    val batch = df(
      rec("2025-04-24 12:00:00", "r3", "u2", 5.0),
      rec("2025-04-25 09:00:00", "r4", "u2", 7.0))
    store.appendDedup(spark, batch)
    store.refreshDailyForDays(spark, batch.toDF())

    val incremental = store.agg(spark, "daily")
      .orderBy("year", "month", "day")
      .select("year", "month", "day", "transaction_count",
        "total_credit_usage", "unique_users")
      .collect().toSeq

    // full rebuild from scratch must agree
    val full = Aggregates.daily(store.raw(spark))
      .orderBy("year", "month", "day")
      .select("year", "month", "day", "transaction_count",
        "total_credit_usage", "unique_users")
      .collect().toSeq
    assert(incremental == full)
    assert(incremental.length == 3)
    assert(incremental(1).getAs[Long]("transaction_count") == 2L)
  }

  test("appendIncremental: overlapping deliveries fold to the exact rollup") {
    val store = BillingStore(tmpDir("inc_store3"))
    val d1 = df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u1", 3.0))
    // delivery 2 redelivers r2's row and adds two more (one per day)
    val d2 = df(
      rec("2025-04-24 10:00:00", "r2", "u1", 3.0),
      rec("2025-04-24 12:00:00", "r3", "u2", 5.0),
      rec("2025-04-23 11:00:00", "r4", "u2", 7.0))
    assert(store.appendIncremental(spark, d1) == 2L)
    assert(store.appendIncremental(spark, d2) == 2L) // redelivery dropped

    val got = store.dailyFromPartials(spark)
      .orderBy("day")
      .select("year", "month", "day", "transaction_count",
        "total_credit_usage", "successful_operations", "approx_users")
      .collect().toSeq
    val exact = Aggregates.daily(store.raw(spark))
      .orderBy("day")
      .select("year", "month", "day", "transaction_count",
        "total_credit_usage", "successful_operations", "unique_users")
      .collect().toSeq
    // HLL is exact at these cardinalities → rows identical
    assert(got.map(_.toSeq) == exact.map(_.toSeq))
    assert(got.length == 2)
    assert(got(0).getAs[Long]("transaction_count") == 2L)
  }

  test("untouched day partitions are not rewritten by the refresh") {
    val store = BillingStore(tmpDir("inc_store2"))
    val b1 = df(rec("2025-04-23 10:00:00", "r1", "u1", 2.0))
    store.appendDedup(spark, b1)
    store.rebuildAggregates(spark)
    val d23 = new java.io.File(
      s"${store.aggPath("daily")}/year=2025/month=4/day=23")
    val before = d23.listFiles().map(f => f.getName -> f.lastModified).toMap

    val b2 = df(rec("2025-04-24 10:00:00", "r2", "u1", 3.0))
    store.appendDedup(spark, b2)
    store.refreshDailyForDays(spark, b2.toDF())
    val after = d23.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "day=23 files must be untouched")
    assert(new java.io.File(
      s"${store.aggPath("daily")}/year=2025/month=4/day=24").exists())
  }

  test("compaction: rows unchanged, one file per partition, no-op after") {
    import org.apache.spark.sql.functions._
    val store = BillingStore(tmpDir("compact_store"))
    // two fragmented appends: 4 tasks each over 2 days
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-23 11:00:00", "r2", "u1", 3.0),
      rec("2025-04-24 10:00:00", "r3", "u2", 5.0)).repartition(4))
    store.appendDedup(spark, df(
      rec("2025-04-23 12:00:00", "r4", "u2", 7.0),
      rec("2025-04-24 11:00:00", "r5", "u1", 1.0)).repartition(4))
    val before = store.raw(spark).orderBy("resource_id").collect().toSeq
    val (parts, files) = store.compactRaw(spark)
    assert(parts == 2 && files > parts)
    val after = store.raw(spark).orderBy("resource_id").collect().toSeq
    assert(after == before)
    val perPart = store.raw(spark)
      .select(col("year"), col("month"), col("day"),
        input_file_name().as("f"))
      .groupBy("year", "month", "day")
      .agg(countDistinct(col("f")).as("nf"))
      .collect().map(_.getAs[Long]("nf"))
    assert(perPart.forall(_ == 1L))
    // already compact → no partition qualifies, nothing rewritten
    assert(store.compactRaw(spark) == ((0L, 0L)))
  }

  test("vacuum drops only expired partitions, untouched days keep files") {
    val store = BillingStore(tmpDir("vacuum_store"))
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u1", 3.0),
      rec("2025-04-25 10:00:00", "r3", "u2", 5.0)))
    val d25 = new java.io.File(
      s"${store.rawPath}/year=2025/month=4/day=25")
    val before = d25.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(store.vacuumBefore(spark, 2025, 4, 25) == 2L)
    val left = store.raw(spark).select("resource_id")
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("r3"))
    assert(d25.listFiles().map(f => f.getName -> f.lastModified).toMap
      == before, "surviving partition must be byte-untouched")
    // idempotent: nothing older remains
    assert(store.vacuumBefore(spark, 2025, 4, 25) == 0L)
  }

  test("applyChanges: replace, delete, emptied partition removed, rest untouched") {
    import org.apache.spark.sql.functions._
    val store = BillingStore(tmpDir("cdc_store"))
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-23 11:00:00", "r2", "u1", 3.0),
      rec("2025-04-24 10:00:00", "r3", "u2", 5.0),
      rec("2025-04-25 10:00:00", "r4", "u2", 7.0)))
    val d25 = new java.io.File(
      s"${store.rawPath}/year=2025/month=4/day=25")
    val before = d25.listFiles().map(f => f.getName -> f.lastModified).toMap
    // replace r1 (new usage), delete r2, wipe day 24 (its only row)
    val changes = df(rec("2025-04-23 10:00:00", "r1", "u1", 99.0))
      .withColumn("op", lit("upsert"))
      .unionByName(df(
        rec("2025-04-23 11:00:00", "r2", "u1", 3.0),
        rec("2025-04-24 10:00:00", "r3", "u2", 5.0))
        .withColumn("op", lit("delete")))
    assert(store.applyChanges(spark, changes) == ((1L, 2L)))
    val got = store.raw(spark)
      .select("resource_id", "credit_usage").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("r1" -> 99.0, "r4" -> 7.0))
    // retired files survive the default retention window for pinned
    // readers; once GC runs past it, the emptied day-24 partition
    // directory is gone entirely
    store.gcRaw(spark, retain = 1)
    assert(!new java.io.File(
      s"${store.rawPath}/year=2025/month=4/day=24").exists())
    // day 25 was not named by the batch: byte-untouched
    assert(d25.listFiles().map(f => f.getName -> f.lastModified).toMap
      == before)
  }

  test("time travel: rawAt reads a prior snapshot across append and " +
      "compaction") {
    val store = BillingStore(tmpDir("tt_store"), retainVersions = 4)
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0)).repartition(2))
    val v1 = store.rawVersions(spark).last
    store.appendDedup(spark, df(
      rec("2025-04-23 11:00:00", "r2", "u1", 3.0)).repartition(2))
    val v2 = store.rawVersions(spark).last
    store.compactRaw(spark)
    // HEAD sees both rows through the compacted layout...
    assert(store.raw(spark).count() == 2L)
    // ...while the pinned snapshots still read their original files
    assert(store.rawAt(spark, v1).select("resource_id")
      .collect().map(_.getString(0)).toSeq == Seq("r1"))
    assert(store.rawAt(spark, v2).count() == 2L)
    // a version outside the retention window is a clear error
    intercept[java.util.NoSuchElementException] {
      store.rawAt(spark, 999L)
    }
  }

  test("gc: every listed raw version is readable, a pruned one throws") {
    val store = BillingStore(tmpDir("gc_window"))
    (1 to 3).foreach { i =>
      store.appendDedup(spark,
        df(rec(f"2025-04-23 1$i:00:00", s"r$i", "u1", i.toDouble)))
      store.compactRaw(spark)
    }
    val listed = store.rawVersions(spark)
    listed.foreach(v => assert(store.rawAt(spark, v).count() > 0L))
    assert(listed.size <= store.retainVersions, s"listed $listed")
    assert(store.raw(spark).count() == 3L)
    (1L until listed.head).foreach { v =>
      intercept[java.util.NoSuchElementException](store.rawAt(spark, v))
    }
  }

  test("appends alone keep only retainVersions manifests and sidecars") {
    val store = BillingStore(tmpDir("append_window"))
    (1 to 20).foreach { i =>
      store.appendDedup(spark,
        df(rec(f"2025-04-23 10:$i%02d:00", s"r$i", "u1", i.toDouble)))
    }
    val listed = store.rawVersions(spark)
    assert(listed.size == store.retainVersions, s"listed $listed")
    val mdir = new java.io.File(s"${store.root}/raw_billing/_raw_manifest")
    val sidecars = mdir.list().count(_.endsWith(".stats"))
    assert(sidecars == store.retainVersions, s"sidecars ${mdir.list().toSeq}")
    // every listed version reads, holding one row per append up to it
    listed.zipWithIndex.foreach { case (v, i) =>
      assert(store.rawAt(spark, v).count() == 20L - listed.size + 1 + i)
    }
  }

  test("an emptied store reads empty rollups, live and pinned") {
    val store = BillingStore(tmpDir("emptied"))
    store.appendDedup(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u2", 3.0)))
    store.rebuildAggregates(spark)
    assert(store.vacuumBefore(spark, 2026, 1, 1) == 2L)
    store.rebuildAggregates(spark)
    assert(store.raw(spark).count() == 0L)
    val snap = store.snapshot(spark)
    assert(snap.raw(spark).count() == 0L)
    Seq("daily", "user", "service", "region").foreach { n =>
      assert(store.agg(spark, n).count() == 0L, s"live $n")
      assert(snap.agg(spark, n).count() == 0L, s"pinned $n")
    }
  }

  test("each table reads empty with the schema it reads full") {
    val full = BillingStore(tmpDir("schema_full"))
    full.appendIncremental(spark, df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u2", 3.0)))
    full.rebuildAggregates(spark)
    full.upsertLedger(spark, spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("a.csv", "h",
        Timestamp.valueOf("2025-04-26 00:00:00"), 2L)),
      Schemas.processedFiles))
    val empty = BillingStore(tmpDir("schema_empty"))
    assert(empty.tables.map(_.key) == full.tables.map(_.key))
    assert(full.tables.size == 7)
    full.tables.zip(empty.tables).foreach { case (f, e) =>
      val want = f.read(spark)
      assert(want.count() > 0L, f.key)
      // no manifest and no directory yet
      assert(e.read(spark).schema == want.schema, e.key)
      // a committed manifest that lists no file, live and pinned
      e.publish(spark, Set.empty, "test")
      val v = e.versions(spark).last
      Seq(e.read(spark), e.read(spark, Some(v))).foreach { got =>
        assert(got.schema == want.schema, e.key)
        assert(got.count() == 0L, e.key)
      }
    }
  }

  test("every mutator tags its commits with its op") {
    val store = BillingStore(tmpDir("op_tags"))
    val fs = new org.apache.hadoop.fs.Path(store.root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def op(table: String): String =
      RawManifest.opAt(fs, table, RawManifest.versions(fs, table).last)
    val b1 = df(
      rec("2025-04-23 10:00:00", "r1", "u1", 2.0),
      rec("2025-04-24 10:00:00", "r2", "u2", 3.0)).repartition(2)
    store.appendDedup(spark, b1)
    assert(op(store.rawPath) == "append")
    store.appendIncremental(spark,
      df(rec("2025-04-23 11:00:00", "r3", "u1", 1.0)))
    assert(op(store.rawPath) == "append")
    assert(op(store.dailyPartialsPath) == "fold")
    store.mergeIntoDailyPartials(spark,
      df(rec("2025-04-25 11:00:00", "r9", "u1", 1.0)))
    assert(op(store.dailyPartialsPath) == "fold")
    store.rebuildAggregates(spark)
    Seq("daily", "user", "service", "region").foreach(n =>
      assert(op(store.aggPath(n)) == "rebuild", n))
    store.refreshDailyForDays(spark, b1)
    assert(op(store.aggPath("daily")) == "refresh")
    store.upsertLedger(spark, spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("a.csv", "h",
        Timestamp.valueOf("2025-04-26 00:00:00"), 2L)),
      Schemas.processedFiles))
    assert(op(store.ledgerPath) == "upsert")
    store.compactRaw(spark)
    assert(op(store.rawPath) == "compact")
    store.applyChanges(spark, df(rec("2025-04-24 10:00:00", "r2", "u2", 9.0))
      .withColumn("op", org.apache.spark.sql.functions.lit("upsert")))
    assert(op(store.rawPath) == "merge")
    store.vacuumBefore(spark, 2025, 4, 24)
    assert(op(store.rawPath) == "vacuum")
  }

  test("schema drift report: added, missing, retyped columns") {
    val dir = tmpDir("drift")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "drifted.csv"),
      "timestamp,resource_id,user_id,credit_usage,region,service_tier," +
        "operation_type,success,resource_type,invoice_id,currency,year," +
        "month,day,extra_col\n" +
        "2025-04-23 10:00:00,r1,u1,notanumber,us,free,read,true,c,i1,USD," +
        "2025,4,23,boom\n")
    val drift = Ingest.schemaDrift(spark, s"$dir/*.csv")
    assert(drift.isDrifted)
    assert(drift.added == Seq("extra_col"))
    assert(drift.missing.isEmpty)
    assert(drift.retyped.exists(r =>
      r._1 == "credit_usage" && r._2 == "double"))
  }
}
