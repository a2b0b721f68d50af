package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Gate, Tables}
import OracleSql._
import GateOps._
import graft.billing.Aggregates
import graft.ext.IvfIndex
import graft.operators.{RangeJoin, SkewJoin}

/** Scale-technique gates: the ad-hoc SQL surface (reference entry point 3,
  * SURVEY §3.3) including the registered `graft_dot` extension function,
  * skew-salted joins (result must equal the plain join — which is exactly
  * what the oracle checks), and the IVF ANN variant.
  */
object ScaleQueries {

  // §3.3 — spark.sql over registered views (TPC-H Q1 shape).
  private def sqlSurface(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem_v
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  private val sqlSurfaceSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // Custom expression through plain SQL (GraftExtensions registration).
  private def sqlDot(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).createOrReplaceTempView("embeddings_v")
    s.sql(
      """SELECT vec_id,
        |       graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                 CAST(embedding AS ARRAY<DOUBLE>)) AS nrm
        |FROM embeddings_v ORDER BY vec_id""".stripMargin)
  }

  private val sqlDotSql =
    """SELECT vec_id,
      |       list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // Salted join: must produce exactly the plain-join aggregate.
  private def saltedJoin(s: SparkSession, d: String): DataFrame =
    SkewJoin.saltedJoin(
      Tables.lineitem(s, d),
      Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy("o_orderpriority")

  private val saltedJoinSql =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Incremental aggregate maintenance: the facts arrive as two deltas
    * whose day ranges fully overlap (split by user parity), each delta
    * reduces to mergeable per-day partials ([[Aggregates.dailyPartial]]),
    * and [[Aggregates.mergeDaily]] folds them into the rollup WITHOUT
    * rescanning the first delta — the 100 TB replacement for the
    * reference's DELETE+INSERT full recompute. Counts/sums must equal the
    * one-shot recompute exactly (hash-checked); the HLL distinct
    * estimates must land within 5%+1 of exact (booleans the oracle pins
    * true — the merged-sketch path has no exact SQL mirror).
    */
  private def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val data = EventsBilling(s, d)
    val uid = col("user_id").cast("long")
    val merged = Aggregates.mergeDaily(
      Aggregates.dailyPartial(data.filter(uid % 2 === 0)),
      Aggregates.dailyPartial(data.filter(uid % 2 === 1)))
    val exact = Aggregates.daily(data)
      .select(col("year"), col("month"), col("day"),
        col("unique_users"), col("unique_resources"))
    def close(est: Column, ex: Column) = abs(est - ex) <= ex * 0.05 + 1
    merged.join(exact, Seq("year", "month", "day"))
      .select(col("year"), col("month"), col("day"),
        col("transaction_count"),
        round(col("total_credit_usage"), 2).as("total_credit_usage"),
        (round(col("total_credit_usage"), 2) / col("transaction_count"))
          .as("avg_credit_usage"),
        col("successful_operations"), col("failed_operations"),
        close(col("approx_users"), col("unique_users")).as("users_ok"),
        close(col("approx_resources"), col("unique_resources"))
          .as("resources_ok"))
      .orderBy("year", "month", "day")
  }

  private val incrementalAggSql =
    s"""${EventsBilling.cte}
       |SELECT year, month, day,
       |       count(*) AS transaction_count,
       |       round(sum(credit_usage), 2) AS total_credit_usage,
       |       round(sum(credit_usage), 2) / count(*) AS avg_credit_usage,
       |       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
       |         AS successful_operations,
       |       CAST(sum(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT)
       |         AS failed_operations,
       |       true AS users_ok, true AS resources_ok
       |FROM billing GROUP BY year, month, day
       |ORDER BY year, month, day""".stripMargin

  /** Incremental maintenance of the USER rollup — the same mergeable-
    * partial algebra as q_incremental_agg applied to a different spec:
    * min/max activity span merges exactly, the four distinct counts ride
    * as HLL sketches. Deltas split by event parity (each user spans both
    * deltas, so every group genuinely merges).
    */
  private def incrementalUser(s: SparkSession, d: String): DataFrame = {
    val data = EventsBilling(s, d)
    val spec = Aggregates.userSpec
    val merged = Aggregates.finalizePartials(spec)(
      Aggregates.mergePartials(spec)(
        Aggregates.partial(data.filter(col("success")), spec),
        Aggregates.partial(data.filter(!col("success")), spec)))
    val exact = Aggregates.user(data).select(col("user_id"),
      col("resources_used").as("e_res"),
      col("resource_types_used").as("e_rt"),
      col("operation_types").as("e_op"),
      col("regions_used").as("e_reg"))
    def ok(a: Column, e: Column) = abs(a - e) <= greatest(lit(2.0), e * 0.1)
    merged.join(exact, "user_id")
      .select(col("user_id"), col("transaction_count"),
        round(col("total_credit_usage"), 2).as("total_credit_usage"),
        (round(col("total_credit_usage"), 2) / col("transaction_count"))
          .as("avg_credit_usage"),
        unix_millis(col("first_activity")).as("first_activity_ms"),
        unix_millis(col("last_activity")).as("last_activity_ms"),
        ok(col("resources_used"), col("e_res")).as("res_ok"),
        ok(col("resource_types_used"), col("e_rt")).as("rt_ok"),
        ok(col("operation_types"), col("e_op")).as("op_ok"),
        ok(col("regions_used"), col("e_reg")).as("reg_ok"))
      .orderBy("user_id")
  }

  private val incrementalUserSql =
    s"""${EventsBilling.cte}
       |SELECT user_id, count(*) AS transaction_count,
       |       round(sum(credit_usage), 2) AS total_credit_usage,
       |       round(sum(credit_usage), 2) / count(*) AS avg_credit_usage,
       |       epoch_ms(min("timestamp")) AS first_activity_ms,
       |       epoch_ms(max("timestamp")) AS last_activity_ms,
       |       true AS res_ok, true AS rt_ok, true AS op_ok, true AS reg_ok
       |FROM billing GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Incremental maintenance of the SERVICE rollup (success splits merge
    * exactly; user distincts as sketches), deltas split by user parity.
    */
  private def incrementalService(s: SparkSession, d: String): DataFrame = {
    val data = EventsBilling(s, d)
    val spec = Aggregates.serviceSpec
    val uid = col("user_id").cast("long")
    val merged = Aggregates.finalizePartials(spec)(
      Aggregates.mergePartials(spec)(
        Aggregates.partial(data.filter(uid % 2 === 0), spec),
        Aggregates.partial(data.filter(uid % 2 === 1), spec)))
    val exact = Aggregates.service(data).select(
      col("service_tier"), col("resource_type"), col("operation_type"),
      col("unique_users").as("e_users"))
    def ok(a: Column, e: Column) = abs(a - e) <= greatest(lit(2.0), e * 0.1)
    merged.join(exact,
        Seq("service_tier", "resource_type", "operation_type"))
      .select(col("service_tier"), col("resource_type"),
        col("operation_type"), col("operation_count"),
        round(col("total_credit_usage"), 2).as("total_credit_usage"),
        (round(col("total_credit_usage"), 2) / col("operation_count"))
          .as("avg_credit_usage"),
        col("successful_operations"), col("failed_operations"),
        ok(col("unique_users"), col("e_users")).as("users_ok"))
      .orderBy("service_tier", "resource_type", "operation_type")
  }

  private val incrementalServiceSql =
    s"""${EventsBilling.cte}
       |SELECT service_tier, resource_type, operation_type,
       |       count(*) AS operation_count,
       |       round(sum(credit_usage), 2) AS total_credit_usage,
       |       round(sum(credit_usage), 2) / count(*) AS avg_credit_usage,
       |       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
       |         AS successful_operations,
       |       CAST(sum(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT)
       |         AS failed_operations,
       |       true AS users_ok
       |FROM billing GROUP BY service_tier, resource_type, operation_type
       |ORDER BY service_tier, resource_type, operation_type""".stripMargin

  /** The fully incremental streaming lifecycle: two CSV deliveries whose
    * rows overlap (day ≤ 15, then the full month) drain through ONE
    * checkpointed stream at one-file-per-micro-batch; each batch
    * dedup-appends and folds its per-day partials into the stored
    * partials table — at no point is history rescanned or a rollup
    * rebuilt from scratch. The served rollup
    * ([[graft.billing.BillingStore.dailyFromPartials]]) must equal the
    * one-shot batch rollup over the distinct rows (exact measures
    * hash-checked; merged-HLL distincts within 5%+1, pinned true by the
    * oracle).
    */
  private def streamIncremental(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      val in = graft.Gate.tmpDir("gate_sinc_in_")
      val storeRoot = graft.Gate.tmpDir("gate_sinc_store_")
      val ckpt = graft.Gate.tmpDir("gate_sinc_ck_")
      val data = EventsBilling(s, d)
        .filter(col("user_id").cast("long") % 13 === 0)
      val store = graft.billing.BillingStore(s"$storeRoot/store")
      data.filter(col("day") <= 15).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(in)
      data.coalesce(1)
        .write.mode("append").option("header", "true").csv(in)
      graft.streaming.StreamingIngest.startIncremental(s, in, store, ckpt)
        .awaitTermination()
      val exact = graft.billing.Aggregates.daily(data)
        .select(col("year"), col("month"), col("day"),
          col("unique_users"), col("unique_resources"))
      def close(est: Column, ex: Column) = abs(est - ex) <= ex * 0.05 + 1
      store.dailyFromPartials(s)
        .join(exact, Seq("year", "month", "day"))
        .select(col("year"), col("month"), col("day"),
          col("transaction_count"),
          round(col("total_credit_usage"), 2).as("total_credit_usage"),
          (round(col("total_credit_usage"), 2) / col("transaction_count"))
            .as("avg_credit_usage"),
          col("successful_operations"), col("failed_operations"),
          close(col("approx_users"), col("unique_users")).as("users_ok"),
          close(col("approx_resources"), col("unique_resources"))
            .as("resources_ok"))
        .orderBy("year", "month", "day")
    }

  private val streamIncrementalSql =
    s"""${EventsBilling.cte},
       |f AS (SELECT * FROM billing WHERE CAST(user_id AS BIGINT) % 13 = 0)
       |SELECT year, month, day,
       |       count(*) AS transaction_count,
       |       round(sum(credit_usage), 2) AS total_credit_usage,
       |       round(sum(credit_usage), 2) / count(*) AS avg_credit_usage,
       |       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
       |         AS successful_operations,
       |       CAST(sum(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT)
       |         AS failed_operations,
       |       true AS users_ok, true AS resources_ok
       |FROM f GROUP BY year, month, day
       |ORDER BY year, month, day""".stripMargin

  /** Two-phase salted aggregation over a 3-value (maximally hot) grouping
    * key: partial agg on (key, salt) spreads each hot key over 16
    * reducers, final agg merges the 48 salted partials — the hot-key
    * aggregation shape for when map-side combine is defeated. The oracle
    * is the plain GROUP BY: salting must not change the result.
    */
  private def skewAgg(s: SparkSession, d: String): DataFrame =
    SkewJoin.saltedCountSum(Tables.lineitem(s, d), Seq("l_returnflag"),
      "l_quantity", salts = 16)
      .select(col("l_returnflag"), col("n"),
        round(col("total"), 2).as("total_qty"))
      .orderBy("l_returnflag")

  private val skewAggSql =
    """SELECT l_returnflag, count(*) AS n,
      |       round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin

  /** Binned range join (point-in-interval): lineitems shipped inside a
    * 7-day window after each sampled order's date. The naive spelling is
    * a non-equi join (broadcast nested loop); [[RangeJoin.pointInterval]]
    * turns it into an equi-join on a bin id — see the operator scaladoc
    * for the 100 TB shape.
    */
  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01")
    val li = Tables.lineitem(s, d)
      .select(datediff(col("l_shipdate"), epoch).cast("long").as("pday"))
    val win = Tables.orders(s, d).filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("win_id"),
        datediff(col("o_orderdate"), epoch).cast("long").as("sday"))
      .withColumn("eday", col("sday") + 6)
    RangeJoin.pointInterval(li, "pday", win, "sday", "eday", binWidth = 7)
      .groupBy("win_id").agg(count(lit(1)).as("n_shipped"))
      .orderBy("win_id")
  }

  /** The SAME query as q_range_join written the naive way — a plain
    * `BETWEEN` join — with [[graft.plans.AutoRangeJoinRule]] switched on:
    * the optimizer itself performs the binned-equi-join rewrite (see
    * AutoRangeJoinSpec for the no-nested-loop plan assertion; the shared
    * oracle checks the rewrite preserved semantics). The conf stays set
    * for the session: the rule matches nothing but two-conjunct integral
    * BETWEEN joins, which no other gate plans.
    */
  private def autoRangeJoin(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.graft.autoRangeJoin.binWidth", "7")
    val epoch = lit("1970-01-01")
    val li = Tables.lineitem(s, d)
      .select(datediff(col("l_shipdate"), epoch).cast("long").as("pday"))
    val win = Tables.orders(s, d).filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("win_id"),
        datediff(col("o_orderdate"), epoch).cast("long").as("sday"))
      .withColumn("eday", col("sday") + 6)
    li.join(win, col("pday") >= col("sday") && col("pday") <= col("eday"))
      .groupBy("win_id").agg(count(lit(1)).as("n_shipped"))
      .orderBy("win_id")
  }

  private val rangeJoinSql =
    """SELECT o_orderkey AS win_id, count(*) AS n_shipped
      |FROM orders JOIN lineitem
      |  ON l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 6 DAY
      |WHERE o_orderkey % 1000 = 0
      |GROUP BY win_id ORDER BY win_id""".stripMargin

  /** Interval-overlap join ([[RangeJoin.intervalOverlap]]): two sampled
    * sets of order windows (10-day and 7-day), all overlapping pairs.
    * The naive spelling is a nested-loop cross filter; binning makes it
    * an equi-join on bin id with arithmetic pair dedup.
    */
  private def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01")
    def wins(mod: Int, days: Int, idCol: String, sCol: String, eCol: String) =
      Tables.orders(s, d).filter(col("o_orderkey") % mod === 0)
        .select(col("o_orderkey").as(idCol),
          datediff(col("o_orderdate"), epoch).cast("long").as(sCol))
        .withColumn(eCol, col(sCol) + days - 1)
    val a = wins(200, 10, "a_id", "a_s", "a_e")
    val b = wins(300, 7, "b_id", "b_s", "b_e")
    RangeJoin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e", binWidth = 8)
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s")) + 1).as("overlap_days"))
      .orderBy("a_id", "b_id")
  }

  private val intervalJoinSql =
    """WITH a AS (SELECT o_orderkey AS a_id,
      |                  date_diff('day', DATE '1970-01-01', o_orderdate)
      |                    AS a_s
      |           FROM orders WHERE o_orderkey % 200 = 0),
      |     b AS (SELECT o_orderkey AS b_id,
      |                  date_diff('day', DATE '1970-01-01', o_orderdate)
      |                    AS b_s
      |           FROM orders WHERE o_orderkey % 300 = 0)
      |SELECT a_id, b_id,
      |       least(a_s + 9, b_s + 6) - greatest(a_s, b_s) + 1
      |         AS overlap_days
      |FROM a JOIN b
      |  ON a_s <= b_s + 6 AND b_s <= a_s + 9
      |ORDER BY a_id, b_id""".stripMargin

  /** Bucketed co-located join: both sides written bucketed+sorted on the
    * join key, so the sort-merge join reads co-located buckets with NO
    * exchange on either side (the `.explain` shows no Exchange below the
    * join) — the storage-layout answer to repeated big-to-big joins at
    * 100 TB. The oracle checks the result equals the plain join.
    */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    // leave broadcast out of the picture so the bucket metadata, not the
    // small-table fast path, is what the gate exercises; the even-key
    // half keeps the (fixed-cost) bucketed-table writes cheap — the
    // zero-Exchange plan shape is row-count-invariant
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      .filter(col("l_orderkey") % 2 === 0)
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 0)
    li.write.mode("overwrite").format("parquet")
      .option("path", graft.Gate.tmpDir("gate_bkt_li_"))
      .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("gate_bkt_lineitem")
    ord.write.mode("overwrite").format("parquet")
      .option("path", graft.Gate.tmpDir("gate_bkt_ord_"))
      .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("gate_bkt_orders")
    s.table("gate_bkt_lineitem")
      .join(s.table("gate_bkt_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy("o_orderpriority")
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_orderkey % 2 = 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Runtime bloom-filter join pruning: a selective filter on the
    * creation (dim) side is turned by `InjectRuntimeFilter` into a
    * `might_contain` predicate evaluated at the application (fact) side
    * SCAN — fact rows that cannot join are dropped before the shuffle,
    * which at 100 TB is the difference between shuffling the whole fact
    * table and shuffling the ~0.3% that survives. Broadcast is disabled
    * in-scope because a broadcast-able dim already prunes via the hash
    * table — the bloom path exists precisely for dims too big to
    * broadcast; thresholds are lowered in-scope because the injection
    * heuristics are sized for TB-scale scans, not sf0.1 (the plan shape
    * under these confs is pinned in PlanShapeSpec). Results are
    * injection-invariant — the oracle checks the plain join.
    */
  private[graft] val runtimeFilterConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private[graft] def runtimeFilterJoinFrame(s: SparkSession,
      d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate").between("1996-01-01", "1996-01-31"))
      .select(col("o_orderkey"), col("o_orderdate"))
    Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderdate")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderdate")
  }

  private def runtimeFilterJoin(s: SparkSession, d: String): DataFrame =
    graft.Gate.withConfs(s, runtimeFilterConfs: _*) {
      // eager localCheckpoint: planning is lazy, so without materializing
      // INSIDE the conf scope the injection confs would be restored
      // before the caller ever planned the frame and the bloom path
      // would silently not run
      runtimeFilterJoinFrame(s, d).localCheckpoint(true)
    }

  private val runtimeFilterJoinSql =
    """SELECT o_orderdate, count(*) AS n_items,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-01-31'
      |GROUP BY o_orderdate ORDER BY o_orderdate""".stripMargin

  /** Z-order layout gate ([[graft.operators.ZOrder]]): lineitem rewritten
    * into 16 files clustered along the Morton curve of (l_orderkey,
    * ship-day), then a 2-dim selective read. The aggregate is
    * layout-invariant (the oracle checks it against the plain table);
    * `pruned_ok` pins the point of the exercise — the per-file min/max
    * index must let a 2-dim box predicate skip most files, which a
    * single-column sort can only do for its own column.
    */
  private def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val out = graft.Gate.tmpDir("gate_zorder_")
    val epoch = lit("1992-01-01")
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey").cast("long").as("l_orderkey"), col("l_quantity"),
      datediff(col("l_shipdate"), epoch).cast("long").as("dayno"))
    graft.operators.ZOrder.cluster(li, col("l_orderkey"), col("dayno"),
      nFiles = 16)
      .write.mode("overwrite").parquet(out)
    val back = s.read.parquet(out)
    // one pass computes the per-file min/max index (16 rows — collected);
    // domain maxes and the overlap count derive from it locally instead
    // of two more full scans. The box is DOMAIN-RELATIVE (a ~15% slice of
    // each dimension) so the same selectivity — and so the same pruning
    // claim — holds at every scale factor; integer division keeps the
    // bounds exactly mirrorable in the oracle (DuckDB's // operator).
    val spans = back
      .select(input_file_name().as("f"), col("l_orderkey"), col("dayno"))
      .groupBy("f")
      .agg(min("l_orderkey").as("kmin"), max("l_orderkey").as("kmax"),
        min("dayno").as("dmin"), max("dayno").as("dmax"))
      .collect()
    val mk = spans.map(_.getAs[Long]("kmax")).max
    val md = spans.map(_.getAs[Long]("dmax")).max
    val (kLo, kHi, dLo, dHi) = (mk / 10, mk / 4, md * 45 / 100, md * 60 / 100)
    val total = spans.length.toLong
    val overlapping = spans.count(r =>
      r.getAs[Long]("kmin") <= kHi && r.getAs[Long]("kmax") >= kLo &&
        r.getAs[Long]("dmin") <= dHi && r.getAs[Long]("dmax") >= dLo).toLong
    back
      .filter(col("l_orderkey").between(kLo, kHi) &&
        col("dayno").between(dLo, dHi))
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .withColumn("pruned_ok", lit(total == 16 && overlapping * 2 <= total))
  }

  private val zorderLayoutSql =
    """WITH m AS (
      |  SELECT max(l_orderkey) AS mk,
      |         max(datediff('day', DATE '1992-01-01', l_shipdate)) AS md
      |  FROM lineitem)
      |SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
      |       true AS pruned_ok
      |FROM lineitem, m
      |WHERE l_orderkey BETWEEN mk // 10 AND mk // 4
      |  AND datediff('day', DATE '1992-01-01', l_shipdate)
      |      BETWEEN md * 45 // 100 AND md * 60 // 100""".stripMargin

  /** IVF ANN accuracy gate: recall@5 vs brute force per query, reduced to
    * a boolean the (seeded, deterministic) KMeans quantizer comfortably
    * clears — measured ≥ 4/5 hits per query at nProbe=10, gated at ≥ 3.
    * The index is data-trained, so unlike the LSH gate no closed-form SQL
    * mirror exists; accuracy-vs-brute-force is the checkable contract.
    */
  private def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    val ann = IvfIndex.search(model, col("vec_id") < 10, k = 5, nProbe = 10)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 3)
  }

  private val ivfTopKSql =
    """SELECT vec_id AS query_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** Brute-force cosine top-5 (queries ⊂ corpus, self excluded, raw-cos
    * ranking, 6-decimal output) — the shared oracle for the
    * trained-family EXACT twins below: with exhaustive probing /
    * corpus-wide shortlists each trained index's answer collapses to
    * exactly this, so quantizer nondeterminism (k-means float-sum
    * order) never reaches the result and the SEARCH ALGEBRA itself is
    * value-checked (the q_ivf_federate trick promoted to the base topk
    * gates; the nProbe/shortlist-bounded recall floors keep owning
    * pruning quality).
    */
  private val bruteTopK5Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  /** [[graft.ext.IvfIndex.search]] with EXHAUSTIVE probes — cells
    * partition the corpus, so probing all of them scores every row
    * exactly once and the answer ≡ brute force regardless of what the
    * k-means trainer did. Value-checks cell assignment, probe union,
    * exact scoring, and ranking end to end (q_ivf_rebalance pins the
    * same equality as a rows-only recall; this gate hash-checks the
    * values).
    */
  private def ivfTopKExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    IvfIndex.search(model, col("vec_id") < 10, k = 5,
        nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  /** [[graft.ext.PqIndex.search]] with a CORPUS-WIDE shortlist: the
    * trained ADC stage keeps everything, so the exact-cosine re-rank
    * is brute force and the codebooks can't affect the result — the
    * two-stage search algebra value-checked.
    */
  private def pqTopKExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.PqIndex.build(embs, m = 8, k = 32,
      sampleFraction = 0.5)
    graft.ext.PqIndex.search(model, col("vec_id") < 10, k = 5,
        shortlist = embs.count().toInt)
      .orderBy("query_id", "rank")
  }

  /** [[graft.ext.SqIndex.search]] with a corpus-wide shortlist — same
    * exact-twin posture as [[pqTopKExact]] for the scalar quantizer.
    */
  private def sqTopKExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.SqIndex.build(embs)
    graft.ext.SqIndex.search(model, col("vec_id") < 10, k = 5,
        shortlist = embs.count().toInt)
      .orderBy("query_id", "rank")
  }

  /** [[graft.ext.PqIndex.retrain]] — the quantizer-refresh drift
    * migration under the driver gate: codebooks train at build over
    * 2/3 of the corpus, the rest lands under the FROZEN codebooks
    * (`saveAppend`), a %7 takedown retracts, then `retrain` re-fits
    * over the live corpus as one committed maintenance pass. Three
    * contracts in one window: (1) the search rows are EXACT — a
    * corpus-wide shortlist makes the exact re-rank brute force
    * regardless of codebooks (the q_pq_topk_exact trick), so the
    * values hash-check against DuckDB over the surviving corpus;
    * (2) `retrain_ok` — the retrained SAVED index answers
    * row-identically to a from-scratch build over the live corpus
    * (byte-equal codebooks by the deterministic-sample discipline);
    * (3) `rollback_ok` — the pre-retrain version still answers via
    * `loadAt` (atomic swap, old version retained = the rollback
    * path).
    */
  /** The drifted pre-retrain index q_pq_retrain refreshes (build over
    * 2/3 → frozen-codebook append → %7 takedown) PLUS the from-scratch
    * truth rows its `retrain_ok` check compares against — built ONCE
    * per JVM ([[graft.Gate.memoDir]]; the lifecycle ops are priced by
    * q_pq_persist, and the truth build is oracle work, the
    * [[MaintainQueries.sharedRewireSeed]] truth-table discipline). The
    * retrain MUTATES the index, so the gate takes a copy; the timed
    * window prices RETRAIN + the value checks.
    */
  private[graft] def sharedPqRetrainFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"pqrt_fix:$d", "gate_pqrt_fix_") { dir =>
      val embs = Tables.embeddings(s, d)
      val base = embs.filter(col("vec_id") % 3 =!= 0)
      val model = graft.ext.PqIndex.build(base, m = 8, k = 32,
        sampleFraction = 1.0)
      graft.ext.PqIndex.save(model, s"$dir/idx")
      graft.ext.PqIndex.saveAppend(model,
        embs.filter(col("vec_id") % 3 === 0), s"$dir/idx")
      graft.ext.PqIndex.delete(s, s"$dir/idx",
        embs.filter(col("vec_id") % 7 === 2).select("vec_id"),
        col("vec_id"))
      val live = embs.filter(col("vec_id") % 7 =!= 2)
      val fresh = graft.ext.PqIndex.build(live, m = 8, k = 32,
        sampleFraction = 1.0)
      graft.ext.PqIndex.search(fresh, col("vec_id") < 10, k = 5,
          shortlist = live.count().toInt)
        .write.parquet(s"$dir/truth")
    }

  private def pqRetrain(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val fix = sharedPqRetrainFixture(s, d)
    val path = graft.Gate.copyDir(s"$fix/idx", "gate_pqrt_")
    val preV = graft.ext.IndexStore.snapshot(s, path).version
    graft.ext.PqIndex.retrain(s, path, embs, m = 8, k = 32,
      sampleFraction = 1.0)
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    val n = live.count().toInt
    val got = graft.ext.PqIndex.search(
      graft.ext.PqIndex.load(s, path, embs), col("vec_id") < 10, k = 5,
      shortlist = n)
    val mem = s.read.parquet(s"$fix/truth")
    val same = got.exceptAll(mem).isEmpty && mem.exceptAll(got).isEmpty
    val rollback = graft.ext.PqIndex.loadAt(s, path, preV, embs)
      .encoded.count() > 0
    got.withColumn("retrain_ok", lit(same))
      .withColumn("rollback_ok", lit(rollback))
      .orderBy("query_id", "rank")
  }

  /** [[graft.ext.SqIndex.retrain]] — the affine codec's refresh under
    * the same three contracts as [[pqRetrain]] (exact rows via
    * corpus-wide shortlist; retrained-saved ≡ from-scratch — for SQ
    * automatic, the range fit is an order-free aggregate; rollback via
    * `loadAt`). Frozen ranges CLIP drifting appends (saturation at
    * 0/255); the refresh restores bounded quantization error in one
    * aggregate + one distributed encode.
    */
  /** q_sq_retrain's pre-retrain index + from-scratch truth rows, built
    * ONCE per JVM — the [[sharedPqRetrainFixture]] discipline for the
    * affine codec.
    */
  private[graft] def sharedSqRetrainFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"sqrt_fix:$d", "gate_sqrt_fix_") { dir =>
      val embs = Tables.embeddings(s, d)
      val base = embs.filter(col("vec_id") % 3 =!= 0)
      val model = graft.ext.SqIndex.build(base)
      graft.ext.SqIndex.save(model, s"$dir/idx")
      graft.ext.SqIndex.saveAppend(model,
        embs.filter(col("vec_id") % 3 === 0), s"$dir/idx")
      graft.ext.SqIndex.delete(s, s"$dir/idx",
        embs.filter(col("vec_id") % 7 === 2).select("vec_id"),
        col("vec_id"))
      val live = embs.filter(col("vec_id") % 7 =!= 2)
      val fresh = graft.ext.SqIndex.build(live)
      graft.ext.SqIndex.search(fresh, col("vec_id") < 10, k = 5,
          shortlist = live.count().toInt)
        .write.parquet(s"$dir/truth")
    }

  private def sqRetrain(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val fix = sharedSqRetrainFixture(s, d)
    val path = graft.Gate.copyDir(s"$fix/idx", "gate_sqrt_")
    val preV = graft.ext.IndexStore.snapshot(s, path).version
    graft.ext.SqIndex.retrain(s, path, embs)
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    val n = live.count().toInt
    val got = graft.ext.SqIndex.search(
      graft.ext.SqIndex.load(s, path, embs), col("vec_id") < 10, k = 5,
      shortlist = n)
    val mem = s.read.parquet(s"$fix/truth")
    val same = got.exceptAll(mem).isEmpty && mem.exceptAll(got).isEmpty
    val rollback = graft.ext.SqIndex.loadAt(s, path, preV, embs)
      .encoded.count() > 0
    got.withColumn("retrain_ok", lit(same))
      .withColumn("rollback_ok", lit(rollback))
      .orderBy("query_id", "rank")
  }

  /** [[graft.ext.IvfPqIndex.retrain]] — the composite index's
    * quantizer refresh: BOTH the coarse cells and the residual
    * codebooks re-fit over the live corpus, every live row re-encodes,
    * atomic "train"-tagged swap with rollback via `loadAt`. The value
    * check is the exhaustive twin (nProbe = ∞, corpus-wide shortlist ≡
    * brute force regardless of quantizers); `retrain_ok` pins the
    * codebook_age gauge resetting to zero, `rollback_ok` the retained
    * pre-refresh version. Unlike [[pqRetrain]], byte-equality with a
    * from-scratch build is NOT claimed (distributed KMeans + residual
    * sample are seeded but not row-order-canonicalized — documented).
    */
  /** q_ivfpq_retrain's drifted pre-retrain composite index, built ONCE
    * per JVM — the [[sharedPqRetrainFixture]] discipline (no truth
    * table here: the composite's `retrain_ok` is the codebook_age
    * gauge, not a from-scratch equality).
    */
  private[graft] def sharedIvfPqRetrainFixture(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"ipqrt_fix:$d", "gate_ipqrt_fix_") { dir =>
      val embs = Tables.embeddings(s, d)
      val base = embs.filter(col("vec_id") % 3 =!= 0)
      val model = graft.ext.IvfPqIndex.build(base, kCells = 8, m = 8,
        k = 32, sampleFraction = 0.5)
      graft.ext.IvfPqIndex.save(model, s"$dir/idx")
      graft.ext.IvfPqIndex.saveAppend(model,
        embs.filter(col("vec_id") % 3 === 0), s"$dir/idx")
      graft.ext.IvfPqIndex.delete(s, s"$dir/idx",
        embs.filter(col("vec_id") % 7 === 2).select("vec_id"),
        col("vec_id"))
    }

  private def ivfPqRetrain(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val fix = sharedIvfPqRetrainFixture(s, d)
    val path = graft.Gate.copyDir(s"$fix/idx", "gate_ipqrt_")
    val preV = graft.ext.IndexStore.snapshot(s, path).version
    graft.ext.IvfPqIndex.retrain(s, path, embs, kCells = 8, m = 8,
      k = 32, sampleFraction = 0.5)
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    val n = live.count().toInt
    val got = graft.ext.IvfPqIndex.search(
      graft.ext.IvfPqIndex.load(s, path, embs), col("vec_id") < 10,
      k = 5, nProbe = Int.MaxValue, shortlist = n)
    val ageOk = graft.ext.IvfPqIndex.stats(s, path)
      .filter(col("metric") === "codebook_age")
      .select("value").head().getLong(0) == 0L
    val rollback = graft.ext.IvfPqIndex.loadAt(s, path, preV, embs)
      .encoded.count() > 0
    got.withColumn("retrain_ok", lit(ageOk))
      .withColumn("rollback_ok", lit(rollback))
      .orderBy("query_id", "rank")
  }

  private val retrainSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 2),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |      WHERE vec_id % 7 <> 2),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank, true AS retrain_ok,
       |       true AS rollback_ok
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The IVF-blocked kNN GRAPH with exhaustive probes: every row
    * queries every cell, so the blocked build ≡ the exact graph
    * row-for-row — the q_knn_graph_blocked recall floor's exact twin
    * (the floor keeps owning bounded-probe quality; this proves the
    * blocked construction loses nothing but the pruning).
    */
  private def knnGraphBlockedExact(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    IvfIndex.search(model, lit(true), k = 3, nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  private val knnGraphBlockedExactSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$allPairsCos,
       |$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** IVF cell rebalance ([[graft.ext.IvfIndex.rebalance]]): split every
    * cell above n/24 vectors, then search with EXHAUSTIVE probing —
    * which must equal brute force exactly (minHits = k), because a
    * rebalance is a re-partition of the corpus into cells and exhaustive
    * probing is partition-invariant. Any lost, duplicated, or
    * mis-assigned vector breaks the equality, so the contract checks
    * the maintenance op end to end; bounded-probe quality after a split
    * is pinned in IvfIndexSpec.
    */
  private def ivfRebalance(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val n = embs.count()
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    val reb = IvfIndex.rebalance(model, maxCellSize = math.max(1L, n / 24))
    val ann = IvfIndex.search(reb, col("vec_id") < 10, k = 5,
      nProbe = Int.MaxValue)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 5)
  }

  /** Product-quantization ANN accuracy gate ([[graft.ext.PqIndex]]):
    * recall@5 vs brute force per query, after an exhaustive
    * compressed-domain ADC scan (m=8 subspaces × 32 centroids over
    * unit-normalized vectors; 40-bit codes) and exact-cosine re-rank of
    * a 40k-candidate shortlist. The synthetic embeddings are near-random
    * — true top-5 sit barely above the bulk — which is the WORST case
    * for quantized search, hence the generous shortlist (measured at
    * sf0.01: m=4/shortlist=4 recalls 1-3 of 5, m=8/shortlist=20 recalls
    * 4-5; the 2000-vector sf0.1 corpus needs shortlist=40 to hold the
    * ≥3 floor).
    * Same checkable-contract shape as q_ivf_topk: the codebooks are
    * data-trained, so accuracy-vs-brute-force is the oracle, pinned at
    * the floor the seeded build comfortably clears.
    */
  private def pqTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.PqIndex.build(embs, m = 8, k = 32,
      sampleFraction = 0.5)
    val ann = graft.ext.PqIndex.search(model, col("vec_id") < 10, k = 5,
      shortlist = 40)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 3)
  }

  private val pqTopKSql =
    """SELECT vec_id AS query_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** Binary (sign-bit) quantization top-k
    * ([[graft.ext.EmbeddingSearch.binaryTopK]]): the 1-bit-per-dim
    * first stage modern vector stores run before exact re-rank —
    * stage 1 scans only the 16-byte (id, code) relation and keeps 200
    * Hamming candidates per query, stage 2 re-reads exactly those
    * vectors by id and re-ranks exactly. Training-free (no codebooks,
    * no sampled k-means), so unlike PQ/SQ the code is reproducible
    * from the data alone. Same recall contract as q_pq_topk.
    */
  private def binaryTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    // near-uniform random vectors are sign-bit Hamming's WORST case
    // (angles concentrate near 90°, so code distances barely separate
    // true neighbors) — the gate widens the candidate stage to 20% of
    // the corpus; clustered real-world embeddings run at 1-5%
    val cand = math.max(200, (embs.count() / 5L).toInt)
    val ann = graft.ext.EmbeddingSearch.binaryTopK(embs,
      col("vec_id") < 10, k = 5, candidates = cand)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 3)
  }

  private val binaryTopKSql =
    """SELECT vec_id AS query_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** ANN index persistence gate ([[graft.ext.PqIndex.save]]/`load`):
    * build → save → load in a FRESH session → search. `persist_ok` pins
    * the contract that matters at 100 TB — the loaded index answers
    * queries row-identical to the in-memory one WITHOUT retraining
    * (load collects only the m×k codebook rows; the corpus-sized codes
    * stay parquet). The recall columns reuse q_pq_topk's
    * accuracy-vs-brute-force contract.
    */
  private def pqPersist(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.PqIndex.build(embs, m = 8, k = 32,
      sampleFraction = 0.5)
    val dir = graft.Gate.tmpDir("gate_pq_persist_")
    graft.ext.PqIndex.save(model, dir)
    val mem = graft.ext.PqIndex.search(model, col("vec_id") < 10, k = 5,
      shortlist = 40)
    // fresh session: new analyzer/catalog state, shared context — proves
    // nothing leaks through cached plans or temp views
    val fresh = s.newSession()
    val loaded = graft.ext.PqIndex.load(fresh, dir,
      Tables.embeddings(fresh, d))
    graft.ext.PqIndex.search(loaded, col("vec_id") < 10, k = 5,
        shortlist = 40)
      .write.mode("overwrite").parquet(s"$dir/ann_loaded")
    val back = s.read.parquet(s"$dir/ann_loaded")
    val same = mem.exceptAll(back).isEmpty && back.exceptAll(mem).isEmpty
    ExtQueries.recallGate(embs, back, k = 5, minHits = 3)
      .withColumn("persist_ok", lit(same))
  }

  private val pqPersistSql =
    """SELECT vec_id AS query_id, true AS recall_ok, true AS persist_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** IVF persistence + INCREMENTAL append gate: build on 90% of the
    * corpus, save, [[graft.ext.IvfIndex.saveAppend]] the remaining 10%
    * (frozen quantizer, delta-only scan), load, search. `appended_ok`
    * pins that the loaded assignment covers the full corpus — i.e. the
    * append wrote exactly the delta and load stitched both; recall is
    * the same brute-force contract as q_ivf_topk (queries include
    * appended vectors: vec_id 0 arrives via the append path).
    */
  private def ivfPersist(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val model = IvfIndex.build(base, k = 16, sampleFraction = 0.25)
    val dir = graft.Gate.tmpDir("gate_ivf_persist_")
    IvfIndex.save(model, dir)
    IvfIndex.saveAppend(model, delta, dir)
    val loaded = IvfIndex.load(s, dir, embs)
    val covered = loaded.assigned.count() == embs.count()
    val ann = IvfIndex.search(loaded, col("vec_id") < 10, k = 5, nProbe = 10)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 3)
      .withColumn("appended_ok", lit(covered))
  }

  private val ivfPersistSql =
    """SELECT vec_id AS query_id, true AS recall_ok, true AS appended_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** Vector retraction ([[graft.ext.IvfIndex.delete]]): every
    * vec_id % 7 == 3 vector is tombstoned from a saved IVF index (one
    * appended tombstone segment — layout untouched), the index is
    * [[graft.ext.IvfIndex.compact]]ed so the tombstones apply
    * physically, and an exhaustive-probe search runs over the result.
    * The oracle is brute force over the SURVIVING corpus — deleted
    * vectors must vanish both as neighbors and as query rows, and
    * their former slots must backfill with the next-nearest survivors.
    * IvfIndexSpec pins the pre-compact (tombstone-masked) path and
    * [[graft.ext.IvfIndex.loadAt]] time travel to the same contract.
    */
  private def ivfDelete(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    val dir = graft.Gate.tmpDir("gate_ivf_del_")
    IvfIndex.save(model, dir)
    IvfIndex.delete(s, dir,
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"), col("vec_id"))
    IvfIndex.compact(s, dir)
    val loaded = IvfIndex.load(s, dir, embs)
    IvfIndex.search(loaded, col("vec_id") < 10, k = 5,
        nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  private val ivfDeleteSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10 AND vec_id % 7 <> 3),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |      WHERE vec_id % 7 <> 3),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  /** Vector delete-then-readd ([[graft.ext.IndexStore]] scoped
    * tombstones on the ANN family): every vec_id % 7 == 3 vector is
    * tombstoned, then the SAME vectors re-ingest via
    * [[graft.ext.IvfIndex.saveAppend]] (frozen quantizer) — no compact
    * in between. The tombstone binds only the delete-time segments, so
    * the re-added delivery is live immediately: an exhaustive-probe
    * search must answer exactly brute force over the FULL corpus, as
    * if the takedown never happened — the correction/redelivery flow.
    * Before scoping, re-added vectors stayed masked and compact
    * dropped them.
    */
  private def ivfReadd(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    val dir = graft.Gate.tmpDir("gate_ivf_readd_")
    IvfIndex.save(model, dir)
    val doomed = embs.filter(col("vec_id") % 7 === 3)
    IvfIndex.delete(s, dir, doomed.select("vec_id"), col("vec_id"))
    IvfIndex.saveAppend(IvfIndex.load(s, dir, embs), doomed, dir)
    IvfIndex.search(IvfIndex.load(s, dir, embs), col("vec_id") < 10,
        k = 5, nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  private val ivfReaddSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  /** STREAMING vector takedown — q_stream_delete's ANN twin: deletion
    * requests drain from a file stream in two micro-batches, each
    * landing on the saved IVF index via [[graft.ext.IvfIndex
    * .delete]] (idempotent tombstone appends under the writer
    * lock), then one [[graft.ext.IvfIndex.compact]] applies them
    * physically. Same surviving-corpus oracle as q_ivf_delete —
    * takedown streams are batch-boundary-invariant for vectors too.
    */
  private def streamVecDelete(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      val embs = Tables.embeddings(s, d)
      val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
      val dir = graft.Gate.tmpDir("gate_ivf_sdel_")
      IvfIndex.save(model, dir)
      val doomed = embs.filter(col("vec_id") % 7 === 3).select("vec_id")
      val in = graft.Gate.tmpDir("gate_ivf_sdel_in_")
      val ckpt = graft.Gate.tmpDir("gate_ivf_sdel_ck_")
      doomed.filter(col("vec_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$in/d1")
      doomed.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$in/d2")
      drain(s, "vec_id LONG", in, ckpt) { (batch, _) =>
        IvfIndex.delete(s, dir, batch, col("vec_id"))
      }
      IvfIndex.compact(s, dir)
      val loaded = IvfIndex.load(s, dir, embs)
      IvfIndex.search(loaded, col("vec_id") < 10, k = 5,
          nProbe = Int.MaxValue)
        .orderBy("query_id", "rank")
    }

  /** METADATA-FILTERED ANN ([[graft.ext.IvfIndex.searchWhere]]): top-5
    * cosine neighbors among only the `vec_id % 3 = 0` third of the
    * corpus — the "nearest English docs" / "nearest in this date range"
    * query every production vector store serves. Pre-filtering (the
    * predicate applies before scoring inside the probed cells), so k
    * survivors always come back even where the filter decimates a
    * neighborhood. Probing is exhaustive, which makes the result EXACT
    * over the filtered corpus — the oracle value-checks every score,
    * not a recall floor.
    */
  private def annFiltered(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = IvfIndex.build(embs, k = 16, sampleFraction = 0.25)
    IvfIndex.searchWhere(model, col("vec_id") < 10,
        col("vec_id") % 3 === 0, k = 5, nProbe = Int.MaxValue)
      .orderBy("query_id", "rank")
  }

  private val annFilteredSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
       |      WHERE vec_id % 3 = 0),
       |p AS (SELECT query_id, vec_id,
       |             ${cosine("qv", "ev")} AS cos
       |      FROM q, e WHERE vec_id <> query_id),
       |$cosTop5""".stripMargin

  /** Incremental embedding dedup ([[graft.ext.IvfIndex.dedupBatch]]):
    * the delta (every 10th vector) dedups against the IVF-indexed base
    * via cell blocking — batch × probed-cell members, never corpus².
    * Probing is exhaustive here, which makes the blocked computation
    * EXACT (every cosine-≥-threshold pair with a delta side), so the
    * oracle value-checks every pair and cosine rather than a recall
    * floor; bounded-probe recall is pinned in IvfIndexSpec.
    */
  private def embedDedupInc(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val model = IvfIndex.build(base, k = 16, sampleFraction = 0.25)
    IvfIndex.dedupBatch(model, delta, threshold = 0.45,
        nProbe = Int.MaxValue)
      .orderBy("id_a", "id_b")
  }

  private val embedDedupIncSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${cosine("a.v", "b.v")} AS cos
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id
       |      WHERE a.vec_id % 10 = 0 OR b.vec_id % 10 = 0)
       |SELECT id_a, id_b, round(cos, 6) AS cos FROM p
       |WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin

  /** STREAMING embedding dedup — the vector-side maintenance loop
    * (mirrors q_stream_dedup_index): vector deliveries drain in two
    * micro-batches; each batch dedups against the EVOLVING in-memory
    * index ([[graft.ext.IvfIndex.dedupBatch]], exhaustive probes) and
    * is then admitted ([[graft.ext.IvfIndex.append]], frozen
    * quantizer). Batch 1 pairs against base∪batch1, batch 2 against
    * everything — the union is exactly every qualifying pair with a
    * delta side, so the accumulated stream output hash-matches the
    * same delta-restricted all-pairs oracle as the one-shot
    * incremental gate, proving dedup-then-admit composes across
    * arbitrary micro-batch boundaries for vectors too.
    */
  private def streamEmbedDedup(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    var model = IvfIndex.build(base, k = 16, sampleFraction = 0.25)
    val in = graft.Gate.tmpDir("gate_sed_in_")
    val ckpt = graft.Gate.tmpDir("gate_sed_ck_")
    val out = graft.Gate.tmpDir("gate_sed_out_")
    val delta = embs.filter(col("vec_id") % 10 === 0)
    delta.filter(col("vec_id") % 20 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    delta.filter(col("vec_id") % 20 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    drain(s, embs.schema, in, ckpt) { (batch, batchId) =>
      // dedup against the index as of THIS batch, then admit; the
      // localCheckpoint pins the batch's pairs before the index
      // reference evolves underneath the lazy plan. Output lands in
      // a per-batchId dir with overwrite — a replayed batch
      // re-produces its own slice instead of appending duplicates
      val pairs = IvfIndex.dedupBatch(model, batch, threshold = 0.45,
        nProbe = Int.MaxValue).localCheckpoint(true)
      pairs.write.mode("overwrite").parquet(s"$out/b$batchId")
      model = IvfIndex.append(model, batch)
    }
    s.read.schema("id_a LONG, id_b LONG, cos DOUBLE")
      .option("recursiveFileLookup", "true").parquet(out)
      .orderBy("id_a", "id_b")
  }

  /** IVF-PQ composite ANN gate ([[graft.ext.IvfPqIndex]] — the IVFADC
    * layout of Jégou et al.): coarse cells prune WHICH rows a query
    * scores, product quantization of the cell RESIDUAL shrinks what a
    * score costs — the composition production billion-scale ANN runs.
    * Recall@5 vs brute force per query at bounded probes (nProbe=10 of
    * 16 cells) and a compressed-domain shortlist; same checkable
    * contract as q_ivf_topk/q_pq_topk, pinned at the floor the seeded
    * build comfortably clears (residual PQ recalls strictly better than
    * whole-vector PQ at the same code budget — the point of IVFADC).
    */
  private def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.IvfPqIndex.build(embs, kCells = 16, m = 8,
      k = 32, sampleFraction = 0.5)
    val ann = graft.ext.IvfPqIndex.search(model, col("vec_id") < 10,
      k = 5, nProbe = 10, shortlist = 40)
    ExtQueries.recallGate(embs, ann, k = 5, minHits = 3)
  }

  private val ivfPqTopKSql =
    """SELECT vec_id AS query_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** IVF-PQ persistence + incremental append: build on 90% of the
    * corpus, save (cell-partitioned codes — a probe is a pruned
    * partition read), [[graft.ext.IvfPqIndex.saveAppend]] the delta
    * under FROZEN quantizers, load in a fresh session, search.
    * `persist_ok` pins the contract that matters — the loaded index
    * answers row-identical to the never-persisted in-memory append;
    * nothing about the answer may depend on which side of a save/load
    * the codes live on. The recall floor is deliberately one hit lower
    * than q_ivfpq_topk's: quantizers trained on 90% of a NEAR-RANDOM
    * corpus (PQ's documented worst case — true top-5 sit barely above
    * the bulk) measure 2-5 hits per query at sf0.1 where the
    * full-corpus build holds 3+; the persist gate pins persistence, not
    * build quality, so it gates at the floor the base-only build
    * actually clears at every scale factor.
    */
  private def ivfPqPersist(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val model = graft.ext.IvfPqIndex.build(base, kCells = 16, m = 8,
      k = 32, sampleFraction = 0.5)
    val dir = graft.Gate.tmpDir("gate_ivfpq_persist_")
    graft.ext.IvfPqIndex.save(model, dir)
    graft.ext.IvfPqIndex.saveAppend(model, delta, dir)
    // the in-memory reference feeds both exceptAll probes; materialize
    // it once instead of re-encoding + re-searching per probe
    val mem = graft.ext.IvfPqIndex.search(
      graft.ext.IvfPqIndex.append(model, delta), col("vec_id") < 10,
      k = 5, nProbe = 10, shortlist = 40).localCheckpoint(true)
    val fresh = s.newSession()
    val loaded = graft.ext.IvfPqIndex.load(fresh, dir,
      Tables.embeddings(fresh, d))
    graft.ext.IvfPqIndex.search(loaded, col("vec_id") < 10, k = 5,
        nProbe = 10, shortlist = 40)
      .write.mode("overwrite").parquet(s"$dir/ann_loaded")
    val back = s.read.parquet(s"$dir/ann_loaded")
    val same = mem.exceptAll(back).isEmpty && back.exceptAll(mem).isEmpty
    ExtQueries.recallGate(embs, back, k = 5, minHits = 2)
      .withColumn("persist_ok", lit(same))
  }

  private val ivfPqPersistSql =
    """SELECT vec_id AS query_id, true AS recall_ok, true AS persist_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  /** SQ8 persistence + incremental append gate: ranges train on 90% of
    * the corpus, save, [[graft.ext.SqIndex.saveAppend]] the delta
    * (frozen ranges), load in a FRESH session, search. Because the
    * codec is closed-form, the oracle mirrors the ENTIRE lifecycle as
    * values — per-dim ranges computed over the base subset only, codes
    * for the full corpus, scan, re-rank — so unlike the recall-style
    * PQ/IVF persist gates this one hash-checks that the loaded index
    * answers exactly what the never-persisted computation defines.
    */
  private def sqPersist(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val model = graft.ext.SqIndex.build(base)
    val dir = graft.Gate.tmpDir("gate_sq_persist_")
    graft.ext.SqIndex.save(model, dir)
    graft.ext.SqIndex.saveAppend(model, delta, dir)
    val fresh = s.newSession()
    val loaded = graft.ext.SqIndex.load(fresh, dir,
      Tables.embeddings(fresh, d))
    graft.ext.SqIndex.search(loaded, col("vec_id") < 10, k = 5,
        shortlist = 8)
      .write.mode("overwrite").parquet(s"$dir/out")
    s.read.parquet(s"$dir/out").orderBy("query_id", "rank")
  }

  /** The SQ8 codec in DuckDB, shared by the SQ oracles over
    * `e(vec_id, v)`. [[sqUnit]] gives `ux(vec_id, i, x)`, the
    * unit-normalized components; [[sqDecoded]] dequantizes them against
    * the oracle's own per-dimension ranges `rng(i, lo, hi)` (the oracles
    * differ in which rows train them) into `vh(vec_id, vhat)` and gives
    * the 10 unit-normalized queries `q(query_id, qu)`; [[sqRerankTop5]]
    * takes the 40-row shortlist of `adc(query_id, vec_id, score)` and
    * re-ranks it by exact cosine into the top-5 answer.
    */
  private val sqUnit =
    """u AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS i
      |      FROM e),
      |ux AS (SELECT vec_id, i,
      |              v[i] / sqrt(list_dot_product(v, v)) AS x
      |       FROM u)""".stripMargin

  private val sqDecoded =
    """dq AS (SELECT vec_id, i,
      |              lo + floor(255.0 * (x - lo)
      |                         / greatest(hi - lo, 1e-12) + 0.5)
      |                   * (hi - lo) / 255.0 AS xh
      |       FROM ux JOIN rng USING (i)),
      |vh AS (SELECT vec_id, list(xh ORDER BY i) AS vhat
      |       FROM dq GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id,
      |             list_transform(v,
      |               x -> x / sqrt(list_dot_product(v, v))) AS qu
      |      FROM e WHERE vec_id < 10)""".stripMargin

  private val sqRerankTop5 =
    s"""cand AS (SELECT query_id, vec_id FROM (
       |           SELECT query_id, vec_id,
       |                  ${rankBy("score DESC, vec_id")} AS rn
       |           FROM adc) WHERE rn <= 40),
       |rr AS (SELECT c.query_id, c.vec_id AS neighbor_id,
       |              ${cosine("a.v", "b.v")} AS cosx,
       |              row_number() OVER (PARTITION BY c.query_id
       |                ORDER BY ${cosine("a.v", "b.v")} DESC,
       |                  c.vec_id) AS rank
       |       FROM cand c
       |       JOIN e a ON a.vec_id = c.query_id
       |       JOIN e b ON b.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, round(cosx, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val sqPersistSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$sqUnit,
       |rng AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ux
       |        WHERE vec_id % 10 <> 0 GROUP BY i),
       |$sqDecoded,
       |adc AS (SELECT q.query_id, vh.vec_id,
       |               list_dot_product(q.qu, vh.vhat) AS score
       |        FROM q, vh WHERE vh.vec_id <> q.query_id),
       |$sqRerankTop5""".stripMargin

  /** Persisted binary-code index lifecycle
    * ([[graft.ext.BinaryIndex]]): build on 90% of the corpus, save,
    * incremental `saveAppend` of the rest under the frozen width,
    * tombstone every ninth vector, compact (physical apply), load in a
    * FRESH session, search. The codec is closed-form (sign bits →
    * Hamming candidates → exact re-rank), so the oracle replays the
    * ENTIRE lifecycle as values over the surviving corpus — unlike the
    * trained families' recall-style persist gates, this one
    * hash-checks that the persisted 16-byte code relation answers
    * exactly what the never-persisted computation defines, deletes and
    * compaction included.
    */
  private def binaryPersist(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val dir = graft.Gate.tmpDir("gate_bin_persist_")
    val model = graft.ext.BinaryIndex.build(base)
    graft.ext.BinaryIndex.save(model, dir)
    graft.ext.BinaryIndex.saveAppend(model, delta, dir)
    graft.ext.BinaryIndex.delete(s, dir,
      embs.filter(col("vec_id") % 9 === 4).select("vec_id"),
      col("vec_id"))
    graft.ext.BinaryIndex.compact(s, dir)
    val fresh = s.newSession()
    val loaded = graft.ext.BinaryIndex.load(fresh, dir,
      Tables.embeddings(fresh, d))
    // q_binary_topk's worst-case candidate widening, over LIVE codes
    val cand = math.max(200, (loaded.codes.count() / 5L).toInt)
    graft.ext.BinaryIndex.search(loaded, col("vec_id") < 10, k = 5,
        candidates = cand)
      .write.mode("overwrite").parquet(s"$dir/out")
    s.read.parquet(s"$dir/out").orderBy("query_id", "rank")
  }

  private val binaryPersistSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE vec_id % 9 <> 4),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |bh AS (SELECT q.query_id, e.vec_id,
       |         list_sum(list_transform(range(1, len(e.v) + 1),
       |           i -> CASE WHEN (q.qv[i] > 0) <> (e.v[i] > 0)
       |                THEN 1 ELSE 0 END)) AS ham
       |       FROM q, e WHERE e.vec_id <> q.query_id),
       |cand AS (SELECT query_id, vec_id FROM (
       |           SELECT query_id, vec_id,
       |             ${rankBy("ham, vec_id")} AS rn
       |           FROM bh)
       |         WHERE rn <= greatest(200, (SELECT count(*) FROM e) // 5)),
       |rr AS (SELECT c.query_id, c.vec_id AS neighbor_id,
       |              ${cosine("a.v", "b.v")} AS cosx,
       |              row_number() OVER (PARTITION BY c.query_id
       |                ORDER BY ${cosine("a.v", "b.v")} DESC,
       |                  c.vec_id) AS rank
       |       FROM cand c
       |       JOIN e a ON a.vec_id = c.query_id
       |       JOIN e b ON b.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, round(cosx, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** FEDERATED ANN ([[graft.ext.BinaryIndex.searchFederatedVectors]]):
    * an overlay of AMENDED embeddings (every fifth vector re-delivered
    * NEGATED — maximally different, so a superseded production version
    * serving would be visible in the values; a third of the amendments
    * later retracted) searched with production under overlay-wins /
    * delete-cedes precedence. Each root answers from its own persisted
    * codes; the exact re-rank makes cross-root scores calibrated, so
    * the fused top-5 is meaningful. The codec is closed-form, so the
    * oracle replays BOTH roots' two-stage searches, the precedence
    * mask, and the fused re-rank as values — the federated-ANN answer
    * is hash-checked end to end.
    */
  private def annFederate(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val amended = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val aDir = graft.Gate.tmpDir("gate_annfed_a_")
    val bDir = graft.Gate.tmpDir("gate_annfed_b_")
    graft.ext.BinaryIndex.buildAndSave(amended, aDir)
    graft.ext.BinaryIndex.delete(s, aDir, // retracted amendments
      embs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      col("vec_id"))
    graft.ext.BinaryIndex.buildAndSave(embs, bDir)
    graft.ext.BinaryIndex.delete(s, bDir, // production takedown
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    val queries = embs.filter(col("vec_id") < 10)
    // one shared candidate knob, sized to the BIGGER root (q_binary_topk's
    // worst-case widening); the small overlay degenerates to full coverage
    val liveB = graft.ext.BinaryIndex.load(s, bDir, embs).codes.count()
    val cand = math.max(200, (liveB / 5L).toInt)
    graft.ext.BinaryIndex.searchFederatedVectors(s,
        Seq(aDir -> amended, bDir -> embs), queries, k = 5,
        candidates = cand)
      .orderBy("query_id", "rank")
  }

  private val annFederateSql = {
    def stage(src: String, corpus: String): String =
      s"""ham_$src AS (SELECT q.query_id, e.vec_id,
         |    list_sum(list_transform(range(1, len(e.v) + 1),
         |      i -> CASE WHEN (q.qv[i] > 0) <> (e.v[i] > 0)
         |           THEN 1 ELSE 0 END)) AS ham
         |  FROM q, $corpus e),
         |cand_$src AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ${rankBy("ham, vec_id")} AS rn
         |    FROM ham_$src), cnd
         |  WHERE rn <= cnd.c),
         |rr_$src AS (SELECT c.query_id, c.vec_id,
         |    ${cosine("q.qv", "e.v")} AS cos
         |  FROM cand_$src c JOIN q USING (query_id)
         |  JOIN $corpus e ON e.vec_id = c.vec_id),
         |h_$src AS (SELECT query_id, vec_id, cos FROM (
         |    SELECT *, ${rankBy("cos DESC, vec_id")} AS rn FROM rr_$src)
         |  WHERE rn <= 20)""".stripMargin
    s"""WITH ea AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> -x) AS v
       |  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 3 <> 1),
       |eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE vec_id % 7 <> 3),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 10),
       |cnd AS (SELECT greatest(200, (SELECT count(*) FROM eb) // 5) AS c),
       |${stage("a", "ea")},
       |${stage("b", "eb")},
       |fed AS (SELECT * FROM h_a
       |        UNION ALL
       |        SELECT * FROM h_b
       |        WHERE NOT (vec_id % 5 = 0 AND vec_id % 3 <> 1))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, vec_id, cos,
       |        ${rankBy("round(cos, 6) DESC, vec_id")} AS rank
       |      FROM fed)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** FEDERATED binary-ANN SERVING alone, timed against roots encoded
    * outside the window (the q_graph_fed_serve discipline applied to
    * the training-free family — q_ann_federate itself hash-checks the
    * VALUES but prices two in-window corpus encodes, so its number is
    * not a serving-boundedness measurement): the memoized roots are
    * the same amended-overlay / production-takedown fixture, and the
    * timed window holds only [[graft.ext.BinaryIndex
    * .searchFederatedVectors]] — two 16-byte stage-1 scans,
    * candidate-bounded exact re-ranks, the Bloom-pruned precedence
    * probe of result ids, and the fused re-rank. Candidates scale with
    * the corpus (the q_binary_topk knob), so the probe ratio should
    * track data and the precedence term should stay result-bounded.
    * Contract: every query's fused top-5 fills exactly.
    */
  private def annFedServe(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val pre = sharedFedBinaryRoots(s, d)
    val amended = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val queries = embs.filter(col("vec_id") < 100)
    val cand = math.max(200,
      (graft.ext.BinaryIndex.load(s, s"$pre/prod", embs).codes.count()
        / 5L).toInt)
    graft.ext.BinaryIndex.searchFederatedVectors(s,
        Seq(s"$pre/overlay" -> amended, s"$pre/prod" -> embs), queries,
        k = 5, candidates = cand)
      .groupBy("query_id").agg(count(lit(1)).as("n_results"))
      .orderBy("query_id")
  }

  private val annFedServeSql =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results
      |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin

  /** The two persisted binary-code roots q_ann_fed_serve federates
    * over (amended-negated overlay with a %3 retraction; production
    * with a %7 takedown), encoded once per (JVM, dir) — the
    * training-free codec makes this cheap, but it is still two corpus
    * passes that belong outside a serving-cost window.
    */
  private[queries] def sharedFedBinaryRoots(s: SparkSession,
      d: String): String =
    graft.Gate.memoDir(s"annfed_serve:$d", "gate_afsrv_") { dir =>
      val embs = Tables.embeddings(s, d)
      val amended = embs.filter(col("vec_id") % 5 === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      graft.ext.BinaryIndex.buildAndSave(amended, s"$dir/overlay")
      graft.ext.BinaryIndex.delete(s, s"$dir/overlay",
        embs.filter(col("vec_id") % 3 === 1).select("vec_id"),
        col("vec_id"))
      graft.ext.BinaryIndex.buildAndSave(embs, s"$dir/prod")
      graft.ext.BinaryIndex.delete(s, s"$dir/prod",
        embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
        col("vec_id"))
      ()
    }

  /** FEDERATED TRAINED-FAMILY ANN
    * ([[graft.ext.IvfIndex.searchFederatedVectors]]): the q_ann_federate
    * fixture (amended-negated overlay with partial retraction over
    * production with its own takedown) answered from per-root IVF
    * indexes — each root trains its OWN quantizer, federation never
    * requires co-trained centroids. Probes are EXHAUSTIVE (nProbe =
    * nCells), so each root's answer is exactly brute force over its
    * live corpus — the q_ann_filtered value-check trick — and the
    * oracle replays both roots' top-20, the precedence mask, and the
    * fused re-rank as plain relational cosine arithmetic; quantizer
    * nondeterminism (k-means float-sum order) cannot reach the result.
    */
  private def ivfFederate(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val amended = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val aDir = graft.Gate.tmpDir("gate_ivffed_a_")
    val bDir = graft.Gate.tmpDir("gate_ivffed_b_")
    IvfIndex.save(IvfIndex.build(amended, k = 8), aDir)
    IvfIndex.delete(s, aDir, // retracted amendments
      embs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      col("vec_id"))
    IvfIndex.save(IvfIndex.build(embs, k = 8), bDir)
    IvfIndex.delete(s, bDir, // production takedown
      embs.filter(col("vec_id") % 7 === 3).select("vec_id"),
      col("vec_id"))
    val queries = embs.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    IvfIndex.searchFederatedVectors(s,
        Seq(aDir -> amended, bDir -> embs), queries, k = 5, nProbe = 8)
      .orderBy("query_id", "rank")
  }

  private val ivfFederateSql = {
    def stage(src: String, corpus: String): String =
      s"""h_$src AS (SELECT query_id, vec_id, cos FROM (
         |    SELECT q.query_id, e.vec_id,
         |      ${cosine("q.qv", "e.v")} AS cos,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosine("q.qv", "e.v")} DESC,
         |          e.vec_id) AS rn
         |    FROM q, $corpus e)
         |  WHERE rn <= 20)""".stripMargin
    s"""WITH ea AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> -x) AS v
       |  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 3 <> 1),
       |eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE vec_id % 7 <> 3),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 10),
       |${stage("a", "ea")},
       |${stage("b", "eb")},
       |fed AS (SELECT * FROM h_a
       |        UNION ALL
       |        SELECT * FROM h_b
       |        WHERE NOT (vec_id % 5 = 0 AND vec_id % 3 <> 1))
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, vec_id, cos,
       |        ${rankBy("round(cos, 6) DESC, vec_id")} AS rank
       |      FROM fed)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Streaming ANN lookup: query vectors arrive as a STREAM and each
    * micro-batch searches a static, pre-built [[graft.ext.SqIndex]] via
    * `foreachBatch` + [[graft.ext.SqIndex.searchVectors]] (lookup
    * semantics — a query identical to a corpus row ranks it first).
    * The serving shape for retrieval workloads: the index is built once
    * and the per-batch cost is one broadcast of the batch's vectors
    * against the streamed codes. Because the index is static, batch
    * boundaries cannot change any answer — the union of per-batch
    * results is pinned against the one-shot closed-form oracle,
    * quantization error and all.
    */
  private def streamAnn(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamAnnImpl(s, d) }

  private def streamAnnImpl(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val model = graft.ext.SqIndex.build(embs)
    val in = graft.Gate.tmpDir("gate_sann_in_")
    val ckpt = graft.Gate.tmpDir("gate_sann_ck_")
    val out = graft.Gate.tmpDir("gate_sann_out_")
    val queries = embs.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    queries.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b1")
    queries.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b2")
    drain(s, queries.schema, in, ckpt) { (batch, _) =>
      graft.ext.SqIndex.searchVectors(model, batch, k = 5, shortlist = 8)
        .write.mode("append").parquet(out)
    }
    s.read.schema(
        "query_id LONG, neighbor_id LONG, cos DOUBLE, rank INT")
      .parquet(out)
      .orderBy("query_id", "rank")
  }

  /** Same closed-form mirror as q_sq_topk, in LOOKUP semantics: no
    * self-exclusion, so each query's rank-1 neighbor is itself at
    * cos = 1.
    */
  private val streamAnnSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$sqUnit,
       |rng AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ux GROUP BY i),
       |$sqDecoded,
       |adc AS (SELECT q.query_id, vh.vec_id,
       |               list_dot_product(q.qu, vh.vhat) AS score
       |        FROM q, vh),
       |$sqRerankTop5""".stripMargin

  /** Scalar-quantized (SQ8) ANN gate ([[graft.ext.SqIndex]]) — the
    * no-training member of the compression family (IVF prunes rows, PQ
    * codes subspaces, SQ8 is a per-dimension affine codec whose "model"
    * is 2·d doubles from one min/max aggregate). Unlike the trained
    * indexes, every step — unit-normalize, per-dim corpus min/max,
    * `floor(x+0.5)` quantize, dequantize, asymmetric compressed-domain
    * scan, shortlist, exact re-rank — is deterministic double arithmetic
    * in a fixed fold order, so the oracle mirrors the ENTIRE codec in
    * SQL and the gate hash-matches values, not just recall: the
    * quantization error itself is pinned identical between engines.
    */
  private def sqTopK(s: SparkSession, d: String): DataFrame = {
    val model = graft.ext.SqIndex.build(Tables.embeddings(s, d))
    graft.ext.SqIndex.search(model, col("vec_id") < 10, k = 5,
      shortlist = 8)
  }

  private val sqTopKSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$sqUnit,
       |rng AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ux GROUP BY i),
       |$sqDecoded,
       |adc AS (SELECT q.query_id, vh.vec_id,
       |               list_dot_product(q.qu, vh.vhat) AS score
       |        FROM q, vh WHERE vh.vec_id <> q.query_id),
       |$sqRerankTop5""".stripMargin

  // §2.9 — streaming: event-time windowed aggregation with a watermark,
  // driven through a real file-source stream + memory sink. The oracle
  // mirrors BOTH the tumbling-window aggregate and the append-mode
  // emission rule (only windows closed by the final watermark =
  // max(event time) − delay are released), so the watermark semantics
  // themselves are hash-checked against SQL. Deterministic user subset
  // (mirrored in the oracle) instead of LIMIT, which has no stable row
  // choice to mirror.
  /** Run `body` with a reduced shuffle-partition count: stateful
    * streaming operators create one state store per shuffle partition
    * and commit a delta file per store per batch — 32 stores for a few
    * thousand rows is pure per-task and per-file overhead. Conf is
    * restored afterwards; results are partition-count-invariant.
    */
  private def withStreamPartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def streamWindow(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamWindowImpl(s, d) }

  private def streamWindowImpl(s: SparkSession, d: String): DataFrame = {
    val in = graft.Gate.tmpDir("gate_stream_")
    val ckpt = graft.Gate.tmpDir("gate_ckpt_")
    EventsBilling(s, d).filter(col("user_id").cast("long") % 7 === 0)
      .write.mode("overwrite").option("header", "true").csv(in)
    val stream = s.readStream.option("header", "true")
      .schema(graft.billing.Schemas.billing).csv(in)
    val q = graft.streaming.StreamingIngest.windowedCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("gate_stream_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_stream_out")
      .select(col("window.start").cast("string").as("window_start"),
        col("operation_type"), col("n"),
        round(col("total_credit_usage"), 2).as("total_credit_usage"))
      .orderBy("window_start", "operation_type")
  }

  private val streamWindowSql =
    s"""${EventsBilling.cte},
       |f AS (SELECT * FROM billing WHERE CAST(user_id AS BIGINT) % 7 = 0),
       |w AS (SELECT date_trunc('hour', "timestamp") AS ws, operation_type,
       |             count(*) AS n,
       |             round(sum(credit_usage), 2) AS total_credit_usage
       |      FROM f GROUP BY 1, 2),
       |m AS (SELECT max("timestamp") AS mx FROM f)
       |SELECT CAST(ws AS VARCHAR) AS window_start, operation_type, n,
       |       total_credit_usage
       |FROM w, m
       |WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
       |ORDER BY window_start, operation_type""".stripMargin

  // Streaming sessionization via the built-in session_window: dynamic-gap
  // sessions as a stateful streaming aggregate — state per OPEN session
  // only, merged as events arrive, evicted once the watermark passes the
  // session end. The oracle mirrors both the gap-session grouping AND the
  // append-mode emission rule (only sessions closed by the final
  // watermark = max(ts) − delay are released), so the session-state
  // semantics are hash-checked like q_stream_window's tumbling windows.
  private def streamSession(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamSessionImpl(s, d) }

  private def streamSessionImpl(s: SparkSession, d: String): DataFrame = {
    val in = graft.Gate.tmpDir("gate_ssw_")
    val ckpt = graft.Gate.tmpDir("gate_ssw_ck_")
    // stage timestamps as unix_micros longs (CSV timestamp formatting
    // would truncate sub-second precision)
    Tables.events(s, d).filter(col("user_id") % 11 === 0)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(in)
    val stream = s.readStream.option("header", "true")
      .schema("user_id LONG, us LONG, value DOUBLE").csv(in)
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("gate_ssw_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_ssw_out")
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start_ms")
  }

  private val streamSessionSql =
    """WITH f AS (SELECT user_id, ts, value FROM events
      |           WHERE user_id % 11 = 0),
      |x AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 600000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM f
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
      |    AS session_id
      |  FROM x),
      |sess AS (
      |  SELECT user_id,
      |         epoch_ms(min(ts)) AS session_start_ms,
      |         epoch_ms(max(ts)) + 600000 AS session_end_ms,
      |         count(*) AS n_events,
      |         round(sum(value), 2) AS total_value
      |  FROM y GROUP BY user_id, session_id),
      |m AS (SELECT epoch_ms(max(ts)) AS mx FROM f)
      |SELECT user_id, session_start_ms, session_end_ms, n_events,
      |       total_value
      |FROM sess, m
      |WHERE session_end_ms <= mx - 1800000
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** Custom keyed streaming state ([[graft.streaming.StatefulOps]]):
    * per-user cumulative totals via `flatMapGroupsWithState`, delivered
    * as two TIME-SPLIT files drained separately against one checkpoint —
    * the per-user fold must survive the micro-batch boundary in the
    * keyed state store (batch 2 resumes every user's total where batch 1
    * left it). The oracle mirrors the whole computation as a running
    * window over the same pre-aggregated rows; totals are integer cents
    * so no float summation-tree ambiguity exists on either side.
    */
  private def streamStateful(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      // RocksDB state store: keyed state lives off-heap/on-disk per
      // partition instead of in the executor heap — at 100 TB of active
      // keys the HDFS-backed in-memory map is the thing that falls over
      // first, so the custom-state gate runs on the big-state backend
      // (same results; the provider is an implementation choice)
      graft.Gate.withConfs(s,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")) {
        streamStatefulImpl(s, d)
      }
    }

  private def streamStatefulImpl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = graft.Gate.tmpDir("gate_sst_in_")
    val ckpt = graft.Gate.tmpDir("gate_sst_ck_")
    val out = graft.Gate.tmpDir("gate_sst_out_")
    // one row per (user, microsecond): unique event times make the
    // event-time fold order unambiguous on both sides
    val p = Tables.events(s, d).filter(col("user_id") % 23 === 0)
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val mm = p.agg(min("us"), max("us")).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    def stage(df: DataFrame, name: String): Unit = {
      val tmp = graft.Gate.tmpDir("gate_sst_stage_")
      df.coalesce(1).write.option("header", "true").mode("overwrite").csv(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".csv")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, name))
      ()
    }
    def drain(): Unit = {
      val stream = s.readStream.option("header", "true")
        .schema("user_id LONG, us LONG, cents LONG").csv(in)
        .as[graft.streaming.StatefulOps.Event]
      val q = graft.streaming.StatefulOps.runningTotals(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage(p.filter(col("us") <= cut), "b1.csv"); drain()
    stage(p.filter(col("us") > cut), "b2.csv"); drain()
    s.read.parquet(out).orderBy("user_id", "us")
  }

  private val streamStatefulSql =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events WHERE user_id % 23 = 0 GROUP BY 1, 2)
      |SELECT user_id, us,
      |       CAST(sum(cents) OVER w AS BIGINT) AS running_cents,
      |       CAST(row_number() OVER w AS BIGINT) AS running_n
      |FROM p
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, us""".stripMargin

  /** The q_stream_stateful fold re-expressed on Spark 4's
    * `transformWithState` ([[graft.streaming.StatefulOps.TypedRunningProcessor]]):
    * composable named state — a ValueState running total plus a MapState
    * of per-(user, event-type) occurrence counters, each maintained as
    * point ops against the RocksDB store (the API requires that
    * provider). Same two-drain/one-checkpoint harness; the oracle adds
    * the per-type counter as a second window, so both state variables'
    * cross-batch persistence is value-checked.
    */
  private def streamTws(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      graft.Gate.withConfs(s,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"),
        // per-batch state commits upload changelog DELTAS, not full
        // RocksDB snapshots (snapshots continue in the background) —
        // at 100 TB of keyed state the per-batch upload is the commit
        // latency, so the changelog shape is the production default
        "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled" -> "true") {
        streamTwsImpl(s, d)
      }
    }

  private def streamTwsImpl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = graft.Gate.tmpDir("gate_tws_in_")
    val ckpt = graft.Gate.tmpDir("gate_tws_ck_")
    val out = graft.Gate.tmpDir("gate_tws_out_")
    // unique (user, us) keys; the batch's event type is the group min so
    // the per-type counter is deterministic too
    val p = Tables.events(s, d).filter(col("user_id") % 23 === 0)
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"),
        min(col("event_type")).as("op"))
    val mm = p.agg(min("us"), max("us")).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    def stage(df: DataFrame, name: String): Unit = {
      val tmp = graft.Gate.tmpDir("gate_tws_stage_")
      df.coalesce(1).write.option("header", "true").mode("overwrite").csv(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".csv")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, name))
      ()
    }
    def drain(): Unit = {
      val stream = s.readStream.option("header", "true")
        .schema("user_id LONG, us LONG, cents LONG, op STRING").csv(in)
        .as[graft.streaming.StatefulOps.TypedEvent]
      val q = graft.streaming.StatefulOps.typedRunningTotals(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage(p.filter(col("us") <= cut), "b1.csv"); drain()
    stage(p.filter(col("us") > cut), "b2.csv"); drain()
    s.read.parquet(out).orderBy("user_id", "us")
  }

  private val streamTwsSql =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS cents,
      |         min(event_type) AS op
      |  FROM events WHERE user_id % 23 = 0 GROUP BY 1, 2)
      |SELECT user_id, us,
      |       CAST(sum(cents) OVER w AS BIGINT) AS running_cents,
      |       CAST(row_number() OVER w AS BIGINT) AS running_n,
      |       op,
      |       CAST(row_number() OVER (PARTITION BY user_id, op
      |             ORDER BY us) AS BIGINT) AS op_n
      |FROM p
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, us""".stripMargin

  // Stream-stream join: clicks joined to errors within 5 minutes, both
  // sides watermarked, run via file streams + AvailableNow into a memory
  // sink. The timestamp hand-off to CSV goes as unix_micros longs (CSV
  // timestamp formatting would truncate microseconds).
  private def streamJoin(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamJoinImpl(s, d) }

  private def streamJoinImpl(s: SparkSession, d: String): DataFrame = {
    val dirC = graft.Gate.tmpDir("gate_ssj_c_")
    val dirE = graft.Gate.tmpDir("gate_ssj_e_")
    val ckpt = graft.Gate.tmpDir("gate_ssj_ck_")
    // deterministic user subset (mirrored in the oracle) keeps the gate's
    // cost in the streaming machinery, not the CSV hand-off
    val ev = Tables.events(s, d)
      .filter(col("user_id") % 3 === 0)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    ev.filter(col("event_type") === "click").drop("event_type")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dirC)
    ev.filter(col("event_type") === "error").drop("event_type")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dirE)
    def readSide(dir: String) = s.readStream
      .option("header", "true")
      .schema("user_id LONG, event_id LONG, us LONG")
      .csv(dir)
      .withColumn("ts", timestamp_micros(col("us")))
    val q = graft.streaming.StreamingJoins
      .clickErrorPairs(readSide(dirC), readSide(dirE), windowSec = 300)
      .writeStream.outputMode("append")
      .format("memory").queryName("gate_ssj_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_ssj_out").orderBy("user_id", "click_id", "error_id")
  }

  private val streamJoinSql =
    """SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
      |       epoch_us(e.ts) - epoch_us(c.ts) AS delta_us
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'click' AND user_id % 3 = 0) c
      |JOIN (SELECT * FROM events
      |      WHERE event_type = 'error' AND user_id % 3 = 0) e
      |  ON c.user_id = e.user_id
      | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
      |ORDER BY c.user_id, click_id, error_id""".stripMargin

  /** Stream-stream LEFT OUTER join
    * ([[graft.streaming.StreamingJoins.clickErrorPairsOuter]]): same
    * staging as q_stream_join, but unmatched clicks must ALSO emit (with
    * null error) — and only once the global watermark has evicted their
    * state, i.e. once "no match" is final. The oracle mirrors both the
    * matched pairs and that emission rule (final watermark =
    * min(max click ts, max error ts) − the 10-minute delay), so the
    * outer join's state-eviction semantics are hash-checked, not just
    * its happy path.
    */
  private def streamOuterJoin(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamOuterJoinImpl(s, d) }

  private def streamOuterJoinImpl(s: SparkSession, d: String): DataFrame = {
    val dirC = graft.Gate.tmpDir("gate_soj_c_")
    val dirE = graft.Gate.tmpDir("gate_soj_e_")
    val ckpt = graft.Gate.tmpDir("gate_soj_ck_")
    val ev = Tables.events(s, d)
      .filter(col("user_id") % 3 === 0)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    ev.filter(col("event_type") === "click").drop("event_type")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dirC)
    ev.filter(col("event_type") === "error").drop("event_type")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dirE)
    def readSide(dir: String) = s.readStream
      .option("header", "true")
      .schema("user_id LONG, event_id LONG, us LONG")
      .csv(dir)
      .withColumn("ts", timestamp_micros(col("us")))
    val q = graft.streaming.StreamingJoins
      .clickErrorPairsOuter(readSide(dirC), readSide(dirE), windowSec = 300)
      .writeStream.outputMode("append")
      .format("memory").queryName("gate_soj_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_soj_out").orderBy("user_id", "click_id", "error_id")
  }

  private val streamOuterJoinSql =
    """WITH c AS (SELECT * FROM events
      |           WHERE event_type = 'click' AND user_id % 3 = 0),
      |e AS (SELECT * FROM events
      |      WHERE event_type = 'error' AND user_id % 3 = 0),
      |m AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM e))
      |             - INTERVAL 10 MINUTE AS wm),
      |matched AS (
      |  SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
      |         epoch_us(e.ts) - epoch_us(c.ts) AS delta_us
      |  FROM c JOIN e ON c.user_id = e.user_id
      |   AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE),
      |unmatched AS (
      |  SELECT c.user_id, c.event_id AS click_id,
      |         CAST(NULL AS BIGINT) AS error_id,
      |         CAST(NULL AS BIGINT) AS delta_us
      |  FROM c, m
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = c.user_id
      |          AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE)
      |    AND c.ts + INTERVAL 5 MINUTE < wm)
      |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
      |ORDER BY user_id, click_id, error_id""".stripMargin

  // The reference's whole incremental lifecycle (T1-T5) as one gate:
  // drain delivery 1 through the checkpointed file stream into the
  // partitioned store (foreachBatch → dedup-append → rollup rebuild),
  // then deliver a SECOND file that overlaps the first and drain again
  // with the same checkpoint and store. The checkpoint must skip the
  // already-seen file, the anti-join must drop the redelivered rows, and
  // the rebuilt daily rollup must equal the plain batch rollup over the
  // distinct rows — which is exactly what the oracle computes.
  private def streamIngest(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      val in = graft.Gate.tmpDir("gate_singest_in_")
      val storeRoot = graft.Gate.tmpDir("gate_singest_store_")
      val ckpt = graft.Gate.tmpDir("gate_singest_ck_")
      val data = EventsBilling(s, d)
        .filter(col("user_id").cast("long") % 11 === 0)
      val store = graft.billing.BillingStore(s"$storeRoot/store")
      // delivery 1: the first half of the month. Its rollups would be
      // rebuilt from scratch by delivery 2 anyway (the reference's
      // full-recompute model), so this drain defers them — the gate
      // checks the post-drain-2 state either way.
      data.filter(col("day") <= 15).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(in)
      graft.streaming.StreamingIngest.start(s, in, store, ckpt,
        aggs = graft.streaming.StreamingIngest.AggMaintenance.Defer)
        .awaitTermination()
      // delivery 2: the full window — overlaps everything from delivery 1.
      // Touched-day refresh (not full rebuild): delivery 2 spans every
      // day, so daily_aggs comes out complete, via the path whose cost is
      // ∝ batch days rather than ∝ history + all four rollups.
      data.coalesce(1)
        .write.mode("append").option("header", "true").csv(in)
      graft.streaming.StreamingIngest.start(s, in, store, ckpt,
        aggs = graft.streaming.StreamingIngest.AggMaintenance.RefreshTouchedDaily)
        .awaitTermination()
      store.agg(s, "daily").select(
        col("year"), col("month"), col("day"), col("transaction_count"),
        round(col("total_credit_usage"), 2).as("total_credit_usage"),
        (round(col("total_credit_usage"), 2) / col("transaction_count"))
          .as("avg_credit_usage"),
        col("unique_users"), col("unique_resources"),
        col("successful_operations"), col("failed_operations"))
        .orderBy("year", "month", "day")
    }

  private val streamIngestSql =
    s"""${EventsBilling.cte},
       |f AS (SELECT * FROM billing WHERE CAST(user_id AS BIGINT) % 11 = 0)
       |SELECT year, month, day,
       |       count(*) AS transaction_count,
       |       round(sum(credit_usage), 2) AS total_credit_usage,
       |       round(sum(credit_usage), 2) / count(*) AS avg_credit_usage,
       |       count(DISTINCT user_id) AS unique_users,
       |       count(DISTINCT resource_id) AS unique_resources,
       |       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
       |         AS successful_operations,
       |       CAST(sum(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT)
       |         AS failed_operations
       |FROM f GROUP BY year, month, day
       |ORDER BY year, month, day""".stripMargin

  // Stream-static join: streaming orders enriched against the static
  // customer dimension ([[graft.streaming.StreamingJoins.enrichWithDim]]).
  // The dimension broadcasts per micro-batch — NO state store, constant
  // memory for unbounded streams (the scale contrast with q_stream_join's
  // symmetric hash join). Complete-mode rollup by market segment; the
  // oracle is the plain batch join.
  private def streamStatic(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) {
      val dir = graft.Gate.tmpDir("gate_sst_")
      val ckpt = graft.Gate.tmpDir("gate_sst_ck_")
      Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      val stream = s.readStream.option("header", "true")
        .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE")
        .csv(dir)
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val q = graft.streaming.StreamingJoins
        .enrichWithDim(stream, dim, Seq("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("gate_sst_out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("gate_sst_out")
        .select(col("c_mktsegment"), col("n_orders"),
          round(col("revenue"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }

  private val streamStaticSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey % 10 = 0
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // Streaming dedup: the same event file is delivered twice (two files in
  // the source dir — the at-least-once redelivery case); dropDuplicates
  // keyed by event_id holds seen-keys in the state store across
  // micro-batches, and the downstream complete-mode aggregation sees each
  // event exactly once. This is the reference's J1 anti-join dedup
  // (ingest.py:248-257) recast as streaming state.
  private def streamDedup(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamDedupImpl(s, d) }

  private def streamDedupImpl(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_sdd_")
    val ckpt = graft.Gate.tmpDir("gate_sdd_ck_")
    val ev = Tables.events(s, d)
      .filter(col("user_id") % 5 === 0)
      .select(col("user_id"), col("event_id"), col("value"))
    ev.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/a")
    ev.coalesce(1).write.mode("append")
      .option("header", "true").csv(s"$dir/a")
    val stream = s.readStream.option("header", "true")
      .schema("user_id LONG, event_id LONG, value DOUBLE")
      .csv(s"$dir/a")
      .dropDuplicates("event_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("gate_sdd_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_sdd_out").orderBy("user_id")
  }

  private val streamDedupSql =
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(value), 2) AS total
      |FROM events WHERE user_id % 5 = 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps a
  // key's state only until the watermark passes its event time + delay —
  // the unbounded-stream answer to q_stream_dedup's forever-growing
  // dropDuplicates state (SCALE.md). maxFilesPerTrigger=1 forces the
  // second delivery into a LATER micro-batch, so the dedup genuinely
  // crosses batch/state boundaries; the 60-day delay exceeds the
  // dataset's event-time span, so every duplicate lands within the
  // watermark and the result is exactly the batch dedup the oracle
  // computes. (True expiry — a dup arriving after its key's state is
  // gone surviving — is deterministic only with hand-fed batches; that
  // path is pinned in StreamingIngestSpec.)
  private def streamDedupWm(s: SparkSession, d: String): DataFrame =
    withStreamPartitions(s, 4) { streamDedupWmImpl(s, d) }

  private def streamDedupWmImpl(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Gate.tmpDir("gate_sdw_")
    val ckpt = graft.Gate.tmpDir("gate_sdw_ck_")
    val ev = Tables.events(s, d)
      .filter(col("user_id") % 7 === 0)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    ev.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/a")
    ev.coalesce(1).write.mode("append")
      .option("header", "true").csv(s"$dir/a")
    val stream = s.readStream.option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .schema("user_id LONG, event_id LONG, ts TIMESTAMP, value DOUBLE")
      .csv(s"$dir/a")
      .withWatermark("ts", "60 days")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("gate_sdw_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("gate_sdw_out")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .orderBy("user_id")
  }

  private val streamDedupWmSql =
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(value), 2) AS total
      |FROM events WHERE user_id % 7 = 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // As-of join: each error event matched to the user's most recent click
  // at or before it. DuckDB's native ASOF JOIN is the oracle; the Spark
  // side is the union+window composition (one shuffle on the key).
  private def asofJoin(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    // collapse right-side ties (same user, same ts) to make the match
    // unique — mirrored in the oracle CTE
    val clicks = events.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("ts").as("cts"), col("click_id"))
    graft.operators.AsOfJoin.backward(errors, clicks, Seq("user_id"),
      "ts", "cts", Seq("click_id"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("click_id"),
        unix_millis(col("cts_matched")).as("click_ms"))
      .orderBy("event_id")
  }

  private val asofJoinSql =
    """WITH l AS (SELECT user_id, ts, event_id FROM events
      |           WHERE event_type = 'error'),
      |     r AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click'
      |           GROUP BY user_id, ts)
      |SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
      |       r.click_id, epoch_ms(r.cts) AS click_ms
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.ts >= r.cts
      |ORDER BY l.event_id""".stripMargin

  // Gap-based sessionization (batch twin of the stateful streaming op).
  private def sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val events = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.Sessionize.Event]
    graft.streaming.Sessionize.sessionizeBatch(events, gapSeconds = 600)
      .toDF()
      .select(col("user_id"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy("user_id", "session_start_ms")
  }

  private val sessionizeSql =
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 600000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
      |    AS session_id
      |  FROM x)
      |SELECT user_id,
      |       epoch_ms(min(ts)) AS session_start_ms,
      |       epoch_ms(max(ts)) AS session_end_ms,
      |       count(*) AS n_events,
      |       round(sum(value), 2) AS total_value
      |FROM y GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** The DECLARATIVE sessionization spelling: Spark's built-in
    * `session_window(ts, gap)` dynamic-gap grouping, planned as a single
    * aggregate over merged session windows — no custom state code at
    * all, and the same operator works unchanged under Structured
    * Streaming with a watermark. Complements q_sessionize (the
    * flatMapGroupsWithState spelling with an explicit state machine):
    * same session boundaries, hash-checked against the identical
    * lag/cumsum oracle, with the one definitional difference that
    * `window.end` is last-event-time + gap (mirrored in the oracle as
    * max(ts) + gap).
    */
  private def sessionWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start_ms")

  private val sessionWindowAggSql =
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 600000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
      |    AS session_id
      |  FROM x)
      |SELECT user_id,
      |       epoch_ms(min(ts)) AS session_start_ms,
      |       epoch_ms(max(ts)) + 600000 AS session_end_ms,
      |       count(*) AS n_events,
      |       round(sum(value), 2) AS total_value
      |FROM y GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_ms""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("q_sessionize", sessionize, Some(sessionizeSql)),
    Gate("q_session_window", sessionWindowAgg, Some(sessionWindowAggSql)),
    Gate("q_stream_session", streamSession, Some(streamSessionSql)),
    Gate("q_asof_join", asofJoin, Some(asofJoinSql)),
    Gate("q_sql_surface", sqlSurface, Some(sqlSurfaceSql)),
    Gate("q_sql_dot", sqlDot, Some(sqlDotSql)),
    Gate("q_salted_join", saltedJoin, Some(saltedJoinSql)),
    Gate("q_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    Gate("q_incremental_user", incrementalUser, Some(incrementalUserSql)),
    Gate("q_incremental_service", incrementalService,
      Some(incrementalServiceSql)),
    Gate("q_skew_agg", skewAgg, Some(skewAggSql)),
    Gate("q_range_join", rangeJoin, Some(rangeJoinSql)),
    Gate("q_interval_join", intervalJoin, Some(intervalJoinSql)),
    Gate("q_auto_range_join", autoRangeJoin, Some(rangeJoinSql)),
    Gate("q_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    Gate("q_runtime_filter_join", runtimeFilterJoin, Some(runtimeFilterJoinSql)),
    Gate("q_zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    Gate("q_ivf_topk", ivfTopK, Some(ivfTopKSql)),
    Gate("q_ivf_topk_exact", ivfTopKExact, Some(bruteTopK5Sql)),
    Gate("q_pq_topk_exact", pqTopKExact, Some(bruteTopK5Sql)),
    Gate("q_sq_topk_exact", sqTopKExact, Some(bruteTopK5Sql)),
    Gate("q_knn_graph_blocked_exact", knnGraphBlockedExact,
      Some(knnGraphBlockedExactSql)),
    Gate("q_ivf_rebalance", ivfRebalance, Some(ivfTopKSql)),
    Gate("q_pq_topk", pqTopK, Some(pqTopKSql)),
    Gate("q_pq_retrain", pqRetrain, Some(retrainSql)),
    Gate("q_sq_retrain", sqRetrain, Some(retrainSql)),
    Gate("q_ivfpq_retrain", ivfPqRetrain, Some(retrainSql)),
    Gate("q_binary_topk", binaryTopK, Some(binaryTopKSql)),
    Gate("q_pq_persist", pqPersist, Some(pqPersistSql)),
    Gate("q_ivf_persist", ivfPersist, Some(ivfPersistSql)),
    Gate("q_ivf_delete", ivfDelete, Some(ivfDeleteSql)),
    Gate("q_ivf_readd", ivfReadd, Some(ivfReaddSql)),
    Gate("q_stream_vec_delete", streamVecDelete, Some(ivfDeleteSql)),
    Gate("q_ann_filtered", annFiltered, Some(annFilteredSql)),
    Gate("q_embed_dedup_inc", embedDedupInc, Some(embedDedupIncSql)),
    Gate("q_stream_embed_dedup", streamEmbedDedup, Some(embedDedupIncSql)),
    Gate("q_ivfpq_topk", ivfPqTopK, Some(ivfPqTopKSql)),
    Gate("q_ivfpq_persist", ivfPqPersist, Some(ivfPqPersistSql)),
    Gate("q_sq_topk", sqTopK, Some(sqTopKSql)),
    Gate("q_sq_persist", sqPersist, Some(sqPersistSql)),
    Gate("q_binary_persist", binaryPersist, Some(binaryPersistSql)),
    Gate("q_ann_federate", annFederate, Some(annFederateSql)),
    Gate("q_ann_fed_serve", annFedServe, Some(annFedServeSql)),
    Gate("q_ivf_federate", ivfFederate, Some(ivfFederateSql)),
    Gate("q_stream_ann", streamAnn, Some(streamAnnSql)),
    Gate("q_stream_ingest", streamIngest, Some(streamIngestSql)),
    Gate("q_stream_incremental", streamIncremental,
      Some(streamIncrementalSql)),
    Gate("q_stream_window", streamWindow, Some(streamWindowSql)),
    Gate("q_stream_join", streamJoin, Some(streamJoinSql)),
    Gate("q_stream_dedup", streamDedup, Some(streamDedupSql)),
    Gate("q_stream_dedup_wm", streamDedupWm, Some(streamDedupWmSql)),
    Gate("q_stream_static", streamStatic, Some(streamStaticSql)),
    Gate("q_stream_stateful", streamStateful, Some(streamStatefulSql)),
    Gate("q_stream_tws", streamTws, Some(streamTwsSql)),
    Gate("q_stream_outer_join", streamOuterJoin, Some(streamOuterJoinSql)),
  )
}
