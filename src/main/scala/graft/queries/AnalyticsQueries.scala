package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Gate, Tables}
import OracleSql._
import GateOps._

/** Multi-dimensional and statistical aggregation surface: CUBE / ROLLUP
  * (grouping-set expansion), pivot, moment statistics, and exact
  * interpolated percentiles — the ad-hoc-analytics operators a user of the
  * reference's DuckDB file would reach for next (`duckdb -ui` over the
  * aggregate tables, reference README.md:294-310).
  *
  * Scale notes: CUBE/ROLLUP plan a single Expand + hash aggregate (one
  * shuffle for all grouping sets); pivot is a plain hash aggregate with a
  * fixed column budget; moment stats merge associatively (partial+final);
  * exact percentiles need a per-group sort — `q_approx_percentiles` is the
  * mergeable-sketch variant that replaces it at 100 TB.
  */
object AnalyticsQueries {

  // ---- CUBE over two dimensions ------------------------------------------
  private def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val cubeAggSql =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin

  // ---- ROLLUP over a date hierarchy --------------------------------------
  private def rollupDate(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"), col("o_totalprice"))
      .rollup("y", "m")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy(col("gid"), col("y").asc_nulls_first,
        col("m").asc_nulls_first)

  private val rollupDateSql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
      |       CAST(month(o_orderdate) AS INTEGER) AS m,
      |       CAST(GROUPING(year(o_orderdate), month(o_orderdate)) AS BIGINT)
      |         AS gid,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
      |ORDER BY gid, y NULLS FIRST, m NULLS FIRST""".stripMargin

  // ---- explicit grouping sets ---------------------------------------------
  /** Arbitrary GROUPING SETS (not the power set of CUBE nor the prefix
    * chain of ROLLUP): per-flag totals, per-status totals, and the grand
    * total in ONE Expand + hash aggregate — three rollups for one
    * shuffle.
    */
  private def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
        |         AS gid,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)
  }

  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin

  // ---- pivot --------------------------------------------------------------
  /** Explicit value list — at scale an unbounded `pivot(col)` would first
    * run a distinct scan and can explode the column budget; pinning the
    * values also pins the output schema for the oracle.
    */
  private def pivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .orderBy("o_orderpriority")

  private val pivotStatusSql =
    """SELECT o_orderpriority,
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS "F",
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS "O",
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      .stripMargin

  // ---- unpivot (melt) ------------------------------------------------------
  /** The inverse of `q_pivot`: wide per-priority status sums melt back to
    * long form via `unpivot` (Spark's melt; `stack` is the expression-
    * level equivalent). Per-row reshape — no extra shuffle beyond the
    * source aggregate.
    */
  private def unpivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .na.fill(0.0, Seq("F", "O", "P"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "revenue")
      .orderBy("o_orderpriority", "status")

  private val unpivotStatusSql =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |         coalesce(round(sum(o_totalprice)
      |           FILTER (o_orderstatus = 'F'), 2), 0) AS "F",
      |         coalesce(round(sum(o_totalprice)
      |           FILTER (o_orderstatus = 'O'), 2), 0) AS "O",
      |         coalesce(round(sum(o_totalprice)
      |           FILTER (o_orderstatus = 'P'), 2), 0) AS "P"
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, status, revenue
      |FROM w UNPIVOT INCLUDE NULLS (revenue FOR status IN ("F", "O", "P"))
      |ORDER BY o_orderpriority, status""".stripMargin
  private def statsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6)
          .as("covar_qty_disc"))
      .orderBy("l_returnflag")

  private val statsAggSql =
    """SELECT l_returnflag,
      |       round(stddev_samp(l_quantity), 6) AS sd_qty,
      |       round(var_samp(l_quantity), 6) AS var_qty,
      |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |       round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- exact interpolated percentiles ------------------------------------
  /** Exact `percentile` (linear interpolation) matches DuckDB's
    * `quantile_cont` definition; needs a per-group sort, so at 100 TB the
    * sketch-based `q_approx_percentiles` below is the scale path.
    */
  private def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"))
      .orderBy("l_returnflag")

  private val percentilesSql =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
      |       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Mergeable-sketch percentiles (no per-group sort; partial+final
    * aggregation like any other agg). Accuracy-bounded, not exact, so the
    * gate emits the exact values (oracle-matched) plus booleans asserting
    * the sketch landed within one quantity unit of them — the sketch's
    * rank error at accuracy=10000 is well under a unit on this column.
    */
  private def approxPercentiles(s: SparkSession, d: String): DataFrame = {
    def ok(a: Column, e: Column) = abs(a - e) <= 1.0
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.9)), lit(10000)).as("aq"),
        expr("percentile(l_quantity, 0.25)").as("e25"),
        expr("percentile(l_quantity, 0.5)").as("e50"),
        expr("percentile(l_quantity, 0.9)").as("e90"))
      .select(col("l_returnflag"),
        round(col("e25"), 6).as("p25_qty"),
        round(col("e50"), 6).as("p50_qty"),
        round(col("e90"), 6).as("p90_qty"),
        ok(element_at(col("aq"), 1), col("e25")).as("p25_ok"),
        ok(element_at(col("aq"), 2), col("e50")).as("p50_ok"),
        ok(element_at(col("aq"), 3), col("e90")).as("p90_ok"))
      .orderBy("l_returnflag")
  }

  private val approxPercentilesSql =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
      |       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |       true AS p25_ok, true AS p50_ok, true AS p90_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- generator (UDTF surface): explode + re-aggregate ------------------
  /** Token frequency via `explode` — the generator expression surface
    * (reference needs none, SURVEY §2.10; built-in generators are the
    * documented UDTF story). Generators multiply rows before the shuffle,
    * so the filter goes BEFORE explode where possible (here: length
    * filter on the token applies after, but the source projection prunes
    * to one column before the 30-40x row multiplication).
    */
  private def explodeTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 6)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .orderBy(desc("n"), col("tok"))

  private val explodeTokensSql =
    s"""SELECT tok, count(*) AS n
       |FROM (SELECT unnest(${tokenize("text")})
       |        AS tok
       |      FROM documents)
       |WHERE len(tok) >= 6
       |GROUP BY tok HAVING count(*) >= 20
       |ORDER BY n DESC, tok""".stripMargin

  // ---- collection aggregates ---------------------------------------------
  /** `collect_list`/`collect_set` assemble per-group arrays; both engines
    * produce them in partition-dependent order, so the gate (like any
    * sane consumer) wraps them in `array_sort` — the unsorted spelling is
    * nondeterministic BY CONTRACT on both engines.
    */
  private def collectAgg(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(
        // joined to strings because the hash-compare harness (like most
        // downstream tabular tooling) can't hash array cells
        array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("doc_ids"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"))
      .orderBy("source")

  private val collectAggSql =
    """SELECT source,
      |       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
      |       array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- histogram binning --------------------------------------------------
  /** Fixed-grid histogram via `width_bucket` — binning is a pure per-row
    * expression, so the whole histogram is one partial+final aggregate
    * over integer bins (the distributed-histogram shape that needs no
    * sort and no sketch at any scale).
    */
  private def histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(width_bucket(col("l_extendedprice"),
        lit(0d), lit(110000d), lit(22)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /** DuckDB has no `width_bucket`; the mirror spells out its ANSI
    * semantics (0 below range, count+1 at-or-above the upper bound,
    * else floor((x-lo)/width)+1).
    */
  private val histogramSql =
    """SELECT CAST(CASE WHEN l_extendedprice < 0 THEN 0
      |                 WHEN l_extendedprice >= 110000 THEN 23
      |                 ELSE floor(l_extendedprice / 5000) + 1 END
      |            AS BIGINT) AS bin,
      |       count(*) AS n
      |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin

  // ---- string similarity (edit distance) ---------------------------------
  /** Pairwise `levenshtein` over 40-char prefixes of adjacent doc pairs —
    * restricted to lang='en' so both engines count the same (ASCII)
    * characters. A per-pair scalar, no shuffle beyond the pair join.
    */
  private def editDistance(s: SparkSession, d: String): DataFrame = {
    val en = Tables.documents(s, d).filter(col("lang") === "en")
    val a = en.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), substring(lower(col("text")), 1, 40).as("ta"))
    val b = en.filter(col("doc_id") % 20 === 1)
      .select((col("doc_id") - 1).as("doc_id"),
        substring(lower(col("text")), 1, 40).as("tb"))
    a.join(b, "doc_id")
      .select(col("doc_id"), levenshtein(col("ta"), col("tb")).as("dist"))
      .orderBy("doc_id")
  }

  private val editDistanceSql =
    """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
      |a AS (SELECT doc_id, substr(lower(text), 1, 40) AS ta
      |      FROM en WHERE doc_id % 20 = 0),
      |b AS (SELECT doc_id - 1 AS doc_id, substr(lower(text), 1, 40) AS tb
      |      FROM en WHERE doc_id % 20 = 1)
      |SELECT doc_id, CAST(levenshtein(ta, tb) AS INTEGER) AS dist
      |FROM a JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- JSON surface -------------------------------------------------------
  /** `to_json` → `get_json_object`/`from_json` round-trip: the oracle
    * computes the expected end values straight from the columns, so the
    * whole serialize/extract/parse path is value-checked without tying
    * the gate to either engine's JSON text formatting.
    */
  private def jsonRoundtrip(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("js",
        to_json(struct(col("doc_id"), col("source"), col("n_chars"))))
      .select(col("doc_id"),
        get_json_object(col("js"), "$.source").as("j_source"),
        get_json_object(col("js"), "$.n_chars").cast("int").as("j_chars"),
        (from_json(col("js"), org.apache.spark.sql.types.StructType
          .fromDDL("doc_id BIGINT, source STRING, n_chars INT"))
          .getField("doc_id") === col("doc_id")).as("id_ok"))
      .orderBy("doc_id")

  private val jsonRoundtripSql =
    """SELECT doc_id, source AS j_source,
      |       CAST(n_chars AS INTEGER) AS j_chars, true AS id_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- JSON property extraction -------------------------------------------
  /** Semi-structured payloads: the driver's real `events.props` JSON
    * column, extracted (`get_json_object` — a per-row codegen'd
    * expression, no UDF), cast, filtered, and aggregated. At scale the
    * extraction runs inside the scan's whole-stage-codegen pass; only
    * (event_type, k) ints reach the shuffle.
    */
  private def propsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") >= 10)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  private val propsJsonSql =
    """WITH e AS (SELECT event_type,
      |                  CAST(props->>'k' AS INTEGER) AS k FROM events)
      |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |       round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
      |FROM e WHERE k >= 10 GROUP BY event_type ORDER BY event_type"""
      .stripMargin

  /** The same payload through Spark 4's VARIANT type: `parse_json` once
    * into the binary variant encoding, then typed `variant_get` paths —
    * the engine-native semi-structured column (shredded storage-ready)
    * vs q_props_json's per-access string re-parse. At scale the
    * difference is one parse per row feeding ALL accesses instead of one
    * parse per `get_json_object` call; the aggregate (plus a
    * variant→json roundtrip sample) is value-mirrored in DuckDB's JSON
    * operators.
    */
  private def variantJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"),
        to_json(col("v")).as("vj"))
      .filter(col("k") >= 10)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        // variant→json emits the canonical compact form regardless of
        // source spacing — pinned as a per-row contract the oracle
        // asserts true (DuckDB's JSON cast preserves source text, so a
        // length mirror would compare formatting, not values)
        bool_and(col("vj") ===
          concat(lit("{\"k\":"), col("k").cast("string"), lit("}")))
          .as("compact_ok"))
      .orderBy("event_type")

  private val variantJsonSql =
    """WITH e AS (SELECT event_type,
      |                  CAST(props->>'k' AS INTEGER) AS k
      |           FROM events)
      |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |       min(k) AS min_k, max(k) AS max_k, true AS compact_ok
      |FROM e WHERE k >= 10 GROUP BY event_type ORDER BY event_type"""
      .stripMargin

  // ---- regexp_extract_all + array fold ------------------------------------
  /** Multi-match regex extraction (`regexp_extract_all`) folded with
    * higher-order array functions — all codegen'd per-row expressions,
    * no UDF, no extra shuffle. Counted by length (not numeric cast) so
    * arbitrarily long digit runs can't overflow either engine.
    */
  private def regexExtract(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '[0-9]+', 0)").as("nums"))
      .select(col("doc_id"), size(col("nums")).as("n_numbers"),
        expr("aggregate(transform(nums, x -> length(x)), 0, (a, x) -> a + x)")
          .as("digit_chars"))
      .orderBy("doc_id")

  private val regexExtractSql =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
      |         AS n_numbers,
      |       CAST(coalesce(list_sum(list_transform(
      |              regexp_extract_all(text, '[0-9]+'),
      |              x -> length(x))), 0) AS INTEGER) AS digit_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- heavy hitters (frequent-items sketch) ------------------------------
  /** `stat.freqItems` (Karp/Shenker/Papadimitriou one-pass sketch) must
    * surface every operation type the exact top-3 contains — the
    * accuracy-boolean oracle pattern: the sketch's guarantee (no false
    * negatives above the support threshold) is what gets hash-checked.
    */
  private def freqItems(s: SparkSession, d: String): DataFrame = {
    val ev = EventsBilling(s, d)
    val sketch = ev.stat.freqItems(Seq("operation_type"), 0.05)
      .head.getSeq[String](0).toSet
    val exactTop3 = ev.groupBy("operation_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("operation_type"))
      .limit(3)
    exactTop3.select(col("operation_type"), col("n"),
      typedLit(sketch.toSeq.sorted).as("__s"))
      .select(col("operation_type"), col("n"),
        array_contains(col("__s"), col("operation_type")).as("found_ok"))
      .orderBy("operation_type")
  }

  private val freqItemsSql =
    s"""${EventsBilling.cte}
       |SELECT operation_type, n, true AS found_ok FROM (
       |  SELECT operation_type, count(*) AS n FROM billing
       |  GROUP BY operation_type ORDER BY n DESC, operation_type LIMIT 3)
       |ORDER BY operation_type""".stripMargin

  // ---- mergeable frequency / membership sketches --------------------------
  /** Count-min sketch (`stat.countMinSketch`, Cormode-Muthukrishnan):
    * one-pass mergeable frequency sketch — the 100 TB shape for "how
    * often does each key occur" when the key domain is too wide for an
    * exact groupBy. The CMS guarantee is one-sided (estimate ≥ true
    * count, ≤ true + ε·N with probability 1−δ); the gate emits the exact
    * per-key counts plus both bound checks as booleans the oracle pins
    * true — the sketch is seeded, so the run is deterministic.
    */
  /** KMV distinct sketch ([[graft.ext.DataOps.kmvSketches]]): per-type
    * distinct-user sketches (k = 8) plus their lossless union row
    * (`__all__`) — the summary-composition path HLL can't value-check.
    * Because the sketch keeps the actual k smallest md5Hash48 values,
    * the ORACLE replays it exactly: k smallest distinct hashes per
    * group, kth-min, and the `(k−1)/ρ(h_k)` estimate — every kept hash,
    * not just bounds, is value-checked.
    */
  private def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val per = graft.ext.DataOps.kmvSketches(Tables.events(s, d),
      col("event_type"), col("user_id"), k)
    val all = graft.ext.DataOps.kmvUnion(per, "__all__", k)
    per.unionByName(all)
      .select(col("g").as("event_type"),
        size(col("sketch")).as("n_kept"),
        element_at(col("sketch"), -1).as("kth_min"),
        round(graft.ext.DataOps.kmvEstimate(col("sketch"), k), 6)
          .as("est_distinct"))
      .orderBy("event_type")
  }

  private val kmvDistinctSql =
    """WITH hd AS (SELECT DISTINCT event_type,
      |              ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
      |                1, 12))::BIGINT AS h
      |            FROM events),
      |rk AS (SELECT event_type, h, row_number() OVER (
      |         PARTITION BY event_type ORDER BY h) AS rn FROM hd),
      |grp AS (SELECT event_type, CAST(count(*) AS INTEGER) AS n_kept,
      |          max(h) AS kth_min
      |        FROM rk WHERE rn <= 8 GROUP BY 1),
      |grk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
      |        FROM (SELECT DISTINCT h FROM hd)),
      |u AS (SELECT * FROM grp UNION ALL
      |      SELECT '__all__', CAST(count(*) AS INTEGER), max(h)
      |      FROM grk WHERE rn <= 8)
      |SELECT event_type, n_kept, kth_min,
      |       round(CASE WHEN n_kept < 8 THEN CAST(n_kept AS DOUBLE)
      |             ELSE 7.0 * 281474976710656.0 / kth_min END, 6)
      |         AS est_distinct
      |FROM u ORDER BY event_type""".stripMargin

  /** Incremental KMV ([[graft.ext.DataOps.kmvMerge]]): the event stream
    * arrives as two batches (event_id parity); batch 1's sketches are
    * PERSISTED to parquet and loaded back, batch 2's fold in through
    * the same k-min buffer — and the result must be byte-identical to
    * sketching the whole corpus at once (`merge(sk(A), sk(B)) ≡
    * sk(A ∪ B)`, exact by the k-min property), so the SAME oracle gates
    * both this and [[kmvDistinct]]. The sketch table is maintainable
    * forever without revisiting history.
    */
  private def kmvIncremental(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val ev = Tables.events(s, d)
    val sk1 = graft.ext.DataOps.kmvSketches(
      ev.filter(col("event_id") % 2 === 0), col("event_type"),
      col("user_id"), k)
    val dir = graft.Gate.tmpDir("gate_kmv_")
    sk1.write.mode("overwrite").parquet(s"$dir/sketches")
    val sk2 = graft.ext.DataOps.kmvSketches(
      ev.filter(col("event_id") % 2 === 1), col("event_type"),
      col("user_id"), k)
    val merged = graft.ext.DataOps.kmvMerge(
      s.read.parquet(s"$dir/sketches"), sk2, k)
    val all = graft.ext.DataOps.kmvUnion(merged, "__all__", k)
    merged.unionByName(all)
      .select(col("g").as("event_type"),
        size(col("sketch")).as("n_kept"),
        element_at(col("sketch"), -1).as("kth_min"),
        round(graft.ext.DataOps.kmvEstimate(col("sketch"), k), 6)
          .as("est_distinct"))
      .orderBy("event_type")
  }

  /** STREAMING KMV maintenance ([[graft.ext.DataOps.kmvMerge]] inside
    * `foreachBatch`): the event stream drains in two micro-batches;
    * each batch sketches itself (one map-side-combined aggregation
    * over the batch only) and folds into the PERSISTED sketch table
    * through the same k-min buffer, publishing a new version per
    * batch. The exact merge law `merge(sk(A), sk(B)) ≡ sk(A ∪ B)`
    * makes the table batch-boundary-invariant by construction, so the
    * SAME oracle gates this, [[kmvIncremental]], and [[kmvDistinct]].
    * The 100 TB shape: distinct-count summaries maintained forever on
    * the ingest path, ≤k longs per group per batch moving, history
    * never revisited.
    */
  private def streamKmv(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val in = graft.Gate.tmpDir("gate_skmv_in_")
    val ckpt = graft.Gate.tmpDir("gate_skmv_ck_")
    val store = graft.Gate.tmpDir("gate_skmv_store_")
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d1")
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/d2")
    def versions(): Seq[Long] =
      Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
        .map(_.getName).filter(_.startsWith("v-"))
        .map(_.stripPrefix("v-").toLong).sorted
    drain(s, "event_id LONG, event_type STRING, user_id LONG", in,
        ckpt) { (batch, bid) =>
      val skB = graft.ext.DataOps.kmvSketches(batch, col("event_type"),
        col("user_id"), k)
      val merged = versions().lastOption match {
        case Some(v) => graft.ext.DataOps.kmvMerge(
          s.read.parquet(s"$store/v-$v"), skB, k)
        case None => skB
      }
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$store/v-$bid")
    }
    val cur = s.read.parquet(s"$store/v-${versions().last}")
    val all = graft.ext.DataOps.kmvUnion(cur, "__all__", k)
    cur.unionByName(all)
      .select(col("g").as("event_type"),
        size(col("sketch")).as("n_kept"),
        element_at(col("sketch"), -1).as("kth_min"),
        round(graft.ext.DataOps.kmvEstimate(col("sketch"), k), 6)
          .as("est_distinct"))
      .orderBy("event_type")
  }

  /** KMV resemblance (Broder minwise / Beyer SIGMOD'07 composition):
    * pairwise Jaccard of the per-type (user, day) activity sets,
    * estimated ENTIRELY from the k-min sketches — merge two sketches to
    * the union's k smallest, count how many of those sit in both — and
    * replayed exactly by the oracle because the sketches hold real
    * md5Hash48 values. The sketch-algebra story: set EXPRESSIONS
    * (union/intersection estimates) over summaries that moved ≤k longs
    * per group, for sets that at 100 TB never co-materialize.
    */
  private def kmvResemblance(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val sk = graft.ext.DataOps.kmvSketches(Tables.events(s, d),
      col("event_type"),
      concat(col("user_id"), lit("/"), to_date(col("ts")).cast("string")),
      k)
    sk.as("a").join(sk.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("type_a"), col("b.g").as("type_b"),
        col("a.sketch").as("sa"), col("b.sketch").as("sb"))
      .withColumn("merged",
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      .select(col("type_a"), col("type_b"),
        size(col("merged")).as("m_size"),
        size(array_intersect(col("merged"),
          array_intersect(col("sa"), col("sb")))).as("shared"))
      .withColumn("resemblance",
        round(col("shared").cast("double") / col("m_size"), 6))
      .orderBy("type_a", "type_b")
  }

  private val kmvResemblanceSql =
    """WITH hd AS (SELECT DISTINCT event_type,
      |              ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '/' ||
      |                CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 12))::BIGINT
      |                AS h
      |            FROM events),
      |rk AS (SELECT event_type, h, row_number() OVER (
      |         PARTITION BY event_type ORDER BY h) AS rn FROM hd),
      |sk AS (SELECT event_type, list_sort(list(h)) AS sketch
      |       FROM rk WHERE rn <= 64 GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        a.sketch AS sa, b.sketch AS sb,
      |        list_sort(list_distinct(list_concat(a.sketch, b.sketch)))
      |          [1:64] AS merged
      |      FROM sk a JOIN sk b ON a.event_type < b.event_type)
      |SELECT type_a, type_b,
      |       CAST(len(merged) AS INTEGER) AS m_size,
      |       CAST(len(list_intersect(merged, list_intersect(sa, sb)))
      |         AS INTEGER) AS shared,
      |       round(CAST(len(list_intersect(merged, list_intersect(sa, sb)))
      |           AS DOUBLE) / len(merged), 6) AS resemblance
      |FROM p ORDER BY type_a, type_b""".stripMargin

  private def cmsCounts(s: SparkSession, d: String): DataFrame = {
    val ev = EventsBilling(s, d)
    val total = ev.count()
    val eps = 0.001
    val cms = ev.stat.countMinSketch(col("operation_type"),
      eps = eps, confidence = 0.99, seed = 42)
    // driver collect is safe ONLY because operation_type is a handful of
    // values (the gate's point is the sketch bounds, not the groupBy);
    // probing a wide key domain this way would be a driver bottleneck —
    // probe executor-side against a broadcast sketch instead, as
    // q_bloom_membership does
    val exact = ev.groupBy("operation_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = exact.map { case (op, n) =>
      val est = cms.estimateCount(op)
      (op, n, est >= n, est <= n + (eps * total).toLong)
    }.toSeq
    import s.implicits._
    rows.toDF("operation_type", "n", "lower_ok", "upper_ok")
      .orderBy("operation_type")
  }

  private val cmsCountsSql =
    s"""${EventsBilling.cte}
       |SELECT operation_type, count(*) AS n,
       |       true AS lower_ok, true AS upper_ok
       |FROM billing GROUP BY operation_type ORDER BY operation_type"""
      .stripMargin

  /** Bloom filter (`stat.bloomFilter`): one-pass mergeable membership
    * sketch — at 100 TB the standard pre-filter handed to other scans
    * (the manual counterpart of q_runtime_filter_join's automatic
    * injection). No false negatives by construction (every present key
    * must hit); the false-positive rate on a disjoint probe set must
    * stay near the configured bound — both pinned as booleans.
    */
  private def bloomMembership(s: SparkSession, d: String): DataFrame = {
    val ev = EventsBilling(s, d)
    val present = ev.select(col("invoice_id")).distinct()
    val nKeys = present.count()
    val bf = ev.stat.bloomFilter(col("invoice_id"), nKeys, 0.01)
    // the 100 TB membership shape: broadcast the (few-MB) sketch and
    // probe EXECUTOR-side as a column, aggregating the booleans — the
    // key set itself never moves to the driver
    val bcast = s.sparkContext.broadcast(bf)
    val probe = udf((k: String) => bcast.value.mightContain(k))
    def nHits(df: DataFrame, key: Column): Long =
      df.agg(sum(when(probe(key), 1L).otherwise(0L))).head().getLong(0)
    val hits = nHits(present, col("invoice_id"))
    // disjoint probe set: invoice ids that cannot exist
    val nAbsent = 20000L
    val fp = nHits(
      s.range(nAbsent).select(
        concat(lit("no-such-invoice-"), col("id")).as("k")), col("k"))
    import s.implicits._
    Seq((nKeys, hits == nKeys, fp <= (nAbsent * 0.03).toLong))
      .toDF("n_keys", "no_false_negatives", "fpr_ok")
  }

  private val bloomMembershipSql =
    s"""${EventsBilling.cte}
       |SELECT count(DISTINCT invoice_id) AS n_keys,
       |       true AS no_false_negatives, true AS fpr_ok
       |FROM billing""".stripMargin

  // ---- time-range rolling window ------------------------------------------
  /** 7-day rolling usage per user via a RANGE frame over day numbers —
    * the time-based frame the row-count frames (`q_window_running`) can't
    * express when days are missing. Pre-aggregating to one row per
    * (user, day) before the window keeps the frame scan proportional to
    * active days, not raw events — at 100 TB the window input is the
    * (tiny) daily rollup, never the fact table.
    */
  private def rollingWindow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("user_id") % 50 === 0)
      .groupBy(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01")).as("dnum"))
      .agg(round(sum("value"), 2).as("day_total"))
    val w = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(-6, 0)
    daily.select(col("user_id"), col("dnum"), col("day_total"),
      round(sum("day_total").over(w), 2).as("rolling_7d"))
      .orderBy("user_id", "dnum")
  }

  private val rollingWindowSql =
    """WITH dly AS (
      |  SELECT user_id,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |              AS INTEGER) AS dnum,
      |         round(sum(value), 2) AS day_total
      |  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2)
      |SELECT user_id, dnum, day_total,
      |       round(sum(day_total) OVER (PARTITION BY user_id ORDER BY dnum
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
      |         AS rolling_7d
      |FROM dly ORDER BY user_id, dnum""".stripMargin

  // ---- ranking functions ---------------------------------------------------
  /** The distribution-ranking window surface: dense_rank / ntile /
    * percent_rank / cume_dist over per-customer revenue. The ordering
    * carries a unique tie-break (custkey), so every rank is
    * deterministic. This is an unpartitioned window — a single-reducer
    * sort — which is fine exactly because it runs over an already
    * aggregated (small) relation; ranking a fact table this way would
    * serialize, so the pre-aggregation IS the scale design.
    */
  private def rankFuncs(s: SparkSession, d: String): DataFrame = {
    val totals = Tables.orders(s, d)
      .filter(col("o_custkey") % 100 === 0)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("total"))
    val w = Window.orderBy(desc("total"), col("o_custkey"))
    totals.select(col("o_custkey"), col("total"),
      dense_rank().over(w).as("drank"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("o_custkey")
  }

  private val rankFuncsSql =
    """WITH t AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS total
      |           FROM orders WHERE o_custkey % 100 = 0 GROUP BY 1)
      |SELECT o_custkey, total,
      |       CAST(dense_rank() OVER w AS INTEGER) AS drank,
      |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(cume_dist() OVER w, 6) AS cdist
      |FROM t WINDOW w AS (ORDER BY total DESC, o_custkey)
      |ORDER BY o_custkey""".stripMargin

  // ---- z-score outlier detection ------------------------------------------
  /** Per-group anomaly filter: |value − μ| > 3σ within each event type.
    * Deliberately NOT a window over the fact rows (a per-type window
    * partitions all data by a 5-value key = instant skew): group stats are
    * one partial+final aggregate, then a broadcast join streams the facts
    * through the filter with no second shuffle — the same two-pass shape
    * works unchanged when the facts are 100 TB.
    */
  private def zscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
    val z = (col("value") - col("mu")) / col("sd")
    ev.join(broadcast(stats), "event_type")
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), round(z, 4).as("z"))
      .orderBy("event_id")
  }

  private val zscoreOutliersSql =
    """WITH st AS (SELECT event_type, avg(value) AS mu,
      |                   stddev_samp(value) AS sd
      |            FROM events GROUP BY 1)
      |SELECT event_id, e.event_type, round(value, 2) AS value,
      |       round((value - mu) / sd, 4) AS z
      |FROM events e JOIN st USING (event_type)
      |WHERE abs((value - mu) / sd) > 3
      |ORDER BY event_id""".stripMargin

  // ---- SCD2 change tracking ------------------------------------------------
  /** Slowly-changing-dimension (type 2) derivation from an event stream:
    * collapse each user's event-type timeline to change rows with
    * [valid_from, valid_to) effective ranges and a current flag — the
    * lag-detect-change / lead-close-interval composition. Same-timestamp
    * ties are collapsed first so the change sequence is well defined on
    * both engines. One shuffle on user_id serves both window passes.
    */
  /** SCD2 version table shared by q_scd2 and the point-in-time join:
    * one row per (user, attribute-change), effective-dated.
    */
  private def scd2Versions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") % 25 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_type").as("etype"))
    val w = Window.partitionBy("user_id").orderBy("ts")
    ev.withColumn("prev", lag("etype", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("etype"))
      .select(col("user_id"), col("etype"),
        unix_millis(col("ts")).as("valid_from_ms"),
        unix_millis(lead("ts", 1).over(w)).as("valid_to_ms"),
        lead("ts", 1).over(w).isNull.as("is_current"))
  }

  private def scd2(s: SparkSession, d: String): DataFrame =
    scd2Versions(s, d).orderBy("user_id", "valid_from_ms")

  private val scd2Sql =
    """WITH e AS (SELECT user_id, ts, max(event_type) AS etype
      |           FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
      |     m AS (SELECT *, lag(etype) OVER
      |             (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
      |     c AS (SELECT user_id, ts, etype FROM m
      |           WHERE prev IS NULL OR prev <> etype)
      |SELECT user_id, etype,
      |       epoch_ms(ts) AS valid_from_ms,
      |       epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |         AS valid_to_ms,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         AS is_current
      |FROM c ORDER BY user_id, valid_from_ms""".stripMargin

  // ---- temporal point-in-time join ----------------------------------------
  /** Point-in-time (temporal) lookup: every event joined to the SCD2
    * dimension version that was valid AT its event time — the warehouse
    * op behind "which tier/attribute did the user have when this
    * happened". Spelled as a backward as-of join on the version's
    * valid-from (versions tile time per key, so latest-start-≤-ts IS the
    * containing version — no between-join needed, one shuffle per side
    * on the key). DuckDB's native ASOF LEFT JOIN is the oracle.
    */
  private def pitJoin(s: SparkSession, d: String): DataFrame = {
    val dim = scd2Versions(s, d)
      .select(col("user_id"), col("etype"), col("valid_from_ms").as("vf"))
    val ev = Tables.events(s, d).filter(col("user_id") % 25 === 0)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"))
    graft.operators.AsOfJoin.backward(ev, dim, Seq("user_id"),
      "ts_ms", "vf", Seq("etype"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("etype").as("etype_at_event"))
      .orderBy("event_id")
  }

  private val pitJoinSql =
    """WITH e AS (SELECT user_id, ts, max(event_type) AS etype
      |           FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
      |     m AS (SELECT *, lag(etype) OVER
      |             (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
      |     c AS (SELECT user_id, ts, etype FROM m
      |           WHERE prev IS NULL OR prev <> etype),
      |     dim AS (SELECT user_id, etype, epoch_ms(ts) AS vf FROM c),
      |     ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
      |            FROM events WHERE user_id % 25 = 0)
      |SELECT ev.event_id, ev.user_id, ev.ts_ms,
      |       dim.etype AS etype_at_event
      |FROM ev ASOF LEFT JOIN dim
      |  ON ev.user_id = dim.user_id AND ev.ts_ms >= dim.vf
      |ORDER BY ev.event_id""".stripMargin

  /** Blocked record linkage ([[graft.operators.FuzzyJoin]]): a corrupted
    * copy of every 7th customer name (6th char deleted — head-of-string
    * noise) linked back to the clean table by an equi-join on the LAST
    * four characters (a block key that survives the corruption) and a
    * Levenshtein ≤ 2 verify on candidates only — never a cross product.
    * `recall_ok` pins that every corrupted row found its origin; the
    * pair set itself is mirrored exactly (DuckDB ships the same
    * levenshtein), including the occasional extra near-miss pair, which
    * is what a linkage CANDIDATE set is.
    */
  private def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        concat(substring(col("c_name"), 1, 5),
          substring(col("c_name"), 7, 100000)).as("c_name"))
    val nDirty = dirty.count()
    val linked = graft.operators.FuzzyJoin.linkByBlocking(
      cust, dirty, bk => substring(bk, -4, 4), "c_name", maxDistance = 2)
      .persist()
    val selfMatches = linked
      .filter(col("a_c_custkey") === col("b_c_custkey")).count()
    linked.select(col("a_c_custkey").as("clean_key"),
        col("b_c_custkey").as("dirty_key"), col("edit_dist"))
      .withColumn("recall_ok", lit(selfMatches == nDirty))
      .orderBy("clean_key", "dirty_key")
  }

  private val fuzzyJoinSql =
    """WITH dirty AS (
      |  SELECT c_custkey AS dirty_key,
      |         substr(c_name, 1, 5) || substr(c_name, 7) AS dname
      |  FROM customer WHERE c_custkey % 7 = 0)
      |SELECT c.c_custkey AS clean_key, d.dirty_key,
      |       CAST(levenshtein(c.c_name, d.dname) AS INTEGER) AS edit_dist,
      |       true AS recall_ok
      |FROM customer c JOIN dirty d ON right(c.c_name, 4) = right(d.dname, 4)
      |WHERE levenshtein(c.c_name, d.dname) <= 2
      |ORDER BY clean_key, dirty_key""".stripMargin

  /** [[graft.functions.TopKAgg]]: per-group top-k as ONE partial-
    * aggregating pass — identical output to q_window_topn's ranking
    * window, but groups × k longs cross the shuffle instead of every
    * row being shuffled and sort-buffered (at 100 TB the window's
    * shuffle IS the cost). Ordering (count desc, user asc) is packed
    * into an exact integer composite key, the same trick as [[maxBy]].
    */
  private def topkAgg(s: SparkSession, d: String): DataFrame = {
    val C = 1000000000L
    val counts = Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
    counts.select(col("event_type"),
        (col("n") * C + (lit(C - 1) - col("user_id"))).as("key"))
      .groupBy("event_type")
      .agg(udaf(new graft.functions.TopKAgg(3),
        org.apache.spark.sql.Encoders.scalaLong)(col("key")).as("ks"))
      .select(col("event_type"), posexplode(col("ks")))
      .select(col("event_type"),
        (lit(C - 1) - pmod(col("col"), lit(C))).as("user_id"),
        expr(s"col div ${C}L").as("n"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("event_type", "rn")
  }

  // same relational contract as q_window_topn — the gate's point is that
  // the aggregate path reproduces the window path bit-for-bit
  private val topkAggSql =
    """WITH c AS (SELECT event_type, user_id, count(*) AS n
      |           FROM events GROUP BY event_type, user_id)
      |SELECT event_type, user_id, n, CAST(rn AS INTEGER) AS rn FROM
      |  (SELECT *, row_number() OVER
      |     (PARTITION BY event_type ORDER BY n DESC, user_id) AS rn FROM c)
      |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin

  /** Ordered conversion funnel (signup → first later click → first later
    * purchase): each stage is a min-timestamp aggregate joined to the
    * previous stage with a strict event-time ordering filter — the
    * sequential-pattern query behavioral analytics runs constantly, and
    * one SQL window-less shape that stays cheap at scale (each stage's
    * per-user frame SHRINKS, so the joins get more broadcastable as the
    * funnel deepens; no per-user event-list materialization, no window
    * sort over the fact table).
    */
  private def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    import s.implicits._
    Seq(("1_signup", s1.count()),
      ("2_click_after_signup", s2.count()),
      ("3_purchase_after_click", s3.count()))
      .toDF("stage", "users").orderBy("stage")
  }

  private val funnelSql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |       JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |       JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      |SELECT '1_signup' AS stage, (SELECT count(*) FROM s1) AS users
      |UNION ALL
      |SELECT '2_click_after_signup', (SELECT count(*) FROM s2)
      |UNION ALL
      |SELECT '3_purchase_after_click', (SELECT count(*) FROM s3)
      |ORDER BY stage""".stripMargin

  // ---- arg-max / arg-min aggregates ---------------------------------------
  /** `max_by`/`min_by`: the one-pass argmax aggregate (vs the window
    * row_number-top-1 of `q_window_topn` — no sort, no window state, plain
    * partial+final agg). Both engines leave argmax ties implementation-
    * defined, so the ordering value is an exact integer composite
    * (price cents ⊕ orderkey) that is unique by construction.
    */
  private def maxBy(s: SparkSession, d: String): DataFrame = {
    val rankKey = round(col("o_totalprice") * 100).cast("long") *
      1000000000L + col("o_orderkey")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"), rankKey.as("rank_key"))
      .groupBy("o_orderpriority").agg(
        max_by(col("o_orderkey"), col("rank_key")).as("top_order"),
        round(max("o_totalprice"), 2).as("top_price"),
        min_by(col("o_orderkey"), col("rank_key")).as("bottom_order"),
        round(min("o_totalprice"), 2).as("bottom_price"))
      .orderBy("o_orderpriority")
  }

  private val maxBySql =
    """WITH o AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |                  CAST(round(o_totalprice * 100) AS BIGINT)
      |                    * 1000000000 + o_orderkey AS rank_key
      |           FROM orders)
      |SELECT o_orderpriority,
      |       arg_max(o_orderkey, rank_key) AS top_order,
      |       round(max(o_totalprice), 2) AS top_price,
      |       arg_min(o_orderkey, rank_key) AS bottom_order,
      |       round(min(o_totalprice), 2) AS bottom_price
      |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- gates --------------------------------------------------------------
  def gates: Seq[Gate] = Seq(
    Gate("q_cube", cubeAgg, Some(cubeAggSql)),
    Gate("q_rollup_date", rollupDate, Some(rollupDateSql)),
    Gate("q_pivot", pivotStatus, Some(pivotStatusSql)),
    Gate("q_stats_agg", statsAgg, Some(statsAggSql)),
    Gate("q_percentiles", percentiles, Some(percentilesSql)),
    Gate("q_approx_percentiles", approxPercentiles,
      Some(approxPercentilesSql)),
    Gate("q_explode_tokens", explodeTokens, Some(explodeTokensSql)),
    Gate("q_histogram", histogram, Some(histogramSql)),
    Gate("q_collect_agg", collectAgg, Some(collectAggSql)),
    Gate("q_edit_distance", editDistance, Some(editDistanceSql)),
    Gate("q_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    Gate("q_freq_items", freqItems, Some(freqItemsSql)),
    Gate("q_rolling_window", rollingWindow, Some(rollingWindowSql)),
    Gate("q_rank_funcs", rankFuncs, Some(rankFuncsSql)),
    Gate("q_zscore_outliers", zscoreOutliers, Some(zscoreOutliersSql)),
    Gate("q_scd2", scd2, Some(scd2Sql)),
    Gate("q_pit_join", pitJoin, Some(pitJoinSql)),
    Gate("q_kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    Gate("q_kmv_resemblance", kmvResemblance, Some(kmvResemblanceSql)),
    Gate("q_kmv_incremental", kmvIncremental, Some(kmvDistinctSql)),
    Gate("q_stream_kmv", streamKmv, Some(kmvDistinctSql)),
    Gate("q_cms_counts", cmsCounts, Some(cmsCountsSql)),
    Gate("q_bloom_membership", bloomMembership, Some(bloomMembershipSql)),
    Gate("q_max_by", maxBy, Some(maxBySql)),
    Gate("q_fuzzy_join", fuzzyJoin, Some(fuzzyJoinSql)),
    Gate("q_topk_agg", topkAgg, Some(topkAggSql)),
    Gate("q_funnel", funnel, Some(funnelSql)),
    Gate("q_props_json", propsJson, Some(propsJsonSql)),
    Gate("q_variant_json", variantJson, Some(variantJsonSql)),
    Gate("q_unpivot", unpivotStatus, Some(unpivotStatusSql)),
    Gate("q_regex_extract", regexExtract, Some(regexExtractSql)),
    Gate("q_grouping_sets", groupingSets, Some(groupingSetsSql)),
  )
}
