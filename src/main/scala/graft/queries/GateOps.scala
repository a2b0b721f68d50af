package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
import org.apache.spark.sql.types.StructType

/** Scala-side steps that many gates spell the same way. */
private[queries] object GateOps {

  /** Drain the parquet delivery files under `in` through `body`: a file
    * stream of `schema`, one file per micro-batch, run under
    * `Trigger.AvailableNow` with its checkpoint at `ckpt`. Returns once
    * every file has been through `body`.
    */
  def drain(s: SparkSession, schema: StructType, in: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit =
    drainFrom(s.readStream.schema(schema), in, ckpt)(body)

  /** [[drain]] with the schema given as a DDL string. */
  def drain(s: SparkSession, ddl: String, in: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit =
    drainFrom(s.readStream.schema(ddl), in, ckpt)(body)

  private def drainFrom(reader: DataStreamReader, in: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit =
    reader
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)
      .start()
      .awaitTermination()

  /** The recall-floor summary of a search gate: `(n, ok)` over the
    * `vec_id`s of `queries`, where a query is ok when at least one of
    * its `(query_id, neighbor_id)` rows in `got` is also in `truth`, `n`
    * counts the queries and `ok` holds when at least 80% of them are.
    */
  def recallFloor(queries: DataFrame, got: DataFrame, truth: DataFrame,
      n: String = "n_queries", ok: String = "search_ok"): DataFrame = {
    val hits = got.select("query_id", "neighbor_id")
      .join(truth.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .agg(count(lit(1)).as(n),
        sum(when(coalesce(col("n_hit"), lit(0L)) >= 1, 1L)
          .otherwise(0L)).as("n_ok"))
      .select(col(n), (col("n_ok") >= col(n) * 0.8).as(ok))
  }
}
