package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The session, tracer and recorder a workload's operations run with. */
final class Env(val spark: SparkSession, val tr: Tracer, val rec: Recorder)

/** A workload: generated inputs, a timed build, then closed-loop steps of
  * one client, each a write followed by its reads and any maintenance due.
  * All state (generator, stores, ground truth) lives under `dir`.
  */
trait Workload {
  /** Nominal seconds of one step on a 4-core host: `--seconds` divided
    * by this gives the number of steps a run makes.
    */
  def stepSeconds: Double
  /** Write the initial input files. */
  def generate(): Unit
  /** One `build` operation: initial input to a complete, queryable result. */
  def build(env: Env): Unit
  /** Step `i` of the closed loop. */
  def step(env: Env, i: Int): Unit
  /** A closing maintenance pass and the end-of-run output checks. */
  def finish(env: Env): Unit
  /** Delivered rows that writes committed. */
  def rowsCommitted: Long
  /** Bytes of generated input handed to the engine so far. */
  def inputBytes: Long
  /** Bytes under the engine's store roots. */
  def storeBytes: Long
  /** Workload-specific per-layer ratios. */
  def ratios: Map[String, Double] = Map.empty
  /** The spans of [[LayerMetrics.spans]] every run of this workload
    * records; a traced run that misses one fails.
    */
  def spans: Seq[String]
}

object Workload {
  val names = Seq("billing_daily", "corpus_lifecycle")

  def apply(name: String, seed: Long, dir: Path): Workload = name match {
    case "billing_daily"    => new BillingDaily(seed, dir, BillingDaily.knobs)
    case "corpus_lifecycle" => new CorpusLifecycle(seed, dir, CorpusLifecycle.knobs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
