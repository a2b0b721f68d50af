package graft

import org.apache.spark.sql.SparkSession

/** The one local session config: every harness main (Bench, Verify,
  * Plans, ScaleProbe, both demos) and the test suite build their session
  * here. EntrySmoke keeps a plain builder on purpose: it proves that
  * `SparkEntry.entry` works on a session with none of these settings.
  */
object GraftSession {

  /** `local[cpus]` with the engine's extensions and `cpus` shuffle
    * partitions; `logLevel` is the SparkContext's.
    */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // typed aggregates (MinHash/SimHash) run via ObjectHashAggregate,
      // whose default sort-fallback kicks in at 128 groups/partition —
      // far below our per-doc signature groupBys
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // shuffle/spill scratch on tmpfs when available: the buffered-write
      // path of the hosts this was measured on throttles to ~40 MB/s
      // (direct I/O does 330), which both slows shuffles and makes timings
      // swing run-to-run. The dir is this JVM's pid namespace, so another
      // JVM's sweep never deletes a live run's shuffle scratch (a
      // long-lived `blockmgr-*` top dir keeps an old mtime, as files land
      // in its sub-dirs). SPARK_LOCAL_DIRS, when set, overrides it.
      .config("spark.local.dir", Gate.pidDir("graft_local")
        .fold(System.getProperty("java.io.tmpdir"))(_.getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `$SPARK_GRAFT_CPUS`, default 4: the core count of the harness mains. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `$SPARK_GRAFT_SF_DIR`, default sf0.1: the data the harness mains read. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
}
