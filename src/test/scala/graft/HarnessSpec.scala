package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The harness pieces that the benchmark tables rest on: the scale
  * probes' replicator and the scratch sweeper shared by gate staging and
  * shuffle scratch.
  */
class HarnessSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("ScaleProbe.replicate at factor 2: every fact table doubles, copy 1 " +
    "is copy 0 with keys + Off and rotated text, dims are copied once") {
    val out = tmpDir("replica_")
    ScaleProbe.replicate(spark, sf0001, out, 2)
    val read = (dir: String, t: String) => spark.read.parquet(s"$dir/$t.parquet")
    Seq("region", "nation").foreach { t =>
      assert(sameRows(read(out, t), read(sf0001, t)), t)
    }
    val keys = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    keys.foreach { case (t, ks) =>
      val base = read(sf0001, t)
      val rep = read(out, t)
      assert(rep.count() == 2 * base.count(), t)
      val copy0 = rep.filter(col(ks.head) < ScaleProbe.Off)
      val copy1 = ks.foldLeft(rep.filter(col(ks.head) >= ScaleProbe.Off))(
        (df, k) => df.withColumn(k, col(k) - ScaleProbe.Off))
      assert(sameRows(copy0, base), s"$t copy 0")
      val cols = base.columns.filter(_ != "text").map(col).toSeq
      assert(sameRows(copy1.select(cols: _*), copy0.select(cols: _*)),
        s"$t copy 1")
    }
    val docs = read(sf0001, "documents").select(col("doc_id"),
      col("text").as("base_text"))
    val copy1Docs = read(out, "documents")
      .filter(col("doc_id") >= ScaleProbe.Off)
      .withColumn("doc_id", col("doc_id") - ScaleProbe.Off)
      .join(docs, "doc_id")
    assert(copy1Docs.count() == docs.count())
    assert(copy1Docs.filter(col("text") === col("base_text")).isEmpty,
      "every copy-1 document's text is rotated")
    val ev = Tables.events(spark, out)
    val baseTs = Tables.events(spark, sf0001).select("ts")
    assert(ev.count() == 2 * baseTs.count())
    Seq(ev.filter(col("event_id") < ScaleProbe.Off),
      ev.filter(col("event_id") >= ScaleProbe.Off)).foreach { copy =>
      assert(sameRows(copy.select("ts"), baseTs))
    }
  }

  test("runIsolated hands back a child's exit code, and None for a child " +
    "that outruns its timeout") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val exit = Bench.runIsolated("graft.NoSuchMain", Nil, Map.empty, 120)(
      lines.add(_))
    assert(exit.exists(_ != 0), s"exit $exit")
    assert(!lines.isEmpty, "the child's output reaches onLine")
    assert(Bench.runIsolated("graft.NoSuchMain", Nil, Map.empty, 0)(_ => ())
      .isEmpty)
  }

  test("the pid-dir sweep removes a dead JVM's dir and keeps the caller's " +
    "own and a live process's") {
    val root = new java.io.File(tmpDir("piddirs_"))
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val live = new ProcessBuilder("sleep", "60").start()
    try {
      val mine = new java.io.File(root,
        s"pid-${ProcessHandle.current().pid()}")
      val alive = new java.io.File(root, s"pid-${live.pid()}")
      val gone = new java.io.File(root, s"pid-${dead.pid()}")
      Seq(mine, alive, gone).foreach { d =>
        new java.io.File(d, "blockmgr-x").mkdirs()
      }
      Gate.sweepDeadPidDirs(root, mine)
      assert(mine.isDirectory && alive.isDirectory)
      assert(!gone.exists())
    } finally live.destroyForcibly()
  }
}
