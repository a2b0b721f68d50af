package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** perfbench entry point (see perfbench/README.md). One client drives the
  * engine's public calls in a closed loop; untraced runs report the
  * end-to-end metrics, traced runs (`--trace 1`) the per-layer ones.
  */
object Main {
  val cores = 4
  val setupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, result: Path, resultsDir: Path)

  /** The end-to-end metrics of an untraced run, in report order. */
  val endToEndNames = Seq("setup_s", "build_s", "write_p50_s", "write_tail_s",
    "read_p50_ms", "read_tail_ms", "rows_per_s", "maintain_s", "space_amp")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("result")), Paths.get(m("results-dir")))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Warm-up: one small parquet write and read-back, so executor start,
    * the parquet writer and the first query compilation land in set-up.
    */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    spark.range(1000).selectExpr("id", "id % 7 as k").write.parquet(dir.toString)
    spark.read.parquet(dir.toString).groupBy("k").count().collect()
    delete(dir)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    val code =
      try { run(a); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    // ---- set-up, repeated: session start, input generation, warm-up
    val setupTimes = mutable.ArrayBuffer[Clock.Took]()
    var spark: SparkSession = null
    var wl: Workload = null
    for (rep <- 0 until setupReps) {
      val (_, took) = Clock.timed {
        if (spark != null) spark.stop()
        spark = session(a.work)
        if (wl != null) delete(a.work.resolve(s"run${rep - 1}"))
        wl = Workload(a.workload, a.seed, a.work.resolve(s"run$rep"))
        wl.generate()
        warmUp(spark, a.work.resolve(s"warm$rep"))
      }
      setupTimes += took
    }

    // ---- the build, then closed-loop steps. The step count is the run
    // length divided by the workload's nominal step time, fixed before the
    // run starts: runs of the same code do the same work whatever the host
    // speed, and a faster engine finishes sooner instead of doing more
    val tracer = new Tracer(a.trace)
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(tracer)
    val env = new Env(spark, tracer, rec)
    val w0 = System.nanoTime()
    wl.build(env)
    val steps = math.max(1, math.round(a.seconds / wl.stepSeconds).toInt)
    (0 until steps).foreach(i => wl.step(env, i))
    val w1 = System.nanoTime()
    try wl.finish(env)
    catch { case e: Exception => rec.endCheck("end-of-run checks", Some(e.toString)) }

    val traced = Option.when(a.trace) {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      val jobs = listener.snapshot
      val layers = Layers.aggregate(tracer, jobs)
      val missing = wl.spans.filterNot(layers.contains)
      rec.endCheck("traced spans", Option.when(missing.nonEmpty)(
        s"no span recorded for ${missing.mkString(", ")}"))
      (jobs, layers)
    }

    val e2e = endToEnd(wl, rec, setupTimes.toSeq, _.adjusted)
    val e2eWall = endToEnd(wl, rec, setupTimes.toSeq, _.wall).map(m => m._1 -> m._2).toMap
    val extra = Seq(("op_fail_ratio", rec.failed.toDouble / rec.attempted, "ratio",
      s"${rec.failed} / ${rec.attempted} ops"))
    println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} steps=$steps window=${"%.1f".format((w1 - w0) / 1e9)}s")
    (e2e ++ extra).foreach { case (n, v, u, note) =>
      val wall = e2eWall.get(n).filter(_ != v).fold("")(w => f" | wall $w%.4f")
      println(f"  $n%-14s $v%12.4f $u%-5s $note$wall")
    }
    wl.ratios.foreach { case (n, v) => println(f"  $n $v%.4f") }
    rec.failures.foreach(f => println(s"  FAILED: $f"))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e.map { case (n, v, u, _) => (n, v, u) }
      case Some((jobs, layers)) =>
        val (util, driverShare) = Layers.window(jobs, tracer.epochMs(w0),
          tracer.epochMs(w1), cores)
        val values = LayerMetrics.values(layers, wl.ratios ++ Map(
          "spark.cpu_util" -> util, "spark.driver_only_share" -> driverShare))
        writeTrace(a, layers, values, e2e, steps)
        values
    }
    val out = Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Files.createDirectories(a.result.getParent)
    Files.writeString(a.result, out + "\n")
    spark.stop()
  }

  /** The end-to-end metrics, with durations taken from each operation's
    * [[Clock.Took]] by `time` (steal-adjusted or raw wall), and a note on
    * sample counts and percentiles.
    */
  def endToEnd(wl: Workload, rec: Recorder, setups: Seq[Clock.Took],
      time: Clock.Took => Double): Seq[(String, Double, String, String)] = {
    def times(kind: String) = rec.took(kind).map(time)
    val writes = times("write")
    val reads = times("read").map(_ * 1e3)
    val wTail = Stats.tail(writes)
    val rTail = Stats.tail(reads)
    val e2e = Seq(
      ("setup_s", Stats.median(setups.map(time)), "s",
        setups.map(t => f"${time(t)}%.2f").mkString("median of ", ", ", "")),
      ("build_s", times("build").headOption.getOrElse(Double.NaN), "s", ""),
      ("write_p50_s", Stats.median(writes), "s", s"n=${writes.size}"),
      ("write_tail_s", wTail.value, "s", f"p${wTail.pct}%.1f n=${wTail.n}"),
      ("read_p50_ms", Stats.median(reads), "ms", s"n=${reads.size}"),
      ("read_tail_ms", rTail.value, "ms", f"p${rTail.pct}%.1f n=${rTail.n}"),
      ("rows_per_s", wl.rowsCommitted / writes.sum, "1/s", s"${wl.rowsCommitted} rows"),
      ("maintain_s", Stats.median(times("maintain")), "s",
        s"median per pass, n=${times("maintain").size}"),
      ("space_amp", wl.storeBytes.toDouble / wl.inputBytes, "ratio",
        s"${wl.storeBytes} / ${wl.inputBytes} bytes"),
    )
    require(e2e.map(_._1) == endToEndNames)
    e2e
  }

  /** The traced run's full per-span table, its end-to-end numbers, and the
    * tracing overhead against an untraced run of the same workload and
    * seed when one has left its result next to this one.
    */
  private def writeTrace(a: Args, layers: Map[String, LayerStats],
      values: Seq[(String, Double, String)],
      e2e: Seq[(String, Double, String, String)], steps: Int): Unit = {
    val untraced = a.resultsDir.resolve(s"${a.workload}-seed${a.seed}-trace0.json")
    val base: Map[String, Double] =
      if (!Files.exists(untraced)) Map.empty
      else {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(untraced.toFile).get("metrics")
        e2e.map(_._1).filter(n => m.has(n)).map(n => n -> m.get(n).get("value").asDouble).toMap
      }
    val spans = layers.values.toSeq.sortBy(_.name).map { l =>
      l.name -> Json.obj(Seq("calls" -> l.calls.toString, "wall_s" -> Json.num(l.wallS),
        "self_s" -> Json.num(l.selfS), "driver_only_s" -> Json.num(l.driverOnlyS),
        "jobs" -> l.jobs.toString, "cpu_s" -> Json.num(l.cpuS),
        "shuffle_mb" -> Json.num(l.shuffleMb), "fs_write_mb" -> Json.num(l.fsWriteMb)))
    }
    val overhead = e2e.collect { case (n, v, _, _) if base.contains(n) =>
      n -> Json.num(v - base(n)) }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "steps" -> steps.toString,
      "spans" -> Json.obj(spans),
      "per_layer" -> Json.obj(values.map { case (n, v, _) => n -> Json.num(v) }),
      "end_to_end_traced" -> Json.obj(e2e.map { case (n, v, _, _) => n -> Json.num(v) }),
      "tracing_overhead" -> Json.obj(overhead)))
    val p = a.resultsDir.resolve(s"${a.workload}-seed${a.seed}-trace.json")
    Files.writeString(p, doc + "\n")
    println(s"  trace: ${a.resultsDir.getFileName}/${p.getFileName}")
    if (overhead.isEmpty) println("  tracing overhead: no untraced result for this seed yet")
    else e2e.foreach { case (n, v, u, _) =>
      base.get(n).foreach(b => println(f"  overhead $n%-14s ${v - b}%+12.4f $u")) }
  }
}

/** The per-layer metrics a traced run reports (BENCHMARK.json `per_layer`
  * lists the same names). Span metrics are totals over the run: the step
  * count is fixed by `--seconds`, so runs of the same length do the same
  * calls, and a layer the workload does not run truly spent 0 s in 0 jobs
  * (the result format lists every per-layer metric on every workload).
  * Call counts are in the trace file.
  */
object LayerMetrics {
  val spans = Seq(
    "billing.Ledger.hashFiles", "billing.Ledger.toProcess",
    "billing.Ingest.readCsv", "billing.BillingStore.appendDedup",
    "billing.BillingStore.rebuildAggregates", "billing.BillingStore.upsertLedger",
    "billing.BillingStore.rawForUser", "billing.BillingStore.rawBetween",
    "billing.BillingStore.compactRaw_gcRaw", "billing.Insights.report",
    "ext.CorpusStore.build", "ext.CorpusStore.read",
    "ext.DedupIndex.build", "ext.DedupIndex.dedupBatch",
    "ext.TextSearch.buildAndSave", "ext.TextSearch.searchSaved",
    "ext.IvfIndex.build_save", "ext.Ingest.admit",
    "ext.Takedown.retract", "ext.Takedown.maintain",
    "ext.KnnGraphIndex.build", "ext.KnnGraphIndex.search",
    "ext.KnnGraphIndex.insert", "ext.KnnGraphIndex.deleteVecs",
    "ext.KnnGraphIndex.maybeCompact")

  /** Spans that commit to a store: they also report bytes written. */
  val writeSpans = Set(
    "billing.BillingStore.appendDedup", "billing.BillingStore.rebuildAggregates",
    "billing.BillingStore.upsertLedger", "billing.BillingStore.compactRaw_gcRaw",
    "ext.CorpusStore.build", "ext.DedupIndex.build", "ext.TextSearch.buildAndSave",
    "ext.IvfIndex.build_save", "ext.Ingest.admit", "ext.Takedown.retract",
    "ext.Takedown.maintain", "ext.KnnGraphIndex.build", "ext.KnnGraphIndex.insert",
    "ext.KnnGraphIndex.deleteVecs", "ext.KnnGraphIndex.maybeCompact")

  /** Spans that also report shuffle bytes. */
  val shuffleSpans: Set[String] = spans.filter(_.startsWith("ext.KnnGraphIndex.")).toSet

  val ratios = Seq("billing.BillingStore.appendDedup.kept_ratio",
    "ext.Ingest.admit.new_ratio", "ext.KnnGraphIndex.search.recall_at_10",
    "spark.cpu_util", "spark.driver_only_share")

  /** (name, unit) of every per-layer metric, in report order. */
  val all: Seq[(String, String)] = spans.flatMap { s =>
    Seq(s"$s.self_s" -> "s", s"$s.driver_only_s" -> "s", s"$s.jobs" -> "jobs",
      s"$s.cpu_s" -> "s") ++
      (if (shuffleSpans(s)) Seq(s"$s.shuffle_mb" -> "MB") else Nil) ++
      (if (writeSpans(s)) Seq(s"$s.fs_write_mb" -> "MB") else Nil)
  } ++ ratios.map(_ -> "ratio")

  def values(layers: Map[String, LayerStats],
      ratioValues: Map[String, Double]): Seq[(String, Double, String)] =
    all.map { case (name, unit) =>
      val v = ratioValues.get(name).orElse {
        val (span, metric) = name.splitAt(name.lastIndexOf('.'))
        layers.get(span).map { l =>
          metric match {
            case ".self_s"        => l.selfS
            case ".driver_only_s" => l.driverOnlyS
            case ".jobs"          => l.jobs.toDouble
            case ".cpu_s"         => l.cpuS
            case ".shuffle_mb"    => l.shuffleMb
            case ".fs_write_mb"   => l.fsWriteMb
          }
        }
      }
      (name, v.getOrElse(0.0), unit)
    }
}
