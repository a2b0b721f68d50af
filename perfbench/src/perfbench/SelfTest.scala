package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests; run with `python3 perfbench/test.py` from the
  * repository root. Exits non-zero on the first failed check.
  */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(s"self-test failed: $what")
  }

  /** Every regular file under `dir`, relative path -> bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def generatorsAreDeterministic(tmp: Path): Unit =
    Workload.names.foreach { w =>
      def inputs(seed: Long, tag: String): Map[String, Seq[Byte]] = {
        val dir = tmp.resolve(s"$w-$tag")
        Workload(w, seed, dir).generate()
        tree(dir)
      }
      val a = inputs(42, "a")
      check(s"$w generates input")(a.nonEmpty && a.values.forall(_.nonEmpty))
      check(s"$w: the same seed gives byte-identical inputs")(a == inputs(42, "b"))
      check(s"$w: another seed gives other inputs")(a != inputs(43, "c"))
    }

  def deliveriesAreDeterministic(): Unit = {
    def billing(seed: Long) = {
      val g = new BillingGen(seed, BillingDaily.knobs)
      (g.backfill() ++ (0 until 6).flatMap(g.delivery)).map { case (f, rows) => f -> g.csv(rows) }
    }
    check("billing deliveries repeat for a seed")(billing(7) == billing(7))
    // a one-step run lands only delivery 0, so it carries the special cases
    val g = new BillingGen(7, BillingDaily.knobs)
    val backfilled = g.backfill().map(_._1).toSet
    val first = g.delivery(0).map(_._1)
    check("billing delivery 0 crosses the month boundary")(
      first.exists(_.contains("month=01/day=31")) && first.exists(_.contains("month=02/day=01")))
    check("billing delivery 0 rewrites a backfilled file in place")(first.exists(backfilled))

    def corpus(seed: Long) = {
      val g = new CorpusGen(seed, CorpusLifecycle.knobs)
      val live = g.initialIds
      (live.take(50).map(g.jsonLine), g.delivery(0, live.size + 1L, live, IndexedSeq(3L)),
        g.retraction(0, live), g.queries(0, live, IndexedSeq(3L)), g.probes(0, live),
        g.graphQueries(0).map { case (q, v) => (q, v.toSeq) })
    }
    check("corpus deliveries, retractions and reads repeat for a seed")(corpus(7) == corpus(7))
    check("corpus depends on the seed")(corpus(7)._1 != corpus(8)._1)
    check("a delivery re-admits a retracted id")(corpus(7)._2.contains(3L))
  }

  def bruteForceIsExact(): Unit = {
    val pts = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(1f, 1f),
      4L -> Array(-1f, 0f), 5L -> Array(2f, 2f))
    check("brute force ranks by cosine, ties to the smaller id")(
      VectorGen.bruteForceTopK(Array(1f, 0.9f), pts, 3) == Seq(3L, 5L, 1L))
    check("cosine of a vector with itself is 1")(
      math.abs(VectorGen.cosine(Array(3f, 4f), Array(3f, 4f)) - 1.0) < 1e-12)
  }

  def spansNest(): Unit = {
    val tr = new Tracer(true)
    tr.span("outer") {
      tr.span("a") { Thread.sleep(20) }
      tr.span("b") { tr.span("c") { Thread.sleep(10) }; Thread.sleep(5) }
      Thread.sleep(5)
    }
    val byName = tr.spans.map(s => s.name -> s).toMap
    val (o, a, b, c) = (byName("outer"), byName("a"), byName("b"), byName("c"))
    check("children name their parent")(
      a.parent == o.id && b.parent == o.id && c.parent == b.id && o.parent == -1)
    check("children lie inside their parent")(Seq(a -> o, b -> o, c -> b).forall {
      case (k, p) => k.startNs >= p.startNs && k.endNs <= p.endNs })
    val layers = Layers.aggregate(tr, Seq.empty)
    check("self times are never negative")(layers.values.forall(_.selfS >= 0))
    check("self times add up to no more than wall time")(
      layers.values.map(_.selfS).sum <= layers("outer").wallS + 1e-9)
    check("without jobs all self time is driver-only")(layers.values.forall(l =>
      math.abs(l.driverOnlyS - l.selfS) < 1e-9 && l.jobs == 0))
    check("a disabled tracer records nothing")({
      val off = new Tracer(false); off.span("x") { 1 } == 1 && off.spans.isEmpty })
  }

  def jobsGoToTheInnermostSpan(): Unit = {
    val tr = new Tracer(true)
    tr.span("outer") { tr.span("inner") { Thread.sleep(30) }; Thread.sleep(30) }
    val inner = tr.spans.find(_.name == "inner").get
    val mid = (tr.epochMs(inner.startNs) + tr.epochMs(inner.endNs)) / 2
    val job = JobRec(0, mid.toLong, mid.toLong + 5, 2000000000L, 1000000L)
    val layers = Layers.aggregate(tr, Seq(job))
    check("a job counts for the innermost open span")(
      layers("inner").jobs == 1 && layers("outer").jobs == 0 && layers("inner").cpuS == 2.0)
    check("job time is not driver-only time")(
      layers("inner").driverOnlyS < layers("inner").selfS)
  }

  def failuresAreCountedNotTimed(): Unit = {
    val rec = new Recorder(new Tracer(false))
    rec.op("write", "throws")(throw new RuntimeException("injected"))(_ => None)
    rec.op("write", "wrong output")(41)(v => Option.when(v != 42)("not 42"))
    rec.op("write", "ok")(42)(v => Option.when(v != 42)("not 42"))
    check("throwing and wrong ops count as failed")(rec.attempted == 3 && rec.failed == 2)
    check("failed ops contribute no latency")(rec.times("write").size == 1)
    rec.endCheck("end", Some("mismatch"))
    check("a failed end check counts as a failed op")(rec.attempted == 4 && rec.failed == 3)
  }

  def statistics(): Unit = {
    val xs = (1 to 30).map(_.toDouble)
    val t = Stats.tail(xs)
    check("tail is the sample with ten beyond it")(t.value == 20.0 && t.n == 30)
    check("tail percentile")(math.abs(t.pct - 200.0 / 3) < 1e-9)
    check("short samples report the maximum")(Stats.tail(Seq(3.0, 1.0, 2.0)).value == 3.0)
    check("median")(Stats.median(Seq(5.0, 1.0, 3.0, 2.0)) == 2.5)
    check("interval union")(Layers.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) ==
      Seq((0.0, 3.0), (5.0, 6.0)))
    check("interval difference")(Layers.minus(Seq((0.0, 10.0)), Seq((2.0, 3.0), (5.0, 12.0))) ==
      Seq((0.0, 2.0), (3.0, 5.0)))
  }

  /** BENCHMARK.json lists exactly the metrics the program reports. */
  def benchmarkFileMatches(): Unit = {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    def names(key: String) = doc.get(key).elements().asScala.map(_.get("name").asText).toSeq
    check("per_layer names match the traced run's metrics")(
      names("per_layer") == LayerMetrics.all.map(_._1))
    check("at most 128 per-layer metrics")(LayerMetrics.all.size <= 128)
    check("workloads match")(names("workloads") == Workload.names)
    val claimed = Workload.names.map(w =>
      Workload(w, 1L, java.nio.file.Paths.get("unused")).spans)
    check("every workload's spans are per-layer spans")(
      claimed.forall(_.forall(LayerMetrics.spans.contains)))
    check("every per-layer span is run by some workload")(
      LayerMetrics.spans.forall(s => claimed.exists(_.contains(s))))
    check("end_to_end names match the report")(names("end_to_end") == Main.endToEndNames)
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")
    try {
      generatorsAreDeterministic(tmp)
      deliveriesAreDeterministic()
      bruteForceIsExact()
      spansNest()
      jobsGoToTheInnermostSpan()
      failuresAreCountedNotTimed()
      statistics()
      benchmarkFileMatches()
      println(s"perfbench self-test: $checks checks passed")
    } finally Main.delete(tmp)
  }
}
