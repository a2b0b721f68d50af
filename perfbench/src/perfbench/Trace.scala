package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced call: `parent` is the id of the span open when it started
  * (-1 at top level). Times are `System.nanoTime` stamps; `fsWriteBytes`
  * is the Hadoop FileSystem bytes-written delta over the span, executor
  * writes included (local mode runs executors in this JVM).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    var endNs: Long = -1L, var fsWriteBytes: Long = 0L)

/** In-memory spans around the benchmark's calls into the engine. A
  * disabled tracer runs the body and records nothing, so untraced runs pay
  * no tracing cost. Spans are opened and closed on the client thread only.
  */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val recorded = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(recorded.size, open.headOption.fold(-1)(_.id), name,
        System.nanoTime())
      val fs0 = Tracer.fsBytesWritten()
      recorded += s
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fsWriteBytes = Tracer.fsBytesWritten() - fs0
        open = open.tail
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Epoch milliseconds of a nanoTime stamp: Spark listener events carry
    * epoch milliseconds.
    */
  def epochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6
}

object Tracer {
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).sum
}

/** One Spark job as the listener saw it: submission and end (epoch ms),
  * executor CPU and shuffle bytes written by its tasks.
  */
final case class JobRec(id: Int, startMs: Long, endMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long)

/** Collects every job of the session with its tasks' CPU and shuffle
  * bytes. Registered by the benchmark for traced runs only.
  */
final class JobListener extends SparkListener {
  private final class Acc(val start: Long) {
    var end = -1L; var cpu = 0L; var shuffle = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Acc(e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(a => a.synchronized { a.end = e.time })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      m <- Option(e.taskMetrics)
      j <- Option(stageJob.get(e.stageId))
      a <- Option(jobs.get(j))
    } a.synchronized {
      a.cpu += m.executorCpuTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
    }

  def snapshot: Seq[JobRec] = jobs.asScala.toSeq.map { case (id, a) =>
    a.synchronized {
      JobRec(id, a.start, if (a.end < 0) a.start else a.end, a.cpu, a.shuffle)
    }
  }.sortBy(_.id)
}

/** Per-layer totals of one span name. `selfS` is span time not covered by
  * child spans; `driverOnlyS` is the part of that self time during which no
  * Spark job was running; jobs, CPU and shuffle count the jobs submitted
  * while this span was the innermost open one.
  */
final case class LayerStats(name: String, calls: Int, wallS: Double,
    selfS: Double, driverOnlyS: Double, jobs: Int, cpuS: Double,
    shuffleMb: Double, fsWriteMb: Double)

object Layers {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1)
      .foldLeft(List.empty[Iv]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  def measure(ivs: Seq[Iv]): Double = ivs.map(iv => iv._2 - iv._1).sum

  /** `a` minus the union of `b`, both given as sorted disjoint lists. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = a.flatMap { case (s, e) =>
    val cut = b.filter(iv => iv._2 > s && iv._1 < e)
    val (last, out) = cut.foldLeft((s, List.empty[Iv])) {
      case ((cur, acc), (bs, be)) =>
        (math.max(cur, be), if (bs > cur) (cur, bs) :: acc else acc)
    }
    (if (last < e) (last, e) :: out else out).reverse
  }

  /** Aggregate spans and jobs into per-name stats. */
  def aggregate(tr: Tracer, jobs: Seq[JobRec]): Map[String, LayerStats] = {
    val spans = tr.spans.filter(_.endNs >= 0)
    val iv = spans.map(s => s.id -> ((tr.epochMs(s.startNs), tr.epochMs(s.endNs)))).toMap
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    val depth = mutable.Map[Int, Int]()
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).fold(0)(p => 1 + depthOf(p)))
    // a job belongs to the innermost span open when it was submitted
    val owner: Map[Int, Seq[JobRec]] = jobs.flatMap { j =>
      spans.filter { s => val (a, b) = iv(s.id); a <= j.startMs && j.startMs <= b }
        .maxByOption(depthOf).map(_.id -> j)
    }.groupMap(_._1)(_._2)
    val busy = union(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    val perSpan = spans.map { s =>
      val self = minus(Seq(iv(s.id)),
        union(children.getOrElse(s.id, Seq.empty).map(c => iv(c.id))))
      val selfMs = measure(self)
      val own = owner.getOrElse(s.id, Seq.empty)
      LayerStats(s.name, 1, (iv(s.id)._2 - iv(s.id)._1) / 1e3, selfMs / 1e3,
        measure(minus(self, busy)) / 1e3, own.size,
        own.map(_.cpuNs).sum / 1e9, own.map(_.shuffleWriteBytes).sum / 1e6,
        s.fsWriteBytes / 1e6)
    }
    perSpan.groupBy(_.name).map { case (n, xs) =>
      n -> xs.reduce((a, b) => LayerStats(n, a.calls + b.calls,
        a.wallS + b.wallS, a.selfS + b.selfS, a.driverOnlyS + b.driverOnlyS,
        a.jobs + b.jobs, a.cpuS + b.cpuS, a.shuffleMb + b.shuffleMb,
        a.fsWriteMb + b.fsWriteMb))
    }
  }

  /** (executor CPU / (wall × cores), share of wall with no job running)
    * over the window [fromMs, toMs].
    */
  def window(jobs: Seq[JobRec], fromMs: Double, toMs: Double,
      cores: Int): (Double, Double) = {
    val wall = toMs - fromMs
    val in = jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    val busy = union(in.map(j => (j.startMs.toDouble,
      math.min(j.endMs.toDouble, toMs))))
    (in.map(_.cpuNs).sum / 1e6 / (wall * cores),
      measure(minus(Seq((fromMs, toMs)), busy)) / wall)
  }
}
