package perfbench

import scala.collection.mutable

/** Closed-loop operation accounting. Each operation is one call (or one
  * fixed sequence of calls) into the engine, timed from the call until it
  * returns; its output check runs after the clock stops. An operation that
  * throws or whose check fails counts as failed and contributes no latency
  * sample, so a broken fast path can never read as a fast one.
  */
final class Recorder(tracer: Tracer) {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Clock.Took]]()
  private val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** Run `body` as one operation of class `kind` (write, read, maintain,
    * build). `check` inspects the result and returns a failure message, or
    * None when the output is right. Returns the result of a successful op.
    */
  def op[A](kind: String, label: String)(body: => A)(
      check: A => Option[String]): Option[A] = {
    attempted += 1
    val (res, dt) = Clock.timed(scala.util.Try(tracer.span(s"op.$kind") { body }))
    val verdict = res.toEither.left.map(e => s"threw $e").flatMap(a =>
      scala.util.Try(check(a)).fold(e => Left(s"check threw $e"),
        _.toLeft(a)))
    verdict match {
      case Right(a) =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += dt
        Some(a)
      case Left(msg) =>
        fail(s"$kind $label", msg)
        res.failed.foreach(_.printStackTrace())
        None
    }
  }

  /** Durations (wall and steal-adjusted, see [[Clock]]) of the successful
    * ops of a kind.
    */
  def took(kind: String): Seq[Clock.Took] =
    samples.get(kind).map(_.toSeq).getOrElse(Seq.empty)

  /** Steal-adjusted durations of the successful ops of a kind. */
  def times(kind: String): Seq[Double] = took(kind).map(_.adjusted)

  def failures: Seq[String] = errors.toSeq

  /** An end-of-run output check that belongs to no single operation: it
    * counts as one attempted operation, and as a failed one when `problem`
    * holds a message.
    */
  def endCheck(label: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach(fail(label, _))
  }

  private def fail(label: String, msg: String): Unit = {
    failed += 1
    val line = s"$label failed: $msg"
    if (errors.size < 20) errors += line
    System.err.println(s"perfbench: $line")
  }
}

/** Durations with hypervisor steal taken out. On a shared virtual machine
  * the hypervisor runs other guests on this guest's vCPUs ("steal" in
  * `/proc/stat`), which stretches wall time by an amount that changes from
  * minute to minute. An operation's adjusted time is its wall time times
  * the share of runnable vCPU time that actually ran during it:
  * busy / (busy + steal), from the `/proc/stat` deltas over the operation.
  * It is the time the operation would take on the same cores undisturbed.
  * Where there is no steal (dedicated hardware, or no `/proc/stat`) it
  * equals wall time.
  */
object Clock {
  final case class Took(wall: Double, adjusted: Double)

  /** (busy, steal) jiffies of all CPUs since boot. */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val line = try f.getLines().next() finally f.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    }.getOrElse((0L, 0L))

  def timed[A](body: => A): (A, Took) = {
    val (b0, s0) = cpuJiffies()
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    val (b1, s1) = cpuJiffies()
    val (busy, steal) = (b1 - b0, s1 - s0)
    (a, Took(wall, if (busy + steal > 0) wall * busy / (busy + steal) else wall))
  }
}
