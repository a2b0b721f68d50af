package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{ListenerAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs counted per job group. A spec runs each measured step
  * under its own group (`prefix` + step name) and reads the step's
  * count afterwards; jobs of any other group — other specs, background
  * streams — are never counted.
  */
final class GroupJobs private (sc: SparkContext, prefix: String)
    extends SparkListener {
  private val counts = new ConcurrentHashMap[String, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix))
      .foreach(g => counts.merge(g, 1, (a, b) => a + b))

  /** Run `body` under step `name`'s job group. */
  def step[A](name: String)(body: => A): A = {
    sc.setJobGroup(prefix + name, name)
    try body finally sc.clearJobGroup()
  }

  /** Jobs step `name` started so far (the listener bus drained first —
    * events arrive asynchronously).
    */
  def jobs(name: String): Int = {
    ListenerAccess.drain(sc)
    Option(counts.get(prefix + name)).map(_.intValue).getOrElse(0)
  }
}

object GroupJobs {

  /** `body` with a listener counting the jobs of `prefix` groups. */
  def counting[A](sc: SparkContext, prefix: String)(body: GroupJobs => A): A = {
    val g = new GroupJobs(sc, prefix)
    sc.addSparkListener(g)
    try body(g) finally { ListenerAccess.drain(sc); sc.removeSparkListener(g) }
  }
}
