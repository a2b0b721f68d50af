package graft.ext

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import Takedown.{Surface, surfaceId}

/** The durable intent log [[Takedown]] and [[Ingest]] drive their
  * surfaces through. Layout: `root/<dirName>/<prefix><16 hex>/` holds
  * the intent's parquet `payload`, one empty `done-<surface>` marker
  * per applied surface and a final `_done`.
  *
  *   1. [[stage]] writes the payload to `<payload>-staging` and lands it
  *      by rename ([[ControlFile.land]]): a crash mid-write leaves a
  *      staging dir that [[pending]] reads as "never happened", never
  *      a wedged intent.
  *   2. [[apply]] runs the surfaces in `waves` order. The surfaces of
  *      one wave run concurrently on the bounded commit pool
  *      ([[IndexStore.runAll]]), each leaving its marker; the first
  *      failure rethrows after the wave settles, so completed surfaces
  *      keep their markers. `_done` lands after the last surface.
  *   3. [[pending]] lists landed intents without `_done`; [[resume]]
  *      re-applies them, skipping marked surfaces. Markers are an
  *      optimization: every surface apply judges presence against live
  *      rows, so replay converges.
  */
private[ext] final class IntentLog(dirName: String, prefix: String,
    payload: String)(waves: Seq[Surface] => Seq[Seq[Surface]]) {

  private def entry(root: String, id: String) =
    new Path(new Path(root, dirName), id)

  /** Where intent `id`'s payload landed. */
  def payloadPath(root: String, id: String): String =
    new Path(entry(root, id), payload).toString

  /** Write a fresh intent's payload with `write(dir)`, land it, and
    * return the intent id.
    */
  def stage(spark: SparkSession, root: String)(write: String => Unit): String = {
    val id = ControlFile.newId(prefix)
    val staging = new Path(entry(root, id), s"$payload-staging")
    write(staging.toString)
    ControlFile.land(ControlFile.fs(spark, root), staging,
      new Path(payloadPath(root, id)))
    id
  }

  /** Apply intent `id` to the first `upTo` of `ordered` (the test hook
    * that simulates a mid-flow crash; production callers pass all).
    */
  def apply(spark: SparkSession, root: String, id: String,
      ordered: Seq[Surface], upTo: Int)(step: Surface => Unit): Unit = {
    val fs = ControlFile.fs(spark, root)
    waves(ordered.take(upTo)).foreach { wave =>
      val todo = wave.map(s => s -> new Path(entry(root, id),
        s"done-${surfaceId(s)}")).filterNot { case (_, mark) => fs.exists(mark) }
      IndexStore.runAll(todo.map { case (s, mark) =>
        () => { step(s); fs.create(mark, true).close() }
      }).foreach(_.get)
    }
    if (upTo >= ordered.size)
      fs.create(new Path(entry(root, id), "_done"), true).close()
  }

  /** Landed intent ids whose `_done` marker has not landed — what a
    * crash left behind, oldest id first.
    */
  def pending(spark: SparkSession, root: String): Seq[String] = {
    val fs = ControlFile.fs(spark, root)
    val dir = new Path(root, dirName)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filterNot(st => fs.exists(new Path(st.getPath, "_done")))
      .filter(st => fs.exists(new Path(st.getPath, payload)))
      .map(_.getPath.getName).sorted
  }

  /** Complete every pending intent with `applyIntent`; returns their ids. */
  def resume(spark: SparkSession, root: String)(
      applyIntent: String => Unit): Seq[String] = {
    val ps = pending(spark, root)
    ps.foreach(applyIntent)
    ps
  }
}
