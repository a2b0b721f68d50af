package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (ScalaTest suites run
  * in one JVM; getOrCreate dedups).
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
