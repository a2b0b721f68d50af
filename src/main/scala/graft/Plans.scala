package graft
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus, "ERROR")
    for (q <- args) {
      println(s"########## $q")
      SparkEntry.queries(q)(spark, GraftSession.sfDir).explain("formatted")
    }
    spark.stop()
  }
}
