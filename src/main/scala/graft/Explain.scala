package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = "/root/testdata/sf0.01"
    for (name <- args) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
