package graft

/** Manual end-to-end smoke: runs the driver's `entry` contract exactly
  * as the driver would (fresh session, no special confs) and prints the
  * result. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("spark.sql.extensions" -> "graft.query.RiemannExtensions")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"entry rows = ${df.count()}")
    spark.stop()
  }
}
