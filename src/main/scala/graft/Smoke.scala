package graft

/** Dev smoke-runner for the driver's `SparkEntry.entry` contract:
  * prints the flagship row count (driver requires > 0) and the top rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"  $r"))
    require(rows.nonEmpty, "entry() returned 0 rows")
    spark.stop()
  }
}
