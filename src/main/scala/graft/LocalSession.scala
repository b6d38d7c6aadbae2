package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the dev, verify and bench mains:
  * `local[cpus]`, `shufflePartitions` shuffle partitions (default: one
  * per cpu), UTC session time zone, no UI, WARN logging. `graft.Cli`
  * builds its own: under spark-submit the master comes from `--master`.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = apply(cpus, cpus)

  def apply(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
