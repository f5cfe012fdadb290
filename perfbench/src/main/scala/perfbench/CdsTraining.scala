package perfbench

import org.apache.spark.sql.SparkSession

/** Loads the classes a benchmark run uses, so that the JVM can archive
  * them for class-data sharing: runs every workload's pipelines once
  * over a tiny input. Arguments: input dir, scratch dir.
  */
object CdsTraining {
  def main(args: Array[String]): Unit = {
    val Array(input, work) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
    Main.workloads.values.flatMap(_.queries).toSeq.distinct.sorted.foreach { q =>
      graft.SparkEntry.queries(q)(spark, input).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
