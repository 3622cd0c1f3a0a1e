package graft.perfbench

/** Start-up training run for the JVM's class-data-sharing archive: a
  * session, a shuffle, and a parquet round trip load the classes every
  * workload needs before its first operation. `run.py` runs this once
  * per build with -XX:ArchiveClassesAtExit; workload JVMs then map the
  * archive instead of loading and verifying those classes again.
  *
  * Arguments: <cores> <scratch dir> */
object ClassTraining {
  def main(args: Array[String]): Unit = {
    val work = args(1)
    val spark = Main.session(args(0).toInt, work)
    try {
      import spark.implicits._
      val df = spark.range(10000).selectExpr("id % 7 AS k", "id AS v")
      df.groupBy("k").sum("v").collect()
      df.write.mode("overwrite").parquet(s"$work/training")
      spark.read.parquet(s"$work/training").as[(Long, Long)].collect()
    } finally spark.stop()
  }
}
