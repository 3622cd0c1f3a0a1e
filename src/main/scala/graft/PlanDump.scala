package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic main: run ONE SparkEntry query on a dir and print the
  * EXECUTED physical plan (AQE-final, so runtime join strategies and
  * reused exchanges are visible) plus the completed stages' walls,
  * task counts, and shuffle/spill volumes — the thing `.explain`
  * cannot show and the first tool to reach for when a scale probe
  * regresses (the r16 e3@sf50 investigation).
  *
  * Env: SPARK_GRAFT_KEY (required), SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE. Not a benchmark: single
  * run, no warmup.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val key = sys.env.getOrElse("SPARK_GRAFT_KEY",
      sys.error("SPARK_GRAFT_KEY is required"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 32)(Sessions.positiveInt)
    val shuffle = Sessions.envKnob("SPARK_GRAFT_SHUFFLE", Option.empty[Int])(
      s => Some(Sessions.positiveInt(s)))
    require(SparkEntry.queries.contains(key), s"unknown query key '$key'")
    // SPARK_GRAFT_LOCAL_DIR (e.g. /dev/shm/spark-local): shuffle/spill
    // dir override — a virtio disk writing ~330 MB/s makes disk-path
    // shuffles at sf50 measure the disk, not the plan
    val spark = Sessions.local(cpus, shuffle, Map(
      "spark.app.name" -> "graft-plan-dump",
      "spark.sql.adaptive.enabled" -> "true") ++
      sys.env.get("SPARK_GRAFT_LOCAL_DIR").map("spark.local.dir" -> _))
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for { a <- i.completionTime; b <- i.submissionTime }
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        stages.add(
          f"stage ${i.stageId}%4d  ${wall / 1000.0}%8.2fs  tasks=${i.numTasks}%5d  " +
            f"shufRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB  " +
            f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB  " +
            f"spillMem=${m.memoryBytesSpilled / 1e6}%9.1fMB  " +
            f"spillDisk=${m.diskBytesSpilled / 1e6}%9.1fMB  ${i.name.take(60)}")
      }
    })
    try {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Scratch.reap()
      println(f"== $key on $sfDir: wall $wall%.2f s")
      println("== stages:")
      scala.jdk.CollectionConverters.IteratorHasAsScala(stages.iterator())
        .asScala.toSeq.sorted.foreach(println)
      println("== executed plan:")
      println(df.queryExecution.executedPlan.toString.take(20000))
    } finally spark.stop()
  }
}
