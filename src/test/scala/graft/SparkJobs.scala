package graft

import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code runs, read by a SparkListener. */
object SparkJobs {
  /** Listener events are async but delivered FIFO: run a job with a
    * unique description and wait until its JobStart arrives — every
    * event posted before it has then been delivered too. */
  private def drainListenerBus(spark: SparkSession, tag: String,
      seen: String => Boolean): Unit = {
    spark.sparkContext.setJobDescription(tag)
    try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen(tag) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(seen(tag), s"sentinel job $tag never reached the listener")
  }

  /** The Spark jobs `body` runs (each as its stage names), the
    * shuffle bytes (read + written) of their tasks, and per stage the
    * names of its RDDs and the shuffle records its tasks wrote, from a
    * SparkListener bracketed by two sentinel jobs. */
  def jobsAndShuffleBytes(spark: SparkSession)(
      body: => Unit): (Seq[String], Long, Seq[(Set[String], Long)]) = {
    import org.apache.spark.scheduler._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = events.add(j)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = events.add(t)
    }
    def desc(j: SparkListenerJobStart) =
      Option(j.properties).fold("")(_.getProperty("spark.job.description", ""))
    def started(tag: String) = events.toArray.exists {
      case j: SparkListenerJobStart => desc(j) == tag
      case _ => false
    }
    val id = java.util.UUID.randomUUID()
    val (begin, end) = (s"begin-$id", s"end-$id")
    spark.sparkContext.addSparkListener(listener)
    try {
      drainListenerBus(spark, begin, started)
      body
      drainListenerBus(spark, end, started)
    } finally spark.sparkContext.removeSparkListener(listener)
    // a sentinel count can run as several jobs (one per adaptive query
    // stage), all carrying its description
    val window = events.toArray.toSeq
      .dropWhile { case j: SparkListenerJobStart => desc(j) != begin; case _ => true }
      .takeWhile { case j: SparkListenerJobStart => desc(j) != end; case _ => true }
    val jobs = window.collect { case j: SparkListenerJobStart if desc(j) != begin => j }
    val stages = jobs.flatMap(_.stageInfos).map(st => st.stageId -> st).toMap
    val tasks = window.collect {
      case t: SparkListenerTaskEnd if stages.contains(t.stageId) && t.taskMetrics != null => t
    }
    val shuffle = tasks.map(t => t.taskMetrics.shuffleReadMetrics.totalBytesRead +
      t.taskMetrics.shuffleWriteMetrics.bytesWritten).sum
    val records = tasks.groupBy(_.stageId).toSeq.map { case (id, ts) =>
      (stages(id).rddInfos.map(_.name).toSet,
        ts.map(_.taskMetrics.shuffleWriteMetrics.recordsWritten).sum)
    }
    (jobs.map(_.stageInfos.map(_.name).mkString(", ")), shuffle, records)
  }
}
