package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: write `explain("formatted")` for every (or a
  * selected subset of) SparkEntry query to one file per key — the
  * plan evidence the optimization rounds commit under plans/rNN/.
  * Unlike [[PlanDump]] (executed AQE-final plan + stage walls, one
  * key, stdout) this captures the STATIC formatted plan — scan
  * PushedFilters/ReadSchema, Exchange placement, join strategy and
  * codegen spans — for every key in one JVM, cheap enough to diff
  * across commits.
  *
  * Usage: runMain graft.PlanExplain <outDir> [key1,key2,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE.
  *
  * Note: for operators that stage intermediates eagerly (streaming
  * drains, trained models, localCheckpoint prefixes) the dump is the
  * plan of the FINAL returned frame — the same frame Bench times and
  * Verify hashes — and building it runs those prefix jobs.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.nonEmpty, "usage: PlanExplain <outDir> [key1,key2,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val keys: Seq[String] =
      if (args.length > 1) {
        val ks = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = ks.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
        ks
      } else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 32)(Sessions.positiveInt)
    val shuffle = Sessions.envKnob("SPARK_GRAFT_SHUFFLE", Option.empty[Int])(
      s => Some(Sessions.positiveInt(s)))
    val spark = Sessions.local(cpus, shuffle, Map(
      "spark.app.name" -> "graft-plan-explain",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true"))
    val mode = ExplainMode.fromString("formatted")
    try {
      keys.foreach { key =>
        spark.sparkContext.setJobDescription(s"plan-explain: $key")
        val txt =
          try {
            val df = SparkEntry.queries(key)(spark, sfDir)
            df.queryExecution.explainString(mode)
          } catch {
            // NonFatal only: a fatal JVM error (OOM, stack overflow)
            // must abort the run, not be stubbed as "PLAN FAILED" while
            // later keys' evidence is generated from a corrupted JVM
            case scala.util.control.NonFatal(e) =>
              s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
          } finally Scratch.reap()
        java.nio.file.Files.writeString(outDir.resolve(s"$key.txt"), txt)
        println(s"[plan-explain] wrote $key")
      }
    } finally spark.stop()
  }
}
