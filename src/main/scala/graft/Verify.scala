package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 4)(Sessions.positiveInt)
    // optional subset for local iteration (the driver never sets this);
    // validated BEFORE the session is built, like Bench's
    // SPARK_GRAFT_BENCH_ONLY — a typo'd key must fail in milliseconds,
    // not after the multi-second SparkSession startup
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { ks =>
      require(ks.nonEmpty, "SPARK_GRAFT_VERIFY_ONLY is set but names no queries")
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      // loud: the written oracle_sql.json covers ONLY the subset, so a
      // check_oracle pass over this outDir certifies nothing else —
      // and stale dirs from an earlier full run are not re-dumped
      System.err.println(s"[verify] SUBSET MODE: ${ks.size} of " +
        s"${SparkEntry.queries.size} queries; oracle_sql.json covers only the subset")
    }
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // enable the model-derived oracle sidecars (see OracleSide): the
    // DuckDB compare that follows this run reads them from the fixed
    // absolute path named in the oracle SQL
    System.setProperty("graft.oracle.side", "1")
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // delete any PREVIOUS run's output for this query up front: a
      // query that fails below must leave NO parquet behind, so the
      // DuckDB compare fails loudly ("no spark output") instead of
      // silently certifying a stale result from before the regression
      val dir = Paths.get(outDir, name)
      if (Files.exists(dir))
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Scratch.reap() // b13/b15 temp index dirs — deferred janitorial work
    }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries failed (no output written): " +
          failed.reverse.mkString(", "))
    // JSON string escape — the ONE implementation (ProbeJson.esc): a
    // tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's
    // correctness, and a second hand-rolled copy here could drift.
    def q(s: String): String = "\"" + ProbeJson.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
