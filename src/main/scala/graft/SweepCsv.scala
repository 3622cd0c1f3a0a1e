package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Emits the nprobe-sweep (b11) as a CSV artifact with the exact column
  * shape the reference publishes (results/exrabitq/openai1536_exhaf4
  * .csv: `nprobe,QPS,recall,ratio`), so the two engines' headline
  * curves are directly comparable file-to-file.
  *
  * Usage: runMain graft.SweepCsv [sfDir] [outCsv]
  * Defaults: /root/testdata/sf0.001 → results/sweep_sf0.001.csv
  */
object SweepCsv {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else {
      val sf = Paths.get(sfDir).getFileName.toString
      s"results/sweep_$sf.csv"
    }
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 8)(Sessions.positiveInt)
    val spark = Sessions.local(cpus, conf = Map("spark.app.name" -> "graft-sweep-csv"))
    try {
      import spark.implicits._
      val rows = operators.AnnQueries.nprobeSweepTimed(spark, sfDir)
        .select("nprobe", "qps", "recall_at_10", "avg_ratio")
        .as[(Int, Double, Double, Double)].collect()
      val csv = ("nprobe,QPS,recall,ratio" +: rows.map { case (np, qps, r, ratio) =>
        s"$np,$qps,$r,$ratio"
      }).mkString("", "\n", "\n")
      val path = Paths.get(out)
      if (path.getParent != null) Files.createDirectories(path.getParent)
      Files.write(path, csv.getBytes(StandardCharsets.UTF_8))
      println(s"wrote ${rows.length} sweep rows to $out")
    } finally spark.stop()
  }
}
