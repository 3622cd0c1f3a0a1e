package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression net for every rows-only query (no DuckDB oracle): the
  * committed snapshot pins row count + canonical content hash at
  * sf0.001. A kernel edit that shifts any output fails here; an
  * intentional change regenerates the snapshot in the same commit
  * (`runMain graft.GoldenGen`). */
class GoldenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"

  private lazy val snapshot: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(Golden.SnapshotPath, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(k, n, h) = line.split('\t')
      k -> (n.toLong, h)
    }.toMap
    finally src.close()
  }

  test("snapshot file covers exactly the rows-only keys") {
    assert(snapshot.keySet == Golden.rowsOnlyKeys.toSet,
      s"stale snapshot — regenerate with `runMain graft.GoldenGen`; " +
        s"missing=${Golden.rowsOnlyKeys.toSet -- snapshot.keySet} " +
        s"extra=${snapshot.keySet -- Golden.rowsOnlyKeys.toSet}")
  }

  Golden.rowsOnlyKeys.foreach { key =>
    test(s"$key matches its golden snapshot") {
      val (wantRows, wantHash) = snapshot.getOrElse(key,
        fail(s"no snapshot for $key — regenerate with `runMain graft.GoldenGen`"))
      val df = SparkEntry.queries(key)(spark, sf)
      val exclude = Golden.excludedCols.getOrElse(key, Set.empty[String])
      val (rows, hash) = Golden.hashOf(df, exclude)
      assert(rows == wantRows, s"$key row count drifted: $rows vs snapshot $wantRows")
      if (hash != wantHash) {
        // print the canonical rows so a drift is diagnosable from the log
        Golden.canonicalLines(df, exclude).foreach(l => info(s"canonical| $l"))
      }
      assert(hash == wantHash,
        s"$key content drifted from its snapshot — if intentional, " +
          "regenerate src/test/resources/golden_sf0.001.tsv in this commit")
    }
  }
}
