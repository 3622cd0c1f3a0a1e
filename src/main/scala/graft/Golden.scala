package graft

import java.math.RoundingMode
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Golden-snapshot support for the rows-only queries (those without a
  * DuckDB oracle: k-means/rotation/LSH/streaming-state outputs the
  * driver checks rows-only). They are seeded and deterministic, so a
  * content hash pins them against silent kernel regressions the same
  * way the driver's oracle hashes pin the SQL-expressible queries.
  *
  * Canonical form mirrors the driver's compare: columns sorted by
  * name, rows sorted as formatted strings, SHA-256 over the result.
  * Floats/doubles are rounded to 6 decimals first so the hash pins
  * semantics, not last-bit noise. Measured columns (wall seconds,
  * QPS) are excluded — they are timings, not results.
  *
  * Regenerate with `runMain graft.GoldenGen` in the SAME commit as any
  * intentional output change; GoldenSpec asserts the committed file.
  */
object Golden {
  /** Snapshot file asserted by GoldenSpec (paths relative to repo
    * root, which is the sbt working directory). */
  val SnapshotPath = "src/test/resources/golden_sf0.001.tsv"

  /** Measured (non-deterministic) columns, excluded from hashing.
    * Empty since round 14 (b11's wall/QPS curve moved to the SweepCsv
    * artifacts and the query result became fully deterministic); kept
    * as the hook for any future measured column. */
  val excludedCols: Map[String, Set[String]] = Map.empty

  /** Keys checked rows-only by the driver: every query without an
    * oracle. Derived, so a new rows-only query fails GoldenSpec until
    * it is snapshotted. */
  def rowsOnlyKeys: Seq[String] =
    (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted

  /** Canonical row strings: columns sorted by name, each value
    * format-stabilized, rows sorted. */
  def canonicalLines(df: DataFrame, exclude: Set[String]): Array[String] = {
    val cols = df.columns.filterNot(exclude).sorted
    val proj = df.select(cols.map(col).toIndexedSeq: _*)
    proj.collect()
      .map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("\t"))
      .sorted
  }

  /** (row count, SHA-256 hex) of the canonical form of `df`. */
  def hashOf(df: DataFrame, exclude: Set[String]): (Long, String) = {
    val lines = canonicalLines(df, exclude)
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def fmt(v: Any): String = v match {
    case null => "\\N"
    case d: Double => fmtD(d)
    case f: Float => fmtD(f.toDouble)
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    // Timestamp.toString renders in the JVM default zone — format via
    // Instant (UTC) so snapshots are machine-stable if a future
    // rows-only query ever emits a timestamp column
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => escape(x.toString)
  }

  /** Separator-safety for free-text values: a raw tab/newline in a
    * VALUE must not read as a column/row boundary (two distinct
    * results whose characters merely migrate across a boundary would
    * hash identically, silently passing GoldenSpec), array separators
    * must not blur element boundaries (the two-element array [a, b]
    * vs the one-element array ["a,b"]), and a literal "\\N" string
    * must stay distinct from the null sentinel — backslash escapes
    * first, making the canonical form injective. Identity for clean
    * values, so existing numeric golden hashes are unchanged. */
  private def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case ',' => sb.append("\\,")
      case '[' => sb.append("\\[")
      case ']' => sb.append("\\]")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def fmtD(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).setScale(6, RoundingMode.HALF_UP).toPlainString
}

/** Regenerates the golden snapshot. The session config MUST match
  * GoldenSpec's (local[4], 4 shuffle partitions): the outputs round
  * their floats in-query, but matching configs keep even
  * at-the-boundary aggregation order identical. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else Golden.SnapshotPath
    val spark = Sessions.local(4, conf = Map("spark.app.name" -> "graft-golden-gen"))
    try {
      val lines = Golden.rowsOnlyKeys.map { k =>
        val df = SparkEntry.queries(k)(spark, sfDir)
        val (n, h) = Golden.hashOf(df, Golden.excludedCols.getOrElse(k, Set.empty))
        println(s"golden $k rows=$n $h")
        s"$k\t$n\t$h"
      }
      val path = java.nio.file.Paths.get(out)
      if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"wrote ${lines.length} snapshots to $out")
    } finally spark.stop()
  }
}
