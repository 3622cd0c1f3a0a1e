package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO

/** Pins bit-faithful csv/json round-trips on values the synthetic
  * tables never contain: embedded quotes/commas/backslashes, unicode,
  * NULL vs empty string, newlines, micro-precision timestamps, and
  * doubles needing shortest-exact formatting. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("tableio").toString

  private val nasty = Seq[(Long, String)](
    1L -> "plain text",
    2L -> "comma, separated, values",
    3L -> "a \"quoted\" value and a lone \" quote",
    4L -> "backslash \\ and \\N literal and tab\tchar",
    5L -> "unicode: naïve café 中文 🎉",
    6L -> null,
    7L -> "",
    8L -> "  leading and trailing whitespace  ")

  test("csv round-trip preserves quotes, commas, unicode, null vs empty") {
    val d = nasty.toDF("id", "text")
    val dir = tmp()
    TableIO.writeCsv(d, dir)
    val back = TableIO.readCsv(spark, dir, d.schema)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == nasty.sortBy(_._1),
      back.map(r => s"${r._1}:${Option(r._2).map(s => s"'$s'").getOrElse("NULL")}").mkString("; "))
  }

  test("a literal \\N string is a KNOWN csv hole; json round-trips it") {
    // sentinel-null csv cannot distinguish the sentinel's own literal:
    // the reader compares nullValue after unquoting (documented in
    // TableIO). This pins the limitation so a behavior change is
    // noticed — and proves the recommended json path has no such hole.
    val rows = Seq[(Long, String)](1L -> "\\N")
    val d = rows.toDF("id", "text")
    val cdir = tmp()
    TableIO.writeCsv(d, cdir)
    val csvBack = TableIO.readCsv(spark, cdir, d.schema)
      .as[(Long, String)].collect()
    assert(csvBack.head._2 == null, "csv \\N-literal hole unexpectedly closed — update the docs")
    val jdir = tmp()
    TableIO.writeJson(d, jdir)
    val jsonBack = TableIO.readJson(spark, jdir, d.schema)
      .as[(Long, String)].collect()
    assert(jsonBack.head._2 == "\\N", jsonBack.mkString)
  }

  test("csv with multiLine=true round-trips embedded newlines") {
    val rows = Seq[(Long, String)](1L -> "line one\nline two", 2L -> "no newline")
    val d = rows.toDF("id", "text")
    val dir = tmp()
    TableIO.writeCsv(d, dir)
    val back = TableIO.readCsv(spark, dir, d.schema, multiLine = true)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == rows.sortBy(_._1), back.mkString("; "))
  }

  test("json round-trip preserves newlines, timestamps to the micro, exact doubles") {
    val rows = Seq(
      (1L, "multi\nline\ttext", Timestamp.valueOf("2024-06-30 23:59:59.123456"), 0.1 + 0.2),
      (2L, null.asInstanceOf[String], Timestamp.valueOf("1999-01-01 00:00:00.000001"), 1.7976931348623157e308),
      (3L, "", null.asInstanceOf[Timestamp], -4.9e-324))
    val d = rows.toDF("id", "text", "ts", "v")
    val dir = tmp()
    TableIO.writeJson(d, dir)
    val back = TableIO.readJson(spark, dir, d.schema)
      .as[(Long, String, Timestamp, Double)].collect().sortBy(_._1)
    assert(back.toSeq == rows.sortBy(_._1), back.mkString("; "))
  }

  test("csv reader takes the explicit schema without an inference scan") {
    val d = Seq((1L, 2.5, "x")).toDF("a", "b", "c")
    val dir = tmp()
    TableIO.writeCsv(d, dir)
    val back = TableIO.readCsv(spark, dir, d.schema)
    // readers force nullable — names and types must survive exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      d.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
