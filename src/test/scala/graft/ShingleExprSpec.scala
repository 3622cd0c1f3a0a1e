package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextShingleFunctions

/** Pins the round-14 native shingle/position expressions value-equal
  * to the declarative formulations they replaced — the oracle hashes
  * of c17/c39/c41/d9/d14/d15 depend on this equivalence exactly. */
class ShingleExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  /** The pre-round-14 declarative chain, verbatim. */
  private def declarativeShingles(k: Int): Column = {
    val t = split(col("text"), " ")
    when(size(t) >= k,
      array_distinct(transform(
        sequence(lit(1), size(t) - lit(k - 1)),
        i => concat_ws(" ", slice(t, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The pre-round-14 hex-slice projection, verbatim (Bloom form). */
  private def declarativeBloomPositions(hashes: Int): Column = {
    val h = md5(col("s"))
    array((0 until hashes).map(i =>
      conv(substring(h, 1 + 4 * i, 4), 16, 10).cast("int")): _*)
  }

  /** ...and the CMS strided form. */
  private def declarativeCmsPositions(depth: Int, width: Int): Column = {
    val h = md5(col("s"))
    array((0 until depth).map(i =>
      (conv(substring(h, 1 + 4 * i, 4), 16, 10).cast("int") % width
        + lit(i * width)).cast("int")): _*)
  }

  private val hostile = Seq(
    null.asInstanceOf[String],
    "",
    " ",
    "     ",
    "a",
    "a b c d",                      // one short of k=5
    "a b c d e",                    // exactly k
    "a b c d e f g",
    "a  b c d e f",                 // consecutive spaces → empty token
    " a b c d e f",                 // leading space
    "a b c d e f ",                 // trailing space (split -1 keeps it)
    "x y x y x y x y x y x y",      // heavy duplicates
    "the quick brown fox jumps over the lazy dog " * 10,
    "héllo wörld ünïcode tökens mülti byte chars here", // multi-byte UTF-8
    "a b c d e a b c d e a b c d e") // periodic → all-duplicate shingles

  private def df = hostile.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("DistinctShingles equals the declarative chain on hostile shapes (k=5 and k=2)") {
    for (k <- Seq(2, 5)) {
      val got = df.select(col("doc_id"),
        TextShingleFunctions.textShingles(col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val exp = df.select(col("doc_id"), declarativeShingles(k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === exp, s"k=$k")
    }
  }

  test("DistinctShingles matches on seeded random texts, both eval paths") {
    val rnd = new scala.util.Random(14)
    val words = Vector("a", "bb", "ccc", "", "dd", "eé", "fff")
    val texts = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ =>
        words(rnd.nextInt(words.length))).mkString(" "))
    }
    val d = texts.toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      TextShingleFunctions.textShingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val exp = d.select(col("doc_id"), declarativeShingles(3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got === exp)
    // interpreted path (no codegen): eval() must agree with doGenCode
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b a b a b"))
    val e = graft.functions.DistinctShingles(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true), 2)
    val out = e.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 2)
    assert(out.getUTF8String(0).toString == "a b")
    assert(out.getUTF8String(1).toString == "b a")
    val nul = e.eval(org.apache.spark.sql.catalyst.InternalRow(null))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(nul.numElements() == 0, "null text must yield the empty array")
  }

  test("Md5SlicePositions equals the hex-slice projections (bloom + cms)") {
    // NULL stays in the fixture. The NULL shapes differ BY DESIGN: the
    // old projection produced array(NULL,NULL,NULL,NULL) (conv over
    // md5(NULL) per element), the native expression propagates NULL
    // whole (md5's own rule) — every call site filters nulls upstream,
    // so the declarative side is wrapped to the same boundary here and
    // the native NULL-out is pinned explicitly below.
    val strs = (hostile ++ Seq("one two three four five"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val d = strs.toDF("id", "s")
    def nullSafe(c: Column): Column = when(col("s").isNotNull, c)
    val gotB = d.select(col("id"),
      TextShingleFunctions.bloomPositionsCol(col("s"), 4).as("p"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    val expB = d.select(col("id"), nullSafe(declarativeBloomPositions(4)).as("p"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(gotB === expB)
    assert(gotB.exists(_._2.isEmpty), "fixture lost its NULL row")
    val gotC = d.select(col("id"),
      TextShingleFunctions.cmsPositionsCol(col("s"),
        graft.ops.Sketches.CmsDepth, graft.ops.Sketches.CmsWidth).as("p"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    val expC = d.select(col("id"), nullSafe(declarativeCmsPositions(
        graft.ops.Sketches.CmsDepth, graft.ops.Sketches.CmsWidth)).as("p"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(gotC === expC)
  }

  test("generated code COMPILES: fallback disabled, CODEGEN_ONLY") {
    // Round-14's generated Java referenced `TextKernels.MODULE$`, which
    // does not exist (MODULE$ lives on the `TextKernels$` object class,
    // not the mirror class) — Janino rejected it and Spark silently ran
    // every stage containing these expressions INTERPRETED via the
    // fallback, so the value tests above never caught it. This pin
    // turns the silent fallback into a hard failure: with
    // codegen.fallback=false a Janino error aborts the query, and with
    // factoryMode=CODEGEN_ONLY even non-whole-stage projections must
    // compile.
    val confs = Map(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = Seq(
        (1L, "a b c d e f g"),
        (2L, "x y x y x y"),
        (3L, null.asInstanceOf[String])).toDF("id", "text")
      val rows = d.select(
          col("id"),
          TextShingleFunctions.textShingles(col("text"), 3).as("sh"),
          when(col("text").isNotNull,
            TextShingleFunctions.bloomPositionsCol(col("text"), 4)).as("bp"),
          when(col("text").isNotNull,
            TextShingleFunctions.cmsPositionsCol(col("text"), 4, 1024)).as("cp"))
        .as[(Long, Seq[String], Option[Seq[Int]], Option[Seq[Int]])]
        .collect().sortBy(_._1)
      assert(rows.length == 3)
      assert(rows(0)._2 == Seq("a b c", "b c d", "c d e", "d e f", "e f g"))
      assert(rows(1)._2 == Seq("x y x", "y x y"))
      assert(rows(0)._3.exists(_.length == 4))
      assert(rows(0)._4.exists(_.forall(p => p >= 0 && p < 4 * 1024)))
      assert(rows(2)._2.isEmpty && rows(2)._3.isEmpty && rows(2)._4.isEmpty)
      // and the stage really is whole-stage-codegen'd, not just compiled
      // (a literal local Seq constant-folds to LocalTableScan, so use a
      // range-backed frame that survives as a real codegen stage)
      val ranged = spark.range(100).select(concat_ws(" ",
        lit("a"), lit("b"), col("id").cast("string"), lit("c")).as("text"))
      val shingled = ranged
        .select(TextShingleFunctions.textShingles(col("text"), 2).as("sh"))
      assert(shingled.count() == 100)
      val plan = shingled.queryExecution.executedPlan
      assert(plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
        s"expected a WholeStageCodegen span, got:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
