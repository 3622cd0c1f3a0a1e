package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings as parameters or session conf,
  * never from the process environment: an env var read inside a
  * library object is an input no caller can see, and a stray value in
  * any deployment silently changes behaviour. The mains directly under
  * `graft/` (Bench, Verify, the sweeps and probes) are the only env
  * readers, and they reject a malformed value by name. Nor does library
  * code print: what it did is a value it returns (e.g. a built model's
  * `buildReport`), and the mains print. */
class LibraryEnvSpec extends AnyFunSuite {
  val LibraryPackages =
    Seq("ann", "ops", "operators", "functions", "streaming", "sources", "plans")

  val EnvReads = Seq("sys.env", "System.getenv")
  val Prints = Seq("println", "System.out", "System.err", "Console.")

  /** One scan of the library sources: each line holding an [[EnvReads]]
    * or a [[Prints]] pattern, with the patterns it holds. */
  lazy val hits: Seq[(String, Seq[String])] = {
    val root = Paths.get("src/main/scala/graft")
    val files = LibraryPackages.flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"library package dir $dir is missing")
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size > 20, s"scan found only ${files.size} library sources")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      found = (EnvReads ++ Prints).filter(line.contains)
      if found.nonEmpty
    } yield (s"$f:${i + 1}: ${line.trim}", found)
  }

  def assertNone(patterns: Seq[String], what: String): Unit = {
    val bad = hits.collect { case (at, found) if found.exists(patterns.contains) => at }
    assert(bad.isEmpty, bad.mkString(s"$what:\n", "\n", ""))
  }

  test("library packages read no environment variables") {
    assertNone(EnvReads, "library code reads the environment")
  }

  test("library packages print nothing") {
    assertNone(Prints, "library code prints")
  }

  test("a main's malformed numeric knob is rejected with a message naming it") {
    assert(Sessions.parseKnob("SPARK_GRAFT_SWEEP_K", None, 4096)(_.toInt) == 4096)
    assert(Sessions.parseKnob("SPARK_GRAFT_SWEEP_NOISE", Some("0.45"), 0.5f)(_.toFloat) == 0.45f)
    assert(!Sessions.parseKnob("SPARK_GRAFT_SWEEP_MODE", Some("plain"), true)(SweepRef.highAccMode))
    assert(Sessions.parseKnob("SPARK_GRAFT_SWEEP_BATCHNQ", Some("0"), 10000)(
      Sessions.nonNegativeInt) == 0)
    assert(Sessions.parseKnob("SPARK_GRAFT_PROBE_EVENTS", Some("3000000000"), 2000000L)(
      Sessions.positiveLong) == 3000000000L)
    for ((name, raw, parse) <- Seq[(String, String, String => Any)](
        ("SPARK_GRAFT_SWEEP_K", "4k", _.toInt),
        ("SPARK_GRAFT_SWEEP_NOISE", "0,45", _.toFloat),
        ("SPARK_GRAFT_SWEEP_MODE", "highAcc", SweepRef.highAccMode),
        ("SPARK_GRAFT_BENCH_RUNS", "", _.toInt),
        ("SPARK_GRAFT_SHUFFLE", "0", Sessions.positiveInt),
        ("SPARK_GRAFT_BENCH_RUNS", "0", Sessions.positiveInt),
        ("SPARK_GRAFT_BENCH_RUNS", "-3", Sessions.positiveInt),
        ("SPARK_GRAFT_SWEEP_VECS", "-1000", Sessions.positiveInt),
        ("SPARK_GRAFT_PROBE_DIM", "64.0", Sessions.positiveInt),
        ("SPARK_GRAFT_PROBE_EVENTS", "0", Sessions.positiveLong),
        ("SPARK_GRAFT_PROBE_EVENTS", "2e6", Sessions.positiveLong),
        ("SPARK_GRAFT_SWEEP_BATCHNQ", "-1", Sessions.nonNegativeInt),
        ("SPARK_GRAFT_SWEEP_LADDER", "5,10,x", SweepRef.ints))) {
      val e = intercept[IllegalArgumentException](
        Sessions.parseKnob(name, Some(raw), null: Any)(parse))
      assert(e.getMessage.startsWith(s"$name=\"$raw\""), e.getMessage)
    }
  }
}
