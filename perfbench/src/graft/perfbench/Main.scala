package graft.perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its record
  * (attempted/failed operations, correctness notes, metrics) as JSON to
  * `--out`. `perfbench/run.py` builds this, launches it, stamps the host
  * around it and prints the final line.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --work <scratch dir> --data <corpus dir> --out <file>
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ann_lifecycle" -> AnnWorkloads.lifecycle,
    "corpus_mix" -> CorpusMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val body = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'"))
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = session(cores, work)
    val run = new Run(spark, name, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", cores, work, opt("data"))
    try {
      if (opts.get("record-golden").contains("1")) CorpusMix.record(run)
      else {
        body(run)
        // the kernel timings do not depend on the workload: every traced
        // run reports them, after its measured window
        if (run.trace) Kernels.layer(run)
      }
    } catch {
      case e: Throwable =>
        run.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      run.tracer.detach()
      Json.write(opt("out"), run.record)
      spark.stop()
    }
  }

  /** The session every workload runs on: local[cores], one closed-loop
    * client, the same SQL settings graft.Bench uses, and every scratch
    * path inside the benchmark's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** State shared by one workload run: the session, the knobs, the
  * listener, and the record being built. */
final class Run(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val cores: Int,
    val work: String,
    val dataDir: String) {
  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String): Unit =
    if (!value.isNaN && !value.isInfinite) metrics(name) = (value, unit)
    else note(s"metric $name not reported: value $value")
  def note(msg: String): Unit = { notes += msg; System.err.println(s"[perfbench] $msg") }
  /** A failed check: counted as a failed operation, never timed. */
  def fail(msg: String): Unit = { failed += 1; note(s"FAILED: $msg") }

  /** Time `f` as one closed-loop operation. Returns its value and wall
    * seconds when the operation and its `check` pass; a throw or a failed
    * check counts as a failed operation and yields None. */
  def op[T](what: String)(f: => T)(check: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) => fail(s"$what threw $e"); None
      case Right(v) => check(v) match {
        case Some(err) => fail(s"$what: $err"); None
        case None => Some((v, secs))
      }
    }
  }

  /** A correctness check outside any timed operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => note(s"$what threw $e"); false }
    if (!passed) fail(what)
  }

  /** Runs `setup` `reps` times and reports the median as `setup_s`;
    * returns the last set-up's value (earlier ones are released). */
  def setup[T](reps: Int)(release: T => Unit)(f: => T): T = {
    var last: Option[T] = None
    val secs = (1 to reps).map { _ =>
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(f)
      (System.nanoTime() - t0) / 1e9
    }
    metric("setup_s", Stats.median(secs), "s")
    last.get
  }

  def record: String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "seed" -> seed.toString,
    "trace" -> trace.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "notes" -> notes.map(Json.str).mkString("[", ",", "]"),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
}

/** A measurement window: epoch-ms bounds and the operations run. */
final case class Window(t0: Long, t1: Long, ops: Int)

object Measure {
  /** Runs the measured phase, `window(seconds)`, and records the
    * end-to-end metrics it returns. Under --trace 1 the listener is
    * attached for the window (set-up stays untraced); the per-layer
    * metrics come from the returned window. The tracing overhead is
    * computed by run.py from this run and the untraced run of the same
    * seed, each in its own fresh JVM. */
  def window(run: Run)(body: Double => Seq[(String, Double, String)]): Window = {
    if (run.trace) run.tracer.attach()
    val ops0 = run.attempted
    val t0 = run.tracer.now()
    val measured = body(run.seconds)
    val t1 = run.tracer.now()
    measured.foreach { case (k, v, u) => run.metric(k, v, u) }
    Window(t0, t1, math.max(1, (run.attempted - ops0).toInt))
  }

  /** Run closed-loop operations until `seconds` have passed (at least
    * `minOps`); returns the wall seconds of the operations that passed. */
  def loop(seconds: Double, minOps: Int)(one: Int => Option[Double]): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < minOps || System.nanoTime() < end) { one(i).foreach(out += _); i += 1 }
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def write(path: String, body: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
