package graft.perfbench

import graft.{Golden, Scratch, SparkEntry}

/** corpus_mix: a fixed list of SparkEntry query keys over the committed
  * reference tables, run in passes. Each pass runs every key once, in an
  * order drawn from the seed; each run collects the key's output and
  * checks its canonical hash (graft.Golden.hashOf form) against the one
  * recorded in the data dir. End to end: cycle_s is the median pass
  * wall, throughput_qps the keys answered per second of key time,
  * latency_ms the geometric mean of the key walls (every key counts,
  * the light job-floor-bound ones as much as the heavy ones), recall the
  * share of outputs equal to the recorded ones. */
object CorpusMix {
  /** d8b_stream_spans_mb and d12_stream_join are left out: together
    * they cost ~13 s of a ~50 s cold pass, which the run budget cannot
    * carry; d6_stream_dedup keeps the stateful streaming path measured. */
  val Keys: Seq[String] = Seq(
    "c46_pipeline_e2e", "c2_dedup_minhash", "c20_dedup_canonical", "c42_trigram_lm",
    "c43_lang_classifier", "c25_bm25_search", "d6_stream_dedup", "e1_q1_agg",
    "e3_q5_multijoin", "a1_vec_l2", "e8_source_roundtrip")

  /** The key each pass starts with. The first query of a session pays
    * its generic warm-up (measured 1.4-5 s in a cold pass, whichever key
    * runs first); a fixed light key pays it the same way in every run,
    * and the seed orders the other keys. */
  val First = "e1_q1_agg"

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** The recorded hashes: `key<TAB>rows<TAB>sha256` per line, after a
    * `#config<TAB>cores=<n><TAB>shuffle_partitions=<n>` line naming the
    * session they were recorded on. */
  def goldenFile(run: Run): String = s"${run.dataDir}/golden.tsv"

  /** This run's session configuration, in the golden file's form. */
  def config(run: Run): String =
    s"cores=${run.cores}\tshuffle_partitions=${run.spark.conf.get("spark.sql.shuffle.partitions")}"

  /** (recorded configuration, key -> (rows, hash)). */
  def readGolden(path: String): (String, Map[String, (Long, String)]) = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val (conf, rows) = src.getLines().filter(_.nonEmpty).toSeq.partition(_.startsWith("#config\t"))
      (conf.headOption.fold("")(_.stripPrefix("#config\t")),
        rows.map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap)
    } finally src.close()
  }

  def hash(run: Run, key: String): (Long, String) =
    Golden.hashOf(SparkEntry.queries(key)(run.spark, run.dataDir),
      Golden.excludedCols.getOrElse(key, Set.empty))

  /** Writes the golden file from this commit's outputs. */
  def record(run: Run): Unit = {
    val lines = Keys.map { k => val (n, h) = hash(run, k); s"$k\t$n\t$h" }
    Json.write(goldenFile(run), (s"#config\t${config(run)}" +: lines).mkString("", "\n", "\n"))
  }

  val run: Run => Unit = { run =>
    val spark = run.spark
    run.setup(3)((_: Unit) => ()) {
      Tables.foreach(t => graft.Tables.load(spark, run.dataDir, t).count())
      graft.Tables.events(spark, run.dataDir).count()
    }
    val (recorded, golden) = readGolden(goldenFile(run))
    // The hashes hold for the session they were recorded on: the outputs
    // round floats in-query, but another core or shuffle-partition count
    // can change aggregation order at a rounding boundary. On another
    // configuration the row count is still checked, and a hash mismatch
    // is a note, not a failed operation.
    val sameConfig = recorded == config(run)
    if (!sameConfig) run.note(s"golden hashes were recorded on '${recorded.replace('\t', ' ')}', " +
      s"this run is on '${config(run).replace('\t', ' ')}': row counts are checked, " +
      "hash mismatches are only noted")
    // one operation: run the key to its collected output and check it
    // against the recorded hash; `matched` counts outputs equal to the
    // recorded ones
    var matched = 0
    def one(k: String): Option[Double] = {
      val t = run.op(k) { hash(run, k) } { got =>
        golden.get(k) match {
          case None => Some("no recorded hash")
          case Some(want) if want._1 != got._1 || (sameConfig && want != got) =>
            Some(s"output $got differs from recorded $want")
          case Some(want) if want != got =>
            run.note(s"$k: hash ${got._2} differs from recorded ${want._2} on another configuration")
            None
          case _ => matched += 1; None
        }
      }.map(_._2)
      Scratch.reap()
      t
    }
    var pass = 0
    def passes(secs: Double): Seq[(String, Double, String)] = {
      val perKey = scala.collection.mutable.Map.empty[String, Vector[Double]]
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val attempted0 = run.attempted
      val end = System.nanoTime() + (secs * 1e9).toLong
      do {
        val order = First +: new scala.util.Random(run.seed * 1000 + pass).shuffle(Keys.filterNot(_ == First))
        pass += 1
        val times = order.flatMap(k => one(k).map { t =>
          perKey(k) = perKey.getOrElse(k, Vector.empty) :+ t
          t
        })
        if (times.length == Keys.length) walls += times.sum
      } while (System.nanoTime() < end)
      val keyTimes = perKey.values.flatten.toSeq
      val whole = if (walls.isEmpty) Nil else Seq(
        ("cycle_s", Stats.median(walls.toSeq), "s"),
        ("throughput_qps", keyTimes.length / keyTimes.sum, "1/s"),
        ("latency_ms", math.exp(keyTimes.map(math.log).sum / keyTimes.length) * 1000, "ms"),
        ("recall", matched.toDouble / (run.attempted - attempted0), "ratio"))
      whole ++ perKey.toSeq.map { case (k, vs) => (s"operators.${k}_s", Stats.median(vs), "s") }
    }
    // every run times the first pass of a fresh JVM
    val w = Measure.window(run)(passes)
    if (run.trace) run.tracer.sparkMetrics(run, w.t0, w.t1, w.ops)
  }
}
