package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warmup pass (table footers + one tiny query) runs first so the
  * numbers measure the operators, not JVM/codegen cold start.
  * Each query is forced through `toRdd.foreach`, which evaluates the
  * FULL physical plan — a bare count() would let Catalyst prune the
  * very projections (vector kernels etc.) being benchmarked.
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and
  * reports the per-query MIN: single-shot numbers on a shared machine
  * swing 10-30× on identical code (environment stalls), so the min is
  * the only statistic stable enough to compare across rounds.
  * Failed queries report -1 seconds instead of masquerading as fast. */
object Bench {
  /** Parse the baseline TSV (tools/make_baseline.py): `key\tseconds`
    * rows under an optional `# ... sf=<tag> ...` header comment. Empty
    * on any problem — a missing/garbled/foreign-sf baseline must
    * suppress the ratio, never crash the bench or compare
    * cross-scale. -1 failure sentinels are dropped so the totals only
    * ever cover queries both engines timed. */
  private[graft] def readBaseline(path: String, benchSf: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isReadable(p)) {
        val lines = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala
        // the header comment records the TSV's scale factor; comparing
        // a bench at a DIFFERENT sf against it would be meaningless,
        // so the ratio is only emitted on a match (or an untagged TSV)
        val tsvSf = lines.headOption.filter(_.startsWith("#"))
          .flatMap(_.split("\\s+").find(_.startsWith("sf="))).map(_.drop(3))
        if (tsvSf.forall(_ == benchSf))
          lines
            .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
            .flatMap { l =>
              l.split("\t") match {
                case Array(k, v) => scala.util.Try(k -> v.toDouble).toOption
                case _ => None
              }
            }.filter(_._2 >= 0).toMap
        else Map.empty
      } else Map.empty
    } catch { case _: Throwable => Map.empty }

  /** Sentinel queries for the drift check: trivially cheap, untouched
    * for many rounds, pure narrow maps — if their walls move, the
    * MACHINE moved. (a2/a4 per the round-14 lesson: they drifted
    * +30-65% together for hours with zero code change.) */
  private[graft] val DriftSentinels = Seq("a2_vec_dot", "a4_vec_norm")

  /** Relative band a sentinel may move (either direction) before the
    * snapshot self-reports environmental drift. */
  private[graft] val DriftBand = 1.3

  /** Relative band for the MEDIAN cur/ref ratio across all common
    * queries (the round-16 third signal): the r15 snapshot was
    * uniformly ~15-20% elevated yet stamped drift-ok because both
    * sentinels sat just under 1.3 — a fleet-wide shift needs a
    * fleet-wide statistic. The median is robust to the handful of
    * rows whose code genuinely changed in a round. */
  private[graft] val MedianBand = 1.15

  /** Median of cur/ref over every query timed in BOTH maps; None when
    * fewer than 5 overlap (a subset run must not adjudicate the
    * machine from 2 rows). */
  private[graft] def medianRatio(
      ref: Map[String, Double],
      cur: Map[String, Double]): Option[Double] = {
    val rs = cur.toSeq.flatMap { case (k, b) =>
      ref.get(k).collect { case a if a > 0 && b > 0 => b / a }
    }.sorted
    if (rs.length < 5) None
    else Some(
      if (rs.length % 2 == 1) rs(rs.length / 2)
      else (rs(rs.length / 2 - 1) + rs(rs.length / 2)) / 2)
  }

  /** Worst sentinel movement of `cur` vs `ref` as (ratio, key,
    * verdict); None only when NEITHER signal is computable (no
    * sentinel pair overlaps AND fewer than 5 common queries). The
    * verdict folds in the median gate: `env-drift-suspected` when a
    * sentinel trips its band, else `env-elevated` when the all-query
    * median moved past [[MedianBand]] in either direction (sentinels
    * quiet — or absent — but the whole fleet shifted), else `ok`.
    * A snapshot whose sentinels both failed (-1) must not silence the
    * fleet-wide statistic: with no sentinel pair the ratio reports -1
    * and key `none`, and the median alone adjudicates. */
  private[graft] def drift(
      ref: Map[String, Double],
      cur: Map[String, Double]): Option[(Double, String, String, Option[Double])] = {
    val moves = DriftSentinels.flatMap { k =>
      for {
        a <- ref.get(k) if a > 0
        b <- cur.get(k) if b > 0
      } yield (math.max(a / b, b / a), k)
    }
    val med = medianRatio(ref, cur)
    val medTrips = med.exists(m => math.max(m, 1 / m) > MedianBand)
    moves.sortBy(-_._1).headOption match {
      case Some((r, k)) =>
        val verdict =
          if (r > DriftBand) "env-drift-suspected"
          else if (medTrips) "env-elevated"
          else "ok"
        Some((r, k, verdict, med))
      case None =>
        med.map(_ => (-1.0, "none", if (medTrips) "env-elevated" else "ok", med))
    }
  }

  /** The non-default config knobs that legitimately move timings
    * (state store, shuffle partitions — the measured d12
    * curve moves 2.6→7.2 s across SPARK_GRAFT_SHUFFLE alone), joined
    * into one comparable tag; empty for a default-config run. Stamped
    * into every snapshot and gated by [[readSnapshotQueries]] — the
    * cpus rule, extended to every knob that belongs in it. */
  private[graft] def envConfigTag: String =
    Seq("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_STATE_STORE")
      .flatMap(k => sys.env.get(k).map(v => s"$k=$v")).mkString(",")

  /** Parse a Linux /proc/loadavg line ("l1 l5 l15 running/total pid")
    * into (load1, load5, load15, runnableProcs, totalProcs); None on
    * any shape surprise. Factored for the spec — the stamp itself must
    * never fail a bench run. */
  private[graft] def parseLoadAvg(s: String): Option[(Double, Double, Double, Int, Int)] =
    s.trim.split("\\s+") match {
      case Array(l1, l5, l15, rt, _*) if rt.contains("/") =>
        val Array(r, t) = rt.split("/", 2)
        for {
          a <- l1.toDoubleOption; b <- l5.toDoubleOption
          c <- l15.toDoubleOption; p <- r.toIntOption; q <- t.toIntOption
        } yield (a, b, c, p, q)
      case _ => None
    }

  /** Host-contention stamp for the snapshot (round-16 verdict item 7):
    * six consecutive re-runs self-stamped drift with nothing in the
    * snapshot to separate machine eras — now every snapshot records
    * the launch-time load and process counts. Empty on any problem. */
  private[graft] def hostStampJson: String =
    try {
      val p = java.nio.file.Paths.get("/proc/loadavg")
      if (!java.nio.file.Files.isReadable(p)) ""
      else parseLoadAvg(java.nio.file.Files.readString(p)).fold("") {
        case (l1, l5, l15, r, t) =>
          s""","host":{"load1":$l1,"load5":$l5,"load15":$l15,"procs_running":$r,"procs_total":$t}"""
      }
    } catch { case scala.util.control.NonFatal(_) => "" }

  /** The per-query min map of a previous bench snapshot JSON; empty on
    * any problem (first run, corrupt file), an sf-tag mismatch (an
    * sf1 spot-check snapshot must not adjudicate an sf0.1 run), or a
    * machine-config mismatch (a CPUS=8 or SHUFFLE=32 A/B run
    * legitimately moves timings 2-3x — comparing across configs would
    * both false-alarm AND poison the reference for the next standard
    * run; snapshots predating the cpus/env_config fields are accepted
    * only from a default-config run) — drift is advisory. */
  private[graft] def readSnapshotQueries(
      path: String, benchSf: String, benchCpus: Int,
      configTag: String = ""): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isReadable(p)) Map.empty
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        val sfNode = node.get("sf")
        val sfOk = sfNode != null && sfNode.isTextual &&
          java.nio.file.Paths.get(sfNode.asText()).getFileName.toString == benchSf
        val cpusNode = node.get("cpus")
        val cpusOk = cpusNode == null ||
          (cpusNode.isNumber && cpusNode.asInt() == benchCpus)
        // a snapshot without the field predates it: accept only when
        // the CURRENT run is also default-config (all committed
        // pre-field snapshots were default-config runs)
        val cfgNode = node.get("env_config")
        val cfgOk =
          if (cfgNode == null) configTag.isEmpty
          else cfgNode.isTextual && cfgNode.asText() == configTag
        val q = node.get("queries")
        if (!sfOk || !cpusOk || !cfgOk || q == null || !q.isObject) Map.empty
        else {
          val it = q.properties().iterator()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    // f"%.3f" under a comma-decimal default locale would emit invalid
    // JSON (query_runs, drift) — pin ROOT like every JSON-emitting main
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // capture the host stamp at LAUNCH, before the session/warmup —
    // sampling it at print time (the first cut) measured the bench's
    // OWN 32-thread load, not the ambient contention the stamp exists
    // to record
    val host = hostStampJson
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envKnob("SPARK_GRAFT_CPUS", 4)(Sessions.positiveInt)
    val runs = Sessions.envKnob("SPARK_GRAFT_BENCH_RUNS", 3)(Sessions.positiveInt)
    // optional subset (e.g. the sf1 spot-check runs only e1/e3/c17/d1).
    // Validated BEFORE the SparkSession + warmup pass: a typo or an
    // empty value must fail in milliseconds, not after the warmup, and
    // must never produce a phantom zero-query "perfect" run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { ks =>
      require(ks.nonEmpty,
        "SPARK_GRAFT_BENCH_ONLY is set but names no queries")
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
    // SPARK_GRAFT_STATE_STORE=rocksdb flips the streaming state store
    // to the RocksDB provider (the d8/ScaleProbe production conf) so
    // the d3-d16 rows can be measured under both providers; default
    // stays the on-heap HDFSBackedStateStoreProvider the driver runs.
    // SPARK_GRAFT_SHUFFLE overrides the shuffle-partition count
    // independently of the thread count — the A/B knob for the
    // stateful streaming suite, where every micro-batch commits one
    // state store PER PARTITION and 32 stores of a few thousand rows
    // each is pure per-commit overhead at bench scale
    val shuffleKnob = Sessions.envKnob("SPARK_GRAFT_SHUFFLE", Option.empty[Int])(
      s => Some(Sessions.positiveInt(s)))
    val shufflePartitions = shuffleKnob.getOrElse(cpus).toString
    val stateStore = sys.env.get("SPARK_GRAFT_STATE_STORE").map(_.toLowerCase) match {
      case Some("rocksdb") => Map("spark.sql.streaming.stateStore.providerClass" ->
        graft.streaming.StateStoreConf.RocksDbProvider)
      case Some("hdfs") | None => Map.empty[String, String]
      // loud: a typo'd provider name must never silently mislabel an
      // A/B measurement as the default provider
      case Some(other) => sys.error(
        s"SPARK_GRAFT_STATE_STORE='$other' unrecognized (want rocksdb|hdfs)")
    }
    val spark = Sessions.local(cpus, Some(shufflePartitions.toInt), Map(
      "spark.sql.adaptive.enabled" -> "true",
      // let AQE size-coalesce CACHED plan output too (off by Spark
      // default): the staged operators (c19/c27/c32/c42) persist small
      // intermediate frames whose downstream scans otherwise run at the
      // full shuffle partition count regardless of size — measured on
      // c42 at 32 threads: 3.7 -> 2.3 s with results bit-identical (the
      // repo's order-free integer-sum discipline means partitioning can
      // never change a value, only the task count)
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // keep one post-shuffle partition per core (Spark's default):
      // coalescing to the advisory size instead ran c42/c27 slower in
      // the bench session (results/c42_parallelism_ab.json)
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true") ++ stateStore)

    // warmup: open every table once (footer reads, codec init, JIT).
    // Only the tables the dir holds: a replica slice (e.g. the
    // documents-only tools/make_lm_slice.py output) carries just the
    // tables its SPARK_GRAFT_BENCH_ONLY keys read.
    def present(t: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").filter(present).foreach { t =>
      Tables.load(spark, sfDir, t).count()
    }
    if (present("events")) Tables.events(spark, sfDir).count()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // Stateful streaming queries: every micro-batch commits one state
    // store PER SHUFFLE PARTITION, so the partition count must follow
    // STATE VOLUME, not core count — at sf0.1 (≤ a few hundred k state
    // rows) 32 stores are pure per-commit overhead. Measured curve for
    // the class (SURVEY §6): total 22.0/14.1/12.4/11.7 s and d12
    // 7.18/4.27/3.71/2.62 s at 32/16/8/4 partitions on 32 threads.
    // min(8, cpus) is the documented bench-scale default; an explicit
    // SPARK_GRAFT_SHUFFLE applies to this class too (the A/B knob).
    // Each bench iteration starts its stream on a fresh checkpoint, so
    // the conf is picked up per run; batch queries keep the session
    // default (state partitioning is fixed at first checkpoint in
    // production — pick it for the expected state, then live with it).
    val streamingKeys = Set("d3_stream_agg", "d4_stream_user_stats",
      "d6_stream_dedup", "d7_stream_gate", "d8_stream_spans",
      "d8b_stream_spans_mb",
      "d9_stream_contam", "d10_stream_asof", "d11_stream_kmv",
      "d12_stream_join", "d13_stream_dropdup", "d14_stream_bloom",
      "d15_stream_cms", "d16_stream_sample")
    val streamShuffle = shuffleKnob.fold(math.min(8, cpus).toString)(_ => shufflePartitions)

    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.conf.set("spark.sql.shuffle.partitions",
        if (streamingKeys(name)) streamShuffle else shufflePartitions)
      val secs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // untimed epilogue: scratch-dir cleanup (b13/b15 temp indexes)
        // is janitorial work, not operator cost — it must never share
        // a timing window with the measured query (r12's b15 row)
        Scratch.reap()
        if (ok) sec else -1.0
      }
      // a query must succeed on EVERY run to report a time — an
      // intermittent crash must not masquerade as a fast min
      (name, if (secs.forall(_ >= 0)) secs.min else -1.0, secs)
    }
    def esc(s: String): String = ProbeJson.esc(s)
    val qs = results.map { case (k, v, _) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    // round-15 dispersion discipline: every committed number carries
    // its spread — all raw runs per query, so a ±30% single-shot swing
    // adjudicates itself (noise shows as in-run dispersion or as a
    // drift-sentinel hit, never as a silent "regression")
    val qruns = results.map { case (k, _, rs) =>
      "\"" + esc(k) + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum

    // vs-baseline: results/baseline_duckdb.tsv (tools/make_baseline.py)
    // holds DuckDB min-of-N wall times for every oracle query. Totals
    // compare over the intersection of queries BOTH engines timed
    // successfully (failures are -1 sentinels on both sides), so the
    // ratio is always like-for-like.
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_BASELINE_TSV", "results/baseline_duckdb.tsv")
    val baseline: Map[String, Double] = readBaseline(
      baselinePath, java.nio.file.Paths.get(sfDir).getFileName.toString)
    // suppressed on subset runs: a ratio over a hand-picked subset must
    // never masquerade as the full-surface bar metric
    val vsBaseline =
      if (baseline.isEmpty || only.isDefined) ""
      else {
        val common = results.collect {
          case (k, v, _) if v >= 0 && baseline.contains(k) => (v, baseline(k))
        }
        val sparkTot = common.map(_._1).sum
        val duckTot = common.map(_._2).sum
        // raw toString, not the locale-sensitive f"%.4f" — a
        // comma-decimal default locale would emit invalid JSON
        if (common.isEmpty || duckTot <= 0) ""
        else s""","spark_oracle_total_sec":$sparkTot,"duckdb_total_sec":$duckTot,"vs_baseline":${sparkTot / duckTot}"""
      }
    // drift sentinel (round 15): the trivial a-rows never change code
    // round-to-round, so if THEY moved vs the previous full snapshot,
    // the machine moved, not the code — three rounds of ±30% swings
    // (r12-r14: c2/c3/c37/d11) were adjudicated by hand this way; now
    // the snapshot carries the verdict itself. Read BEFORE overwrite.
    val driftJson = {
      val ref = readSnapshotQueries("results/bench_last.json",
        java.nio.file.Paths.get(sfDir).getFileName.toString, cpus,
        envConfigTag)
      drift(ref, results.map { case (k, v, _) => k -> v }.toMap) match {
        case Some((worst, key, verdict, med)) =>
          if (verdict != "ok")
            System.err.println(f"[bench] DRIFT: verdict=$verdict ($key " +
              f"moved $worst%.2fx" +
              med.fold("")(m => f", all-query median $m%.3fx") +
              " vs results/bench_last.json) — re-run quiet before " +
              "reading regressions")
          val medJson = med.fold("")(m =>
            s""","median_ratio":${f"$m%.3f"},"median_band":$MedianBand""")
          s""","drift":{"worst_sentinel_ratio":${f"$worst%.3f"},"worst_sentinel":"$key"$medJson,"verdict":"$verdict"}"""
        case None => ""
      }
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$cpus,"env_config":"${esc(envConfigTag)}","queries":$qs,"query_runs":$qruns$vsBaseline$driftJson$host,"sf":"${esc(sfDir)}"}"""
    println(line)
    // Driver-contract repair (round-16 verdict item 1): the full line
    // above is ~8 KB and the driver's log capture keeps only a ~2 KB
    // tail that starts MID-line, so BENCH_r09..r16 all parsed as null.
    // Emit a second, compact summary line LAST — totals, config, drift,
    // host stamp, no per-query maps, well under 1 KB — so the tail
    // always contains one complete parseable JSON record. The full
    // per-query record stays in the line above and durably in
    // results/bench_last.json; nothing is removed or renamed.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$cpus,"env_config":"${esc(envConfigTag)}","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)}$vsBaseline$driftJson$host,"full_record":"results/bench_last.json","sf":"${esc(sfDir)}"}"""
    println(summary)
    // the same line, durably: the round-8 committed BENCH artifact
    // truncated mid-list in log capture, losing the total and the a*/b*
    // keys — this file is the self-contained copy of the LAST full run
    // (subset runs must not overwrite the full-surface record)
    if (only.isEmpty) {
      // atomic: write-temp + move, so a crash mid-write can never leave
      // a truncated snapshot, and each round has exactly ONE canonical
      // file — SPARK_GRAFT_BENCH_SNAPSHOT=r12 additionally stamps
      // results/bench_r12.json (overwriting an earlier same-round
      // snapshot rather than accumulating divergent copies)
      def atomically(path: String): Unit =
        try {
          val target = java.nio.file.Paths.get(path)
          val tmp = java.nio.file.Paths.get(path + ".tmp")
          java.nio.file.Files.writeString(tmp, line + "\n")
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch { case e: Exception =>
          System.err.println(s"[bench] could not write $path: $e")
        }
      atomically("results/bench_last.json")
      sys.env.get("SPARK_GRAFT_BENCH_SNAPSHOT").foreach { tag =>
        require(tag.matches("[A-Za-z0-9_.-]+"),
          s"SPARK_GRAFT_BENCH_SNAPSHOT must be a simple tag, got '$tag'")
        atomically(s"results/bench_$tag.json")
      }
    }
    spark.stop()
  }
}
