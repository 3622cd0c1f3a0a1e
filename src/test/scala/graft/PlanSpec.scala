package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression net: the properties that make these
  * queries scale (broadcast dims, pushed filters, pruned columns)
  * should survive refactors. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("c46 final plan reads only materialized stages (no documents re-scan)") {
    // the composed pipeline stages its survivor prefix (s2 checkpoint)
    // and pplBucket checkpoints its result, so the FINAL plan must
    // consume checkpointed RDDs only — a parquet scan of documents
    // here means some consumer went back through the whole
    // c44→c6→c27 prefix (the recompute the r15 staging closed)
    val p = plan(operators.PipelineQueries.pipelineE2e(spark, sf))
    assert(!p.contains("FileScan parquet"),
      s"c46 final plan re-scans parquet:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpoint scans in:\n$p")
  }

  test("e3: dims broadcast, fact joins are shuffled-hash, nothing sorts") {
    // the r16 scale shape (results/e3_scale_fix_r16.json): nation/
    // region/ASIA-supplier ride broadcasts; orders⋈customer and
    // lineitem⋈oc build hash maps on the smaller side and stream the
    // fact unsorted — an SMJ here re-grows the 300M-row sort+spill
    // the sf50 adjudication caught
    val p = plan(operators.Relational.q5MultiJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("ShuffledHashJoin"), s"fact join lost the shuffle_hash build:\n$p")
    assert(!p.contains("SortMergeJoin"), "a join fell back to SMJ")
  }

  test("e2/e3 at dim-broadcast cap 0: gated dims shuffle-hash, nothing sorts; bad caps rejected") {
    import operators.Relational.DimBroadcastMaxBytesKey
    // the join line of a physical operator on a given key, e.g.
    // "BroadcastHashJoin [l_suppkey#12L], [s_suppkey#40L], Inner, ..."
    def joins(p: String, op: String, key: String): Int =
      p.linesIterator.count(l => l.contains(op) && l.contains(key))
    def plans(): (String, String) =
      (plan(operators.Relational.q3Join(spark, sf)),
        plan(operators.Relational.q5MultiJoin(spark, sf)))
    def withCap[A](v: String)(body: => A): A = {
      spark.conf.set(DimBroadcastMaxBytesKey, v)
      try body finally spark.conf.unset(DimBroadcastMaxBytesKey)
    }
    // default cap: the fact-proportional dims (e2 customer, e3 supplier)
    // ride broadcasts at spec scale
    val (e2, e3) = plans()
    assert(joins(e2, "BroadcastHashJoin", "c_custkey") == 1, e2)
    assert(joins(e3, "BroadcastHashJoin", "s_suppkey") == 1, e3)
    // cap 0 forces the large-dim form: both gated joins become
    // shuffled-hash builds, the constant-size nation/region dims keep
    // their broadcast, and no join falls back to a sort-merge
    val (e2f, e3f) = withCap("0")(plans())
    assert(joins(e2f, "BroadcastHashJoin", "c_custkey") == 0, e2f)
    assert(joins(e2f, "ShuffledHashJoin", "c_custkey") == 1, e2f)
    assert(joins(e3f, "BroadcastHashJoin", "s_suppkey") == 0, e3f)
    assert(joins(e3f, "ShuffledHashJoin", "s_suppkey") == 1, e3f)
    assert(joins(e3f, "BroadcastHashJoin", "n_regionkey") == 1, e3f)
    assert(!e3f.contains("SortMergeJoin"), s"a join fell back to SMJ:\n$e3f")
    // a malformed or negative cap fails loudly, naming the key
    Seq("256MB", "-1", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        withCap(bad)(operators.Relational.q5MultiJoin(spark, sf)))
      assert(e.getMessage.contains(DimBroadcastMaxBytesKey), e.getMessage)
    }
  }

  test("e2 pushes the segment filter into the customer scan") {
    val p = plan(operators.Relational.q3Join(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$p")
  }

  test("a1 reads only the two needed columns from parquet") {
    val p = plan(operators.VectorQueries.vecL2(spark, sf))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"column pruning lost:\n$p")
  }

  test("c5 block plan: no cartesian or nested-loop join of corpus rows") {
    val p = plan(operators.PipelineQueries.dedupEmbed(spark, sf))
    assert(!p.contains("CartesianProduct"), s"c5 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"c5 planned a BNLJ:\n$p")
  }

  test("c4 jaccard stays in codegen (no UDF node in the plan)") {
    val p = plan(operators.PipelineQueries.ngramJaccard(spark, sf))
    assert(!p.contains("UDF"), s"c4 fell back to a UDF:\n$p")
  }

  test("b5 ex-code checksum is a typed kernel (no UDF node in the plan)") {
    val p = plan(operators.AnnQueries.exrabitqCode(spark, sf))
    assert(!p.contains("UDF"), s"b5 fell back to a UDF:\n$p")
  }

  test("optimizer rule removes sqrt from distance-threshold filters") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.functions.VectorFunctions.vec_l2
    graft.plans.SimplifyVectorExpressions.install(spark)
    // file-backed source: a LocalRelation would be fully folded by the
    // optimizer, hiding the rewrite from the plan string
    val emb = Tables.embeddings(spark, sf)
    val q = Array.fill(64)(0.1f)
    val filtered = emb.filter(vec_l2($"embedding", lit(q).cast("array<float>")) < 2.0)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(!optimized.toUpperCase.contains("SQRT"), s"sqrt survived:\n$optimized")
    assert(optimized.contains("4.0"), s"squared threshold missing:\n$optimized")
    // semantics preserved, incl. NaN vectors (compare vs unoptimized
    // squared-space formulation evaluated directly)
    import graft.functions.VectorFunctions.vec_l2sq
    val expect = emb.filter(vec_l2sq($"embedding", lit(q).cast("array<float>")) < 4.0)
      .select("vec_id").as[Long].collect().toSet
    val got = filtered.select("vec_id").as[Long].collect().toSet
    assert(got == expect && got.nonEmpty)
    // the mirrored far-filter shape (distance ABOVE a constant) is
    // covered by the same rule — diversity/outlier gates must not keep
    // paying the per-row sqrt just because the comparison flipped
    // threshold 1.4 splits this corpus (some vectors nearer, some
    // farther) so both the rewrite AND the semantics are exercised
    val far = emb.filter(vec_l2($"embedding", lit(q).cast("array<float>")) > 1.4)
    val farPlan = far.queryExecution.optimizedPlan.toString
    assert(!farPlan.toUpperCase.contains("SQRT"), s"sqrt survived the > shape:\n$farPlan")
    val farExpect = emb
      .filter(vec_l2sq($"embedding", lit(q).cast("array<float>")) > 1.4 * 1.4)
      .select("vec_id").as[Long].collect().toSet
    val farGot = far.select("vec_id").as[Long].collect().toSet
    assert(farGot == farExpect,
      s"far-shape semantics drifted: ${farGot.size} vs ${farExpect.size}")
    assert(farGot.nonEmpty && farGot.size < emb.count(),
      "far threshold does not split the corpus — pick a new one")
  }

  test("e1 aggregation is map-side partial with the date filter applied pre-agg") {
    // (AQE prints isFinalPlan=false before execution, so codegen stage
    // markers aren't visible here — partial aggregation is the
    // scale-critical property)
    val p = plan(operators.Relational.q1Agg(spark, sf))
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
    assert(p.contains("Filter (isnotnull(l_shipdate"), "date filter not before agg")
  }

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("c12 pii scrub is a pure narrow map (no exchange of any kind, no UDF)") {
    // the library op, not the harness query (which adds a
    // presentation-only orderBy): at 100 TB this must be a pure scan
    val p = plan(ops.CorpusOps.piiScrub(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), s"c12 grew a shuffle:\n$p")
    assert(!p.contains("UDF"), s"c12 fell back to a UDF:\n$p")
  }

  test("c15 packing is a distributed prefix-sum (no per-source window, no hash shuffle)") {
    val p = plan(operators.PipelineQueries.packChunks(spark, sf))
    // the per-source window (one task per source value — a serializer
    // at 100 TB) must never come back; the cumsum now rides one range
    // shuffle + a narrow map (CorpusSpec pins >1 task per source)
    assert(!p.contains("windowspecdefinition"), s"per-source window is back:\n$p")
    assert(hashExchanges(p) == 0, s"c15 must not hash-shuffle:\n$p")
  }

  test("c16 quality gate shuffles once (window min over md5, no groupBy+join)") {
    val p = plan(operators.PipelineQueries.corpusFilter(spark, sf))
    assert(hashExchanges(p) == 1, s"c16 must shuffle exactly once, on md5(text):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"c16 planned a join; the canonical-copy rule should be a window:\n$p")
  }

  test("c18 stats pre-aggregate to a value histogram (no raw-value percentile buffer)") {
    val p = plan(operators.PipelineQueries.corpusStats(spark, sf))
    // the direct `percentile` aggregate (which buffers every group
    // value on one reducer) must never come back
    assert(!p.toLowerCase.contains("percentile"), s"raw percentile aggregate is back:\n$p")
    // raw rows are partially aggregated map-side before the only
    // corpus-wide shuffle (the histogram on (source, n_tok))
    assert(p.contains("partial_count"), s"histogram partial aggregation missing:\n$p")
  }

  test("c17 contamination joins broadcast (corpus side never shuffles for the join)") {
    val p = plan(operators.PipelineQueries.contamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side fell into a shuffle join:\n$p")
    // the inferred explode pre-filter must not re-evaluate the shingle
    // expression in the scan stage (explode_outer avoids it): the
    // single-pass shingle kernel appears once per side (eval + corpus),
    // never a third time inside a filter
    assert("text_shingles".r.findAllIn(p).length <= 2,
      s"shingle-recomputing pre-filter is back:\n$p")
  }

  test("c17/c39 shingles run the single-pass native expressions (no interpreted HOF chain)") {
    val p17 = plan(operators.PipelineQueries.contamination(spark, sf))
    assert(p17.contains("text_shingles"), s"c17 lost the native shingle kernel:\n$p17")
    assert(!p17.contains("array_distinct"),
      s"c17 regressed to the interpreted HOF shingle chain:\n$p17")
    val p39 = plan(operators.PipelineQueries.bloomContain(spark, sf))
    assert(p39.contains("text_shingles") && p39.contains("md5_slice_positions"),
      s"c39 lost a native kernel:\n$p39")
    assert(!p39.contains("array_distinct") && !p39.contains("conv("),
      s"c39 regressed to the hex-slice projection:\n$p39")
    // c41 checkpoints eagerly (its plan is a Scan ExistingRDD), so its
    // shared cmsFlatPositions kernel is pinned through the streaming
    // twin's lazy plan instead
    val p15 = plan(graft.ops.Sketches.cmsFlatPositions(
      Tables.documents(spark, sf)).toDF())
    assert(p15.contains("md5_slice_positions"),
      s"the CMS position kernel lost the native expression:\n$p15")
  }

  test("c22 domain mix broadcasts the rate table and keeps the corpus unshuffled") {
    val p = plan(operators.PipelineQueries.domainMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join appeared:\n$p")
  }

  test("c21 repetition metrics: typed kernel, narrow map (no shuffle, no scalar UDF)") {
    val p = plan(operators.PipelineQueries.docRepetition(spark, sf))
    assert(p.contains("MapPartitions"), s"c21 lost its typed kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c21 fell back to a scalar UDF:\n$p")
    // narrow map: the only exchange is the harness's trailing orderBy
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"c21 grew a shuffle:\n$p")
  }

  test("c24 substring dedup: typed span kernel, dup test is a key-window (no join-back rescan)") {
    val p = plan(operators.PipelineQueries.substringDedup(spark, sf))
    // the span hashes come from the compiled typed kernel (shows as
    // MapPartitions via Spark's internal UDFAdaptors — NOT a scalar
    // ScalaUDF fallback, which would evaluate per-row interpreted)
    assert(p.contains("MapPartitions"), s"c24 lost its typed span kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c24 fell back to a scalar UDF:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"c24 planned a non-equi join:\n$p")
    // exploded windows feed the min/max key-window directly: the only
    // scans are the window source and the final doc left-join side —
    // the groupBy+join-back shape would show a third
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"c24 rescans the corpus for the dup join:\n$p")
  }

  test("c25 bm25: typed tf kernel, no corpus explode, query fan-out broadcast") {
    val p = plan(operators.PipelineQueries.bm25Search(spark, sf))
    // per-doc term counting is the compiled kernel (MapPartitions via
    // UDFAdaptors), never a posting explode or a scalar-UDF fallback
    assert(p.contains("MapPartitions"), s"c25 lost its typed tf kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c25 fell back to a scalar UDF:\n$p")
    assert(!p.toLowerCase.contains("explode"), s"c25 explodes the corpus again:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query fan-out join not broadcast:\n$p")
    // exactly two corpus scans: the one-row stats partial agg and the
    // tf kernel scan; a doc-length join-back would add a third
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"c25 grew a corpus-sized doc-length join:\n$p")
  }

  test("c31 boilerplate: typed segment kernel, dup test is a key-window") {
    val p = plan(ops.CorpusOps.boilerplate(Tables.documents(spark, sf)))
    // segment hashes come from the compiled typed kernel (MapPartitions,
    // not an interpreted transform-lambda or scalar UDF), and the dup
    // test is the min/max key-window — no frequency-table join-back
    assert(p.contains("MapPartitions"), s"c31 lost its typed segment kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c31 fell back to a scalar UDF:\n$p")
    assert(!p.contains("CartesianProduct"), s"c31 planned a cartesian:\n$p")
  }

  test("c32 budget select: bucket-parallel cumsum, no global range sort") {
    // pin the lazy ranking pipeline (the public query eagerly
    // checkpoints it, which hides the plan); the compiled kernel
    // replaces the round-8 interpreted HOF scoring
    val m = ops.CorpusOps.budgetScoreRows(Tables.documents(spark, sf))
    val p = plan(ops.CorpusOps.budgetRanked(m, ops.CorpusOps.TokenBudget,
      ops.CorpusOps.SubRange))
    // the global ordered cumsum must come from the per-score-bucket
    // window + the broadcast offset join — rangepartitioning would mean
    // the plan regressed to a single-ordering global sort
    assert(!p.contains("rangepartitioning"), s"c32 globally range-sorts:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offset join not broadcast:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"c32 lost the compiled scoring kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c32 fell back to a scalar UDF:\n$p")
  }

  test("c44 url gate: compiled parse kernel, broadcast blocklist, no window over domain") {
    import org.apache.spark.sql.functions.col
    val p0 = ops.UrlGate.parsedRows(Tables.documents(spark, sf)
      .select(col("doc_id"), ops.UrlGate.synthUrl(col("doc_id")).as("url")))
    val p = plan(ops.UrlGate.gatePlan(p0, ops.UrlGate.Blocklist, ops.UrlGate.DomainCap))
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"c44 lost the compiled parse kernel:\n$p")
    assert(!p.contains("ScalaUDF"), s"c44 fell back to a scalar UDF:\n$p")
    assert(!p.contains("CartesianProduct"), s"c44 planned a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"blocklist join not broadcast:\n$p")
    // the per-domain cap must run through the bounded-heap aggregate,
    // never a per-domain window sort (the c15/c32 skew trap)
    assert(!p.toLowerCase.contains("window"), s"c44 planned a window:\n$p")
  }

  test("c46 pipeline e2e: composition joins stay keyed, no cartesian, no UDF") {
    // the stage INTERNALS are pinned by the per-operator tests above;
    // this pins the composition surface — the survivor semi-joins and
    // the trailing tier ⋈ selection join must stay keyed equi-joins
    val p = plan(operators.PipelineQueries.pipelineE2e(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"c46 planned an unkeyed join:\n$p")
    assert(!p.contains("ScalaUDF"), s"c46 fell back to a scalar UDF:\n$p")
  }

  test("c30 shuffle shard: bucket-parallel rank, no global range sort") {
    val p = plan(ops.CorpusOps.shuffleShard(Tables.documents(spark, sf)))
    // the global rank must come from the 256-way bucket window + the
    // broadcast offset join — a rangepartitioning exchange would mean
    // the plan regressed to a single-ordering global sort
    assert(!p.contains("rangepartitioning"), s"c30 globally range-sorts:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offset join not broadcast:\n$p")
  }

  test("c29 embed contamination: broadcast-kernel argmax, zero exchanges") {
    // the operator body (before the harness orderBy) must be a pure
    // narrow map: eval rides the task broadcast, no N×E explode
    val p = plan(ops.CorpusOps.embedContamination(spark,
      Tables.embeddings(spark, sf)))
    assert(p.contains("MapPartitions"), s"c29 lost its typed kernel:\n$p")
    assert(!p.contains("Exchange"), s"c29 shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"c29 joined instead of broadcasting into the kernel:\n$p")
  }

  test("c27/c28 LM scoring: typed count kernels, model joins keyed, one one-row cross each") {
    // the public ops checkpoint their bounded result eagerly (the c42
    // pattern), which erases the lineage — inspect the lazy pipeline
    // variants, the exact plan that runs inside the checkpoint
    for ((name, df) <- Seq(
        "c27" -> ops.LmScore.ngramLmPlan(Tables.documents(spark, sf)),
        "c28" -> ops.LmScore.dsirWeightPlan(Tables.documents(spark, sf)))) {
      val p = plan(df)
      assert(p.contains("MapPartitions"), s"$name lost its typed count kernel:\n$p")
      assert(!p.contains("ScalaUDF"), s"$name fell back to a scalar UDF:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      // model tables join back by gram KEY (hash or broadcast, AQE's
      // choice); the only nested-loop allowed is the one-row
      // vocab/totals broadcast cross
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
        s"$name nested-loops corpus rows:\n$p")
    }
  }

  test("c36 frame sampling is a codegen narrow map (no hash shuffle, no UDF, no join)") {
    val p = plan(operators.PipelineQueries.frameSample(spark, sf))
    assert(!p.contains("Join") && !p.contains("ScalaUDF"),
      s"c36 frame explode regressed:\n$p")
    // the only exchange allowed is the harness-surface orderBy's range
    // partitioning; the explode itself must stay narrow
    assert(!p.contains("Exchange hashpartitioning"),
      s"c36 frame sampling shuffles:\n$p")
  }

  test("c35 bpe encode: broadcast merge table into a narrow typed kernel (no shuffle)") {
    val p = plan(ops.BpeTrain.bpeEncode(spark,
      Tables.documents(spark, sf), numMerges = 4))
    assert(p.contains("MapPartitions"), s"c35 lost its typed kernel:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"c35 encode must be a narrow map:\n$p")
  }

  test("c37 kmv sketch aggregates partially map-side (one keyed exchange, no distinct shuffle)") {
    val p = plan(operators.PipelineQueries.kmvDistinct(spark, sf))
    // partial + final object-hash aggregate around ONE exchange on the
    // group key; the whole point is the distinct set never shuffles
    assert(p.contains("ObjectHashAggregate"), s"c37 lost the typed aggregator:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"c37 must shuffle only the per-partition sketches:\n$p")
    assert(!p.contains("Join"), s"c37 planned a join:\n$p")
  }

  test("c39/c41 sketch aggregations: map-side partial combine, one keyed exchange, no join") {
    // bloom: the bitmap path (probe collect happens before the plan)
    val p39 = plan(operators.PipelineQueries.bloomContain(spark, sf))
    assert(p39.contains("ObjectHashAggregate"), s"c39 lost the typed aggregator:\n$p39")
    assert("Exchange hashpartitioning".r.findAllIn(p39).length == 1,
      s"c39 must shuffle only per-partition sketches:\n$p39")
    assert(!p39.contains("Join"), s"c39 planned a join:\n$p39")
    // c41 single-scan form: ONE corpus wordcount (partial-agg exchange)
    // feeds both registry and the weighted sketch; the public query
    // checkpoints eagerly, so pin the lazy pipeline directly
    val docs = Tables.documents(spark, sf)
    val bySrc = graft.ops.Sketches.heavyWordCounts(docs)
    val (cands, trueCounts) = graft.ops.Sketches.registryFrom(bySrc)
    val p41 = plan(graft.ops.Sketches.heavyHittersFrom(bySrc, cands, trueCounts))
    assert(p41.contains("ObjectHashAggregate"), s"c41 lost the typed aggregator:\n$p41")
    assert("Exchange hashpartitioning".r.findAllIn(p41).length == 2,
      s"c41 expected wordcount + sketch exchanges only:\n$p41")
    assert("Scan parquet".r.findAllIn(p41).length == 1,
      s"c41 must scan the corpus exactly once:\n$p41")
    assert(!p41.contains("Join"), s"c41 planned a join:\n$p41")
  }

  test("c40 weighted sample: bounded-heap top-k, not a per-source window sort") {
    val p = plan(operators.PipelineQueries.weightedSample(spark, sf))
    assert(p.contains("ObjectHashAggregate"), s"c40 lost the typed top-k aggregator:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"c40 must shuffle only per-partition heaps:\n$p")
    // the skew trap this operator exists to avoid: one window partition
    // per source funneling the whole source through one task
    assert(!p.contains("Window"), s"c40 planned a window sort:\n$p")
  }

  test("e11/e12 plan as true semi/anti join operators (no dedup, no null-pad filter)") {
    val ps = plan(operators.Relational.semiJoin(spark, sf))
    assert(ps.contains("LeftSemi"), s"e11 lost the semi join:\n$ps")
    val pa = plan(operators.Relational.antiJoin(spark, sf))
    assert(pa.contains("LeftAnti"), s"e12 lost the anti join:\n$pa")
    // the rewrites these operators avoid: join+distinct / left-join+filter
    assert(!ps.contains("Distinct") && !pa.contains("Distinct"),
      "semi/anti rewritten through a dedup")
  }

  test("e16 unpivot plans as one Expand over one scan (no union of per-measure rescans)") {
    val p = plan(operators.Relational.unpivotAgg(spark, sf))
    assert(p.contains("Expand"), s"e16 lost the native unpivot operator:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"e16 must read lineitem once, not once per measure:\n$p")
    assert(!p.contains("Union"), s"e16 rewrote through a union of scans:\n$p")
  }

  test("e17 grouping sets plans as one Expand + one aggregation shuffle (no cube blowup)") {
    val p = plan(operators.Relational.groupingSetsAgg(spark, sf))
    assert(p.contains("Expand"), s"e17 lost the grouping-sets expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"e17 must read lineitem once, not once per set:\n$p")
    assert(!p.contains("Union"), s"e17 rewrote through a union of aggregates:\n$p")
  }

  test("e18 range join plans as a keyed equi join with the time range as residual") {
    val p = plan(operators.Relational.rangeJoin(spark, sf))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"e18 lost the equi join on user_id:\n$p")
    // what a pure range predicate would degenerate to at 100 TB
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"e18 planned an unkeyed range join:\n$p")
  }

  test("e19 full outer join reuses the aggregates' partitioning (exactly two exchanges)") {
    val p = plan(operators.Relational.fullOuterJoin(spark, sf))
    assert(p.contains("FullOuter"), s"e19 lost outer semantics:\n$p")
    // one shuffle per year-aggregate; the join itself must add NO
    // third exchange (children already hash-partitioned on the key)
    // and the final orderBy adds the range exchange for output order
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2,
      s"e19 expected exactly 2 hash exchanges (one per agg), got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"e19 degenerated to an unkeyed join:\n$p")
  }

  test("e15 set operators plan as semi/anti joins (no cartesian, no generic join)") {
    val p = plan(operators.Relational.setOps(spark, sf))
    assert(p.contains("LeftSemi"), s"INTERSECT lost its semi join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT lost its anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"set op planned a cartesian:\n$p")
  }

  test("e9 as-of join plans as union + ONE keyed shuffle, never a join") {
    val p = plan(operators.Relational.asofJoin(spark, sf))
    // the scale property: a time-inequality join would be a BNLJ or
    // cartesian; the union-tag window form has no join node at all
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"e9 planned a join:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1 &&
      "Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"e9 should shuffle exactly once, on user_id:\n$p")
  }

  test("e10 pivot: explicit value list runs NO plan-time distinct job") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).fold("")(p =>
          p.getProperty("spark.job.description", "") + " " +
          p.getProperty("callSite.short", "")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = operators.Relational.pivotAgg(spark, sf)
      df.queryExecution.executedPlan // force planning
      // listener events are async but delivered FIFO: run a sentinel
      // job and spin until ITS JobStart arrives — at that point every
      // earlier JobStart (including a plan-time distinct scan, had one
      // run) has been delivered too. No sleep race in either
      // direction. The parquet file-listing job is legitimate; a
      // pivot-values scan shows up as a collect/takeAsList call site.
      spark.sparkContext.setJobDescription("e10-sentinel")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.toArray(Array.empty[String]).exists(_.contains("e10-sentinel"))
          && System.nanoTime() < deadline) Thread.sleep(20)
      val seen = jobs.toArray(Array.empty[String])
      val sentinelAt = seen.indexWhere(_.contains("e10-sentinel"))
      assert(sentinelAt >= 0, "sentinel job event never arrived")
      val scans = seen.take(sentinelAt)
        .filter(s => s.contains("collect") || s.contains("take") || s.contains("pivot"))
      assert(scans.isEmpty,
        s"building the pivot plan ran a distinct-values scan: ${scans.mkString(", ")}")
      val p = plan(df)
      // Spark's pivot plans as partial agg on (source,lang) then
      // pivotfirst re-agg on source — two keyed exchanges, no join
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2 &&
        !p.contains("Join") && !p.contains("CartesianProduct"),
        s"e10 pivot plan shape regressed:\n$p")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
