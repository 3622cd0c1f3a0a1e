package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Relational analytics layer (SURVEY.md §2 E) — proves out the general
  * query engine around the vector core.
  *
  * Determinism / oracle-parity notes:
  *  - Money sums are cast per-row to DECIMAL before aggregation so the
  *    result is exact and independent of partition/accumulation order
  *    (a plain double sum is order-dependent and would not hash-match
  *    the DuckDB oracle). The final value is cast back to DOUBLE.
  *  - Every query ends in a total ORDER BY for stable row order.
  *  - Counts are Long on both engines (oracle casts to BIGINT).
  *
  * Scale notes: dims (customer/nation/region/supplier/part) are
  * broadcast; only fact-fact joins (lineitem⋈orders) shuffle, on their
  * join key; aggregations are partial (map-side) by construction.
  */
object Relational {
  /** On-disk bytes of a table's parquet (file or directory), through
    * the Hadoop FS API so any storage scheme works; Long.MaxValue on
    * any problem so the broadcast gate below fails CLOSED (a dim we
    * could not size is never broadcast by hint). Driver-side metadata
    * only — microseconds, no job. */
  private[operators] def tableBytes(
      spark: SparkSession, dir: String, name: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Size gate for broadcast hints over FACT-PROPORTIONAL tables
    * (customer, supplier — both grow as SF×const in TPC-H): an
    * explicit `broadcast()` strategy hint is honored regardless of
    * size, so past the 8 GB / 512M-row broadcast cap the job FAILS
    * rather than falling back (the r16 verdict's e3 finding). Below
    * the threshold the hint stays (plan identical to r16 at every
    * test SF); above it the dim side gets a `shuffle_hash` hint
    * instead — builds the (filtered, projected) dim hash table
    * per-partition, streams the fact side, degrades instead of dying.
    *
    * The gate reads the table's ON-DISK bytes, which overestimates the
    * broadcast payload (the hinted frames are filtered ~5× and
    * projected to 2-3 columns), so the gate trips strictly before the
    * broadcast becomes dangerous. Default 256 MB ≈ TPC-H sf≈180 for
    * supplier / sf≈6 for customer; override per session via
    * [[DimBroadcastMaxBytesKey]] (production knob — at cluster scale
    * with big executors a larger cap can be right; 0 forces the
    * shuffle form). Read on every call; a malformed or negative value
    * fails the query instead of silently falling back to the default. */
  val DimBroadcastMaxBytesKey = "spark.graft.dimBroadcastMaxBytes"
  private def dimBcastMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption(DimBroadcastMaxBytesKey).fold(256L << 20) { s =>
      s.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$DimBroadcastMaxBytesKey must be a non-negative byte count, got '$s'"))
    }
  private def gatedBroadcast(
      spark: SparkSession, dir: String, table: String, dim: DataFrame): DataFrame =
    if (tableBytes(spark, dir, table) <= dimBcastMaxBytes(spark)) broadcast(dim)
    else dim.hint("shuffle_hash")

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))
  private def money(c: Column): Column = dec(c, 18, 6)
  private def revenueExpr: Column =
    money(col("l_extendedprice") * (lit(1.0) - col("l_discount")))

  /** Exact order-independent money sum on the hot path: per-row
    * floor(x·1e6 + 0.5) is the same IEEE double op in Spark and DuckDB
    * (equivalent to HALF_UP for the NON-NEGATIVE money values this is
    * contracted for, and unlike Spark's round() it avoids a per-row
    * BigDecimal), then a TWO-LANE long accumulation: sum(m >> 20) and
    * sum(m & 0xFFFFF), recombined as hi·2²⁰ + lo in doubles.
    *
    * Why two lanes: a single Long total of sum_charge-sized micros
    * (~1e11 per row) overflows 2⁶³ around 1e8 rows per group (≈ sf60)
    * while DuckDB's SUM(BIGINT) silently promotes to HUGEINT; a
    * DECIMAL(38,0) accumulator fixes that but measured +57% on the
    * e-row bench (precision-38 sums run on BigDecimal). The split
    * lanes stay primitive-long, with three regimes PropertySpec pins
    * against BigInt (= DuckDB HUGEINT) truth at max-magnitude micros
    * (~2e11, the sum_charge row ceiling):
    *  - rows/group ≤ ~9e9 (2⁵³/1e6 — ~3 TB in ONE group): both lane
    *    totals ≤ 2⁵³, so hi/lo convert exactly, hi·2²⁰ is an exact
    *    exponent shift, and the one IEEE add returns the
    *    correctly-rounded true sum — BIT-FOR-BIT the double DuckDB
    *    produces converting its exact HUGEINT.
    *  - ≤ ~8.8e12 rows/group (2⁶³ over the lo lane's 2²⁰-1 per-row
    *    max): lanes still never wrap, result within 1 ulp of the
    *    HUGEINT rounding (two extra roundings) — value-correct; a
    *    last-ulp hash divergence is possible in principle.
    *  - past that the LO lane (not hi — it is the 10× tighter bound)
    *    wraps and the value is wrong: ~100× beyond the 100 TB shape
    *    (1e11 rows/group), accepted as the design ceiling.
    * Oracle: SUM(CAST(floor(x*1e6+0.5) AS BIGINT))/1e6
    * (HUGEINT-promoted). Shared by e1/e7/e13/e16/e17 — one copy of
    * the oracle-critical rounding formula. */
  private def microSum(c: Column): Column = {
    val m = floor(c * lit(1e6) + lit(0.5)).cast(LongType)
    ((sum(shiftright(m, 20)).cast(DoubleType) * lit(1048576.0) +
      sum(m.bitwiseAND(lit(0xFFFFFL))).cast(DoubleType)) / lit(1e6)).as("_")
  }

  /** e1: pricing-summary aggregation (TPC-H Q1 shape). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        microSum(col("l_quantity")).as("sum_qty"),
        microSum(col("l_extendedprice")).as("sum_base_price"),
        microSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        microSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** e2: 3-table join + agg + top-N (TPC-H Q3 shape). Customer dim is
    * broadcast; orders⋈lineitem shuffles on the order key. */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-06-30").cast(TimestampType)
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      // customer is fact-proportional: size-gated broadcast (see
      // gatedBroadcast) so the plan degrades to a shuffled-hash build
      // of the filtered dim instead of failing past the broadcast cap
      .join(gatedBroadcast(spark, dir, "customer", c),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey")
      .agg(sum(revenueExpr).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** e3: 6-table star join (TPC-H Q5 shape); all dims broadcast. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("o_orderdate") <  lit("1998-01-01").cast(TimestampType))
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    // Join shape is the 100 TB one (the r16 sf50 adjudication caught
    // the old plan broadcasting CUSTOMER — a fact-proportional table,
    // 7.5M rows at sf50, 58 s wall):
    //  - only the constant-size dims (nation×region) carry an explicit
    //    broadcast hint; supplier-in-ASIA is reduced by that broadcast
    //    FIRST and then left to AQE, which broadcasts it while small
    //    and falls back to a shuffle join when it grows with SF;
    //  - orders⋈customer goes first (both shuffle on custkey, the two
    //    SMALLER tables), so lineitem shuffles exactly ONCE, on
    //    l_orderkey, pruned to four columns.
    // shuffle_hash hints on the build sides: Spark's default SMJ
    // SORTS the 300M-row lineitem shuffle (12.9 GB spill, 183 s at
    // sf50 — results/e3_scale_fix_r16.json); a shuffled hash join
    // builds on the smaller side (customer; then the date-filtered
    // orders⋈customer product, 13× smaller than lineitem) and streams
    // the fact side unsorted. Build-side memory scales DOWN with the
    // partition count, so the hint stays valid at cluster scale.
    val asiaSup = Tables.supplier(spark, dir)
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val oc = o.join(Tables.customer(spark, dir).hint("shuffle_hash"),
      col("o_custkey") === col("c_custkey"))
    // broadcast-prefilter lineitem by the ASIA-supplier dim BEFORE the
    // orderkey shuffle: only ~1/|regions| of line items survive, so the
    // one fact shuffle carries 1.1 GB instead of 5.6 GB at sf50.
    // Supplier is 600× smaller than lineitem at every TPC-H SF — but
    // it is still FACT-PROPORTIONAL, and an explicit broadcast() hint
    // is honored regardless of size (a too-big dim FAILS the job, it
    // does not fall back), so the hint is size-gated: past
    // DimBroadcastMaxBytesKey the supplier join degrades to a
    // shuffled-hash build of the 3-column ASIA slice (one extra fact
    // exchange on l_suppkey — slower, never fatal).
    Tables.lineitem(spark, dir)
      .join(gatedBroadcast(spark, dir, "supplier", asiaSup),
        col("l_suppkey") === col("s_suppkey"))
      .join(oc.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(revenueExpr).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** e4: per-group top-k via window rank. */
  def topkWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("p_brand", "p_partkey", "p_retailprice", "rk")
      .orderBy("p_brand", "rk")
  }

  /** e6: JSON extraction over the events `props` column — semi-
    * structured processing (Spark get_json_object pushes through
    * codegen; no UDF). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"),
        count(lit(1)).as("n"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  /** e7: ROLLUP subtotals over returnflag × linestatus — OLAP cube
    * surface; subtotal rows carry NULL group keys in both engines. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        microSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** e5: event-type × day rollup with distinct users. */
  def eventsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(money(col("value"))).cast(DoubleType).as("sum_value"))
      .orderBy("event_type", "day")

  /** e8: csv/json source round-trip — documents written to BOTH
    * formats via [[graft.sources.TableIO]], read back with the
    * explicit parquet schema, and fingerprinted as a WHOLE-ROW md5
    * over every column, separately per format. The oracle computes
    * the same whole-row md5 on the ORIGINAL parquet, so a hash match
    * proves each round-trip reproduced every column of every row —
    * a corruption of any field in either format shifts that format's
    * md5. The fingerprint is INJECTIVE: each column is md5'd on its
    * own (fixed 32-char blocks) before the outer md5, so no value
    * can migrate across a column boundary unnoticed — a `concat_ws`
    * over raw values would hash identically when a separator-bearing
    * field shifts content into its neighbor. It is also TOTAL: a NULL
    * column md5s to a fixed 32-char sentinel instead of propagating
    * (md5(NULL) = NULL would null the whole row hash, and corruption
    * in the row's OTHER columns would then pass as NULL == NULL).
    * Scratch is local and
    * deleted after materializing the (small) fingerprint result
    * ([[graft.Scratch]]). */
  /** e9: AS-OF join — each purchase enriched with the user's most
    * recent click at-or-before the purchase time (the canonical
    * event-attribution query; the operator Spark lacks natively).
    *
    * Spark-first shape: NOT a join at all. A time-inequality join
    * (`e.ts >= v.ts` + "latest wins") would plan as a broadcast
    * nested loop or an O(N·M) range join; instead both sides UNION
    * into one stream tagged 0=click / 1=purchase, shuffle ONCE on
    * user_id, and a running `last(..., ignoreNulls)` window ordered
    * by (ts, tag) carries the latest click forward — clicks sort
    * before purchases at equal ts, which makes the match inclusive,
    * exactly DuckDB's `ASOF JOIN ON e.ts >= v.ts`. One exchange, one
    * sort, linear scan; per-user state in the window frame is a
    * single row. At 100 TB this is the only as-of shape that scales:
    * cost is that of one groupBy on the key, independent of how many
    * clicks precede each purchase.
    *
    * Purchases with no prior click survive with NULL click columns
    * (ASOF LEFT JOIN parity). Timestamps leave as exact epoch
    * micros (BIGINT both engines); click_value is the raw stored
    * double — no arithmetic, bit-exact. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofEnrich(Tables.events(spark, dir)).orderBy("event_id")

  /** The e9 operator body over any events-shaped input (probe reuse). */
  def asofEnrich(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "click", 0).otherwise(1).as("tag"))
    // event_id tie-break: two clicks at the SAME ts would otherwise
    // resolve by shuffle order (the test data has no such ties, but
    // the operator must be deterministic on any input; d10's in-batch
    // sort uses the same total order)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // the latest click carries as ONE struct (non-null exactly on click
    // rows), not per-column: independent ignoreNulls carries would mix
    // fields from different clicks when a click column is NULL (e.g. a
    // NULL value would resurrect the previous click's value under the
    // latest click's id — a row no ASOF join could produce)
    val lastClick = last(
      when(col("tag") === 0,
        struct(col("event_id").as("id"), unix_micros(col("ts")).as("us"),
          col("value").as("v"))),
      ignoreNulls = true).over(w)
    ev
      .withColumn("_c", lastClick)
      .withColumn("click_event_id", col("_c.id"))
      .withColumn("click_us", col("_c.us"))
      .withColumn("click_value", col("_c.v"))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("click_event_id"), col("click_us"),
        (unix_micros(col("ts")) - col("click_us")).as("gap_us"),
        col("click_value"))
  }

  /** e10: pivot — per-source document counts and char totals pivoted
    * across languages (the OLAP reshape surface). The pivot value
    * list is EXPLICIT: `pivot(col)` without values runs a distinct
    * scan on the driver and produces an unbounded-width schema —
    * with the list pinned the plan is a single groupBy(source) with
    * conditional aggregates, one shuffle on a low-cardinality key,
    * output width fixed at 100 TB. Missing (source, lang) cells
    * coalesce to 0 on both engines. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    val p = Tables.documents(spark, dir)
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
    p.select(col("source") +: langs.flatMap(l => Seq(
        coalesce(col(s"${l}_docs"), lit(0L)).as(s"${l}_docs"),
        coalesce(col(s"${l}_chars"), lit(0L)).as(s"${l}_chars"))): _*)
      .orderBy("source")
  }

  /** e11: LEFT SEMI join (TPC-H Q4 shape) — orders with at least one
    * slow lineitem (shipped >60 days after the order date), counted
    * by priority. Semi join is its own physical operator class: the
    * probe side short-circuits on first match and never duplicates
    * rows, so the output is bounded by the orders side no matter how
    * many lineitems match — the EXISTS semantics a rewrite through
    * join+distinct would pay a dedup shuffle for. Joins on the order
    * key (one co-partitioned shuffle pair at scale) with the date
    * predicate evaluated inside the join. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("o_orderdate") <  lit("1997-01-01").cast(TimestampType))
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    // timestamp + interval, NOT date_add (which truncates to DATE and
    // would drop o_orderdate's time-of-day vs the oracle's INTERVAL)
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** e12: LEFT ANTI join (TPC-H Q22 shape) — customers who never
    * placed a large order (>400k), per market segment. Anti join is
    * the NOT EXISTS operator: one co-partitioned shuffle on the key,
    * output bounded by the probe side, no null-padding round-trip a
    * left join + IS NULL filter would plan. Money sum decimal-cast
    * per row (order-independent, oracle-exact). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select("o_custkey")
    Tables.customer(spark, dir)
      .join(o, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(money(col("c_acctbal"))).cast(DoubleType).as("sum_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** e13: CUBE subtotals — e7's rollup plus the column-wise marginals
    * (the full OLAP cube surface over returnflag × linestatus). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        microSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** e14: sliding window FRAME — per-user 7-row moving aggregate over
    * the event stream (rows between 6 preceding and current). The
    * frame surface is distinct from e4's rank/topk windows: the
    * aggregate is computed over a moving ROWS frame. Oracle-exact
    * arithmetic: engines disagree on frame-sum evaluation order
    * (incremental add/subtract vs segment trees), so the frame sums
    * INTEGER micro-units (order-independent) and the average is one
    * trailing double division identical on both engines. One shuffle
    * on user_id; frame state is 7 rows per partition cursor. */
  def movingAgg(spark: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("v_micro", floor(col("value") * lit(1e6) + lit(0.5)).cast(LongType))
      .select(col("event_id"), col("user_id"),
        sum(col("v_micro")).over(frame).as("sum_micro"),
        count(lit(1)).over(frame).cast(IntegerType).as("n_frame"))
      .withColumn("avg_value",
        col("sum_micro").cast(DoubleType) / (lit(1e6) * col("n_frame")))
      .orderBy("event_id")
  }

  /** e15: set operators — INTERSECT and EXCEPT over the clicking /
    * purchasing user populations (the audience-segmentation shapes).
    * Spark plans INTERSECT as a left-semi over distinct inputs and
    * EXCEPT as a left-anti — one co-partitioned shuffle each, no
    * join+distinct round-trip; both tagged into one result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select("user_id")
    val clickers = users("click")
    val purchasers = users("purchase")
    clickers.intersect(purchasers).withColumn("op", lit("both"))
      .unionByName(clickers.except(purchasers).withColumn("op", lit("click_only")))
      .select(col("op"), col("user_id"))
      .orderBy("op", "user_id")
  }

  /** e18: batch INTERVAL/RANGE join — d12's attribution fan-out
    * (every purchase × the user's clicks in the preceding 12 h) as a
    * batch operator, sharing d12's oracle verbatim: the twin
    * certification in the other direction (d10 certifies a streaming
    * op against batch e9's oracle; e18 certifies the batch plan
    * against the oracle the streaming join hash-matches). The
    * scale-correct plan for a KEYED range join is an EQUI join on the
    * key with the time range as a join residual — one co-partitioned
    * shuffle pair, per-user fan-out bounded by the window — never the
    * cartesian / broadcast-nested-loop a pure range predicate would
    * plan (PlanSpec pins the equi form). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    graft.streaming.StreamJoin.joinAndProject(
        graft.streaming.StreamJoin.purchaseSide(ev),
        graft.streaming.StreamJoin.clickSide(ev))
      .orderBy("event_id", "click_event_id")
  }

  /** e16: UNPIVOT/melt — e10's inverse reshape: the wide per-group
    * measure columns fold back into (measure, value) rows via Spark's
    * NATIVE `Dataset.unpivot` (an `Expand` node: each input row fans
    * out to one row per measure in-place — a narrow operator, no
    * shuffle beyond the feeding aggregation, no union-of-scans
    * re-reading the input once per measure, which is what the naive
    * rewrite costs at 100 TB). Measures are micro-quantized long sums
    * divided once at the end (the e7/e13/e14 rule), so melt order
    * can't touch the arithmetic; the oracle is the UNION ALL
    * formulation DuckDB evaluates over the same aggregate CTE. */
  def unpivotAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        microSum(col("l_quantity")).as("sum_qty"),
        microSum(col("l_extendedprice")).as("sum_price"),
        microSum(col("l_discount")).as("sum_disc"),
        microSum(col("l_tax")).as("sum_tax"))
      .unpivot(
        Array(col("l_returnflag"), col("l_linestatus")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc"), col("sum_tax")),
        "measure", "value")
      .orderBy("l_returnflag", "l_linestatus", "measure")
  }

  /** e17: GROUPING SETS with an explicit non-hierarchical set list —
    * the grouping surface rollup (prefix hierarchy, e7) and cube
    * (every combination, e13) CANNOT express: just the two marginals
    * ((returnflag), (linestatus)), no grand total, no pair cells.
    * One `Expand` + one aggregation shuffle — each input row
    * replicates once per set, so cost scales with |sets|, not 2^cols
    * (the reason to say GROUPING SETS instead of cube + filter at
    * 100 TB). Subtotal rows carry NULL in the off-set key, exactly as
    * the DuckDB formulation. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        microSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** e19: FULL OUTER join — per-part shipped-quantity profile for
    * 1995 vs 1996, null-padded on whichever side the part is missing
    * (parts shipped in only one of the years are the outer rows; the
    * one textbook join class the e-layer didn't yet certify — e2/e3
    * inner, e11 semi, e12 anti, e9 as-of, e18 interval).
    *
    * Scale shape: each side is a partial-agg (map-side combine) on
    * l_partkey, so both join children arrive HASH-PARTITIONED ON THE
    * JOIN KEY and the full-outer sort-merge join adds NO third
    * exchange (PlanSpec pins exactly two exchanges in the plan). The
    * two year-slices filter with HALF-OPEN TIMESTAMP RANGES, not
    * year() — `year(col) = y` is a function of the column, so parquet
    * would receive no data filter and each slice would scan the full
    * table; the range form reaches PushedFilters and prunes row
    * groups (equivalent under the UTC session: year(ts) = y ⟺
    * ts ∈ [y-01-01, y+1-01-01)). Output is O(parts), never
    * O(lineitems). Quantity sums are exact integer micros (microSum,
    * the e1 rule), counts BIGINT, and the null pads survive to the
    * output so the hash check certifies outer semantics bit-exactly. */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    def yearAgg(y: Int, qty: String, n: String) =
      l.filter(col("l_shipdate") >= lit(s"$y-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
        .groupBy("l_partkey")
        .agg(microSum(col("l_quantity")).as(qty), count(lit(1)).as(n))
    val a = yearAgg(1995, "qty95", "n95")
    val b = yearAgg(1996, "qty96", "n96")
      .withColumnRenamed("l_partkey", "r_partkey")
    a.join(b, col("l_partkey") === col("r_partkey"), "full_outer")
      .select(
        coalesce(col("l_partkey"), col("r_partkey")).as("partkey"),
        col("qty95"), col("n95"), col("qty96"), col("n96"))
      .orderBy("partkey")
  }

  def sourceRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.materialize("e8_roundtrip") { tmp =>
      val docs = Tables.documents(spark, dir)
      // 32 chars like a real digest, but contains non-hex letters so it
      // can never collide with one; mirrored verbatim in the oracle
      val nullBlock = "0000000000000000000000000000NULL"
      def colMd5(c: org.apache.spark.sql.Column) =
        coalesce(md5(c.cast("string")), lit(nullBlock))
      val rowMd5 = md5(concat(
        colMd5(col("doc_id")), colMd5(col("text")),
        colMd5(col("lang")), colMd5(col("source")),
        colMd5(col("n_chars"))))
      graft.sources.TableIO.writeCsv(docs, s"$tmp/csv")
      graft.sources.TableIO.writeJson(docs, s"$tmp/json")
      val c = graft.sources.TableIO.readCsv(spark, s"$tmp/csv", docs.schema)
      val j = graft.sources.TableIO.readJson(spark, s"$tmp/json", docs.schema)
      c.select(col("doc_id"), rowMd5.as("csv_md5"))
        .join(j.select(col("doc_id"), rowMd5.as("json_md5")), "doc_id")
        .orderBy("doc_id")
    }
}
