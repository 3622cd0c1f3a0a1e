package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Sketches

/** d14: c39's shingle Bloom filter as a STREAMING AGGREGATION — live
  * per-source membership tracking at ingest (the "is this source
  * accumulating eval-set phrases" dashboard next to d11's "how big is
  * its vocabulary" number; the two mergeable sketches a production
  * ingest maintains side by side).
  *
  * Bloom shares KMV's strongest streaming property: the combine
  * (bitwise OR) is order-independent and the state is the bounded
  * bitmap, so the sketch after any stream prefix EQUALS the batch
  * sketch of the rows seen — no watermark, no arrival-order caveats.
  * State is one 8 KB bitmap per source, forever; no eviction needed.
  *
  * Shape: a streaming aggregation (`groupByKey.agg` with the same
  * typed [[Sketches.BloomAgg]] as batch c39, update mode), NOT
  * `flatMapGroupsWithState` — the aggregation path gets map-side
  * partial combine inside every micro-batch, so only bitmaps reach
  * the state store (the d11 lesson: a hot source must not serialize
  * the stream through one state task).
  *
  * The eval probe is FROZEN before the stream starts (batch-read from
  * the same dir — the benchmark registry pattern of d9): membership
  * verdicts at ingest must test against a fixed benchmark, not one
  * that drifts as eval docs stream in. Under the single-file
  * AvailableNow drain there is one emission per source equal to batch
  * c39 row-for-row, so d14 shares c39's DuckDB oracle — the hash
  * check certifies batch/stream equivalence of the membership sketch.
  * Multi-trigger last-emission-equals-batch is StreamingSpec-pinned. */
object StreamBloom {
  /** d14 entry: stream the documents table of `dir`. */
  def streamingBloom(spark: SparkSession, dir: String): DataFrame =
    streamingBloomFromDir(spark, graft.Tables.documents(spark, dir),
      EventOps.symlinkedDir(dir, "documents.parquet"))

  def streamingBloomFromDir(
      spark: SparkSession,
      batchDocs: DataFrame,
      srcDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // frozen BEFORE the stream: the probe is the benchmark registry
    val evalProbe = Sketches.collectEvalProbe(batchDocs)
    val raw = EventOps.streamReader(spark, StreamDedup.docsSchema, srcDir, maxFilesPerTrigger)

    // SAME kernel + aggregation as batch c39 (shared code — the
    // oracle-equivalence claim depends on it)
    val sketched = Sketches.bloomBySource(
      Sketches.bloomShinglePositions(raw), evalProbe)

    // update mode: each trigger emits the sources whose bitmap changed
    EventOps.drainToTable(sketched, "update").orderBy("source")
  }
}
