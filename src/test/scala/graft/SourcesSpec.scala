package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{IVFIndex, IVFModel}
import graft.functions.GraftFunctions
import graft.sources.VecsIO

class SourcesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  /** Write one parquet file of (vec_id, embedding) rows into `dir` —
    * fixture for the streaming-ingest tests. */
  private def writeVecsFile(
      dir: java.nio.file.Path, name: String, ids: Seq[Long], seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val tmp = java.nio.file.Files.createTempDirectory("vecs_part")
    ids.map(i => (i, Array.fill(64)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    java.nio.file.Files.copy(part, dir.resolve(name))
  }

  test("fvecs roundtrip: write with VecsIO, read with format(fvecs)") {
    val dir = java.nio.file.Files.createTempDirectory("fvecs_test")
    val f = dir.resolve("sample.fvecs").toString
    val vecs = Seq(Array(1.0f, 2.5f, -3.0f), Array(0.0f, 4.25f, 9.5f))
    VecsIO.writeFvecs(f, vecs.iterator)
    val got = spark.read.format("fvecs").load(f)
      .orderBy("row_id").as[(String, Long, Array[Float])].collect()
    assert(got.length == 2)
    assert(got(0)._3.toSeq == vecs(0).toSeq)
    assert(got(1)._3.toSeq == vecs(1).toSeq)
  }

  test("ivecs directory load: (file,row_id) identity, hidden files skipped") {
    val dir = java.nio.file.Files.createTempDirectory("ivecs_test")
    VecsIO.writeIvecs(dir.resolve("a.ivecs").toString, Iterator(Array(1, 2, 3)))
    VecsIO.writeIvecs(dir.resolve("b.ivecs").toString, Iterator(Array(7, 8, 9, 10)))
    // job markers must be ignored, not parsed as vectors
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(dir.resolve(".hidden"), "junk")
    val got = spark.read.format("ivecs").load(dir.toString)
      .as[(String, Long, Array[Int])].collect()
    assert(got.map(_._3.toSeq).toSet == Set(Seq(1, 2, 3), Seq(7, 8, 9, 10)))
    // row_id restarts per file; identity is (file, row_id)
    assert(got.map(r => (r._1, r._2)).distinct.length == 2)
    assert(got.forall(_._2 == 0L))
  }

  test("parquet embeddings export to fvecs and read back identically") {
    val dir = java.nio.file.Files.createTempDirectory("fvecs_export")
    val f = dir.resolve("emb.fvecs").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    VecsIO.exportFvecs(emb, f)
    val back = spark.read.format("fvecs").load(f)
      .orderBy("row_id").as[(String, Long, Array[Float])].collect()
    val orig = emb.orderBy("vec_id").as[(Long, Array[Float], Int)]
      .collect()
    assert(back.length == orig.length)
    assert(back.head._3.toSeq == orig.head._2.toSeq)
    assert(back.last._3.toSeq == orig.last._2.toSeq)
  }

  test("fvecs multi-path load (paths are JSON-encoded by the reader)") {
    val dir = java.nio.file.Files.createTempDirectory("fvecs_multi")
    val f1 = dir.resolve("a.fvecs").toString
    val f2 = dir.resolve("b.fvecs").toString
    VecsIO.writeFvecs(f1, Iterator(Array(1.0f, 2.0f)))
    VecsIO.writeFvecs(f2, Iterator(Array(3.0f, 4.0f)))
    val got = spark.read.format("fvecs").load(f1, f2)
      .as[(String, Long, Array[Float])].collect().map(_._3.toSeq).toSet
    assert(got == Set(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)))
  }

  test("fbin roundtrip is bit-exact, including NaN payloads") {
    val dir = java.nio.file.Files.createTempDirectory("fbin_test")
    val f = dir.resolve("sample.fbin").toString
    val weird = java.lang.Float.intBitsToFloat(0x7fc00123) // non-canonical NaN
    val vecs = Seq(Array(1.0f, -2.5f, weird), Array(Float.MinPositiveValue, 0.0f, 3e38f))
    VecsIO.writeFbin(f, vecs)
    val got = spark.read.format("fbin").load(f)
      .orderBy("row_id").as[(String, Long, Array[Float])].collect()
    assert(got.length == 2)
    got.zip(vecs).foreach { case ((_, _, g), v) =>
      assert(g.map(java.lang.Float.floatToRawIntBits).toSeq ==
        v.map(java.lang.Float.floatToRawIntBits).toSeq)
    }
  }

  test("ibin roundtrip and row-range splitting reads every row exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("ibin_test")
    val f = dir.resolve("big.ibin").toString
    val vecs = (0 until 1000).map(i => Array(i, i * 2, i * 3, Int.MinValue + i))
    VecsIO.writeIbin(f, vecs)
    // 16-byte rows with 64-byte splits -> 4 rows per partition, 250 splits
    val df = spark.read.format("ibin").option("splitBytes", 64).load(f)
    assert(df.rdd.getNumPartitions == 250, s"got ${df.rdd.getNumPartitions} partitions")
    val got = df.orderBy("row_id").as[(String, Long, Array[Int])].collect()
    assert(got.length == 1000)
    assert(got.map(_._2).toSeq == (0L until 1000L)) // global row ids, no dup/drop
    got.zipWithIndex.foreach { case ((_, _, v), i) => assert(v.toSeq == vecs(i).toSeq) }
  }

  test("parquet embeddings export to fbin and read back identically") {
    val dir = java.nio.file.Files.createTempDirectory("fbin_export")
    val f = dir.resolve("emb.fbin").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    VecsIO.exportFbin(emb, f)
    val back = spark.read.format("fbin").load(f)
      .orderBy("row_id").as[(String, Long, Array[Float])].collect()
    val orig = emb.orderBy("vec_id").as[(Long, Array[Float], Int)].collect()
    assert(back.length == orig.length)
    back.zip(orig).foreach { case ((_, rid, v), (id, o, _)) =>
      assert(rid == id && v.toSeq == o.toSeq)
    }
  }

  test("SQL registration: vec_l2sq and vec_dot usable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_l2sq(array(1.0F, 2.0F), array(1.0F, 0.0F)) AS d, " +
        "vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS p, " +
        "vec_sum(array(1.0F, 2.0F, 4.0F)) AS s").head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getDouble(2) == 7.0)
    val c = spark.sql(
      "SELECT vec_l2(array(3.0F, 0.0F), array(0.0F, 4.0F)) AS l2, " +
        "vec_norm(array(3.0F, 4.0F)) AS n, " +
        "vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos").head()
    assert(c.getDouble(0) == 5.0 && c.getDouble(1) == 5.0 && c.getDouble(2) == 1.0)
    // zero-norm cosine is null, not an ANSI DIVIDE_BY_ZERO error
    assert(spark.sql(
      "SELECT vec_cosine(array(0.0F, 0.0F), array(1.0F, 0.0F))").head().isNullAt(0))
    // wrong arity fails on the ANALYSIS channel (Spark's own
    // WRONG_NUM_ARGS user error), not an uncategorized internal
    // IllegalArgumentException with a stack trace
    val arityErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_norm(array(1.0F), array(2.0F))").head()
    }
    assert(arityErr.getMessage.contains("WRONG_NUM_ARGS")
        && arityErr.getMessage.contains("vec_norm"),
      s"unexpected arity error: ${arityErr.getMessage}")
    // null element -> null; double arrays read natively
    assert(spark.sql("SELECT vec_sum(array(1.0F, NULL))").head().isNullAt(0))
    assert(spark.sql("SELECT vec_sum(array(1.0D, 2.5D))").head().getDouble(0) == 3.5)
  }

  test("vector expressions: mixed widths, nulls, mismatched lengths, bad types") {
    GraftFunctions.register(spark)
    // mixed float/double element widths read each side correctly
    val mixed = spark.sql(
      "SELECT vec_l2sq(CAST(array(1.0F, 2.0F) AS ARRAY<DOUBLE>), array(1.0F, 0.0F)) AS d").head()
    assert(mixed.getDouble(0) == 4.0)
    // null element → null result (DuckDB list-function policy)
    assert(spark.sql("SELECT vec_dot(array(1.0F, NULL), array(1.0F, 2.0F)) AS d").head().isNullAt(0))
    // length mismatch raises rather than silently truncating
    val ex = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0F), array(1.0F, 2.0F))").head()
    }
    assert(ex.getMessage != null)
    // non-array arguments fail analysis, not execution
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_l2sq('a', 'b')").head()
    }
  }

  test("vec_normalize: unit norm, zero vectors unchanged, SQL-registered") {
    import graft.functions.VectorFunctions.{vec_norm, vec_normalize}
    val rnd = new scala.util.Random(3)
    val df = ((1L to 20L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      :+ (99L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val norms = df.select($"vec_id", vec_norm(vec_normalize($"embedding")).as("n"))
      .as[(Long, Double)].collect().toMap
    assert(norms.view.filterKeys(_ != 99L).values.forall(n => math.abs(n - 1.0) < 1e-5),
      s"normalized vectors must be unit length: $norms")
    assert(norms(99L) == 0.0, "zero vector must pass through unchanged, not NaN")
    val zero = df.filter($"vec_id" === 99L)
      .select(vec_normalize($"embedding")).as[Array[Float]].head()
    assert(zero.forall(_ == 0f))
    // SQL surface
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("vn_docs")
    val viaSql = spark.sql(
      "SELECT vec_norm(vec_normalize(embedding)) FROM vn_docs WHERE vec_id = 1")
      .as[Double].head()
    assert(math.abs(viaSql - 1.0) < 1e-5)
    // array<double> input keeps its element type (SQL array literals
    // are double) — and the values are exact on a 3-4-5 triangle
    val dbl = spark.sql("SELECT vec_normalize(array(0.6d, 0.8d)) AS u").head()
      .getSeq[Double](0)
    assert(dbl == Seq(0.6, 0.8))
    // interpreted path (no codegen) must agree with the codegen path
    val expr = graft.functions.VecNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray()
    assert(interp.toSeq == Seq(0.6f, 0.8f))
  }

  test("streaming ingest builds an index that searches identically to batch") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_spec").toString
    m.saveMeta(idxDir)
    val src = graft.streaming.EventOps.symlinkedDir(sf, "embeddings.parquet")
    IVFIndex.appendStream(spark, m, src, idxDir)
    val streamed = IVFModel.load(spark, idxDir)
    assert(streamed.index.count() == m.index.count())
    val qs = operators.VectorQueries.queryVectors(spark, sf, 4)
    val a = m.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    val b = streamed.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    assert(a == b, "stream-built index must search identically to the batch build")
  }

  test("b13 operator: overlapped saveMeta + ingest still yields the model's counts") {
    // streamIndexIngest seeds the index dir with saveMeta and then runs
    // the ingest stream; the output must stay exactly the per-cluster
    // counts of the session model's assignment
    val sf = "/root/testdata/sf0.001"
    val out = operators.AnnQueries.streamIndexIngest(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val expected = operators.AnnQueries.model(spark, sf).index.toDF()
      .groupBy("cluster_id").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(out == expected,
      "overlapped b13 must reproduce the batch assignment counts")
  }

  test("streaming ingest: append to a batch-saved index; second call only new files") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val nBatch = m.index.count()
    val idxDir = java.nio.file.Files.createTempDirectory("b13_incr").toString
    m.save(idxDir) // FULL batch save — entries must survive the appends
    val srcDir = java.nio.file.Files.createTempDirectory("b13_incr_src")
    writeVecsFile(srcDir, "f1.parquet", (100000L until 100010L), seed = 1)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(IVFModel.load(spark, idxDir).index.count() == nBatch + 10,
      "batch-written entries must survive a streaming append")
    writeVecsFile(srcDir, "f2.parquet", (100010L until 100015L), seed = 2)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    val after = IVFModel.load(spark, idxDir)
    assert(after.index.count() == nBatch + 15,
      "second call must ingest ONLY the new file (no drops, no re-ingest)")
    assert(after.index.select("id").distinct().count() == nBatch + 15)
  }

  test("streaming ingest is exactly-once across crash re-delivery (b13)") {
    import java.nio.file.{Files, Paths}
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_redeliver").toString
    m.saveMeta(idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("b13_redeliver_src")
    writeVecsFile(srcDir, "f1.parquet", (200000L until 200020L), seed = 3)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    def clusterCounts(): Map[Int, Long] =
      IVFModel.load(spark, idxDir).index.toDF()
        .groupBy("cluster_id").count()
        .as[(Int, Long)].collect().toMap
    val counts = clusterCounts()
    assert(counts.values.sum == 20)

    // Spark re-delivers a batch when the checkpoint commit is missing —
    // the crash window AFTER the sink wrote everything. Erase the
    // commit record and restart: the batch marker must short-circuit
    // the second delivery, leaving per-cluster counts unchanged.
    // (the .crc shadow must go too — a stale checksum makes the local
    // Hadoop FS treat the re-created commit file as already existing)
    val commits = Paths.get(idxDir, "_ingest_checkpoint", "commits")
    def eraseCommit(): Unit = {
      Files.delete(commits.resolve("0"))
      Files.deleteIfExists(commits.resolve(".0.crc"))
    }
    eraseCommit()
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(clusterCounts() == counts,
      "a re-delivered (already-committed) batch must not double-count")

    // The other crash window: the sink died MID-batch — data files
    // present but no marker. Readers must not see the partial dir, and
    // the re-delivered batch must overwrite it in place (not append).
    Files.delete(Paths.get(idxDir, "_ingest_log", "batch-0"))
    assert(clusterCounts().isEmpty,
      "an unmarked (crashed partial) batch dir must be invisible to load")
    // plant a stray extra data file: append-instead-of-overwrite or
    // reading unmarked dirs would surface it as a double count
    val batchDir = Paths.get(idxDir, "entries_batches", "batch-0")
    val part = Files.walk(batchDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.copy(part, part.getParent.resolve("part-stray-copy.parquet"))
    eraseCommit()
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(clusterCounts() == counts,
      "a re-delivered partial batch must be overwritten, not appended")

    // The COMPOUND window: sink committed, checkpoint commit lost, AND
    // a compact folded the batch before the restart. The marker must
    // survive compaction — it is the only re-delivery guard once the
    // batch dir is folded into entries.
    eraseCommit()
    IVFModel.compact(spark, idxDir)
    assert(!Files.exists(Paths.get(idxDir, "entries_batches")),
      "compact must fold batch data dirs into entries")
    assert(Files.exists(Paths.get(idxDir, "_ingest_log", "batch-0")),
      "markers must survive compaction (they guard re-delivery of folded batches)")
    assert(clusterCounts() == counts, "compact must preserve folded batches")
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir) // re-delivers batch 0
    assert(clusterCounts() == counts,
      "a batch re-delivered AFTER compaction folded it must not double-count")
    // and the compacted index still accepts further streaming appends
    writeVecsFile(srcDir, "f2.parquet", (200020L until 200025L), seed = 4)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(clusterCounts().values.sum == 25)
  }

  test("a reset ingest checkpoint cannot silently swallow re-numbered batches") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_reset").toString
    m.saveMeta(idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("b13_reset_src")
    writeVecsFile(srcDir, "f1.parquet", (400000L until 400010L), seed = 8)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(IVFModel.load(spark, idxDir).index.count() == 10)
    // the operator resets the stream: checkpoint deleted, ids restart
    // at 0 — the NEW batch 0 is {f1, f2}, which the RETAINED marker
    // batch-0 (from the old sequence) must not swallow
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_checkpoint"), true)
    writeVecsFile(srcDir, "f2.parquet", (400010L until 400015L), seed = 9)
    // default refuses: the reset would destroy committed batch data
    // whose source files this code cannot prove are still present
    val ex = intercept[IllegalStateException] {
      IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    }
    assert(ex.getMessage.contains("reingest"), s"unhelpful message: ${ex.getMessage}")
    assert(IVFModel.load(spark, idxDir).index.count() == 10,
      "a refused reset must leave the index untouched")
    // explicit opt-in asserts the source dir is complete → full re-ingest
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir,
      onCheckpointReset = "reingest")
    val loaded = IVFModel.load(spark, idxDir)
    assert(loaded.index.count() == 15,
      "a stale marker swallowed the re-numbered batch (f2's vectors lost)")
    assert(loaded.index.toDF().select("id").distinct().count() == 15)
  }

  test("reingest after a binding mismatch re-ingests EVERY source file") {
    // the (stored=Some, current=Some, stored != current) arm: the
    // checkpoint is ALIVE but belongs to a different query than the
    // marker log records. reingest must clear the foreign checkpoint
    // too — otherwise the fresh run resumes from its source-file
    // offsets and silently skips files it recorded, contradicting the
    // error message's losslessness promise
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_mismatch").toString
    m.saveMeta(idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("b13_mismatch_src")
    writeVecsFile(srcDir, "f1.parquet", (420000L until 420010L), seed = 14)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(IVFModel.load(spark, idxDir).index.count() == 10)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // break the binding, NOT the checkpoint: the live checkpoint (which
    // has f1 in its source log) now mismatches the stored id
    val idFile = new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_log/_checkpoint_id")
    val out = fs.create(idFile, true)
    try out.write("00000000-0000-0000-0000-000000000000".getBytes("UTF-8"))
    finally out.close()
    writeVecsFile(srcDir, "f2.parquet", (420010L until 420015L), seed = 15)
    // default still refuses while unfolded batch data exists
    intercept[IllegalStateException] {
      IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    }
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir,
      onCheckpointReset = "reingest")
    val loaded = IVFModel.load(spark, idxDir)
    assert(loaded.index.count() == 15,
      "the surviving foreign checkpoint skipped f1 — reingest lost data")
    assert(loaded.index.toDF().select("id").distinct().count() == 15)
  }

  test("markers with no checkpoint binding and no checkpoint are treated as reset") {
    // the legacy blind spot: a run crashed before the id binding
    // existed (old code wrote it only after awaitTermination), then the
    // checkpoint was lost — (stored=None, current=None) with markers
    // present must NOT pass as a clean slate, or the stale batch-0
    // marker swallows the fresh checkpoint's re-numbered batch 0
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_legacy_reset").toString
    m.saveMeta(idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("b13_legacy_src")
    writeVecsFile(srcDir, "f1.parquet", (410000L until 410010L), seed = 12)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the legacy crashed-run shape: binding absent, checkpoint lost
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_log/_checkpoint_id"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_checkpoint"), true)
    writeVecsFile(srcDir, "f2.parquet", (410010L until 410015L), seed = 13)
    intercept[IllegalStateException] {
      IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    }
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir,
      onCheckpointReset = "reingest")
    assert(IVFModel.load(spark, idxDir).index.count() == 15,
      "the legacy marker shape swallowed the re-numbered batch")
  }

  test("save() is a full replace: stale ingest state cannot leak into the new index") {
    import java.nio.file.{Files, Paths}
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("b13_replace").toString
    m.saveMeta(idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("b13_replace_src")
    writeVecsFile(srcDir, "f1.parquet", (300000L until 300010L), seed = 7)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    IVFModel.deleteIds(idxDir, Seq(0L, 2L).toDF("id"))
    assert(IVFModel.load(spark, idxDir).index.count() == 10)
    // rebuild-in-place: the saved model must be EXACTLY what loads back
    // — no resurrected batch rows (quantized with old centroids), no
    // stale tombstones deleting ids the rebuild legitimately contains
    m.save(idxDir)
    val loaded = IVFModel.load(spark, idxDir)
    assert(loaded.index.count() == m.index.count(),
      "stale batch dirs or tombstones leaked into the rebuilt index")
    for (d <- Seq("entries_batches", "_ingest_log", "deletes", "_ingest_checkpoint"))
      assert(!Files.exists(Paths.get(idxDir, d)), s"save must clear $d")
  }

  test("index lifecycle: tombstone delete filters loads; compact folds them in") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val n = m.index.count()
    val idxDir = java.nio.file.Files.createTempDirectory("b15_spec").toString
    m.save(idxDir)
    val odd = m.index.toDF().select($"id").filter($"id" % 2 =!= 0)
    val nOdd = odd.count()
    IVFModel.deleteIds(idxDir, odd)
    // tombstones apply at load without any rewrite
    val filtered = IVFModel.load(spark, idxDir)
    assert(filtered.index.count() == n - nOdd)
    assert(filtered.index.filter($"id" % 2 =!= 0).count() == 0)
    // search never returns a deleted id (materialize before compaction:
    // the tombstone-filtered plan references the deletes files)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 4)
    val a = filtered.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    assert(a.forall(_.getLong(1) % 2 == 0), "a deleted id surfaced in search results")
    // compact removes the tombstone dir and preserves content exactly
    IVFModel.compact(spark, idxDir)
    assert(!new java.io.File(s"$idxDir/deletes").exists)
    val compacted = IVFModel.load(spark, idxDir)
    assert(compacted.index.count() == n - nOdd)
    val b = compacted.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    assert(a == b, "compaction must not change search results")
    // the all-deleted edge: compacting an empty index must not brick it
    IVFModel.deleteIds(idxDir, compacted.index.toDF().select($"id"))
    IVFModel.compact(spark, idxDir)
    assert(IVFModel.load(spark, idxDir).index.count() == 0,
      "an index compacted to empty must still load")
    // and the layout must still accept streaming appends afterwards
    val srcDir = java.nio.file.Files.createTempDirectory("b15_refill")
    writeVecsFile(srcDir, "f1.parquet", (900000L until 900008L), seed = 5)
    IVFIndex.appendStream(spark, m, srcDir.toString, idxDir)
    assert(IVFModel.load(spark, idxDir).index.count() == 8,
      "an emptied-then-compacted index must accept streaming appends")
  }

  test("IVF index save/load roundtrip preserves search results") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    m.save(dir)
    assert(!new java.io.File(s"$dir/packed").exists,
      "save must persist entries only, no packed runs")
    // the index is its entries and one model file: no metadata dataset
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet ==
      Set("entries", "model.bin"))
    val loaded = IVFModel.load(spark, dir)
    assert(loaded.params == m.params)
    def bits(rows: Array[Array[Float]]) =
      rows.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
    assert(loaded.rotator.dim == m.rotator.dim)
    assert(bits(loaded.rotator.matrix) == bits(m.rotator.matrix))
    assert(bits(loaded.centroids) == bits(m.centroids))
    assert(bits(loaded.rotatedCentroids) == bits(m.rotatedCentroids))
    assert(loaded.index.count() == m.index.count())
    val qs = Tables.embeddings(spark, sf)
      .filter($"vec_id" < 4).select($"vec_id".cast("long"), $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def rows(model: IVFModel) =
      model.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    val a = rows(m)
    // a loaded model scans runs packed from its loaded entries
    try assert(rows(loaded) == a,
      "the packed scan of a loaded model diverged from the source model's scan")
    finally loaded.freeSearchCaches()
  }

  test("model.bin: saveMeta runs no Spark job; load and compact fail fast on a bad file") {
    import java.nio.file.{Files, Paths}
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val dir = Files.createTempDirectory("model_file").toString
    m.save(dir)
    val (jobs, _, _) = SparkJobs.jobsAndShuffleBytes(spark)(m.saveMeta(dir))
    assert(jobs.isEmpty, s"saveMeta ran Spark jobs: $jobs")
    IVFModel.deleteIds(dir, Seq(1L, 3L).toDF("id"))
    // load runs no job, tombstones included: the runs, and with them the
    // anti-join's broadcast, wait for the first search; freeing a model
    // never searched makes none
    var loaded: IVFModel = null
    val (loadJobs, _, _) = SparkJobs.jobsAndShuffleBytes(spark) {
      loaded = IVFModel.load(spark, dir)
      loaded.freeSearchCaches()
    }
    assert(loadJobs.isEmpty && loaded.shared.madeRuns.isEmpty,
      s"load and a free ran ${loadJobs.length} Spark jobs: ${loadJobs.mkString("; ")}")
    val file = Paths.get(dir, "model.bin")
    val good = Files.readAllBytes(file)
    // a file edited in place loses its checksum shadow too: the local
    // file system would otherwise reject it before its header is read
    def put(bytes: Array[Byte]): Unit = {
      Files.write(file, bytes)
      Files.deleteIfExists(Paths.get(dir, ".model.bin.crc"))
    }
    def tree(): Set[(String, Long)] = {
      val walk = Files.walk(Paths.get(dir, "entries"))
      try walk.iterator.asScala.map(p => (p.toString, Files.size(p))).toSet
      finally walk.close()
    }
    val entries = tree()
    val v2 = good.clone()
    java.nio.ByteBuffer.wrap(v2).putInt(4, 2)
    for ((name, arrange, says) <- Seq[(String, () => Unit, String)](
        ("missing", () => Files.delete(file), "rebuild"),
        ("truncated", () => put(good.dropRight(4)), "bytes"),
        ("version 2", () => put(v2), "version 2"))) {
      arrange()
      for ((op, run) <- Seq[(String, () => Unit)](
          ("load", () => IVFModel.load(spark, dir)), ("compact", () => IVFModel.compact(spark, dir)))) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(dir) && e.getMessage.contains(says),
          s"$op on a $name model file: ${e.getMessage}")
      }
      assert(tree() == entries, s"a compact refused on a $name model file changed entries/")
      assert(Files.exists(Paths.get(dir, "deletes")), s"a refused compact dropped the tombstones")
    }
    // a leftover in-progress file is never read, and the next saveMeta replaces it
    put(good)
    Files.write(Paths.get(dir, "_model.bin.inprogress"), Array.fill[Byte](100)(7))
    val live = m.index.count() - 2
    assert(IVFModel.load(spark, dir).index.count() == live)
    m.saveMeta(dir)
    assert(!Files.exists(Paths.get(dir, "_model.bin.inprogress")))
    assert(Files.readAllBytes(file).sameElements(good))
    IVFModel.compact(spark, dir)
    assert(IVFModel.load(spark, dir).index.count() == live)
  }

  test("the b3 centroid sidecar holds the centroids of the last model that wrote it") {
    import java.nio.file.{Files, Paths}
    val m = operators.AnnQueries.model(spark, "/root/testdata/sf0.001")
    val other = new IVFModel(m.params, m.rotator, m.centroids.map(_.map(_ * 2)),
      m.rotatedCentroids, m.index)
    def read(): Seq[Seq[Double]] =
      spark.read.parquet(s"${operators.OracleSide.Dir}/b3_centroids")
        .orderBy("cluster_id").collect().map(_.getSeq[Double](1)).toSeq
    def want(model: IVFModel) = model.centroids.map(_.map(_.toDouble).toSeq).toSeq
    // the sidecar of an earlier oracle run is set aside and put back
    val side = Paths.get(operators.OracleSide.Dir, "b3_centroids")
    val kept = Paths.get(operators.OracleSide.Dir, s"b3_centroids.spec-${System.nanoTime}")
    if (Files.exists(side)) Files.move(side, kept)
    sys.props("graft.oracle.side") = "1"
    try {
      operators.AnnQueries.writeCentroidSidecar(spark, m)
      operators.AnnQueries.writeCentroidSidecar(spark, other)
      assert(read() == want(other), "a second model skipped its sidecar write")
      operators.AnnQueries.writeCentroidSidecar(spark, m)
      assert(read() == want(m), "a model written before the last one skipped its write")
    } finally {
      sys.props -= "graft.oracle.side"
      org.apache.commons.io.FileUtils.deleteDirectory(side.toFile)
      if (Files.exists(kept)) Files.move(kept, side)
    }
  }

  test("a loaded model searches the index as of its first search; a reload sees the change") {
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_snapshot").toString
    m.save(dir)
    val qs = operators.VectorQueries.queryVectors(spark, sf, 4)
    def rows(model: IVFModel) =
      model.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq
    val loaded = IVFModel.load(spark, dir)
    val first = rows(loaded)
    val gone = first.map(_.getLong(1)).distinct.take(8)
    IVFModel.deleteIds(dir, gone.toDF("id"))
    try {
      assert(rows(loaded) == first, "a search after deleteIds left the first search's snapshot")
      IVFModel.compact(spark, dir)
      assert(rows(loaded) == first, "a search after compact left the first search's snapshot")
    } finally loaded.freeSearchCaches()
    val reloaded = IVFModel.load(spark, dir)
    val again = rows(reloaded)
    reloaded.freeSearchCaches()
    assert(again.length == first.length, "a reload must still fill every query's top-k")
    assert(!again.exists(r => gone.contains(r.getLong(1))), "a reload returned a deleted id")
  }

  test("compact crash windows: each recoverCompact state loads like an uninterrupted compact") {
    import java.nio.file.{Files, Path}
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.iterator.asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally walk.close()
    }
    val sf = "/root/testdata/sf0.001"
    val m = operators.AnnQueries.model(spark, sf)
    // the pre-compact index: saved entries, tombstones, one committed
    // streaming-ingest batch
    val base = Files.createTempDirectory("compact_crash_base")
    m.save(base.toString)
    IVFModel.deleteIds(base.toString, m.index.toDF().select($"id").filter($"id" % 3 === 0))
    val srcDir = Files.createTempDirectory("compact_crash_src")
    writeVecsFile(srcDir, "f1.parquet", (700000L until 700012L), seed = 11)
    IVFIndex.appendStream(spark, m, srcDir.toString, base.toString)
    assert(Files.isDirectory(base.resolve("entries_batches/batch-0")))

    val qs = operators.VectorQueries.queryVectors(spark, sf, 4)
    def liveIdsAndRows(dir: Path) = {
      val l = IVFModel.load(spark, dir.toString)
      (l.index.select("id").as[Long].collect().sorted.toSeq,
        l.search(spark, qs, 10, 12).orderBy("query_id", "rk").collect().toSeq)
    }
    val done = Files.createTempDirectory("compact_crash_done")
    copyTree(base, done)
    IVFModel.compact(spark, done.toString)
    val want = liveIdsAndRows(done)
    assert(want._1.count(_ >= 700000L) == 12, "the ingest batch must survive compact")
    assert(!want._1.exists(id => id < 700000L && id % 3 == 0), "a tombstone leaked")

    // each state is the pre-compact index with its files moved the way
    // a compact that died at that point leaves them
    val compacted = done.resolve("entries")
    def crashed(name: String)(arrange: Path => Unit): Path = {
      val d = Files.createTempDirectory(s"compact_crash_$name")
      copyTree(base, d)
      Files.move(d.resolve("entries"), d.resolve("entries_old"))
      arrange(d)
      d
    }
    // 1. between the two renames: the complete copy is not yet installed
    val swap = crashed("swap")(d => copyTree(compacted, d.resolve("entries_compacting")))
    // 2. a partial compacted copy: no _SUCCESS and a data file missing
    val partial = crashed("partial") { d =>
      val neu = d.resolve("entries_compacting")
      copyTree(compacted, neu)
      Files.delete(neu.resolve("_SUCCESS"))
      Files.deleteIfExists(neu.resolve("._SUCCESS.crc"))
      val walk = Files.walk(neu)
      try Files.delete(walk.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get)
      finally walk.close()
    }
    // 3. swap done, cleanup of entries_old and the folded batch pending
    val cleanup = crashed("cleanup")(d => copyTree(compacted, d.resolve("entries")))

    for ((name, d, folded) <- Seq(("swap", swap, true), ("partial", partial, false),
        ("cleanup", cleanup, true))) {
      assert(liveIdsAndRows(d) == want, s"$name: load differs from an uninterrupted compact")
      assert(Files.exists(d.resolve("entries_batches")) == !folded,
        s"$name: entries_batches must be gone iff the compacted copy folded it")
      assert(!Files.exists(d.resolve("entries_old")) &&
        !Files.exists(d.resolve("entries_compacting")), s"$name: recovery left staging dirs")
    }
  }
}
