package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup
import graft.streaming.StreamDedup

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  /** Write one parquet file of documents-schema rows — with explicit
    * per-row sources — into `dir` with a given modification time (the
    * file source processes oldest-first). */
  private def writeSourcedDocsFile(
      dir: java.nio.file.Path, name: String, mtimeMs: Long,
      rows: Seq[(Long, String, String)]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("docs_part")
    rows.map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    val dest = dir.resolve(name)
    java.nio.file.Files.copy(part, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** The common single-source form. */
  private def writeDocsFile(
      dir: java.nio.file.Path, name: String, mtimeMs: Long,
      rows: Seq[(Long, String)]): Unit =
    writeSourcedDocsFile(dir, name, mtimeMs,
      rows.map { case (id, t) => (id, t, "test") })

  test("d6 streaming near-dup matches a batch recomputation on one batch") {
    val dir = java.nio.file.Files.createTempDirectory("d6_batch_eq")
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    val docs: Seq[(Long, String)] = (1L to 24L).map { i =>
      if (i % 4 == 0) (i, base) // planted dup family
      else if (i % 4 == 1) (i, base.replace("lazy", "sleepy"))
      else (i, s"unrelated content number $i about catalyst optimizer internals " * 3)
    }
    writeDocsFile(dir, "f1.parquet", 1000000L, docs)
    val p = Dedup.MinHashParams()
    val got = StreamDedup.streamingNearDupFromDir(spark, dir.toString, p)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 24)
    // independent batch recomputation: n_prior(d) = sum over bands of
    // |{d' < d sharing that band bucket}| (single batch -> doc_id order)
    val coefs = Dedup.hashCoefs(p)
    val bands = docs.map { case (id, t) =>
      id -> Dedup.bandHashes(Dedup.signatureOf(t, coefs, p), p)
    }
    val expected = bands.map { case (id, bh) =>
      id -> bands.filter(_._1 < id).map { case (_, other) =>
        bh.indices.count(b => bh(b) == other(b))
      }.sum.toLong
    }.toMap
    assert(got == expected, s"got=$got expected=$expected")
    // sanity: the dup family actually produced candidates
    assert(got(8L) > 0 && got(24L) > got(8L))
  }

  test("d6 durable sink: re-invocation resumes from the checkpoint, no double counts") {
    val dir = java.nio.file.Files.createTempDirectory("d6_durable_src")
    val sink = java.nio.file.Files.createTempDirectory("d6_durable_sink").toString
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    writeDocsFile(dir, "f1.parquet", 1000000L,
      Seq(1L -> base, 2L -> base.replace("lazy", "sleepy"), 3L -> ("other text " * 10)))
    val p = Dedup.MinHashParams()
    val first = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, p, sinkDir = Some(sink))
      .as[(Long, Long)].collect().toMap
    // same sink, no new input: nothing reprocessed, counts unchanged
    val again = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, p, sinkDir = Some(sink))
      .as[(Long, Long)].collect().toMap
    assert(again == first, s"re-invocation changed counts: $first -> $again")
    // new input file: processed incrementally, old docs untouched
    writeDocsFile(dir, "f2.parquet", 2000000L, Seq(4L -> base))
    val grown = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, p, sinkDir = Some(sink))
      .as[(Long, Long)].collect().toMap
    assert(grown.filter(_._1 <= 3L) == first, s"old docs changed: $first -> $grown")
    assert(grown(4L) > 0L, s"new near-dup saw no prior candidates: $grown")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sink))
  }

  test("d7 streaming gate: duplicates detected across batches, rules match the batch gate") {
    val dir = java.nio.file.Files.createTempDirectory("d7_gate")
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    writeDocsFile(dir, "f1.parquet", 1000000L,
      Seq(1L -> good, 2L -> "too short text"))
    writeDocsFile(dir, "f2.parquet", 2000000L,
      Seq(3L -> good, // duplicate of doc 1 — arrives in a LATER batch
          4L -> (1 to 30).map(_ => "internationalization").mkString(" ")))
    val got = graft.streaming.StreamGate.streamingCorpusGateFromDir(
        spark, dir.toString, maxFilesPerTrigger = Some(1))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1, "keep")), got.toString)
    assert(got(2L) == ((0, "too_short")), got.toString)
    assert(got(3L) == ((0, "duplicate")), got.toString)
    assert(got(4L) == ((0, "token_len")), got.toString)
    // and the whole result equals the batch gate on the same docs
    val batch = graft.ops.CorpusOps.corpusFilter(
        Seq((1L, good), (2L, "too short text"), (3L, good),
          (4L, (1 to 30).map(_ => "internationalization").mkString(" ")))
          .toDF("doc_id", "text"))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == batch, s"stream=$got batch=$batch")
  }

  test("d7 many-duplicate single batch: fold matches the batch gate exactly") {
    // one batch, one dominant duplicate class (the shape the per-group
    // fold buffers): every copy must resolve to the class min-id even
    // though shuffle order inside the group is arbitrary, and the
    // non-dup rules must be untouched by the fold
    val dir = java.nio.file.Files.createTempDirectory("d7_manydup")
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (0 until 200).map(i => (500L - i) -> good) ++ // ids 301..500, shuffled-ish
      Seq(600L -> "too short text", 601L -> good)
    writeDocsFile(dir, "f1.parquet", 1000000L, docs)
    val got = graft.streaming.StreamGate.streamingCorpusGateFromDir(
        spark, dir.toString)
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.ops.CorpusOps.corpusFilter(docs.toDF("doc_id", "text"))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got(301L) == ((1, "keep")), got.toString)
    assert(got(601L) == ((0, "duplicate")), got.toString)
  }

  test("d7 out-of-order arrival: a later smaller id becomes the canonical going forward") {
    val dir = java.nio.file.Files.createTempDirectory("d7_ooo")
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    // id 5 arrives FIRST, then its duplicate with the SMALLER id 1,
    // then a third copy — plus an empty doc (the ANSI divide guard)
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(5L -> good))
    writeDocsFile(dir, "f2.parquet", 2000000L, Seq(1L -> good, 2L -> ""))
    writeDocsFile(dir, "f3.parquet", 3000000L, Seq(7L -> good))
    val got = graft.streaming.StreamGate.streamingCorpusGateFromDir(
        spark, dir.toString, maxFilesPerTrigger = Some(1))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the smaller id supersedes the stored canonical on arrival, so it
    // and every LATER copy decide exactly like the batch gate...
    assert(got(1L) == ((1, "keep")), got.toString)
    assert(got(7L) == ((0, "duplicate")), got.toString)
    // ...while the already-emitted first-seen row is the documented
    // Append-mode residue (the batch gate would call id 5 a duplicate)
    assert(got(5L) == ((1, "keep")), got.toString)
    // empty doc survives ANSI division and the typed state encoder
    assert(got(2L) == ((0, "too_short")), got.toString)
  }

  test("d7 compacted state: a restarted gate with a ledger decides like the batch gate") {
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val good2 = (1 to 30).map(i => s"other$i").mkString(" ")
    val history = Seq(1L -> good, 2L -> "too short text")
    val arriving = Seq(3L -> good, // duplicate of the COMPACTED doc 1
      4L -> good2, 5L -> good2)    // new family, deduped via live state
    // compact the already-processed corpus into the ledger...
    val ledgerDir = java.nio.file.Files.createTempDirectory("d7_ledger").toString + "/l"
    graft.streaming.StreamGate.compactGateState(
      history.map { case (id, t) => (id, t) }.toDF("doc_id", "text"), ledgerDir)
    // ...then a FRESH gate (new source dir, new checkpoint — the old
    // state store is gone) sees only the newly-arriving files
    val dir = java.nio.file.Files.createTempDirectory("d7_compacted")
    writeDocsFile(dir, "f3.parquet", 3000000L, arriving)
    val got = graft.streaming.StreamGate.streamingCorpusGateFromDir(
        spark, dir.toString, ledgerDir = Some(ledgerDir))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // decisions equal the batch gate over history ∪ arriving,
    // restricted to the arriving docs (history was already emitted
    // before the compaction — the gate must not re-emit it)
    val batch = graft.ops.CorpusOps.corpusFilter(
        (history ++ arriving).toDF("doc_id", "text"))
      .select("doc_id", "kept", "reason").as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == arriving.map(_._1).toSet, got.toString)
    assert(got.forall { case (id, v) => batch(id) == v }, s"stream=$got batch=$batch")
    assert(got(3L) == ((0, "duplicate")), got.toString)
    assert(got(4L) == ((1, "keep")) && got(5L) == ((0, "duplicate")), got.toString)
  }

  test("d6 watermark eviction: an idle bucket is forgotten after retention") {
    val dir = java.nio.file.Files.createTempDirectory("d6_evict")
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    // four single-doc batches (maxFilesPerTrigger = 1):
    //   t=1     doc 1    text X
    //   t=3000  doc 3000 unrelated (advances the watermark past X's timeout)
    //   t=3100  doc 3100 unrelated (a data-less trigger for X's buckets ->
    //           timeout fires, state evicted)
    //   t=3200  doc 3200 text X again — a fresh bucket, so 0 priors
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(1L -> base))
    writeDocsFile(dir, "f2.parquet", 1010000L,
      Seq(3000L -> ("completely different content about shuffle partitioning " * 4)))
    writeDocsFile(dir, "f3.parquet", 1020000L,
      Seq(3100L -> ("yet another unrelated document about broadcast joins " * 4)))
    writeDocsFile(dir, "f4.parquet", 1030000L, Seq(3200L -> base))
    val got = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, Dedup.MinHashParams(),
        retentionSec = 600L, maxFilesPerTrigger = Some(1))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 3000L, 3100L, 3200L))
    assert(got(1L) == 0L)
    assert(got(3200L) == 0L,
      s"doc 3200 should not see evicted doc 1 as a prior partner: $got")
  }

  test("d6 warm-bucket aging: a hot bucket still forgets members past retention") {
    val dir = java.nio.file.Files.createTempDirectory("d6_warm")
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    // the bucket receives data in EVERY batch, so the group timeout can
    // never fire — aging must happen on the data path: by doc 3100's
    // batch the watermark (2900-60s) has passed doc 1's ts+600s, so
    // doc 1 must no longer count as a prior partner.
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(1L -> base))
    writeDocsFile(dir, "f2.parquet", 1010000L, Seq(2900L -> base))
    writeDocsFile(dir, "f3.parquet", 1020000L, Seq(3100L -> base))
    writeDocsFile(dir, "f4.parquet", 1030000L, Seq(3200L -> base))
    val p = Dedup.MinHashParams()
    val got = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, p,
        retentionSec = 600L, maxFilesPerTrigger = Some(1))
      .as[(Long, Long)].collect().toMap
    // doc 2900: watermark still MIN_VALUE-ish (only doc 1 seen) -> doc 1 counts
    assert(got(2900L) == p.bands.toLong, s"doc 2900 should see doc 1: $got")
    // doc 3100: watermark = 2900-60s -> doc 1 (ts+600 < wm) aged out, 2900 counts
    assert(got(3100L) == p.bands.toLong, s"doc 3100 should see only doc 2900: $got")
    // doc 3200: watermark = 3100-60s -> 2900 and 3100 both in retention
    assert(got(3200L) == 2L * p.bands, s"doc 3200 should see 2900+3100: $got")
  }

  test("d6 saturated bucket reports zero partners (batch drops such buckets)") {
    val dir = java.nio.file.Files.createTempDirectory("d6_sat")
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    val docs = (1L to 8L).map(_ -> base)
    writeDocsFile(dir, "f1.parquet", 1000000L, docs)
    val p = Dedup.MinHashParams(maxBucket = 3)
    val got = StreamDedup.streamingNearDupFromDir(spark, dir.toString, p)
      .as[(Long, Long)].collect().toMap
    // docs 1..3 fill each bucket (0,1,2 priors); docs 4+ see saturation -> 0
    assert(got(2L) == p.bands.toLong && got(3L) == 2L * p.bands, s"$got")
    (4L to 8L).foreach(d => assert(got(d) == 0L, s"doc $d in saturated bucket: $got"))
  }

  test("d8 streaming span dedup: ordered-arrival semantics on one batch") {
    val dir = java.nio.file.Files.createTempDirectory("d8_single")
    val a = (1 to 20).map(i => s"a$i")
    val shared = a.slice(4, 16) // a5..a16, a 12-token run
    val b = Seq("b1", "b2", "b3") ++ shared ++ Seq("b4", "b5", "b6")
    val dRep = (1 to 8).map(i => s"x$i") ++ Seq("sep") ++ (1 to 8).map(i => s"x$i")
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(
      1L -> a.mkString(" "),
      2L -> b.mkString(" "),
      3L -> "tiny doc under k", // < SpanK tokens -> no windows, absent
      4L -> dRep.mkString(" ")))
    val got = graft.streaming.StreamSpanDedup
      .streamingSpanDedupFromDir(spark, dir.toString)
      .as[(Long, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 4L), s"short doc must be absent: $got")
    // doc 1 is every shared span's FIRST holder -> unflagged (batch c24
    // would flag both holders; the stream keeps the first copy)
    assert(got(1L) == ((13, 0, 0L)), s"first holder flagged: $got")
    // doc 2: 5 windows inside the shared run, union covers 12 tokens
    assert(got(2L) == ((11, 5, 12L)), s"later holder miscounted: $got")
    // within-doc repetition is NOT cross-doc: same holder, no flags
    assert(got(4L) == ((10, 0, 0L)), s"self-repeat flagged: $got")
  }

  test("d8 span eviction: an idle span is forgotten, re-arrival becomes holder") {
    val dir = java.nio.file.Files.createTempDirectory("d8_evict")
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(1L -> s))
    writeDocsFile(dir, "f2.parquet", 1010000L,
      Seq(3000L -> (1 to 12).map(i => s"u$i").mkString(" ")))
    writeDocsFile(dir, "f3.parquet", 1020000L,
      Seq(3100L -> (1 to 12).map(i => s"v$i").mkString(" ")))
    writeDocsFile(dir, "f4.parquet", 1030000L, Seq(3200L -> s))
    val got = graft.streaming.StreamSpanDedup
      .streamingSpanDedupFromDir(spark, dir.toString,
        retentionSec = 600L, maxFilesPerTrigger = Some(1))
      .as[(Long, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(3200L) == ((5, 0, 0L)),
      s"doc 3200 should not be flagged against evicted doc 1's spans: $got")
  }

  test("d8 warm spans stay held: retention applies to the span's last sighting") {
    val dir = java.nio.file.Files.createTempDirectory("d8_warm")
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    // doc 1's spans would individually be past retention by doc 3200's
    // batch, but doc 2900's copy keeps them WARM (last-seen refreshed) —
    // the corpus-so-far still contains the content, so 3200 is flagged
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(1L -> s))
    writeDocsFile(dir, "f2.parquet", 1010000L, Seq(2900L -> s))
    writeDocsFile(dir, "f3.parquet", 1020000L, Seq(3200L -> s))
    val got = graft.streaming.StreamSpanDedup
      .streamingSpanDedupFromDir(spark, dir.toString,
        retentionSec = 600L, maxFilesPerTrigger = Some(1))
      .as[(Long, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((5, 0, 0L)), got.toString)
    assert(got(2900L) == ((5, 5, 12L)), s"warm copy not flagged: $got")
    assert(got(3200L) == ((5, 5, 12L)), s"span went cold despite 2900's copy: $got")
  }

  test("d8 last-seen never regresses: an earlier-event-time copy must not pull expiry forward") {
    val dir = java.nio.file.Files.createTempDirectory("d8_regress")
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    // holder 3000, then an in-watermark but EARLIER-event-time copy
    // (2950). The span's true last sighting stays 3000s -> expiry
    // 3600s. A regression to 2950s would expire it at 3550s.
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(3000L -> s))
    writeDocsFile(dir, "f2.parquet", 1010000L, Seq(2950L -> s))
    // unrelated doc advances the watermark to 3590s — inside the
    // buggy/true expiry gap (3550s, 3600s]
    writeDocsFile(dir, "f3.parquet", 1020000L,
      Seq(3650L -> (1 to 12).map(i => s"w$i").mkString(" ")))
    writeDocsFile(dir, "f4.parquet", 1030000L, Seq(3595L -> s))
    val got = graft.streaming.StreamSpanDedup
      .streamingSpanDedupFromDir(spark, dir.toString,
        retentionSec = 600L, maxFilesPerTrigger = Some(1))
      .as[(Long, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(2950L) == ((5, 5, 12L)), s"in-watermark copy not flagged: $got")
    assert(got(3595L) == ((5, 5, 12L)),
      s"span expired early — last-seen regressed to the older copy: $got")
  }

  test("d6 without eviction: the same late near-dup IS counted") {
    val dir = java.nio.file.Files.createTempDirectory("d6_noevict")
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(1L -> base))
    writeDocsFile(dir, "f2.parquet", 1010000L,
      Seq(3000L -> ("completely different content about shuffle partitioning " * 4)))
    writeDocsFile(dir, "f3.parquet", 1020000L,
      Seq(3100L -> ("yet another unrelated document about broadcast joins " * 4)))
    writeDocsFile(dir, "f4.parquet", 1030000L, Seq(3200L -> base))
    val p = Dedup.MinHashParams()
    val got = StreamDedup.streamingNearDupFromDir(
        spark, dir.toString, p,
        retentionSec = 100000L, maxFilesPerTrigger = Some(1))
      .as[(Long, Long)].collect().toMap
    assert(got(3200L) == p.bands.toLong,
      s"with a long retention doc 3200 shares all ${p.bands} band buckets with doc 1: $got")
  }

  test("d9 streaming decontam: multi-batch equals single-batch equals batch c29") {
    // stateless gate: splitting the corpus across triggers must change
    // NOTHING (no state, no order dependence); eval rows in the stream
    // are dropped, eval comes from the frozen static source
    val dir = java.nio.file.Files.createTempDirectory("d9_multi")
    def vec(seed: Int) = Array.tabulate(4)(i => if (i == seed % 4) 1f else 0.1f)
    val evalRows = (0L until 3L).map(i => (i, vec(i.toInt), 0))
    val corpusRows = (20L to 27L).map(i => (i, vec(i.toInt), 1))
    val static = (evalRows ++ corpusRows).toDF("vec_id", "embedding", "label")
    def writeEmb(name: String, mtimeMs: Long, rows: Seq[(Long, Array[Float], Int)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("emb_part")
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dest = dir.resolve(name)
      java.nio.file.Files.copy(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // eval rows arrive IN the stream too (first file) — must be ignored
    writeEmb("f1.parquet", 1000000L, evalRows ++ corpusRows.take(3))
    writeEmb("f2.parquet", 1010000L, corpusRows.slice(3, 6))
    writeEmb("f3.parquet", 1020000L, corpusRows.drop(6))
    val multi = graft.streaming.StreamContam.streamingEmbedContamFromDir(
        spark, dir.toString, static, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val batch = graft.ops.CorpusOps.embedContamination(spark, static)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    assert(multi.toSeq == batch.toSeq,
      s"stream(3 triggers) != batch: ${multi.toSeq} vs ${batch.toSeq}")
    assert(multi.length == corpusRows.length)
  }

  test("d11 streaming kmv: last emission per source equals the batch sketch under any split") {
    val dir = java.nio.file.Files.createTempDirectory("d11_multi")
    def words(lo: Int, hi: Int) = (lo until hi).map(i => s"tok$i").mkString(" ")
    // 'big' spans all three files (sketch accumulates across triggers,
    // words deliberately out of id order); 'small' finishes early
    val all: Seq[(Long, String, String)] = Seq(
      (1L, words(4000, 6000), "big"),
      (2L, words(0, 2000), "big"),
      (3L, "alpha beta gamma", "small"),
      (4L, words(2000, 4000), "big"),
      (5L, words(1000, 3000), "big")) // overlap: dedupe across triggers
    def writeF(name: String, mtime: Long, rows: Seq[(Long, String, String)]): Unit =
      writeSourcedDocsFile(dir, name, mtime, rows)
    writeF("f1.parquet", 1000000L, all.take(2))
    writeF("f2.parquet", 1010000L, all.slice(2, 4))
    writeF("f3.parquet", 1020000L, all.drop(4))
    // multi-trigger emits one row per (source, trigger); the LAST row
    // per source must equal the batch sketch — KMV's order-independence
    val multi = graft.streaming.StreamKmv.streamingKmvFromDir(
        spark, dir.toString, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val last = multi.groupBy(_._1).map { case (s, rows) =>
      // per-source sketches only grow; the final state is the row with
      // the largest held count and, at equal held, the smallest kth
      s -> rows.sortBy(r => (r._2, -r._3)).last
    }
    val batch = graft.ops.Sketches.kmvDistinct(spark,
        all.toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(last == batch, s"stream-final != batch: $last vs $batch")
    assert(multi.count(_._1 == "big") == 3, "big should emit once per trigger")
  }

  test("StateStoreConf presets: largeState (RocksDB+changelog) value-equal to default") {
    // the round-14 d8/d12 provider finding as a library surface: the
    // preset must be a pure DEPLOYMENT choice — same rows, different
    // state machinery. Drive the d8 span gate (the preset's target
    // workload) once under each conf in the same session; provider +
    // changelog binding happens at each query's fresh checkpoint.
    val dir = java.nio.file.Files.createTempDirectory("sspreset")
    writeDocsFile(dir, "f1.parquet", 1000000L, Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t u v w x y z0"),
      (2L, "a b c d e f g h i j k l m n o p q r s t u v w x y z1"),
      (3L, "totally different text with no shared twenty token runs at all " +
        "padding tokens q w e r t y u i o p")))
    val large = graft.streaming.StateStoreConf.largeState(4)
    assert(large("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
    assert(graft.streaming.StateStoreConf.smallState(32)(
      "spark.sql.shuffle.partitions") == "8")
    val prev = large.keys.map(k => k -> spark.conf.getOption(k)).toMap
    def run(): Array[(Long, Int)] =
      graft.streaming.StreamSpanDedup
        .streamingSpanDedupFromDir(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getInt(2))).sortBy(_._1)
    val default = run()
    large.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rocks = run()
      assert(rocks.sameElements(default),
        s"preset changed VALUES: ${rocks.toSeq} vs ${default.toSeq}")
      assert(default.nonEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d14 streaming bloom: last emission per source equals the batch sketch under any split") {
    val dir = java.nio.file.Files.createTempDirectory("d14_multi")
    val evalRow = (1L, "alpha bravo charlie delta echo foxtrot", "eval") // 2 eval shingles
    val corpus: Seq[(Long, String, String)] = Seq(
      (30L, "alpha bravo charlie delta echo plus tail words", "dirty"), // 1 of 2
      (31L, "uno dos tres cuatro cinco seis siete", "clean"),
      (32L, "see alpha bravo charlie delta echo foxtrot done", "dirty"), // completes both
      (33L, "mas palabras distintas aqui para los shingles", "clean"),
      (34L, "golf hotel india juliet kilo lima mike", "dirty"))
    def writeF(name: String, mtime: Long, rows: Seq[(Long, String, String)]): Unit =
      writeSourcedDocsFile(dir, name, mtime, rows)
    // one dirty doc per trigger: its bitmap grows every time
    writeF("f1.parquet", 1000000L, corpus.take(2))
    writeF("f2.parquet", 1010000L, corpus.slice(2, 4))
    writeF("f3.parquet", 1020000L, corpus.drop(4))
    val static = (evalRow +: corpus).toDF("doc_id", "text", "source")
    val multi = graft.streaming.StreamBloom.streamingBloomFromDir(
        spark, static, dir.toString, maxFilesPerTrigger = Some(1))
      .collect().map(r =>
        (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4)))
    // bitmaps only grow: the final state per source is its max-bits row
    val last = multi.groupBy(_._1).map { case (s, rows) => s -> rows.maxBy(_._2) }
    val batch = graft.ops.Sketches.bloomContain(spark, static)
      .collect().map(r => r.getString(0) ->
        ((r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4)))).toMap
    assert(last == batch, s"stream-final != batch: $last vs $batch")
    assert(multi.count(_._1 == "dirty") == 3, "dirty grows (and must emit) every trigger")
    assert(last("dirty")._4 == 2 && last("clean")._4 == 0,
      "eval probe must be frozen from the batch registry before the stream starts")
  }

  test("d15 streaming cms: last emission per source equals the batch report under any split") {
    val dir = java.nio.file.Files.createTempDirectory("d15_multi")
    // "tok" is the global top token and appears in EVERY file for both
    // sources, so each source's rank-1 estimate strictly grows per
    // trigger — the max-est rank-1 row identifies the final emission
    val corpus: Seq[(Long, String, String)] = Seq(
      (30L, "tok tok alpha beta", "A"),
      (31L, "tok gamma", "B"),
      (32L, "tok delta alpha", "A"),
      (33L, "tok tok epsilon", "B"),
      (34L, "tok zeta", "A"))
    def writeF(name: String, mtime: Long, rows: Seq[(Long, String, String)]): Unit =
      writeSourcedDocsFile(dir, name, mtime, rows)
    writeF("f1.parquet", 1000000L, corpus.take(2))
    writeF("f2.parquet", 1010000L, corpus.slice(2, 4))
    writeF("f3.parquet", 1020000L, corpus.drop(4))
    val static = corpus.toDF("doc_id", "text", "source")
    val multi = graft.streaming.StreamCms.streamingCmsFromDir(
        spark, static, dir.toString, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    val batch = graft.ops.Sketches.heavyHitters(spark, static).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    for (src <- Seq("A", "B")) {
      // the emission whose rank-1 estimate is maximal is the final one;
      // its fingerprint selects that emission's full row set
      val finalFp = multi.filter(r => r._1 == src && r._2 == 1).maxBy(_._4)._6
      val last = multi.filter(r => r._1 == src && r._6 == finalFp).sortBy(_._2).toSeq
      assert(last == batch.filter(_._1 == src).sortBy(_._2).toSeq,
        s"stream-final != batch for $src: $last")
    }
    assert(multi.count(r => r._1 == "A" && r._2 == 1) == 3,
      "A's matrix grows (and must emit) every trigger")
    // guard the fixture invariant the B selection rests on: B appears
    // only in the first two files, so it must emit in exactly those
    // two triggers — a re-emitting sink or a fixture drift would
    // otherwise make maxBy pick an arbitrary tied row for B silently
    assert(multi.count(r => r._1 == "B" && r._2 == 1) == 2,
      "B must emit exactly twice (files 1 and 2 carry source B)")
  }

  test("d16 streaming sample: reservoir grows per trigger, final sample equals batch") {
    val dir = java.nio.file.Files.createTempDirectory("d16_multi")
    // every source holds fewer than k docs, so the sample is the whole
    // source ordered by E-S key and GROWS on every trigger that
    // carries the source — emission counts are then deterministic
    val f1 = Seq((30L, "a a a a", "A"), (31L, "b b", "A"), (40L, "c c c", "B"), (41L, "d", "B"))
    val f2 = Seq((32L, "e e e e e", "A"), (33L, "f", "A"))
    val f3 = Seq((34L, "g g", "A"))
    writeSourcedDocsFile(dir, "f1.parquet", 1000000L, f1)
    writeSourcedDocsFile(dir, "f2.parquet", 1010000L, f2)
    writeSourcedDocsFile(dir, "f3.parquet", 1020000L, f3)
    val multi = graft.streaming.StreamSample.streamingSampleFromDir(
        spark, dir.toString, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // the strongest form of the stream≡batch claim: the emitted
    // MULTISET is exactly the per-prefix batch samples — trigger t
    // re-emits each changed source's sample, which must equal the
    // batch sample of everything seen through t (B is unchanged after
    // f1, so only its f1-prefix sample is emitted)
    def batchOf(rows: Seq[(Long, String, String)]) =
      graft.ops.CorpusOps.weightedSample(rows.toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val expected = batchOf(f1) ++
      batchOf(f1 ++ f2).filter(_._1 == "A") ++
      batchOf(f1 ++ f2 ++ f3).filter(_._1 == "A")
    val ord = (t: (String, Int, Long, Int)) => (t._1, t._2, t._3)
    assert(multi.sortBy(ord).toSeq == expected.sortBy(ord).toSeq,
      s"emitted multiset != per-prefix batch samples:\n${multi.sortBy(ord).toSeq}\n" +
        s"vs\n${expected.sortBy(ord).toSeq}")
    // growth pattern: A re-emits on all three triggers (2+4+5 rows)
    assert(multi.count(_._1 == "A") == 11 && multi.count(_._1 == "B") == 2)
  }

  /** events-schema parquet writer for the d10 tests; ts in SECONDS
    * since epoch for readability. */
  private def writeEventsFile(
      dir: java.nio.file.Path, name: String, mtimeMs: Long,
      rows: Seq[(Long, Long, Long, String, Double)]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
    val tmp = java.nio.file.Files.createTempDirectory("ev_part")
    val df = rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    val dest = dir.resolve(name)
    java.nio.file.Files.copy(part, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    df.schema
  }

  test("d12 stream-stream join: sides arriving in different triggers still pair; " +
      "a click arriving AFTER its purchase joins symmetrically") {
    val dir = java.nio.file.Files.createTempDirectory("d12_split")
    val schema = writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      (101L, 100L, 1L, "click", 1.0)))     // click first, alone in trigger 1
    writeEventsFile(dir, "f2.parquet", 1010000L, Seq(
      (201L, 200L, 1L, "purchase", 9.0),   // joins 101 ACROSS triggers
      (202L, 210L, 2L, "purchase", 5.0)))  // no clicks: inner join drops it
    writeEventsFile(dir, "f3.parquet", 1020000L, Seq(
      (102L, 155L, 1L, "click", 2.0)))     // click arrives AFTER the purchase
    val out = graft.streaming.StreamJoin.streamingIntervalJoinFromDir(
        spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(5))).toSet
    assert(out == Set(
      (201L, 101L, 100L * 1000000L),
      (201L, 102L, 45L * 1000000L)),
      s"cross-trigger pairs wrong: $out")
  }

  test("d12 live mode: watermark eviction bounds join state at the attribution window") {
    val dir = java.nio.file.Files.createTempDirectory("d12_live")
    // 8 time-ordered files, one window-width (12 h = 43200 s) apart,
    // 10 events each (5 clicks + 5 purchases per user-window). A
    // batch's state may hold at most ~the last window's rows + the
    // watermark delay; without eviction state would reach ~80 rows.
    val win = graft.streaming.StreamJoin.WindowHours * 3600L
    var schema: org.apache.spark.sql.types.StructType = null
    for (f <- 0 until 8) {
      val t0 = 1000L + f * win
      schema = writeEventsFile(dir, f"f$f%02d.parquet", 1000000L + f * 1000L,
        (0 until 10).map { i =>
          val typ = if (i % 2 == 0) "click" else "purchase"
          (f * 100L + i, t0 + i * 60L, 1L, typ, 1.0)
        })
    }
    val (out, stateRows) = graft.streaming.StreamJoin
      .streamingIntervalJoinWithStateMetrics(
        spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
    // correctness: same-file pairs (purchase j=1,3,5,7,9 joins the
    // even clicks before it: 1+2+3+4+5 = 15 per file) plus previous-
    // file pairs exactly at the inclusive window edge (click i ≥ j:
    // 4+3+2+1+0 = 10 per adjacent file pair); two files back is > 12 h
    assert(out.count() == 8L * 15 + 7L * 10, out.count().toString)
    // the metric claim: multi-trigger state PLATEAUS (eviction), it
    // does not accumulate the stream. 8 windows arrived; a no-eviction
    // run would end at 80 buffered rows — the plateau must stay near
    // the ~2-window hold (watermark advances with one-batch lag).
    assert(stateRows.length >= 4, s"expected multi-batch metrics: ${stateRows.toSeq}")
    assert(stateRows.max <= 40,
      s"state grew past the eviction bound: ${stateRows.toSeq}")
  }

  test("d13 native streaming dedup: a key re-arriving in a later batch is suppressed") {
    val dir = java.nio.file.Files.createTempDirectory("d13_multi")
    val schema = writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      (1L, 100L, 1L, "click", 1.0),
      (2L, 110L, 2L, "view", 2.0)))
    writeEventsFile(dir, "f2.parquet", 1010000L, Seq(
      (3L, 200L, 1L, "click", 3.0),     // duplicate KEY across batches
      (4L, 210L, 1L, "purchase", 4.0))) // new key, same user
    val out = graft.streaming.StreamDropDup.streamingDropDupFromDir(
        spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == Set((1L, "click"), (2L, "view"), (1L, "purchase")), out.toSeq.toString)
    assert(out.length == 3, s"cross-batch duplicate emitted twice: ${out.toSeq}")
  }

  test("d10 streaming as-of: ordered multi-trigger equals the batch rule; " +
      "out-of-order purchase resolves against the click list, not just the newest click") {
    val dir = java.nio.file.Files.createTempDirectory("d10_multi")
    def us(sec: Long) = sec * 1000000L
    // (event_id, sec, user_id, type, value)
    val schema = writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      (101L, 10L, 1L, "click", 1.5),     // u1 first click
      (102L, 20L, 1L, "purchase", 9.0),  // -> 101
      (301L, 5L, 3L, "click", 3.0),      // u3 old click
      (201L, 15L, 2L, "purchase", 7.0))) // u2: no click ever -> NULLs
    writeEventsFile(dir, "f2.parquet", 1010000L, Seq(
      (103L, 30L, 1L, "click", 2.5),
      (302L, 50L, 3L, "click", 3.5)))    // u3 newer click
    writeEventsFile(dir, "f3.parquet", 1020000L, Seq(
      (104L, 40L, 1L, "purchase", 9.5),  // -> 103 (newest click wins)
      (303L, 45L, 3L, "purchase", 8.0))) // ts 45 < click 302's 50: must
                                         // resolve to 301@5, which a
                                         // latest-click-only state lost
    val out = graft.streaming.StreamAsof.streamingAsofFromDir(
        spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1.0 else r.getDouble(6)))).toMap
    assert(out(102L) == ((101L, us(10), 1.5)), out.toString)
    assert(out(201L) == ((-1L, -1L, -1.0)), out.toString)
    assert(out(104L) == ((103L, us(10), 2.5)), out.toString)
    assert(out(303L) == ((301L, us(40), 3.0)),
      s"out-of-order purchase must resolve to the OLDER click: $out")
  }

  test("d10 click retention: a click idle past retention no longer attributes") {
    val dir = java.nio.file.Files.createTempDirectory("d10_evict")
    // u1 clicks at t=5 (not 0: a row with ts == the initial watermark is
    // dropped as late); an unrelated user's event at t=1000 advances the
    // watermark (delay 1s) to ~999 in batch 2, far past 5 + 10s retention
    val schema = writeEventsFile(dir, "f1.parquet", 1000000L, Seq(
      (1L, 5L, 1L, "click", 1.0),
      (2L, 1000L, 9L, "click", 0.5)))
    writeEventsFile(dir, "f2.parquet", 1010000L, Seq(
      (3L, 1005L, 1L, "purchase", 5.0)))
    val pruned = graft.streaming.StreamAsof.streamingAsofFromDir(
        spark, dir.toString, schema,
        retentionSec = 10L, watermarkDelay = "1 seconds",
        maxFilesPerTrigger = Some(1))
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(pruned(3L), s"retention-expired click still attributed: $pruned")
    // control: with generous retention the same layout attributes
    val dir2 = java.nio.file.Files.createTempDirectory("d10_keep")
    val schema2 = writeEventsFile(dir2, "f1.parquet", 1000000L, Seq(
      (1L, 5L, 1L, "click", 1.0),
      (2L, 1000L, 9L, "click", 0.5)))
    writeEventsFile(dir2, "f2.parquet", 1010000L, Seq(
      (3L, 1005L, 1L, "purchase", 5.0)))
    val kept = graft.streaming.StreamAsof.streamingAsofFromDir(
        spark, dir2.toString, schema2,
        retentionSec = 100000L, watermarkDelay = "1 seconds",
        maxFilesPerTrigger = Some(1))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(kept(3L) == 1L, s"in-retention click lost: $kept")
  }

  test("d8b multi-batch source: exactly N files, strictly increasing mtimes, ntile doc ranges") {
    // the oracle's replay is only valid if trigger k == ntile bucket k:
    // the layout must be one file per bucket, oldest-first in bucket
    // order, and bucket contents must be contiguous doc_id ranges
    val dir = graft.streaming.StreamSpanDedup
      .multiBatchDocsDir(spark, "/root/testdata/sf0.001", 3)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 3, s"want 3 batch files: ${files.mkString(",")}")
    assert(files.sliding(2).forall { case Array(a, b) =>
      a.lastModified < b.lastModified
    }, "mtimes must strictly increase in batch order")
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("doc_id").as[Long].collect().sorted
      (ids.min, ids.max, ids.length)
    }
    // contiguous, ordered, ANSI ntile sizing (earlier buckets take the
    // remainder) over the full table
    val total = ranges.map(_._3).sum
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(total == docs, s"split lost rows: $total vs $docs")
    assert(ranges.sliding(2).forall { case Array(a, b) => a._2 < b._1 },
      s"bucket doc ranges must be ordered and disjoint: ${ranges.mkString(",")}")
    val base = total.toInt / 3; val rem = total.toInt % 3
    val expectSizes = (0 until 3).map(i => base + (if (i < rem) 1 else 0))
    assert(ranges.map(_._3).toSeq == expectSizes,
      s"ntile sizing mismatch: ${ranges.map(_._3).toSeq} vs $expectSizes")
  }

  test("d8b is deterministic across invocations (same final table)") {
    def run() = graft.operators.PipelineQueries
      .streamingSpanDedupMb(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Int, Long)].collect().toSeq.sorted
    val a = run(); val b = run()
    assert(a == b, "d8b diverged between two drains of the same input")
    assert(a.nonEmpty && a.map(_._2).sum > 0, "no windows produced")
  }
}
