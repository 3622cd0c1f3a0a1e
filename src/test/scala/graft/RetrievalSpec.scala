package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Retrieval}

/** Behavioral pins for the retrieval surface (c24–c26). Oracle hashes
  * certify engine-vs-DuckDB equality; these pin the SEMANTICS on
  * hand-built corpora where the expected answer is computed by hand.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  import spark.implicits._

  // ------------------------------ c24 ------------------------------

  test("substring dedup: cross-doc span coverage merges overlapping windows") {
    // docA tokens a1..a20; docB embeds a5..a16 (a 12-token shared run).
    // Windows (K=8) of docA fully inside the run start at 5..9 → 5
    // duplicated windows whose UNION covers exactly tokens 5..16 = 12
    // tokens (40 with double-counting — the union must telescope).
    val a = (1 to 20).map(i => s"a$i")
    val shared = a.slice(4, 16) // a5..a16
    val b = Seq("b1", "b2", "b3") ++ shared ++ Seq("b4", "b5", "b6")
    val d = Seq(
      (1L, a.mkString(" ")),
      (2L, b.mkString(" ")),
      (3L, "tiny doc under k tokens"), // < K → no windows
      // within-doc repeat ONLY: same 8-gram twice in one doc, no other
      // doc has it → NOT cross-doc duplicated
      (4L, ((1 to 8).map(i => s"x$i") ++ Seq("sep") ++ (1 to 8).map(i => s"x$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.substringSpans(d).collect()
      .map(r => r.getLong(0) -> r).toMap

    val ra = r(1L)
    assert(ra.getInt(1) === 20 && ra.getInt(2) === 13) // n_tokens, n_windows = 20-7
    assert(ra.getInt(3) === 5, "expected 5 duplicated windows in docA")
    assert(ra.getLong(4) === 12L, "union coverage must be 12 tokens, not 5*8")
    assert(ra.getDouble(5) === 0.6)
    assert(ra.getInt(6) === 1, "12/20 > 0.3 must flag")

    val rb = r(2L)
    assert(rb.getInt(3) === 5 && rb.getLong(4) === 12L, "docB mirrors the run")

    val rc = r(3L)
    assert(rc.getInt(2) === 0 && rc.getInt(3) === 0 && rc.getLong(4) === 0L
      && rc.getInt(6) === 0, "short doc: no windows, nothing flagged")

    val rd = r(4L)
    assert(rd.getInt(3) === 0 && rd.getLong(4) === 0L,
      "within-doc-only repetition is c21's job, not a cross-doc span")
  }

  test("substring dedup: three-way spans count every holder, coverage per doc") {
    // one shared 8-token run in three docs → all three get flagged
    val run = (1 to 8).map(i => s"s$i")
    def doc(prefix: String) = ((1 to 3).map(i => s"$prefix$i") ++ run).mkString(" ")
    val d = Seq((10L, doc("p")), (11L, doc("q")), (12L, doc("r")))
      .toDF("doc_id", "text")
    val r = Dedup.substringSpans(d).collect()
    assert(r.length === 3)
    r.foreach { row =>
      assert(row.getInt(3) === 1 && row.getLong(4) === 8L,
        s"each holder reports the one shared window: $row")
    }
  }

  // ------------------------------ c25 ------------------------------

  test("bm25: tf raises, absent terms exclude, rarity raises idf") {
    val d = Seq(
      (1L, "fast fast fast join pad pad pad pad pad pad"), // tf(fast)=3
      (2L, "fast pad pad pad pad pad pad pad pad pad"), // tf(fast)=1
      (3L, "pad pad pad pad pad pad pad pad pad pad"), // no query term
      (4L, "rare pad pad pad pad pad pad pad pad pad")) // df(rare)=1
      .toDF("doc_id", "text")
    val qp = Seq(("q1", "fast"), ("q1", "join"), ("q2", "rare"), ("q2", "fast"))
    val r = Retrieval.topK(
        Retrieval.bm25Scores(d, qp.toDF("query_id", "term"), qp.map(_._2).toSet), 10)
      .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2), x.getDouble(3)))
    val q1 = r.filter(_._1 == "q1").sortBy(_._2)
    assert(q1.map(_._3).toSeq === Seq(1L, 2L), "doc1 (higher tf + join hit) above doc2")
    assert(!r.exists(_._3 == 3L), "doc with no query term must not score")
    // q2: doc4's single 'rare' (df=1) outweighs doc2's single 'fast'
    // (df=2) — idf ordering — and doc1's tf=3 'fast' saturates below it
    val q2 = r.filter(_._1 == "q2").sortBy(_._2)
    assert(q2.head._3 === 4L, s"rarest term must rank first: ${q2.toSeq}")
    // scores strictly positive and non-increasing with rank
    r.groupBy(_._1).foreach { case (_, rows) =>
      val sc = rows.sortBy(_._2).map(_._4)
      assert(sc.forall(_ > 0) && sc.zip(sc.tail).forall { case (x, y) => x >= y })
    }
  }

  test("bm25 search over the corpus: 3 fixed queries, dense ranks, ordered scores") {
    val r = operators.PipelineQueries.bm25Search(spark, "/root/testdata/sf0.001")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2), x.getDouble(3)))
    val byQ = r.groupBy(_._1)
    assert(byQ.keySet === Retrieval.BmQueries.map(_._1).toSet)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length), s"ranks not dense for $q")
      assert(sorted.length <= Retrieval.BmTopK)
      val sc = sorted.map(_._4)
      assert(sc.zip(sc.tail).forall { case (x, y) => x >= y }, s"scores not ordered for $q")
    }
  }

  // ------------------------------ c26 ------------------------------

  test("hybrid RRF: self is the vector top hit; fused score is the exact micro sum") {
    // 15 docs covering the fixed query ids {0,7,13}; distinct embedding
    // angles → no cosine ties, self-cos = 1.0 is always vector rank 1
    val n = 15
    val docs = (0 until n)
      .map(i => (i.toLong, (0 until 10).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val embs = (0 until n)
      .map { i =>
        val th = 0.1 * i
        (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
      }
      .toDF("vec_id", "embedding")
    val r = Retrieval.hybridSearch(spark, docs, embs)
      .collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3),
        x.getInt(4), x.getInt(5)))
    val byQ = r.groupBy(_._1)
    assert(byQ.keySet === Retrieval.HybridQueryIds.toSet)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length), s"ranks not dense for $q")
      val self = sorted.find(_._3 == q)
      assert(self.isDefined, s"query doc $q missing from its own results")
      assert(self.get._6 === 1, s"self must be the vector top hit for $q")
      // every doc's texts are unique → the lexical leg matches only the
      // query doc itself; its fused score is exactly both legs' rank-1
      assert(self.get._5 === 1, s"self must be the only lexical hit for $q")
      sorted.foreach { case (_, _, _, rrf, lexRk, vecRk) =>
        def c(rk: Int) = if (rk == 0) 0L else math.floor(1e6 / (Retrieval.RrfC + rk)).toLong
        assert(rrf === (c(lexRk) + c(vecRk)).toDouble / 1e6,
          s"fused score must equal the integer micro sum")
      }
      // docs on neither leg never appear
      assert(sorted.forall(x => x._5 > 0 || x._6 > 0))
    }
  }
}
