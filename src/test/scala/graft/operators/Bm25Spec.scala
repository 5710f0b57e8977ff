package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.SparkTestBase

/** bm25TopK against hand-computed fixed-point scores, plus the
  * duplicate-term collapse rule. */
class Bm25Spec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a"),
    (2L, "a c"),
    (3L, "b b b c")).toDF("doc_id", "text")

  test("scores match the integer rationalization computed by hand") {
    // N=3, A=9; df(a)=df(c)=2 -> idf_milli = (1000*(6-4+1))//5 = 600
    // tf_ppm(tf, L) = (1e6*22*tf*9) // (90*tf + 27 + 27*L)
    val q = Seq((1L, "a"), (1L, "c")).toDF("query_id", "term")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text", q, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._3)
    def tfPpm(tf: Long, l: Long): Long =
      (1000000L * 22 * tf * 9) / (10 * tf * 9 + 3 * 9 + 9 * l * 3)
    val d1 = 600 * tfPpm(2, 3)                 // 'a' twice in len-3
    val d2 = 600 * (tfPpm(1, 2) + tfPpm(1, 2)) // 'a' + 'c' in len-2
    val d3 = 600 * tfPpm(1, 4)                 // 'c' once in len-4
    assert(d2 > d1 && d1 > d3, "fixture should produce a strict ranking")
    assert(got.toSeq == Seq((2L, d2, 1), (1L, d1, 2), (3L, d3, 3)))
  }

  test("duplicate (query_id, term) rows collapse to one contribution") {
    val q1 = Seq((7L, "b")).toDF("query_id", "term")
    val q2 = Seq((7L, "b"), (7L, "b")).toDF("query_id", "term")
    val a = TextAnalysis.bm25TopK(docs, "doc_id", "text", q1, k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val b = TextAnalysis.bm25TopK(docs, "doc_id", "text", q2, k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("absent terms contribute nothing; all-absent query returns no rows") {
    val q = Seq((9L, "zzz")).toDF("query_id", "term")
    assert(TextAnalysis.bm25TopK(docs, "doc_id", "text", q, k = 10).count() == 0)
  }

  test("r6: a corpus beyond the tf*A fixed-point bound fails loudly, not silently") {
    // tfc·a_num must stay <= (2^63-1) div (10^6·22) = 419244183493; one doc
    // of 650k repeats of one word gives tfc = a_num = 650000 -> product
    // 4.225e11, just over. Before the guard this wrapped BIGINT and
    // corrupted ranks with no error.
    val big = Seq((1L, ("w " * 650000).trim)).toDF("doc_id", "text")
    val q = Seq((1L, "w")).toDF("query_id", "term")
    val e = intercept[Exception] {
      TextAnalysis.bm25TopK(big, "doc_id", "text", q, k = 1).collect()
    }
    assert(messages(e).contains("bm25TopK fixed-point overflow"),
      s"wanted the loud overflow error, got: ${messages(e).take(300)}")
  }

  private def messages(t: Throwable): String =
    if (t == null) "" else t.toString + messages(t.getCause)

  test("the len*N guard leaves headroom for the other denominator terms") {
    // 10·tfc·a_num + 3·a_num reaches 13·419244183493 = 5450174385409, so
    // 9·len·n_docs may only take what is left of 2^63-1. At the old bound
    // len·n_docs = (2^63-1) div 9 with a_num = 3 the denominator wrapped
    // past 2^63 with no guard firing.
    def contrib(len: Long) = Seq((1L, 3L, len, 1L, 1L))
      .toDF("tfc", "a_num", "len", "n_docs", "df")
      .select(TextAnalysis.bm25Contrib.as("c"))
    val e = intercept[Exception](contrib(1024819115206086200L).collect())
    assert(messages(e).contains("bm25TopK fixed-point overflow"),
      s"wanted the loud overflow error, got: ${messages(e).take(300)}")
    // the tightened bound itself still scores, without wrapping
    assert(contrib(1024818509631154488L).collect()(0).getLong(0) == 0L)
  }

  test("rrfFuse sums 10^6 div (60+rank) across legs, full-outer on misses") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val got = TextAnalysis.rrfFuse(a, b, k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._3)
    val c1 = 1000000L / 61; val c2 = 1000000L / 62
    assert(got.toSeq == Seq(
      (11L, c2 + c1, 1), // ranked by both legs
      (10L, c1, 2),      // a-only
      (12L, c2, 3)))     // b-only
  }
}
