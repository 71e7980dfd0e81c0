package graft.text

import graft.SparkSpec

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "alpha beta"),
    (3L, "beta gamma beta gamma"),
    (4L, "alpha Beta  GAMMA"), // case/whitespace normalize like ntext
    (5L, "unrelated words only"),
    (6L, null.asInstanceOf[String])).toDF("doc_id", "text")

  test("searchTopK is conjunctive and ranks by total tf, doc_id tiebreak") {
    val out = Search.searchTopK(docs, "doc_id", "text",
      Seq("alpha", "beta", "gamma"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1 lacks nothing? 1: alpha(2) beta gamma → all 3 terms, score 4
    // doc 2 lacks gamma; doc 3 lacks alpha; doc 4 has all 3, score 3
    assert(out === Seq((1, 1L, 4L), (2, 4L, 3L)))
  }

  test("searchTopK truncates to k after the score ordering") {
    val many = (1L to 30L).map(i => (i, "zig zag " * i.toInt))
      .toDF("doc_id", "text")
    val out = Search.searchTopK(many, "doc_id", "text", Seq("zig", "zag"), 5)
      .as[(Long, Long, Long)].collect()
    // highest repetition wins; ranks are 1..5
    assert(out.map(_._1).toSeq === (1 to 5))
    assert(out.map(_._2).toSeq === Seq(30L, 29L, 28L, 27L, 26L))
  }

  test("bm25TopK is disjunctive, ranks by summed contributions, exact grid values") {
    val out = Search.bm25TopK(docs, "doc_id", "text", Seq("alpha", "gamma"), 10)
      .as[(Long, Long, Long)].collect().toSeq
    // corpus stats over the 5 non-null docs: N=5, tot tokens=16, avgdl=3.2;
    // df(alpha)=df(gamma)=3
    val n = 5.0; val avgdl = 16.0 / 5.0
    val idf = math.log(1.0 + (n - 3.0 + 0.5) / (3.0 + 0.5))
    def contrib(tf: Double, dl: Double): Long =
      math.floor(idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        * 10000.0).toLong
    val expected = Seq(
      1L -> (contrib(2, 4) + contrib(1, 4)), // alpha×2, gamma×1, dl=4
      4L -> (contrib(1, 3) + contrib(1, 3)), // both once, shorter doc
      3L -> contrib(2, 4),                   // gamma only
      2L -> contrib(1, 2))                   // alpha only
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s) }
    assert(out === expected)
    assert(!out.exists(r => r._2 == 5L || r._2 == 6L),
      "docs with no query term must not appear")
  }

  test("bm25 longer docs score below shorter docs at equal tf") {
    val many = Seq(
      (1L, "needle " + ("filler " * 50)),
      (2L, "needle " + ("filler " * 5)),
      (3L, "needle")).toDF("doc_id", "text")
    val out = Search.bm25TopK(many, "doc_id", "text", Seq("needle"), 3)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._2).toSeq === Seq(3L, 2L, 1L),
      "BM25 length normalization must prefer the shorter doc")
  }

  test("search plan uses a top-k heap, not a global sort of all scores") {
    val plan = Search.searchTopK(graft.Tables.documents(spark, sf0001),
      "doc_id", "text", Search.GateTerms, Search.GateK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }
}
