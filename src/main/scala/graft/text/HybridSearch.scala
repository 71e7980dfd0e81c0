package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sim.{SimOracle, Similarity}

/** Hybrid lexical + vector retrieval fused by Reciprocal Rank Fusion
  * (RRF — Cormack, Clarke & Buettcher 2009, the public standard for
  * combining ranked lists): `score(d) = Σ_systems 1/(k0 + rank_system(d))`
  * with the conventional `k0 = 60`. The per-system ranks come from
  * [[Search.bm25TopK]] (sparse, term postings) and
  * [[Similarity.bruteForceTopK]] (dense, embedding cosine); a document
  * missing from one system's list contributes 0 for that system. The
  * fused score reads only RANKS, never raw scores — BM25 grid units and
  * cosine values are incomparable magnitudes, and rank-space fusion is
  * exactly what makes RRF robust without per-system calibration.
  *
  * Engine-reproducible arithmetic: each contribution is the BIGINT
  * `floor(1e9 / (k0 + rank))` — double division of exact small integers,
  * correctly rounded identically in any engine, then floored onto the
  * integer grid, so fused scores hash-match the oracle bit-for-bit.
  *
  * Scale shape at 100 TB: both per-system retrievals end in
  * `TakeOrderedAndProject` (k-row outputs — their own scale stories are
  * documented at [[Search.bm25TopK]] and in the ANN family); the fusion
  * itself is a full-outer join of two k-row tables and never touches the
  * corpus. For large corpora swap the dense side for the IVF/LSH path
  * ([[Similarity.ivfTopK]], [[Similarity.lshTopK]]) — any (doc_id, rank)
  * list fuses through [[fuseRrf]] unchanged.
  */
object HybridSearch {

  /** Conventional RRF dampening constant (Cormack et al. use 60). */
  val RrfK0 = 60

  /** Integer grid for the 1/(k0+rank) contributions. */
  val RrfGrid = 1000000000.0

  /** Grid-floored RRF contribution of a (1-based) rank. */
  private def rrfQ(rank: Column): Column =
    floor(lit(RrfGrid) / (lit(RrfK0).cast("double") + rank.cast("double")))
      .cast("long")

  /** Fuse any two (doc_id, rank) lists: (rank, doc_id, rrf_q, r_lex,
    * r_vec) — top `k` by fused score (doc_id tie-break). Ranks are
    * 1-based; absent docs contribute 0 for that system.
    */
  def fuseRrf(lex: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    val fused = lex.select(col("doc_id"), col("rank").cast("long").as("r_lex"))
      .join(vec.select(col("doc_id"), col("rank").cast("long").as("r_vec")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        (when(col("r_lex").isNotNull, rrfQ(col("r_lex"))).otherwise(lit(0L)) +
          when(col("r_vec").isNotNull, rrfQ(col("r_vec"))).otherwise(lit(0L)))
          .as("rrf_q"))
    fused.orderBy(col("rrf_q").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("rrf_q").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "rrf_q", "r_lex", "r_vec")
  }

  /** One hybrid query end-to-end: BM25 top-`lexK` for `terms` over `docs`
    * fused with cosine top-`vecK` of `queryVec` (a one-row (id, vector)
    * frame) over `corpusVecs`, overall top `k` by RRF. Joining the two
    * modalities assumes the embedding table's id column aligns with
    * `docs`'s id column (one embedding per document).
    */
  def hybridRrfTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], lexK: Int,
      queryVec: DataFrame, corpusVecs: DataFrame, vecIdCol: String,
      vecCol: String, vecK: Int, k: Int): DataFrame = {
    val lex = Search.bm25TopK(docs, idCol, textCol, terms, lexK)
      .select(col("doc_id"), col("rank"))
    val vec = Similarity
      .bruteForceTopK(queryVec, corpusVecs, vecIdCol, vecCol, vecK)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    fuseRrf(lex, vec, k)
  }

  /** Gate shape: the BM25 gate query fused with vector id 0's cosine
    * neighborhood (vec_id aligns with doc_id in the testdata).
    */
  val GateQueryVec = 0L
  val GateK = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_hybrid_rrf" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      hybridRrfTopK(Tables.documents(s, d), "doc_id", "text",
        Search.GateTerms, GateK,
        vecs.filter(col("vec_id") === GateQueryVec), vecs, "vec_id", "v",
        GateK, GateK)
        .orderBy("rank")
    }))

  private def rrfSql(rank: String): String =
    s"CAST(FLOOR($RrfGrid / (CAST($RrfK0 AS DOUBLE) + CAST($rank AS DOUBLE))) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "txt_hybrid_rrf" -> s"""
      |WITH ${Search.bm25RankedCtes(Search.termList)},
      |lex AS (SELECT doc_id, CAST(rank AS BIGINT) AS r_lex
      |        FROM bm25r WHERE rank <= $GateK),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id = $GateQueryVec),
      |vscored AS (
      |  SELECT c.vec_id AS doc_id, ${SimOracle.cosSql("q.qv", "c.v")} AS cos
      |  FROM q JOIN v c ON c.vec_id <> q.query_id),
      |vranked AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank
      |  FROM vscored),
      |vec AS (SELECT doc_id, CAST(rank AS BIGINT) AS r_vec
      |        FROM vranked WHERE rank <= $GateK),
      |fused AS (
      |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec,
      |    (CASE WHEN r_lex IS NOT NULL THEN ${rrfSql("r_lex")} ELSE 0 END +
      |     CASE WHEN r_vec IS NOT NULL THEN ${rrfSql("r_vec")} ELSE 0 END)
      |      AS rrf_q
      |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
      |rr AS (SELECT doc_id, rrf_q, r_lex, r_vec,
      |    CAST(ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank
      |  FROM fused)
      |SELECT rank, doc_id, rrf_q, r_lex, r_vec FROM rr WHERE rank <= $GateK
      |ORDER BY rank""".stripMargin)
}
