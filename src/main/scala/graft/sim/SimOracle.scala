package graft.sim

/** DuckDB SQL fragments mirroring [[Similarity]]'s portable expressions —
  * shared by the sim and dedup oracle surfaces so the hyperplane weights and
  * fold orders are generated from one source of truth
  * ([[Similarity.planeNumerator]]).
  */
object SimOracle {

  /** Ascending left-fold dot product — same fold as `Dedup.dot`. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       |  i -> $a[i] * $b[i])), (da, dx) -> da + dx)""".stripMargin

  def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Literal hyperplane weight list for plane `p` (weights inlined so the
    * oracle needs no UDF support).
    */
  def planeListSql(p: Int, dims: Int): String =
    (1 to dims).map(d => s"${Similarity.planeNumerator(p, d)}/1000.0")
      .mkString("[", ", ", "]")

  /** Ascending left-fold L2² — mirror of the JVM fold in
    * `ProductQuantization.l2SqSlice`.
    */
  def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (da, dx) -> da + dx)""".stripMargin

  /** Int8 code list — mirror of [[Similarity.quantizeInt8]]'s expression
    * structure op-for-op (normalize, scale, round-half-up, clamp).
    */
  def int8Sql(v: String): String =
    s"""list_transform(range(1, len($v) + 1), i ->
       |  CAST(GREATEST(-127, LEAST(127,
       |    FLOOR($v[i] / sqrt(${dotSql(v, v)}) * 127.0 + 0.5))) AS BIGINT))""".stripMargin

  /** Ascending left-fold integer dot over two BIGINT code lists. */
  def intDotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])),
       |  (da, dx) -> da + dx)""".stripMargin

  /** P-bit sign-pattern bucket id — mirror of [[Similarity.lshBucket]]. */
  def bucketSql(v: String, planes: Int, dims: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN ${dotSql(v, planeListSql(p, dims))} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
