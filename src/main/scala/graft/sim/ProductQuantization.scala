package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the IVF-PQ compression path every
  * billion-vector ANN system runs (Jégou et al., public technique): split
  * each vector into `m` contiguous subspaces, train a tiny L2 codebook per
  * subspace, and store each vector as `m` small codes. With m=4 and 8
  * centroids a 64-float vector becomes 4 codes — the corpus fits in a
  * fraction of the footprint, and query-time ranking is asymmetric distance
  * computation (ADC): per query, ONE m×ksub lookup table of exact
  * subspace distances, then each candidate costs m table lookups instead
  * of a d-dim float dot.
  *
  * Scale shape: training explodes vectors into (vector, subspace) rows so
  * all m codebooks train inside the SAME per-round shuffles (not m
  * sequential jobs); encoding is one shuffle on the vector id; the ADC scan
  * broadcasts the per-query LUTs and reads the code table ONCE — no
  * explode, no aggregation shuffle, rank-window only, exactly the
  * brute-force plan but over 4-code rows.
  *
  * Determinism: centroid means use the same 1e-6 BIGINT-grid trick as
  * [[Similarity.trainCentroids]] (order-free integer sums), L2 distances
  * fold in index order, and ADC distances are floored to a BIGINT grid
  * before the (order-free, integer) subspace sum — so codebooks, codes,
  * and rankings are bit-identical on any engine and the gate hash-checks
  * the whole train→encode→search path against a re-training DuckDB oracle.
  */
object ProductQuantization {

  /** ADC grid: subspace distances are floored to 1e-6 before summing. */
  val DistGrid = 1000000.0

  /** ADC score: the integer sum of each code's looked-up subspace distance. */
  private def adcDist(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut, (cd, row) => element_at(row, (cd + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)

  /** Ascending-index L2² over a slice of `v` vs a full sub-centroid — the
    * SAME left fold as the oracle's `SimOracle.l2Sql` over the sliced
    * arrays (identical operands in identical order ⇒ bit-identical doubles).
    */
  private def l2SqSlice(v: Array[Double], off: Int, cv: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(cv.length, math.max(v.length - off, 0))
    while (i < n) {
      val d = v(off + i) - cv(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Per-subspace centroid tables collected to the driver, `ords(sub)`
    * ascending in the tiebreak column (cid during training, dense code
    * after) — codebooks are model-sized (m·ksub rows) by contract.
    */
  private def collectSubCents(cents: DataFrame,
      ord: String): Array[Array[(Long, Array[Double])]] = {
    val rows = cents.select(col("sub").cast("int"), col(ord).cast("long"),
        col("cv")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val m = if (rows.isEmpty) 0 else rows.map(_._1).max + 1
    Array.tabulate(m)(s =>
      rows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1))
  }

  /** Argmin sub-centroid per subspace: L2 ascending, ties to the lowest
    * ord — `Double.compare` ordering (NaN greatest), i.e. exactly the
    * `row_number() OVER (ORDER BY ld ASC, ord)` the window form computed.
    */
  private def assignAllSubs(v: Array[Double], subDim: Int,
      cents: Array[Array[(Long, Array[Double])]]): Array[Long] =
    Array.tabulate(cents.length) { s =>
      val cs = cents(s)
      var best = 0
      var bestD = l2SqSlice(v, s * subDim, cs(0)._2)
      var i = 1
      while (i < cs.length) {
        val d = l2SqSlice(v, s * subDim, cs(i)._2)
        if (java.lang.Double.compare(d, bestD) < 0) { best = i; bestD = d }
        i += 1
      }
      cs(best)._1
    }

  /** Train the m per-subspace codebooks with `iters` Lloyd rounds (init =
    * the subspace slices of the `ksub` lowest-id vectors; empty centroids
    * keep their previous position). Returns (sub, code, cv) with `code`
    * 0-based dense per subspace.
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subDim = dims / m
    val spark = corpus.sparkSession
    import spark.implicits._
    // scale-adaptive parallelism (see Similarity.trainCentroids): spread
    // the per-round assignment+mean over the cores when the source plan
    // arrives under-partitioned; never coalesce down
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val vecs = graft.plans.Parallelism.widen(base).cache()
    // all m codebooks live driver-side (m·ksub·subDim doubles — model
    // state); each Lloyd round is ONE job: inline per-subspace assignment
    // feeding the quantized (sub, cid, dim) mean aggregate. The previous
    // shape per round — subspace-exploded assignment window + join-back +
    // mean shuffle + old/new-join checkpoint — was three jobs and two full
    // per-(id, sub) exchanges of the corpus slices
    var cents: Array[Array[(Long, Array[Double])]] =
      vecs.orderBy("id").limit(ksub).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1) match {
        case donors => Array.tabulate(m)(s =>
          donors.map { case (id, v) =>
            (id, java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
          })
      }
    val typed = vecs.as[(Long, Array[Double])]
    val rdd = typed.rdd
    // merged tree reduction instead of a flat collect of per-partition
    // partials (r17 VERDICT #3): driver memory is O(m·ksub·subDim) — ONE
    // merged accumulator — never O(partitions·m·ksub·subDim). Same
    // scale-adaptive 64-ary depth as Similarity.trainCentroids: 1 level
    // (no extra stage) locally, tree levels only at cluster split counts.
    // Long sums are order-free ⇒ tree reassociation is bit-identical.
    val depth = math.max(1, math.ceil(
      math.log(math.max(rdd.getNumPartitions, 2).toDouble) / math.log(64.0)).toInt)
    for (_ <- 1 to iters) {
      // codebooks ride a broadcast, not the task closure (ADVICE r17)
      val bc = spark.sparkContext.broadcast(cents)
      val ks = cents(0).length
      // one NARROW job per round (see Similarity.trainCentroids): the
      // per-(sub, centroid) quantized dim sums fold into m·ksub·subDim
      // longs per task and merge up the tree
      val (sums, counts) = rdd.treeAggregate(
        (Array.fill(m, ks)(new Array[Long](subDim)),
          Array.fill(m)(new Array[Long](ks))))(
        seqOp = { case (acc @ (sums, counts), (_, v)) =>
          val cs = bc.value
          var s = 0
          while (s < m) {
            val css = cs(s)
            var best = 0
            var bestD = l2SqSlice(v, s * subDim, css(0)._2)
            var i = 1
            while (i < css.length) {
              val d = l2SqSlice(v, s * subDim, css(i)._2)
              if (java.lang.Double.compare(d, bestD) < 0) { best = i; bestD = d }
              i += 1
            }
            counts(s)(best) += 1
            val su = sums(s)(best)
            var j = 0
            val n = math.min(math.max(v.length - s * subDim, 0), subDim)
            while (j < n) {
              su(j) += math.floor(v(s * subDim + j) * DistGrid).toLong
              j += 1
            }
            s += 1
          }
          acc
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var s = 0
          while (s < s1.length) {
            var i = 0
            while (i < s1(s).length) {
              c1(s)(i) += c2(s)(i)
              val a = s1(s)(i); val b = s2(s)(i)
              var j = 0
              while (j < a.length) { a(j) += b(j); j += 1 }
              i += 1
            }
            s += 1
          }
          (s1, c1)
        }, depth)
      bc.unpersist(blocking = false)
      cents = Array.tabulate(m)(s => cents(s).zipWithIndex.map {
        case ((cid, cv), i) =>
          if (counts(s)(i) == 0L) (cid, cv)
          else (cid, Array.tabulate(subDim)(j =>
            sums(s)(i)(j).toDouble / (counts(s)(i) * DistGrid)))
      })
    }
    vecs.unpersist()
    // dense 0-based code per sub in cid order (the arrays are cid-ascending)
    val rows = cents.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case ((_, cv), code) => (s, code.toLong, cv) }
    }
    rows.toSeq.toDF("sub", "code", "cv")
  }

  /** Encode each vector as its m nearest-centroid codes, ordered by
    * subspace: (id, codes array). One shuffle on the vector id.
    */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    val subDim = dims / m
    // codebooks driver-side → encoding is ONE narrow projection (the
    // subspace-explode + assignment-window + collect_list-regroup shape
    // this replaces paid two exchanges of the whole corpus). Broadcast
    // handle, not closure capture (ADVICE r17).
    val cb = vecs.sparkSession.sparkContext.broadcast(
      collectSubCents(codebooks, "code"))
    val codesUdf = udf { v: Seq[Double] =>
      assignAllSubs(v.toArray, subDim, cb.value) }
    vecs.select(col(idCol).as("id"), codesUdf(col(vecCol)).as("codes"))
  }

  /** ADC top-k: per query one exact m×ksub distance table (grid-floored
    * BIGINTs), broadcast; candidates rank by the integer sum of their m
    * looked-up subspace distances (ascending, neighbor_id tiebreak).
    */
  def topK(queries: DataFrame, corpus: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, dims: Int, m: Int, k: Int): DataFrame = {
    val codes = encode(corpus, idCol, vecCol, codebooks, dims, m)
      .select(col("id").as("neighbor_id"), col("codes"))
    pqSearch(queries, codes, codebooks, idCol, vecCol, dims, m, k)
  }

  /** The query half of [[topK]] over a prebuilt `(neighbor_id, codes)`
    * table: broadcast per-query LUTs, one codes-table scan, rank-window —
    * the corpus is never re-encoded (see [[AnnIndex.buildPq]] for the
    * persisted-index form).
    */
  def pqSearch(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, dims: Int, m: Int, k: Int): DataFrame = {
    val subDim = dims / m
    // lut[sub][code] as a 2D array per query, built in ONE narrow
    // projection against the driver-collected codebooks (the explode +
    // broadcast-join + two collect_list regroups this replaces were three
    // extra stages per search)
    val cb = queries.sparkSession.sparkContext.broadcast(
      collectSubCents(codebooks, "code"))
    val lutUdf = udf { v: Seq[Double] =>
      val va = v.toArray
      cb.value.zipWithIndex.map { case (cs, s) =>
        cs.map { case (_, cv) =>
          math.floor(l2SqSlice(va, s * subDim, cv) * DistGrid).toLong }
      }
    }
    val lut = queries.select(col(idCol).as("query_id"),
      lutUdf(col(vecCol)).as("lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.join(broadcast(lut), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcDist(col("codes"), col("lut")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }

  /** Residuals against a coarse (cid, cv) codebook: each vector joined to
    * its top-1 cosine centroid ([[Similarity.ivfAssign]] semantics) minus
    * that centroid — (id, cid, rv). Narrow: assignment broadcasts the
    * centroids, the subtraction is per-row.
    */
  def residuals(vecs: DataFrame, coarse: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // coarse centroids driver-side: assignment AND subtraction in one
    // narrow projection — no assignment pass + join-back-by-id + centroid
    // join (two exchanges of the full corpus removed). Broadcast handle,
    // not closure capture (ADVICE r17).
    val bcents = vecs.sparkSession.sparkContext.broadcast(
      Similarity.collectCents(coarse, "cid", "cv"))
    val residUdf = udf { v: Seq[Double] =>
      val cents = bcents.value
      val va = v.toArray
      var best = 0
      var bestC = Similarity.cosFused(va, cents(0)._2)
      var i = 1
      while (i < cents.length) {
        val c = Similarity.cosFused(va, cents(i)._2)
        if (java.lang.Double.compare(c, bestC) > 0) { best = i; bestC = c }
        i += 1
      }
      val cv = cents(best)._2
      val rv = new Array[Double](math.min(va.length, cv.length))
      var j = 0
      while (j < rv.length) { rv(j) = va(j) - cv(j); j += 1 }
      (cents(best)._1, rv)
    }
    vecs.select(col(idCol).as("id"), residUdf(col(vecCol)).as("r"))
      .select(col("id"), col("r._1").as("cid"), col("r._2").as("rv"))
  }

  /** IVFADC (classic IVF-PQ, Jégou et al.): corpus vectors live in their
    * top-1 coarse list and are PQ-encoded as RESIDUALS against that list's
    * centroid; a query probes its `nprobe` nearest lists and ranks each
    * list's members by ADC against the query's residual FOR THAT LIST.
    *
    * This is the architecture that holds at 100 TB: the corpus is scanned
    * and encoded ONCE into (cid, 4-code) rows partitioned by list; a query
    * touches only nprobe lists via an equi-join on cid with a broadcast
    * (query, cid)-keyed LUT; and because a corpus vector lives in exactly
    * one list no (query, neighbor) pair can arise twice. Same BIGINT-grid
    * determinism as [[topK]] — the gate hash-checks coarse training,
    * residual PQ training, encoding, and probing end to end.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, coarse: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, k: Int, nprobe: Int): DataFrame = {
    val codes = encodeIvfPq(corpus, coarse, codebooks, idCol, vecCol, dims, m)
    ivfPqSearch(queries, codes, coarse, codebooks, idCol, vecCol,
      dims, m, k, nprobe)
  }

  /** The index-build half of [[ivfPqTopK]]: corpus → (neighbor_id, cid,
    * codes) rows — each vector's coarse list plus its residual PQ codes.
    * This is the artifact a 100 TB deployment computes ONCE and persists
    * (see [[AnnIndex]]); queries then touch only the code table.
    */
  def encodeIvfPq(corpus: DataFrame, coarse: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, dims: Int, m: Int): DataFrame = {
    // residual + code assignment compose into one narrow pass — the old
    // encode-then-join-back-by-id shuffled the corpus once more for a
    // column (cid) the residual row already carried
    val subDim = dims / m
    val cb = corpus.sparkSession.sparkContext.broadcast(
      collectSubCents(codebooks, "code"))
    val codesUdf = udf { rv: Seq[Double] =>
      assignAllSubs(rv.toArray, subDim, cb.value) }
    residuals(corpus, coarse, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("cid"),
        codesUdf(col("rv")).as("codes"))
  }

  /** The query half of [[ivfPqTopK]] over a prebuilt code table: probe the
    * `nprobe` nearest coarse lists, broadcast the per-(query, list) residual
    * LUTs, equi-join on `cid`, ADC-rank. The corpus is never re-encoded.
    */
  def ivfPqSearch(queries: DataFrame, codes: DataFrame, coarse: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, k: Int, nprobe: Int): DataFrame = {
    val subDim = dims / m
    // probe lists, query residuals and per-(query, list) LUTs in ONE
    // narrow projection over the (small) query side: coarse centroids and
    // codebooks ride the closure, so the probe window, the two residual
    // joins and the LUT's explode + regroups all collapse into this map
    val model = queries.sparkSession.sparkContext.broadcast(
      (Similarity.collectCents(coarse, "cid", "cv"),
        collectSubCents(codebooks, "code")))
    val np = nprobe
    val probeLutUdf = udf { v: Seq[Double] =>
      val (cents, cb) = model.value
      val va = v.toArray
      cents.indices
        .map(i => (i, Similarity.cosFused(va, cents(i)._2)))
        .sortWith((p, q) => java.lang.Double.compare(p._2, q._2) > 0)
        .take(np)
        .map { case (i, _) =>
          val (cid, cv) = cents(i)
          val rv = new Array[Double](math.min(va.length, cv.length))
          var j = 0
          while (j < rv.length) { rv(j) = va(j) - cv(j); j += 1 }
          val lut = cb.zipWithIndex.map { case (cs, s) =>
            cs.map { case (_, ccv) =>
              math.floor(l2SqSlice(rv, s * subDim, ccv) * DistGrid).toLong }
          }
          (cid, lut)
        }.toSeq
    }
    val lut = queries
      .select(col(idCol).as("query_id"),
        explode(probeLutUdf(col(vecCol))).as("pl"))
      .select(col("query_id"), col("pl._1").as("cid"), col("pl._2").as("lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.join(broadcast(lut), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcDist(col("codes"), col("lut")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }
}
