package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 64
  private val M = 4
  private val Ksub = 8
  private val Nlist = 8
  private val Iters = 2
  private val K = 10
  private val Nprobe = 2

  private lazy val vecs = graft.Tables.embeddings(spark, sf0001)
    .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    .cache()
  private lazy val queries = vecs.filter($"vec_id" < 10)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"query_id".cast("long"), $"neighbor_id".cast("long"),
        $"rank".cast("long"), $"adist".cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet

  test("reloaded-index search is bit-identical to in-session train+search") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-spec")
      .toString + "/idx"
    AnnIndex.buildIvfPq(vecs, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)

    // in-session: train the same codebooks and run the monolithic path
    val coarse = Similarity.trainCentroids(vecs, "vec_id", "v", Nlist, Iters)
    val resid = ProductQuantization.residuals(vecs, coarse, "vec_id", "v")
    val cb = ProductQuantization.trainCodebooks(resid, "id", "rv", Dims, M,
      Ksub, Iters)
    val inSession = ProductQuantization.ivfPqTopK(queries, vecs, coarse, cb,
      "vec_id", "v", Dims, M, K, Nprobe)

    val idx = AnnIndex.load(spark, dir)
    assert(idx.dims === Dims && idx.m === M)
    val reloaded = AnnIndex.searchIvfPq(queries, idx, "vec_id", "v", K, Nprobe)
    assert(rows(reloaded) === rows(inSession))
    assert(rows(reloaded).nonEmpty)
  }

  test("code table is partitioned by coarse list on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-part")
      .toString + "/idx"
    AnnIndex.buildIvfPq(vecs, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)
    val listDirs = Option(new java.io.File(dir, "codes").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("cid="))
    assert(listDirs.nonEmpty, "codes/ must be laid out as cid=<list> dirs")
    // every corpus vector has exactly one code row, in exactly one list
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.count() === vecs.count())
    assert(idx.codes.select("neighbor_id").distinct().count() === vecs.count())
  }

  test("a partial (unpublished) build is never mistaken for an index") {
    val base = java.nio.file.Files.createTempDirectory("graft-ann-partial")
    val dir = base.toString + "/idx"
    // simulate a crash mid-build: data dirs exist but no _meta.json at dir
    new java.io.File(dir, "coarse").mkdirs()
    new java.io.File(dir, "codes").mkdirs()
    val e = intercept[IllegalArgumentException](AnnIndex.load(spark, dir))
    assert(e.getMessage.contains("no ANN index published"))
  }

  test("incremental append: appended index searches == re-encoded union corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-app")
      .toString + "/idx"
    val dayA = vecs.filter($"vec_id" % 2 === 0)
    val dayB = vecs.filter($"vec_id" % 2 === 1)
    // index trained and built on day-A only
    AnnIndex.buildIvfPq(dayA, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)
    assert(AnnIndex.appendIvfPq(spark, dir, dayB, "vec_id", "v", "day-b"))
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.count() === vecs.count())
    val appended = AnnIndex.searchIvfPq(queries, idx, "vec_id", "v", K, Nprobe)
    // comparator: the union corpus re-encoded against the SAME (day-A
    // trained) coarse + codebooks — what a from-scratch encode would hold
    val refCodes = ProductQuantization.encodeIvfPq(vecs, idx.coarse,
      idx.codebooks, "vec_id", "v", Dims, M)
    val reference = ProductQuantization.ivfPqSearch(queries, refCodes,
      idx.coarse, idx.codebooks, "vec_id", "v", Dims, M, K, Nprobe)
    assert(rows(appended) === rows(reference))
    // replayed drop is a no-op (exactly-once tag)
    assert(!AnnIndex.appendIvfPq(spark, dir, dayB, "vec_id", "v", "day-b"))
    assert(AnnIndex.load(spark, dir).codes.count() === vecs.count())
    // no staging leftovers
    val siblings = new java.io.File(dir).getParentFile.listFiles()
    assert(siblings.count(_.getName.contains("staging")) === 0,
      siblings.mkString(","))
  }

  test("streaming ingest: micro-batched appends == one batch append") {
    val base = java.nio.file.Files.createTempDirectory("graft-ann-stream")
    val dir = base.toString + "/idx"
    val dayA = vecs.filter($"vec_id" % 2 === 0)
    val dayB = vecs.filter($"vec_id" % 2 === 1)
    AnnIndex.buildIvfPq(dayA, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)
    // day-B in two micro-batch-sized appends, each under its batch tag
    Seq(1, 3).foreach { r =>
      AnnIndex.appendIvfPq(spark, dir, dayB.filter($"vec_id" % 4 === r),
        "vec_id", "v", s"batch-$r")
    }
    val streamed = AnnIndex.load(spark, dir)
    assert(streamed.codes.count() === vecs.count())
    // reference: the same day-B appended in ONE exactly-once drop
    val dir2 = base.toString + "/idx2"
    AnnIndex.buildIvfPq(dayA, "vec_id", "v", dir2, Dims, M, Ksub, Iters, Nlist)
    AnnIndex.appendIvfPq(spark, dir2, dayB, "vec_id", "v", "one-drop")
    val oneShot = AnnIndex.load(spark, dir2)
    assert(
      rows(AnnIndex.searchIvfPq(queries, streamed, "vec_id", "v", K, Nprobe)) ===
        rows(AnnIndex.searchIvfPq(queries, oneShot, "vec_id", "v", K, Nprobe)))
  }

  test("reloaded flat-PQ index search is bit-identical to in-session train+search") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-pq-spec")
      .toString + "/idx"
    AnnIndex.buildPq(vecs, "vec_id", "v", dir, Dims, M, Ksub, Iters)
    val cb = ProductQuantization.trainCodebooks(vecs, "vec_id", "v",
      Dims, M, Ksub, Iters)
    val inSession = ProductQuantization.topK(queries, vecs, cb,
      "vec_id", "v", Dims, M, K)
    val idx = AnnIndex.loadPq(spark, dir)
    assert(idx.dims === Dims && idx.m === M)
    assert(idx.codes.count() === vecs.count())
    val reloaded = AnnIndex.searchPq(queries, idx, "vec_id", "v", K)
    assert(rows(reloaded) === rows(inSession))
    assert(rows(reloaded).nonEmpty)
    // loading a flat-PQ index through the IVF loader (or vice versa) must
    // fail loudly, not silently mis-search
    val e = intercept[IllegalArgumentException] {
      AnnIndex.loadPq(spark, dir.replace("/idx", "/nope"))
    }
    assert(e.getMessage.contains("no ANN index"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ann-kind")
      .toString + "/ivf"
    AnnIndex.buildIvfPq(vecs, "vec_id", "v", dir2, Dims, M, Ksub, Iters, Nlist)
    val kindErr = intercept[IllegalArgumentException] {
      AnnIndex.loadPq(spark, dir2)
    }
    assert(kindErr.getMessage.contains("not a flat-PQ"))
  }

  test("rebuild atomically replaces an existing index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-re")
      .toString + "/idx"
    AnnIndex.buildIvfPq(vecs, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)
    val first = rows(AnnIndex.searchIvfPq(queries,
      AnnIndex.load(spark, dir), "vec_id", "v", K, Nprobe))
    AnnIndex.buildIvfPq(vecs, "vec_id", "v", dir, Dims, M, Ksub, Iters, Nlist)
    val second = rows(AnnIndex.searchIvfPq(queries,
      AnnIndex.load(spark, dir), "vec_id", "v", K, Nprobe))
    assert(first === second)
    // no leftover temp dirs beside the published index
    val siblings = new java.io.File(dir).getParentFile.listFiles()
    assert(siblings.count(_.getName.startsWith("idx")) === 1, siblings.mkString(","))
  }
}
