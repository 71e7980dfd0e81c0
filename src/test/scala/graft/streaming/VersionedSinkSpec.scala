package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.VersionedTable

class VersionedSinkSpec extends SparkSpec {
  import spark.implicits._

  test("appendBatch applies each tag exactly once") {
    val root = Files.createTempDirectory("graft-vsink").toString + "/t"
    VersionedTable.create(spark, root, Seq((0L, "seed")).toDF("k", "s"))
    assert(VersionedTable.appendBatch(spark, root,
      Seq((1L, "b0")).toDF("k", "s"), "batch-0"))
    // the replay: same batchId after a post-commit crash
    assert(!VersionedTable.appendBatch(spark, root,
      Seq((1L, "b0")).toDF("k", "s"), "batch-0"))
    assert(VersionedTable.appendBatch(spark, root,
      Seq((2L, "b1")).toDF("k", "s"), "batch-1"))

    assert(VersionedTable.read(spark, root).count() === 3)
    assert(VersionedTable.snapshot(spark, root).tags ===
      Seq("batch-0", "batch-1"))
    // the pre-check short-circuits the replay BEFORE writing data: nothing
    // to sweep, table intact
    assert(VersionedTable.vacuum(spark, root, retainVersions = 3).isEmpty)
    assert(VersionedTable.read(spark, root).count() === 3)
  }

  test("mergeSchema append widens; strict append refuses type conflicts") {
    val root = Files.createTempDirectory("graft-vsink-ev").toString + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.append(spark, root,
      Seq((2L, "b", 9.5)).toDF("k", "s", "score"), mergeSchema = true)

    val rows = VersionedTable.read(spark, root).orderBy("k")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(rows === Seq((1L, "a", None), (2L, "b", Some(9.5))))

    val err = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root,
        Seq((3, "c")).toDF("k", "s"), mergeSchema = true)  // k int vs long
    }
    assert(err.getMessage.contains("conflicts"))
  }
}
