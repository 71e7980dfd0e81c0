package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Stream-static broadcast enrichment: the stateless join every live
  * pipeline runs (events against a dimension). Spark re-resolves the static
  * side per micro-batch; the broadcast keeps the stream side shuffle-free —
  * the streaming twin of the batch dim-join pattern in `Relational`.
  */
class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static broadcast join equals the batch join") {
    val dim = graft.Tables.region(spark, sf0001)
      .select($"r_regionkey".as("band"), $"r_name")
    val stream = eventsStream("graft-enrich")
      .withColumn("band", $"user_id" % 5)
      .join(broadcast(dim), Seq("band"))
      .select($"event_id", $"r_name")
    val q = Monitors.runToMemory(stream, "enriched", "append")
    try {
      val streamed = spark.table("enriched")
        .as[(Long, String)].collect().toMap
      val batch = graft.Tables.events(spark, sf0001)
        .withColumn("band", $"user_id" % 5)
        .join(broadcast(dim), Seq("band"))
        .select($"event_id", $"r_name")
        .as[(Long, String)].collect().toMap
      assert(streamed.nonEmpty && streamed === batch)
    } finally q.stop()
  }
}
