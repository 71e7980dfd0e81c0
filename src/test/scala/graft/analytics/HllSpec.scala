package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HllSpec extends SparkSpec {
  import spark.implicits._

  private def items(group: String, n: Int, offset: Long = 0L) =
    (0 until n).map(i => (group, s"item-${offset + i}"))

  test("register table is bounded by 2^p rows per group and partition-invariant") {
    val df = (items("a", 5000) ++ items("b", 300)).toDF("g", "item")
    val one = Hll.registers(df.coalesce(1), Seq("g"), "item")
      .as[(String, Int, Int)].collect().toSet
    val many = Hll.registers(df.repartition(13), Seq("g"), "item")
      .as[(String, Int, Int)].collect().toSet
    assert(one === many, "registers must not depend on partitioning")
    val perGroup = one.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup.values.forall(_ <= 64), "at most 2^p registers per group")
    assert(one.forall { case (_, b, r) => b >= 0 && b < 64 && r >= 1 && r <= 55 })
  }

  test("sketches merge exactly: registers(A ∪ B) == merge(registers(A), registers(B))") {
    val a = items("g", 2000).toDF("g", "item")
    val b = items("g", 2000, offset = 1500).toDF("g", "item") // overlaps a
    val direct = Hll.registers(a.union(b), Seq("g"), "item")
      .as[(String, Int, Int)].collect().toSet
    val merged = Hll.merge(
        Hll.registers(a, Seq("g"), "item")
          .unionByName(Hll.registers(b, Seq("g"), "item")), Seq("g"))
      .as[(String, Int, Int)].collect().toSet
    assert(direct === merged, "register-wise max must equal the direct sketch")
  }

  test("estimate column is the documented fixed-order expression of t_sum") {
    val df = items("g", 1000).toDF("g", "item")
    val r = Hll.estimate(Hll.registers(df, Seq("g"), "item"), Seq("g"))
      .select("t_sum", "est").as[(Long, Double)].head()
    val m = 64.0
    val want = (0.7213 / (1.0 + 1.079 / m) * m * m) * math.pow(2.0, 55.0) / r._1.toDouble
    assert(r._2 === want, "est must be reproducible from t_sum alone")
  }
}
