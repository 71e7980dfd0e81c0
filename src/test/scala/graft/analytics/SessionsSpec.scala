package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, Long, Double)]) =
    rows.toDF("user_id", "sec", "event_id", "value")
      .select($"user_id", timestamp_micros($"sec" * 1000000L).as("ts"),
        $"event_id", $"value")

  test("sessionize breaks exactly on gaps >= the threshold (boundary inclusive)") {
    val events = ev(Seq(
      // user 1: 3 events 10s apart, an 80s hole, then 2 more
      (1L, 0L, 101L, 1.00), (1L, 10L, 102L, 2.00), (1L, 20L, 103L, 3.00),
      (1L, 100L, 104L, 4.00), (1L, 130L, 105L, 5.00),
      // user 2: single event
      (2L, 50L, 201L, 7.00),
      // user 3: delta exactly == gap → MUST break (session_window semantics)
      (3L, 0L, 301L, 1.00), (3L, 60L, 302L, 2.00)))
    val out = Sessions.sessionize(events, "user_id", "ts", "event_id", "value",
      gapMicros = 60L * 1000000)
      .orderBy("user_id", "sess_idx")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      (1L, 0L, 3L), (1L, 1L, 2L), (2L, 0L, 1L), (3L, 0L, 1L), (3L, 1L, 1L)))
    val u1s0 = out.find(r => r._1 == 1L && r._2 == 0L).get
    assert(u1s0._4 === 0L && u1s0._5 === 20000000L && u1s0._6 === 6.0)
  }

  test("intervalCoverage: overlap never double-counts; nesting, chaining, layout invariance") {
    // key 1: [0,10) ∪ [5,20) merge → [0,20); [20,30) is ADJACENT (start ==
    // prev max end, not >) so it chains in; [50,60) separate; [52,55)
    // nests inside it
    val iv = Seq(
      (1L, 1L, 0L, 10L), (1L, 2L, 5L, 20L), (1L, 3L, 20L, 30L),
      (1L, 4L, 50L, 60L), (1L, 5L, 52L, 55L),
      (2L, 6L, 100L, 101L))
      .toDF("k", "iid", "s0", "e0")
    val got = Sessions.intervalCoverage(iv, "k", "s0", "e0", "iid")
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    assert(got === Map(1L -> ((2L, 40L)), 2L -> ((1L, 1L))))
    val again = Sessions.intervalCoverage(iv.repartition(7), "k", "s0", "e0", "iid")
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    assert(again === got)
  }

  test("intervalOverlapJoin ≡ direct theta join; binning stays an equi join") {
    // same-cell-but-disjoint pairs exercise the residual filter: with a
    // grid of 100, a=[10,20) and b=[30,40) share cell 0 but don't overlap
    val a = Seq((1L, 101L, 10L, 20L), (1L, 102L, 50L, 250L),
      (2L, 103L, 0L, 1000L)).toDF("k", "iid", "s0", "e0")
    val b = Seq((1L, 201L, 30L, 40L), (1L, 202L, 240L, 260L),
      (1L, 203L, 15L, 18L), (2L, 204L, 999L, 1001L),
      (3L, 205L, 0L, 10L)).toDF("k", "iid", "s0", "e0")
    val got = Sessions.intervalOverlapJoin(a, b, "k", "s0", "e0", "iid", 100L)
      .as[(Long, Long)].collect().toMap
    // key 1: 101 overlaps 203 only; 102 overlaps 202 only → 2 pairs.
    // key 2: 103 overlaps 204 (999 < 1000). key 3: no a-side.
    assert(got === Map(1L -> 2L, 2L -> 1L))
    // brute theta-join reference on the same data
    val brute = a.as("a").join(b.as("b"),
        $"a.k" === $"b.k" && $"a.s0" < $"b.e0" && $"b.s0" < $"a.e0")
      .groupBy($"a.k").count().as[(Long, Long)].collect().toMap
    assert(got === brute)
    // the plan must be an equi join on (key, cell) — never a nested loop
    val plan = Sessions.intervalOverlapJoin(a, b, "k", "s0", "e0", "iid", 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("sessionTransitions: chains break at the gap, probabilities sum to 1 per from-type") {
    val t0 = 1700000000000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // user 1: a→b→(GAP)→a→c ⇒ transitions a→b, a→c; user 2: b→b
    val gap = 1000000L * 3600
    val rows = Seq(
      (1L, 1L, t0, "a"), (1L, 2L, t0 + 1000L, "b"),
      (1L, 3L, t0 + gap * 2, "a"), (1L, 4L, t0 + gap * 2 + 5L, "c"),
      (2L, 5L, t0, "b"), (2L, 6L, t0 + 10L, "b"))
      .map { case (u, id, us, ty) => (u, id, ts(us), ty) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Sessions.sessionTransitions(rows, "user_id", "ts", "event_id",
      "event_type", gap)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got === Map(
      ("a", "b") -> (1L, 2L, 0.5), ("a", "c") -> (1L, 2L, 0.5),
      ("b", "b") -> (1L, 1L, 1.0)))
    // on real data: per-from probabilities sum to 1 exactly in count space
    val real = Sessions.sessionTransitions(graft.Tables.events(spark, sf0001),
      "user_id", "ts", "event_id", "event_type", Sessions.GateGapMicros)
    val sums = real.groupBy($"from_type")
      .agg((sum($"n") === max($"n_from")).as("ok"))
    assert(sums.filter(!$"ok").count() === 0)
  }
}
