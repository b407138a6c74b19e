package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** As-of and binned range join semantics on crafted timelines. */
class TemporalSpec extends AnyFunSuite with SparkSpec {

  test("asofJoin picks the latest build row at or before each probe time") {
    import spark.implicits._
    val probe = Seq((1L, 1L, 10L), (2L, 1L, 25L), (3L, 2L, 5L))
      .toDF("event_id", "k", "t")
    val build = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 50L, "z"))
      .toDF("k", "t", "v")
    val out = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    // probe@10 sees build@10 (non-strict equality visible); probe@25 sees
    // build@20; probe(k=2)@5 has no earlier build -> null
    assert(out == Map(1L -> Some("a"), 2L -> Some("b"), 3L -> None))
  }

  test("asofJoin strict excludes the equal-time build row") {
    import spark.implicits._
    val probe = Seq((1L, 1L, 10L)).toDF("event_id", "k", "t")
    val build = Seq((1L, 10L, "same"), (1L, 7L, "earlier")).toDF("k", "t", "v")
    val strict = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v"), strict = true)
      .collect().map(_.getString(3))
    assert(strict.toSeq == Seq("earlier"))
  }

  test("asofJoin matches the ROW, not the latest non-null value (ASOF semantics)") {
    import spark.implicits._
    val probe = Seq((1L, 1L, 25L)).toDF("event_id", "k", "t")
    // latest build row at t=20 carries a NULL value: the as-of result IS
    // that row's null — an older non-null must NOT leak through
    val build = Seq((1L, 10L, Some("old")), (1L, 20L, None)).toDF("k", "t", "v")
    val out = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v")).collect()
    assert(out.length == 1 && out(0).isNullAt(3))
  }

  test("rangeJoinBinned: inclusive lo, exclusive hi, multi-bin spans, no dup pairs") {
    import spark.implicits._
    val pts = Seq((10L, 1L, 100L), (11L, 1L, 150L), (12L, 1L, 199L),
      (13L, 1L, 200L), (14L, 2L, 150L)).toDF("pid", "k", "t")
    // interval [100, 200) for k=1 spans bins 1..3 at width 64
    val iv = Seq((90L, 1L, 100L, 200L)).toDF("iid", "k", "lo", "hi")
    val out = Temporal.rangeJoinBinned(pts, iv, Seq("k"), "t", "lo", "hi", 64L)
      .select("pid").collect().map(_.getLong(0)).sorted.toSeq
    // 100 in (lo inclusive), 199 in, 200 out (hi exclusive), k=2 out
    assert(out == Seq(10L, 11L, 12L))
  }

  test("rangeJoinBinned plans a hash join, not a nested loop") {
    import spark.implicits._
    val pts = Seq((1L, 1L, 5L)).toDF("pid", "k", "t")
    val iv = Seq((2L, 1L, 0L, 10L)).toDF("iid", "k", "lo", "hi")
    val plan = Temporal.rangeJoinBinned(pts, iv, Seq("k"), "t", "lo", "hi", 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"inequality join degenerated to a nested loop:\n$plan")
  }

  test("asofJoin matches a per-row subquery oracle on a seeded random timeline") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val probe = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val build = (1 to 100).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      // unique per (k, t): keep max v
      .groupBy(x => (x._1, x._2)).map { case ((k, t), vs) => (k, t, vs.map(_._3).max) }.toSeq
    val out = Temporal.asofJoin(
      probe.toDF("event_id", "k", "t"), build.toDF("k", "t", "v"),
      Seq("k"), "t", Seq("v"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val expected = probe.map { case (id, k, t) =>
      val cands = build.filter(b => b._1 == k && b._2 <= t)
      id -> (if (cands.isEmpty) -1L else cands.maxBy(_._2)._3)
    }.toMap
    assert(out == expected)
  }

  test("asofJoin forward picks the earliest build row at or after each probe") {
    import spark.implicits._
    val probe = Seq((1L, 1L, 10L), (2L, 1L, 21L), (3L, 1L, 60L))
      .toDF("event_id", "k", "t")
    val build = Seq((1L, 10L, "at"), (1L, 20L, "mid"), (1L, 50L, "late"))
      .toDF("k", "t", "v")
    val out = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v"),
        direction = "forward")
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    // probe@10 sees build@10 (equality visible); probe@21 sees build@50;
    // probe@60 has nothing after it -> null
    assert(out == Map(1L -> Some("at"), 2L -> Some("late"), 3L -> None))
    // strict: the equal-time row becomes invisible
    val strict = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v"),
        strict = true, direction = "forward")
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(strict(1L) == Some("mid"))
  }

  test("asofJoin forward matches a per-row subquery oracle on a seeded timeline") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val probe = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val build = (1 to 100).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(x => (x._1, x._2)).map { case ((k, t), vs) => (k, t, vs.map(_._3).max) }.toSeq
    val out = Temporal.asofJoin(
      probe.toDF("event_id", "k", "t"), build.toDF("k", "t", "v"),
      Seq("k"), "t", Seq("v"), direction = "forward")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val expected = probe.map { case (id, k, t) =>
      val cands = build.filter(b => b._1 == k && b._2 >= t)
      id -> (if (cands.isEmpty) -1L else cands.minBy(_._2)._3)
    }.toMap
    assert(out == expected)
  }

  test("asofJoin tolerance NULLs a too-far match, never takes the next-nearest") {
    import spark.implicits._
    val probe = Seq((1L, 1L, 100L), (2L, 1L, 25L)).toDF("event_id", "k", "t")
    // nearest build for probe@100 is t=50 (distance 50); an older one at
    // t=95 does NOT exist — with tolerance 10 the match must be NULL, not
    // fall back to anything else. probe@25 matches t=20 (distance 5).
    val build = Seq((1L, 20L, "near"), (1L, 50L, "far")).toDF("k", "t", "v")
    val out = Temporal.asofJoin(probe, build, Seq("k"), "t", Seq("v"),
        toleranceUs = 10L)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(out == Map(1L -> None, 2L -> Some("near")))
  }

  test("sessionize: gap >= threshold starts a new session, smaller gaps and ties do not") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, 0L), (2L, 1L, 5L), (3L, 1L, 10L), // gaps 5s,5s < 10s -> one session
      (4L, 1L, 20L),                             // gap exactly 10s -> NEW session
      (5L, 2L, 0L), (6L, 2L, 0L)                 // equal timestamps share a session
    ).map { case (id, k, sec) => (id, k, new java.sql.Timestamp(sec * 1000)) }
      .toDF("event_id", "user_id", "ts")
    val out = Temporal.sessionize(e, "user_id", "ts", Seq("event_id"),
        gapUs = 10L * 1000 * 1000)
      .select("event_id", "sess_no").as[(Long, Int)].collect().toMap
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 0)
    assert(out(4L) == 1)
    assert(out(5L) == 0 && out(6L) == 0)
  }

  test("mergeIntervals: overlap and touch merge, strict gaps split; islands " +
      "are disjoint and every row is assigned") {
    import spark.implicits._
    val iv = Seq(
      // key 1: [0,10) [5,20) overlap; [20,30) touches -> one island [0,30);
      //        [31,40) gap of 1 -> new island
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 30L), (1L, 31L, 40L),
      // key 1 contained interval: [32,35) inside [31,40) joins its island
      (1L, 32L, 35L),
      // key 2: an interval whose hi reaches past a later lo even though an
      // intermediate interval ends early: [0,100) [1,2) [50,60) all merge
      (2L, 0L, 100L), (2L, 1L, 2L), (2L, 50L, 60L)
    ).toDF("k", "lo", "hi")
    val out = Temporal.mergeIntervals(iv, Seq("k"), "lo", "hi")
    assert(out.count() == iv.count()) // every row assigned, none dropped
    val merged = out.groupBy($"k", $"island_no")
      .agg(org.apache.spark.sql.functions.min($"lo").as("mlo"),
        org.apache.spark.sql.functions.max($"hi").as("mhi"),
        org.apache.spark.sql.functions.count($"lo").as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(merged == Map(
      (1L, 0) -> (0L, 30L, 3L), (1L, 1) -> (31L, 40L, 2L),
      (2L, 0) -> (0L, 100L, 3L)))
    // merged islands are pairwise disjoint per key (strictly increasing)
    val spans = merged.toSeq.groupBy(_._1._1).view.mapValues(
      _.sortBy(_._1._2).map(_._2)).toMap
    spans.values.foreach { ss =>
      ss.sliding(2).foreach {
        case Seq((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2)
        case _ =>
      }
    }
  }

  test("mergeIntervals equals brute-force interval union on seeded random inputs") {
    import spark.implicits._
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val iv = (1 to 80).map { _ =>
        val k = rnd.nextInt(3).toLong
        val lo = rnd.nextInt(200).toLong
        (k, lo, lo + 1 + rnd.nextInt(30))
      }
      val out = Temporal.mergeIntervals(iv.toDF("k", "lo", "hi"), Seq("k"), "lo", "hi")
        .groupBy($"k", $"island_no")
        .agg(org.apache.spark.sql.functions.min($"lo").as("mlo"),
          org.apache.spark.sql.functions.max($"hi").as("mhi"))
        .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toList).toMap
      // brute force: sweep each key's sorted intervals, merging on touch
      val want = iv.groupBy(_._1).view.mapValues { vs =>
        vs.map(v => (v._2, v._3)).sortBy(identity).foldLeft(List.empty[(Long, Long)]) {
          case (acc @ ((alo, ahi) :: rest), (lo, hi)) =>
            if (lo <= ahi) (alo, math.max(ahi, hi)) :: rest
            else (lo, hi) :: acc
          case (Nil, span) => span :: Nil
        }.reverse
      }.toMap
      assert(out == want, s"seed $seed")
    }
  }

  test("ewma: ordered fold s = (1-a)s + ax over (time, tie) order; " +
      "input partitioning never changes a bit") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, 0L, 10.0), (1L, 2L, 1L, 20.0), (1L, 3L, 2L, 30.0),
      (2L, 4L, 0L, 5.0)
    ).map { case (u, id, sec, v) => (u, id, new java.sql.Timestamp(sec * 1000), v) }
      .toDF("user_id", "event_id", "ts", "value")
    val out = Temporal.ewma(e, "user_id", "ts", Seq("event_id"), "value", 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // user 1: (10·0.5 + 20·0.5) = 15, then 15·0.5 + 30·0.5 = 22.5
    assert(out == Map(1L -> ((3L, 22.5)), 2L -> ((1L, 5.0))))
    // the fold order comes from the in-row sort, not arrival order
    val rep = Temporal.ewma(e.repartition(8), "user_id", "ts",
        Seq("event_id"), "value", 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rep == out)
    // non-dyadic α would silently break the cross-engine bit-equality
    // contract (the literal can't round-trip) — must be refused loudly
    intercept[IllegalArgumentException] {
      Temporal.ewma(e, "user_id", "ts", Seq("event_id"), "value", 0.1)
    }
    // the 2^-20 grid itself is fine, including E-notation renderings
    Temporal.ewma(e, "user_id", "ts", Seq("event_id"), "value",
      1.0 / (1 << 20)).collect()
  }

  test("retentionCohorts: cohort = first-seen day; one count per distinct " +
      "active user regardless of event volume") {
    import spark.implicits._
    val day = 86400L
    val e = Seq(
      // user 1 joins day 0, active days 0, 1, 3 (day-1 twice — still 1 user)
      (1L, 0L), (1L, day + 5), (1L, day + 9), (1L, 3 * day),
      // user 2 joins day 0, active day 0 only
      (2L, 100L),
      // user 3 joins day 1, active days 1 and 3 (offsets 0 and 2)
      (3L, day + 1), (3L, 3 * day + 1)
    ).map { case (u, sec) => (u, new java.sql.Timestamp(sec * 1000)) }
      .toDF("user_id", "ts")
    val out = Temporal.retentionCohorts(e, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("1970-01-01", 0) -> 2L, ("1970-01-01", 1) -> 1L, ("1970-01-01", 3) -> 1L,
      ("1970-01-02", 0) -> 1L, ("1970-01-02", 2) -> 1L))
  }
}
