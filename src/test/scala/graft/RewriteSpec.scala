package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{TopKPerKeyRewrite, TopOnePerKeyRewrite}

class RewriteSpec extends SparkSpec {

  lazy val events =
    graft.util.EventTs.readEvents(spark, "/root/testdata/sf0.001")

  private def windowTop1 = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  test("rn=1 window rewrites to a max_by aggregate with identical results") {
    val baseline = withRules()(windowTop1.collect())
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).sorted
    withRules(TopOnePerKeyRewrite) {
      val df = windowTop1
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("max_by") && !optimized.contains("row_number"),
        optimized.take(800))
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Window"), physical.take(800))
      val got = df.collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).sorted
      assert(got.sameElements(baseline))
      // the rank column survives with value 1
      assert(df.select("rn").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    }
  }

  test("ascending order uses min_by; rewrite keeps downstream projections working") {
    withRules(TopOnePerKeyRewrite) {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc)
      val first = events.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1)
        .select(col("user_id"), col("event_type"), col("value"))
      assert(first.queryExecution.optimizedPlan.toString.contains("min_by"))
      val got = first.collect().map(_.getAs[Long]("user_id")).sorted
      assert(got.length == events.select("user_id").distinct().count())
    }
  }

  test("nullable sort keys rewrite with NULLS FIRST/LAST semantics preserved") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(3), 1), ("a", None, 2), ("a", Some(1), 3),
      ("b", Some(5), 4), ("b", Some(2), 5),
      ("c", None, 6), ("c", None, 7) // group whose ordering values are all null
    ).toDF("k", "v", "id")

    def top1(orders: org.apache.spark.sql.Column*) = {
      val w = Window.partitionBy(col("k")).orderBy(orders: _*)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    }

    val cases = Seq(
      ("asc nulls first (default)", Seq(col("v").asc, col("id").asc)),
      ("asc nulls last", Seq(col("v").asc_nulls_last, col("id").asc)),
      ("desc nulls last (default)", Seq(col("v").desc, col("id").desc)),
      ("desc nulls first", Seq(col("v").desc_nulls_first, col("id").desc)))

    for ((label, orders) <- cases) {
      val baseline = withRules()(top1(orders: _*).collect())
        .map(r => (r.getString(0), r.getInt(2))).sorted
      withRules(TopOnePerKeyRewrite) {
        val rewritten = top1(orders: _*)
        val plan = rewritten.queryExecution.optimizedPlan.toString
        assert(!plan.contains("row_number"), s"$label not rewritten: ${plan.take(400)}")
        val got = rewritten.collect().map(r => (r.getString(0), r.getInt(2))).sorted
        assert(got.sameElements(baseline),
          s"$label: got ${got.toSeq} expected ${baseline.toSeq}")
      }
    }
  }

  test("global (empty PARTITION BY) top-1 keeps the window plan") {
    withRules(TopOnePerKeyRewrite) {
      val w = Window.orderBy(col("ts").desc)
      val global = events.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      assert(global.queryExecution.optimizedPlan.toString.contains("row_number"))
      // on empty input the window form emits 0 rows — a global aggregate
      // would emit one all-null row, which is why the rule must not fire
      val empty = events.filter(col("user_id") < 0)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      assert(empty.count() == 0L)
    }
  }

  test("rn<=k window rewrites to a TopKBy aggregate with identical results") {
    def top3 = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"))
    }
    val baseline = withRules()(top3.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    withRules(TopKPerKeyRewrite) {
      val df = top3
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("top_k_by") && !optimized.contains("row_number"),
        optimized.take(800))
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Window"), physical.take(800))
      assert(physical.contains("ObjectHashAggregate"), physical.take(800))
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
      assert(got.sameElements(baseline))
      // ranks 1..3 present per key (keys have >= 3 events at this SF)
      assert(df.select("rn").distinct().collect().map(_.getInt(0)).sorted
        .toSeq == Seq(1, 2, 3))
    }
  }

  test("top-k rewrite preserves NULLS FIRST/LAST and ascending order") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(3), 1), ("a", None, 2), ("a", Some(1), 3), ("a", Some(2), 4),
      ("b", Some(5), 5), ("b", None, 6)
    ).toDF("k", "v", "id")
    def topk(orders: Seq[org.apache.spark.sql.Column]) = {
      val w = Window.partitionBy(col("k")).orderBy(orders: _*)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    }
    val cases = Seq(
      Seq(col("v").asc, col("id").asc),
      Seq(col("v").asc_nulls_last, col("id").asc),
      Seq(col("v").desc, col("id").desc),
      Seq(col("v").desc_nulls_first, col("id").desc))
    for (orders <- cases) {
      val baseline = withRules()(topk(orders).collect())
        .map(r => (r.getString(0), r.getInt(2), r.getInt(3))).sorted
      withRules(TopKPerKeyRewrite) {
        val rewritten = topk(orders)
        assert(!rewritten.queryExecution.optimizedPlan.toString
          .contains("row_number"))
        val got = rewritten.collect()
          .map(r => (r.getString(0), r.getInt(2), r.getInt(3))).sorted
        assert(got.sameElements(baseline),
          s"got ${got.toSeq} expected ${baseline.toSeq}")
      }
    }
  }

  test("top-k rule skips rn<=1 (top-1 rule's case) and global windows") {
    withRules(TopKPerKeyRewrite) {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
      val one = events.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1)
      assert(one.queryExecution.optimizedPlan.toString.contains("row_number"))
      val global = events.withColumn("rn",
          row_number().over(Window.orderBy(col("ts").desc)))
        .filter(col("rn") <= 3)
      assert(global.queryExecution.optimizedPlan.toString.contains("row_number"))
    }
  }

  test("rule leaves non-matching windows untouched") {
    withRules(TopOnePerKeyRewrite) {
      // rank() (not row_number), rn = 2, mixed sort directions → no rewrite
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").asc)
      val mixed = events.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      assert(mixed.queryExecution.optimizedPlan.toString.contains("row_number"))

      val rnk = events.withColumn("r",
          rank().over(Window.partitionBy(col("user_id")).orderBy(col("ts"))))
        .filter(col("r") === 1)
      assert(rnk.queryExecution.optimizedPlan.toString.contains("rank"))

      val second = events.withColumn("rn",
          row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts"))))
        .filter(col("rn") === 2)
      assert(second.queryExecution.optimizedPlan.toString.contains("row_number"))
    }
  }
}

class RangeJoinRewriteSpec extends SparkSpec {
  import graft.plans.RangeJoinRewrite

  lazy val events =
    graft.util.EventTs.readEvents(spark, "/root/testdata/sf0.001")
      .select(col("ts"), col("user_id"), col("event_id"))

  // 16 unaligned 47-minute windows every 21 hours from the first event
  private def intervals = events.agg(min(col("ts")).as("t0"))
    .crossJoin(spark.range(16).toDF("iv_id"))
    .select(col("iv_id"),
      timestamp_micros(unix_micros(col("t0")) +
        col("iv_id") * (21L * 3600 * 1000000)).as("s"),
      timestamp_micros(unix_micros(col("t0")) +
        col("iv_id") * (21L * 3600 * 1000000) + 47L * 60 * 1000000).as("e"))

  private def naive = events.join(intervals,
    col("ts") >= col("s") && col("ts") < col("e"))

  test("time-band join rewrites to a cell equi-join with identical results") {
    val baseline = withRules()(naive.collect())
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("iv_id"))).sorted
    assert(baseline.nonEmpty)
    withRules(RangeJoinRewrite) {
      val df = naive
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__range_cell"), optimized.take(1200))
      val physical = df.queryExecution.executedPlan.toString
      // the BAND join over the data must be an equi join on the injected
      // cell; the only permitted inner nested loop is the wide-row
      // fallback branch, whose interval side is emptied by the
      // maxCellsPerRow filter (AQE collapses it at runtime) — the
      // interval-construction crossJoin of the 1-row min(ts) aggregate is
      // a legitimate Cross nested loop and stays
      assert("NestedLoopJoin[^\\n]*Inner".r.findAllIn(physical).size <= 1,
        physical.take(1200))
      assert(optimized.contains("unix_micros"), optimized.take(1200))
      assert(physical.contains("Join [__range_cell"), physical.take(1200))
      val got = df.collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("iv_id"))).sorted
      assert(got.sameElements(baseline))
    }
  }

  test("wide intervals take the fallback branch instead of exploding") {
    import spark.implicits._
    // 3 narrow intervals (1 cell each) + 1 pathological 500-cell one; with
    // maxCellsPerRow=4 the wide row must NOT explode into Sequence cells —
    // it takes the fallback band join — while results stay identical
    val ev = Seq.tabulate(300)(i => (i.toLong, i * 7199L))
      .toDF("id", "sec")
      .select(col("id"), timestamp_seconds(col("sec")).as("ts"))
    val iv = Seq((0L, 100L, 700L), (1L, 5000L, 5600L), (2L, 9000L, 9800L),
        (3L, 1000L, 1000L + 500L * 3600L))
      .toDF("iv_id", "s", "e")
      .select(col("iv_id"), timestamp_seconds(col("s")).as("s"),
        timestamp_seconds(col("e")).as("e"))
    // def, not val: Dataset caches its QueryExecution, so the plan must be
    // rebuilt after the rule is installed
    def band = ev.join(iv, col("ts") >= col("s") && col("ts") < col("e"))
    val baseline = withRules()(band.collect())
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("iv_id"))).sorted
    assert(baseline.nonEmpty)
    spark.conf.set("spark.graft.rangeJoin.maxCellsPerRow", "4")
    try withRules(RangeJoinRewrite) {
      val df = band
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__range_cell"), optimized.take(1200))
      assert(optimized.contains("Union"), optimized.take(1200))
      val got = df.collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("iv_id"))).sorted
      assert(got.sameElements(baseline))
    } finally spark.conf.unset("spark.graft.rangeJoin.maxCellsPerRow")
  }

  test("band joins with equi keys keep the keys; plain equi joins untouched") {
    // same-station band join: the station equality must survive as a
    // join key alongside the injected cell
    val probes = events.select(col("user_id").as("u2"),
      col("ts").as("pt"), col("event_id").as("pid"))
    def band = events.join(probes,
      col("user_id") === col("u2") &&
        col("ts") >= col("pt") - expr("INTERVAL 1 hour") &&
        col("ts") < col("pt"))
    val got = withRules(RangeJoinRewrite) {
      val optimized = band.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__range_cell"), optimized.take(1200))
      // no range pair -> untouched
      val equi = events.join(probes, col("user_id") === col("u2"))
      assert(!equi.queryExecution.optimizedPlan.toString
        .contains("__range_cell"))
      band.count()
    }
    // cross-engine sanity on a keyed band: rewrite equals no-rewrite
    assert(got == withRules()(band.count()))
  }
}
