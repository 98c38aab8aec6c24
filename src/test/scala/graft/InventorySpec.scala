package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry.queries entry must plan + execute at sf0.001, and the
  * ones that are structurally nonempty at the smallest scale must return
  * rows. (Value-level correctness is the DuckDB oracle's job —
  * tools/check_oracle.py / the driver's t2 gate.) */
class InventorySpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  // Queries whose predicates may legitimately select nothing at sf0.001.
  private val mayBeEmpty = Set("q_filter_between_in_like", "q_join_full_outer")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      // a query over staged frames consumes them here
      val n = sources.Staging.scoped(fn(spark, sf).count())
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key has a matching query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  // Full-oracle canary (r14): every declared gate is DuckDB-checked —
  // the last rows-only gates (ANN top-k) gained store-replay oracles in
  // round 14, and a new gate landing WITHOUT an oracle should be a loud,
  // deliberate decision, not a silent coverage hole.
  test("every query has an oracle (zero rows-only gates)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"gates without oracles: $noOracle")
  }

  // Gate-count canary (r12 verdict #2): the declared surface peaked at 161
  // gates in round 10 and must never silently shrink again — a module that
  // stops contributing entries (or a rename that drops one) fails the
  // suite loudly instead of vanishing from the driver's correctness JSON.
  test("gate-count canary: declared query surface never shrinks below 197") {
    // floor ratchets up as gates land (161 r10, 183 mid-r13, 189 r14,
    // 193-196 r17, 197 r18)
    assert(SparkEntry.queries.size >= 197,
      s"declared gates shrank to ${SparkEntry.queries.size} (floor 197): " +
        "a module stopped contributing entries")
  }

  // A typo'd or renamed headline entry would only surface as a -1 at
  // bench time; catch it in the suite instead.
  test("every bench headline entry is a declared gate, no duplicates") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without gates: $missing")
    val dups = Bench.headline.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate headline entries: $dups")
  }

  // r12 verdict #3 "done" criterion: a seeded failure must show up in the
  // parsed bench line, not only as a -1 value.
  test("bench surfaces failures: runOne -> -1, summary lists the name") {
    val rec = new Bench.Recorder(spark)
    val run = try Bench.runOne(rec, "no_such_query", sf) finally rec.close()
    assert(run.seconds === -1.0)
    assert(Bench.failedJson(Seq("a" -> (1.0, 0.9),
      "no_such_query" -> (run.seconds, run.seconds), "c" -> (0.2, 0.1)))
      === """["no_such_query"]""")
    assert(Bench.failedJson(Seq("a" -> (1.0, 0.9))) === "[]")
  }

  test("bench records each run's layer split") {
    val rec = new Bench.Recorder(spark)
    val sf001 = new java.io.File(sf).getParent + "/sf0.01"
    val run = try Bench.runOne(rec, "q06_forecast_revenue", sf001)
      finally rec.close()
    val s = run.split
    assert(s.keySet === Bench.SplitKeys.toSet)
    assert(run.seconds > 0)
    assert(s("jobs") >= 1, s)
    assert(s("stages") >= s("jobs"), s)
    assert(s("tasks") >= s("stages"), s)
    assert(s("driver_self_ms") >= 0 &&
      s("driver_self_ms") <= run.seconds * 1000, s)
    // q06 opens lineitem while it is built: that open is timed
    assert(s("build_ms") > 0 && s("build_ms") <= run.seconds * 1000, s)
    assert(s("input_bytes") > 0, s)
  }

  test("group_concat output is sorted and comma-separated") {
    val row = operators.Aggregates.qAggGroupConcat(spark, sf)
      .filter(org.apache.spark.sql.functions.col("r_name") === "ASIA").first()
    val nations = row.getAs[String]("nations").split(",").toSeq
    assert(nations == nations.sorted)
    assert(nations.size == row.getAs[Long]("n_nations"))
  }

  test("window rank keeps at most 2 rows per customer") {
    val df = operators.Subqueries.qWindowRank(spark, sf)
    val over = df.groupBy("o_custkey").count().filter("count > 2").count()
    assert(over === 0)
  }

  test("rollup contains grand-total row") {
    val df = operators.Aggregates.qAggRollup(spark, sf)
    assert(df.filter("r_name IS NULL AND n_name IS NULL").count() === 1)
  }

  test("one session serves concurrent queries (multi-client parity)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val names = Seq("q01_pricing_summary", "q06_forecast_revenue",
      "q_agg_having", "q_sort_topk", "q_join_semi_exists", "q_distinct")
    val sequential = names.map(n => n -> SparkEntry.queries(n)(spark, sf).count())
    val concurrent = Await.result(
      Future.sequence(names.map(n =>
        Future(n -> SparkEntry.queries(n)(spark, sf).count()))),
      5.minutes)
    assert(concurrent.toMap === sequential.toMap)
  }

  test("q02 shape: each row's price is the true regional minimum for its part") {
    // recompute the correlated min independently and probe every output row
    import org.apache.spark.sql.functions._
    val out = operators.TpchSuite.q02MinCostSupplierShape(spark, sf)
    val mins = Engine.table(spark, sf, "lineitem")
      .join(Engine.table(spark, sf, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Engine.table(spark, sf, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(Engine.table(spark, sf, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("l_partkey")).agg(min(col("l_extendedprice")).as("true_min"))
    val bad = out.join(mins, col("p_partkey") === col("l_partkey"))
      .filter(col("min_price") =!= col("true_min")).count()
    assert(bad === 0)
  }

  test("q21 shape: sole-late suppliers only — no co-late supplier on any counted order") {
    // every counted (supplier, order) must have ≥2 suppliers and exactly
    // one late one; spot-check by re-deriving the late set
    import org.apache.spark.sql.functions._
    val late = Engine.table(spark, sf, "lineitem")
      .join(Engine.table(spark, sf, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val lateSupps = late.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_late"))
    // orders contributing to numwait must have exactly one late supplier
    val multi = lateSupps.filter(col("n_late") > 1)
    val out = operators.TpchSuite.q21WaitingSuppliersShape(spark, sf)
    assert(out.count() > 0)
    // totals sanity: numwait sums to at most |late ∩ single-late-supplier orders|
    val totalWait = out.agg(sum(col("numwait"))).first().getLong(0)
    val singleLate = lateSupps.filter(col("n_late") === 1).count()
    assert(totalWait <= singleLate)
  }

  test("q20 shape: every returned supplier actually shipped a bolt part over threshold") {
    import org.apache.spark.sql.functions._
    val out = operators.TpchSuite.q20QualifiedSuppliersShape(spark, sf)
    val qualified = Engine.table(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01"))
      .join(Engine.table(spark, sf, "part").filter(col("p_name").like("%bolt%")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q")).filter(col("q") > 35.0)
      .join(Engine.table(spark, sf, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name")).distinct()
    val orphans = out.join(qualified, Seq("s_name"), "left_anti").count()
    assert(orphans === 0)
  }

  test("q17: revenue equals an independent plain-double recomputation") {
    import org.apache.spark.sql.functions._
    val got = operators.TpchSuite.q17SmallQtyRevenue(spark, sf)
      .first().getAs[Double]("avg_yearly")
    // independent path: plain doubles, driver-side fold over the small SF
    val parts = Engine.table(spark, sf, "part")
      .filter(col("p_brand") === "Brand#13" && col("p_size") < 15)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = Engine.table(spark, sf, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .filter(r => parts(r.getLong(0)))
    val avg = li.groupBy(_.getLong(0)).map { case (k, rs) =>
      k -> rs.map(_.getDouble(1)).sum / rs.length
    }
    val want = li.filter(r => r.getDouble(1) < 0.2 * avg(r.getLong(0)))
      .map(_.getDouble(2)).sum / 7.0
    assert(math.abs(got - want) < 1e-6 * math.max(1.0, math.abs(want)))
  }

  test("window frames: moving sum and last_value match a brute recomputation") {
    import org.apache.spark.sql.functions._
    val rows = operators.Subqueries.qWindowFrames(spark, sf)
      .join(Engine.table(spark, sf, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice"), Seq("o_orderkey"))
      .collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      val ordd = rs.sortBy(r =>
        (r.getAs[Any]("o_orderdate").toString, r.getAs[Long]("o_orderkey")))
      // 3-row moving fixed-point sum
      ordd.zipWithIndex.foreach { case (r, i) =>
        val win = ordd.slice(math.max(0, i - 2), i + 1)
        val want = win.map(x =>
          math.floor(x.getAs[Double]("o_totalprice") * 10000.0 + 0.5).toLong)
          .sum.toDouble / 10000.0
        assert(r.getAs[Double]("mov_sum3") === want)
      }
      // last_price is the final order's price for every row of the partition
      val lastPrice = ordd.last.getAs[Double]("o_totalprice")
      assert(ordd.forall(_.getAs[Double]("last_price") === lastPrice))
      // second_price: defined iff the partition has >= 2 rows
      if (ordd.length >= 2)
        assert(ordd.forall(
          _.getAs[Double]("second_price") === ordd(1).getAs[Double]("o_totalprice")))
      else assert(ordd.forall(_.isNullAt(ordd.head.fieldIndex("second_price"))))
    }
  }

  test("funnel is monotone and retention day-0 covers every cohort user") {
    import org.apache.spark.sql.functions._
    val f = operators.Events.qEventsFunnel(spark, sf).first()
    val (n, v, c, p) = (f.getAs[Long]("n_users"), f.getAs[Long]("n_view"),
      f.getAs[Long]("n_view_click"), f.getAs[Long]("n_full_funnel"))
    assert(n >= v && v >= c && c >= p,
      s"funnel stages must shrink: $n >= $v >= $c >= $p")
    assert(v > 0, "fixture has views")
    val ret = operators.Events.qEventsRetention(spark, sf)
    // day-0 retention per cohort = cohort size (every user is active on
    // their own first day by construction)
    val day0 = ret.filter(col("k") === 0)
      .agg(sum(col("n_users"))).first().getLong(0)
    val users = Engine.table(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(day0 === users)
    // no negative offsets: first-activity day is the minimum
    assert(ret.filter(col("k") < 0).count() === 0)
  }

  test("approximate aggregates track exact within sketch error bounds") {
    // the bound checks now live IN the query (hll_ok/median_ok booleans,
    // pinned TRUE by the DuckDB oracle); the spec asserts them locally too
    operators.Aggregates.qAggApprox(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("hll_ok"), s"HLL out of bounds: $r")
      assert(r.getAs[Boolean]("median_ok"), s"median out of bounds: $r")
    }
  }
}
