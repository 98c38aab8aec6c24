package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import graft.plans.{ParamLiteral, ParamLiteralRule}
import graft.sources.{DeltaStore, StatementRunner, StatsSidecar}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[ParamLiteralRule]]: comparison literals read from the codegen
  * references, so a query shape compiles once whatever its literals,
  * with results, plan strings and scan pushdown as with plain literals. */
class ParamLiteralSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  /** `body`'s result and the number of classes Spark compiled meanwhile. */
  private def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    plan.flatMap(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))

  private def unparam(plan: SparkPlan): SparkPlan =
    plan.transformAllExpressions { case p: ParamLiteral => p.literal }

  private lazy val dir = Files.createTempDirectory("graft_paramlit").toString

  private lazy val orders = Engine.table(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice").collect()

  private lazy val runner = {
    val store = new DeltaStore(spark, s"$dir/ord")
    store.writeBase(Engine.table(spark, sf, "orders"))
    val r = new StatementRunner(spark)
    r.attach("ord", store)
    r
  }

  test("a point lookup with a new literal compiles no class") {
    def lookup(k: Long) = runner.run("SELECT o_orderkey, o_custkey, " +
      s"o_totalprice FROM ord WHERE o_orderkey = $k").collect().toSeq
    val keys = orders.map(_.getLong(0)).sorted
    lookup(keys.head)
    keys.slice(1, 4).foreach { k =>
      val (rows, n) = compiles(lookup(k))
      assert(n === 0, s"lookup of $k compiled $n classes")
      assert(rows === orders.filter(_.getLong(0) == k).toSeq)
    }
  }

  test("a SOME-range countBetween with new bounds compiles no class") {
    val li = Engine.table(spark, sf, "lineitem").select("l_quantity")
    StatsSidecar.writeWithStats(li, s"$dir/li", 256, Seq("l_quantity"))
    val qs = li.collect().map(_.getDouble(0))
    val snap = StatsSidecar.snapshot(spark, s"$dir/li")
    def count(lo: Double, hi: Double): Long = {
      assert(snap.packs("l_quantity").exists(
        StatsSidecar.classify(_, lo, hi) == "SOME"), s"[$lo, $hi] no SOME pack")
      StatsSidecar.countBetween(spark, s"$dir/li", "l_quantity", lo, hi)
    }
    count(10.0, 20.0)
    Seq((11.0, 23.0), (3.5, 17.25), (30.0, 41.0)).foreach { case (lo, hi) =>
      val (n, c) = compiles(count(lo, hi))
      assert(c === 0, s"count of [$lo, $hi] compiled $c classes")
      assert(n === qs.count(q => q >= lo && q <= hi))
    }
  }

  // ---- every covered type, against values computed in Scala ----

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("s", ShortType), StructField("b", ByteType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("tn", TimestampNTZType),
    StructField("dec", DecimalType(10, 2)), StructField("str", StringType)))

  private val dates = Seq(LocalDate.of(1969, 12, 31), LocalDate.of(1900, 1, 1),
    LocalDate.of(1970, 1, 1), LocalDate.of(2024, 2, 29))
  private val stamps = Seq(LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000),
    LocalDateTime.of(1970, 1, 1, 0, 0), LocalDateTime.of(2024, 2, 29, 12, 30),
    LocalDateTime.of(1900, 6, 1, 0, 0, 0, 1000))
  private val floats = Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
    Float.NegativeInfinity, 1.5f, -2.25f, Float.MinPositiveValue)
  private val doubles = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.5, -2.25, Double.MinPositiveValue)
  private val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 42L)
  private val ints = Seq(Int.MinValue, Int.MaxValue, 0, -1, 42)

  /** Row `id` holds the id-th value of each column (cycled), with NULLs. */
  private lazy val typed: (DataFrame, Seq[Row]) = {
    def at[T](xs: Seq[T], id: Int): Any =
      if (id % 7 == 6) null else xs(id % xs.size)
    val data = (0 until 40).map { id =>
      Row(id, at(ints, id), at(longs, id), at(ints.map(_.toShort), id),
        at(ints.map(_.toByte), id), at(floats, id), at(doubles, id),
        Option(at(dates, id)).map(d => java.sql.Date.valueOf(
          d.asInstanceOf[LocalDate])).orNull,
        Option(at(stamps, id)).map(t => java.sql.Timestamp.from(
          t.asInstanceOf[LocalDateTime].toInstant(ZoneOffset.UTC))).orNull,
        at(stamps, id),
        Option(at(Seq(1.25, -3.5, 0.0), id)).map(v =>
          java.math.BigDecimal.valueOf(v.asInstanceOf[Double])
            .setScale(2)).orNull,
        at(Seq("a", "b", ""), id))
    }
    val path = s"$dir/typed"
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .coalesce(1).write.parquet(path)
    (spark.read.parquet(path), data)
  }

  /** Spark's order of doubles: NaN equals NaN and sorts above every
    * number, and -0.0 equals 0.0. */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** A column's value as a comparable key: microseconds for timestamps
    * (the session zone is UTC), epoch days for dates. */
  private def key(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case t: java.sql.Timestamp => t.toInstant.getEpochSecond * 1000000L +
      t.toInstant.getNano / 1000
    case t: Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: LocalDateTime => key(t.toInstant(ZoneOffset.UTC))
    case d: LocalDate => d.toEpochDay
    case x => x
  }

  private def cmp(a: Any, b: Any): Int = (key(a), key(b)) match {
    case (x: Float, y: Float) => cmpD(x.toDouble, y.toDouble)
    case (x: Double, y: Double) => cmpD(x, y)
    case (x: Long, y: Long) => x.compare(y)
    case (x: Int, y: Int) => x.compare(y)
    case (x: Short, y: Short) => x.compare(y)
    case (x: Byte, y: Byte) => x.compare(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) => fail(s"no order for $x vs $y")
  }

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] =
    Seq(("=", _ === _, _ == 0), ("<=>", _ <=> _, _ == 0),
      ("<", _ < _, _ < 0), ("<=", _ <= _, _ <= 0),
      (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))

  /** Run `column op literal` for every op and literal; check ids against
    * Scala, ParamLiterals in the plan iff `param`, and (for covered types)
    * that every literal after the first compiles nothing. */
  private def check(column: String, lits: Seq[Any], param: Boolean,
                    modelValue: Row => Any = null): Unit = {
    val (df, data) = typed
    val idx = schema.fieldIndex(column)
    ops.foreach { case (name, op, holds) =>
      lits.zipWithIndex.foreach { case (v, i) =>
        val q = df.filter(op(col(column), lit(v))).select("id")
        val (got, n) = compiles(q.collect().map(_.getInt(0)).toSeq.sorted)
        val want = data.filter { r =>
          val x = if (modelValue == null) r.get(idx) else modelValue(r)
          x != null && holds(cmp(x, v))
        }.map(_.getInt(0))
        withClue(s"$column $name $v: ") {
          assert(got === want)
          assert(params(q.queryExecution.executedPlan).nonEmpty === param)
          if (param && i > 0) assert(n === 0, "compiled a class")
        }
      }
    }
  }

  test("int, long, short and byte comparisons, extremes included") {
    check("i", ints, param = true)
    check("l", longs, param = true)
    check("s", ints.map(_.toShort), param = true)
    check("b", ints.map(_.toByte), param = true)
  }

  test("float and double comparisons: NaN, signed zeros, infinities") {
    check("f", floats, param = true)
    check("d", doubles, param = true)
  }

  test("date, TIMESTAMP and TIMESTAMP_NTZ comparisons, before 1970 too") {
    check("dt", dates, param = true)
    check("ts", stamps.map(_.toInstant(ZoneOffset.UTC)), param = true)
    check("tn", stamps, param = true)
    // across the two timestamp types the NTZ side is read at UTC
    check("ts", stamps, param = true)
    check("tn", stamps.map(_.toInstant(ZoneOffset.UTC)), param = true,
      modelValue = r => Option(r.get(schema.fieldIndex("tn")))
        .map(t => t.asInstanceOf[LocalDateTime].toInstant(ZoneOffset.UTC))
        .orNull)
  }

  test("decimal and string literals stay plain literals") {
    check("dec", Seq(-3.5, 0.0, 1.25).map(v =>
      java.math.BigDecimal.valueOf(v).setScale(2)), param = false)
    check("str", Seq("a", "", "b"), param = false)
  }

  test("a NULL literal and a non-comparison literal are left alone") {
    val a = AttributeReference("a", IntegerType)()
    val plan = FilterExec(EqualNullSafe(a, Literal(null, IntegerType)),
      spark.range(1).queryExecution.sparkPlan)
    assert(ParamLiteralRule(plan) eq plan)
    val (df, _) = typed
    val q = df.select((col("i") / 7).as("j"), (col("l") > 3L).as("g"))
    val exprs = q.queryExecution.executedPlan.expressions.mkString(" ")
    assert(params(q.queryExecution.executedPlan).map(_.literal) ===
      Seq(Literal(3L)), exprs)
  }

  test("+, - and * operands: results as Scala computes them, and a new " +
      "literal compiles no class") {
    val (df, data) = typed
    def show(v: Any): String = String.valueOf(v)
    Seq((5L, 3, 1.5), (Long.MaxValue, -7, -0.0), (-1L, Int.MaxValue, Double.NaN),
        (Long.MinValue, 0, Double.NegativeInfinity)).zipWithIndex.foreach {
      case ((a, b, c), i) =>
        val q = df.select(col("id"), (col("l") + lit(a)).as("x"),
          (col("i") * lit(b)).as("y"), (lit(c) - col("d")).as("z"))
        val (got, n) = compiles(q.collect().sortBy(_.getInt(0))
          .map(_.toSeq.map(show)).toSeq)
        val want = data.map { r =>
          def opt[T](k: Int)(f: T => Any): String =
            show(Option(r.get(k)).map(v => f(v.asInstanceOf[T])).orNull)
          Seq(show(r.getInt(0)), opt[Long](2)(_ + a), opt[Int](1)(_ * b),
            opt[Double](6)(c - _))
        }
        withClue(s"l + $a, i * $b, $c - d: ") {
          assert(got === want)
          assert(params(q.queryExecution.executedPlan).size === 3)
          if (i > 0) assert(n === 0, "compiled a class")
        }
    }
  }

  test("plan strings and EXPLAIN print the literal") {
    val (df, _) = typed
    val q = df.filter(col("d").between(1.5, 2.5) && col("dt") > lit(dates.head))
      .select(col("id"), (col("l") === 42L).as("hit"))
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(params(plan).size === 4)
    assert(plan.toString === unparam(plan).toString)
    assert(plan.toString.contains(">= 1.5") &&
      plan.toString.contains("> 1969-12-31") && plan.toString.contains("= 42"))

    val explain = runner.run("EXPLAIN SELECT o_custkey FROM ord " +
      "WHERE o_orderkey = 7 AND o_totalprice > 100.5").collect().map(_.getString(0))
    val viaSql = spark.sql("SELECT o_custkey FROM ord " +
      "WHERE o_orderkey = 7 AND o_totalprice > 100.5").queryExecution.executedPlan
    assert(params(viaSql).nonEmpty)
    assert(explain.toSeq === ("== Physical Plan ==" +:
      unparam(viaSql).treeString(verbose = false).split("\n").toSeq))
  }

  test("scan pushed and data filters keep real literals") {
    val (df, _) = typed
    val q = df.filter(col("l") > 41L && col("d") <= 1.5)
    q.collect()
    val plan = q.queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.nonEmpty)
    assert(scan.dataFilters.forall(_.collect { case p: ParamLiteral => p }.isEmpty))
    assert(scan.dataFilters.exists(_.collect {
      case Literal(41L, LongType) => true }.nonEmpty))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l,41)") &&
      pushed.contains("LessThanOrEqual(d,1.5)"), pushed)
    assert(params(plan).size === 2)
  }
}
