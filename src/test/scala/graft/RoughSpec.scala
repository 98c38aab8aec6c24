package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.StatsSidecar
import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Knowledge-Grid analog (sources.StatsSidecar): per-pack DPN stats,
  * tri-state RoughCheck, metadata-only aggregates, and hybrid pruned
  * range counts — semantics pinned against exact recomputation. */
class RoughSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  private lazy val scratch = {
    val dir = java.nio.file.Files.createTempDirectory("graft_roughspec")
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
    StatsSidecar.writeWithStats(li, s"$dir/li", 512,
      Seq("l_quantity", "l_extendedprice"),
      clusterBy = Some(col("l_quantity")))
    s"$dir/li"
  }

  test("rough aggregates equal exact aggregates") {
    val exact = Engine.table(spark, sf, "lineitem")
      .agg(count(lit(1)), min("l_quantity").cast("double"),
        max("l_quantity").cast("double"),
        sum(floor(col("l_quantity") * 10000.0 + 0.5).cast("long"))).first()
    val rough = StatsSidecar
      .roughAgg(StatsSidecar.readStats(spark, scratch), "l_quantity").first()
    assert(rough.getAs[Long]("n_rows") === exact.getLong(0))
    assert(rough.getAs[Double]("min_v") === exact.getDouble(1))
    assert(rough.getAs[Double]("max_v") === exact.getDouble(2))
    assert(rough.getAs[Double]("sum_v") === exact.getLong(3) / 10000.0)
  }

  test("clustered packs rough-decide packs for a mid range") {
    val states = StatsSidecar
      .roughCheck(StatsSidecar.readStats(spark, scratch), "l_quantity",
        10.0, 30.0)
      .select("state").distinct().collect().map(_.getString(0)).toSet
    // Clustering must yield decided (skippable/acceptable) packs. SOME
    // may legitimately be absent: l_quantity has 50 discrete values, so
    // range boundaries can align exactly with pack boundaries — that is
    // perfect pruning, not a failure.
    assert(states.contains("NONE") || states.contains("ALL"),
      s"expected skip/accept packs under clustering, got $states")
    assert(states.subsetOf(Set("NONE", "SOME", "ALL")))
  }

  test("hybrid count equals exact count") {
    val exact = Engine.table(spark, sf, "lineitem")
      .filter(col("l_quantity").between(10.0, 30.0)).count()
    assert(StatsSidecar.countBetween(spark, scratch, "l_quantity",
      10.0, 30.0) === exact)
  }

  test("z-order clustering prunes on BOTH z-dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_partkey"))
    // 128-row packs → ~47 packs at sf0.001, deep enough in the z quadtree
    // for per-pack per-dimension ranges to narrow below the predicate
    operators.Scale.zorderPack(li, s"$dir/li_z", 128,
      Seq("l_quantity", "l_partkey"), Seq("l_quantity", "l_partkey"))
    val stats = StatsSidecar.readStats(spark, s"$dir/li_z")
    def skippable(column: String, lo: Double, hi: Double): Double = {
      val states = StatsSidecar.roughCheck(stats, column, lo, hi)
        .groupBy("state").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val decided = states.getOrElse("NONE", 0L) + states.getOrElse("ALL", 0L)
      decided.toDouble / states.values.sum
    }
    // a mid-range predicate on EITHER column must rough-decide a
    // substantial pack fraction — one clustering order, two pruned dims
    val qFrac = skippable("l_quantity", 10.0, 30.0)
    val pkMax = li.agg(max("l_partkey")).first().getLong(0).toDouble
    val pFrac = skippable("l_partkey", pkMax * 0.2, pkMax * 0.6)
    assert(qFrac > 0.1, s"l_quantity rough-decided only $qFrac")
    assert(pFrac > 0.1, s"l_partkey rough-decided only $pFrac")
    // hybrid count stays exact under z-order packing
    val exact = li.filter(col("l_quantity").between(10.0, 30.0)).count()
    assert(StatsSidecar.countBetween(spark, s"$dir/li_z", "l_quantity",
      10.0, 30.0) === exact)
  }

  test("empty input writes a readable empty table + sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_roughempty")
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(col("l_orderkey") < 0) // empty, schema preserved
    StatsSidecar.writeWithStats(li, s"$dir/li", 512, Seq("l_quantity"))
    val stats = StatsSidecar.readStats(spark, s"$dir/li")
    assert(stats.count() === 0)
    assert(StatsSidecar.countBetween(spark, s"$dir/li", "l_quantity", 0, 100)
      === 0L)
    // the z-order path routes empty frames here too (Scale.scala)
    operators.Scale.zorderPack(li, s"$dir/liz", 512,
      Seq("l_orderkey", "l_quantity"), Seq("l_quantity"))
    assert(StatsSidecar.readStats(spark, s"$dir/liz").count() === 0)
  }

  test("string prefix rough check: hybrid LIKE count equals exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_roughstr")
    val c = Engine.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    StatsSidecar.writeWithStats(c, s"$dir/c", 16, Seq("c_custkey"),
      clusterBy = Some(col("c_mktsegment")), strCols = Seq("c_mktsegment"))
    val exact = c.filter(col("c_mktsegment").startsWith("M")).count()
    assert(StatsSidecar.countPrefix(spark, s"$dir/c", "c_mktsegment", "M")
      === exact)
    // segment clustering must let the prefix check skip packs entirely
    val states = StatsSidecar
      .roughCheckPrefix(StatsSidecar.readStats(spark, s"$dir/c"),
        "c_mktsegment", "M")
      .select("state").distinct().collect().map(_.getString(0)).toSet
    assert(states.contains("NONE") || states.contains("ALL"),
      s"expected decided packs, got $states")
  }

  test("many SOME packs switch to the broadcast-join path, counts exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_roughwide")
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
    // unclustered tiny packs: every pack spans the full quantity range,
    // so a mid-range predicate leaves (nearly) all packs RS_SOME —
    // the adversarial weak-rough-pass case the literal-IN path must not
    // inline (IsinMaxPacks guard)
    StatsSidecar.writeWithStats(li, s"$dir/li", 8,
      Seq("l_quantity"))
    val nSome = StatsSidecar
      .roughCheck(StatsSidecar.readStats(spark, s"$dir/li"),
        "l_quantity", 10.0, 30.0)
      .filter(col("state") === "SOME").count()
    assert(nSome > StatsSidecar.IsinMaxPacks,
      s"fixture too small to force the join path: $nSome SOME packs")
    val exact = li.filter(col("l_quantity").between(10.0, 30.0)).count()
    assert(StatsSidecar.countBetween(spark, s"$dir/li", "l_quantity",
      10.0, 30.0) === exact)
  }

  test("SOME-pack scan prunes at the partition level") {
    val plan = spark.read.parquet(scratch)
      .filter(col(StatsSidecar.PackCol).isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_pack"),
      s"expected _pack partition pruning in:\n$plan")
  }

  // --- driver-resident sidecar ---------------------------------------------

  /** Deterministic forAll over ScalaCheck gens (as in PropertySpec). */
  private def forAll[A](g: Gen[A], n: Int = 40)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(7L + i)).foreach(f)
    }
  private def opt[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))

  /** Random sidecar rows for column "c": empty packs, NULL-bearing and
    * all-NULL packs, and bounds that tie with the predicate's. */
  private def packsGen[A](value: Gen[A], minField: String,
                          maxField: String): Gen[Seq[Map[String, Any]]] =
    Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k, for {
      n <- Gen.frequency(1 -> Gen.const(0L), 5 -> Gen.chooseNum(1L, 5L))
      nulls <- Gen.chooseNum(0L, n)
      lo <- opt(value)
      hi <- opt(value)
    } yield (n, nulls, lo, hi))).map(_.zipWithIndex.map {
      case ((n, nulls, lo, hi), pack) => Map[String, Any](
        StatsSidecar.PackCol -> pack, "column" -> "c", "n_rows" -> n,
        "n_nulls" -> nulls, minField -> lo.orNull, maxField -> hi.orNull)
    })

  /** Each pack's state from the DataFrame rule (run as a Spark job over
    * the rows) and from the driver rule, keyed by pack. */
  private def bothRules(rows: Seq[Map[String, Any]],
                        dfRule: DataFrame => DataFrame,
                        local: StatsSidecar.PackStat => String)
      : (Map[Int, String], Map[Int, String]) = {
    val schema = StatsSidecar.readStats(spark, scratch).schema
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(m =>
        Row.fromSeq(schema.fieldNames.toSeq.map(m.getOrElse(_, null)))),
      1), schema)
    (dfRule(df).collect().map(r => r.getInt(0) -> r.getString(2)).toMap,
      df.collect().map(StatsSidecar.PackStat(_))
        .map(p => p.pack -> local(p)).toMap)
  }

  test("driver rough pass classes every pack as roughCheck does") {
    // ties, signed zeros, NaN (which Spark orders above every number and
    // Scala's < does not) and the infinite bounds of ROUGHLY's >= / <=
    val value = Gen.frequency(
      6 -> Gen.oneOf(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0),
      1 -> Gen.oneOf(-0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity))
    val packs = packsGen(value, "min_v", "max_v")
    forAll(Gen.zip(packs, value, value)) { case (rows, lo, hi) =>
      val (viaDf, viaDriver) = bothRules(rows,
        StatsSidecar.roughCheck(_, "c", lo, hi),
        StatsSidecar.classify(_, lo, hi))
      assert(viaDriver === viaDf, s"lo=$lo hi=$hi rows=$rows")
    }
  }

  test("driver prefix rough pass classes every pack as roughCheckPrefix " +
      "does") {
    // U+E000 sorts above a surrogate pair in UTF-16 but below it in the
    // UTF-8 byte order Spark compares strings in
    val piece = Gen.oneOf("a", "b", "ab", "\u00e9", "\uE000", "\uFFFD",
      "\uD83D\uDE00", "z")
    def str(max: Int) = Gen.chooseNum(0, max)
      .flatMap(k => Gen.listOfN(k, piece).map(_.mkString))
    val packs = packsGen(str(3), "min_s", "max_s")
    forAll(Gen.zip(packs, str(2))) { case (rows, prefix) =>
      val (viaDf, viaDriver) = bothRules(rows,
        StatsSidecar.roughCheckPrefix(_, "c", prefix),
        StatsSidecar.classifyPrefix(_, prefix))
      assert(viaDriver === viaDf, s"prefix=$prefix rows=$rows")
    }
  }

  /** Runs `f`, and returns its result, the SQL execution id of each
    * Spark job started meanwhile (None for a job outside any query), and
    * the file scans of the queries it executed. */
  private def observed[A](f: => A)
      : (A, Seq[Option[String]], Seq[FileSourceScanExec]) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val jobs = new ConcurrentLinkedQueue[Option[String]]
    val scans = new ConcurrentLinkedQueue[FileSourceScanExec]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec => s }
          .foreach(scans.add)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val a = f
      ListenerBridge.drain(sc)
      (a, jobs.asScala.toSeq, scans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  private def exact(lo: Double, hi: Double): Long =
    spark.read.parquet(scratch).filter(col("l_quantity").between(lo, hi))
      .count()

  test("a decided range runs no job; a SOME range one pruned table scan") {
    StatsSidecar.countBetween(spark, scratch, "l_quantity", 10.0, 30.0)
    val snap = StatsSidecar.snapshot(spark, scratch)
    // every pack NONE, every pack ALL (no NULLs in l_quantity)
    for ((lo, hi) <- Seq((1000.0, 2000.0), (0.0, 100.0))) {
      val (n, jobs, _) = observed(
        StatsSidecar.countBetween(spark, scratch, "l_quantity", lo, hi))
      assert(jobs.isEmpty, s"[$lo, $hi]")
      assert(n === exact(lo, hi))
    }
    // a point strictly inside one pack's range leaves that pack SOME
    val p = snap.packs("l_quantity").find(p => p.minV.get < p.maxV.get).get
    val mid = (p.minV.get + p.maxV.get) / 2
    assert(StatsSidecar.classify(p, mid, mid) === "SOME")
    val (n, jobs, scans) = observed(
      StatsSidecar.countBetween(spark, scratch, "l_quantity", mid, mid))
    assert(n === exact(mid, mid))
    // one count query, run as one job with no exchange
    assert(jobs.size === 1 && jobs.head.isDefined,
      s"one job of one query expected: $jobs")
    assert(scans.size === 1)
    val scan = scans.head
    assert(scan.partitionFilters.exists(
      _.references.exists(_.name == StatsSidecar.PackCol)),
      s"expected _pack in PartitionFilters of\n$scan")
    assert(scan.relation.location.rootPaths.map(_.toUri.getPath)
      === Seq(scratch))
  }

  /** The rough aggregate stated with Spark's own aggregates: the
    * reference that [[StatsSidecar.roughAgg]]'s driver fold must match. */
  private def sparkAgg(stats: DataFrame, column: String): DataFrame =
    stats.filter(col("column") === column)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        (sum(col("sum_fp")).cast("double") / 10000.0).as("sum_v"))

  test("a warm readStats, and roughAgg over it, run no job") {
    StatsSidecar.readStats(spark, scratch)
    val (stats, readJobs, _) = observed(StatsSidecar.readStats(spark, scratch))
    assert(readJobs.isEmpty, s"readStats ran $readJobs")
    for (c <- Seq("l_quantity", "l_extendedprice")) {
      val (rows, aggJobs, _) =
        observed(StatsSidecar.roughAgg(stats, c).collect().toSeq)
      assert(aggJobs.isEmpty, s"roughAgg($c) ran $aggJobs")
      val files = spark.read.parquet(StatsSidecar.statsPath(scratch))
      assert(StatsSidecar.roughAgg(files, c).collect().toSeq === rows)
      assert(sparkAgg(files, c).collect().toSeq === rows, c)
    }
  }

  test("roughAgg of a column with no stats, or of an empty sidecar, is " +
      "one all-NULL row") {
    val dir = Files.createTempDirectory("graft_roughnull")
    val li = Engine.table(spark, sf, "lineitem").select(col("l_quantity"))
    StatsSidecar.writeWithStats(li.filter(col("l_quantity") < 0),
      s"$dir/empty", 512, Seq("l_quantity"))
    for ((path, c) <- Seq((scratch, "no_such_column"),
        (s"$dir/empty", "l_quantity"));
        stats <- Seq(StatsSidecar.readStats(spark, path),
          spark.read.parquet(StatsSidecar.statsPath(path)))) {
      val agg = StatsSidecar.roughAgg(stats, c)
      assert(agg.schema === sparkAgg(stats, c).schema, s"$path $c")
      assert(agg.collect().toSeq === Seq(Row(null, null, null, null, null)),
        s"$path $c")
    }
  }

  test("SELECT ROUGHLY aggregates answer from the snapshot with no job") {
    val runner = new sources.StatementRunner(spark)
    runner.attachPacked("li_rough_jobs", scratch)
    val q = "SELECT ROUGHLY COUNT(*), MIN(l_quantity), SUM(l_quantity) " +
      "FROM li_rough_jobs"
    val first = runner.run(q).collect().toSeq
    val (again, jobs, _) = observed(runner.run(q).collect().toSeq)
    assert(jobs.isEmpty)
    assert(again === first)
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      Files.copy(f, to.resolve(from.relativize(f).toString))
    }
  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("a rewritten or replaced table is counted afresh") {
    val dir = Files.createTempDirectory("graft_roughcache")
    val li = Engine.table(spark, sf, "lineitem").select(col("l_quantity"))
    def count(path: String) =
      StatsSidecar.countBetween(spark, path, "l_quantity", 10.0, 30.0)
    def exactOf(df: DataFrame) =
      df.filter(col("l_quantity").between(10.0, 30.0)).count()
    // readStats holds the sidecar files' rows
    def statsOf(path: String) = {
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(StatsSidecar.readStats(spark, path))
        === rows(spark.read.parquet(StatsSidecar.statsPath(path))))
    }
    val small = li.filter(col("l_quantity") < 20)
    val path = s"$dir/li"
    StatsSidecar.writeWithStats(li, path, 512, Seq("l_quantity"),
      clusterBy = Some(col("l_quantity")))
    assert(count(path) === exactOf(li))
    statsOf(path)
    // rewritten through writeWithStats, in this JVM
    StatsSidecar.writeWithStats(small, path, 512, Seq("l_quantity"),
      clusterBy = Some(col("l_quantity")))
    assert(count(path) === exactOf(small))
    statsOf(path)
    // replaced by files copied from another layout, behind its back
    val other = s"$dir/other"
    StatsSidecar.writeWithStats(li, other, 256, Seq("l_quantity"))
    for (suffix <- Seq("", ".stats")) {
      deleteTree(Paths.get(path + suffix))
      copyTree(Paths.get(other + suffix), Paths.get(path + suffix))
    }
    assert(count(path) === exactOf(li))
    statsOf(path)
  }
}
