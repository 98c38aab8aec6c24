package graft

import java.nio.file.Files

import graft.sources.{DeltaStore, StatementRunner}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per statement shape and kept for
  * the JVM: the compiled-class cache holds the engine's working set
  * (`Engine.CodegenCacheEntries`), filters over a store's buffered
  * rows are interpreted ([[graft.plans.LocalFilterRule]]), and
  * arithmetic literals are read from the codegen references
  * ([[graft.plans.ParamLiteralRule]]). */
class CodegenCacheSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  /** `body`'s result and the number of classes Spark compiled meanwhile. */
  private def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("more shapes than Spark's default cache holds compile once") {
    // shape i projects i copies of the column: a distinct source per i
    val shapes = (1 to 120).map(i => () => spark.range(3)
      .select((1 to i).map(j => col("id").as(s"c$j")): _*).collect())
    val (_, first) = compiles(shapes.foreach(_()))
    assert(first > 100, s"the first pass compiled only $first classes")
    val (_, second) = compiles(shapes.foreach(_()))
    assert(second === 0, s"the second pass recompiled $second of $first")
  }

  private lazy val dir = Files.createTempDirectory("graft_cgcache").toString

  private lazy val orders = Engine.table(spark, sf, "orders")

  /** A runner over `ord` (the orders table) whose store holds 20
    * buffered rows past the base's last key, and a Scala copy of its
    * (key, total price) pairs. */
  private lazy val (runner, store, model) = {
    val store = new DeltaStore(spark, s"$dir/ord")
    store.writeBase(orders)
    val top = orders.agg(org.apache.spark.sql.functions.max("o_orderkey"))
      .first().getLong(0)
    val extra = orders.limit(20).collect().toSeq.zipWithIndex.map {
      case (r, i) => Row.fromSeq(
        (top + 1 + i) +: r.toSeq.tail)
    }
    store.append(spark.createDataFrame(
      java.util.Arrays.asList(extra: _*), orders.schema))
    val r = new StatementRunner(spark)
    r.attach("ord", store)
    val model = store.read().select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    (r, store, model)
  }

  test("point lookups and ranges over buffered rows compile no class " +
      "after the first literal") {
    assert(store.deltaFileCount() === 0 && store.deltaCount() === 20,
      "the store's delta is not all buffered rows")
    val keys = model.map(_._1).sorted
    def lookup(k: Long) = runner.run("SELECT o_orderkey, o_totalprice " +
      s"FROM ord WHERE o_orderkey = $k").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def range(lo: Long, hi: Long) = runner.run("SELECT o_orderkey, " +
      s"o_totalprice FROM ord WHERE o_orderkey BETWEEN $lo AND $hi")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted
    // the first literal of each shape compiles it
    lookup(keys.last)
    range(keys(keys.size - 30), keys(keys.size - 25))
    (keys.takeRight(4) ++ keys.take(2)).foreach { k =>
      val (rows, n) = compiles(lookup(k))
      assert(n === 0, s"lookup of $k compiled $n classes")
      assert(rows === model.filter(_._1 == k))
    }
    Seq((keys(keys.size - 10), keys.last), (keys.head, keys(5)),
        (keys(keys.size - 3), keys.last + 5)).foreach { case (lo, hi) =>
      val (rows, n) = compiles(range(lo, hi))
      assert(n === 0, s"range [$lo, $hi] compiled $n classes")
      assert(rows === model.filter(r => r._1 >= lo && r._1 <= hi).sorted)
    }
  }

  test("INSERT … SELECT col + <literal> compiles no class for a new " +
      "literal") {
    runner.run("CREATE TABLE cg_t (id BIGINT NOT NULL, cust BIGINT, " +
      "amount BIGINT, tag VARCHAR(8)) ENGINE=TIANMU")
    val keys = model.map(_._1).sorted
    def insert(offset: Long, lo: Long) = runner.run("INSERT INTO cg_t " +
      s"SELECT o_orderkey + $offset, o_custkey, " +
      "CAST(FLOOR(o_totalprice) AS BIGINT), o_orderstatus FROM ord " +
      s"WHERE o_orderkey BETWEEN $lo AND ${lo + 49}").collect()
    insert(10000000L, keys.head)
    Seq(20000000L -> keys(100), 30000000L -> keys(300)).foreach {
      case (offset, lo) =>
        val (_, n) = compiles(insert(offset, lo))
        assert(n === 0, s"INSERT … SELECT o_orderkey + $offset compiled " +
          s"$n classes")
    }
    val ids = runner.run("SELECT id FROM cg_t").collect().map(_.getLong(0))
    val want = Seq(10000000L -> keys.head, 20000000L -> keys(100),
      30000000L -> keys(300)).flatMap { case (offset, lo) =>
        keys.filter(k => k >= lo && k <= lo + 49).map(_ + offset) }
    assert(ids.sorted.toSeq === want.sorted)
  }

  test("a filter over VALUES rows and the strict check over a frozen " +
      "INSERT … SELECT batch compile no class for new values") {
    def values(a: Int, b: Int, lo: Int) = spark.sql("SELECT k, v FROM " +
      s"VALUES ($a, 'x'), ($b, 'y') AS t(k, v) WHERE k > $lo")
      .collect().map(_.getInt(0)).toSeq
    values(1, 2, 0)
    Seq((5, 9, 6), (11, 3, 2), (-4, 8, -10)).foreach { case (a, b, lo) =>
      val (ks, n) = compiles(values(a, b, lo))
      assert(n === 0, s"VALUES ($a), ($b) WHERE k > $lo compiled $n classes")
      assert(ks === Seq(a, b).filter(_ > lo))
    }
    // every column carries a strict check: NOT NULL, INT range, length
    runner.run("CREATE TABLE cg_s (id INT NOT NULL, tag VARCHAR(1)) " +
      "ENGINE=TIANMU")
    val keys = model.map(_._1).sorted
    def insert(offset: Long, lo: Long, tag: String) = runner.run(
      s"INSERT INTO cg_s SELECT CAST(o_orderkey + $offset AS INT), " +
        s"'$tag' FROM ord WHERE o_orderkey BETWEEN $lo AND ${lo + 49}")
      .collect()
    insert(1L, keys(10), "a")
    Seq((2L, keys(200), "b"), (3L, keys(400), "c")).foreach {
      case (offset, lo, tag) =>
        val (_, n) = compiles(insert(offset, lo, tag))
        assert(n === 0, s"the strict check of batch $tag compiled $n classes")
    }
    // the first rejection compiles its result's row conversion once
    assert(scala.util.Try(insert(4L, keys(600), "dd")).isFailure)
    val (err, n) = compiles(scala.util.Try(insert(5L, keys(700), "ee")))
    assert(err.isFailure && err.failed.get.getMessage.contains("tag"))
    assert(n === 0, s"a second rejected batch compiled $n classes")
  }
}
