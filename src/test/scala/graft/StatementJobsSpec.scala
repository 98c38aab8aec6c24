package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{DeltaStore, StatementRunner}
import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** Each DML statement evaluates its source once: the Spark jobs a
  * statement runs, the row count it returns (against a Spark recount)
  * and what a strict-mode rejection leaves behind. */
class StatementJobsSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private lazy val dir = Files.createTempDirectory("graft_stmtjobs").toString
  private lazy val orders = Engine.table(spark, TestSession.sf, "orders")

  /** `ord` is the orders table in one base file; `jt` holds its keys,
    * a customer column that is NULL on every 7th key, and its prices. */
  private lazy val (runner, jt) = {
    val r = new StatementRunner(spark)
    val ord = new DeltaStore(spark, s"$dir/ord")
    ord.writeBase(orders)
    r.attach("ord", ord)
    val jt = new DeltaStore(spark, s"$dir/jt")
    jt.writeBase(orders.select(col("o_orderkey").as("k"),
      when(col("o_orderkey") % 7 === 0, lit(null))
        .otherwise(col("o_custkey")).as("c"),
      col("o_totalprice").as("p")))
    r.attach("jt", jt)
    (r, jt)
  }

  private lazy val keys =
    orders.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
  /** The lower and upper quartile of the customer keys. */
  private lazy val (custLo, custHi) = {
    val cs = orders.select("o_custkey").collect().map(_.getLong(0)).sorted
    (cs(cs.length / 4), cs(cs.length * 3 / 4))
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The row count a DML statement returns. */
  private def run(sql: String): Long = runner.run(sql).collect().head.getLong(1)

  private def count(table: String, where: String = "TRUE"): Long =
    runner.run(s"SELECT COUNT(*) FROM $table WHERE $where").first().getLong(0)

  test("INSERT … VALUES runs no Spark job") {
    runner.run("CREATE TABLE jv (id BIGINT NOT NULL, amount INT, " +
      "tag VARCHAR(8)) ENGINE=TIANMU")
    val (n, j) = jobs(run(
      "INSERT INTO jv VALUES (1, 10, 'a'), (2, NULL, 'b'), (3, 30, NULL)"))
    assert(j === 0, s"INSERT … VALUES ran $j job(s)")
    assert(n === 3 && count("jv") === 3)
  }

  test("INSERT … SELECT of 50 rows from a single-file store runs one job") {
    runner.run("CREATE TABLE js (id BIGINT NOT NULL, cust BIGINT, " +
      "amount BIGINT, tag VARCHAR(8)) ENGINE=TIANMU")
    val (lo, hi) = (keys(100), keys(149))
    val (n, j) = jobs(run("INSERT INTO js SELECT o_orderkey + 1000000, " +
      "o_custkey, CAST(FLOOR(o_totalprice) AS BIGINT), o_orderstatus " +
      s"FROM ord WHERE o_orderkey BETWEEN $lo AND $hi"))
    assert(j === 1, s"INSERT … SELECT ran $j job(s)")
    assert(n === 50 && count("js") === 50)
    assert(runner.run("SELECT id FROM js").collect().map(_.getLong(0))
      .toSeq.sorted === keys.slice(100, 150).map(_ + 1000000))
  }

  test("DELETE … WHERE runs one job and counts only rows whose WHERE is " +
      "true") {
    val before = jt.read().count()
    val want = jt.read().filter(col("c") < custLo).count()
    val nulls = jt.read().filter(col("c").isNull).count()
    assert(want > 0 && nulls > 0)
    val (n, j) = jobs(run(s"DELETE FROM jt WHERE c < $custLo"))
    assert(j === 1, s"DELETE … WHERE ran $j job(s)")
    assert(n === want)
    assert(jt.read().count() === before - want)
    assert(jt.read().filter(col("c").isNull).count() === nulls,
      "rows whose WHERE is NULL did not survive")
    assert(run(s"DELETE FROM jt WHERE c < $custLo") === 0)
  }

  test("UPDATE with no strict-check columns runs one job") {
    val want = jt.read().filter(col("c") > custHi).count()
    val sum0 = jt.read().agg(org.apache.spark.sql.functions.sum("p"))
      .first().getDouble(0)
    assert(want > 0)
    val (n, j) = jobs(run(s"UPDATE jt SET p = p + 1 WHERE c > $custHi"))
    assert(j === 1, s"UPDATE ran $j job(s)")
    assert(n === want)
    val sum1 = jt.read().agg(org.apache.spark.sql.functions.sum("p"))
      .first().getDouble(0)
    assert(math.abs(sum1 - sum0 - want) < 1e-3)
  }

  test("SELECT … INTO OUTFILE runs one job and counts the rows it wrote") {
    val out = s"$dir/jt_out"
    val want = count("jt", s"k < ${keys(500)}")
    val (n, j) = jobs(run(
      s"SELECT k, c FROM jt WHERE k < ${keys(500)} INTO OUTFILE '$out'"))
    assert(j === 1, s"OUTFILE ran $j job(s)")
    assert(n === want)
    assert(spark.read.csv(out).count() === want)
    // an empty result behind a shuffle still reports its count
    assert(run("SELECT c, COUNT(*) FROM jt WHERE k < 0 GROUP BY c " +
      s"INTO OUTFILE '${out}_empty'") === 0)
  }

  test("a DELETE whose WHERE is not deterministic returns the rows it " +
      "deleted") {
    runner.run("CREATE TABLE jd (id BIGINT NOT NULL) ENGINE=TIANMU")
    run("INSERT INTO jd SELECT o_orderkey FROM ord")
    val before = count("jd")
    val n = run("DELETE FROM jd WHERE RAND() < 0.5")
    assert(n > 0 && n < before)
    assert(count("jd") === before - n)
  }

  test("an observed count that does not arrive in time is recounted") {
    import org.apache.spark.sql.Observation
    import scala.concurrent.duration._
    val done = Observation()
    spark.range(3).observe(done,
      org.apache.spark.sql.functions.count(lit(1))).collect()
    assert(StatementRunner.observedCount(done)(fail("recounted")) === 3)
    val never = Observation()
    spark.range(3).observe(never,
      org.apache.spark.sql.functions.count(lit(1)))
    assert(StatementRunner.observedCount(never, 10.millis)(7L) === 7)
  }

  test("a temporary table does not fire the triggers of the base table " +
      "it shadows, and dropping it keeps them") {
    val r = new StatementRunner(
      sources.MtrParity.statementSession(spark))
    def fired = r.run("SELECT @fired").first().get(0).toString
    r.run("CREATE TABLE jtr (i INT) ENGINE=INNODB")
    r.run("CREATE TRIGGER jtr_ins BEFORE INSERT ON jtr FOR EACH ROW " +
      "SET @fired = @fired + 1")
    r.run("SET @fired = 0")
    r.run("CREATE TEMPORARY TABLE jtr (i INT) SELECT 1 AS i")
    r.run("INSERT INTO jtr VALUES (2), (3)")
    r.run("INSERT INTO jtr SELECT i + 10 FROM jtr")
    assert(fired === "0")
    assert(r.run("SELECT COUNT(*) FROM jtr").first().getLong(0) === 6)
    r.run("DROP TEMPORARY TABLE jtr")
    r.run("INSERT INTO jtr VALUES (4)")
    assert(fired === "1")
  }

  test("a strict-mode rejection leaves the table unchanged, on the " +
      "collected path and on the staged path") {
    runner.run("CREATE TABLE jr (id BIGINT NOT NULL, v INT, " +
      "tag VARCHAR(4)) ENGINE=TIANMU")
    run("INSERT INTO jr VALUES (1, 1, 'a'), (2, 2, 'b')")
    def contents = runner.run("SELECT id, v, tag FROM jr").collect().toSeq
    val before = contents
    val small = intercept[IllegalArgumentException](run(
      "INSERT INTO jr SELECT o_orderkey, 1, o_orderpriority FROM ord " +
        s"WHERE o_orderkey BETWEEN ${keys.head} AND ${keys(9)}"))
    assert(small.getMessage.contains("'tag: data too long"))
    assert(small.getMessage.contains("MySQL strict mode"))
    assert(contents === before)
    spark.range(0, DeltaStore.BufferCap + 1).createOrReplaceTempView("jr_big")
    val large = intercept[IllegalArgumentException](run(
      "INSERT INTO jr SELECT id, CASE WHEN id = 60000 THEN 3000000000 " +
        "ELSE id END, 'x' FROM jr_big"))
    assert(large.getMessage.contains("'v'"))
    assert(contents === before)
  }

  test("INSERT … SELECT of BufferCap + 1 rows is staged into the parquet " +
      "delta in source order") {
    val src = spark.range(0, DeltaStore.BufferCap + 1)
      .selectExpr("id", "id * 2 AS v")
    val store = new DeltaStore(spark, s"$dir/jl")
    store.writeBase(src.limit(0))
    runner.attach("jl", store)
    src.createOrReplaceTempView("jl_src")
    // a staged batch leaves its staging directory behind
    def stagings = Option(new java.io.File(System.getProperty(
      "java.io.tmpdir")).list()).toSeq.flatten
      .count(_.startsWith("graft-stage-select-jl"))
    val staged0 = stagings
    val n = run("INSERT INTO jl SELECT id, v FROM jl_src")
    assert(n === DeltaStore.BufferCap + 1)
    assert(stagings === staged0 + 1, "the batch was not staged")
    assert(store.bufferedCount === 0, "the staged rows were buffered")
    assert(store.deltaFileCount() > 0)
    assert(store.deltaCount() === DeltaStore.BufferCap + 1)
    val rows = store.read().collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L to DeltaStore.BufferCap))
    assert(rows.forall(r => r.getLong(1) === 2 * r.getLong(0)))
  }
}
