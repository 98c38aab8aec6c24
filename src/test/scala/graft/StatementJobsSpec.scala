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
  * and what a strict-mode rejection leaves behind. Also the rows each
  * DELETE and UPDATE form touches, the forms that read a table's view
  * under a session time zone, the staging directories a statement
  * leaves, and the result, schema, contents and jobs of each ALTER TABLE
  * form. */
class StatementJobsSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private lazy val dir = Files.createTempDirectory("graft_stmtjobs").toString
  private lazy val orders = Engine.table(spark, TestSession.sf, "orders")

  /** The orders table copied until it holds more than three times
    * [[DeltaStore.BufferCap]] rows, each copy's keys shifted by a
    * multiple of 10^7: a store of it stays too large to be resident
    * after the tests' DELETEs, so its statements scan files. Copy 0
    * holds the original keys. */
  private lazy val manyOrders = {
    val copies = 3 * DeltaStore.BufferCap / orders.count() + 1
    orders.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * 10000000L)
      .drop("copy")
  }

  /** `ord` is [[manyOrders]] in one base file; `jt` holds its keys, a
    * customer column that is NULL on every 7th key, and its prices. */
  private lazy val (runner, jt) = {
    val r = new StatementRunner(spark)
    val ord = new DeltaStore(spark, s"$dir/ord")
    ord.writeBase(manyOrders)
    r.attach("ord", ord)
    val jt = new DeltaStore(spark, s"$dir/jt")
    jt.writeBase(manyOrders.select(col("o_orderkey").as("k"),
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

  test("stores above BufferCap scan files") {
    Seq("ord", "jt").foreach { t =>
      val df = runner.run(s"SELECT * FROM $t")
      assert(fileScans(df) > 0, s"$t does not scan its files")
    }
  }

  /** The file scans in `df`'s executed plan. */
  private def fileScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size

  test("on a resident table a point and a range SELECT run no job and " +
      "scan no file, and DELETE and UPDATE run one job, the write") {
    val r = freshRunner()
    table200(r, "rt")
    def select(sql: String): (Seq[Seq[String]], Int) = {
      val (df, j) = jobs {
        val df = r.run(sql)
        df.collect()
        df
      }
      assert(fileScans(df) === 0, s"$sql scans files")
      (df.collect().toSeq.map(_.toSeq.map(String.valueOf)), j)
    }
    def rows = scan(r, "SELECT id, v, tag FROM rt")
    val start = rows
    def lookups(expected: Seq[Seq[String]]): Unit = {
      val byId = expected.map(x => x.head.toInt -> x).toMap
      val (point, pj) = select("SELECT id, v, tag FROM rt WHERE id = 74")
      assert(pj === 0, s"a point SELECT ran $pj job(s)")
      assert(point === byId.get(74).toSeq)
      val (range, rj) = select(
        "SELECT id, v FROM rt WHERE id BETWEEN 20 AND 70")
      assert(rj === 0, s"a range SELECT ran $rj job(s)")
      assert(range === expected.filter(x => (20 to 70).contains(
        x.head.toInt)).map(_.take(2)))
    }
    lookups(start)
    val (deleted, dj) = jobs(rowCount(r,
      "DELETE FROM rt WHERE id BETWEEN 60 AND 80"))
    assert(dj === 1, s"DELETE ran $dj job(s)")
    assert(deleted === 21)
    val kept = start.filterNot(x => (60 to 80).contains(x.head.toInt))
    assert(rows === kept)
    lookups(kept)
    val (updated, uj) = jobs(rowCount(r,
      "UPDATE rt SET v = v + 100 WHERE id BETWEEN 10 AND 40"))
    assert(uj === 1, s"UPDATE ran $uj job(s)")
    assert(updated === 31)
    val after = kept.map(x => if ((10 to 40).contains(x.head.toInt))
      Seq(x.head, (x(1).toInt + 100).toString, x(2)) else x)
    assert(rows === after)
    lookups(after)
  }

  test("an upsert of more than BufferCap rows into a resident table " +
      "observes at most BufferCap of them and holds none") {
    val r = freshRunner()
    table200(r, "ru")
    assert(rowCount(r, "DELETE FROM ru WHERE id = 0") === 1)
    val store = r.attachedStore("ru")
    assert(store.residentCount === 199)
    spark.range(DeltaStore.BufferCap + 1).createOrReplaceTempView("ru_big")
    val lists = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = ObservedLists(lists)
    spark.listenerManager.register(listener)
    try {
      ListenerBridge.drain(spark.sparkContext)
      r.run("INSERT INTO ru SELECT CAST(id AS INT), 1, 'y' FROM ru_big " +
        "ON DUPLICATE KEY UPDATE v = VALUES(v)")
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(lists.toArray.toSeq === Seq(DeltaStore.BufferCap),
      "the upsert's write did not observe exactly BufferCap rows")
    assert(store.residentCount === 0, "rows held past the cap")
    assert(r.run("SELECT COUNT(*) FROM ru").first().getLong(0) ===
      DeltaStore.BufferCap + 1)
    assert(scan(r, "SELECT id, v, tag FROM ru WHERE id IN (5, 70000)")
      .map(_.mkString(",")) === Seq("5,1,x"))
  }

  test("CREATE TABLE … AS SELECT NOW() over a resident table holds the " +
      "rows its file holds") {
    val r = freshRunner()
    table200(r, "rn")
    assert(rowCount(r, "DELETE FROM rn WHERE id = 0") === 1)
    r.run("CREATE TABLE rn2 AS SELECT id, NOW() AS ts FROM rn")
    val store = r.attachedStore("rn2")
    val (held, files) = (store.read().collect().toSeq,
      store.fileBackedRead().collect().toSeq)
    assert(held.size === files.size)
    val differ = held.zip(files).count { case (a, b) => a != b }
    assert(differ === 0, s"$differ rows read differ from the file's")
    assert(store.residentCount === 199)
  }

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
    val ((n, _), staged) = jobsAndStagings(
      run("INSERT INTO jl SELECT id, v FROM jl_src"))
    assert(n === DeltaStore.BufferCap + 1)
    assert(staged === 1, "the batch was not staged")
    assert(store.bufferedCount === 0, "the staged rows were buffered")
    assert(store.deltaFileCount() > 0)
    assert(store.deltaCount() === DeltaStore.BufferCap + 1)
    val rows = store.read().collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L to DeltaStore.BufferCap))
    assert(rows.forall(r => r.getLong(1) === 2 * r.getLong(0)))
  }

  test("rows buffered before a file-backed INSERT … SELECT read back " +
      "before its rows") {
    runner.run("CREATE TABLE jb (id BIGINT) ENGINE=TIANMU")
    run("INSERT INTO jb VALUES (-3), (-2), (-1)")
    spark.range(0, DeltaStore.BufferCap + 1).createOrReplaceTempView("jb_src")
    assert(run("INSERT INTO jb SELECT id FROM jb_src") ===
      DeltaStore.BufferCap + 1)
    assert(runner.run("SELECT id FROM jb LIMIT 5").collect()
      .map(_.getLong(0)).toSeq === Seq(-3L, -2L, -1L, 0L, 1L))
  }

  /** `lines` written to a new file under the spec's directory. */
  private def textFile(name: String, lines: Seq[String]): String = {
    val f = java.nio.file.Paths.get(dir, name)
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  /** The `(loaded, rejected)` counts a LOAD DATA statement returns. */
  private def load(sql: String): (Long, Long) = {
    val r = runner.run(sql).collect().head
    (r.getAs[Long]("rows_loaded"), r.getAs[Long]("rows_rejected"))
  }

  /** A Spark recount of a comma-separated file: its records, and those
    * whose first field is not an integer. */
  private def recount(path: String): (Long, Long) = {
    val first = org.apache.spark.sql.functions.split(col("value"), ",")(0)
    val lines = spark.read.textFile(path)
    val bad = lines.filter(first.cast("bigint").isNull).count()
    (lines.count() - bad, bad)
  }

  /** A store attached as `name` with columns (id BIGINT, amount INT,
    * tag STRING) and no rows. */
  private def loadTable(name: String): DeltaStore = {
    val store = new DeltaStore(spark, s"$dir/$name")
    store.writeBase(spark.range(0).selectExpr("id",
      "CAST(id AS INT) AS amount", "CAST(id AS STRING) AS tag"))
    runner.attach(name, store)
    store
  }

  test("LOAD DATA of at most BufferCap rows runs one job, writes no " +
      "delta part and counts both sides from its one parse") {
    val store = loadTable("jlsmall")
    val f = textFile("jlsmall.csv",
      (1 to 400).map(i => s"$i,${i * 2},t${i % 7}")
        .patch(200, Seq("oops,1,x"), 0))
    val files0 = store.deltaFileCount()
    val ((loaded, rejected), j) = jobs(load(
      s"LOAD DATA INFILE '$f' INTO TABLE jlsmall FIELDS TERMINATED BY ','"))
    assert(j === 1, s"LOAD DATA ran $j job(s)")
    assert((loaded, rejected) === recount(f))
    assert((loaded, rejected) === (400L, 1L))
    assert(store.deltaFileCount() === files0, "the load wrote a delta part")
    assert(store.bufferedCount === 400)
    val back = runner.run("SELECT id, amount, tag FROM jlsmall").collect()
    assert(back.map(_.getLong(0)).toSeq === (1L to 400L))
    assert(back.forall(r => r.getInt(1) === 2 * r.getLong(0) &&
      r.getString(2) === s"t${r.getLong(0) % 7}"))
  }

  test("LOAD DATA of BufferCap + 1 rows is one file-backed append that " +
      "counts both sides") {
    val store = loadTable("jlbig")
    val n = DeltaStore.BufferCap + 1
    val f = textFile("jlbig.csv",
      (0 until n).map(i => s"$i,$i,x") :+ "1.5e,2,y")
    val files0 = store.deltaFileCount()
    val (loaded, rejected) = load(
      s"LOAD DATA INFILE '$f' INTO TABLE jlbig FIELDS TERMINATED BY ','")
    assert((loaded, rejected) === recount(f))
    assert((loaded, rejected) === (n.toLong, 1L))
    assert(store.bufferedCount === 0, "the load was buffered")
    assert(store.deltaFileCount() === files0 + 1)
    assert(store.deltaCount() === n)
    assert(runner.run("SELECT SUM(id), SUM(amount) FROM jlbig").collect()
      .head.toSeq === Seq(n.toLong * (n - 1) / 2, n.toLong * (n - 1) / 2))
  }

  test("LOAD DATA LOCAL, column-list/SET and IGNORE n LINES keep their " +
      "results") {
    def table(name: String) = { loadTable(name); name }
    def rows(t: String) = scan(runner, s"SELECT id, amount, tag FROM $t")
      .map(_.mkString(","))
    // LOCAL pads a short record, cuts a long one and prefix-parses a bad
    // number instead of rejecting the record
    val local = textFile("jllocal.csv",
      Seq("1,10,a", "2,20", "3,30,c,extra", "x4,40,d", "5,5q,e"))
    val lt = table("jllocal")
    assert(load(s"LOAD DATA LOCAL INFILE '$local' INTO TABLE $lt " +
      "FIELDS TERMINATED BY ','") === (5L, 0L))
    assert(rows(lt) === Seq("1,10,a", "2,20,null", "3,30,c", "0,40,d",
      "5,5,e"))
    // a column list binds a field to a variable that SET reads
    val set = textFile("jlset.csv", Seq("1,2,a", "3,4,b", "bad,5,c"))
    val st = table("jlset")
    assert(load(s"LOAD DATA INFILE '$set' INTO TABLE $st " +
      "FIELDS TERMINATED BY ',' (id, @a, tag) SET amount = @a * 10") ===
      (2L, 1L))
    assert(rows(st) === Seq("1,20,a", "3,40,b"))
    // IGNORE n LINES skips a header
    val hdr = textFile("jlhdr.csv", Seq("id,amount,tag", "7,70,g", "8,80,h"))
    val ht = table("jlhdr")
    assert(load(s"LOAD DATA INFILE '$hdr' INTO TABLE $ht " +
      "FIELDS TERMINATED BY ',' IGNORE 1 LINES") === (2L, 0L))
    assert(rows(ht) === Seq("7,70,g", "8,80,h"))
  }

  /** A write's target in a SQL execution's plan, when it is a staging
    * directory. */
  private val StagingWrite = """Arguments: file:[^,\n]*graft-stage-""".r
  /** `body`'s result and jobs, and the staging directories it wrote
    * (each staged frame is one write into a `graft-stage-` directory). */
  private def jobsAndStagings[T](body: => T): ((T, Int), Int) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if StagingWrite.findFirstIn(s.physicalPlanDescription)
              .isDefined =>
          n.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = jobs(body)
      ListenerBridge.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A runner on the test session with triggers enabled on tianmu
    * tables. */
  private def freshRunner(): StatementRunner = {
    val r = new StatementRunner(spark)
    r.run("SET SESSION tianmu_no_key_error=ON")
    r
  }
  private def rowCount(r: StatementRunner, sql: String): Long =
    r.run(sql).collect().head.getLong(1)
  /** A table's rows in scan order, each cell as text. */
  private def scan(r: StatementRunner, sql: String): Seq[Seq[String]] =
    r.run(sql).collect().toSeq.map(_.toSeq.map(String.valueOf))

  /** `name` (id PRIMARY KEY, v, tag) holding 200 rows whose ids are
    * inserted out of key order. */
  private def table200(r: StatementRunner, name: String): Unit = {
    spark.range(200).createOrReplaceTempView(s"${name}_src")
    r.run(s"CREATE TABLE $name (id INT NOT NULL PRIMARY KEY, v INT, " +
      "tag VARCHAR(8)) ENGINE=TIANMU")
    r.run(s"INSERT INTO $name SELECT CAST((id * 37) % 200 AS INT), " +
      s"CAST(id % 10 AS INT), 'x' FROM ${name}_src")
  }

  test("DELETE and UPDATE … ORDER BY … LIMIT n on a PRIMARY KEY table " +
      "touch the first n matches and keep scan order") {
    val r = freshRunner()
    table200(r, "lp")
    def rows = scan(r, "SELECT id, v, tag FROM lp")
    val start = rows
    assert(start.map(_.head) ===
      (0 until 200).map(i => ((i * 37) % 200).toString))
    val del = start.filter(_(1).toInt < 5).map(_.head.toInt)
      .sorted.reverse.take(7).toSet
    assert(rowCount(r, "DELETE FROM lp WHERE v < 5 ORDER BY id DESC " +
      "LIMIT 7") === 7)
    val afterDel = start.filterNot(x => del(x.head.toInt))
    assert(rows === afterDel)
    val upd = afterDel.filter(_(1).toInt >= 5)
      .sortBy(x => (x(1).toInt, x.head.toInt)).take(5).map(_.head).toSet
    assert(rowCount(r, "UPDATE lp SET tag = 'u' WHERE v >= 5 " +
      "ORDER BY v, id LIMIT 5") === 5)
    val afterUpd = afterDel.map(x =>
      if (upd(x.head)) Seq(x.head, x(1), "u") else x)
    assert(rows === afterUpd)
    // a bare LIMIT takes the first rows in scan order
    assert(rowCount(r, "DELETE FROM lp LIMIT 3") === 3)
    assert(rows === afterUpd.drop(3))
    assert(rowCount(r, "UPDATE lp SET tag = 'f' LIMIT 2") === 2)
    val afterFirst = afterUpd.drop(3).zipWithIndex.map { case (x, i) =>
      if (i < 2) Seq(x.head, x(1), "f") else x
    }
    assert(rows === afterFirst)
    // a LIMIT past the match set counts the matches
    val nines = afterFirst.count(_(1) == "9")
    assert(rowCount(r, "UPDATE lp SET v = v + 100 WHERE v = 9 " +
      "LIMIT 1000") === nines)
    assert(rowCount(r, "DELETE FROM lp WHERE v > 100 ORDER BY id " +
      "LIMIT 1000") === nines)
    assert(rows === afterFirst.filter(_(1) != "9"))
  }

  test("DELETE and UPDATE … LIMIT n on a keyless table touch exactly n " +
      "of its duplicate rows") {
    val r = freshRunner()
    r.run("CREATE TABLE lk (a INT, b INT) ENGINE=TIANMU")
    r.run("INSERT INTO lk VALUES (1,1),(2,2),(1,1),(3,3),(2,2),(1,1)," +
      "(2,2)")
    def rows = scan(r, "SELECT a, b FROM lk").map(_.mkString(","))
    assert(rowCount(r, "DELETE FROM lk WHERE a = 1 LIMIT 2") === 2)
    assert(rows === Seq("2,2", "3,3", "2,2", "1,1", "2,2"))
    assert(rowCount(r, "UPDATE lk SET b = 9 WHERE a = 2 ORDER BY b " +
      "LIMIT 2") === 2)
    assert(rows === Seq("2,9", "3,3", "2,9", "1,1", "2,2"))
    // ties in the ORDER BY fall back to scan order
    assert(rowCount(r, "DELETE FROM lk WHERE b = 9 OR a = 3 " +
      "ORDER BY a DESC LIMIT 2") === 2)
    assert(rows === Seq("2,9", "1,1", "2,2"))
    assert(rowCount(r, "DELETE FROM lk WHERE a = 7 LIMIT 1") === 0)
    assert(rows === Seq("2,9", "1,1", "2,2"))
  }

  test("a DELETE whose WHERE holds a subquery deletes and counts the " +
      "rows whose WHERE is true, and keeps scan order") {
    val r = freshRunner()
    r.run("CREATE TABLE sq (id INT NOT NULL PRIMARY KEY, g INT) " +
      "ENGINE=TIANMU")
    r.run("CREATE TABLE sq2 (g INT) ENGINE=TIANMU")
    val ids = (0 until 20).map(i => (i * 7) % 20)
    r.run("INSERT INTO sq VALUES " + ids.map(i =>
      s"($i, ${if (i % 5 == 0) "NULL" else (i % 4).toString})")
      .mkString(","))
    r.run("INSERT INTO sq2 VALUES (1), (3), (NULL)")
    def rows = scan(r, "SELECT id, g FROM sq")
    val start = rows
    val gone = start.filter(x => x(1) == "1" || x(1) == "3")
    assert(rowCount(r, "DELETE FROM sq WHERE g IN (SELECT g FROM sq2)") ===
      gone.length)
    val kept = start.filterNot(gone.contains)
    assert(rows === kept)
    // a correlated subquery; NULL rows survive
    val gone2 = kept.filter(x => x(1) == "0" || x(1) == "2")
    assert(rowCount(r, "DELETE FROM sq WHERE EXISTS (SELECT 1 FROM sq2 " +
      "WHERE sq2.g = sq.g + 1)") === gone2.length)
    assert(rows === kept.filterNot(gone2.contains))
    assert(rowCount(r, "DELETE FROM sq WHERE g > (SELECT MAX(g) FROM " +
      "sq2)") === 0)
    assert(rows === kept.filterNot(gone2.contains))
  }

  test("the DELETE and UPDATE forms run no more Spark jobs and staging " +
      "writes than their bounds") {
    val r = freshRunner()
    Seq("fa", "fb", "fc", "fd", "fe", "ff", "fg", "fh")
      .foreach(table200(r, _))
    r.run("CREATE TABLE fk (a INT, b INT) ENGINE=TIANMU")
    r.run("INSERT INTO fk SELECT CAST(id % 10 AS INT), CAST(id AS INT) " +
      "FROM fa_src")
    r.run("CREATE TABLE fj (id INT) ENGINE=TIANMU")
    r.run("INSERT INTO fj VALUES (3), (5), (8)")
    r.run("CREATE TRIGGER fc_bu BEFORE UPDATE ON fc FOR EACH ROW " +
      "SET @fc = @fc + 1")
    r.run("CREATE TRIGGER fd_bd BEFORE DELETE ON fd FOR EACH ROW " +
      "SET @fd = @fd + 1")
    r.run("CREATE TRIGGER fg_au AFTER UPDATE ON fg FOR EACH ROW " +
      "SET @fg = @fg + 1")
    r.run("SET @fc = 0, @fd = 0, @fg = 0")
    // form, statement, rows it touches, the most jobs and staging
    // writes it may run
    val forms = Seq(
      ("DELETE … LIMIT (PK)", "DELETE FROM fa WHERE v < 5 ORDER BY id " +
        "LIMIT 10", 10L, 2, 0),
      ("UPDATE … LIMIT (PK)", "UPDATE fb SET tag = 'u' WHERE v < 5 " +
        "ORDER BY v DESC LIMIT 10", 10L, 2, 0),
      ("DELETE … LIMIT (keyless)", "DELETE FROM fk WHERE a = 1 LIMIT 5",
        5L, 2, 0),
      ("UPDATE … LIMIT (keyless)", "UPDATE fk SET b = -b WHERE a = 2 " +
        "ORDER BY b LIMIT 5", 5L, 2, 0),
      ("UPDATE with triggers", "UPDATE fc SET tag = 't' WHERE v = 3",
        20L, 1, 0),
      ("DELETE with triggers", "DELETE FROM fd WHERE v = 3", 20L, 6, 1),
      ("UPDATE … JOIN", "UPDATE fe JOIN fj ON fe.id = fj.id " +
        "SET fe.tag = 'j'", 3L, 4, 0),
      ("UPDATE … JOIN with triggers", "UPDATE fg JOIN fj ON " +
        "fg.id = fj.id SET fg.tag = 'k'", 3L, 5, 0),
      ("multi-table DELETE", "DELETE fh FROM fh JOIN fj ON fh.id = fj.id",
        3L, 10, 1),
      ("DELETE with a subquery", "DELETE FROM ff WHERE id IN " +
        "(SELECT id FROM fj)", 3L, 2, 0),
      ("plain DELETE", "DELETE FROM fa WHERE v = 7", 20L, 1, 0),
      ("plain UPDATE", "UPDATE fb SET v = v + 1 WHERE v = 8", 20L, 1, 0))
    val seen = forms.map { case (form, sql, want, maxJobs, maxStaged) =>
      val ((n, j), staged) = jobsAndStagings(rowCount(r, sql))
      info(s"$form: $j job(s), $staged staging write(s)")
      assert(n === want, form)
      (form, j, staged, maxJobs, maxStaged)
    }
    seen.foreach { case (form, j, staged, maxJobs, maxStaged) =>
      assert(j <= maxJobs, s"$form ran $j job(s)")
      assert(staged <= maxStaged, s"$form staged $staged frame(s)")
    }
    assert(r.run("SELECT @fc, @fd, @fg").collect().head.toSeq
      .map(String.valueOf) === Seq("20", "20", "3"))
  }

  test("the INSERT and REPLACE forms run no more Spark jobs and staging " +
      "writes than their bounds and keep their results") {
    val r = freshRunner()
    val names = Seq("ia", "ib", "ic", "id", "ie", "ig", "ih", "ii", "ij",
      "il")
    names.foreach(table200(r, _))
    r.run("CREATE TABLE ik (a INT DEFAULT 7, b VARCHAR(8) DEFAULT 'd') " +
      "ENGINE=TIANMU")
    r.run("CREATE TRIGGER il_bi BEFORE INSERT ON il FOR EACH ROW " +
      "SET NEW.tag = 'trg'")
    val start = scan(r, "SELECT id, v, tag FROM ia")
    def row(id: Int, v: Int, tag: String) = Seq(id.toString, v.toString, tag)
    def key(x: Seq[String]) = x.head.toInt
    def v(x: Seq[String]) = x(1).toInt
    val low = start.filter(key(_) < 3)
    // form, statement, table, its contents after the statement in scan
    // order, the result's columns and rows, the most jobs and staging
    // writes it may run
    val forms = Seq(
      ("INSERT VALUES", "INSERT INTO ia VALUES (200, 1, 'a'), (201, 2, 'b')",
        "ia", start ++ Seq(row(200, 1, "a"), row(201, 2, "b")),
        Seq("rows_inserted"), Seq(Seq("ia", "2")), 5, 0),
      ("INSERT SET", "INSERT INTO ib SET id = 200, v = 3, tag = 's'",
        "ib", start :+ row(200, 3, "s"),
        Seq("rows_inserted"), Seq(Seq("ib", "1")), 5, 0),
      ("keyless VALUES ()", "INSERT INTO ik VALUES (), ()",
        "ik", Seq(Seq("7", "d"), Seq("7", "d")),
        Seq("rows_inserted"), Seq(Seq("ik", "2")), 1, 0),
      ("INSERT IGNORE", "INSERT IGNORE INTO ic VALUES (5, 9, 'dup'), " +
        "(200, 9, 'new'), (200, 8, 'twice')",
        "ic", start :+ row(200, 9, "new"),
        Seq("rows_inserted"), Seq(Seq("ic", "1")), 7, 0),
      ("INSERT SELECT", "INSERT INTO id SELECT id + 200, v, 'sel' FROM id " +
        "WHERE id < 3",
        "id", start ++ low.map(x => row(key(x) + 200, v(x), "sel")),
        Seq("rows_inserted"), Seq(Seq("id", "3")), 5, 0),
      ("ODKU VALUES", "INSERT INTO ie VALUES (5, 0, 'o'), (200, 1, 'n') " +
        "ON DUPLICATE KEY UPDATE v = v + 100",
        "ie", start.map(x => if (key(x) == 5) row(5, v(x) + 100, "x")
          else x) :+ row(200, 1, "n"),
        Seq("rows_updated", "rows_inserted"), Seq(Seq("ie", "1", "1")),
        8, 0),
      ("ODKU SELECT", "INSERT INTO ig SELECT id + 198, v, 's' FROM ig " +
        "WHERE id < 3 ON DUPLICATE KEY UPDATE tag = 'u'",
        "ig", start.map(x => if (key(x) >= 198) row(key(x), v(x), "u")
          else x) ++ low.filter(key(_) >= 2)
          .map(x => row(key(x) + 198, v(x), "s")),
        Seq("rows_updated", "rows_inserted"), Seq(Seq("ig", "2", "1")),
        12, 1),
      ("REPLACE VALUES", "REPLACE INTO ih VALUES (5, 50, 'r'), " +
        "(200, 1, 'r')",
        "ih", start.filterNot(key(_) == 5) ++
          Seq(row(5, 50, "r"), row(200, 1, "r")),
        Seq("rows_replaced"), Seq(Seq("ih", "2")), 5, 0),
      ("REPLACE SET", "REPLACE INTO ii SET id = 5, v = 55, tag = 's'",
        "ii", start.filterNot(key(_) == 5) :+ row(5, 55, "s"),
        Seq("rows_replaced"), Seq(Seq("ii", "1")), 2, 0),
      ("REPLACE SELECT", "REPLACE INTO ij SELECT id, v + 1, 'rs' FROM ij " +
        "WHERE id < 3",
        "ij", start.filterNot(key(_) < 3) ++
          low.map(x => row(key(x), v(x) + 1, "rs")),
        Seq("rows_replaced"), Seq(Seq("ij", "3")), 3, 0),
      ("INSERT with a BEFORE trigger", "INSERT INTO il VALUES " +
        "(200, 1, 'a'), (201, 2, 'b')",
        "il", start ++ Seq(row(200, 1, "trg"), row(201, 2, "trg")),
        Seq("rows_inserted"), Seq(Seq("il", "2")), 5, 0))
    val seen = forms.map { case (form, sql, table, contents, cols, result,
        maxJobs, maxStaged) =>
      val ((df, j), staged) = jobsAndStagings {
        val df = r.run(sql)
        df.collect()
        df
      }
      info(s"$form: $j job(s), $staged staging write(s)")
      assert(df.columns.toSeq === "table_name" +: cols, form)
      assert(df.collect().toSeq.map(_.toSeq.map(String.valueOf)) === result,
        form)
      val cs = if (table == "ik") "a, b" else "id, v, tag"
      assert(scan(r, s"SELECT $cs FROM $table") === contents, form)
      (form, j, staged, maxJobs, maxStaged)
    }
    seen.foreach { case (form, j, staged, maxJobs, maxStaged) =>
      assert(j <= maxJobs, s"$form ran $j job(s)")
      assert(staged <= maxStaged, s"$form staged $staged frame(s)")
    }
  }

  test("ROW_COUNT() after every INSERT, REPLACE, LOAD, CTAS, UPDATE and " +
      "DELETE form is the first count of its result") {
    val r = freshRunner()
    table200(r, "rc")
    r.run("CREATE TABLE rcj (id INT) ENGINE=TIANMU")
    r.run("INSERT INTO rcj VALUES (3), (5)")
    val f = textFile("rc.csv", Seq("300,1,l", "301,2,l", "302,3,l"))
    val forms = Seq(
      "INSERT INTO rc VALUES (200, 1, 'a'), (201, 2, 'b')",
      "INSERT INTO rc SET id = 202, v = 1, tag = 's'",
      "INSERT INTO rc SELECT id + 1000, v, 'c' FROM rc WHERE id < 4",
      "INSERT IGNORE INTO rc VALUES (1, 1, 'i'), (203, 1, 'i')",
      "INSERT INTO rc VALUES (1, 1, 'o'), (2, 2, 'o'), (204, 1, 'o') " +
        "ON DUPLICATE KEY UPDATE tag = 'u'",
      "REPLACE INTO rc VALUES (5, 5, 'r'), (6, 6, 'r'), (7, 7, 'r')",
      "REPLACE INTO rc SET id = 8, v = 8, tag = 'r'",
      "REPLACE INTO rc SELECT id, v, 'rs' FROM rc WHERE id BETWEEN 10 AND 13",
      s"LOAD DATA INFILE '$f' INTO TABLE rc FIELDS TERMINATED BY ','",
      "CREATE TABLE rc2 AS SELECT id, v FROM rc WHERE id < 20",
      "CREATE TABLE rc3 (id INT, v INT) SELECT id, v FROM rc WHERE id < 30",
      "UPDATE rc SET v = v + 1 WHERE id < 40",
      "UPDATE rc SET tag = 'l' WHERE id < 50 ORDER BY id LIMIT 3",
      "UPDATE rc JOIN rcj ON rc.id = rcj.id SET rc.tag = 'j'",
      "DELETE FROM rc WHERE id BETWEEN 60 AND 69",
      "DELETE FROM rc WHERE id >= 70 ORDER BY id LIMIT 4",
      "DELETE rc FROM rc JOIN rcj ON rc.id = rcj.id",
      "DELETE FROM rc2 WHERE id IN (SELECT id FROM rcj)")
    forms.foreach { sql =>
      assert(rowCount(r, "DELETE FROM rcj WHERE id < 0") === 0)
      val first = rowCount(r, sql)
      assert(first > 0, sql)
      assert(r.run("SELECT ROW_COUNT()").first().getLong(0) === first, sql)
    }
  }

  test("the ALTER TABLE forms run no more Spark jobs than their bounds " +
      "and keep their results, schemas and contents") {
    import org.apache.spark.sql.types.{DataType, Metadata}
    val r = freshRunner()
    type Field = (String, DataType, Metadata)
    def schemaOf(t: String): Seq[Field] = r.attachedStore(t).read().schema
      .map(f => (f.name, f.dataType, f.metadata))
    // the field CREATE TABLE gives a column definition
    def field(defn: String): Field = {
      r.run(s"CREATE TABLE aref ($defn) ENGINE=TIANMU")
      try schemaOf("aref").head finally r.run("DROP TABLE aref")
    }
    table200(r, "a00")
    val start = scan(r, "SELECT * FROM a00")
    val s0 = schemaOf("a00")
    val Seq(id, _, tag) = s0
    def key(x: Seq[String]) = x.head.toInt
    def v(x: Seq[String]) = x(1).toInt
    // form, setup statements, statement, the table afterwards, the
    // result's columns and rows, the table's schema and its contents in
    // scan order, the most jobs the statement may run
    val forms = Seq(
      ("ADD", Nil, "ALTER TABLE a01 ADD c INT", "a01",
        Seq("table_name", "status"), Seq(Seq("a01", "ADD COLUMN c")),
        s0 :+ field("c INT"), start.map(_ :+ "null"), 1),
      ("ADD … DEFAULT", Nil, "ALTER TABLE a02 ADD c INT DEFAULT 5", "a02",
        Seq("table_name", "status"), Seq(Seq("a02", "ADD COLUMN c")),
        s0 :+ field("c INT DEFAULT 5"), start.map(_ :+ "5"), 1),
      ("ADD … AFTER", Nil, "ALTER TABLE a03 ADD c INT AFTER id", "a03",
        Seq("table_name", "status"), Seq(Seq("a03", "ADD COLUMN c")),
        id +: field("c INT") +: s0.tail,
        start.map(x => x.head +: "null" +: x.tail), 1),
      ("ADD … FIRST", Nil, "ALTER TABLE a04 ADD c INT FIRST", "a04",
        Seq("table_name", "status"), Seq(Seq("a04", "ADD COLUMN c")),
        field("c INT") +: s0, start.map("null" +: _), 1),
      ("DROP", Nil, "ALTER TABLE a05 DROP COLUMN tag", "a05",
        Seq("table_name", "status"), Seq(Seq("a05", "DROP COLUMN tag")),
        s0.take(2), start.map(_.take(2)), 1),
      ("MODIFY", Nil, "ALTER TABLE a06 MODIFY v BIGINT", "a06",
        Seq("table_name", "status"),
        Seq(Seq("a06", "MODIFY COLUMN v BIGINT")),
        Seq(id, field("v BIGINT"), tag), start, 3),
      ("CHANGE", Nil, "ALTER TABLE a07 CHANGE v w INT", "a07",
        Seq("table_name", "status"),
        Seq(Seq("a07", "CHANGE COLUMN v w INT")),
        Seq(id, field("w INT"), tag), start, 1),
      ("SET DEFAULT", Nil, "ALTER TABLE a08 ALTER v SET DEFAULT 7", "a08",
        Seq("table_name", "status"),
        Seq(Seq("a08", "DEFAULT of v set to 7")),
        Seq(id, field("v INT DEFAULT 7"), tag), start, 1),
      ("DROP DEFAULT", Seq("ALTER TABLE a09 ALTER v SET DEFAULT 7"),
        "ALTER TABLE a09 ALTER COLUMN v DROP DEFAULT", "a09",
        Seq("table_name", "status"), Seq(Seq("a09", "DEFAULT of v dropped")),
        s0, start, 1),
      ("ORDER BY", Nil, "ALTER TABLE a10 ORDER BY v, id", "a10",
        Seq("table_name", "status"),
        Seq(Seq("a10", "rows ordered by v, id")), s0,
        start.sortBy(x => (v(x), key(x))), 3),
      ("ADD PRIMARY KEY", Seq("ALTER TABLE a11 DROP PRIMARY KEY"),
        "ALTER TABLE a11 ADD PRIMARY KEY (id)", "a11",
        Seq("table_name", "status"), Seq(Seq("a11", "PRIMARY KEY (id)")),
        s0, start, 0),
      ("DROP PRIMARY KEY", Nil, "ALTER TABLE a12 DROP PRIMARY KEY", "a12",
        Seq("table_name", "status"), Seq(Seq("a12", "PRIMARY KEY dropped")),
        s0, start, 0),
      ("AUTO_INCREMENT=n", Nil, "ALTER TABLE a13 AUTO_INCREMENT = 300",
        "a13", Seq("table_name", "status"),
        Seq(Seq("a13", "AUTO_INCREMENT=300")), s0, start, 0),
      ("ENGINE=", Nil, "ALTER TABLE a14 ENGINE=InnoDB", "a14",
        Seq("table_name", "status"), Seq(Seq("a14", "ENGINE=InnoDB")),
        s0, start, 0),
      ("COMMENT=", Nil, "ALTER TABLE a15 COMMENT = 'forms'", "a15",
        Seq("table_name", "status"),
        Seq(Seq("a15", "COMMENT = 'forms' accepted")), s0, start, 0),
      ("ALGORITHM=COPY, ORDER BY", Nil,
        "ALTER TABLE a16 ALGORITHM=COPY, ORDER BY id DESC", "a16",
        Seq("table_name", "status"), Seq(Seq("a16", "2 alter action(s)")),
        s0, start.sortBy(x => -key(x)), 3),
      ("four clauses", Nil, "ALTER TABLE a17 ADD f INT, ADD g INT, " +
        "DROP COLUMN tag, MODIFY v BIGINT", "a17",
        Seq("table_name", "status"), Seq(Seq("a17", "4 alter action(s)")),
        Seq(id, field("v BIGINT"), field("f INT"), field("g INT")),
        start.map(x => x.take(2) ++ Seq("null", "null")), 3),
      ("RENAME TO, ADD", Nil, "ALTER TABLE a18 RENAME TO a18r, ADD h INT",
        "a18r", Seq("table_name", "status"),
        Seq(Seq("a18r", "2 alter action(s)")),
        s0 :+ field("h INT"), start.map(_ :+ "null"), 1),
      ("CREATE INDEX", Nil, "CREATE INDEX i19 ON a19 (v)", "a19",
        Seq("table_name", "status"),
        Seq(Seq("a19", "secondary INDEX i19 (v) accepted (metadata " +
          "only)")), s0, start, 0),
      ("DROP INDEX", Seq("CREATE INDEX i20 ON a20 (v)"),
        "DROP INDEX i20 ON a20", "a20", Seq("table_name", "status"),
        Seq(Seq("a20", "INDEX i20 dropped (metadata only)")), s0, start, 0),
      ("RENAME TABLE", Nil, "RENAME TABLE a21 TO a21r", "a21r",
        Seq("from", "to"), Seq(Seq("a21", "a21r")), s0, start, 0),
      ("ADD UNIQUE INDEX (InnoDB)", Seq("ALTER TABLE a22 ENGINE=InnoDB"),
        "ALTER TABLE a22 ADD UNIQUE INDEX u22 (id)", "a22",
        Seq("table_name", "status"),
        Seq(Seq("a22", "UNIQUE INDEX u22 (id) accepted (metadata only)")),
        s0, start, 2))
    val seen = forms.map { case (form, setup, sql, table, cols, result,
        schema, contents, maxJobs) =>
      // the statement's first table name is the table it starts from
      table200(r, """\ba\d\d\b""".r.findFirstIn(sql).get)
      setup.foreach(r.run)
      val (df, j) = jobs {
        val df = r.run(sql)
        df.collect()
        df
      }
      info(s"$form: $j job(s)")
      assert(df.columns.toSeq === cols, form)
      assert(df.collect().toSeq.map(_.toSeq.map(String.valueOf)) === result,
        form)
      assert(schemaOf(table) === schema, form)
      assert(scan(r, s"SELECT * FROM $table") === contents, form)
      (form, j, maxJobs)
    }
    seen.foreach { case (form, j, maxJobs) =>
      assert(j <= maxJobs, s"$form ran $j job(s)")
    }
  }

  /** `tz1` (id, ts, v) and `tz2` (id) written at UTC, then the session
    * zone set to +01:00. */
  private def tzTables(r: StatementRunner): Unit = {
    r.run("SET time_zone='+00:00'")
    r.run("CREATE TABLE tz1 (id INT NOT NULL PRIMARY KEY, " +
      "ts TIMESTAMP NULL, v INT) ENGINE=TIANMU")
    r.run("CREATE TABLE tz2 (id INT) ENGINE=TIANMU")
    r.run("INSERT INTO tz1 VALUES (1, '2020-01-01 10:00:00', 1), " +
      "(2, '2020-01-01 11:00:00', 2), (3, '2020-01-01 12:00:00', 3)")
    r.run("INSERT INTO tz2 VALUES (1)")
    r.run("SET time_zone='+01:00'")
  }
  /** tz1's rows as stored (read under UTC): id -> (epoch ms, v). */
  private def tzStored(r: StatementRunner): Map[Int, (Long, Int)] = {
    r.run("SET time_zone='+00:00'")
    try r.run("SELECT id, ts, v FROM tz1").collect().map(x =>
      x.get(0).toString.toInt -> (x.getTimestamp(1).getTime,
        x.get(2).toString.toInt)).toMap
    finally r.run("SET time_zone='+01:00'")
  }
  private def utcMs(hour: Int): Long =
    java.time.Instant.parse(f"2020-01-01T$hour%02d:00:00Z").toEpochMilli

  test("a subquery DELETE under a session time zone keeps the stored " +
      "TIMESTAMPs of the rows it keeps") {
    val r = freshRunner()
    tzTables(r)
    assert(rowCount(r, "DELETE FROM tz1 WHERE id IN (SELECT id FROM " +
      "tz2)") === 1)
    assert(tzStored(r) === Map(2 -> (utcMs(11), 2), 3 -> (utcMs(12), 3)))
  }

  test("a DELETE on a table with triggers under a session time zone " +
      "keeps the stored TIMESTAMPs of the rows it keeps") {
    val r = freshRunner()
    tzTables(r)
    r.run("CREATE TRIGGER tz1_bd BEFORE DELETE ON tz1 FOR EACH ROW " +
      "SET @tzd = OLD.id")
    assert(rowCount(r, "DELETE FROM tz1 WHERE id = 1") === 1)
    assert(r.run("SELECT @tzd").collect().head.get(0).toString === "1")
    assert(tzStored(r) === Map(2 -> (utcMs(11), 2), 3 -> (utcMs(12), 3)))
  }

  test("UPDATE … JOIN under a session time zone updates the joined row") {
    val r = freshRunner()
    tzTables(r)
    assert(rowCount(r, "UPDATE tz1 JOIN tz2 ON tz1.id = tz2.id " +
      "SET tz1.v = 99") === 1)
    assert(tzStored(r) === Map(1 -> (utcMs(10), 99), 2 -> (utcMs(11), 2),
      3 -> (utcMs(12), 3)))
  }

  test("a multi-table DELETE under a session time zone deletes the " +
      "joined row") {
    val r = freshRunner()
    tzTables(r)
    assert(rowCount(r, "DELETE tz1 FROM tz1 JOIN tz2 ON tz1.id = " +
      "tz2.id") === 1)
    assert(tzStored(r) === Map(2 -> (utcMs(11), 2), 3 -> (utcMs(12), 3)))
  }

  test("after UPDATE … JOIN and a multi-table DELETE the table's view " +
      "shows the session zone and views over it read the new rows") {
    val r = freshRunner()
    tzTables(r)
    r.run("CREATE VIEW tzv AS SELECT id, v FROM tz1")
    def shown(id: Int): Long = r.run(s"SELECT ts FROM tz1 WHERE id = $id")
      .collect().head.getTimestamp(0).getTime
    val local = shown(2)
    assert(local === utcMs(12), "the view does not shift into +01:00")
    r.run("UPDATE tz1 JOIN tz2 ON tz1.id = tz2.id SET tz1.v = 99")
    assert(shown(2) === local)
    assert(r.run("SELECT v FROM tzv WHERE id = 1").collect().head
      .get(0).toString === "99")
    r.run("DELETE tz1 FROM tz1 JOIN tz2 ON tz1.id = tz2.id")
    assert(shown(2) === local)
    assert(r.run("SELECT id FROM tzv").collect().map(_.get(0).toString)
      .toSeq.sorted === Seq("2", "3"))
    r.run("ALTER TABLE tz1 ALGORITHM=COPY, ORDER BY id DESC")
    assert(shown(2) === local)
    assert(r.run("SELECT id FROM tzv").collect().map(_.get(0).toString)
      .toSeq === Seq("3", "2"))
  }

  test("a statement leaves no staging directory behind") {
    def stagings = Option(new java.io.File(System.getProperty(
      "java.io.tmpdir")).list()).toSeq.flatten
      .count(_.startsWith("graft-stage-"))
    val r = freshRunner()
    r.run("CREATE TABLE sk (a INT, b INT) ENGINE=TIANMU")
    r.run("INSERT INTO sk VALUES (1,1),(2,2),(1,1),(3,3)")
    r.run("CREATE TABLE sk2 (a INT) ENGINE=TIANMU")
    r.run("INSERT INTO sk2 VALUES (2)")
    val s0 = stagings
    assert(rowCount(r, "DELETE FROM sk WHERE a = 1 LIMIT 1") === 1)
    assert(stagings === s0, "a LIMIT DELETE left a staging directory")
    assert(rowCount(r, "DELETE sk FROM sk JOIN sk2 ON sk.a = sk2.a") === 1)
    assert(stagings === s0, "a multi-table DELETE left a staging directory")
    r.run("CREATE TABLE sk3 (id BIGINT) ENGINE=TIANMU")
    spark.range(0, DeltaStore.BufferCap + 1).createOrReplaceTempView("sk_big")
    assert(rowCount(r, "INSERT INTO sk3 SELECT id FROM sk_big") ===
      DeltaStore.BufferCap + 1)
    assert(stagings === s0, "a staged INSERT … SELECT left its staging " +
      "directory")
    assert(scan(r, "SELECT a, b FROM sk").map(_.mkString(",")) ===
      Seq("1,1", "3,3"))
  }
}
