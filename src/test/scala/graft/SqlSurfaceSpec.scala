package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL entry point: registered views + custom functions callable from
  * spark.sql — the dialect surface a reference user would migrate to. */
class SqlSurfaceSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  test("registerAll exposes every table and the custom functions") {
    Engine.registerAll(spark, sf)
    val row = spark.sql(
      """SELECT r_name, group_concat(n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name LIMIT 1""".stripMargin).first()
    assert(row.getString(1).split(",").nonEmpty)
    val sh = spark.sql(
      "SELECT simhash64(text) AS h FROM documents LIMIT 3").collect()
    assert(sh.forall(r => r.getLong(0) != 0L))
  }

  test("SQL group_concat truncates at the MySQL default max_len") {
    Engine.registerAll(spark, sf)
    val row = spark.sql(
      """SELECT length(group_concat(c_name)) AS len, count(*) AS n
        |FROM customer""".stripMargin).first()
    // all customer names far exceed 1024 chars; the registered SQL
    // function must apply group_concat_max_len (MySQL default 1024)
    assert(row.getAs[Long]("n") * 18 > functions.Registry.GroupConcatMaxLen)
    assert(row.getAs[Int]("len") === functions.Registry.GroupConcatMaxLen)
  }

  test("simhash is stable and near-identical texts collide closely") {
    Engine.registerAll(spark, sf)
    val h = spark.sql(
      """SELECT bit_count(simhash64('the quick brown fox jumps') ^
        |                 simhash64('the quick brown fox jumped')) AS d,
        |        bit_count(simhash64('the quick brown fox jumps') ^
        |                 simhash64('completely unrelated words here')) AS far
        |""".stripMargin).first()
    assert(h.getAs[Int]("d") < h.getAs[Int]("far"))
  }

  test("full TPC-H-style SQL runs through the view catalog") {
    Engine.registerAll(spark, sf)
    val n = spark.sql(
      """SELECT l_returnflag, count(*) n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY l_returnflag""".stripMargin).count()
    assert(n > 0)
  }

  test("CREATE VIEW / temp tables work through plain SQL (create_view tier)") {
    Engine.registerAll(spark, sf)
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW rich_customers AS
      |SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > 5000""".stripMargin)
    val viaView = spark.sql(
      "SELECT count(*) FROM rich_customers").first().getLong(0)
    val direct = Engine.table(spark, sf, "customer")
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 5000).count()
    assert(viaView === direct && viaView > 0)
    // view composes with joins like a base table
    val joined = spark.sql("""SELECT count(*) FROM rich_customers r
      |JOIN orders o ON r.c_custkey = o.o_custkey""".stripMargin)
      .first().getLong(0)
    assert(joined > 0)
  }

  test("dedup kernels are SQL-callable and consistent with each other") {
    Engine.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT jaccard_long(mh.hs, mh.hs) AS self_jac,
        |       sig_agree(mh.sig, mh.sig) AS self_agree,
        |       size(band_hashes64(mh.sig)) AS n_bands
        |FROM (SELECT minhash_shingle_sig(lower(text)) AS mh
        |      FROM documents LIMIT 5)""".stripMargin).collect()
    r.foreach { row =>
      assert(row.getAs[Double]("self_jac") === 1.0)
      assert(row.getAs[Int]("self_agree") === 32)
      assert(row.getAs[Int]("n_bands") === 8)
    }
  }

  test("statement front-end: LOAD DATA INFILE parses clauses and appends") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_stmt_load").toString
    val nation = Engine.table(spark, sf, "nation")
    val lines = nation.orderBy("n_nationkey").collect()
      .map(_.mkString("\t"))
    Files.write(Paths.get(tmp, "nation.tsv"),
      (lines :+ "bad_row\tX").mkString("\n").getBytes)
    val store = new sources.DeltaStore(spark, s"$tmp/store")
    store.writeBase(nation.limit(0))
    val runner = new sources.StatementRunner(spark)
    runner.attach("stmt_nation", store)
    val summary = runner.run(
      s"LOAD DATA INFILE '$tmp/nation.tsv' INTO TABLE stmt_nation " +
        "FIELDS TERMINATED BY '\\t' LINES TERMINATED BY '\\n'").first()
    assert(summary.getAs[Long]("rows_loaded") === nation.count())
    assert(summary.getAs[Long]("rows_rejected") === 1L)
    // the temp view now serves the loaded rows through plain SQL
    val back = runner.run("SELECT * FROM stmt_nation ORDER BY n_nationkey")
    assert(back.collect().toSeq ===
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("statement front-end: SELECT INTO OUTFILE exports, rest passes through") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_stmt_out").toString
    Engine.registerAll(spark, sf)
    val runner = new sources.StatementRunner(spark)
    val summary = runner.run(
      s"""SELECT r_regionkey, r_name INTO OUTFILE '$tmp/regions'
         |FIELDS TERMINATED BY ';' FROM region""".stripMargin).first()
    assert(summary.getAs[Long]("rows_exported") === 5L)
    val firstLine = scala.io.Source.fromFile(
      new java.io.File(s"$tmp/regions").listFiles()
        .filter(_.getName.startsWith("part-")).head).getLines().next()
    assert(firstLine.count(_ == ';') === 1)
    // passthrough: an ordinary statement is just spark.sql
    assert(runner.run("SELECT count(*) AS n FROM region").first()
      .getLong(0) === 5L)
  }

  test("statement front-end: verbatim MySQL/MTR-style SELECT text runs " +
      "through the dialect rewrite") {
    Engine.registerAll(spark, sf)
    val runner = new sources.StatementRunner(spark)
    // # comment (MySQL hash comments; shape from the reference's
    // mysql-test/suite/tianmu SELECT files)
    val c = runner.run(
      "SELECT count(*) AS n FROM region # trailing hash comment\n")
      .first().getLong(0)
    assert(c === 5L)
    // && / || are logical AND/OR in MySQL's default sql_mode
    val andOr = runner.run(
      """SELECT n_name FROM nation
        |WHERE (n_regionkey = 0 && n_nationkey < 6) || n_nationkey = 24
        |ORDER BY n_nationkey""".stripMargin).collect().map(_.getString(0))
    val expected = Engine.table(spark, sf, "nation")
      .where("(n_regionkey = 0 AND n_nationkey < 6) OR n_nationkey = 24")
      .orderBy("n_nationkey").select("n_name").collect().map(_.getString(0))
    assert(andOr.toSeq === expected.toSeq && andOr.nonEmpty)
    // literals are never rewritten: 'a && b' stays a three-word string
    assert(runner.run("SELECT 'a && b' AS s").first().getString(0) === "a && b")
    // LIMIT offset,count
    val lim = runner.run(
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2,3")
      .collect().map(_.getInt(0)).toSeq
    assert(lim === Seq(2, 3, 4))
    // FROM DUAL
    assert(runner.run("SELECT 1 + 1 AS two FROM DUAL").first()
      .getAs[Number]("two").intValue === 2)
    // and the same MySQL-isms hold on the INTO OUTFILE path's SELECT
    val tmp = java.nio.file.Files.createTempDirectory("graft_dialect_out")
    val out = runner.run(
      s"""SELECT n_name INTO OUTFILE '$tmp/nations'
         |FROM nation WHERE n_regionkey = 1 && n_nationkey < 3 # amer""".stripMargin)
      .first()
    assert(out.getAs[Long]("rows_exported") ===
      Engine.table(spark, sf, "nation")
        .where("n_regionkey = 1 AND n_nationkey < 3").count())
  }

  test("statement front-end: SELECT ROUGHLY answers from the sidecar and " +
      "matches exact recomputation") {
    import org.apache.spark.sql.functions._
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_roughly").toString
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
    sources.StatsSidecar.writeWithStats(li, s"$scratch/li", 4096,
      Seq("l_quantity", "l_extendedprice"),
      clusterBy = Some(col("l_quantity")))
    val runner = new sources.StatementRunner(spark)
    runner.attachPacked("li_rough", s"$scratch/li")
    val r = runner.run(
      """SELECT ROUGHLY COUNT(*), MIN(l_quantity), MAX(l_quantity),
        |AVG(l_extendedprice) FROM li_rough""".stripMargin).first()
    val exact = li.agg(count(lit(1)), min("l_quantity"), max("l_quantity"),
      (sum(floor(col("l_extendedprice") * 10000.0 + 0.5).cast("long"))
        .cast("double") / 10000.0) / count(col("l_extendedprice"))).first()
    assert(r.getAs[Long]("count_star") === exact.getLong(0))
    assert(r.getAs[Double]("min_l_quantity") === exact.getDouble(1))
    assert(r.getAs[Double]("max_l_quantity") === exact.getDouble(2))
    assert(math.abs(r.getAs[Double]("avg_l_extendedprice") - exact.getDouble(3))
      < 1e-6)
    // WHERE BETWEEN routes through the hybrid rough+exact count
    val n = runner.run(
      "SELECT ROUGHLY COUNT(*) AS n FROM li_rough " +
        "WHERE l_quantity BETWEEN 5.0 AND 15.0").first().getAs[Long]("n")
    assert(n === li.where("l_quantity BETWEEN 5.0 AND 15.0").count())
    // one-sided and equality comparisons take the same hybrid walk
    assert(runner.run("SELECT ROUGHLY COUNT(*) AS n FROM li_rough " +
      "WHERE l_quantity >= 40.0").first().getAs[Long]("n")
      === li.where("l_quantity >= 40.0").count())
    assert(runner.run("SELECT ROUGHLY COUNT(*) AS n FROM li_rough " +
      "WHERE l_quantity <= 3.0").first().getAs[Long]("n")
      === li.where("l_quantity <= 3.0").count())
    assert(runner.run("SELECT ROUGHLY COUNT(*) AS n FROM li_rough " +
      "WHERE l_quantity = 25.0").first().getAs[Long]("n")
      === li.where("l_quantity = 25.0").count())
    // unsupported shapes refuse loudly
    intercept[IllegalArgumentException] {
      runner.run("SELECT ROUGHLY COUNT(*) FROM never_packed")
    }
    intercept[UnsupportedOperationException] {
      runner.run("SELECT ROUGHLY SUM(l_quantity) FROM li_rough " +
        "WHERE l_quantity BETWEEN 1 AND 2")
    }
    intercept[UnsupportedOperationException] {
      runner.run("SELECT ROUGHLY STDDEV(l_quantity) FROM li_rough")
    }
  }

  test("statement front-end: SELECT ROUGHLY WHERE on a column without " +
      "sidecar stats refuses instead of counting 0") {
    import org.apache.spark.sql.functions._
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_roughly_nostats").toString
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
    sources.StatsSidecar.writeWithStats(li, s"$scratch/li", 4096,
      Seq("l_quantity"))
    val runner = new sources.StatementRunner(spark)
    runner.attachPacked("li_nostats", s"$scratch/li")
    for (w <- Seq("l_extendedprice BETWEEN 1 AND 2", "l_extendedprice >= 1",
        "l_extendedprice LIKE 'x%'")) {
      val e = intercept[IllegalArgumentException] {
        runner.run(s"SELECT ROUGHLY COUNT(*) FROM li_nostats WHERE $w")
      }
      assert(e.getMessage === "SELECT ROUGHLY: no sidecar stats for " +
        "column(s) l_extendedprice")
    }
    assert(runner.run("SELECT ROUGHLY COUNT(*) AS n FROM li_nostats " +
      "WHERE l_quantity BETWEEN 1 AND 2").first().getAs[Long]("n")
      === li.where("l_quantity BETWEEN 1 AND 2").count())
  }

  test("statement front-end: unsupported clauses fail fast, loudly") {
    val runner = new sources.StatementRunner(spark)
    val store = new sources.DeltaStore(spark,
      java.nio.file.Files.createTempDirectory("graft_stmt_x").toString)
    store.writeBase(Engine.table(spark, sf, "region").limit(0))
    runner.attach("stmt_region_x", store)
    intercept[UnsupportedOperationException] {
      runner.run("LOAD DATA INFILE '/tmp/x' REPLACE INTO TABLE stmt_region_x")
    }
    // IGNORE n LINES is a SUPPORTED load clause now (skip-lines read
    // path) — the missing fixture is the only failure left here
    intercept[java.io.FileNotFoundException] {
      runner.run(
        "LOAD DATA INFILE '/tmp/x' INTO TABLE stmt_region_x IGNORE 1 LINES")
    }
    intercept[IllegalArgumentException] {
      runner.run("LOAD DATA INFILE '/tmp/x' INTO TABLE never_attached")
    }
    // MULTI-char custom record terminators are export-only; loading
    // must refuse (single-char ones load via Spark CSV's lineSep —
    // issue1209's ';')
    intercept[UnsupportedOperationException] {
      runner.run("LOAD DATA INFILE '/tmp/x' INTO TABLE stmt_region_x " +
        "LINES TERMINATED BY 'EOL'")
    }
  }

  test("statement front-end: INSERT/DELETE/UPDATE statements edit the " +
      "attached store with SQL semantics") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dml_stmt").toString
    val store = new DeltaStore(spark, tmp)
    store.writeBase(Engine.table(spark, sf, "nation"))
    runner.attach("dml_nation", store)

    // column-list INSERT: unmentioned column arrives NULL
    val ins = runner.run(
      "INSERT INTO dml_nation (n_nationkey, n_name) VALUES (90, 'ATLANTIS')")
    assert(ins.first().getAs[Long]("rows_inserted") === 1L)
    val row = store.read().filter(col("n_nationkey") === 90).first()
    assert(row.getAs[String]("n_name") === "ATLANTIS")
    assert(row.isNullAt(row.fieldIndex("n_regionkey")))

    // old-row UPDATE semantics: a swap must not see half-updated values
    val before = store.read().filter(col("n_nationkey") === 3).first()
    val (oldName, oldRegion) =
      (before.getAs[String]("n_name"), before.getAs[Number]("n_regionkey"))
    runner.run("UPDATE dml_nation SET n_nationkey = n_regionkey, " +
      "n_regionkey = n_nationkey WHERE n_nationkey = 3")
    val after = store.read().filter(col("n_name") === oldName).first()
    assert(after.getAs[Number]("n_nationkey").longValue()
      === oldRegion.longValue(), "nationkey must take the OLD regionkey")
    assert(after.getAs[Number]("n_regionkey").longValue() === 3L,
      "regionkey must take the OLD nationkey (old-row semantics)")

    // DELETE with WHERE
    val del = runner.run("DELETE FROM dml_nation WHERE n_nationkey = 90")
    assert(del.first().getAs[Long]("rows_deleted") === 1L)
    assert(store.read().filter(col("n_nationkey") === 90).count() === 0)

    // DELETE without WHERE truncates (schema survives)
    runner.run("DELETE FROM dml_nation")
    assert(store.read().count() === 0)
    assert(store.read().schema.fieldNames.contains("n_name"))

    intercept[IllegalArgumentException] {
      runner.run("INSERT INTO never_attached VALUES (1)")
    }
    intercept[IllegalArgumentException] {
      runner.run("UPDATE dml_nation SET no_such_col = 1 WHERE 1 = 1")
    }
  }

  test("statement front-end: CTAS materializes a managed table, DROP " +
      "removes it and its files") {
    import graft.sources.StatementRunner
    Engine.registerAll(spark, sf)
    val runner = new StatementRunner(spark)
    val created = runner.run(
      "CREATE TABLE ctas_asia AS SELECT n_nationkey, n_name FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'")
      .first()
    assert(created.getAs[Long]("rows_created") > 0)
    // queryable through the runner's catalog, listed, describable
    val n = runner.run("SELECT COUNT(*) AS n FROM ctas_asia")
      .first().getLong(0)
    assert(n === created.getAs[Long]("rows_created"))
    assert(runner.run("SHOW TABLES").collect()
      .map(_.getString(0)).contains("ctas_asia"))
    // DML works against it like any attached table
    runner.run("DELETE FROM ctas_asia WHERE n_nationkey = 8")
    // duplicate CREATE refuses
    intercept[IllegalArgumentException] {
      runner.run("CREATE TABLE ctas_asia AS SELECT 1 AS x")
    }
    val dropped = runner.run("DROP TABLE ctas_asia").first()
    assert(dropped.getString(1) === "dropped")
    assert(!runner.run("SHOW TABLES").collect()
      .map(_.getString(0)).contains("ctas_asia"))
    assert(runner.run("DROP TABLE IF EXISTS ctas_asia")
      .first().getString(1) === "not attached")
  }

  test("statement front-end: OPTIMIZE folds the delta, ANALYZE publishes " +
      "a stats view") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_maint_stmt").toString
    val store = new DeltaStore(spark, tmp)
    val r = Engine.table(spark, sf, "region")
    store.writeBase(r.limit(0))
    store.append(r)
    runner.attach("maint_region", store)
    assert(store.deltaCount() === r.count())
    val opt = runner.run("OPTIMIZE TABLE maint_region").first()
    assert(opt.getString(3).startsWith("OK"))
    assert(store.deltaCount() === 0)
    assert(store.read().count() === r.count())
    val an = runner.run("ANALYZE TABLE maint_region").first()
    assert(an.getString(3).contains("maint_region__stats"))
    val stats = spark.table("maint_region__stats").collect()
      .map(row => row.getString(0) -> row.getAs[Long]("n_distinct")).toMap
    assert(stats("r_regionkey") === r.count())
  }

  test("statement front-end: INSERT … SELECT appends through the store, " +
      "including self-referencing inserts") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    Engine.registerAll(spark, sf)
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_insel_stmt").toString
    val store = new DeltaStore(spark, tmp)
    val nation = Engine.table(spark, sf, "nation")
    store.writeBase(nation)
    runner.attach("insel_nation", store)
    // column-list form from a foreign table, with expressions
    val ins = runner.run(
      """INSERT INTO insel_nation (n_nationkey, n_name)
        |SELECT r_regionkey + 100, r_name FROM region""".stripMargin).first()
    assert(ins.getAs[Long]("rows_inserted") === 5L)
    val added = store.read().filter(col("n_nationkey") >= 100)
    assert(added.count() === 5L)
    assert(added.filter(col("n_regionkey").isNull).count() === 5L)
    // self-referencing insert (Halloween case): reads t while writing t;
    // source row count is fixed BEFORE the append
    val n0 = store.read().count()
    val self = runner.run(
      """INSERT INTO insel_nation
        |SELECT n_nationkey + 1000, n_name, n_regionkey
        |FROM insel_nation""".stripMargin).first()
    assert(self.getAs[Long]("rows_inserted") === n0)
    assert(store.read().count() === 2 * n0)
    // arity mismatch refuses
    intercept[IllegalArgumentException] {
      runner.run("INSERT INTO insel_nation SELECT r_regionkey FROM region")
    }
  }

  test("statement front-end: REPLACE INTO and INSERT … ON DUPLICATE KEY " +
      "UPDATE honor the declared PRIMARY KEY") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_repups_stmt").toString
    val store = new DeltaStore(spark, tmp)
    store.writeBase(Engine.table(spark, sf, "nation"))
    runner.attach("ru_nation", store)
    // REPLACE without any unique key cannot conflict — MySQL runs it
    // as a plain INSERT (round 17; trigger.test replaces into keyless
    // tables). ON DUPLICATE KEY still refuses without a PK below.
    val keylessBefore = store.read().count()
    runner.run("REPLACE INTO ru_nation VALUES (971, 'KEYLESS', 1)")
    assert(store.read().count() === keylessBefore + 1)
    runner.run("DELETE FROM ru_nation WHERE n_nationkey = 971")
    runner.run("ALTER TABLE ru_nation ADD PRIMARY KEY (n_nationkey)")
    val n0 = store.read().count()
    // REPLACE: one existing key replaced whole, one new key inserted
    val rep = runner.run("REPLACE INTO ru_nation VALUES " +
      "(3, 'REPLACED', 9), (990, 'NEWLAND', 0)").first()
    assert(rep.getAs[Long]("rows_replaced") === 2L)
    assert(store.read().count() === n0 + 1)
    val r3 = store.read().filter(col("n_nationkey") === 3).first()
    assert(r3.getAs[String]("n_name") === "REPLACED")
    assert(r3.getAs[Number]("n_regionkey").intValue() === 9)
    // ON DUPLICATE KEY UPDATE: bare column = OLD row, VALUES(col) = new;
    // unassigned columns keep base values
    val up = runner.run("INSERT INTO ru_nation VALUES " +
      "(3, 'ignored', 30), (991, 'FRESH', 2) " +
      "ON DUPLICATE KEY UPDATE n_regionkey = n_regionkey + VALUES(n_regionkey)")
      .first()
    assert(up.getAs[Long]("rows_updated") === 1L)
    assert(up.getAs[Long]("rows_inserted") === 1L)
    val r3b = store.read().filter(col("n_nationkey") === 3).first()
    assert(r3b.getAs[String]("n_name") === "REPLACED",
      "unassigned column must keep its existing value")
    assert(r3b.getAs[Number]("n_regionkey").intValue() === 39,
      "old value 9 + incoming 30 (VALUES ref)")
    assert(store.read().filter(col("n_nationkey") === 991).count() === 1)
  }

  test("statement front-end: CREATE TABLE with column defs opens the " +
      "verbatim MTR flow; INSERT IGNORE dedups against the PK") {
    import graft.sources.StatementRunner
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    // the engine rejects secondary KEY clauses under the server default
    // (reference ER_TIANMU_NOT_SUPPORTED_SECONDARY_INDEX, issue1185);
    // tianmu_no_key_error=ON downgrades them to inert metadata —
    // the drop_index.test master.opt configuration
    intercept[UnsupportedOperationException] {
      runner.run(
        """CREATE TABLE mtr_t1 (id BIGINT NOT NULL, label VARCHAR(32),
          |  PRIMARY KEY (id), KEY idx_label (label)) ENGINE=TIANMU"""
          .stripMargin)
    }
    runner.run("SET SESSION tianmu_no_key_error=ON")
    val created = runner.run(
      """CREATE TABLE mtr_t1 (
        |  id BIGINT NOT NULL,
        |  label VARCHAR(32),
        |  qty DECIMAL(12,2),
        |  big_u BIGINT UNSIGNED,
        |  PRIMARY KEY (id),
        |  KEY idx_label (label)
        |) ENGINE=TIANMU""".stripMargin).first()
    assert(created.getAs[Long]("n_columns") === 4L)
    assert(created.getAs[String]("primary_key") === "id")
    // §1.2 type mapping surfaces through DESCRIBE
    val desc = runner.run("DESCRIBE mtr_t1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("qty") === "DECIMAL(12,2)")
    // declared type renders faithfully; storage is DEC(20,0) per §1.2
    assert(desc("big_u") === "BIGINT UNSIGNED")
    // empty but queryable; INSERT VALUES fills it
    assert(runner.run("SELECT COUNT(*) AS n FROM mtr_t1")
      .first().getLong(0) === 0L)
    runner.run(
      "INSERT INTO mtr_t1 VALUES (1, 'a', 1.5, 10), (2, 'b', 2.5, 20)")
    // INSERT IGNORE: existing key + in-batch duplicate both skipped
    val ig = runner.run("INSERT IGNORE INTO mtr_t1 VALUES " +
      "(2, 'dup-existing', 0, 0), (3, 'c', 3.5, 30), " +
      "(3, 'dup-in-batch', 0, 0)").first()
    assert(ig.getAs[Long]("rows_inserted") === 1L)
    val rows = runner.run("SELECT id, label FROM mtr_t1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // DROP removes the runner-created files
    assert(runner.run("DROP TABLE mtr_t1").first().getString(1) === "dropped")
    // duplicate-name CREATE refuses; bad column defs refuse
    runner.run("CREATE TABLE mtr_t2 (x INT)")
    intercept[IllegalArgumentException] {
      runner.run("CREATE TABLE mtr_t2 (y INT)")
    }
    intercept[IllegalArgumentException] {
      runner.run("CREATE TABLE mtr_t3 (PRIMARY KEY (nope))")
    }
  }

  test("statement front-end: the reference's insert_select MTR flow " +
      "replays statement-for-statement") {
    // Mirrors mysql-test/suite/tianmu/t/insert_select.test's shapes
    // (cited, not copied wholesale): keyed CREATE, INSERT…SELECT
    // DISTINCT into a second table, doubling self-inserts, aliased
    // self-reads, and a cross-join insert.
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("create table mtr_is1 (bandID MEDIUMINT NOT NULL " +
      "PRIMARY KEY, payoutID SMALLINT NOT NULL)")
    runner.run("insert into mtr_is1 (bandID,payoutID) VALUES " +
      "(1,6),(2,6),(3,4),(4,9),(5,10),(6,1),(7,12),(8,12)")
    runner.run(
      "create table mtr_is2 (payoutID SMALLINT NOT NULL PRIMARY KEY)")
    runner.run(
      "insert into mtr_is2 (payoutID) SELECT DISTINCT payoutID FROM mtr_is1")
    val payouts = runner.run("select payoutID from mtr_is2 order by payoutID")
      .collect().map(_.getShort(0).toInt).toSeq
    assert(payouts === Seq(1, 4, 6, 9, 10, 12))
    // self-insert doubles; aliased self-read doubles again
    runner.run("create table mtr_is3 (a int not null)")
    runner.run("insert into mtr_is3 values (1),(2),(4),(5)")
    runner.run("insert into mtr_is3 select * from mtr_is3")
    assert(runner.run("select count(*) as n from mtr_is3")
      .first().getLong(0) === 8L)
    runner.run("insert into mtr_is3 select * from mtr_is3 as t2")
    assert(runner.run("select count(*) as n from mtr_is3")
      .first().getLong(0) === 16L)
    // cross-join insert (t1,t2 product) lands |t1|×|t2| rows
    runner.run("create table mtr_is4 (a int not null)")
    runner.run("insert into mtr_is4 values (7),(8)")
    runner.run(
      "insert into mtr_is4 select mtr_is3.a from mtr_is3, mtr_is4 t")
    assert(runner.run("select count(*) as n from mtr_is4")
      .first().getLong(0) === 2L + 16L * 2L)
    // bare `KEY` column synonym (insert_select.test: varchar(5) key)
    runner.run("create table mtr_is5 (f1 VARCHAR(5) KEY)")
    runner.run("insert ignore into mtr_is5 values ('2000'),('2000')")
    assert(runner.run("select count(*) as n from mtr_is5")
      .first().getLong(0) === 1L)
    Seq("mtr_is1", "mtr_is2", "mtr_is3", "mtr_is4", "mtr_is5")
      .foreach(t => runner.run(s"drop table $t"))
  }

  test("statement front-end: INSERT…SET and row-limited DELETE/UPDATE " +
      "LIMIT forms (reference insert.test / delete.test shapes)") {
    import graft.sources.StatementRunner
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    runner.run("create table mtr_lim (a INT NOT NULL PRIMARY KEY, " +
      "b VARCHAR(10))")
    // INSERT … SET names columns; unmentioned arrive NULL
    runner.run("insert into mtr_lim set a=1")
    runner.run("INSERT INTO mtr_lim SET b = 'two', a = 2")
    runner.run("insert into mtr_lim set a=3, b='three'")
    runner.run("insert into mtr_lim set a=4, b='three'")
    val r1 = runner.run("select b from mtr_lim where a = 1").first()
    assert(r1.isNullAt(0))
    assert(runner.run("select b from mtr_lim where a = 2")
      .first().getString(0) === "two")
    // DELETE … ORDER BY … LIMIT 1 drops exactly the first match
    val del = runner.run(
      "DELETE FROM mtr_lim WHERE b = 'three' ORDER BY a DESC LIMIT 1")
      .first()
    assert(del.getAs[Long]("rows_deleted") === 1L)
    val left = runner.run("select a from mtr_lim order by a")
      .collect().map(_.getInt(0)).toSeq
    assert(left === Seq(1, 2, 3), "DESC order must doom a=4, not a=3")
    // UPDATE … LIMIT n touches exactly n rows (PK order when no ORDER BY)
    val up = runner.run(
      "UPDATE mtr_lim SET b = 'hit' WHERE a >= 1 LIMIT 2").first()
    assert(up.getAs[Long]("rows_updated") === 2L)
    val hits = runner.run("select a from mtr_lim where b = 'hit' order by a")
      .collect().map(_.getInt(0)).toSeq
    assert(hits === Seq(1, 2))
    // without a PK, DELETE … LIMIT synthesizes row identity (staged
    // rowid — MySQL's physical-rowid behavior) and deletes exactly n
    val store2 = new graft.sources.DeltaStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lim2").toString)
    store2.writeBase(Engine.table(spark, sf, "region"))
    runner.attach("mtr_lim2", store2)
    val d2 = runner.run("DELETE FROM mtr_lim2 LIMIT 1").first()
    assert(d2.getAs[Long]("rows_deleted") === 1L)
    assert(store2.read().count() === 4L)
    // …including exactly one copy of duplicate rows (no key to speak of)
    store2.append(store2.read().limit(1))
    val before = store2.read().count()
    runner.run("DELETE FROM mtr_lim2 LIMIT 1")
    assert(store2.read().count() === before - 1)
    // UPDATE … LIMIT without a PK updates exactly n rows through the
    // staged-rowid identity (issue781.test's keyless shape)
    val u2 = runner.run("UPDATE mtr_lim2 SET r_name = 'x' LIMIT 1").first()
    assert(u2.getAs[Long]("rows_updated") === 1L)
    assert(store2.read().filter("r_name = 'x'").count() === 1L)
    runner.run("drop table mtr_lim")
  }

  test("statement front-end: ALTER TABLE ADD/DROP COLUMN and TRUNCATE " +
      "rewrite the attached store") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_alter_stmt").toString
    val store = new DeltaStore(spark, tmp)
    store.writeBase(Engine.table(spark, sf, "region"))
    runner.attach("alt_region", store)
    // ADD COLUMN with DEFAULT backfills existing rows
    runner.run("ALTER TABLE alt_region ADD COLUMN pop BIGINT DEFAULT 7")
    assert(store.read().filter(col("pop") === 7L).count() === 5L)
    // ADD COLUMN without DEFAULT arrives NULL; INSERT can then fill it
    runner.run("ALTER TABLE alt_region ADD note VARCHAR(16)")
    assert(store.read().filter(col("note").isNull).count() === 5L)
    runner.run("INSERT INTO alt_region VALUES (90, 'NEWREG', 1, 'fresh')")
    assert(store.read().filter(col("note") === "fresh").count() === 1L)
    // DROP COLUMN removes it from the schema (unknown column refuses)
    runner.run("ALTER TABLE alt_region DROP COLUMN pop")
    assert(!store.read().columns.contains("pop"))
    intercept[IllegalArgumentException] {
      runner.run("ALTER TABLE alt_region DROP COLUMN no_such")
    }
    // TRUNCATE TABLE drops the rows, keeps the evolved schema
    runner.run("TRUNCATE TABLE alt_region")
    assert(store.read().count() === 0)
    assert(store.read().columns.toSeq ===
      Seq("r_regionkey", "r_name", "note"))
  }

  test("statement front-end: strict-mode out-of-range INSERT rejection " +
      "and true UNSIGNED ranges (out_of_range_issue1151.test)") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    // DECISION (round 17): engineless CREATEs default to tianmu, whose
    // BIGINT UNSIGNED max is capped at the signed int64 bound to match
    // the reference's one-int64-cell storage (its issue #1236, pinned
    // by unsigned_type.test in the MTR corpus). This test pins TRUE
    // MySQL u64 range, so it declares engine=innodb explicitly — the
    // same mixed-engine split the reference's own suite uses. The
    // tianmu-cap branch is asserted at the end of this test and
    // oracle-gated by q_sql_unsigned_cap.
    runner.run("create table oor (a tinyint, b tinyint unsigned, " +
      "c int, d bigint unsigned) engine=innodb")
    // in-range values land (full MySQL ranges, incl. unsigned tops the
    // reference's tianmu engine cannot store — its issue #1236). The
    // 32/64-bit MINIMA are excluded: the engine reserves them as its
    // NULL sentinels exactly like the reference (common_definitions.h
    // NULL_VALUE_32/64; integer_range.test rejects -2147483648)
    runner.run("insert into oor values (-128, 0, -2147483647, 0)")
    runner.run("insert into oor values (127, 255, 2147483647, " +
      "18446744073709551615)")
    assert(runner.run("select count(*) as n from oor")
      .first().getLong(0) === 2L)
    val top = runner.run(
      "select max(d) as m from oor").first().getDecimal(0)
    assert(top.toBigInteger.toString === "18446744073709551615")
    // every overflow rejects the statement (error 1264 analog), and the
    // table is untouched
    for (bad <- Seq(
      "insert into oor values (-129, 0, 0, 0)",
      "insert into oor values (128, 0, 0, 0)",
      "insert into oor values (1234, 0, 0, 0)",
      "insert into oor values (0, -1, 0, 0)",
      "insert into oor values (0, 256, 0, 0)",
      "insert into oor values (0, 0, 2147483648, 0)",
      "insert into oor values (0, 0, -2147483648, 0)",
      "insert into oor values (0, 0, 0, -1)",
      "insert into oor values (0, 0, 0, 18446744073709551616)")) {
      val e = intercept[IllegalArgumentException] { runner.run(bad) }
      assert(e.getMessage.contains("out of range"), bad)
    }
    assert(runner.run("select count(*) as n from oor")
      .first().getLong(0) === 2L)
    // the range ride-along forms reject too
    intercept[IllegalArgumentException] {
      runner.run("insert into oor set a = 200")
    }
    // DESCRIBE renders the declared types, not the storage widening
    val desc = runner.run("DESCRIBE oor").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("a") === "TINYINT")
    assert(desc("b") === "TINYINT UNSIGNED")
    assert(desc("d") === "BIGINT UNSIGNED")
    runner.run("drop table oor")
    // strict mode also rejects NULL (1048) and missing values (1364)
    // for NOT NULL columns…
    runner.run("create table oor2 (a INT NOT NULL PRIMARY KEY, b TEXT " +
      "NOT NULL, c INT)")
    intercept[IllegalArgumentException] {
      runner.run("insert into oor2 values (1, NULL, 5)")
    }
    intercept[IllegalArgumentException] {
      runner.run("insert into oor2 (a, c) values (1, 5)")
    }
    // …while INSERT IGNORE downgrades them per MySQL's rules: ranges
    // clamp to the nearest bound, NOT NULL takes the implicit default
    runner.run("insert ignore into oor2 values (3000000000, NULL, 9)")
    val row = runner.run("select a, b, c from oor2").first()
    assert(row.getInt(0) === Int.MaxValue, "clamped, not wrapped")
    assert(row.getString(1) === "", "implicit '' default for NOT NULL")
    assert(row.getInt(2) === 9)
    // tianmu-cap branch (the round-16/17 decision): an engineless
    // CREATE defaults to tianmu, whose BIGINT UNSIGNED declared max is
    // the SIGNED int64 bound — the reference stores one int64 cell per
    // value and raises 1264 for 2^63..2^64-1 (unsigned_type.test,
    // issue #1236). Long.MaxValue lands; Long.MaxValue+1 rejects.
    runner.run("create table oor3 (d bigint unsigned)")
    runner.run("insert into oor3 values (9223372036854775807)")
    val capErr = intercept[IllegalArgumentException] {
      runner.run("insert into oor3 values (9223372036854775808)")
    }
    assert(capErr.getMessage.contains("out of range"))
    assert(runner.run("select max(d) as m from oor3").first()
      .getDecimal(0).toBigInteger.toString === "9223372036854775807")
  }

  test("statement front-end: stored-function expansion — JOIN-ON " +
      "placement hoists to LATERAL; caller-scope args are not " +
      "captured by the body's FROM (issue538.test)") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("create table sf_emp (id int, name varchar(50), sal int)")
    runner.run("insert into sf_emp values (1,'David',7500),(2,'Black',6600)")
    runner.run("CREATE FUNCTION sf_sal(i INT) RETURNS INT " +
      "RETURN (SELECT sal FROM sf_emp WHERE id=i)")
    // stored function inside LEFT JOIN ON — MySQL evaluates it per
    // candidate pair; the runner hoists the expanded subquery to a
    // LATERAL column on the join's right side
    val on = runner.run(
      """SELECT a.id, b.name FROM sf_emp a
        |LEFT JOIN sf_emp b ON a.sal = sf_sal(b.id) and b.name = 'David'
        |""".stripMargin).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(on.toSet === Set((1, "David"), (2, null)))
    // caller-scope capture: sf_sal(sf_emp.id) inside a derived table
    // whose own FROM is also sf_emp — the argument must bind to the
    // DERIVED table's row (via the body-alias guard), not to the
    // body's FROM (which would make the subquery unconstrained)
    val derived = runner.run(
      """SELECT count(*) as n FROM sf_emp a,
        | (SELECT sf_sal(sf_emp.id) as s FROM sf_emp) as b
        |WHERE a.name = 'David' AND a.sal = b.s""".stripMargin)
      .first().getLong(0)
    assert(derived === 1L)
    // plain projection expansion still works
    assert(runner.run("SELECT sf_sal(2) as s").first().getInt(0) === 6600)
    runner.run("DROP FUNCTION sf_sal")
    runner.run("DROP TABLE sf_emp")
  }

  test("statement front-end: string WHERE truthiness prefix-parses " +
      "('1abc' is true); signed decimal promotion is not 1690") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("create table truthy (s varchar(10), v bigint)")
    runner.run("insert into truthy values " +
      "('1abc', -5), ('abc', 1), ('0', 2), (NULL, 3)")
    // MySQL prefix-parses the string in boolean context: '1abc' → 1
    // (kept); 'abc' → 0, '0' → 0 drop; NULL stays NULL (drops)
    assert(runner.run("select v from truthy where s")
      .collect().map(_.getLong(0)).toSeq === Seq(-5L))
    // the analyzer's own LongType→DECIMAL(20,0) promotion cast (signed
    // bigint meeting a decimal literal) must NOT be read as the
    // dialect's CAST(… AS UNSIGNED): a negative result here is legal
    val x = runner.run("select v + CAST(2 AS DECIMAL(10,0)) as x " +
      "from truthy where v = -5").first().getDecimal(0)
    assert(x.longValueExact === -3L)
    // while the explicit unsigned spelling still raises 1690 on a
    // negative result (func_math.test semantics)
    intercept[Exception] {
      runner.run("select CAST(v AS UNSIGNED) - 2 as x from truthy " +
        "where v = 1").collect()
    }
  }

  test("statement front-end: column DEFAULTs fill omitted values; " +
      "VARCHAR length caps reject (1406) or truncate under IGNORE") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("CREATE TABLE defs (id INT NOT NULL PRIMARY KEY, " +
      "n INT DEFAULT 5, s VARCHAR(4) DEFAULT 'four', " +
      "r TEXT NOT NULL DEFAULT 'req')")
    // omitted columns evaluate their DEFAULT — including the NOT NULL
    // one (a declared default satisfies the 1364 check)
    runner.run("INSERT INTO defs (id) VALUES (1)")
    runner.run("INSERT INTO defs SET id = 2, n = 9")
    val r1 = runner.run("SELECT n, s, r FROM defs WHERE id = 1").first()
    assert((r1.getInt(0), r1.getString(1), r1.getString(2))
      === ((5, "four", "req")))
    val r2 = runner.run("SELECT n, s FROM defs WHERE id = 2").first()
    assert((r2.getInt(0), r2.getString(1)) === ((9, "four")))
    // strict: over-length VARCHAR rejects (1406)…
    val e = intercept[IllegalArgumentException] {
      runner.run("INSERT INTO defs VALUES (3, 1, 'toolong', 'x')")
    }
    assert(e.getMessage.contains("too long"))
    // …IGNORE truncates instead (note 1265)
    runner.run("INSERT IGNORE INTO defs VALUES (3, 1, 'toolong', 'x')")
    assert(runner.run("SELECT s FROM defs WHERE id = 3")
      .first().getString(0) === "tool")
    // exact-length strings pass untouched
    runner.run("INSERT INTO defs VALUES (4, 1, 'abcd', 'x')")
    assert(runner.run("SELECT s FROM defs WHERE id = 4")
      .first().getString(0) === "abcd")
    runner.run("DROP TABLE defs")
  }

  test("statement front-end: AUTO_INCREMENT assigns omitted/NULL ids, " +
      "explicit ids advance the counter (auto_increment.test)") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("CREATE TABLE ai (id INT NOT NULL AUTO_INCREMENT " +
      "PRIMARY KEY, v TEXT NOT NULL)")
    // omitted column, NULL value, and column-list omission all assign
    runner.run("INSERT INTO ai (v) VALUES ('a'), ('b')")
    runner.run("INSERT INTO ai VALUES (NULL, 'c')")
    runner.run("INSERT INTO ai SET v = 'd'")
    def ids: Seq[(Int, String)] = runner.run(
      "SELECT id, v FROM ai ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(ids === Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // an explicit id above the counter advances it (MySQL semantics)
    runner.run("INSERT INTO ai VALUES (10, 'j')")
    runner.run("INSERT INTO ai (v) VALUES ('k')")
    assert(ids.takeRight(2) === Seq((10, "j"), (11, "k")))
    // batch order is preserved within one multi-row insert
    runner.run("INSERT INTO ai (v) VALUES ('x'), ('y'), ('z')")
    assert(ids.takeRight(3) === Seq((12, "x"), (13, "y"), (14, "z")))
    runner.run("DROP TABLE ai")
  }

  test("statement front-end: BIT(n) columns and b''/0b literals " +
      "(bit.test / bit_type.test shapes)") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    runner.run("CREATE TABLE bits (id INT NOT NULL, b BIT(8), w BIT(63))")
    // MySQL bit-literal spellings evaluate to their integer value
    runner.run("INSERT INTO bits SET id = 1, b = b'11111111'")
    runner.run("INSERT INTO bits SET id = 2, b = B'1010'")
    runner.run("INSERT INTO bits VALUES (3, 0b0101, 0b1)")
    def b(id: Int): Long = runner.run(
      s"SELECT b FROM bits WHERE id = $id").first().getLong(0)
    assert(b(1) === 255L)
    assert(b(2) === 10L)
    assert(b(3) === 5L)
    // bit literals work in predicates; strings stay strings
    assert(runner.run("SELECT COUNT(*) AS n FROM bits WHERE b = b'1010'")
      .first().getLong(0) === 1L)
    assert(runner.run("SELECT 'b' AS s FROM DUAL").first().getString(0) === "b")
    assert(runner.run("SELECT 'x 0b01 y' AS s FROM DUAL")
      .first().getString(0) === "x 0b01 y")
    // BIT(8) range is [0, 255]: 256 rejects (strict mode)
    val e = intercept[IllegalArgumentException] {
      runner.run("INSERT INTO bits VALUES (4, 256, 0)")
    }
    assert(e.getMessage.contains("out of range"))
    // 63-bit column takes the full range; BIT(64) refuses at CREATE
    runner.run("INSERT INTO bits SET id = 5, w = 9223372036854775807")
    intercept[UnsupportedOperationException] {
      runner.run("CREATE TABLE bits2 (x BIT(64))")
    }
    val desc = runner.run("DESCRIBE bits").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("b") === "BIT(8)")
    runner.run("DROP TABLE bits")
  }

  test("statement front-end: composite PRIMARY KEY drives the keyed " +
      "statement forms (composite_primary_key.test shape)") {
    import graft.sources.StatementRunner
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    runner.run("CREATE TABLE comp_pk (a INT NOT NULL, b INT NOT NULL, " +
      "v TEXT, PRIMARY KEY (a, b))")
    runner.run("INSERT INTO comp_pk VALUES (1,1,'x'), (1,2,'y'), (2,1,'z')")
    // REPLACE matches on BOTH key components
    runner.run("REPLACE INTO comp_pk VALUES (1,2,'REPL'), (3,3,'new')")
    def v(a: Int, b: Int): String = runner.run(
      s"SELECT v FROM comp_pk WHERE a = $a AND b = $b").first().getString(0)
    assert(v(1, 2) === "REPL")
    assert(v(1, 1) === "x", "partial key match must NOT replace")
    assert(v(3, 3) === "new")
    // upsert: (1,1) collides -> update; (2,2) is new despite a=2 existing
    val up = runner.run("INSERT INTO comp_pk VALUES (1,1,'i'), (2,2,'w') " +
      "ON DUPLICATE KEY UPDATE v = concat(v, '+')").first()
    assert(up.getAs[Long]("rows_updated") === 1L)
    assert(up.getAs[Long]("rows_inserted") === 1L)
    assert(v(1, 1) === "x+")
    assert(v(2, 2) === "w")
    // INSERT IGNORE respects the pair, not the components
    runner.run("INSERT IGNORE INTO comp_pk VALUES (2,1,'dup'), (2,3,'ok')")
    assert(v(2, 1) === "z")
    assert(v(2, 3) === "ok")
    // DELETE ... LIMIT orders over the composite key deterministically
    val del = runner.run("DELETE FROM comp_pk WHERE a = 2 LIMIT 1").first()
    assert(del.getAs[Long]("rows_deleted") === 1L)
    assert(runner.run("SELECT COUNT(*) AS n FROM comp_pk WHERE a = 2")
      .first().getLong(0) === 2L)
    runner.run("DROP TABLE comp_pk")
  }

  test("statement front-end: TEMPORARY tables, index DDL no-ops, and " +
      "database session statements") {
    import graft.sources.StatementRunner
    val runner = new StatementRunner(spark)
    // the MTR session prologue runs as-is
    runner.run("CREATE DATABASE IF NOT EXISTS mtr_db")
    runner.run("USE mtr_db")
    intercept[IllegalArgumentException] { runner.run("USE never_created") }
    // TEMPORARY table ≡ table (runner tables are session-scoped)
    runner.run("create temporary table tmp_t (a INT, b TEXT)")
    runner.run("insert into tmp_t values (1, 'x')")
    assert(runner.run("select count(*) as n from tmp_t")
      .first().getLong(0) === 1L)
    // index DDL on a TIANMU table errors under the server default
    // (issue1185) and is accepted as inert metadata under
    // tianmu_no_key_error=ON (no B-trees; pack stats prune). tmp_t is
    // TEMPORARY — those live in the server's default engine (InnoDB)
    // where indexes are ordinary, so the rejection is pinned on an
    // explicit engine=tianmu table.
    runner.run("create table idx_t (a INT) engine=tianmu")
    intercept[UnsupportedOperationException] {
      runner.run("CREATE INDEX idx_a ON idx_t (a)")
    }
    runner.run("SET SESSION tianmu_no_key_error=ON")
    val ci = runner.run("CREATE INDEX idx_a ON idx_t (a)").first()
    assert(ci.getString(1).contains("metadata only"))
    runner.run("DROP INDEX idx_a ON idx_t")
    runner.run("SET SESSION tianmu_no_key_error=OFF")
    runner.run("drop table idx_t")
    intercept[IllegalArgumentException] {
      runner.run("CREATE INDEX i2 ON never_attached (x)")
    }
    runner.run("drop table tmp_t")
    assert(runner.run("DROP DATABASE mtr_db").first()
      .getString(1) === "database dropped")
    // SHOW DATABASES lists created names; session SETs are no-ops
    runner.run("CREATE DATABASE showme")
    assert(runner.run("SHOW DATABASES").collect()
      .map(_.getString(0)).contains("showme"))
    assert(runner.run("SET NAMES utf8mb4").first()
      .getString(1).startsWith("OK"))
    assert(runner.run("SET @x = 5").first().getString(1).startsWith("OK"))
    assert(runner.run("SET SESSION sort_buffer_size = 1024").first()
      .getString(1).startsWith("OK"))
    // plain conf SET still reaches spark.sql
    assert(runner.run("SET spark.sql.shuffle.partitions").collect()
      .nonEmpty)
    // SHOW INDEX renders the PK; empty for unkeyed tables
    runner.run("CREATE TABLE idx_t (a INT NOT NULL, b INT NOT NULL, " +
      "PRIMARY KEY (a, b))")
    val idx = runner.run("SHOW INDEX FROM idx_t").collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(idx === Seq(("PRIMARY", 1, "a"), ("PRIMARY", 2, "b")))
    runner.run("CREATE TABLE idx_n (x INT)")
    assert(runner.run("SHOW KEYS FROM idx_n").count() === 0)
    runner.run("DROP TABLE idx_t")
    runner.run("DROP TABLE idx_n")
  }

  test("statement front-end: ALTER TABLE MODIFY/CHANGE/RENAME " +
      "(alter_column.test shapes)") {
    import graft.sources.{DeltaStore, StatementRunner}
    import org.apache.spark.sql.functions.col
    val runner = new StatementRunner(spark)
    val store = new DeltaStore(spark,
      java.nio.file.Files.createTempDirectory("graft_altc").toString)
    store.writeBase(Engine.table(spark, sf, "region"))
    runner.attach("altc_region", store)
    runner.run("ALTER TABLE altc_region ADD PRIMARY KEY (r_regionkey)")
    // MODIFY retypes in place (INT -> BIGINT), values preserved
    runner.run("ALTER TABLE altc_region MODIFY COLUMN r_regionkey BIGINT")
    val f = store.read().schema("r_regionkey")
    assert(f.dataType === org.apache.spark.sql.types.LongType)
    assert(store.read().agg(org.apache.spark.sql.functions
      .sum(col("r_regionkey"))).first().getLong(0) === 10L) // 0+1+2+3+4
    // CHANGE renames + retypes; the PK declaration follows the rename
    runner.run("ALTER TABLE altc_region CHANGE r_regionkey rk INT")
    assert(store.read().columns.contains("rk"))
    assert(!store.read().columns.contains("r_regionkey"))
    // keyed statement against the RENAMED pk column works
    runner.run("REPLACE INTO altc_region VALUES (0, 'REPLACED')")
    assert(store.read().filter(col("rk") === 0).first()
      .getAs[String]("r_name") === "REPLACED")
    // RENAME TO moves the table in the runner catalog
    runner.run("ALTER TABLE altc_region RENAME TO altc_renamed")
    assert(runner.run("SELECT COUNT(*) AS n FROM altc_renamed")
      .first().getLong(0) === 5L)
    intercept[IllegalArgumentException] {
      runner.run("DELETE FROM altc_region") // old name gone
    }
    intercept[IllegalArgumentException] {
      runner.run("ALTER TABLE altc_renamed MODIFY no_such INT")
    }
  }

  test("statement front-end: SHOW TABLES / SHOW CREATE TABLE / DESCRIBE / " +
      "EXPLAIN answer from the runner catalog") {
    import graft.sources.{DeltaStore, StatementRunner}
    val runner = new StatementRunner(spark)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_admin_stmt").toString
    val store = new DeltaStore(spark, tmp)
    store.writeBase(Engine.table(spark, sf, "nation"))
    runner.attach("adm_nation", store)

    val tables = runner.run("SHOW TABLES").collect().map(_.getString(0))
    assert(tables.contains("adm_nation"))

    val desc = runner.run("DESCRIBE adm_nation").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(desc("n_nationkey")._1 === "INT")
    assert(desc("n_name")._1 === "TEXT")
    // DESC and SHOW COLUMNS FROM are aliases
    assert(runner.run("DESC adm_nation").collect().length === desc.size)
    assert(runner.run("SHOW COLUMNS FROM adm_nation")
      .collect().length === desc.size)

    val ddl = runner.run("SHOW CREATE TABLE adm_nation")
      .first().getString(1)
    assert(ddl.startsWith("CREATE TABLE `adm_nation`"))
    assert(ddl.contains("`n_regionkey` INT"))
    assert(ddl.endsWith("ENGINE=TIANMU"))

    val plan = runner.run(
      "EXPLAIN SELECT n_name FROM adm_nation WHERE n_nationkey = 3")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))

    intercept[IllegalArgumentException] {
      runner.run("DESCRIBE never_attached_tbl")
    }
  }
}
