package graft.sources

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MySQL *statement* front-end for the ingest/export tier (the one
  * surface the reference exposes as SQL text that this library exposed
  * only as Scala APIs): the reference routes `LOAD DATA INFILE` to its
  * loader at sql/ha_my_tianmu.cpp:157 (`ha_my_tianmu_load`) and
  * `SELECT … INTO OUTFILE` through its query path at
  * ha_my_tianmu.cpp:84 (`ha_my_tianmu_query` → `ResultExportSender`,
  * core/engine.h:338).
  *
  * `StatementRunner.run(sql)` accepts those two statement forms, the
  * `SELECT ROUGHLY` rough-query mode (engine_execute.cpp:450 — see
  * [[StatementRunner.attachPacked]]), the DML statement forms against
  * attached stores (`INSERT INTO … [cols] VALUES …` through the delta
  * append; `INSERT INTO … [cols] SELECT …` incl. self-referencing
  * inserts, engine_execute.cpp:470-513; `REPLACE INTO` and `INSERT … ON
  * DUPLICATE KEY UPDATE` against the declared PRIMARY KEY; `DELETE FROM
  * … [WHERE]` / `UPDATE … SET … [WHERE]` as staged base rewrites with
  * old-row UPDATE semantics — the reference's handler-level row DML,
  * ha_tianmu.h:101-102, executed the columnar way), the DDL statement
  * forms (`ALTER TABLE … ADD/DROP COLUMN`, `ADD PRIMARY KEY`,
  * `TRUNCATE TABLE` — tianmu_table.h:73-76), the session admin statements
  * (`SHOW TABLES`, `SHOW CREATE TABLE`, `DESCRIBE`/`DESC`/`SHOW COLUMNS
  * FROM`, `EXPLAIN SELECT …` — answered from the runner's catalog /
  * Catalyst's plan, with column types rendered back through the
  * SURVEY §1.2 MySQL mapping), plus passthrough:
  * `LOAD DATA [LOCAL] INFILE … INTO TABLE t [FIELDS
  * TERMINATED/ENCLOSED/ESCAPED BY …] [LINES TERMINATED BY …]` parses to
  * a [[CsvLoader.load]] against the attached table's schema and appends
  * the clean rows to its [[DeltaStore]]; `SELECT … INTO OUTFILE 'f'
  * [export options]` strips the INTO clause, runs the remaining SELECT
  * through `spark.sql`, and exports via [[CsvLoader.export]]; anything
  * else goes to `spark.sql` after the [[MySqlDialect]] rewrite (hash
  * comments, `&&`/`||`, `LIMIT n,m`, `FROM DUAL` — so verbatim
  * MTR-style SELECT text runs unchanged). Statement execution is thus a thin
  * *parser*, not an engine — every byte of data movement rides the same
  * distributed load/export paths the Scala API uses (this stays a
  * library, not a server: no wire protocol, no session state beyond the
  * attached stores).
  *
  * Unsupported clauses (`IGNORE n LINES`, `REPLACE`/`IGNORE` dup-key
  * modes) throw with a pointer at the API that covers the semantics
  * ([[Dml.replaceInto]] / [[Dml.appendStrict]]) — failing fast beats
  * silently dropping a requested behavior.
  */
object StatementRunner {
  /** Monotonic id source for per-runner I/O sandboxes (parallel MTR
    * replay runs 8 runners concurrently). */
  private[sources] val sandboxSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The MySQL 5.7 server-default sql_mode minus ONLY_FULL_GROUP_BY
    * (the reference suite's master.opt removes it). NO_ZERO_IN_DATE /
    * NO_ZERO_DATE ARE part of the 5.7 default — delete.test relies on
    * that (zero date into DATE NOT NULL is 1292 with no SET in the
    * file), while issue682's explicit SET without them legalizes the
    * same insert. */
  val DefaultSqlMode: String =
    "STRICT_TRANS_TABLES,NO_ZERO_IN_DATE,NO_ZERO_DATE," +
      "ERROR_FOR_DIVISION_BY_ZERO,NO_AUTO_CREATE_USER," +
      "NO_ENGINE_SUBSTITUTION"
}

class StatementRunner(spark: SparkSession) {

  // the runner's dialect includes the MySQL function surface — make
  // the SQL-name shims resolvable regardless of how the session was
  // built (idempotent; Engine.registerAll does the same for tables)
  graft.functions.Registry.register(spark)
  // MySQL implicit coercions (numeric-as-boolean, temporal-vs-number
  // comparison, SUM over boolean) only apply where MySQL TEXT arrives —
  // the rule (plans.MySqlCoercionRule) is inert everywhere else. The
  // conf is scoped to run() (set at entry, restored at exit — Spark
  // analysis is EAGER, so the returned DataFrame is already resolved):
  // a leaked session-global flag re-shaped bit ops in UNRELATED
  // DataFrame-API gates sharing the session (q_dedup_simhash's
  // bit_count(xor) broke under the u64 rewrite, r18).
  // a fresh runner starts from the server-default sql_mode (which has
  // ONLY_FULL_GROUP_BY); the conf is session-global, so reset it here
  spark.conf.set("spark.graft.mysql.sqlMode", "__default__")
  spark.conf.set("spark.graft.mysql.tzMin", "0")
  // Spark's PushProjectionThroughUnion rewrites a Project containing a
  // correlated ScalarSubquery with an AttributeMap that lacks the
  // OUTER attribute → `key not found` crash (hit by stored-function
  // expansion over attached stores, whose reads are base ∪ delta
  // unions — issue538.test). Excluded for STATEMENT sessions only; the
  // scale-relevant pruning path (ColumnPruning prunes Union children
  // directly) is unaffected.
  locally {
    val rule =
      "org.apache.spark.sql.catalyst.optimizer.PushProjectionThroughUnion"
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .filter(_.nonEmpty)
    if (!prev.exists(_.contains(rule)))
      spark.conf.set("spark.sql.optimizer.excludedRules",
        (prev.toSeq :+ rule).mkString(","))
  }

  private val stores = scala.collection.mutable.Map[String, DeltaStore]()
  private val packedTables = scala.collection.mutable.Map[String, String]()

  /** Attach a managed table: statements may LOAD into it; its merged
    * view is (re)registered as a temp view under `name`. */
  /** Session time_zone offset in minutes (`SET time_zone='+H:MM'`) —
    * None for SYSTEM/unset. TIMESTAMP columns store UTC-normalized
    * values and DISPLAY session-local (type_timestamp.test's
    * insert-under-'-5:00', read-under-'+1:00' golden); DATETIME is
    * zone-free. */
  private def sessionTzMin: Option[Int] =
    sessionVars.get("time_zone").flatMap { v =>
      """^([+-]?)(\d{1,2}):(\d{2})$""".r.findFirstMatchIn(v.trim).map { m =>
        val sign = if (m.group(1) == "-") -1 else 1
        sign * (m.group(2).toInt * 60 + m.group(3).toInt)
      }
    }

  private def isTimestampDecl(f: org.apache.spark.sql.types.StructField)
      : Boolean =
    f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
      f.metadata.contains("graft.mysql.type") &&
      f.metadata.getString("graft.mysql.type").startsWith("TIMESTAMP")

  /** Register the table view with TIMESTAMP columns shifted into the
    * session zone (stored values are UTC; the view is what SELECTs and
    * INSERT…SELECTs read). */
  private def tzView(name: String, store: DeltaStore): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val df0 = store.read()
    val df = sessionTzMin match {
      case Some(off) if off != 0 && df0.schema.exists(isTimestampDecl) =>
        df0.select(df0.schema.map { f =>
          if (isTimestampDecl(f))
            (col(f.name) + expr(s"INTERVAL $off MINUTE"))
              .as(f.name, f.metadata)
          else col(f.name)
        }.toSeq: _*)
      case _ => df0
    }
    df.createOrReplaceTempView(name)
  }

  def attach(name: String, store: DeltaStore): Unit = {
    stores(name.toLowerCase) = store
    tzView(name, store)
    tableDb(name.toLowerCase) = dbOfName(name)
  }

  /** A name mangled from a `db.t` qualifier belongs to THAT db (so
    * DROP DATABASE db reaps it), not to the current one. */
  private def dbOfName(name: String): String = databases
    .find(d => d != "test" && name.toLowerCase.startsWith(d + "__"))
    .getOrElse(currentDb)

  /** Attach a pack-written table ([[StatsSidecar.writeWithStats]]
    * layout: pack-partitioned parquet + stats sidecar) so `SELECT
    * ROUGHLY …` statements can answer from its metadata. */
  def attachPacked(name: String, path: String): Unit =
    packedTables(name.toLowerCase) = path

  // MySQL string literals spell control chars with backslash escapes.
  private def unescape(s: String): String = s
    .replace("\\t", "\t").replace("\\n", "\n")
    .replace("\\r", "\r").replace("\\\\", "\\")

  private val LoadRe: Regex =
    """(?is)^\s*LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+'([^']*)'\s+(?:(REPLACE|IGNORE)\s+)?INTO\s+TABLE\s+`?(\w+)`?\s*(.*)$""".r
  private val OutfileRe: Regex =
    """(?is)\bINTO\s+OUTFILE\s+['"]([^'"]*)['"]""".r
  private val IgnoreLinesRe: Regex = """(?is)\bIGNORE\s+\d+\s+LINES""".r

  /** MTR scripts name OUTFILE/INFILE paths relative to the server's
    * datadir or through unexpanded `$MYSQLTEST_VARDIR` — a library
    * session has neither. Map any relative or `$VAR`-carrying path
    * deterministically under `target/mtr_io/` (same mapping on the
    * write and the read side, so OUTFILE→LOAD round-trips work) instead
    * of littering the process working directory. */
  // keyed per-runner: the 8-way parallel MTR replay would otherwise
  // race two files that use the same relative/$MYSQLTEST_VARDIR path
  // text on one shared target/mtr_io/ file
  private val sandboxId =
    "r" + StatementRunner.sandboxSeq.incrementAndGet()
  private def sandboxIoPath(path: String): String =
    if (path.startsWith("/") && !path.contains("$")) path
    else s"target/mtr_io/$sandboxId/" +
      path.replaceAll("[^\\w.-]+", "_").stripPrefix("_")

  /** Read-side resolution: MTR scripts address fixtures relative to the
    * suite's test dir (`../../std_data/…`, load.test) — resolve there
    * first; otherwise fall back to the same sandbox mapping the write
    * side uses, so OUTFILE→LOAD round-trips meet. */
  private def resolveReadPath(path: String): String =
    if (path.startsWith("/") && !path.contains("$")) path
    else if (path.contains("$")) sandboxIoPath(path)
    else {
      // MTR resolves relative fixture paths against its vardir; the
      // checked-in fixtures live under the std_data trees — re-root the
      // std_data suffix there (`../../std_data/tianmu/loadfile` →
      // mysql-test/std_data/tianmu/loadfile, load.test)
      val sub = path.indexOf("std_data/") match {
        case -1 => None
        case i => Some(path.substring(i + "std_data/".length))
      }
      (Seq(new java.io.File(
        "/root/reference/mysql-test/suite/tianmu/t", path)) ++
        sub.toSeq.flatMap(s =>
          Seq(new java.io.File("/root/reference/mysql-test/std_data", s),
            new java.io.File(
              "/root/reference/mysql-test/suite/tianmu/std_data", s))))
        .find(_.exists()) match {
        case Some(f) => f.getCanonicalPath
        case None => sandboxIoPath(path)
      }
    }

  // DML statement forms against attached stores (the reference's primary
  // write surface: handler INSERT ha_tianmu.h write_row, DELETE/UPDATE
  // ha_tianmu.h:101-102). INSERT appends through the delta store;
  // DELETE/UPDATE execute as staged base rewrites (the columnar
  // execution of row DML — what the reference's own delta-merge
  // eventually does to packs). INSERT…ON DUPLICATE KEY UPDATE must be
  // matched BEFORE the plain InsertRe (whose non-greedy tuples group
  // would otherwise swallow the ON DUPLICATE clause).
  private val InsertOnDupRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.+?)\s*;?\s*$""".r
  // INSERT IGNORE (reference insert_ignore path): rows whose PRIMARY KEY
  // already exists — or that duplicate an earlier batch row — are
  // silently skipped; the rest append through the delta store.
  private val InsertIgnoreRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?IGNORE\s+(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r
  private val InsertRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r
  // INSERT … SELECT — a first-class statement form in the reference
  // (core/engine_execute.cpp:470-513, incl. self-referencing inserts;
  // MTR insert_select.test / insert_into_select.test).
  private val InsertSelectRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*(\(?\s*SELECT\b.*?\)?)\s*;?\s*$""".r
  // the SELECT-sourced upsert combo (insert_update.test `INSERT INTO t1
  // SELECT … ON DUPLICATE KEY UPDATE …`)
  private val InsertSelectOnDupRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*(\(?\s*SELECT\b.*?\)?)\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.+?)\s*;?\s*$""".r
  private val ReplaceRe: Regex =
    """(?is)^\s*REPLACE\s+(?:LOW_PRIORITY\s+|DELAYED\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r
  // REPLACE's SELECT and SET forms (replace_into.test uses all three)
  private val ReplaceSelectRe: Regex =
    """(?is)^\s*REPLACE\s+(?:LOW_PRIORITY\s+|DELAYED\s+)?(?:INTO\s+)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*(\(?\s*SELECT\b.*?\)?)\s*;?\s*$""".r
  private val ReplaceSetRe: Regex =
    """(?is)^\s*REPLACE\s+(?:LOW_PRIORITY\s+|DELAYED\s+)?(?:INTO\s+)?`?(\w+)`?\s+SET\s+(.+?)\s*;?\s*$""".r
  // MySQL's row-limited DML forms (reference delete.test: `DELETE FROM
  // t1 WHERE a > 0 ORDER BY a LIMIT 1`; aggregate.test UPDATE … LIMIT):
  // must be matched BEFORE the plain forms or the LIMIT clause lands
  // inside the WHERE expression.
  // multi-table UPDATE (`UPDATE t1 JOIN t2 ON … SET t1.c = …`,
  // `UPDATE t2, t1 SET …` — update_join.test, temporary.test): SET
  // assignments name their target with a table qualifier.
  private val UpdateJoinRe: Regex =
    """(?is)^\s*UPDATE\s+((?:LOW_PRIORITY\s+|IGNORE\s+)*)((?:`?\w+`?\s*,\s*)+`?\w+`?|`?\w+`?\s+(?:INNER\s+|LEFT\s+|RIGHT\s+|CROSS\s+)?(?:OUTER\s+)?(?:STRAIGHT_)?JOIN\s+.+?)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val DeleteLimitRe: Regex =
    """(?is)^\s*DELETE\s+(?:LOW_PRIORITY\s+|QUICK\s+|IGNORE\s+)*FROM\s+`?(\w+)`?\s*(?:WHERE\s+(.+?))?\s*(?:ORDER\s+BY\s+(.+?))?\s*LIMIT\s+(\d+)\s*;?\s*$""".r
  private val UpdateLimitRe: Regex =
    """(?is)^\s*UPDATE\s+(?:LOW_PRIORITY\s+|IGNORE\s+)*`?(\w+)`?\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*(?:ORDER\s+BY\s+(.+?))?\s*LIMIT\s+(\d+)\s*;?\s*$""".r
  // a trailing ORDER BY without LIMIT is inert on a full DELETE —
  // MySQL accepts and ignores it (delete.test `DELETE FROM t1 WHERE
  // t1.a > 0 ORDER BY t1.a`)
  private val DeleteRe: Regex =
    """(?is)^\s*DELETE\s+(?:LOW_PRIORITY\s+|QUICK\s+)*(IGNORE\s+)?FROM\s+`?(\w+)`?\s*(?:WHERE\s+(.+?))?(?:\s+ORDER\s+BY\s+[^;]+?)?\s*;?\s*$""".r
  // `DELETE FROM t USING t WHERE …` — the self-referencing USING form
  // (delete.test); the general multi-table USING join lives behind
  // [[Dml.deleteJoin]].
  private val DeleteUsingRe: Regex =
    """(?is)^\s*DELETE\s+FROM\s+`?(\w+)`?\s+USING\s+`?(\w+)`?\s*(?:WHERE\s+(.+?))?\s*;?\s*$""".r
  // MySQL's multi-table DELETE (`DELETE t1 FROM t1 JOIN t2 ON …`,
  // `DELETE t1.*, t2.* FROM t1, t2 WHERE …` — delete_join.test,
  // delete.test, issue663): the join evaluates ONCE, then each listed
  // target drops its participating rows.
  private val DeleteMultiRe: Regex =
    """(?is)^\s*DELETE\s+((?:LOW_PRIORITY\s+|QUICK\s+|IGNORE\s+)*)((?:`?\w+`?(?:\.\*)?\s*,\s*)*`?\w+`?(?:\.\*)?)\s+FROM\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val UpdateRe: Regex =
    """(?is)^\s*UPDATE\s+(?:LOW_PRIORITY\s+)?(IGNORE\s+)?`?(\w+)`?\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  // MySQL's `INSERT INTO t SET a = 1, b = 'x'` single-row form
  // (reference insert.test: `insert into t1 set a=1`).
  private val InsertSetRe: Regex =
    """(?is)^\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|HIGH_PRIORITY\s+)?(?:INTO\s+)?`?(\w+)`?\s+SET\s+(.+?)\s*;?\s*$""".r

  private def attachedStore(table: String): DeltaStore =
    stores.getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(
        s"DML: table '$table' is not attached to this runner"))

  /** DML through an updatable VIEW (insert.test's `INSERT INTO v2 …`,
    * issue502-2's multi-table join view): resolve the view to the ONE
    * base table the statement writes — the only base for a single-table
    * view, or the base holding every listed column for a join view
    * (MySQL's updatable-view column rule). Returns the name unchanged
    * when it is a real table (or nothing resolves — the caller's
    * not-attached error stays authoritative). */
  private def dmlTableFor(table: String,
                          cols: Seq[String] = Seq.empty): String = {
    if (stores.contains(table.toLowerCase)) return table
    val defn = viewDefs.get(table.toLowerCase).getOrElse(return table)
    val bases = """(?i)\b(?:FROM|JOIN)\s+`?(\w+)`?""".r
      .findAllMatchIn(defn).map(_.group(1).toLowerCase).toSeq.distinct
    // a view over a view recurses to ITS bases (insert.test v2 -> v1)
    val grounded = bases.flatMap { b =>
      if (stores.contains(b)) Seq(b)
      else if (viewDefs.contains(b) && b != table.toLowerCase)
        Some(dmlTableFor(b)).filter(stores.contains(_)).toSeq
      else Seq.empty
    }.distinct
    val lcols = cols.map(_.toLowerCase)
    grounded match {
      case Seq(one) => one
      case many if lcols.nonEmpty =>
        many.find(b => lcols.forall(c =>
          stores(b).read().columns.map(_.toLowerCase).contains(c)))
          .getOrElse(table)
      case _ => table
    }
  }

  /** Re-register `table`'s merged view AND every session view whose
    * definition references it — temp views hold frozen plans, so a base
    * DML would otherwise leave dependent views reading stale files.
    * Views refresh in creation order (a view can only reference earlier
    * ones), so nested views ground correctly. */
  private def refreshTableView(table: String, store: DeltaStore): Unit = {
    tzView(table, store)
    val word = ("""(?i)\b""" + java.util.regex.Pattern.quote(
      table.toLowerCase) + """\b""").r
    viewDefs.foreach { case (v, defn) =>
      if (word.findFirstIn(defn.toLowerCase).isDefined)
        scala.util.Try(spark.sql(MySqlDialect.rewrite(defn))
          .createOrReplaceTempView(v))
    }
  }

  /** Declared PRIMARY KEYs per attached table — what the reference reads
    * from its data dictionary (tianmu_table_index.cpp keyed stores); the
    * keyed statement forms (REPLACE INTO, INSERT … ON DUPLICATE KEY
    * UPDATE) require one. Declared via [[declarePrimaryKey]] or the
    * `ALTER TABLE t ADD PRIMARY KEY (…)` statement. */
  private val primaryKeys = scala.collection.mutable.Map[String, Seq[String]]()
  /** Declared storage engine per table (`ENGINE=…`, default Tianmu).
    * Index DDL is gated on it: the reference engine rejects secondary
    * indexes (no B-trees — the Knowledge Grid prunes instead) while a
    * MySQL-side table (engine=innodb in create_index.test) accepts
    * them, including uniqueness enforcement. */
  private val tableEngines = scala.collection.mutable.Map[String, String]()
  /** Tolerated index declarations per table: name → kind
    * (KEY | UNIQUE | FULLTEXT), recorded so a later DROP INDEX can
    * raise the reference's kind-specific unsupported error
    * (drop_index.test). */
  private val indexDefs = scala.collection.mutable
    .Map[String, scala.collection.mutable.Map[String, String]]()
  /** MySQL 5.7 under NO_ENGINE_SUBSTITUTION (the suite's default
    * sql_mode): an unknown storage engine is 1286
    * (alter_table_negative.test pins `ENGINE=Invalid`). */
  private val KnownEngines = Set("TIANMU", "STONEDB", "INNODB", "MYISAM",
    "MEMORY", "HEAP", "CSV", "ARCHIVE", "BLACKHOLE", "MERGE",
    "MRG_MYISAM", "FEDERATED", "NDB", "NDBCLUSTER", "PERFORMANCE_SCHEMA")
  private def requireKnownEngine(engine: String): Unit =
    if (!KnownEngines.contains(engine.toUpperCase))
      throw new IllegalArgumentException(
        s"Unknown storage engine '$engine' (MySQL error 1286)")

  private def engineOf(table: String): String =
    tableEngines.getOrElse(table.toLowerCase, "TIANMU")
  /** Gate for index DDL against a Tianmu table: error under the server
    * default, inert metadata under tianmu_no_key_error=ON (the
    * handler's exact switch, ha_tianmu.cpp:1704-1711). */
  private def rejectTianmuIndex(kind: String): Unit =
    if (!noKeyError) throw new UnsupportedOperationException(
      s"$kind index: not supported by the engine (reference " +
        "ER_TIANMU_NOT_SUPPORTED_*_INDEX family; set " +
        "tianmu_no_key_error=ON to accept as inert metadata)")
  private def recordIndex(table: String, name: String, kind: String): Unit =
    indexDefs.getOrElseUpdate(table.toLowerCase,
      scala.collection.mutable.Map.empty)(name.toLowerCase) = kind

  def declarePrimaryKey(table: String, keys: Seq[String]): Unit =
    primaryKeys(table.toLowerCase) = keys

  private def pkOf(table: String): Seq[String] =
    primaryKeys.getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(
        s"'$table' has no declared PRIMARY KEY — REPLACE INTO / ON " +
          "DUPLICATE KEY UPDATE need one (ALTER TABLE … ADD PRIMARY KEY " +
          "or StatementRunner.declarePrimaryKey)"))

  /** Split on top-level commas (quote- and paren-aware) — `SET a = f(x,
    * y), b = 'v,w'` must not split inside the call or the literal. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** MySQL strict mode raises 1365 when an INSERT/UPDATE value divides
    * by a literal zero (select_precision.test `INSERT … SET col = 1/0`);
    * Spark's non-ANSI divide yields NULL silently. Literal-aware text
    * check on the value expression. */
  private def rejectLiteralDivZero(valueText: String, what: String): Unit = {
    val stripped = valueText.replaceAll("'[^']*'|\"[^\"]*\"", "")
    if ("""(?:/|\bDIV\s+|%\s*)\s*0(?![\dx.])""".r
      .findFirstIn(stripped).isDefined &&
      !"""(?i)nullif\s*\(""".r.findFirstIn(stripped).isDefined)
      throw new IllegalArgumentException(
        s"$what: division by zero (MySQL strict mode, error 1365)")
  }

  /** The reference evaluates the integer tier in int64 (one 64-bit
    * cell per value): an integer literal beyond the signed-BIGINT range
    * feeding +,-,*,/ is rejected at the statement level
    * (func_math.test `18446744073709551615 - 1`,
    * unsigned_support_issue1267 `b * 12345678910111213123`, and the
    * 65-digit DECIMAL tier `@a + @a`). Comparisons and bare renders of
    * the same literal stay legal (range.test
    * `where x = 18446744073709551601`, bigint_unsigned.test inserts). */
  private def rejectOversizeIntArith(sqlRaw: String): Unit = {
    // SCOPE: this is a statement-TEXT heuristic tuned to the MTR
    // corpus, not a plan analysis — a FROM-less oversize expression
    // inside a statement that contains FROM elsewhere is classified by
    // the surrounding tokens. Comments are stripped first so a FROM or
    // a 19-digit literal inside `-- …` / `# …` / `/* … */` cannot
    // change the classification; the longer-term home for this check
    // is plan analysis, where table-backed evaluation is knowable.
    val sql = sqlRaw
      .replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
      .replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "\"\"")
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("(?m)(?:--\\s|#).*$", " ")
    if (!"""\d{19}""".r.findFirstIn(sql).isDefined) return
    // only TABLE-reading expressions run on the engine's int64
    // evaluator; a FROM-less `select 9223372036854775808+1` is served
    // by the MySQL layer's unsigned/decimal arithmetic and succeeds
    // (bigint_unsigned.test) — func_math's erroring forms all carry
    // `from t1`
    if ("""(?i)\bFROM\b""".r.findFirstIn(sql).isEmpty) return
    val bare = sql
      .replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
      .replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "\"\"")
    val Lit = """(?<![\w.])(\d{19,})(?![\w.])""".r
    for (m <- Lit.findAllMatchIn(bare)) {
      if (BigInt(m.group(1)) > Long.MaxValue) {
        val before = bare.substring(0, m.start).reverse
          .dropWhile(_.isWhitespace)
        val after = bare.substring(m.end).dropWhile(_.isWhitespace)
        // `-`/`+` before the literal are unary signs unless an operand
        // ends right before them (`SELECT +99…9` is a sign,
        // `x * 99…9` is arithmetic — bigint_unsigned.test renders
        // signed oversize literals without arithmetic)
        val opBefore = before.headOption.exists(c => "+*/".contains(c)) && {
          if (before.headOption.exists(c => "*/".contains(c))) true
          else {
            // `+` is binary only when an OPERAND ends before it — a
            // keyword there makes it a unary sign
            // (`select +9999999999999999999`, bigint_unsigned.test)
            val prior = before.drop(1).dropWhile(_.isWhitespace)
            val tok = prior.takeWhile(c =>
              c.isLetterOrDigit || c == '_').reverse.toUpperCase
            prior.headOption.exists(c =>
              c.isLetterOrDigit || c == '_' || c == ')') &&
              !Set("SELECT", "WHERE", "AND", "OR", "XOR", "NOT", "WHEN",
                "THEN", "ELSE", "BY", "ON", "HAVING", "UNION", "ALL",
                "IN", "LIKE", "SET", "VALUES", "LIMIT", "OFFSET",
                "CASE", "INTERVAL", "DIV", "MOD", "AS", "BETWEEN",
                "IS", "REGEXP", "RLIKE", "ESCAPE", "DISTINCT", "FROM",
                "RETURN", "ROW", "IF", "IFNULL", "NULLIF",
                "COALESCE")(tok)
          }
        }
        val opAfter = after.headOption.exists(c => "+-*/".contains(c))
        if (opBefore || opAfter) throw new ArithmeticException(
          "BIGINT value is out of range in arithmetic over literal " +
            s"${m.group(1).take(24)} (MySQL error 1690)")
      }
    }
  }

  /** Split `set-list [WHERE cond]` at the TOP-LEVEL WHERE — quote- and
    * paren-aware, so a scalar subquery's internal WHERE stays put. */
  private def splitTopLevelWhere(s: String): (String, Option[String]) = {
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'w' | 'W' if depth == 0 &&
            s.regionMatches(true, i, "WHERE", 0, 5) &&
            (i == 0 || !Character.isLetterOrDigit(s(i - 1))) &&
            (i + 5 >= s.length || !Character.isLetterOrDigit(s(i + 5))) =>
          return (s.substring(0, i).trim, Some(s.substring(i + 5).trim))
        case _ =>
      }
      i += 1
    }
    (s.trim, None)
  }

  /** Split on top-level semicolons (quote- and paren-aware) — stored
    * BEGIN…END function bodies hold one statement per `;`. */
  private def splitTopLevelSemis(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ';' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** MySQL range bounds for a target field: from the
    * `graft.mysql.{min,max}` metadata a CREATE TABLE statement attached
    * (exact MySQL semantics incl. UNSIGNED), else the Spark integral
    * type's natural bounds (so inserts into attached parquet tables
    * still reject wrap-around). Non-integral targets have no range
    * semantics here. */
  private def mysqlBounds(f: org.apache.spark.sql.types.StructField)
      : Option[(BigDecimal, BigDecimal)] = {
    import org.apache.spark.sql.types._
    if (f.metadata.contains("graft.mysql.min"))
      Some((BigDecimal(f.metadata.getString("graft.mysql.min")),
        BigDecimal(f.metadata.getString("graft.mysql.max"))))
    else f.dataType match {
      case ByteType => Some((BigDecimal(Byte.MinValue), BigDecimal(Byte.MaxValue)))
      case ShortType => Some((BigDecimal(Short.MinValue), BigDecimal(Short.MaxValue)))
      case IntegerType => Some((BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue)))
      case LongType => Some((BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue)))
      case _ => None
    }
  }

  /** MySQL strict-mode range enforcement (ER_WARN_DATA_OUT_OF_RANGE,
    * error 1264 — the reference's out_of_range_issue1151.test rejects
    * every overflowing INSERT): a numeric value destined for an
    * integral column must lie inside the column's declared MySQL range;
    * otherwise the whole statement throws, naming the columns. Without
    * this, Spark's non-ANSI cast silently WRAPS (1234 → TINYINT = -46)
    * — a silently-wrong row instead of MySQL's error. */
  private def rangeCheck(named: DataFrame,
                         schema: org.apache.spark.sql.types.StructType,
                         provided: Seq[String],
                         strictNulls: Boolean = true,
                         computedStrings: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, NumericType}
    val checks = schema.toSeq.flatMap { f =>
      if (!provided.contains(f.name)) None
      else mysqlBounds(f).flatMap { case (lo, hi) =>
        named.schema(f.name).dataType match {
          case _: NumericType =>
            // decimal(38,4) holds every in-range value of every MySQL
            // integral type; an overflowing cast nulls → coalesce(true)
            // counts it as out of range too
            val x = col(f.name).cast(DecimalType(38, 4))
            Some(when(col(f.name).isNotNull &&
              coalesce(x < lit(lo.bigDecimal) || x > lit(hi.bigDecimal),
                lit(true)),
              lit(f.name)))
          case _ => None
        }
      }
    }
    // NULL destined for a NOT NULL column is the other strict-mode
    // rejection (ER_BAD_NULL_ERROR, 1048). The multi-row downgrade
    // (strictNulls=false) only applies where a DECLARED default exists
    // to downgrade TO — insert.test's `(1),(NULL),(2)` into
    // `int NOT NULL DEFAULT 8` succeeds, create_table.test's
    // `(""),(null)` into defaultless `char(0) not null` pins 1048
    val nullChecks = schema.toSeq.flatMap { f =>
      if (!provided.contains(f.name) || !requiredCol(f)) None
      else if (!strictNulls && declaredDefault(f).isDefined) None
      else Some(when(col(f.name).isNull,
        lit(s"${f.name}: NULL into NOT NULL")))
    }
    // over-length strings reject too (ER_DATA_TOO_LONG, 1406)
    val lenChecks = schema.toSeq.flatMap { f =>
      if (!provided.contains(f.name)) None
      else maxLenOf(f).flatMap { cap =>
        named.schema(f.name).dataType match {
          case org.apache.spark.sql.types.StringType =>
            Some(when(length(col(f.name)) > cap,
              lit(s"${f.name}: data too long for VARCHAR($cap)")))
          case _ => None
        }
      }
    }
    // a 4-byte code point into a 3-byte utf8 column is 1366
    // (different_charsets_b.test): non-BMP values surface as UTF-16
    // surrogate pairs in the string
    val charsetChecks = schema.toSeq.flatMap { f =>
      if (!provided.contains(f.name) ||
        !f.metadata.contains("graft.mysql.charset") ||
        f.metadata.getString("graft.mysql.charset") != "utf8") None
      else named.schema(f.name).dataType match {
        case org.apache.spark.sql.types.StringType =>
          // the regex engine matches whole CODE POINTS (a surrogate
          // pair is one supplementary code point, never a lone
          // surrogate) — range over the supplementary planes directly
          Some(when(col(f.name).isNotNull &&
            col(f.name).rlike("[\\x{10000}-\\x{10FFFF}]"),
            lit(s"${f.name}: 4-byte code point exceeds utf8 (3-byte)")))
        case _ => None
      }
    }
    // numeric STRINGS into bounded columns range-check too ('-129'
    // into int1 — integer_range.test); unparseable strings are MySQL's
    // 1366 incorrect-value rejection
    val strNumChecks = schema.toSeq.flatMap { f =>
      if (!provided.contains(f.name)) None
      else if (bitWidthOf(f).isDefined) {
        // string → BIT carries BYTE semantics: too many bytes for the
        // declared width is 1406 data-too-long (bit_type.test '10'
        // into BIT(8)); the value itself always fits
        val n = bitWidthOf(f).get
        named.schema(f.name).dataType match {
          case org.apache.spark.sql.types.StringType =>
            // computed string expressions (UPDATE SET b = concat(a),
            // bit.test) carry the VALUE's digit form in this engine
            // (BIT rides LongType), so check the parsed value against
            // the width; literal strings keep MySQL's byte semantics
            // (bytes-as-binary-number must fit — '10' into BIT(8) is
            // 0x3130 > 0xFF, bit_type.test's 1406)
            if (computedStrings)
              Some(when(col(f.name).isNotNull &&
                coalesce(col(f.name).cast(
                  org.apache.spark.sql.types.DecimalType(38, 0)) >
                  lit(BigDecimal((BigInt(1) << n) - 1).bigDecimal),
                  lit(true)),
                lit(s"${f.name}: data too long for BIT($n)")))
            else
              Some(when(col(f.name).isNotNull &&
                length(col(f.name)) * 8 > lit(n),
                lit(s"${f.name}: data too long for BIT($n)")))
          case _ => None
        }
      } else mysqlBounds(f).flatMap { case (lo, hi) =>
        named.schema(f.name).dataType match {
          case org.apache.spark.sql.types.StringType =>
            val x = col(f.name).cast(DecimalType(38, 4))
            Some(when(col(f.name).isNotNull &&
              coalesce(x < lit(lo.bigDecimal) || x > lit(hi.bigDecimal),
                lit(true)),
              lit(f.name)))
          case _ => None
        }
      }
    }
    // values that null-cast into a temporal column reject under strict
    // mode (issue682 `insert into t1 values (0)` with a DATE column,
    // MySQL 1292) — except MySQL's legal zero/partial-zero dates,
    // which this engine stores as NULL (the documented zero-date
    // convention, q_types_zero_date)
    val temporalChecks = schema.toSeq.flatMap { f =>
      import org.apache.spark.sql.types._
      val isTemporal = f.dataType == DateType ||
        f.dataType.isInstanceOf[TimestampType] ||
        f.dataType.isInstanceOf[TimestampNTZType]
      // numeric 0 is MySQL's legal zero date unless NO_ZERO_DATE is in
      // the session sql_mode — the SERVER DEFAULT includes it (MySQL
      // 5.7), so delete.test errors with no SET in sight while
      // issue682's explicit SET without it inserts the same 0 fine
      val zeroDateAllowed = !sessionSqlMode.contains("NO_ZERO_DATE")
      if (!provided.contains(f.name) || !isTemporal) None
      else named.schema(f.name).dataType match {
        case _: NumericType =>
          Some(when(col(f.name).isNotNull &&
            numericAsTemporal(col(f.name), f.dataType).isNull &&
            !(lit(zeroDateAllowed) && col(f.name) === lit(0)),
            lit(s"${f.name}: incorrect temporal value")))
        case StringType =>
          val s = expandCompactTemporal(col(f.name))
          val shape = s.rlike("^\\s*\\d{1,4}[-/.]\\d{1,2}[-/.]\\d{1,2}")
          val mo = regexp_extract(s,
            "^\\s*\\d{1,4}[-/.](\\d{1,2})[-/.](\\d{1,2})", 1).cast("int")
          val dy = regexp_extract(s,
            "^\\s*\\d{1,4}[-/.](\\d{1,2})[-/.](\\d{1,2})", 2).cast("int")
          val zeroDateOk = shape && mo <= 12 && dy <= 31 &&
            (lit(zeroDateAllowed) || (mo >= 1 && dy >= 1))
          Some(when(s.isNotNull && length(s) > 0 &&
            s.cast(f.dataType).isNull && !zeroDateOk,
            lit(s"${f.name}: incorrect temporal value")))
        case _ => None
      }
    }
    val all =
      checks ++ nullChecks ++ lenChecks ++ charsetChecks ++
        strNumChecks ++ temporalChecks
    if (all.nonEmpty) {
      val bad = named.select(explode(array(all: _*)).as("c"))
        .filter(col("c").isNotNull)
        .groupBy(col("c")).agg(count(lit(1)).as("n"))
        .limit(5).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        "INSERT: out of range, NULL, or over-length value for column(s) " +
          bad.map(r => s"'${r.getString(0)}' (${r.getLong(1)} row(s))")
            .mkString(", ") + " (MySQL strict mode, errors 1264/1048/1406)")
    }
  }

  /** MySQL interprets a NUMBER destined for a temporal column by its
    * digit string: yyyymmdd, yymmdd, yyyymmddhhmmss (issue682 inserts
    * 20221020 into a DATE). NULL when the digits don't form a date. */
  /** MySQL's compact digit-string temporal forms expanded to the
    * delimited spelling: yyyymmdd / yymmdd / yyyymmddhhmmss /
    * yymmddhhmmss (type_timestamp.test's ctimestamp3 literals; the
    * 2-digit-year pivot applies downstream). Non-matching values pass
    * through. */
  private def expandCompactTemporal(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(c.rlike("^\\d{14}$"), regexp_replace(c,
        "^(\\d{4})(\\d{2})(\\d{2})(\\d{2})(\\d{2})(\\d{2})$",
        "$1-$2-$3 $4:$5:$6"))
      .when(c.rlike("^\\d{12}$"), regexp_replace(c,
        "^(\\d{2})(\\d{2})(\\d{2})(\\d{2})(\\d{2})(\\d{2})$",
        "$1-$2-$3 $4:$5:$6"))
      .when(c.rlike("^\\d{8}$"), regexp_replace(c,
        "^(\\d{4})(\\d{2})(\\d{2})$", "$1-$2-$3"))
      .when(c.rlike("^\\d{6}$"), regexp_replace(c,
        "^(\\d{2})(\\d{2})(\\d{2})$", "$1-$2-$3"))
      .otherwise(c)
  }

  private def numericAsTemporal(v: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val s = v.cast("decimal(20,0)").cast("string")
    when(length(s) === 8, to_date(s, "yyyyMMdd").cast(dt))
      .when(length(s) === 6, to_date(s, "yyMMdd").cast(dt))
      .when(length(s) === 14, to_timestamp(s, "yyyyMMddHHmmss").cast(dt))
      .otherwise(lit(null).cast(dt))
  }

  /** BIT(n) width declared for a field, from its type metadata. */
  private def bitWidthOf(f: org.apache.spark.sql.types.StructField)
      : Option[Int] =
    if (!f.metadata.contains("graft.mysql.type")) None
    else """BIT\((\d+)\)""".r
      .findFirstMatchIn(f.metadata.getString("graft.mysql.type"))
      .map(_.group(1).toInt)

  /** MySQL's implicit column default (what non-strict/IGNORE inserts
    * substitute for NULL in a NOT NULL column): 0 for numbers, '' for
    * strings, false, empty bytes, epoch for temporals. */
  private def implicitDefault(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => lit(0)
      case StringType => lit("")
      case BooleanType => lit(false)
      case BinaryType => lit(Array.emptyByteArray)
      case DateType | _: TimestampType | _: TimestampNTZType =>
        lit("1970-01-01 00:00:00")
      case _ => lit(null)
    }
  }

  /** Name the incoming frame's columns from the statement's column list
    * (or the table's own order) and cast positionally into the table
    * schema. `strict = true` (the default, MySQL strict sql_mode):
    * out-of-range and NULL-into-NOT-NULL values REJECT the statement
    * ([[rangeCheck]]) and unmentioned NOT NULL columns refuse (error
    * 1364). `strict = false` (the INSERT IGNORE regime): out-of-range
    * values CLAMP to the nearest bound and NOT NULL columns receive the
    * implicit default — MySQL's documented IGNORE downgrades of the
    * same errors. Shared by every INSERT-shaped statement form. */
  private def alignToSchema(raw: DataFrame, colList: String,
                            schema: org.apache.spark.sql.types.StructType,
                            strict: Boolean = true,
                            strictNulls: Boolean = true,
                            ignoreMode: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, greatest, least, lit, when}
    import org.apache.spark.sql.types.DecimalType
    val provided: Seq[String] =
      if (colList == null || colList.trim.isEmpty) schema.map(_.name).toSeq
      else splitTopLevel(colList).map(_.stripPrefix("`").stripSuffix("`"))
        // MySQL column names are case-insensitive — `INSERT INTO st1
        // (NAME, uid)` targets the `name` column (escape.test stored
        // NULLs there before this canonicalization)
        .map(p => schema.fieldNames
          .find(_.equalsIgnoreCase(p)).getOrElse(p))
    if (raw.schema.length != provided.length)
      throw new IllegalArgumentException(
        s"INSERT: ${raw.schema.length} values per row for " +
          s"${provided.length} target columns")
    val named = raw.toDF(provided: _*)
    if (strict) {
      val missingRequired = schema.filter(f =>
        requiredCol(f) && !provided.contains(f.name)
          && declaredDefault(f).isEmpty).map(_.name)
      if (missingRequired.nonEmpty) throw new IllegalArgumentException(
        s"INSERT: field(s) ${missingRequired.mkString(", ")} don't have " +
          "a default value (MySQL strict mode, error 1364)")
      rangeCheck(named, schema, provided, strictNulls)
    } else if (strictNulls && !ignoreMode) {
      // explicit NULL into NOT NULL is 1048 even under NON-strict
      // sql_mode when the insert is SINGLE-row (insert.test runs under
      // NO_ENGINE_SUBSTITUTION and still pins the error); only the
      // multi-row form downgrades to the implicit default with a
      // warning — MySQL's documented asymmetry. INSERT IGNORE
      // (ignoreMode) downgrades even the single-row form.
      import org.apache.spark.sql.functions.{array, explode}
      val req = schema.toSeq.filter(f =>
        provided.contains(f.name) && requiredCol(f))
      if (req.nonEmpty) {
        val bad = named.select(explode(array(req.map(f =>
          when(col(f.name).isNull, lit(f.name))): _*)).as("c"))
          .filter(col("c").isNotNull).limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"INSERT: column '${bad.head.getString(0)}' cannot be null " +
            "(MySQL error 1048)")
      }
    }
    named.select(schema.map { f =>
      if (provided.contains(f.name)) {
        val src = named.schema(f.name).dataType
        val isNum = src.isInstanceOf[org.apache.spark.sql.types.NumericType]
        val isStr = src == org.apache.spark.sql.types.StringType
        val shaped =
          if (strict) col(f.name)
          else if (isNum) mysqlBounds(f) match {
            // NULL is never out-of-range: Spark's greatest/least SKIP
            // nulls, so an unguarded clamp would turn a NULL cell into
            // the type's lower bound — fatal for auto-increment columns
            // whose NULL means "assign the next id" (insert.test's
            // multi-row DEFAULT rows under non-strict sql_mode)
            case Some((lo, hi)) => when(col(f.name).isNull, lit(null))
              .otherwise(least(greatest(
                col(f.name).cast(DecimalType(38, 4)),
                lit(lo.bigDecimal)), lit(hi.bigDecimal)))
            case None => col(f.name)
          }
          else if (isStr) maxLenOf(f) match {
            // IGNORE truncates over-length strings (MySQL note 1265)
            case Some(cap) =>
              org.apache.spark.sql.functions
                .substring(col(f.name), 1, cap.toInt)
            case None => col(f.name)
          }
          else col(f.name)
        // MySQL casts numbers into BLOB columns via their digit bytes;
        // Spark has no direct numeric→binary cast — route via string
        // (bigint_unsigned.test inserts numerics into blob)
        val isTemporalTarget =
          f.dataType == org.apache.spark.sql.types.DateType ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType]
        // MySQL's temporal string grammar is looser than Spark's cast:
        // '/' and '.' date separators, and 2-digit years mapping
        // 00-69 → 20xx / 70-99 → 19xx ('09-12-11 01:08:59' stores as
        // 2009-12-11 — time_function.test)
        val tShaped =
          if (isTemporalTarget && isStr) {
            val sep = org.apache.spark.sql.functions.regexp_replace(
              expandCompactTemporal(shaped),
              "^(\\d{1,4})[/.](\\d{1,2})[/.](\\d{1,2})",
              "$1-$2-$3")
            val yy = org.apache.spark.sql.functions.regexp_extract(
              sep, "^(\\d{2})-", 1)
            when(sep.rlike("^\\d{2}-\\d{1,2}-\\d{1,2}([ T].*)?$"),
              org.apache.spark.sql.functions.concat(
                when(yy.cast("int") < 70, lit("20"))
                  .otherwise(lit("19")), sep))
              .otherwise(sep)
          } else shaped
        // TIME columns store as normalized strings; a fractional tail
        // ROUNDS to the second ('01:37:50.871' stores '01:37:51' —
        // time_function.test)
        val isTimeTarget =
          f.dataType == org.apache.spark.sql.types.StringType &&
            declaredType(f).matches("(?is)^TIME\\s*(\\(.*)?$")
        val cast =
          if (f.dataType == org.apache.spark.sql.types.BinaryType
              && src != org.apache.spark.sql.types.BinaryType)
            shaped.cast("string").cast("binary")
          else if (isTimeTarget && isStr) {
            // hours past 23 can't ride the timestamp round-trip (the
            // 1970-01-01 cast NULLs them) — a valid MySQL TIME runs to
            // 838:59:59 ('58:11:12', '100:00:00'), so the >23h lane
            // rounds its fractional tail arithmetically instead
            val hh = org.apache.spark.sql.functions.regexp_extract(
              col(f.name), "^(\\d{1,3}):", 1).cast("long")
            val mi = org.apache.spark.sql.functions.regexp_extract(
              col(f.name), "^\\d{1,3}:(\\d{1,2}):", 1).cast("long")
            val se = org.apache.spark.sql.functions.regexp_extract(
              col(f.name), "^\\d{1,3}:\\d{1,2}:(\\d{1,2})", 1)
              .cast("long")
            val fr = coalesce(
              org.apache.spark.sql.functions.regexp_extract(
                col(f.name), "(\\.\\d+)$", 1).cast("double"), lit(0.0))
            val tot = org.apache.spark.sql.functions.least(
              hh * 3600L + mi * 60L + se +
                when(fr >= 0.5, 1L).otherwise(0L),
              lit(838L * 3600 + 59 * 60 + 59))
            when(col(f.name)
                .rlike("^\\d{1,3}:\\d{1,2}:\\d{1,2}(\\.\\d+)?$"),
              when(hh <= 23,
                org.apache.spark.sql.functions.date_format(
                  org.apache.spark.sql.functions.date_trunc("SECOND",
                    org.apache.spark.sql.functions.concat(
                      lit("1970-01-01 "), col(f.name)).cast("timestamp") +
                      org.apache.spark.sql.functions.make_dt_interval(
                        lit(0), lit(0), lit(0), lit(0.5))),
                  "HH:mm:ss"))
                .otherwise(org.apache.spark.sql.functions.format_string(
                  "%02d:%02d:%02d", (tot / 3600L).cast("long"),
                  ((tot % 3600L) / 60L).cast("long"), tot % 60L)))
              .otherwise(col(f.name))
          }
          else if (isTimeTarget && isNum) {
            // MySQL reads a NUMBER destined for TIME as hhmmss digits
            // from the right (0 → '00:00:00', 121314 → '12:13:14' —
            // issue682's TIME NOT NULL tier)
            val s = org.apache.spark.sql.functions.lpad(
              col(f.name).cast(DecimalType(20, 0)).cast("string"),
              6, "0")
            when(col(f.name).isNull, lit(null))
              .otherwise(org.apache.spark.sql.functions.regexp_replace(
                s, "^(\\d+)(\\d{2})(\\d{2})$", "$1:$2:$3"))
          }
          else if (isTemporalTarget && isNum)
            // digit-string interpretation (20221020 → '2022-10-20')
            numericAsTemporal(shaped, f.dataType)
          else if (f.dataType == org.apache.spark.sql.types.StringType
              && (src == org.apache.spark.sql.types.DoubleType ||
                src == org.apache.spark.sql.types.FloatType))
            // Field_string::store(double): my_gcvt fit to the column
            // width — '2001' without the trailing .0
            // (insert_select.test), '0.00187' into char(4) → '2e-3'
            // (insert.test); TEXT takes the unconstrained width
            org.apache.spark.sql.GraftSqlBridge.column(
              org.apache.spark.sql.catalyst.expressions.objects
                .StaticInvoke(
                  graft.functions.MySql.getClass,
                  org.apache.spark.sql.types.StringType,
                  "doubleToCharWidth",
                  Seq(org.apache.spark.sql.GraftSqlBridge.expression(
                    shaped.cast("double")),
                    org.apache.spark.sql.catalyst.expressions.Literal(
                      maxLenOf(f).map(_.toInt).getOrElse(65535)),
                    org.apache.spark.sql.catalyst.expressions.Literal(
                      src == org.apache.spark.sql.types.FloatType)),
                  Seq(org.apache.spark.sql.types.DoubleType,
                    org.apache.spark.sql.types.IntegerType,
                    org.apache.spark.sql.types.BooleanType)))
          else if (isStr && bitWidthOf(f).isDefined)
            // string → BIT is BYTE semantics: value = the bytes' number
            // ('' = 0, 'a' = 97 — bit_type.test)
            coalesce(
              org.apache.spark.sql.functions.conv(
                org.apache.spark.sql.functions.hex(col(f.name)), 16, 10)
                .cast("long"), lit(0L)).cast(f.dataType)
          else if (isTemporalTarget &&
              f.dataType != org.apache.spark.sql.types.DateType &&
              !"""\(\s*[1-9]""".r.findFirstIn(declaredType(f)).isDefined)
            // MySQL DATETIME/TIMESTAMP default to fsp 0 — fractional
            // seconds ROUND-half-up on store ('…23:59:59.65' stores
            // the NEXT second, time_function.test; '…11:22:30.123'
            // stores '…11:22:30', md5_function/select_order_by
            // goldens — both pins hold under rounding); a declared
            // (n>0) keeps them. The +0.5s is gated to MySQL's year
            // range: an epoch-wrapped garbage value near Long.Max
            // micros would overflow timestampAddDayTime
            // (type_timestamp.test's 14-digit inserts).
            {
              val t0 = tShaped.cast(f.dataType)
              val inRange = t0.isNotNull &&
                t0 >= lit("0001-01-01 00:00:00").cast(f.dataType) &&
                t0 <= lit("9999-12-30 23:59:59").cast(f.dataType)
              when(inRange,
                org.apache.spark.sql.functions.date_trunc("SECOND",
                  t0 + org.apache.spark.sql.functions.make_dt_interval(
                    lit(0), lit(0), lit(0), lit(0.5))))
                .otherwise(
                  org.apache.spark.sql.functions.date_trunc("SECOND", t0))
                .cast(f.dataType)
            }
          else if ({
            // MySQL ROUNDS a fractional value into an integer column
            // (insert a/2 = 0.5 stores 1 — in_withpk.test); Spark's
            // cast truncates toward zero
            import org.apache.spark.sql.types._
            val integralTarget = f.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case dt: DecimalType if dt.scale == 0 => true
              case _ => false
            }
            val fractionalSrc = src match {
              case DoubleType | FloatType => true
              case dt: DecimalType if dt.scale > 0 => true
              case _ => false
            }
            integralTarget && fractionalSrc
          })
            org.apache.spark.sql.functions.round(tShaped, 0)
              .cast(f.dataType)
          else if ({
            // a numeric STRING with a fractional tail ROUNDS into an
            // integer column too ('34.5' stores 35, half away from
            // zero — integer_range.test); Spark's string cast truncates
            import org.apache.spark.sql.types._
            val integralTarget = f.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case dt: DecimalType if dt.scale == 0 => true
              case _ => false
            }
            integralTarget && isStr && bitWidthOf(f).isEmpty
          })
            when(tShaped.rlike("^\\s*-?\\d*\\.\\d+\\s*$"),
              org.apache.spark.sql.functions.round(
                tShaped.cast(DecimalType(38, 6)), 0).cast(f.dataType))
              .otherwise(tShaped.cast(f.dataType))
          else tShaped.cast(f.dataType)
        // a zero date entering a NULLABLE temporal column stores the
        // year-1 sentinel — distinguishable from a genuine NULL, so
        // `IS NULL` answers only real NULLs while the row still renders
        // '0000-00-00' (issue682's nullable tier); NOT NULL columns
        // keep the NULL-sentinel convention (their IS NULL quirk)
        val zeroSrc: Option[org.apache.spark.sql.Column] =
          if (!isTemporalTarget || requiredCol(f)) None
          else if (isNum) Some(col(f.name) === lit(0))
          else if (isStr) Some(col(f.name).rlike(
            "^\\s*0000[-/.]0?0[-/.]0?0([ T]00:00:00(\\.0*)?)?\\s*$"))
          else None
        val sentinel = lit("0001-01-01 00:00:00").cast(f.dataType)
        val zeroWrapped0 = zeroSrc match {
          case Some(z) if !sessionSqlMode.contains("NO_ZERO_DATE") =>
            when(col(f.name).isNotNull && z, sentinel).otherwise(cast)
          case _ => cast
        }
        // a TIMESTAMP column normalizes the session-local value to UTC
        // on store (type_timestamp.test: insert under '-5:00', display
        // under '+1:00' shifts +6h); DATETIME stores as-is
        val zeroWrapped1 = sessionTzMin match {
          case Some(off) if off != 0 && isTimestampDecl(f) =>
            val t0 = zeroWrapped0.cast(f.dataType)
            // range-guarded: interval arithmetic on an epoch-wrapped
            // garbage value near Long.Max micros throws long overflow
            val ok = t0.isNotNull &&
              t0 >= lit("0001-01-01 00:00:00").cast(f.dataType) &&
              t0 <= lit("9999-12-30 23:59:59").cast(f.dataType)
            when(ok, (t0 - org.apache.spark.sql.functions
              .expr(s"INTERVAL $off MINUTE")).cast(f.dataType))
              .otherwise(t0)
          case _ => zeroWrapped0
        }
        // binary-charset CHAR(n): pad stored values to n with 0x00
        val zeroWrapped =
          if (f.metadata.contains("graft.mysql.binarypad"))
            when(zeroWrapped1.isNotNull,
              org.apache.spark.sql.functions.rpad(zeroWrapped1,
                f.metadata.getLong("graft.mysql.binarypad").toInt,
                "\u0000"))
              .otherwise(zeroWrapped1)
          else zeroWrapped1
        // an explicit NULL downgrading into a NOT NULL column takes the
        // IMPLICIT default, not the declared one (insert.test: DEFAULT 8
        // column stores 0 for the multi-row NULL) — EXCEPT temporal
        // targets, whose implicit default is the zero date and the
        // engine stores that as the NULL sentinel (issue682's
        // `insert ignore … (0)` rows answer `where a is null`).
        // A declared-TIME string column's implicit default is the zero
        // TIME '00:00:00', not the empty string.
        (if ((!strict || !strictNulls) && requiredCol(f)
            && !isTemporalTarget)
          coalesce(zeroWrapped,
            (if (isTimeTarget) lit("00:00:00")
             else implicitDefault(f.dataType)).cast(f.dataType))
        else zeroWrapped).as(f.name)
      } else fillUnprovided(f, strict)
    }.toSeq: _*)
  }

  private def valuesBatch(tuples: String, colList: String,
                          schema: org.apache.spark.sql.types.StructType,
                          strict: Boolean = true)
      : DataFrame = {
    // tuples ride the dialect rewrite too (bit literals b'0101'/0b0101,
    // &&/|| inside row expressions; string literals stay protected)
    if (strict && strictMode) rejectLiteralDivZero(tuples, "INSERT")
    val rewritten =
      MySqlDialect.rewrite(substituteDefaultKeyword(tuples, colList, schema))
    // a bit-operator expression inside VALUES must NOT ride Spark's
    // inline-table resolution: ResolveInlineTables folds the expression
    // BEFORE the MySQL coercion rule can move it to the u64 domain
    // (bigint_unsigned.test inserts `-1 | 0` = 18446744073709551615,
    // not -1) — route through the per-tuple SELECT form instead
    val hasBitOps = {
      val noStr = rewritten.replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
        .replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "\"\"")
      """[|&^]|<<|>>""".r.findFirstIn(noStr).isDefined
    }
    def tupleSelects(): DataFrame = {
      val positional0: Seq[org.apache.spark.sql.types.DataType] =
        (if (colList == null || colList.trim.isEmpty)
          schema.fields.toSeq
        else splitTopLevel(colList)
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .flatMap(n => schema.fields.find(_.name.equalsIgnoreCase(n))))
          .map(_.dataType)
      val selects = topLevelTuples(rewritten).map { t =>
        "SELECT " + splitTopLevel(t).zipWithIndex.map { case (cell, k) =>
          positional0.lift(k) match {
            case Some(org.apache.spark.sql.types.BinaryType) =>
              s"CAST(CAST(($cell) AS STRING) AS BINARY)"
            // a temporal target keeps its DIGIT semantics: a direct
            // INT→TIMESTAMP cast is epoch seconds (19940101010203
            // overflows long micros); route via STRING so the insert
            // path's digit-string interpretation applies
            // (type_timestamp.test's ctimestamp3 literals)
            case Some(org.apache.spark.sql.types.DateType) |
                 Some(org.apache.spark.sql.types.TimestampType) |
                 Some(org.apache.spark.sql.types.TimestampNTZType) =>
              s"CAST(($cell) AS STRING)"
            case Some(dt) => s"CAST(($cell) AS ${dt.sql})"
            case None => cell
          }
        }.mkString(", ")
      }
      spark.sql(selects.mkString(" UNION ALL "))
    }
    val df = try {
      if (hasBitOps) tupleSelects()
      else spark.sql(s"SELECT * FROM VALUES $rewritten")
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNRESOLVED") =>
        // MySQL evaluates a bare target-column reference inside VALUES
        // as the column's implicit default — insert.test's
        // `insert into t1 values (a+2)` inserts 2. Substitute and
        // retry; only reached when plain resolution failed.
        val subst = schema.fields.foldLeft(rewritten) { (t, f) =>
          t.replaceAll("(?i)(?<![\\w`'\".])" +
            java.util.regex.Pattern.quote(f.name) + "(?![\\w`'\"])",
            implicitDefaultSql(f.dataType))
        }
        spark.sql(s"SELECT * FROM VALUES $subst")
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("INVALID_INLINE_TABLE") =>
        // Spark's inline table demands one common type per column;
        // MySQL coerces per row (insert.test mixes `default`-substituted
        // strings with integers). Each tuple becomes a SELECT with the
        // cells cast to the TARGET column types, unioned.
        tupleSelects()
    }
    // MySQL's NOT NULL enforcement is per-arity on this engine tier:
    // a SINGLE-row VALUES with NULL errors (1048), a MULTI-row one
    // downgrades NULL to the column default with a warning — the
    // STRICT_TRANS_TABLES mode does not harden non-transactional
    // engines' multi-row inserts (insert.test pins both behaviors)
    alignToSchema(df, colList, schema, strict && strictMode,
      strictNulls = topLevelTuples(rewritten).length <= 1,
      // the caller's strict=false IS the IGNORE regime (runInsertIgnore
      // passes it); a session-level non-strict sql_mode arrives with
      // strict=true + strictMode=false and keeps the 1048 single-row
      // rejection above
      ignoreMode = !strict)
  }

  /** Contents of each top-level `(…)` tuple group (string-aware). */
  private def topLevelTuples(tuples: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < tuples.length) {
      val ch = tuples(i)
      ch match {
        case '(' =>
          depth += 1; if (depth > 1) cur.append(ch)
        case ')' =>
          depth -= 1
          if (depth == 0) { out += cur.toString; cur.clear() }
          else cur.append(ch)
        case '\'' | '"' if depth > 0 =>
          cur.append(ch); i += 1
          while (i < tuples.length && tuples(i) != ch) {
            if (tuples(i) == '\\' && i + 1 < tuples.length) {
              cur.append(tuples(i)); i += 1
            }
            cur.append(tuples(i)); i += 1
          }
          if (i < tuples.length) cur.append(ch)
        case _ => if (depth > 0) cur.append(ch)
      }
      i += 1
    }
    out.toSeq
  }

  /** The implicit default MySQL substitutes for an unqualified column
    * reference in VALUES: 0 for numerics, '' for strings, NULL else. */
  private def implicitDefaultSql(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => "0"
      case StringType => "''"
      case _ => "NULL"
    }
  }

  /** MySQL's `DEFAULT` keyword as a VALUES cell (insert.test
    * `values (default,default,default,default)`): positionally replace
    * with the column's declared default, or its implicit default. The
    * scan is paren- and string-aware so `'default'` text survives. */
  private def substituteDefaultKeyword(tuples: String, colList: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    if ("""(?i)\bdefault\b""".r.findFirstIn(tuples).isEmpty) return tuples
    val cols: IndexedSeq[org.apache.spark.sql.types.StructField] =
      if (colList == null || colList.trim.isEmpty) schema.fields.toIndexedSeq
      else splitTopLevel(colList)
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .flatMap(n => schema.fields.find(_.name.equalsIgnoreCase(n)))
        .toIndexedSeq
    def defaultFor(idx: Int): String =
      if (idx >= cols.size) "NULL"
      else {
        val f = cols(idx)
        if (f.metadata.contains("graft.mysql.default"))
          f.metadata.getString("graft.mysql.default")
        else if (f.nullable) "NULL"
        else implicitDefaultSql(f.dataType)
      }
    val out = new StringBuilder
    val arg = new StringBuilder
    var depth = 0
    var argIdx = 0
    def flushArg(): Unit = {
      val a = arg.toString
      out.append(
        if (a.trim.equalsIgnoreCase("default")) defaultFor(argIdx) else a)
      arg.clear()
    }
    var i = 0
    while (i < tuples.length) {
      val ch = tuples(i)
      ch match {
        case '(' if depth == 0 =>
          depth = 1; out.append(ch); argIdx = 0; arg.clear()
        case '(' => depth += 1; arg.append(ch)
        case ')' if depth == 1 => flushArg(); depth = 0; out.append(ch)
        case ')' => depth -= 1; arg.append(ch)
        case ',' if depth == 1 =>
          flushArg(); out.append(','); argIdx += 1
        case '\'' | '"' =>
          val tgt = if (depth == 0) out else arg
          tgt.append(ch); i += 1
          while (i < tuples.length && tuples(i) != ch) {
            if (tuples(i) == '\\' && i + 1 < tuples.length) {
              tgt.append(tuples(i)); i += 1
            }
            tgt.append(tuples(i)); i += 1
          }
          if (i < tuples.length) tgt.append(ch)
        case _ => if (depth == 0) out.append(ch) else arg.append(ch)
      }
      i += 1
    }
    out.append(arg)
    out.toString
  }

  /** MySQL's duplicate-key rejection for plain strict INSERTs
    * (ER_DUP_ENTRY, 1062 — composite_primary_key.test pins it): a batch
    * row whose declared PRIMARY KEY exists in the base, or repeats
    * within the batch, rejects the whole statement. Two bounded
    * key-column-only probes (the Dml.appendStrict discipline). No-op
    * when the table has no declared PK. */
  private def enforcePkUnique(table: String, store: DeltaStore,
                              batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val keys = primaryKeys.getOrElse(table.toLowerCase, return)
    val inBatch = batch.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    if (inBatch.nonEmpty) throw new IllegalArgumentException(
      s"INSERT: duplicate entry for PRIMARY KEY within the batch: " +
        inBatch.head.mkString("(", ",", ")") + " (MySQL error 1062)")
    val clash = batch.select(keys.map(col): _*)
      .join(store.read().select(keys.map(col): _*), keys, "left_semi")
      .limit(1).collect()
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"INSERT: duplicate entry ${clash.head.mkString("(", ",", ")")} " +
        s"for PRIMARY KEY (${keys.mkString(", ")}) (MySQL error 1062)")
  }

  /** `INSERT INTO t VALUES(),(),…` — MySQL's all-defaults rows. */
  private def runInsertDefaults(table: String, rows: Int): DataFrame = {
    val store = attachedStore(table)
    val schema = store.read().schema
    val missing = schema.filter(f =>
      requiredCol(f) && declaredDefault(f).isEmpty).map(_.name)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"INSERT: field(s) ${missing.mkString(", ")} don't have a default " +
        "value (MySQL strict mode, error 1364)")
    val row = spark.range(rows.toLong)
      .select(schema.map(f => fillUnprovided(f, strict = true)).toSeq: _*)
    val aligned0 = fireBeforeInsert(table, assignAutoInc(store, row))
    // materialize the statement-sized batch into a LocalRelation so the
    // append lands in the store's ORDERED in-memory buffer — a
    // Range-leafed plan would spill one parquet delta file per
    // statement, and a multi-file delta reads in SIZE order, not insert
    // order (the statement tier's scan-order contract)
    val aligned = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        aligned0.collect().toList.asJava,
        org.apache.spark.sql.types.StructType(
          aligned0.schema.fields.map(_.copy(nullable = true))))
    }
    enforcePkUnique(table, store, aligned)
    store.append(aligned)
    refreshTableView(table, store)
    fireAfterInsert(table, aligned)
    import spark.implicits._
    Seq((table, rows.toLong)).toDF("table_name", "rows_inserted")
  }

  private def runInsert(table0: String, colList: String,
                        tuples: String): DataFrame = {
    val table = dmlTableFor(table0, Option(colList).toSeq.flatMap(splitTopLevel(_))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    if (tuples.trim.matches("""\(\s*\)(\s*,\s*\(\s*\))*""") && (colList == null
        || colList.trim.isEmpty))
      return runInsertDefaults(table,
        tuples.count(_ == '('))
    val store = attachedStore(table)
    val aligned = fireBeforeInsert(table, assignAutoInc(store,
      valuesBatch(tuples, colList, store.read().schema)))
    enforcePkUnique(table, store, aligned)
    store.append(aligned)
    refreshTableView(table, store)
    fireAfterInsert(table, aligned)
    import spark.implicits._
    Seq((table, aligned.count())).toDF("table_name", "rows_inserted")
  }

  /** `INSERT INTO t [cols] SELECT …` (engine_execute.cpp:470-513): run
    * the SELECT through the dialect rewrite, align into the table
    * schema, and append through the delta store. The batch is STAGED to
    * parquet before the append — a self-referencing insert (`INSERT INTO
    * t SELECT … FROM t`, insert_select.test) otherwise appends into
    * files its own scan is reading (the classic Halloween problem; the
    * reference materializes through its insert buffer for the same
    * reason). */
  private def runInsertSelect(table0: String, colList0: String,
                              select0: String): DataFrame = {
    // `INSERT INTO t (SELECT …)` parses the parenthesized select into the
    // column-list group — reclassify
    val (colList, select) =
      if (colList0 != null && colList0.trim.toUpperCase.startsWith("SELECT"))
        (null: String, colList0)
      else (colList0, select0.trim.stripPrefix("(").stripSuffix(")"))
    val table = dmlTableFor(table0, Option(colList).toSeq
      .flatMap(splitTopLevel(_))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    val store = attachedStore(table)
    val schema = store.read().schema
    // a pure `@var := expr` projection with no other @-references is
    // the expression itself (update_v1.test `INSERT … SELECT
    // @newA := 1 + a`); running accumulators stay unsupported
    val selectEff =
      if (!select.contains(":=")) select
      else {
        val s2 = select.replaceAll("(?i)@\\w+\\s*:=\\s*", "")
        if (s2.contains("@")) select else s2
      }
    val result = spark.sql(MySqlDialect.rewrite(selectEff))
    val aligned = assignAutoInc(store, alignToSchema(result, colList, schema))
    // ordered staging: the re-read of a multi-file staging dir is
    // size-ordered, which rotated the batch's scan order
    // (insert_into_select.test's LIMIT 3)
    val staged = fireBeforeInsert(table,
      Staging.stageOrdered(aligned, "insert-select"))
    enforcePkUnique(table, store, staged)
    store.append(staged)
    refreshTableView(table, store)
    fireAfterInsert(table, staged)
    import spark.implicits._
    Seq((table, staged.count())).toDF("table_name", "rows_inserted")
  }

  /** `INSERT IGNORE INTO t [cols] VALUES …`: batch rows that duplicate
    * an existing PRIMARY KEY (or an earlier batch row — MySQL keeps the
    * first occurrence) are skipped; survivors append through the delta
    * store. Unlike REPLACE/upsert this NEVER rewrites the base — it is
    * a pure filtered append (one key-columns-only anti-join probe).
    * Data errors downgrade per MySQL's IGNORE rules (strict = false):
    * out-of-range values clamp, NOT NULL columns take the implicit
    * default. */
  private def runInsertIgnore(table0: String, colList: String,
                              tuples: String): DataFrame = {
    val table = dmlTableFor(table0, Option(colList).toSeq.flatMap(splitTopLevel(_))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    import org.apache.spark.sql.functions.col
    val store = attachedStore(table)
    // without a declared PK there is nothing to dedup against — IGNORE
    // then only downgrades data errors (issue682)
    val keys = primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
    // BEFORE INSERT fires for every batch row — dup-skipped ones too
    // (trigger.test's @log golden); AFTER fires only for survivors
    val batch0 = fireBeforeInsert(table, assignAutoInc(store,
      valuesBatch(tuples, colList, store.read().schema, strict = false)))
    val batch = if (keys.isEmpty) batch0 else batch0.dropDuplicates(keys)
    val survivors0 = if (keys.isEmpty) batch else batch
      .join(store.read().select(keys.map(col): _*), keys, "left_anti")
    // freeze before appending: the anti-join is lazy against the
    // store's read view, and the AFTER-trigger pass must see the rows
    // that actually appended, not a post-append re-evaluation
    val survivors =
      if (triggersOn(table, "INSERT", "AFTER").isEmpty) survivors0
      else {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          collectCapped(survivors0, s"INSERT IGNORE $table")
            .toList.asJava, survivors0.schema)
      }
    val n = survivors.count()
    store.append(survivors)
    refreshTableView(table, store)
    fireAfterInsert(table, survivors)
    import spark.implicits._
    Seq((table, n)).toDF("table_name", "rows_inserted")
  }

  /** One column definition (or table-level constraint) from a CREATE
    * TABLE body. Returns Left(field) for a column, Right(pkCols) for a
    * PRIMARY KEY clause, None-equivalent for ignorable index clauses. */
  private def parseColumnDef(d: String, tianmu: Boolean = true,
                             forTable: String = "")
      : Either[org.apache.spark.sql.types.StructField, Option[Seq[String]]] = {
    import org.apache.spark.sql.types._
    val up = d.trim.toUpperCase
    // optional CONSTRAINT prefix and optional index name both occur in
    // the reference corpus (alter_table_primarykey.test, issue964)
    val PkRe =
      """(?is)^(?:CONSTRAINT\s+`?\w+`?\s+)?PRIMARY\s+KEY\s*(?:`?\w+`?\s*)?\(([^)]*)\)(?:\s+USING\s+\w+)?$""".r
    d.trim match {
      case PkRe(cols) =>
        Right(Some(splitTopLevel(cols)
          .map(_.stripPrefix("`").stripSuffix("`"))))
      case _ if up.startsWith("KEY") || up.startsWith("INDEX") ||
        up.startsWith("UNIQUE") || up.startsWith("CONSTRAINT") ||
        up.startsWith("FOREIGN") || up.startsWith("FULLTEXT") ||
        up.startsWith("SPATIAL") || up.startsWith("CHECK") =>
        // index/constraint clauses — the CREATE handler decides whether
        // the engine accepts them (tianmu_no_key_error) or errors like
        // the reference
        Right(None)
      case colDef =>
        val ColRe =
          """(?is)^(?:`?(\w+)`?\.)?`?(\w+)`?\s+(\w+(?:\s*\([^)]*\))?)\s*(.*)$""".r
        colDef match {
          case ColRe(qual, name, typ, mods) =>
            // a QUALIFIED column in CREATE must name the table being
            // created (create_table.test: `t1.name int` is legal in
            // `create table t1`, `column.name int` is 1064)
            if (qual != null && forTable.nonEmpty &&
                !qual.equalsIgnoreCase(forTable))
              throw new IllegalArgumentException(
                s"CREATE TABLE: column qualifier '$qual' does not name " +
                  s"table '$forTable' (MySQL error 1064)")
            val m = mods.toUpperCase
            // ZEROFILL implies UNSIGNED (MySQL; func_math.test's
            // `tinyint zerofill` column pins the unsigned-subtraction
            // 1690)
            val unsigned = m.contains("UNSIGNED") || m.contains("ZEROFILL")
            val typNorm = typ.replaceAll("\\s+", "")
            val base = typNorm.toUpperCase.takeWhile(_ != '(')
            // Integral MySQL types carry exact range semantics: store in
            // the narrowest Spark type that HOLDS the full MySQL range
            // (§1.2: UNSIGNED widens one tier — the reference instead
            // caps unsigned at the signed max, its documented issue
            // #1236; we implement the true range) and pin the declared
            // bounds as field metadata for strict-mode INSERT checks.
            val integral: Option[(DataType, BigDecimal, BigDecimal)] =
              base match {
                case "TINYINT" =>
                  Some(if (unsigned) (ShortType, BigDecimal(0), BigDecimal(255))
                  else (ByteType, BigDecimal(-128), BigDecimal(127)))
                case "SMALLINT" =>
                  Some(if (unsigned) (IntegerType, BigDecimal(0), BigDecimal(65535))
                  else (ShortType, BigDecimal(-32768), BigDecimal(32767)))
                case "MEDIUMINT" =>
                  Some(if (unsigned) (IntegerType, BigDecimal(0), BigDecimal(16777215))
                  else (IntegerType, BigDecimal(-8388608), BigDecimal(8388607)))
                // the engine stores 32/64-bit values with TYPE_MIN as
                // its NULL sentinel (reference common_definitions.h
                // NULL_VALUE_32/64; integer_range.test rejects exactly
                // -2147483648 / -9223372036854775808) — the declared
                // minimum is MIN+1 for those widths only
                case "INT" | "INTEGER" =>
                  Some(if (unsigned) (LongType, BigDecimal(0), BigDecimal(4294967295L))
                  else (IntegerType, BigDecimal(Int.MinValue) + 1, BigDecimal(Int.MaxValue)))
                case "BIGINT" =>
                  // unsigned BIGINT keeps the DECIMAL(20,0) storage
                  // mapping (§1.2) but the TIANMU-declared max is the
                  // signed bound: the reference stores one int64 cell
                  // per value and rejects 2^63..2^64-1 with 1264
                  // (unsigned_type.test `SET CUBIGINT=
                  // 18446744073709551613`; its issue #1236). A
                  // non-tianmu side table (engine=innodb in the same
                  // file) keeps MySQL's full u64 range.
                  Some(if (unsigned)
                    (DecimalType(20, 0), BigDecimal(0),
                      if (tianmu) BigDecimal(Long.MaxValue)
                      else BigDecimal("18446744073709551615"))
                  else (LongType, BigDecimal(Long.MinValue) + 2, BigDecimal(Long.MaxValue)))
                // MySQL integer-width aliases (integer_range.test,
                // issue1361) carry the same exact-range semantics
                case "INT1" =>
                  Some((ByteType, BigDecimal(-128), BigDecimal(127)))
                case "INT2" =>
                  Some((ShortType, BigDecimal(-32768), BigDecimal(32767)))
                case "INT3" =>
                  Some((IntegerType, BigDecimal(-8388608), BigDecimal(8388607)))
                case "INT4" =>
                  Some((IntegerType, BigDecimal(Int.MinValue) + 1, BigDecimal(Int.MaxValue)))
                case "INT8" =>
                  Some((LongType, BigDecimal(Long.MinValue) + 2, BigDecimal(Long.MaxValue)))
                // DECIMAL(p,s): strict mode rejects values beyond the
                // declared precision (insert_all_data_types.test)
                case "DECIMAL" | "NUMERIC" =>
                  val inner = typNorm.dropWhile(_ != '(').stripPrefix("(")
                    .stripSuffix(")")
                  val parts = inner.split(',').map(_.trim)
                    .filter(_.nonEmpty).map(_.toInt)
                  val p = parts.headOption.getOrElse(10)
                  val sc = parts.lift(1).getOrElse(0)
                  // the engine caps DECIMAL precision at 18 — one
                  // 64-bit pack cell per value (the reference errors
                  // on wider declarations, alter_column.test); other
                  // engines (temp tables) take the full range
                  if (tianmu && p > 18)
                    throw new UnsupportedOperationException(
                    s"DECIMAL($p,$sc): the engine supports precision " +
                      "1..18 (one 64-bit cell per value, the " +
                      "reference's cap)")
                  val hi = (BigDecimal(BigInt(10).pow(p)) - 1) /
                    BigDecimal(BigInt(10).pow(sc))
                  Some((DecimalType(p, sc),
                    if (unsigned) BigDecimal(0) else -hi, hi))
                case "BIT" =>
                  // BIT(n), default n=1; the reference caps n at 63
                  // (common_definitions.h:143) — enforce the same cap
                  val nbits = typNorm.toUpperCase.stripPrefix("BIT")
                    .stripPrefix("(").stripSuffix(")") match {
                    case "" => 1
                    case s => s.toInt
                  }
                  if (nbits < 1 || nbits > 63)
                    throw new UnsupportedOperationException(
                      s"BIT($nbits): the engine supports 1..63 bits " +
                        "(the reference's cap, common_definitions.h:143)")
                  Some((LongType, BigDecimal(0),
                    BigDecimal((BigInt(1) << nbits) - 1)))
                case _ => None
              }
            if (name.length > 64 && !name.startsWith("__q_"))
              throw new IllegalArgumentException(
                s"CREATE TABLE: identifier name '${name.take(20)}…' is " +
                  "too long (MySQL error 1059)")
            val notNull = m.contains("NOT NULL")
            // nullability must ALSO live in metadata: a parquet read
            // marks every column nullable, so the StructField flag is
            // lost after the first store roundtrip — metadata survives
            // (it rides the Catalyst schema stored in the footer)
            val mb = new MetadataBuilder()
            if (notNull) mb.putBoolean("graft.mysql.notnull", true)
            if (m.contains("AUTO_INCREMENT"))
              mb.putBoolean("graft.mysql.autoinc", true)
            // DEFAULT literal: inserts omitting the column evaluate it
            val defaultLit = """(?is)DEFAULT\s+('(?:[^']|'')*'|[^\s,]+)""".r
              .findFirstMatchIn(mods).map(_.group(1))
            defaultLit.foreach(d => mb.putString("graft.mysql.default", d))
            // invalid DEFAULT is 1067 (create_table.test): a default on
            // an AUTO_INCREMENT column, a numeric default outside the
            // declared range, an over-length string default
            defaultLit.filterNot(_.equalsIgnoreCase("NULL")).foreach { d =>
              def bad(why: String) = throw new IllegalArgumentException(
                s"CREATE TABLE: invalid default value for '$name' — " +
                  s"$why (MySQL error 1067)")
              if (m.contains("AUTO_INCREMENT"))
                bad("AUTO_INCREMENT columns take no default")
              integral.foreach { case (_, lo, hi) =>
                scala.util.Try(BigDecimal(d)).toOption match {
                  case Some(v) if v < lo || v > hi =>
                    bad(s"$d outside [$lo, $hi]")
                  case _ =>
                }
              }
              if ((base == "CHAR" || base == "VARCHAR")
                  && typNorm.contains("(") && d.startsWith("'")) {
                val cap = typNorm.dropWhile(_ != '(').stripPrefix("(")
                  .stripSuffix(")").toLong
                if (d.stripPrefix("'").stripSuffix("'").length > cap)
                  bad(s"string longer than $cap")
              }
              // a temporal default must be a VALID date — Feb 31 is
              // 1067 (create_table.test `dt datetime default
              // '2008-02-31 00:00:00'`); zero and partial-zero dates
              // stay legal (the engine's zero-date convention), and
              // ALLOW_INVALID_DATES / non-strict modes accept it with
              // a warning (the same file flips @@sql_mode and repeats)
              if (Set("DATE", "DATETIME", "TIMESTAMP")(base)
                  && d.startsWith("'") &&
                  !sessionSqlMode.contains("ALLOW_INVALID_DATES")) {
                val s = d.stripPrefix("'").stripSuffix("'")
                """^(\d{1,4})-(\d{1,2})-(\d{1,2})""".r
                  .findFirstMatchIn(s).foreach { dm =>
                    val (y, mo, dd) = (dm.group(1).toInt,
                      dm.group(2).toInt, dm.group(3).toInt)
                    if (mo > 0 && dd > 0 && scala.util.Try(
                        java.time.LocalDate.of(y, mo, dd)).isFailure)
                      bad(s"invalid temporal default $d")
                  }
              }
            }
            // CHAR/VARCHAR length cap → strict 1406 / IGNORE truncation
            if ((base == "CHAR" || base == "VARCHAR")
                && typNorm.contains("("))
              mb.putLong("graft.mysql.maxlen",
                typNorm.dropWhile(_ != '(').stripPrefix("(")
                  .stripSuffix(")").toLong)
            // column-level 3-byte utf8 (= utf8mb3): a 4-byte code point
            // (emoji) is a data error in strict mode
            // (different_charsets_b.test); utf8mb4 columns carry no cap
            if ("""(?i)(?:CHARACTER\s+SET|CHARSET)\s*=?\s*utf8(?:mb3)?\b"""
              .r.findFirstIn(mods).isDefined)
              mb.putString("graft.mysql.charset", "utf8")
            else if ("""(?i)(?:CHARACTER\s+SET|CHARSET)\s*=?\s*utf8mb4\b"""
              .r.findFirstIn(mods).isDefined)
              mb.putString("graft.mysql.charset", "utf8mb4")
            val dt = integral match {
              case Some((t, lo, hi)) =>
                val declared =
                  (if (base == "BIT" || base == "DECIMAL" ||
                    base == "NUMERIC") typNorm.toUpperCase
                  else base) + (if (unsigned) " UNSIGNED" else "")
                mb.putString("graft.mysql.type", declared)
                  .putString("graft.mysql.min", lo.toString)
                  .putString("graft.mysql.max", hi.toString)
                t
              case None =>
                // TIME lands on StringType — record the declared type
                // so the insert path can normalize/round its values
                // (indistinguishable from VARCHAR otherwise). CHAR
                // records too: a binary-charset table pads CHAR(n) with
                // 0x00 to n (range.test). DATETIME/TIMESTAMP record
                // their declared spelling: the fsp drives rendering
                // (LENGTH, string casts — issue998's DATETIME(3) union)
                // and TIMESTAMP vs DATETIME drives session-time-zone
                // display (type_timestamp.test).
                if (base == "TIME" || base == "CHAR" ||
                    base == "DATETIME" || base == "TIMESTAMP")
                  mb.putString("graft.mysql.type", typNorm.toUpperCase)
                sparkType(typNorm)
            }
            Left(StructField(name, dt, nullable = !notNull,
              metadata = mb.build()))
          case other => throw new IllegalArgumentException(
            s"CREATE TABLE: unparseable column definition '$other'")
        }
    }
  }

  private def runCreateTable(table: String, body: String,
                             engine: String = "TIANMU",
                             defaultUtf8: Boolean = false,
                             binaryCharset: Boolean = false): DataFrame = {
    import spark.implicits._
    val key = table.toLowerCase
    if (stores.contains(key))
      throw new IllegalArgumentException(
        s"CREATE TABLE: '$table' already exists in this runner")
    requireKnownEngine(engine)
    // MySQL's 64-char identifier cap (create_table.test pins 1059);
    // __q_-sanitized names are exempt — their ORIGINAL was ≤64
    if (table.length > 64 && !table.startsWith("__q_"))
      throw new IllegalArgumentException(
        s"CREATE TABLE: identifier name '${table.take(20)}…' is too " +
          "long (MySQL error 1059)")
    val defs = splitTopLevel(body)
    // an EMPTY definition slot — trailing/leading/doubled comma — is a
    // parse error (create_table.test pins 1064 for `(a int,)`,
    // `(a int,,b int)`, `(,b int)`)
    if (defs.exists(_.trim.isEmpty) || body.trim.endsWith(",") ||
        body.trim.startsWith(",") ||
        """,\s*,""".r.findFirstIn(
          body.replaceAll("'[^']*'", "''")).isDefined)
      throw new IllegalArgumentException(
        "CREATE TABLE: empty column definition — stray comma " +
          "(MySQL error 1064)")
    val fields = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.types.StructField]()
    var pk: Option[Seq[String]] = None
    val pendingIndexes =
      scala.collection.mutable.ArrayBuffer[(String, String)]()
    defs.foreach { d =>
      parseColumnDef(d, tianmu = engine.equalsIgnoreCase("TIANMU"),
        forTable = table) match {
        case Left(f) =>
          // inline `col TYPE PRIMARY KEY` — or MySQL's bare `col TYPE
          // KEY` synonym (reference insert_select.test:
          // `create table t1(f1 varchar(5) key)`)
          if ("""\bKEY\b""".r.findFirstIn(d.toUpperCase).isDefined)
            pk = Some(Seq(f.name))
          fields += f
        case Right(Some(cols)) => pk = Some(cols)
        case Right(None) =>
          // secondary/unique/fulltext index clause: the reference
          // engine errors under the server default and tolerates under
          // tianmu_no_key_error=ON (drop_index.test vs issue1185);
          // non-Tianmu engines accept (create_index.test's innodb)
          val up = d.trim.toUpperCase
          val kind =
            if (up.startsWith("FULLTEXT")) Some("FULLTEXT")
            else if (up.startsWith("UNIQUE") ||
              (up.startsWith("CONSTRAINT") && up.contains("UNIQUE")))
              Some("UNIQUE")
            else if (up.startsWith("KEY") || up.startsWith("INDEX"))
              Some("secondary")
            else if (up.startsWith("FOREIGN"))
              Some("FOREIGN KEY") // rejected on Tianmu too (issue1185)
            else None // CHECK: inert
          kind.foreach { k =>
            if (engine.equalsIgnoreCase("TIANMU")) rejectTianmuIndex(k)
            val name =
              """(?is)^(?:CONSTRAINT\s+`?\w+`?\s+)?(?:FULLTEXT\s+|UNIQUE\s+)?(?:KEY|INDEX)\s+`?(\w+)`?"""
                .r.findFirstMatchIn(d.trim).map(_.group(1))
                .getOrElse(s"idx_${pendingIndexes.size}")
            pendingIndexes += ((name, k))
          }
      }
    }
    if (fields.isEmpty) throw new IllegalArgumentException(
      "CREATE TABLE: no column definitions")
    // PRIMARY KEY columns are implicitly NOT NULL even without the
    // modifier (create_table.test: `primary key(k1,k2)` then
    // `insert … (NULL, 3)` pins 1048)
    val fields0 = pk match {
      case None => fields.toSeq
      case Some(cols) => fields.toSeq.map { f =>
        if (!cols.exists(_.equalsIgnoreCase(f.name)) ||
            (f.metadata.contains("graft.mysql.notnull") &&
              f.metadata.getBoolean("graft.mysql.notnull"))) f
        else f.copy(nullable = false, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean("graft.mysql.notnull", true).build())
      }
    }
    // table-level DEFAULT CHARSET utf8: string columns without their
    // own charset declaration inherit the 3-byte cap
    val fields1 =
      if (!defaultUtf8) fields0
      else fields0.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType &&
            !f.metadata.contains("graft.mysql.charset"))
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString("graft.mysql.charset", "utf8").build())
        else f
      }
    // table-level charset=binary: CHAR(n) is BINARY(n) — mark the pad
    // width so inserts fill with 0x00 to the declared length
    val fields2 =
      if (!binaryCharset) fields1
      else fields1.map { f =>
        val t = if (f.metadata.contains("graft.mysql.type"))
          f.metadata.getString("graft.mysql.type") else ""
        """(?i)^CHAR\((\d+)\)""".r.findFirstMatchIn(t) match {
          case Some(m) if f.dataType == org.apache.spark.sql.types.StringType =>
            f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong("graft.mysql.binarypad", m.group(1).toLong)
                .build())
          case _ => f
        }
      }
    // non-Tianmu tables carry their engine in field metadata: the
    // empty-aggregate ungrouped-expression semantics differ by engine
    // (issue1784 pins NULL for tianmu, 33 for innodb on an empty table)
    val fields3 =
      if (engine.equalsIgnoreCase("TIANMU")) fields2
      else fields2.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("graft.mysql.engine", engine.toUpperCase).build()))
    val schema = org.apache.spark.sql.types.StructType(fields3)
    // ONE empty partition, not emptyRDD's zero: a zero-partition write
    // emits no parquet footers and the store's read-back cannot infer
    // the schema
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq.empty[org.apache.spark.sql.Row], 1), schema)
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-create-$key").toString
    val store = new DeltaStore(spark, root)
    store.writeBase(empty)
    attach(table, store)
    ownedRoots(key) = root
    tableEngines(key) = engine.toUpperCase
    pendingIndexes.foreach { case (n, k) => recordIndex(table, n, k) }
    pk.foreach(declarePrimaryKey(table, _))
    Seq((table, fields.size.toLong,
      pk.map(_.mkString(",")).getOrElse("")))
      .toDF("table_name", "n_columns", "primary_key")
  }

  /** `REPLACE INTO t [cols] VALUES …` (replace_into.test; handler path
    * sql/ha_my_tianmu.cpp): delete any base row sharing the declared
    * PRIMARY KEY with the batch, then insert the batch — executed as one
    * staged base rewrite via [[Dml.replaceInto]]. */
  private def runReplace(table0: String, colList: String,
                         tuples: String): DataFrame = {
    val table = dmlTableFor(table0, Option(colList).toSeq.flatMap(splitTopLevel(_))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    val store = attachedStore(table)
    // `REPLACE INTO t() VALUES()` — all-defaults rows, the INSERT
    // discipline (trigger.test scenario 1.3)
    if (tuples.trim.matches("""\(\s*\)(\s*,\s*\(\s*\))*""") &&
        (colList == null || colList.trim.isEmpty))
      return runInsertDefaults(table, tuples.count(_ == '('))
    // REPLACE without any unique key cannot conflict — MySQL runs it as
    // a plain INSERT (trigger.test replaces into a keyless
    // timestamp-default table)
    val keys = primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
    // REPLACE runs the insert-trigger pair per row (trigger.test's
    // scenario 1.3/1.4 pin BEFORE INSERT on REPLACE forms); the
    // displaced row's delete triggers are out of scope — the corpus
    // never replaces into a delete-triggered table
    val batch = fireBeforeInsert(table, assignAutoInc(store,
      valuesBatch(tuples, colList, store.read().schema)))
    if (keys.isEmpty) store.append(batch)
    else store.rewriteWith(base => Dml.replaceInto(base, batch, keys))
    refreshTableView(table, store)
    fireAfterInsert(table, batch)
    import spark.implicits._
    Seq((table, batch.count())).toDF("table_name", "rows_replaced")
  }

  /** `REPLACE INTO t [cols] SELECT …` — the batch comes from a query
    * (staged like INSERT…SELECT: the select may read the target). */
  private def runReplaceSelect(table: String, colList0: String,
                               select0: String): DataFrame = {
    val (colList, select) =
      if (colList0 != null && colList0.trim.toUpperCase.startsWith("SELECT"))
        (null: String, colList0)
      else (colList0, select0.trim.stripPrefix("(").stripSuffix(")"))
    val store = attachedStore(table)
    val keys = primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
    val aligned = assignAutoInc(store, alignToSchema(
      spark.sql(MySqlDialect.rewrite(select)), colList,
      store.read().schema))
    val staged = fireBeforeInsert(table,
      Staging.stageOrdered(aligned, "replace-select"))
    if (keys.isEmpty) store.append(staged)
    else store.rewriteWith(base => Dml.replaceInto(base, staged, keys))
    refreshTableView(table, store)
    fireAfterInsert(table, staged)
    import spark.implicits._
    Seq((table, staged.count())).toDF("table_name", "rows_replaced")
  }

  /** `REPLACE INTO t SET a = 1, …` — the named single-row form. */
  private def runReplaceSet(table: String, setList: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val store = attachedStore(table)
    val keys = pkOf(table)
    val schema = store.read().schema
    val assigns = parseAssigns(setList, "REPLACE SET")
    val bad = assigns.map(_._1).filterNot(schema.fieldNames.contains)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"REPLACE SET: unknown column(s) ${bad.mkString(", ")}")
    rangeCheck(
      spark.range(1).select(assigns.map { case (c, rhs) =>
        expr(rhs).as(c)
      }: _*),
      schema, assigns.map(_._1))
    val row = fireBeforeInsert(table,
      assignAutoInc(store, spark.range(1).select(schema.map { f =>
        assigns.find(_._1 == f.name) match {
          case Some((_, rhs)) => expr(rhs).cast(f.dataType).as(f.name)
          case None => fillUnprovided(f, strict = true)
        }
      }.toSeq: _*)))
    store.rewriteWith(base => Dml.replaceInto(base, row, keys))
    refreshTableView(table, store)
    fireAfterInsert(table, row)
    import spark.implicits._
    Seq((table, 1L)).toDF("table_name", "rows_replaced")
  }

  /** `VALUES(col)` references inside an ON DUPLICATE KEY UPDATE
    * assignment — MySQL's way of naming the would-be-inserted value. */
  private val ValuesRefRe: Regex = """(?i)VALUES\s*\(\s*`?(\w+)`?\s*\)""".r

  /** `INSERT … VALUES … ON DUPLICATE KEY UPDATE a = expr, …`
    * (insert_on_duplicate_update.test): batch rows whose PRIMARY KEY
    * exists apply the assignments to the existing row (MySQL scoping:
    * bare column = OLD row value, `VALUES(col)` = incoming value); new
    * keys insert whole. One staged rewrite: incoming columns are renamed
    * `__v_*` before the key-outer-join so bare names resolve to the base
    * unambiguously, and `VALUES(x)` rewrites to `__v_x`. */
  private def runInsertOnDup(table0: String, colList: String, tuples: String,
                             updateList: String): DataFrame = {
    val table = dmlTableFor(table0, Option(colList).toSeq.flatMap(splitTopLevel(_))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    val store = attachedStore(table)
    val batch = assignAutoInc(store,
      valuesBatch(tuples, colList, store.read().schema))
    upsertBatch(table, batch, updateList)
  }

  /** The SELECT-sourced upsert combo (insert_update.test): the source
    * rows are staged first — a self-referencing SELECT must not observe
    * the rewrite it feeds. */
  private def runInsertSelectOnDup(table: String, colList0: String,
                                   select0: String,
                                   updateList: String): DataFrame = {
    val (colList, select) =
      if (colList0 != null && colList0.trim.toUpperCase.startsWith("SELECT"))
        (null: String, colList0)
      else (colList0, select0.trim.stripPrefix("(").stripSuffix(")"))
    val store = attachedStore(table)
    val result = spark.sql(MySqlDialect.rewrite(select))
    val schema = store.read().schema
    // MySQL lets the ODKU expressions name the SELECT's output columns
    // (insert_update.test `UPDATE j = a`): such a name denotes the
    // to-be-inserted value — rewrite it to VALUES(<aligned target col>)
    val provided: Seq[String] =
      if (colList == null || colList.trim.isEmpty) schema.map(_.name).toSeq
      else splitTopLevel(colList).map(_.stripPrefix("`").stripSuffix("`"))
        // MySQL column names are case-insensitive — `INSERT INTO st1
        // (NAME, uid)` targets the `name` column (escape.test stored
        // NULLs there before this canonicalization)
        .map(p => schema.fieldNames
          .find(_.equalsIgnoreCase(p)).getOrElse(p))
    var updates = updateList
    // a SOURCE-alias-qualified ref (`UPDATE f1 = 100 + src.f1`,
    // insert_select.test) denotes the to-be-inserted value; strip the
    // qualifier so the bare name rides the rename/VALUES machinery
    // below (for a key column the old and incoming values coincide on
    // a duplicate, so bare resolution is exact either way)
    """(?is)\b(?:FROM|JOIN)\s+`?\w+`?\s+(?:AS\s+)?`?(\w+)`?""".r
      .findAllMatchIn(select).map(_.group(1))
      .filterNot(a => Set("WHERE", "ON", "GROUP", "ORDER", "LIMIT",
        "HAVING", "UNION", "JOIN", "LEFT", "RIGHT", "INNER", "CROSS",
        "SET", "AS", "USING").contains(a.toUpperCase))
      .foreach { a =>
        updates = updates.replaceAll(
          "(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\.", "")
      }
    result.columns.zip(provided).foreach { case (srcName, tgt) =>
      if (!schema.fieldNames.exists(_.equalsIgnoreCase(srcName)))
        updates = updates.replaceAll(
          // a ref already inside VALUES(…) is NOT the rename shorthand —
          // it must stay and fail 1054 (insert_select.test's
          // `update x=values(z)` with z only a source column)
          "(?i)(?<!values\\()\\b" +
            java.util.regex.Pattern.quote(srcName) + "\\b",
          java.util.regex.Matcher.quoteReplacement(s"VALUES($tgt)"))
    }
    val batch = Staging.stageOrdered(assignAutoInc(store,
      alignToSchema(result, colList, schema)),
      s"insert-select-odku-$table")
    upsertBatch(table, batch, updates)
  }

  private def upsertBatch(table: String, batch: DataFrame,
                          updateList: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, when}
    val store = attachedStore(table)
    val schema = store.read().schema
    // a table-QUALIFIED name inside VALUES() is not valid MySQL —
    // VALUES takes a bare target column (insert_select.test pins the
    // error for `update x=values(t2.x)`)
    """(?i)VALUES\s*\(\s*`?\w+`?\s*\.""".r.findFirstIn(updateList)
      .foreach(_ => throw new IllegalArgumentException(
        "ON DUPLICATE KEY UPDATE: VALUES() takes an unqualified target " +
          "column name (MySQL error 1064)"))
    val assigns = splitTopLevel(updateList).map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw new IllegalArgumentException(
        s"ON DUPLICATE KEY UPDATE: malformed assignment '$a'")
      val lhs = a.substring(0, i).trim.stripPrefix("`").stripSuffix("`")
      // `t1.b` qualifies the OLD row's column (insert_update.test
      // `IF(VALUES(b) > t1.b, …)`) — the frame here is unqualified
      val rhs = ValuesRefRe.replaceAllIn(
        MySqlDialect.rewrite(a.substring(i + 1).trim)
          .replaceAll("(?i)\\b" +
            java.util.regex.Pattern.quote(table) + "\\.", ""),
        m => {
          // VALUES(col) must name a column of the TARGET table
          // (insert_select.test pins 1054 for `values(z)` where z is
          // only a source column)
          if (!schema.fieldNames.exists(_.equalsIgnoreCase(m.group(1))))
            throw new IllegalArgumentException(
              s"ON DUPLICATE KEY UPDATE: VALUES(${m.group(1)}) does " +
                "not name a target column (MySQL error 1054)")
          "__v_" + m.group(1)
        })
      (lhs, rhs)
    }
    val bad = assigns.map(_._1).filterNot(schema.fieldNames.contains)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"ON DUPLICATE KEY UPDATE: unknown column(s) ${bad.mkString(", ")}")
    // without any unique key nothing can conflict: MySQL runs the ODKU
    // form as a plain insert (insert.test on a keyless t1) — but the
    // update list is still VALIDATED above (1054 fires either way)
    if (!primaryKeys.contains(table.toLowerCase)) {
      val fired = fireBeforeInsert(table, batch)
      val n = fired.count()
      store.append(fired)
      refreshTableView(table, store)
      fireAfterInsert(table, fired)
      import spark.implicits._
      return Seq((table, 0L, n)).toDF(
        "table_name", "rows_updated", "rows_inserted")
    }
    val keys = pkOf(table)
    if (triggers.values.exists(_.table == table.toLowerCase))
      return upsertBatchTriggered(table, store, schema, keys, batch,
        assigns)
    val matchedCount = store.read()
      .join(batch.select(keys.map(col): _*), keys, "left_semi")
      .agg(count(lit(1))).first().getLong(0)
    // refresh in a finally: rewriteWith compacts FIRST, so even a
    // failed statement (unresolvable update expr, insert.test's
    // `update f1 = f3 + 10` through a view) has moved the base files —
    // a stale temp view would fail every later read of the table
    try store.rewriteWith { base =>
      val inc = batch.select(
        schema.map(f => col(f.name).as(s"__v_${f.name}")).toSeq: _*)
      val joinCond = keys.map(k => col(k) === col(s"__v_$k")).reduce(_ && _)
      val matched = col(s"__v_${keys.head}").isNotNull
      val updated = base.join(inc, joinCond, "left_outer")
        .select(schema.map { f =>
          assigns.find(_._1 == f.name) match {
            case Some((_, rhs)) =>
              when(matched, expr(rhs).cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
      val inserted = batch.join(base.select(keys.map(col): _*), keys,
        "left_anti")
      updated.unionByName(inserted)
    } finally refreshTableView(table, store)
    import spark.implicits._
    Seq((table, matchedCount, batch.count() - matchedCount))
      .toDF("table_name", "rows_updated", "rows_inserted")
  }

  /** ON DUPLICATE KEY UPDATE over a trigger-bearing table: MySQL runs
    * the statement row by row — BEFORE INSERT always fires; a duplicate
    * key then routes the row through the UPDATE trigger pair with OLD =
    * the stored row and the assignments evaluated in MySQL's ODKU
    * scoping (bare column = OLD value, VALUES(col) = incoming value).
    * The @log golden in trigger.test pins the interleaved order, and
    * the fld1=1100 golden pins that AFTER UPDATE fires on the dup
    * path. */
  private def upsertBatchTriggered(table: String, store: DeltaStore,
                                   schema: org.apache.spark.sql.types.StructType,
                                   keys: Seq[String], batch: DataFrame,
                                   assigns: Seq[(String, String)])
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col,
      lit, when}
    val keyIdx = keys.map(k => schema.fieldIndex(
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(k)))
    // only the BATCH is driver-materialized (it bounds the row-wise
    // trigger loop); the base contributes just its key-matched slice
    // via one broadcast semi-join — a 100M-row base passes through as
    // a keyed rewrite, never a full collect
    val batchRows = collectCapped(batch, s"ON DUP $table")
    val prefetched = scala.collection.mutable.HashMap[
      Seq[Any], org.apache.spark.sql.Row]()
    if (batchRows.nonEmpty) {
      val keyDf = batch.select(keys.map(col): _*).dropDuplicates()
      store.read().join(broadcast(keyDf), keys, "left_semi")
        .collect().foreach(r => prefetched(keyIdx.map(r.get)) = r)
    }
    // touched keys only: updates replace their base row in place,
    // inserts append in batch order
    val byKey = scala.collection.mutable.LinkedHashMap[
      Seq[Any], org.apache.spark.sql.Row]()
    val insertedKeys = scala.collection.mutable.LinkedHashSet[Seq[Any]]()
    // a BEFORE INSERT trigger may mutate the key away from the
    // incoming value — one targeted probe covers that rare path.
    // `covered` = the key equals the row's incoming (pre-trigger) key,
    // which the broadcast semi-join prefetch already resolved against
    // the base: a prefetched miss there is a PROVEN absence, so a
    // mostly-insert batch never fires per-row base-scan jobs
    def lookupOld(k: Seq[Any], covered: Boolean)
        : Option[org.apache.spark.sql.Row] =
      byKey.get(k).orElse(prefetched.get(k)).orElse {
        if (covered) None
        else {
          val cond = keys.zip(k).map { case (c, v) =>
            if (v == null) col(c).isNull else col(c) === lit(v)
          }.reduce(_ && _)
          val hit = store.read().filter(cond).limit(1).collect()
            .headOption
          hit.foreach(r => prefetched(k) = r)
          hit
        }
      }
    val insBefore = triggersOn(table, "INSERT", "BEFORE")
    val insAfter = triggersOn(table, "INSERT", "AFTER")
    val updBefore = triggersOn(table, "UPDATE", "BEFORE")
    val updAfter = triggersOn(table, "UPDATE", "AFTER")
    var updated = 0L
    var inserted = 0L
    batchRows.foreach { br =>
      val newM = rowToMap(br, schema)
      insBefore.foreach(d => interp.runTriggerBody(d.body, newM, null,
        newAssignable = true, schema))
      val row = mapToRow(newM, schema)
      val k = keyIdx.map(row.get)
      val k0 = keyIdx.map(br.get)
      lookupOld(k, covered = insBefore.isEmpty || k == k0) match {
        case Some(oldRow) =>
          val oldM = rowToMap(oldRow, schema).toMap
          val updM = rowToMap(oldRow, schema)
          assigns.foreach { case (c, rhs) =>
            val ctx = new ProcCtx(procHost)
            oldM.foreach { case (cn, v) =>
              ctx.locals(cn) = new ctx.Local("", None, v)
            }
            newM.foreach { case (cn, v) =>
              ctx.locals("__v_" + cn) = new ctx.Local("", None, v)
            }
            val f = schema.fields.find(_.name.equalsIgnoreCase(c)).get
            updM(c.toLowerCase) =
              interp.coerceToSpark(interp.evalExpr(rhs, ctx), f.dataType)
          }
          updBefore.foreach(d => interp.runTriggerBody(d.body, updM,
            oldM, newAssignable = true, schema))
          byKey(k) = mapToRow(updM, schema)
          updated += 1
          updAfter.foreach(d => interp.runTriggerBody(d.body, updM,
            oldM, newAssignable = false, schema))
        case None =>
          byKey(k) = row
          insertedKeys += k
          inserted += 1
          insAfter.foreach(d => interp.runTriggerBody(d.body, newM,
            null, newAssignable = false, schema))
      }
    }
    import scala.jdk.CollectionConverters._
    val insertedDf = spark.createDataFrame(
      insertedKeys.toList.map(byKey(_)).asJava, schema)
    val updatedEntries = byKey.toList.filterNot(e =>
      insertedKeys.contains(e._1))
    try store.rewriteWith { base =>
      val withUpdates =
        if (updatedEntries.isEmpty) base
        else {
          // replace matched rows IN PLACE: join the base against the
          // (small, driver-built) updated snapshot on the ORIGINAL
          // key — an assignment may have moved a key column, so the
          // match key travels separately from the new values
          val nf = schema.fields.map(f => org.apache.spark.sql.types
            .StructField("__n_" + f.name, f.dataType, nullable = true))
          val kf = keys.zipWithIndex.map { case (kc, i) =>
            org.apache.spark.sql.types.StructField(s"__k_$i",
              schema(schema.fieldNames
                .find(_.equalsIgnoreCase(kc)).getOrElse(kc)).dataType,
              nullable = true)
          }
          val hf = org.apache.spark.sql.types.StructField("__hit",
            org.apache.spark.sql.types.BooleanType, nullable = true)
          val updDf = spark.createDataFrame(
            updatedEntries.map { case (k, r) =>
              org.apache.spark.sql.Row.fromSeq(
                r.toSeq ++ k :+ true)
            }.asJava,
            org.apache.spark.sql.types.StructType(nf ++ kf :+ hf))
          val cond = keys.zipWithIndex.map { case (kc, i) =>
            base(kc) <=> updDf(s"__k_$i")
          }.reduce(_ && _)
          base.join(broadcast(updDf), cond, "left_outer")
            .select(schema.fields.map { f =>
              when(coalesce(col("__hit"), lit(false)),
                col("__n_" + f.name)).otherwise(base(f.name))
                .as(f.name)
            }.toSeq: _*)
        }
      withUpdates.unionByName(insertedDf)
    } finally refreshTableView(table, store)
    import spark.implicits._
    Seq((table, updated, inserted)).toDF(
      "table_name", "rows_updated", "rows_inserted")
  }

  /** MySQL multi-table UPDATE (`UPDATE t1 JOIN t2 ON … SET t1.c = …`):
    * the join evaluates once per target; each matched base row takes
    * its assignment values (one arbitrary match per row, MySQL's rule).
    * Assignments must be table-qualified — that is also how the
    * dispatcher distinguishes this form. */
  private def runUpdateJoin(fromSpec: String, setList: String,
                            whereClause: String,
                            ignore: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    // tables participating in the join (for resolving unqualified
    // assignment targets the MySQL way — unique owner or 1052)
    val joinTables = """`?(\w+)`?""".r.findAllMatchIn(fromSpec)
      .map(_.group(1).toLowerCase)
      .filter(stores.contains).toSeq.distinct
    val assigns = splitTopLevel(setList).map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw new IllegalArgumentException(
        s"UPDATE: malformed assignment '$a'")
      val lhs = a.substring(0, i).trim.replace("`", "")
      val rhs = a.substring(i + 1).trim
      val parts = lhs.split("\\.")
      if (parts.length == 2) (parts(0), parts(1), rhs)
      else {
        // `UPDATE t1, t2 SET j = …` — resolve the bare column to its
        // unique owning table (trigger.test's multi-update section)
        val owners = joinTables.filter(t =>
          stores(t).read().schema.fieldNames
            .exists(_.equalsIgnoreCase(lhs)))
        owners match {
          case Seq(t) => (t, lhs, rhs)
          case Seq() => throw new IllegalArgumentException(
            s"UPDATE across joins: unknown column '$lhs' " +
              "(MySQL error 1054)")
          case _ => throw new IllegalArgumentException(
            s"UPDATE across joins: column '$lhs' is ambiguous " +
              "(MySQL error 1052)")
        }
      }
    }
    val where = Option(whereClause).map(w => s" WHERE $w").getOrElse("")
    val counts = assigns.groupBy(_._1).toSeq.map { case (t, entries) =>
      val store = attachedStore(t)
      val cols = store.read().columns.toSeq
      val setExprs = entries.map { case (_, c, rhs) =>
        s"($rhs) AS `__set_$c`"
      }.mkString(", ")
      val m = Staging.stageOrdered(
        spark.sql(MySqlDialect.rewrite(
          s"SELECT `$t`.*, $setExprs FROM $fromSpec$where"))
          .dropDuplicates(cols), s"update-join-$t")
      val n = m.count()
      if (tableTriggered(t, "UPDATE")) {
        // row-wise path: fire per processed BASE row (the multi-update
        // golden counts every matched row, value-identical or not)
        val schema = store.read().schema
        val mrows = collectCapped(m, s"UPDATE $t (multi)")
        val setByOld = mrows.map { r =>
          val oldVals = (0 until cols.length).map(r.get)
          oldVals -> entries.zipWithIndex.map { case ((_, c, _), k) =>
            c.toLowerCase -> r.get(cols.length + k)
          }.toMap
        }.toMap
        val pinned = Staging.stageOrdered(store.read(), s"updjoin-$t")
        val baseRows = collectCapped(pinned, s"UPDATE $t (multi)")
        val befores = triggersOn(t, "UPDATE", "BEFORE")
        val afters = triggersOn(t, "UPDATE", "AFTER")
        val keys = primaryKeys.getOrElse(t.toLowerCase, Seq.empty)
        val keyIdx = keys.map(k => schema.fieldIndex(
          schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(k)))
        val currentKeys = scala.collection.mutable.Set[Seq[Any]]()
        if (ignore && keys.nonEmpty)
          baseRows.foreach(r => currentKeys += keyIdx.map(r.get))
        val pairs = scala.collection.mutable.ArrayBuffer[
          (Map[String, Any], scala.collection.mutable.Map[String, Any])]()
        val out = baseRows.map { br =>
          val oldVals = (0 until schema.length).map(br.get)
          setByOld.get(oldVals) match {
            case None => br
            case Some(setVals) =>
              val oldM = rowToMap(br, schema).toMap
              val newM = rowToMap(br, schema)
              setVals.foreach { case (c, v) => newM(c) = v }
              befores.foreach(d => interp.runTriggerBody(d.body, newM,
                oldM, newAssignable = true, schema))
              val newRow = mapToRow(newM, schema)
              val oldKey = keyIdx.map(br.get)
              val newKey = keyIdx.map(newRow.get)
              if (ignore && keys.nonEmpty && newKey != oldKey &&
                  currentKeys.contains(newKey)) br // skipped under IGNORE
              else {
                if (keys.nonEmpty && newKey != oldKey) {
                  currentKeys -= oldKey; currentKeys += newKey
                }
                pairs += ((oldM, newM))
                newRow
              }
          }
        }
        import scala.jdk.CollectionConverters._
        val rebuilt = spark.createDataFrame(out.toList.asJava, schema)
        try store.rewriteWith(_ => rebuilt)
        finally store.read().createOrReplaceTempView(t)
        pairs.foreach { case (o, nw) =>
          afters.foreach(d => interp.runTriggerBody(d.body, nw, o,
            newAssignable = false, schema))
        }
      } else {
      store.rewriteWith { base =>
        val mren = m.toDF((cols.map("__m_" + _) ++
          entries.map(e => "__set_" + e._2)): _*)
          .withColumn("__matched", lit(true))
        val cond = cols.map(c => base(c) <=> mren("__m_" + c))
          .reduce(_ && _)
        base.join(mren, cond, "left_outer")
          .select(base.schema.map { f =>
            entries.find(_._2 == f.name) match {
              case Some((_, c, _)) =>
                when(coalesce(col("__matched"), lit(false)),
                  col("__set_" + c).cast(f.dataType))
                  .otherwise(base(f.name)).as(f.name)
              case None => base(f.name)
            }
          }.toSeq: _*)
      }
      store.read().createOrReplaceTempView(t)
      }
      (t, n)
    }
    import spark.implicits._
    counts.toDF("table_name", "rows_matched")
  }

  /** MySQL safe-update mode (`SET sql_safe_updates=1`, issue781.test):
    * a DELETE/UPDATE without LIMIT must constrain a key column with an
    * index-usable comparison (=, <, >, BETWEEN, IN — `!=` scans). */
  private def checkSafeUpdates(table: String, whereClause: String): Unit = {
    val on = sessionVars.get("sql_safe_updates")
      .exists(v => v == "1" || v.equalsIgnoreCase("ON"))
    if (!on) return
    val keys = primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
    val keyUsable = whereClause != null && keys.exists(k =>
      (s"(?i)\\b${java.util.regex.Pattern.quote(k)}\\b\\s*" +
        "(<=|>=|=|<(?!>)|>|BETWEEN\\b|IN\\b)").r
        .findFirstIn(whereClause).isDefined)
    if (!keyUsable) throw new UnsupportedOperationException(
      s"DELETE/UPDATE on '$table': safe update mode requires a " +
        "key-usable WHERE or a LIMIT (MySQL error 1175)")
  }

  /** IGNORE-mode subquery softening: a simple scalar subquery
    * `(SELECT col FROM rest)` becomes its count-guarded aggregate form
    * so a >1-row result yields NULL (warning analog) instead of the
    * 1242 error — per-row semantics of `DELETE IGNORE … WHERE b <>
    * (SELECT …)` (delete.test: rows with single-row subqueries still
    * delete; multi-row ones survive). */
  private def ignoreScalarSubqueries(where: String): String =
    if (where == null) null
    else """(?is)\(\s*select\s+([`\w.]+)\s+from\s+([^()]+?)\)""".r
      .replaceAllIn(where, m => java.util.regex.Matcher.quoteReplacement(
        s"(select if(count(*) > 1, null, max(${m.group(1)})) " +
          s"from ${m.group(2)})"))

  private def runDelete(table: String, whereClause: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, not}
    val store = attachedStore(table)
    checkSafeUpdates(table, whereClause)
    // under NO_ZERO_DATE the zero-date rows of a NOT NULL temporal
    // column (stored as the NULL sentinel per the zero-date
    // convention) cannot be addressed: evaluating `col IS NULL` or
    // `col = 0` against them re-renders the invalid '0000-00-00' and
    // the reference raises 1292 (issue682 pins both DELETE forms)
    if (whereClause != null && sessionSqlMode.contains("NO_ZERO_DATE")) {
      import org.apache.spark.sql.types._
      store.read().schema.foreach { f =>
        val temporal = f.dataType == DateType ||
          f.dataType.isInstanceOf[TimestampType] ||
          f.dataType.isInstanceOf[TimestampNTZType]
        if (temporal && requiredCol(f)) {
          val n = java.util.regex.Pattern.quote(f.name)
          val addressed = (s"(?i)\\b$n\\s+is\\s+null").r
            .findFirstIn(whereClause).isDefined ||
            (s"(?i)\\b$n\\s*=\\s*0(?![\\d.])").r
              .findFirstIn(whereClause).isDefined
          // data-dependent: the error fires only when sentinel rows
          // EXIST (delete.test runs the same DELETE on an empty table
          // and succeeds; issue682's table holds ignore-inserted zero
          // dates and errors)
          if (addressed && store.read()
              .filter(org.apache.spark.sql.functions.col(f.name).isNull)
              .limit(1).count() > 0)
            throw new IllegalArgumentException(
              s"incorrect date value '0000-00-00' for column " +
                s"'${f.name}' (MySQL error 1292, NO_ZERO_DATE)")
        }
      }
    }
    if (tableTriggered(table, "DELETE"))
      return runDeleteTriggered(table, store, whereClause)
    val before = store.read().count()
    try {
    if (whereClause == null) store.truncate()
    else {
      // a WHERE carrying a subquery goes straight to full SQL
      // resolution over the temp view — stripping the `t11.` prefix
      // first would silently re-bind the subquery's correlated refs to
      // the INNER table (delete.test's `t11.b <> (select b from t2
      // where t11.a < t2.a)` must keep t11.a correlated, and error 1242
      // when the subquery multi-matches)
      if ("""(?i)\(\s*select\b""".r.findFirstIn(whereClause).isDefined) {
        val keep = Staging.stageOrdered(
          spark.sql(MySqlDialect.rewrite(
            s"SELECT * FROM `$table` WHERE NOT " +
              s"(($whereClause) <=> TRUE)")),
          s"delete-subq-$table")
        store.rewriteWith(_ => keep)
      } else {
        // self-qualified refs (`DELETE FROM t11 WHERE t11.b …`) resolve
        // against the bare frame once stripped
        val cleaned = whereClause.replaceAll(
          "(?i)\\b" + java.util.regex.Pattern.quote(table) + "\\.", "")
        val cond = expr(MySqlDialect.rewrite(cleaned))
        // SQL DELETE semantics: NULL-condition rows survive (NOT NULL=NULL)
        try store.rewriteWith(df => df.filter(not(cond) || cond.isNull))
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            // unresolvable outside full SQL (issue669's NOT IN over a
            // correlated subquery spelled without parens prefix)
            val keep = Staging.stageOrdered(
              spark.sql(MySqlDialect.rewrite(
                s"SELECT * FROM `$table` WHERE NOT " +
                  s"(($whereClause) <=> TRUE)")),
              s"delete-subq-$table")
            store.rewriteWith(_ => keep)
        }
      }
    }
    // finally: a failed rewrite may still have compacted the base files
    } finally refreshTableView(table, store)
    import spark.implicits._
    Seq((table, before - store.read().count()))
      .toDF("table_name", "rows_deleted")
  }

  /** Row-wise DELETE over a trigger-bearing table: BEFORE DELETE per
    * matched row (OLD bound), the base rewrite, then AFTER DELETE per
    * row. TRUNCATE never routes here — the golden pins that tianmu's
    * TRUNCATE fires no delete triggers. */
  private def runDeleteTriggered(table: String, store: DeltaStore,
                                 whereClause: String): DataFrame = {
    val schema = store.read().schema
    val matched = Staging.stageOrdered(
      if (whereClause == null) store.read()
      else spark.sql(MySqlDialect.rewrite(
        s"SELECT * FROM `$table` WHERE (($whereClause) <=> TRUE)")),
      s"deltrig-$table")
    val keep = Staging.stageOrdered(
      if (whereClause == null) store.read().limit(0)
      else spark.sql(MySqlDialect.rewrite(
        s"SELECT * FROM `$table` WHERE NOT (($whereClause) <=> TRUE)")),
      s"deltrig-keep-$table")
    val rows = collectCapped(matched, s"DELETE FROM $table")
    fireDeleteTriggers(table, "BEFORE", rows, schema)
    try store.rewriteWith(_ => keep)
    finally refreshTableView(table, store)
    fireDeleteTriggers(table, "AFTER", rows, schema)
    import spark.implicits._
    Seq((table, rows.length.toLong)).toDF("table_name", "rows_deleted")
  }

  /** Parse a `col = expr, …` assignment list (shared by UPDATE,
    * UPDATE…LIMIT, INSERT…SET). */
  private def parseAssigns(setList: String,
                           stmt: String): Seq[(String, String)] =
    splitTopLevel(setList).map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw new IllegalArgumentException(
        s"$stmt: malformed assignment '$a'")
      // a table-qualified lhs (`t1.c = …`, insert.test) names the
      // statement's own table — take the column component
      (a.substring(0, i).trim.replace("`", "").split('.').last,
        MySqlDialect.rewrite(a.substring(i + 1).trim))
    }

  /** `INSERT INTO t SET a = 1, b = 'x'` — MySQL's named single-row
    * insert (insert.test); unmentioned columns arrive NULL. */
  private def runInsertSet(table0: String, setList: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    if (strictMode) rejectLiteralDivZero(setList, "INSERT SET")
    val table = dmlTableFor(table0,
      splitTopLevel(setList).map(_.takeWhile(_ != '=').trim
        .stripPrefix("`").stripSuffix("`")))
    val store = attachedStore(table)
    val schema = store.read().schema
    // `SET col = DEFAULT` takes the declared/implicit default
    // (insert.test stmt `insert into t1 set a=default,…`)
    val assigns = parseAssigns(setList, "INSERT SET").map { case (c, rhs) =>
      if (!rhs.trim.equalsIgnoreCase("default")) (c, rhs)
      else (c, schema.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) if f.metadata.contains("graft.mysql.default") =>
          f.metadata.getString("graft.mysql.default")
        case Some(f) if f.nullable => "NULL"
        case Some(f) => implicitDefaultSql(f.dataType)
        case None => rhs
      })
    }
    val bad = assigns.map(_._1).filterNot(schema.fieldNames.contains)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"INSERT SET: unknown column(s) ${bad.mkString(", ")}")
    // `SET a=1,b=2,a=1` — naming a column twice is ER_FIELD_SPECIFIED
    // _TWICE (insert.test pins 1110)
    assigns.groupBy(_._1.toLowerCase).collectFirst {
      case (n, vs) if vs.size > 1 => n
    }.foreach(n => throw new IllegalArgumentException(
      s"INSERT SET: column '$n' specified twice (MySQL error 1110)"))
    val missingRequired = schema.filter(f =>
      requiredCol(f) && !assigns.exists(_._1 == f.name)
        && declaredDefault(f).isEmpty).map(_.name)
    if (missingRequired.nonEmpty) throw new IllegalArgumentException(
      s"INSERT SET: field(s) ${missingRequired.mkString(", ")} don't " +
        "have a default value (MySQL strict mode, error 1364)")
    // one row of the assigned expressions, routed through the SAME
    // value-coercion pipeline as the VALUES form (alignToSchema:
    // range check / clamp, zero-date sentinels, TIME grammar, my_gcvt
    // into CHAR — `insert into t1 set t=0` with `timestamp NOT NULL`
    // must store the zero date, not the column default; insert.test)
    val rawRow = spark.range(1)
      .select(assigns.map { case (c, rhs) => expr(rhs).as(c) }: _*)
    val row = alignToSchema(rawRow, assigns.map(_._1).mkString(","),
      schema, strict = strictMode)
    val aligned0 = fireBeforeInsert(table, assignAutoInc(store, row))
    // materialize the statement-sized batch into a LocalRelation so the
    // append lands in the store's ORDERED in-memory buffer — a
    // Range-leafed plan would spill one parquet delta file per
    // statement, and a multi-file delta reads in SIZE order, not insert
    // order (the statement tier's scan-order contract)
    val aligned = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        aligned0.collect().toList.asJava,
        org.apache.spark.sql.types.StructType(
          aligned0.schema.fields.map(_.copy(nullable = true))))
    }
    enforcePkUnique(table, store, aligned)
    store.append(aligned)
    refreshTableView(table, store)
    fireAfterInsert(table, aligned)
    import spark.implicits._
    Seq((table, 1L)).toDF("table_name", "rows_inserted")
  }

  /** The ≤n PRIMARY-KEY rows a row-limited DML statement targets:
    * WHERE-filtered, ordered by the ORDER BY clause (PK order when
    * absent — MySQL's pick is arbitrary; PK order is a deterministic
    * refinement), first n, key columns only. STAGED to parquet before
    * the caller's rewrite: the selection's lazy plan reads the
    * pre-rewrite base∪delta files, which `rewriteWith`'s compaction
    * deletes — staging freezes the row set first (and bounds nothing on
    * the driver; the n-row frame never collects). */
  private def doomedKeys(table: String, store: DeltaStore,
                         whereClause: String, orderClause: String,
                         n: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit,
      monotonically_increasing_id}
    val keys = pkOf(table)
    val cond =
      if (whereClause == null) lit(true)
      else expr(MySqlDialect.rewrite(whereClause))
    // a bare LIMIT picks rows in TABLE SCAN order — insert order, not
    // PRIMARY KEY order (issue781's PK sections insert 125 before
    // -125 and the golden updates 125 first); an explicit ORDER BY
    // keeps scan order as its tiebreak, MySQL's stable sort
    val withRid = store.read()
      .withColumn("__rid", monotonically_increasing_id())
    val ord: Seq[org.apache.spark.sql.Column] =
      if (orderClause == null) Seq(col("__rid"))
      else splitTopLevel(orderClause).map { o =>
        val desc = """(?i)\s+DESC\s*$""".r.findFirstIn(o).isDefined
        val e = expr(MySqlDialect.rewrite(
          o.trim.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", "")))
        if (desc) e.desc else e.asc
      } :+ col("__rid").asc
    Staging.stageOrdered(
      withRid.filter(cond).orderBy(ord: _*).limit(n)
        .select(keys.map(col): _*),
      "dml-limit")
  }

  /** `DELETE FROM t [WHERE …] [ORDER BY …] LIMIT n` (delete.test):
    * drop exactly the first n matching rows — one anti-join base
    * rewrite against the staged key set. Needs a declared PRIMARY KEY
    * for row identity (MySQL uses physical rowids) — EXCEPT when the
    * match set is ≤ n anyway, where the LIMIT is vacuous and the plain
    * DELETE path serves (delete.test's `… limit 1000` over ≤25 rows). */
  private def runDeleteLimit(table: String, whereClause: String,
                             orderClause: String, n: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit,
      monotonically_increasing_id}
    val store = attachedStore(table)
    val hit =
      if (primaryKeys.contains(table.toLowerCase)) {
        val keys = pkOf(table)
        val doomed = doomedKeys(table, store, whereClause, orderClause, n)
        val k = doomed.count()
        // the anti-join may plan as a sort-merge and SCRAMBLE the base's
        // physical row order — scan order IS the statement tier's
        // contract (issue781's LIMIT picks), so restore it by rowid
        store.rewriteWith(base => base
          .withColumn("__ord", org.apache.spark.sql.functions
            .monotonically_increasing_id())
          .join(doomed, keys, "left_anti")
          .orderBy(col("__ord")).drop("__ord"))
        k
      } else {
        // no declared PK: synthesize row identity by STAGING the table
        // with a frozen rowid (MySQL deletes by physical rowid; staging
        // freezes ours so both branches of the anti-join see the same
        // ids — duplicates delete exactly n copies, like MySQL)
        val staged = Staging.stageOrdered(store.read()
          .withColumn("__rid", monotonically_increasing_id()),
          "dml-limit-rid")
        val cond =
          if (whereClause == null) lit(true)
          else expr(MySqlDialect.rewrite(whereClause))
        val ord: Seq[org.apache.spark.sql.Column] =
          if (orderClause == null) Seq(col("__rid"))
          else splitTopLevel(orderClause).map { o =>
            val desc = """(?i)\s+DESC\s*$""".r.findFirstIn(o).isDefined
            val e = expr(MySqlDialect.rewrite(
              o.trim.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", "")))
            if (desc) e.desc else e.asc
          } :+ col("__rid").asc
        val doomed = staged.filter(cond).orderBy(ord: _*).limit(n)
          .select(col("__rid"))
        val k = doomed.count()
        store.rewriteWith(_ =>
          staged.join(doomed, Seq("__rid"), "left_anti")
            .orderBy(col("__rid")).drop("__rid"))
        k
      }
    refreshTableView(table, store)
    import spark.implicits._
    Seq((table, hit)).toDF("table_name", "rows_deleted")
  }

  /** `UPDATE t SET … [WHERE …] [ORDER BY …] LIMIT n`: apply the
    * assignments to exactly the first n matching rows (old-row
    * semantics, single select — the runUpdate contract) selected by
    * PK membership in the staged key set. */
  private def runUpdateLimit(table: String, setList: String,
                             whereClause: String, orderClause: String,
                             n: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, when,
      monotonically_increasing_id}
    val store = attachedStore(table)
    val assigns = parseAssigns(setList, "UPDATE SET")
    def applyAssigns(df: DataFrame, hitCol: org.apache.spark.sql.Column)
        : DataFrame = {
      val bad = assigns.map(_._1).filterNot(df.columns.contains)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"UPDATE: unknown column(s) ${bad.mkString(", ")}")
      df.select(store.read().schema.map { f =>
        assigns.find(_._1 == f.name) match {
          case Some((_, rhs)) =>
            when(hitCol, expr(rhs).cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)
    }
    val hit = primaryKeys.get(table.toLowerCase) match {
      case Some(keys) =>
        val doomed = doomedKeys(table, store, whereClause, orderClause, n)
        val k = doomed.count()
        store.rewriteWith { df =>
          val mk = doomed.withColumn("__hit", lit(true))
          // order-preserving: the outer join may sort-merge and scramble
          // scan order (the statement tier's row-order contract)
          applyAssigns(
            df.withColumn("__ord", monotonically_increasing_id())
              .join(mk, keys, "left_outer")
              .orderBy(col("__ord")),
            org.apache.spark.sql.functions.coalesce(col("__hit"),
              lit(false)))
        }
        k
      case None =>
        // no declared PK (issue781.test): freeze a staged rowid — the
        // same identity device runDeleteLimit uses — and update by it
        val staged = Staging.stageOrdered(store.read()
          .withColumn("__rid", monotonically_increasing_id()),
          "dml-ulimit-rid")
        val cond =
          if (whereClause == null) lit(true)
          else expr(MySqlDialect.rewrite(whereClause))
        val ord: Seq[org.apache.spark.sql.Column] =
          if (orderClause == null) Seq(col("__rid"))
          else splitTopLevel(orderClause).map { o =>
            val desc = """(?i)\s+DESC\s*$""".r.findFirstIn(o).isDefined
            val e = expr(MySqlDialect.rewrite(
              o.trim.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", "")))
            if (desc) e.desc else e.asc
          } :+ col("__rid").asc
        val doomed = staged.filter(cond).orderBy(ord: _*).limit(n)
          .select(col("__rid"))
        val k = doomed.count()
        store.rewriteWith(_ => applyAssigns(
          staged.join(doomed.withColumn("__hit", lit(true)),
            Seq("__rid"), "left_outer").orderBy(col("__rid")),
          org.apache.spark.sql.functions.coalesce(col("__hit"),
            lit(false))))
        k
    }
    refreshTableView(table, store)
    import spark.implicits._
    Seq((table, hit)).toDF("table_name", "rows_updated")
  }

  private def runUpdate(table: String, setList0: String,
                        whereClause0: String,
                        ignore: Boolean = false): DataFrame = {
    // reference parity: the engine's UPDATE path does not thread the
    // insert counter — `WHERE id = LAST_INSERT_ID()` matches nothing
    // right after an auto-inc insert (update_v1.test pins 'test'
    // unchanged); SELECT statements keep the real value
    def noLii(s: String): String =
      if (s == null) null
      else """(?i)\blast_insert_id\s*\(\s*\)""".r.replaceAllIn(s, "0")
    val setList = setList0
    val whereClause = noLii(whereClause0)
    checkSafeUpdates(table, whereClause)
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val store = attachedStore(table)
    // assignment targets are case-insensitive in MySQL — canonicalize
    // to the schema's spelling so the projection matches
    val assigns = parseAssigns(setList, "UPDATE SET").map { case (c0, r) =>
      (store.read().schema.fieldNames
        .find(_.equalsIgnoreCase(c0)).getOrElse(c0), r)
    }
    val cond =
      if (whereClause == null) lit(true)
      else expr(MySqlDialect.rewrite(whereClause))
    val touched = store.read().filter(cond).count()
    // ONE select so every RHS evaluates against the OLD row (standard
    // UPDATE semantics — sequential withColumn would leak new values
    // into later assignments)
    def project(df: DataFrame): DataFrame = {
      val bad = assigns.map(_._1).filterNot(df.columns.contains)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"UPDATE: unknown column(s) ${bad.mkString(", ")}")
      df.select(df.schema.map { f =>
        assigns.find(_._1 == f.name) match {
          case Some((_, rhs)) =>
            // UPDATE IGNORE downgrades data errors the MySQL way:
            // over-length strings truncate to the declared cap,
            // out-of-range numbers clamp to the bound (insert.test's
            // `update ignore … set data='envelope'` into VARCHAR(4))
            val raw = expr(rhs)
            val fitted =
              if (!ignore) raw
              else {
                val lenCapped = maxLenOf(f) match {
                  case Some(cap) if f.dataType ==
                    org.apache.spark.sql.types.StringType =>
                    org.apache.spark.sql.functions.substring(
                      raw.cast("string"), 1, cap.toInt)
                  case _ => raw
                }
                mysqlBounds(f) match {
                  case Some((lo, hi)) =>
                    org.apache.spark.sql.functions.least(
                      org.apache.spark.sql.functions.greatest(
                        lenCapped.cast(
                          org.apache.spark.sql.types.DecimalType(38, 4)),
                        lit(lo.bigDecimal)),
                      lit(hi.bigDecimal))
                  case None => lenCapped
                }
              }
            when(cond, fitted.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)
    }
    // strict-mode range enforcement for the assigned values over the
    // affected rows (unsigned.test updates a BIGINT UNSIGNED to a
    // negative — MySQL 1264), checked on the PRE-cast expression;
    // UPDATE IGNORE skips the check (values clamp in project instead)
    if (!ignore && strictMode) {
      val probe = store.read().filter(cond)
        .select(assigns.map { case (c, rhs) => expr(rhs).as(c) }: _*)
      // quoted-literal assignments keep byte semantics for BIT targets;
      // computed expressions carry digit forms (bit.test's concat(a))
      val allComputed = assigns.forall { case (_, rhs) =>
        !rhs.trim.matches("""(?s)^['"].*['"]$""")
      }
      rangeCheck(probe, store.read().schema, assigns.map(_._1),
        computedStrings = allComputed)
    }
    // an UPDATE that collapses the PRIMARY KEY is the duplicate-key
    // error, checked BEFORE the base rewrite (issue1616
    // `UPDATE t SET id=10` over multiple rows pins 1062); IGNORE
    // downgrades the collision to a per-row skip instead. Assignment
    // names compare case-insensitively: Spark resolves `SET ID=…`
    // against a declared `id` column, so the gate must too (issue1616's
    // uppercase replay — a case-sensitive miss here writes duplicate
    // primary keys silently).
    val touchesPk = primaryKeys.get(table.toLowerCase)
      .exists(ks => assigns.exists(a =>
        ks.exists(_.equalsIgnoreCase(a._1))))
    if (!ignore && touchesPk) primaryKeys.get(table.toLowerCase)
      .foreach { keys =>
        val dup = project(store.read())
          .groupBy(keys.map(col): _*)
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"UPDATE: duplicate entry for PRIMARY KEY " +
            s"(${keys.mkString(", ")}) (MySQL error 1062)")
      }
    // UPDATE IGNORE over PK assignments is per-row skip semantics
    // (issue1616's `UPDATE IGNORE T1 SET ID=ID+1` pins {3,5}: row 3→4
    // collides with the live 4 and is skipped, 4→5 then applies) — the
    // bulk rewrite can't skip rows, so route through the row-wise path
    // (it handles an empty trigger list).
    if (tableTriggered(table, "UPDATE") || (ignore && touchesPk))
      return runUpdateTriggered(table, store, cond, project, ignore,
        touched)
    try store.rewriteWith(project)
    finally refreshTableView(table, store)
    import spark.implicits._
    Seq((table, touched)).toDF("table_name", "rows_updated")
  }

  /** Row-wise UPDATE over a trigger-bearing table: BEFORE UPDATE runs
    * per matched row with a mutable NEW (its mutations are what gets
    * written — trigger.test's trg2 rewrites new.j to -1), AFTER UPDATE
    * runs per processed row (the multi-update golden counts fires even
    * for value-identical assignments). Under IGNORE a row whose new
    * PRIMARY KEY collides is skipped and its AFTER trigger never fires
    * (the UPDATE IGNORE golden pins the empty audit table). */
  private def runUpdateTriggered(table: String, store: DeltaStore,
                                 cond: org.apache.spark.sql.Column,
                                 project: DataFrame => DataFrame,
                                 ignore: Boolean,
                                 touched: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pinned = Staging.stageOrdered(store.read(), s"updtrig-$table")
    val schema = pinned.schema
    // one staged source, two aligned projections: row order is the
    // file order both times
    val flagged = collectCapped(pinned.select(
      (schema.fieldNames.map(col).toSeq :+ cond.as("__hit")): _*),
      s"UPDATE $table")
    val news = collectCapped(project(pinned), s"UPDATE $table")
    val befores = triggersOn(table, "UPDATE", "BEFORE")
    val afters = triggersOn(table, "UPDATE", "AFTER")
    val keys = primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
    val keyIdx = keys.map(k => schema.fieldIndex(
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(k)))
    val currentKeys = scala.collection.mutable.Set[Seq[Any]]()
    if (ignore && keys.nonEmpty)
      flagged.foreach(r => currentKeys += keyIdx.map(r.get))
    val out = new Array[org.apache.spark.sql.Row](flagged.length)
    val pairs = scala.collection.mutable.ArrayBuffer[
      (Map[String, Any], scala.collection.mutable.Map[String, Any])]()
    // MySQL walks a PK table in clustered-index order, and IGNORE's
    // per-row skip is order-sensitive (issue1616: `UPDATE IGNORE SET
    // id=id+1` over {3,4} must try 3→4 FIRST, skip it, then apply
    // 4→5 → {3,5}); parquet file order is not insert order after a
    // rollback, so process in ascending-PK order while writing each
    // result back to its original slot (stored order is preserved).
    def cmpAny(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: java.lang.Comparable[_], _) =>
        x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
      case _ => a.toString.compareTo(b.toString)
    }
    val order: Seq[Int] =
      if (keys.isEmpty) 0 until flagged.length
      else (0 until flagged.length).sortWith { (a, b) =>
        val ka = keyIdx.map(flagged(a).get)
        val kb = keyIdx.map(flagged(b).get)
        val c = ka.zip(kb).iterator.map { case (x, y) => cmpAny(x, y) }
          .find(_ != 0).getOrElse(0)
        if (c != 0) c < 0 else a < b
      }
    var pos = 0
    while (pos < flagged.length) {
      val i = order(pos)
      val fr = flagged(i)
      val hit = !fr.isNullAt(schema.length) && fr.getBoolean(schema.length)
      val oldRow = org.apache.spark.sql.Row.fromSeq(
        (0 until schema.length).map(fr.get))
      if (!hit) out(i) = oldRow
      else {
        val oldM = rowToMap(oldRow, schema).toMap
        val newM = rowToMap(news(i), schema)
        befores.foreach(d => interp.runTriggerBody(d.body, newM, oldM,
          newAssignable = true, schema))
        val newRow = mapToRow(newM, schema)
        val oldKey = keyIdx.map(oldRow.get)
        val newKey = keyIdx.map(newRow.get)
        if (ignore && keys.nonEmpty && newKey != oldKey &&
            currentKeys.contains(newKey)) {
          out(i) = oldRow // skipped: collision under IGNORE
        } else {
          if (keys.nonEmpty && newKey != oldKey) {
            currentKeys -= oldKey; currentKeys += newKey
          }
          out(i) = newRow
          pairs += ((oldM, newM))
        }
      }
      pos += 1
    }
    import scala.jdk.CollectionConverters._
    val rebuilt = spark.createDataFrame(out.toList.asJava, schema)
    try store.rewriteWith(_ => rebuilt)
    finally refreshTableView(table, store)
    pairs.foreach { case (o, nw) =>
      afters.foreach(d => interp.runTriggerBody(d.body, nw, o,
        newAssignable = false, schema))
    }
    import spark.implicits._
    Seq((table, touched)).toDF("table_name", "rows_updated")
  }

  // Admin/diagnostic statements (the MySQL client-session surface the
  // reference inherits from its server half: SHOW TABLES / SHOW CREATE
  // TABLE / DESCRIBE / EXPLAIN — mysql-test/suite/tianmu uses all four
  // around its data statements).
  private val ShowTablesRe: Regex =
    """(?is)^\s*SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+`?\w+`?)?\s*;?\s*$""".r
  private val ShowCreateRe: Regex =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?\s*;?\s*$""".r
  // bare `EXPLAIN t` is MySQL's DESCRIBE synonym (create_table.test);
  // the single-word tail keeps EXPLAIN SELECT/DML on their own regexes
  private val DescribeRe: Regex =
    """(?is)^\s*(?:DESCRIBE|DESC|SHOW\s+COLUMNS\s+FROM|EXPLAIN)\s+`?(\w+)`?\s*;?\s*$""".r
  private val ExplainRe: Regex =
    """(?is)^\s*EXPLAIN\s+(SELECT\b.*)$""".r
  private val ExplainDmlRe: Regex =
    """(?is)^\s*EXPLAIN\s+((?:DELETE|UPDATE|INSERT|REPLACE)\b.*)$""".r
  // Maintenance statements (MySQL admin pair the reference inherits):
  // OPTIMIZE TABLE = fold the insert buffer (the background-merge the
  // reference schedules by thresholds, engine.h:210, run on demand);
  // ANALYZE TABLE = refresh statistics (the ANALYZE tier — the profile
  // lands in a `<table>__stats` view beside MySQL's status row).
  private val OptimizeRe: Regex =
    """(?is)^\s*OPTIMIZE\s+TABLE\s+`?(\w+)`?\s*;?\s*$""".r
  private val AnalyzeRe: Regex =
    """(?is)^\s*ANALYZE\s+TABLE\s+`?(\w+)`?\s*;?\s*$""".r
  // CHECK TABLE = integrity probe (delete.test checks after a delete);
  // a parquet-backed store's invariant is that its files read — one
  // full count() IS the check
  private val CheckTableRe: Regex =
    """(?is)^\s*CHECK\s+TABLE\s+([`\w\s,]+?)(?:\s+(?:QUICK|FAST|MEDIUM|EXTENDED|CHANGED|FOR\s+UPGRADE))*\s*;?\s*$""".r
  // DDL pair: CTAS materializes the SELECT into a runner-managed store
  // (every later statement — LOAD, DML, OPTIMIZE — works on it like any
  // attached table); DROP detaches and deletes ONLY runner-created
  // stores (a table the caller attached owns its own files).
  private val CtasRe: Regex =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+(?:AS\s+)?(\(?\s*SELECT\b.*?\)?)\s*;?\s*$""".r
  // MySQL's hybrid form: explicit column definitions AND a SELECT
  // (ctas1.test, issue228.test, case_when.test). Declared columns come
  // first; SELECT columns merge by name, unmatched ones append.
  private val CreateTableSelectRe: Regex =
    """(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*\(((?!\s*SELECT\b).+?)\)\s*((?:ENGINE\s*=\s*\w+\s*|(?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)\s*=?\s*\w+\s*|(?:DEFAULT\s+)?COLLATE\s*=?\s*\w+\s*|AUTO_INCREMENT\s*=\s*\d+\s*|ROW_FORMAT\s*=\s*\w+\s*|COMMENT\s*=?\s*'[^']*'\s*)*)\s*(?:AS\s+)?(SELECT\b.+?)\s*;?\s*$""".r
  // CREATE TABLE with column definitions (the reference's DDL entry —
  // every MTR test opens with one, e.g. ssb_small.test:12-42): parses
  // the §1.2 type surface into a Spark schema, creates an EMPTY
  // runner-managed store, registers any PRIMARY KEY. With LOAD DATA and
  // the INSERT forms this closes the verbatim MTR flow:
  // CREATE TABLE → LOAD/INSERT → SELECT, all as statement text.
  // TEMPORARY is accepted and equivalent: every runner table is already
  // session-scoped (create_tmp.test / temporary.test).
  private val CreateTableRe: Regex =
    """(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*\((.+)\)\s*((?:ENGINE\s*=\s*\w+\s*|(?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)\s*=?\s*\w+\s*|(?:DEFAULT\s+)?COLLATE\s*=?\s*\w+\s*|AUTO_INCREMENT\s*=\s*\d+\s*|ROW_FORMAT\s*=\s*\w+\s*|COMMENT\s*=?\s*'[^']*'\s*)*);?\s*$""".r
  // Secondary-index DDL (create_index.test / drop_index.test): accepted
  // as metadata no-ops — the engine has no B-trees; scan pruning comes
  // from the pack stats sidecar (the reference's Tianmu engine likewise
  // treats secondary indexes as inert metadata, SURVEY §4).
  private val CreateIndexRe: Regex =
    """(?is)^\s*CREATE\s+(UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?INDEX\s+`?(\w+)`?\s+ON\s+`?(\w+)`?\s*\(([^)]*)\)\s*;?\s*$""".r
  private val DropIndexRe: Regex =
    """(?is)^\s*DROP\s+INDEX\s+`?(\w+)`?\s+ON\s+`?(\w+)`?\s*;?\s*$""".r
  // Database-level session statements (create_db.test / dropdb.test):
  // the runner is single-namespace (a library, not a server), so these
  // track names only — CREATE/USE/DROP succeed, table names stay flat.
  private val CreateDbRe: Regex =
    """(?is)^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w$]+)`?(?:\s+(?:DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET|COLLATE)\s*=?\s*\w+)*\s*;?\s*$""".r
  private val UseDbRe: Regex = """(?is)^\s*USE\s+`?([\w$]+)`?\s*;?\s*$""".r
  private val DropDbRe: Regex =
    """(?is)^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?`?([\w$]+)`?\s*;?\s*$""".r
  // CREATE TABLE … LIKE clones schema + PK into a fresh empty store
  // (truncate_table.test uses it); CREATE/DROP VIEW map to session temp
  // views (this is a library — every view is session-scoped, the
  // TEMPORARY-table equivalence).
  private val CreateLikeRe: Regex =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+LIKE\s+`?(\w+)`?\s*;?\s*$""".r
  private val CreateViewRe: Regex =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:ALGORITHM\s*=\s*\w+\s+)?""" +
      """(?:DEFINER\s*=\s*\S+\s+)?(?:SQL\s+SECURITY\s+\w+\s+)?""" +
      """VIEW\s+`?(\w+)`?\s+AS\s+(SELECT\b.*?)\s*;?\s*$""").r
  private val DropViewRe: Regex =
    """(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([`\w][`\w\s,]*?)\s*;?\s*$""".r
  private val ShowCreateViewRe: Regex =
    """(?is)^\s*SHOW\s+CREATE\s+VIEW\s+`?(\w+)`?\s*;?\s*$""".r
  // view definitions recorded for SHOW CREATE VIEW (issue819.test)
  private val viewDefs =
    scala.collection.mutable.LinkedHashMap[String, String]()

  // --- stored SQL functions (func_define.test, issue538.test) --------------
  // The reference routes stored routines through the MySQL server layer
  // (SURVEY §2.13); this library carries the FUNCTION subset that the
  // tianmu MTR suite actually exercises: expression-bodied
  // `RETURN expr` functions (expanded inline as scalar expressions —
  // subquery bodies become correlated scalar subqueries Catalyst
  // decorrelates) and simple BEGIN…END bodies whose side-effect
  // statements run through this runner before the RETURN value is
  // evaluated. PROCEDURE/TRIGGER stay out of scope.
  private case class StoredFunc(params: Seq[String], preStmts: Seq[String],
                                returnExpr: String)
  private val storedFuncs =
    scala.collection.mutable.Map[String, StoredFunc]()

  // ---------------- procedural tier (SURVEY §2.13) ----------------
  // Stored PROCEDUREs and procedural FUNCTION bodies (DECLARE / flow
  // control / SELECT…INTO) run through the driver-side interpreter in
  // Procedural.scala — the same architectural seam as the reference,
  // which routes stored routines to the MySQL SQL layer
  // (engine_execute.cpp:374-382) rather than to its columnar engine.
  private val procFuncs =
    scala.collection.mutable.Map[String, Procedural.Routine]()
  private val procedures =
    scala.collection.mutable.Map[String, Procedural.Routine]()
  private[sources] object procHost extends ProcHost {
    def runStmt(sql: String): DataFrame = run(sql)
    def setUserVarLit(name: String, lit: String): Unit =
      userVars(name.toLowerCase) = lit
    def getUserVarLit(name: String): Option[String] =
      userVars.get(name.toLowerCase)
    def callProcedureFrom(name: String, argTexts: Seq[String],
                          caller: Option[ProcCtx]): DataFrame =
      procedures.get(name.toLowerCase) match {
        case Some(r) => interp.callProcedure(r, argTexts, caller)
        case None => throw new IllegalArgumentException(
          s"PROCEDURE $name does not exist (MySQL error 1305)")
      }
    def mightReadTables(expr: String): Boolean = {
      val lower = expr.toLowerCase
      (storedFuncs.keysIterator ++ procFuncs.keysIterator)
        .exists(lower.contains)
    }
  }
  private val interp = new Interp(procHost)

  // ---------------- triggers (SURVEY §2.13) ----------------
  // The reference gates triggers per engine: CREATE TRIGGER on a tianmu
  // table raises ER_TIANMU_NOT_SUPPORTED_TRIGGER (3240) unless the
  // session sets tianmu_no_key_error=ON (sql_trigger.cc:229-235) —
  // issue1185 pins the 3240s, issue1318 runs with the flag and expects
  // firing triggers, issue1186 targets InnoDB side tables. Trigger
  // bodies execute per row through the procedural interpreter, exactly
  // the reference's SQL-layer routing; this never touches a scan path.
  private case class TriggerDef(name: String, db: String, timing: String,
                                event: String, table: String,
                                bodyText: String,
                                body: Vector[Procedural.PStmt])
  private val triggers =
    scala.collection.mutable.LinkedHashMap[String, TriggerDef]()
  private var dmlTxnDepth = 0

  private def triggersOn(table: String, event: String,
                         timing: String): Seq[TriggerDef] =
    triggers.values.toSeq.filter(t => t.table == table.toLowerCase &&
      t.event == event && t.timing == timing)
  private def tableTriggered(table: String, event: String): Boolean =
    triggers.values.exists(t =>
      t.table == table.toLowerCase && t.event == event)

  private val CreateTriggerRe: Regex =
    ("""(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?TRIGGER\s+""" +
      """(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s+(BEFORE|AFTER)\s+""" +
      """(INSERT|UPDATE|DELETE)\s+ON\s+(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?""" +
      """\s+FOR\s+EACH\s+ROW\s+(?:(?:FOLLOWS|PRECEDES)\s+\w+\s+)?(.*)$""").r
  private val DropTriggerRe: Regex =
    ("""(?is)^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?""" +
      """(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*;?\s*$""").r
  private val ShowTriggersRe: Regex =
    """(?is)^\s*SHOW\s+TRIGGERS(?:\s+(?:IN|FROM)\s+`?\w+`?)?(?:\s+LIKE\s+\S+)?\s*;?\s*$""".r

  /** Resolve (schema, bare table name) to the runner's registry key —
    * bare under the current/test namespace, `db__t` mangled otherwise
    * (the stripDbPrefix convention). */
  private def resolveTableKey(schema: String, name: String)
      : Option[String] = {
    val bare = name.toLowerCase
    val mangled = s"${schema}__$bare"
    def known(k: String) = stores.contains(k) || viewDefs.contains(k) ||
      packedTables.contains(k)
    if (known(mangled)) Some(mangled)
    else if ((schema == currentDb || schema == "test") && known(bare))
      Some(bare)
    else None
  }

  /** Walk a parsed trigger body collecting every text fragment (for
    * NEW/OLD reference validation). */
  private def bodyFragments(stmts: Vector[Procedural.PStmt])
      : (Seq[String], Seq[String]) = {
    import Procedural._
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val setTargets = scala.collection.mutable.ArrayBuffer[String]()
    def walk(ss: Vector[PStmt]): Unit = ss.foreach {
      case Declare(_, _, _, d) => d.foreach(texts += _)
      case SetStmt(assigns) => assigns.foreach { case (t, e) =>
        setTargets += t; texts += e
      }
      case IfStmt(branches, els) =>
        branches.foreach { case (c, b) => texts += c; walk(b) }
        walk(els)
      case CaseStmt(subj, whens, els) =>
        subj.foreach(texts += _)
        whens.foreach { case (v, b) => texts += v; walk(b) }
        els.foreach(walk)
      case WhileStmt(_, c, b) => texts += c; walk(b)
      case RepeatStmt(_, u, b) => texts += u; walk(b)
      case LoopStmt(_, b) => walk(b)
      case Block(b) => walk(b)
      case SelectInto(q, t) => texts += q; setTargets ++= t
      case Return(e) => texts += e
      case Raw(sql) => texts += sql
      case _ => ()
    }
    walk(stmts)
    (texts.toSeq, setTargets.toSeq)
  }

  /** CREATE-time validation of a trigger body's row references —
    * mirrors MySQL's error ladder: missing row kind (1363) before
    * non-assignability (1362) before unknown column (1054). */
  private def validateTriggerBody(body: Vector[Procedural.PStmt],
                                  event: String, timing: String,
                                  schema: org.apache.spark.sql.types.StructType)
      : Unit = {
    val (texts, setTargets) = bodyFragments(body)
    val joined = texts.mkString("\n")
      .replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
      .replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "''")
    val newRefs = """(?i)\bNEW\s*\.\s*(\w+)""".r
      .findAllMatchIn(joined).map(_.group(1).toLowerCase).toSeq ++
      setTargets.filter(_.toLowerCase.startsWith("new."))
        .map(_.substring(4).trim.toLowerCase)
    val oldRefs = """(?i)\bOLD\s*\.\s*(\w+)""".r
      .findAllMatchIn(joined).map(_.group(1).toLowerCase).toSeq ++
      setTargets.filter(_.toLowerCase.startsWith("old."))
        .map(_.substring(4).trim.toLowerCase)
    if (event == "INSERT" && oldRefs.nonEmpty)
      throw new IllegalArgumentException(
        "There is no OLD row in on INSERT trigger (MySQL error 1363)")
    if (event == "DELETE" && newRefs.nonEmpty)
      throw new IllegalArgumentException(
        "There is no NEW row in on DELETE trigger (MySQL error 1363)")
    if (setTargets.exists(_.toLowerCase.startsWith("old.")))
      throw new IllegalArgumentException(
        "Updating of OLD row is not allowed in trigger (MySQL error 1362)")
    if (timing == "AFTER" &&
        setTargets.exists(_.toLowerCase.startsWith("new.")))
      throw new IllegalArgumentException(
        "Updating of NEW row is not allowed in after trigger " +
          "(MySQL error 1362)")
    val cols = schema.fieldNames.map(_.toLowerCase).toSet
    (newRefs ++ oldRefs).find(!cols.contains(_)).foreach(c =>
      throw new IllegalArgumentException(
        s"Unknown column '$c' in trigger body (MySQL error 1054)"))
  }

  // ---- firing ----

  private def rowToMap(row: org.apache.spark.sql.Row,
                       schema: org.apache.spark.sql.types.StructType)
      : scala.collection.mutable.Map[String, Any] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Any]()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      m(f.name.toLowerCase) = row.get(i)
    }
    m
  }
  private def mapToRow(m: scala.collection.Map[String, Any],
                       schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(schema.fields.map(f =>
      interp.coerceToSpark(m.getOrElse(f.name.toLowerCase, null),
        f.dataType)).toSeq)

  /** Per-row trigger cap: statement-tier DML only. Bulk analytic paths
    * never carry triggers — this mirrors the reference, whose row
    * engine (not tianmu) executes them. */
  private val TriggerRowCap = 100000

  private def collectCapped(df: DataFrame, what: String)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(TriggerRowCap + 1).collect()
    if (rows.length > TriggerRowCap)
      throw new UnsupportedOperationException(
        s"$what: row-level triggers are a statement-tier feature " +
          s"(>${TriggerRowCap} rows in one triggered statement)")
    rows
  }

  /** BEFORE INSERT pass: run each row through the table's before-insert
    * triggers (mutating NEW), re-check NOT NULL on the mutated rows,
    * rebuild the batch. Identity when the table has none. */
  private def fireBeforeInsert(table: String, batch: DataFrame)
      : DataFrame = {
    val defs = triggersOn(table, "INSERT", "BEFORE")
    if (defs.isEmpty) return batch
    val schema = batch.schema
    // NOT NULL judged on the TABLE's declared schema — a VALUES batch
    // reports literal columns non-nullable regardless of declarations
    val required = stores.get(table.toLowerCase)
      .map(_.read().schema.fields).getOrElse(schema.fields)
      .filter(f => requiredCol(f) ||
        primaryKeys.getOrElse(table.toLowerCase, Seq.empty)
          .exists(_.equalsIgnoreCase(f.name)))
    val rows = collectCapped(batch, s"INSERT INTO $table")
    val out = rows.map { r =>
      val newM = rowToMap(r, schema)
      defs.foreach(d => interp.runTriggerBody(d.body, newM, null,
        newAssignable = true, schema))
      required.find(f => newM.getOrElse(f.name.toLowerCase, null) == null)
        .foreach(f => throw new IllegalArgumentException(
          s"Column '${f.name}' cannot be null (MySQL error 1048)"))
      mapToRow(newM, schema)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.toList.asJava, schema)
  }

  private def fireAfterInsert(table: String, batch: DataFrame): Unit = {
    val defs = triggersOn(table, "INSERT", "AFTER")
    if (defs.isEmpty) return
    val schema = batch.schema
    collectCapped(batch, s"INSERT INTO $table").foreach { r =>
      val newM = rowToMap(r, schema)
      defs.foreach(d => interp.runTriggerBody(d.body, newM, null,
        newAssignable = false, schema))
    }
  }

  private def fireDeleteTriggers(table: String, timing: String,
                                 rows: Array[org.apache.spark.sql.Row],
                                 schema: org.apache.spark.sql.types.StructType)
      : Unit = {
    val defs = triggersOn(table, "DELETE", timing)
    if (defs.isEmpty) return
    rows.foreach { r =>
      val oldM = rowToMap(r, schema).toMap
      defs.foreach(d => interp.runTriggerBody(d.body, null, oldM,
        newAssignable = false, schema))
    }
  }

  /** Strip routine characteristics (COMMENT/DETERMINISTIC/NO SQL/…)
    * from the text between the signature and the body. */
  private def stripRoutineCharacteristics(s: String): String = {
    var t = s.trim
    var go = true
    while (go) {
      val t2 = t.replaceFirst("(?is)^(?:COMMENT\\s+'(?:[^'\\\\]|\\\\.)*'" +
        "|LANGUAGE\\s+SQL|NOT\\s+DETERMINISTIC|DETERMINISTIC|NO\\s+SQL" +
        "|CONTAINS\\s+SQL|READS\\s+SQL\\s+DATA|MODIFIES\\s+SQL\\s+DATA" +
        "|SQL\\s+SECURITY\\s+(?:DEFINER|INVOKER))\\s*", "")
      if (t2 == t) go = false else t = t2
    }
    t
  }

  /** A BEGIN…END function body needs the interpreter (not textual
    * inlining) when it uses declarations, flow control, or SELECT…INTO.
    * Expression-bodied functions keep the inline path — they are the
    * ones legally called with COLUMN arguments (issue538.test), which
    * only textual expansion can serve. */
  private def proceduralBody(body: String): Boolean = {
    val b = body.replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
    """(?is)\b(DECLARE|WHILE|ITERATE|LEAVE|REPEAT|ELSEIF)\b""".r
      .findFirstIn(b).isDefined ||
      """(?is)\bEND\s+(IF|CASE|WHILE|LOOP|REPEAT)\b""".r
        .findFirstIn(b).isDefined ||
      """(?is)\bINTO\s+\w+\s*[,;]""".r.findFirstIn(b).isDefined ||
      """(?is)\bSELECT\b[^;]*\bINTO\s+\w+""".r.findFirstIn(b).isDefined
  }

  private val CreateProcRe: Regex =
    ("""(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?PROCEDURE\s+""" +
      """`?(\w+)`?\s*(?:\(((?:[^()]|\([^()]*\))*)\))?\s*(.*)$""").r
  private val DropProcRe: Regex =
    """(?is)^\s*DROP\s+PROCEDURE\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*$""".r
  private val AlterRoutineRe: Regex =
    """(?is)^\s*ALTER\s+(PROCEDURE|FUNCTION)\s+`?(\w+)`?\b.*$""".r
  private val CallRe: Regex =
    """(?is)^\s*CALL\s+`?(\w+)`?\s*(?:\((.*)\))?\s*;?\s*$""".r
  // procedural CREATE FUNCTION (characteristics may carry quoted
  // comments — `comment '根据成绩获取评级'` — which the legacy regex's
  // word-only characteristics group cannot cross)
  private val CreateFuncFullRe: Regex =
    ("""(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?FUNCTION\s+""" +
      """`?(\w+)`?\s*\(((?:[^()]|\([^()]*\))*)\)\s*RETURNS\s+""" +
      """(\w+\s*(?:\([^)]*\))?)\s*""" +
      """((?:CHARSET|CHARACTER\s+SET)\s+\w+)?\s*(.*)$""").r
  private val CreateFunctionRe: Regex =
    ("""(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?FUNCTION\s+`?(\w+)`?\s*""" +
      """\(((?:[^()]|\([^()]*\))*)\)\s*RETURNS\s+\w+\s*(?:\([^)]*\))?""" +
      """(?:\s+(?:CHARSET|CHARACTER\s+SET)\s+\w+)?\s*""" +
      """((?:\w|\s|'[^']*')*?)\s*""" +
      """(RETURN\b.*|BEGIN\b.*END)\s*;?\s*$""").r
  private val DropFunctionRe: Regex =
    """(?is)^\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*$""".r
  private val ShowCreateFunctionRe: Regex =
    """(?is)^\s*SHOW\s+CREATE\s+FUNCTION\s+`?(\w+)`?\s*;?\s*$""".r

  /** Substitute `param` identifiers with parenthesized argument text,
    * word-boundary and literal-aware. */
  private def substParams(body: String, params: Seq[String],
                          args: Seq[String]): String = {
    val byName = params.map(_.toLowerCase).zip(args.map(a => s"($a)")).toMap
    val out = new StringBuilder(body.length)
    val n = body.length
    var i = 0
    while (i < n) {
      val c = body(i)
      if (c == '\'' || c == '"' || c == '`') {
        out.append(c); i += 1
        while (i < n && body(i) != c) { out.append(body(i)); i += 1 }
        if (i < n) { out.append(c); i += 1 }
      } else if (Character.isLetter(c) || c == '_') {
        var j = i
        while (j < n && (Character.isLetterOrDigit(body(j)) || body(j) == '_'))
          j += 1
        val w = body.substring(i, j)
        out.append(byName.getOrElse(w.toLowerCase, w))
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Expand stored-function calls in statement text. Expression-bodied
    * functions inline anywhere an expression can appear; BEGIN…END
    * bodies run their side-effect statements through the runner first
    * (so `SELECT f3(123)` inserts, then selects the RETURN value) —
    * valid only with resolvable argument text, which matches how the
    * suite calls them. Iterates to a small depth so a function body may
    * call another function. */
  private def expandStoredFuncs(sql: String): String = {
    if (storedFuncs.isEmpty && procFuncs.isEmpty) return sql
    var cur = sql
    var depth = 0
    var changed = true
    while (changed && depth < 16) {
      changed = false
      depth += 1
      cur = expandOneCall(cur) match {
        case Some(next) => changed = true; next
        case None => cur
      }
    }
    cur
  }

  /** Rewrite the FIRST stored-function call found in `sql`, running any
    * BEGIN…END side-effect statements; None when no call remains. */
  private def expandOneCall(sql: String): Option[String] = {
    val lower = sql.toLowerCase
    // procedural functions evaluate eagerly (argument values must be
    // constants — the corpus calls them FROM-less); the result splices
    // back as a literal
    procFuncs.foreach { case (fname, r) =>
      var from = 0
      while (from < lower.length) {
        val at = lower.indexOf(fname, from)
        if (at < 0) from = lower.length
        else {
          val beforeOk = at == 0 || !(Character.isLetterOrDigit(
            lower(at - 1)) || lower(at - 1) == '_' || lower(at - 1) == '.')
          var p = at + fname.length
          while (p < sql.length && sql(p).isWhitespace) p += 1
          if (beforeOk && p < sql.length && sql(p) == '(' &&
              !inStringLiteral(sql, at)) {
            var d = 0; var q = p
            while (q < sql.length && (d > 0 || q == p)) {
              if (sql(q) == '(') d += 1
              else if (sql(q) == ')') d -= 1
              q += 1
            }
            val argText = sql.substring(p + 1, q - 1).trim
            val args =
              if (argText.isEmpty) Seq.empty else splitTopLevel(argText)
            val ctx = new ProcCtx(procHost)
            // eager once-per-statement evaluation in an empty context:
            // a column reference (SELECT f(col) FROM t) has no row to
            // bind against — surface that contract instead of the
            // interpreter's resolution error
            val argVals = args.map(a =>
              try interp.evalExpr(a, ctx)
              catch {
                case e: Exception => throw new IllegalArgumentException(
                  s"FUNCTION $fname: argument `$a` is not a constant " +
                    "expression — procedural stored functions accept " +
                    "constant arguments only (evaluated once per " +
                    "statement, not per row)", e)
              })
            val result = interp.callFunction(r, argVals)
            return Some(sql.substring(0, at) +
              "(" + interp.renderSql(result) + ")" + sql.substring(q))
          } else from = at + fname.length
        }
      }
    }
    storedFuncs.foreach { case (fname, f) =>
      var from = 0
      while (from < lower.length) {
        val at = lower.indexOf(fname, from)
        if (at < 0) from = lower.length
        else {
          val beforeOk = at == 0 || !(Character.isLetterOrDigit(
            lower(at - 1)) || lower(at - 1) == '_' || lower(at - 1) == '.')
          var p = at + fname.length
          while (p < sql.length && sql(p).isWhitespace) p += 1
          if (beforeOk && p < sql.length && sql(p) == '(' &&
              !inStringLiteral(sql, at)) {
            // balanced-paren argument list
            var d = 0; var q = p
            while (q < sql.length && (d > 0 || q == p)) {
              if (sql(q) == '(') d += 1
              else if (sql(q) == ')') d -= 1
              q += 1
            }
            val argText = sql.substring(p + 1, q - 1).trim
            val args =
              if (argText.isEmpty) Seq.empty else splitTopLevel(argText)
            if (args.length != f.params.length)
              throw new IllegalArgumentException(
                s"FUNCTION $fname: incorrect number of arguments — " +
                  s"expected ${f.params.length}, got ${args.length} " +
                  "(MySQL error 1318)")
            // argument evaluation runs in STORED-PROGRAM context, where
            // ERROR_FOR_DIVISION_BY_ZERO + strict raises 1365 instead
            // of the bare-SELECT NULL-with-warning
            // (select_function_calls.test `SELECT func(@b/0)`)
            if (strictMode &&
                sessionSqlMode.contains("ERROR_FOR_DIVISION_BY_ZERO"))
              args.foreach(a =>
                rejectLiteralDivZero(a, s"FUNCTION $fname"))
            f.preStmts.foreach(s => run(substParams(s, f.params, args)))
            // CAPTURE GUARD: MySQL evaluates the argument in the
            // CALLER's scope, then runs the body — but textual
            // substitution merges scopes, so an argument like
            // `employees.employee_id` would be captured by a body
            // whose own FROM reads `employees` (issue538.test:135).
            // Aliasing the body's table restores the outer resolution
            // (the body's own columns are unqualified and still bind
            // inner-first); bodies that qualify their own columns with
            // the table name are left untouched.
            val argRefs = args.flatMap(a =>
              """(\w+)\s*\.""".r.findAllMatchIn(
                a.replaceAll("'[^']*'|\"[^\"]*\"", " "))
                .map(_.group(1).toLowerCase)).toSet
            val body =
              if (argRefs.isEmpty) f.returnExpr
              else """(?is)\bFROM\s+`?(\w+)`?(\s*)(\w*)""".r
                .replaceAllIn(f.returnExpr, m => {
                  val t = m.group(1)
                  val nextW = m.group(3).toLowerCase
                  val clauseNext = nextW.isEmpty || Set("where", "group",
                    "order", "limit", "having", "on", "join", "left",
                    "right", "inner", "cross", "union").contains(nextW)
                  val selfQualified =
                    (s"""(?i)\\b${java.util.regex.Pattern.quote(t)}\\s*\\.""").r
                      .findFirstIn(f.returnExpr).isDefined
                  if (argRefs.contains(t.toLowerCase) && clauseNext &&
                      !selfQualified)
                    java.util.regex.Matcher.quoteReplacement(
                      s"FROM $t __graft_self${m.group(2)}${m.group(3)}")
                  else java.util.regex.Matcher
                    .quoteReplacement(m.matched)
                })
            val repl0 = "(" + substParams(body, f.params, args) + ")"
            // a subquery-bodied function expanding inside INSERT/REPLACE
            // VALUES would put a scalar subquery where Spark's VALUES
            // grammar forbids one (trigger.test: `insert into t1 values
            // (f1(), …)` with f1 = (select max(seq) from t2)) — its
            // arguments are constants there, so evaluate eagerly
            val repl =
              if ("""(?is)^\s*(INSERT|REPLACE)\b""".r
                .findFirstIn(sql).isDefined &&
                """(?i)\(\s*select\b""".r.findFirstIn(repl0).isDefined)
                "(" + renderLiteral(spark.sql(MySqlDialect.rewrite(
                  "SELECT " + repl0)).first().get(0)) + ")"
              else repl0
            return Some(sql.substring(0, at) + repl + sql.substring(q))
          } else from = at + fname.length
        }
      }
    }
    None
  }

  /** INFORMATION_SCHEMA.{COLUMNS,VIEWS,TABLES} (create_view.test,
    * different_charsets_a.test): the runner IS the catalog — surface
    * its table registry as session views on demand and rewrite the
    * dotted names to the registered view names. Values are refreshed
    * per statement, so DDL between queries is visible. */
  private def resolveInfoSchema(sql: String): String = {
    if (!sql.toLowerCase.contains("information_schema.")) return sql
    import spark.implicits._
    val lower = sql.toLowerCase
    if (lower.contains("information_schema.columns")) {
      stores.toSeq.flatMap { case (t, store) =>
        store.read().schema.fields.zipWithIndex.map { case (f, i) =>
          val dt = declaredType(f).toLowerCase.takeWhile(_ != '(')
          val maxLen: java.lang.Long =
            if (f.metadata.contains("graft.mysql.maxlen"))
              java.lang.Long.valueOf(
                f.metadata.getLong("graft.mysql.maxlen"))
            else null
          val octets: java.lang.Long =
            if (maxLen == null) null
            else java.lang.Long.valueOf(maxLen.longValue *
              (if (f.metadata.contains("graft.mysql.charset")) 3L else 4L))
          (tableDb.getOrElse(t, currentDb), t, f.name, i + 1L, dt,
            maxLen, octets)
        }
      }.toDF("table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "character_maximum_length",
        "character_octet_length")
        .createOrReplaceTempView("graft_info_schema_columns")
    }
    if (lower.contains("information_schema.triggers")) {
      triggers.values.toSeq.map(t =>
        (t.db, t.name, t.db, t.table.split("__").last, t.bodyText,
          t.timing, t.event))
        .toDF("trigger_schema", "trigger_name", "event_object_schema",
          "event_object_table", "action_statement", "action_timing",
          "event_manipulation")
        .createOrReplaceTempView("graft_info_schema_triggers")
    }
    if (lower.contains("information_schema.views")) {
      viewDefs.toSeq.map { case (v, defn) => (currentDb, v, defn) }
        .toDF("table_schema", "table_name", "view_definition")
        .createOrReplaceTempView("graft_info_schema_views")
    }
    if (lower.contains("information_schema.tables")) {
      stores.keys.toSeq
        .map(t => (tableDb.getOrElse(t, currentDb), t, "BASE TABLE",
          tableEngines.getOrElse(t, "TIANMU")))
        .toDF("table_schema", "table_name", "table_type", "engine")
        .createOrReplaceTempView("graft_info_schema_tables")
    }
    sql.replaceAll("(?i)information_schema\\.columns",
      "graft_info_schema_columns")
      .replaceAll("(?i)information_schema\\.views",
        "graft_info_schema_views")
      .replaceAll("(?i)information_schema\\.tables",
        "graft_info_schema_tables")
      .replaceAll("(?i)information_schema\\.triggers",
        "graft_info_schema_triggers")
  }

  // ───────────────────────── JOIN-ON scalar-subquery hoist ──────────
  // Spark cannot place a correlated scalar subquery inside a JOIN … ON
  // condition (issue538.test: a stored function whose body is a
  // single-table lookup expands exactly there). MySQL evaluates the
  // subquery per candidate row pair; when it references ONLY the
  // join's right-side alias (or nothing outside itself), that is
  // equivalent to projecting it as a derived column of the right side
  // — a placement Spark accepts and decorrelates — and comparing the
  // column in ON. The rewrite is textual, alias-scoped and
  // conservative: any shape it does not fully recognize passes
  // through untouched.

  private val OnJoinRe =
    """(?is)\bjoin\s+`?(\w+)`?\s+(?:as\s+)?`?(\w+)`?\s+on\b""".r

  /** End of the ON condition starting at `from`: the first top-level
    * `)` / `;` / clause keyword, else end of text. */
  private def onCondEnd(s: String, from: Int): Int = {
    val terminators = Set("where", "group", "order", "having", "limit",
      "union", "left", "right", "inner", "cross", "full", "join",
      "straight_join")
    var i = from
    var depth = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\'' || c == '"' || c == '`') {
        val q = c; i += 1
        while (i < s.length && s(i) != q) {
          if (s(i) == '\\' && q != '`') i += 1
          i += 1
        }
        i += 1
      } else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { if (depth == 0) return i; depth -= 1; i += 1 }
      else if (c == ';' && depth == 0) return i
      else if (Character.isLetter(c) || c == '_') {
        var j = i
        while (j < s.length &&
          (Character.isLetterOrDigit(s(j)) || s(j) == '_')) j += 1
        if (depth == 0 && terminators(s.substring(i, j).toLowerCase))
          return i
        i = j
      } else i += 1
    }
    s.length
  }

  /** `(SELECT …)` spans (start, endExclusive) inside s[from, end). */
  private def selectSpans(s: String, from: Int, end: Int)
      : Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = from
    while (i < end) {
      val c = s(i)
      if (c == '\'' || c == '"' || c == '`') {
        val q = c; i += 1
        while (i < end && s(i) != q) {
          if (s(i) == '\\' && q != '`') i += 1
          i += 1
        }
        i += 1
      } else if (c == '(' &&
          """(?is)^\(\s*select\b""".r
            .findFirstIn(s.substring(i, math.min(end, i + 12))).isDefined) {
        // balanced close
        var d = 0; var j = i
        var close = -1
        while (j < s.length && close < 0) {
          if (s(j) == '(') d += 1
          else if (s(j) == ')') { d -= 1; if (d == 0) close = j + 1 }
          else if (s(j) == '\'' || s(j) == '"') {
            val q = s(j); j += 1
            while (j < s.length && s(j) != q) {
              if (s(j) == '\\') j += 1
              j += 1
            }
          }
          j += 1
        }
        if (close > 0 && close <= end) { out += ((i, close)); i = close }
        else i += 1
      } else i += 1
    }
    out.toSeq
  }

  /** Qualified aliases a subquery references that its own FROM clause
    * does not define (coarse word-level scan — used only as a
    * conservative hoist guard). */
  private def outsideAliases(subq: String): Set[String] = {
    val bare = subq.replaceAll("'[^']*'|\"[^\"]*\"", " ")
    val quals = """(\w+)\s*\.""".r.findAllMatchIn(bare)
      .map(_.group(1).toLowerCase).toSet
    val fromPart = """(?is)\bfrom\b(.*?)(?:\bwhere\b|$)""".r
      .findFirstMatchIn(bare).map(_.group(1)).getOrElse("")
    val innerNames = """\w+""".r.findAllIn(fromPart)
      .map(_.toLowerCase).toSet
    quals -- innerNames
  }

  private def hoistOnSubqueries(sql: String): String = {
    if ("""(?is)\bjoin\b""".r.findFirstIn(sql).isEmpty ||
        """(?is)\(\s*select\b""".r.findFirstIn(sql).isEmpty) return sql
    var cur = sql
    var guard = 0
    var changed = true
    while (changed && guard < 8) {
      changed = false
      guard += 1
      val hit = OnJoinRe.findAllMatchIn(cur).toList
        .filterNot(m => inStringLiteral(cur, m.start))
        .iterator.map { m =>
          val table = m.group(1)
          val alias = m.group(2)
          val condEnd = onCondEnd(cur, m.end)
          val spans = selectSpans(cur, m.end, condEnd).filter { case (a, b) =>
            outsideAliases(cur.substring(a, b))
              .subsetOf(Set(alias.toLowerCase))
          }
          (m, table, alias, spans)
        }.find(_._4.nonEmpty)
      hit.foreach { case (m, table, alias, spans) =>
        val named = spans.sortBy(_._1).zipWithIndex.map {
          case ((a, b), k) => (a, b, s"__graft_on_sq_${k + 1}",
            cur.substring(a, b))
        }
        var next = cur
        named.sortBy(-_._1).foreach { case (a, b, nm, _) =>
          next = next.substring(0, a) + s"$alias.$nm" + next.substring(b)
        }
        // a scalar subquery in a join CHILD trips Spark's decorrelation
        // (key-not-found on the outer attribute) — LEFT JOIN LATERAL is
        // the decorrelation path that works, and an empty lateral result
        // NULL-fills exactly like the scalar subquery. (A multi-row
        // subquery result duplicates rows here where MySQL raises 1242;
        // the corpus' lookups are unique-keyed.)
        val laterals = named.map { case (_, _, nm, expr) =>
          s"LEFT JOIN LATERAL $expr __t_$nm($nm) ON true"
        }.mkString(" ")
        val cols = named.map { case (_, _, nm, _) => s"__t_$nm.$nm" }
          .mkString(", ")
        next = next.substring(0, m.start) +
          s"JOIN (SELECT $alias.*, $cols FROM $table $alias $laterals) " +
          s"$alias ON" + next.substring(m.end)
        cur = next
        changed = true
      }
    }
    cur
  }

  /** True when every occurrence of `needle` is inside a quoted
    * literal (or absent). */
  private def inStringLiteralFree(sql: String, needle: String): Boolean = {
    var from = 0
    while (true) {
      val at = sql.indexOf(needle, from)
      if (at < 0) return true
      if (!inStringLiteral(sql, at)) return false
      from = at + 1
    }
    true
  }

  /** True when position `at` falls inside a quoted literal. */
  private def inStringLiteral(s: String, at: Int): Boolean = {
    var i = 0
    var quote: Char = 0
    while (i < at) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      i += 1
    }
    quote != 0
  }
  private val ShowDbsRe: Regex =
    """(?is)^\s*SHOW\s+DATABASES\s*;?\s*$""".r
  private val ShowIndexRe: Regex =
    """(?is)^\s*SHOW\s+(?:INDEX|INDEXES|KEYS)\s+FROM\s+`?(\w+)`?\s*;?\s*$""".r
  private val ChecksumRe: Regex =
    """(?is)^\s*CHECKSUM\s+TABLES?\s+([`\w][`\w\s,]*?)(?:\s+(?:QUICK|EXTENDED))?\s*;?\s*$""".r
  // MySQL session-SET spellings Spark's `SET key=value` grammar cannot
  // parse (MTR prologues use all three): charset selection, user
  // variables, scoped system variables — accepted as session no-ops;
  // plain `SET key = value` still passes through to spark.sql.
  private val SetSessionRe: Regex =
    """(?is)^\s*SET\s+((?:NAMES\s+\S+|@@?[\w.]+\s*:?=.*|(?:GLOBAL|SESSION)\s+.+|(?:sql_\w+|character_set_\w+|collation_\w+|tianmu_\w+|autocommit|unique_checks|foreign_key_checks|big_tables|time_zone|max_\w+|default_\w+)\s*=.*))\s*;?\s*$""".r
  /** Recorded MySQL system variables (`SET [GLOBAL|SESSION] x = v`,
    * `SET @@x = v`). The one with engine behavior behind it is
    * `tianmu_no_key_error` (handler/ha_tianmu.cpp:1704): OFF (the
    * server default) makes secondary/unique/fulltext index DDL on a
    * Tianmu table an error; ON downgrades it to inert metadata —
    * several reference MTR files flip it via their master.opt. */
  private val sessionVars = scala.collection.mutable.Map[String, String]()
  /** Composite sql_mode values imply member modes (MySQL 5.7 manual
    * §5.1.10 "combination modes"): TRADITIONAL bundles both STRICT
    * modes plus the zero-date and division hardening; ANSI bundles the
    * ANSI-compat modes. A raw substring test loses them —
    * insert_update.test sets `SQL_MODE='TRADITIONAL'` and expects
    * strict-insert errors (ER_NO_DEFAULT_FOR_FIELD). */
  private def expandSqlMode(raw: String): String = {
    raw.toUpperCase.split(",").map(_.trim).filter(_.nonEmpty).flatMap {
      case "TRADITIONAL" => Seq("TRADITIONAL", "STRICT_TRANS_TABLES",
        "STRICT_ALL_TABLES", "NO_ZERO_IN_DATE", "NO_ZERO_DATE",
        "ERROR_FOR_DIVISION_BY_ZERO", "NO_AUTO_CREATE_USER",
        "NO_ENGINE_SUBSTITUTION")
      case "ANSI" => Seq("ANSI", "REAL_AS_FLOAT", "PIPES_AS_CONCAT",
        "ANSI_QUOTES", "IGNORE_SPACE", "ONLY_FULL_GROUP_BY")
      case m => Seq(m)
    }.mkString(",")
  }

  /** The session sql_mode with composite modes expanded; the default is
    * the MySQL 5.7 server default (ONLY_FULL_GROUP_BY removed by the
    * suite's master.opt). Every mode-membership test in the runner goes
    * through this accessor. */
  private def sessionSqlMode: String =
    expandSqlMode(sessionVars.getOrElse("sql_mode",
      StatementRunner.DefaultSqlMode))

  /** Strict mode tracks the session's sql_mode: the server default is
    * STRICT_TRANS_TABLES, and a `SET sql_mode=''` downgrades inserts to
    * clamp-and-warn (select_precision.test flips it mid-file). */
  private def strictMode: Boolean = sessionSqlMode.contains("STRICT")

  private def noKeyError: Boolean =
    sessionVars.getOrElse("tianmu_no_key_error", "OFF")
      .equalsIgnoreCase("ON")
  private def recordSessionVar(clause: String): Unit =
    """(?is)^(?:(?:GLOBAL|SESSION)\s+|@@(?:global\.|session\.)?)?([\w.]+)\s*=\s*(.+)$"""
      .r.findFirstMatchIn(clause.trim)
      .filterNot(_.group(1).startsWith("@"))
      .foreach { m =>
        val name = m.group(1).toLowerCase.stripPrefix("session.")
          .stripPrefix("global.")
        val raw = m.group(2).trim
        // `SET @@sql_mode = @old_mode` restores from a user variable
        // (create_table.test's save/restore pair)
        val value0 =
          if (raw.matches("@\\w+"))
            userVars.getOrElse(raw.stripPrefix("@").toLowerCase, "")
          else raw
        val value = value0.trim.stripPrefix("'").stripSuffix("'")
        // `SET x = DEFAULT` restores the server default (func_math.test
        // `set SQL_MODE=default`) — drop the override instead of
        // storing the keyword as a value
        if (value.equalsIgnoreCase("default")) sessionVars.remove(name)
        else sessionVars(name) = value
        // a SET of an unknown storage engine is 1286 even though the
        // variable write itself would "succeed" (create_table.test
        // `set session default_storage_engine="gemini"`)
        if (name == "default_storage_engine" ||
            name == "storage_engine") {
          val eng = value.stripPrefix("\"").stripSuffix("\"")
          if (!value.equalsIgnoreCase("default") &&
              !KnownEngines.contains(eng.toUpperCase)) {
            sessionVars.remove(name)
            throw new IllegalArgumentException(
              s"unknown storage engine '$eng' (MySQL error 1286)")
          }
        }
        // the analyzer-side coercion rule reads sql_mode from the conf
        // (loose GROUP BY applies only when an explicit SET removed
        // ONLY_FULL_GROUP_BY — MySQL 5.7's default includes it)
        if (name == "sql_mode")
          spark.conf.set("spark.graft.mysql.sqlMode",
            expandSqlMode(sessionVars.getOrElse("sql_mode", "")))
      }
  // MTR runs against a server whose default schema `test` always
  // exists — seed it so verbatim `USE test` prologues work.
  private val databases = scala.collection.mutable.Set[String]("test")
  // which database was active when each table was created, so DROP
  // DATABASE can drop its tables (insert.test's mysqltest_insert_test)
  private var currentDb = "test"
  private val tableDb = scala.collection.mutable.Map[String, String]()
  // a TEMPORARY table may SHADOW a base table of the same name
  // (temporary.test); DROP restores the shadowed binding
  private case class TableBinding(store: DeltaStore, pk: Option[Seq[String]],
                                  engine: Option[String],
                                  ownedRoot: Option[String],
                                  autoBase: Option[Long])
  private val shadowed = scala.collection.mutable.Map[String, TableBinding]()
  private val tempTables = scala.collection.mutable.Set[String]()

  private def shadowForTemp(key: String): Unit =
    if (stores.contains(key) && !shadowed.contains(key)) {
      shadowed(key) = TableBinding(stores(key), primaryKeys.get(key),
        tableEngines.get(key), ownedRoots.get(key), autoIncBase.get(key))
      stores.remove(key); primaryKeys.remove(key)
      tableEngines.remove(key); ownedRoots.remove(key)
      autoIncBase.remove(key)
    }

  private def restoreShadowed(key: String, name: String): Boolean =
    shadowed.remove(key).exists { b =>
      stores(key) = b.store
      b.pk.foreach(primaryKeys(key) = _)
      b.engine.foreach(tableEngines(key) = _)
      b.ownedRoot.foreach(ownedRoots(key) = _)
      b.autoBase.foreach(autoIncBase(key) = _)
      b.store.read().createOrReplaceTempView(name)
      true
    }
  private val DropRe: Regex =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\s+(IF\s+EXISTS\s+)?([`\w][`\w\s,]*?)(?:\s+(?:RESTRICT|CASCADE))?\s*;?\s*$""".r
  // ALTER TABLE forms (reference alter_table.test / alter_column.test;
  // TianmuTable add/drop, core/tianmu_table.h:73-76) — executed as staged
  // base rewrites through DeltaStore.alterAddColumn/alterDropColumn.
  // ADD PRIMARY KEY must be matched before the generic ADD COLUMN.
  private val AlterAddPkRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+(?:CONSTRAINT\s+`?\w+`?\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)\s*(?:USING\s+\w+\s*)*(?:,\s*(?:ALGORITHM\s*=\s*(?:DEFAULT|COPY)|LOCK\s*=\s*\w+)\s*)*;?\s*$""".r
  // Index DDL through ALTER (issue1185/issue1186/issue1318/issue1325):
  // gated by engine + tianmu_no_key_error exactly like CREATE/DROP INDEX
  private val AlterAddIndexRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+(?:CONSTRAINT\s+`?\w*`?\s+)?(UNIQUE|FULLTEXT)?\s*(?:INDEX|KEY)\s*`?(\w*)`?\s*\(([^)]*)\)\s*;?\s*$""".r
  private val AlterDropIndexRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+(?:INDEX|KEY)\s+`?(\w+)`?\s*;?\s*$""".r
  private val AlterRenameIndexRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+(?:INDEX|KEY)\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*;?\s*$""".r
  // `ALTER TABLE t AUTO_INCREMENT = n` moves the counter start
  // (init_auto_increment_value.test; a value below the current max is
  // a no-op because assignment always takes max(counter, existing)).
  private val AlterAutoIncRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+AUTO_INCREMENT\s*=\s*(\d+)\s*;?\s*$""".r
  // `ALTER TABLE t ENGINE=X` (issue956.test converts to MyISAM and
  // back): a storage re-home; here only the engine tag changes —
  // subsequent index DDL follows the new engine's rules
  private val AlterKeysToggleRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(?:ENABLE|DISABLE)\s+KEYS\s*;?\s*$""".r
  private val AlterEngineRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ENGINE\s*=\s*(\w+)\s*;?\s*$""".r
  private val AlterAddRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+(?:COLUMN\s+)?`?(\w+)`?\s+(\w+(?:\([^)]*\))?(?:\s+UNSIGNED)?(?:\s+ZEROFILL)?)(?:\s+(?:NOT\s+NULL|NULL))?(?:\s+DEFAULT\s+(.+?))?(?:\s+(?:NOT\s+NULL|NULL))?(?:\s+AFTER\s+`?(\w+)`?|\s+(FIRST))?\s*;?\s*$""".r
  // `ALTER TABLE t ALTER [COLUMN] c SET DEFAULT v | DROP DEFAULT`
  // (alter_table1.test) — updates the default riding the column's
  // metadata
  private val AlterSetDefaultRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+(?:COLUMN\s+)?`?(\w+)`?\s+(?:SET\s+DEFAULT\s+(.+?)|DROP\s+DEFAULT)\s*;?\s*$""".r
  private val AlterDropPkRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+PRIMARY\s+KEY\s*(?:,\s*(?:ALGORITHM|LOCK)\s*=\s*\w+\s*)*;?\s*$""".r
  // single-action physical reorder (alter_table1.test `order by id`)
  private val AlterOrderByRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ORDER\s+BY\s+(.+?)\s*;?\s*$""".r
  // multi-action ALTER (`rename X, add c char(10)` — alter_table_mix_use
  // / alter_table_v1): split on top-level commas and run each action as
  // its own ALTER statement; ORDER BY becomes a physical row reorder,
  // ALGORITHM/LOCK are metadata no-ops
  private val AlterMultiRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(.+?,.+)\s*;?\s*$""".r
  private val AlterDropRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+(?:COLUMN\s+)?`?(\w+)`?\s*;?\s*$""".r
  // MODIFY retypes in place; CHANGE renames (+ optionally retypes);
  // RENAME [TO] renames the table in the runner catalog
  // (alter_column.test / alter_table.test shapes).
  private val AlterModifyRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+MODIFY\s+(?:COLUMN\s+)?`?(\w+)`?\s+(.+?)\s*;?\s*$""".r
  private val AlterChangeRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+CHANGE\s+(?:COLUMN\s+)?`?(\w+)`?\s+`?(\w+)`?\s+(\w+(?:\([^)]*\))?)[^;]*?;?\s*$""".r
  private val AlterRenameRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+(?:TO\s+|AS\s+)?`?(\w+)`?\s*;?\s*$""".r
  // `RENAME TABLE a TO b[, c TO d…]` — MySQL's standalone rename form
  // (trigger.test renames t1 under live triggers)
  private val RenameTableRe: Regex =
    """(?is)^\s*RENAME\s+TABLE\s+(.+?)\s*;?\s*$""".r
  // Charset/collation alters are presentation-level no-ops here (the
  // engine is UTF-8 native; alter_delete.test uses CONVERT TO)
  private val AlterCharsetRe: Regex =
    """(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(CONVERT\s+TO\s+CHARACTER\s+SET\s+.+?|(?:DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET)\s*=?\s*.+?|COMMENT\s*=?\s*'[^']*')\s*;?\s*$""".r
  private val TruncateRe: Regex =
    """(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?`?(\w+)`?\s*;?\s*$""".r
  // Server-admin / transaction-control statements accepted as no-ops
  // (see the dispatcher case for the scope rationale).
  private val AdminNoopRe: Regex =
    ("""(?is)^\s*((?:STOP|START)\s+SLAVE\b.*|BEGIN|START\s+TRANSACTION|COMMIT|ROLLBACK""" +
      """|GRANT\b.*|REVOKE\b.*|FLUSH\s+\w.*""" +
      """|LOCK\s+TABLES?\b.*|UNLOCK\s+TABLES?)\s*;?\s*$""").r
  private val ShowWarningsRe: Regex =
    """(?is)^\s*SHOW\s+(?:WARNINGS|ERRORS)\s*;?\s*$""".r
  // user admin tracks names so duplicate CREATE / missing DROP error
  // like the server (create_drop_users.test)
  private val CreateUserRe: Regex =
    """(?is)^\s*CREATE\s+USER\s+(IF\s+NOT\s+EXISTS\s+)?('[^']+'|\S+?)(?:\s+IDENTIFIED\b.*)?\s*;?\s*$""".r
  private val DropUserRe: Regex =
    """(?is)^\s*DROP\s+USER\s+(IF\s+EXISTS\s+)?('[^']+'|[^;\s]+)\s*;?\s*$""".r
  private val users = scala.collection.mutable.Set[String]()
  // PREPARE name FROM 'text' / EXECUTE name / DEALLOCATE PREPARE name
  // (in_subquery.test prepares its probe queries)
  private val PrepareRe: Regex =
    """(?is)^\s*PREPARE\s+`?(\w+)`?\s+FROM\s+('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")\s*;?\s*$""".r
  private val ExecuteRe: Regex =
    """(?is)^\s*EXECUTE\s+`?(\w+)`?\s*;?\s*$""".r
  private val DeallocRe: Regex =
    """(?is)^\s*(?:DEALLOCATE|DROP)\s+PREPARE\s+`?(\w+)`?\s*;?\s*$""".r
  private val prepared = scala.collection.mutable.Map[String, String]()
  /** User variables (`SET @a = expr`, then `SELECT @a+@b` —
    * select_expressions.test): values render back as SQL literals and
    * substitute textually (string-aware) before dispatch. Running
    * assignments (`@x := …` inside SELECT) stay unsupported — MySQL's
    * row-order-dependent accumulator hack has no relational analog. */
  private val userVars = scala.collection.mutable.Map[String, String]()

  private def renderLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("\\", "\\\\")
      .replace("'", "\\'") + "'"
    case d: java.sql.Date => s"DATE'$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case other => other.toString
  }

  private def substituteUserVars(sql: String): String = {
    if (!sql.contains("@")) return sql
    val out = new StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql(i)
      if (c == '\'' || c == '"' || c == '`') {
        out.append(c); i += 1
        while (i < n && sql(i) != c) {
          if (sql(i) == '\\' && i + 1 < n && c != '`') {
            out.append(sql(i)); i += 1
          }
          out.append(sql(i)); i += 1
        }
        if (i < n) { out.append(c); i += 1 }
      } else if (c == '@' && i + 1 < n && sql(i + 1) == '@') {
        out.append("@@"); i += 2
      } else if (c == '@' && i + 1 < n &&
          (Character.isLetterOrDigit(sql(i + 1)) || sql(i + 1) == '_')) {
        var j = i + 1
        while (j < n && (Character.isLetterOrDigit(sql(j)) || sql(j) == '_'))
          j += 1
        // uninitialized user variables are NULL in MySQL
        out.append(userVars.getOrElse(sql.substring(i + 1, j)
          .toLowerCase, "NULL"))
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
  private val ShowVarsRe: Regex =
    """(?is)^\s*SHOW\s+(?:GLOBAL\s+|SESSION\s+|LOCAL\s+)?(VARIABLES|STATUS)(?:\s+LIKE\s+('[^']*'|"[^"]*"))?\s*;?\s*$""".r
  private val ShowEngineStatusRe: Regex =
    """(?is)^\s*SHOW\s+ENGINE\s+\w+(?:\s+[\w,]+){0,3}\s+STATUS\s*;?\s*$""".r
  private val SelectSysVarRe: Regex =
    """(?is)^\s*SELECT\s+@@([\w.]+)\s*;?\s*$""".r

  /** MySQL DDL column type → Spark type (SURVEY.md §1.2 mapping, the
    * forward direction of [[mysqlType]]). */
  private def sparkType(mysql: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val t0 = mysql.trim.toUpperCase
    val unsigned = t0.endsWith(" UNSIGNED") || t0.contains(" UNSIGNED ")
    val t = t0.replace(" UNSIGNED", "").replace(" ZEROFILL", "").trim
    // UNSIGNED widens one tier (§1.2) — the ALTER path mirrors CREATE
    if (unsigned) return t.takeWhile(_ != '(') match {
      case "TINYINT" => ShortType
      case "SMALLINT" => IntegerType
      case "MEDIUMINT" | "INT" | "INTEGER" => LongType
      case "BIGINT" => DecimalType(20, 0)
      case _ => sparkType(t)
    }
    val base = t.takeWhile(_ != '(')
    def args: Seq[Int] = t.dropWhile(_ != '(').stripPrefix("(")
      .stripSuffix(")").split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .map(_.toInt)
    base match {
      case "BIGINT" => LongType
      case "INT" | "INTEGER" | "MEDIUMINT" => IntegerType
      case "SMALLINT" => ShortType
      // tinyint(1) is NUMERIC in MySQL — (1) is only a display width
      // (auto_increment.test declares a tinyint(1) AUTO_INCREMENT key)
      case "TINYINT" => ByteType
      case "BOOL" | "BOOLEAN" => BooleanType // MySQL synonyms of TINYINT(1)
      case "YEAR" => ShortType
      // MySQL integer-width aliases (integer_range.test / issue1361)
      case "INT1" => ByteType
      case "INT2" => ShortType
      case "INT3" | "INT4" => IntegerType
      case "INT8" => LongType
      case "DOUBLE" | "REAL" => DoubleType
      case "FLOAT" => FloatType
      case "TEXT" | "VARCHAR" | "CHAR" | "LONGTEXT" | "MEDIUMTEXT" => StringType
      case "DECIMAL" | "NUMERIC" =>
        val p0 = args.headOption.getOrElse(10)
        if (p0 > 18) throw new UnsupportedOperationException(
          s"DECIMAL($p0,…): the engine supports precision 1..18 " +
            "(one 64-bit cell per value, the reference's cap)")
        DecimalType(p0, args.lift(1).getOrElse(0))
      case "DATE" => DateType
      case "DATETIME" | "TIMESTAMP" => TimestampType
      case "BLOB" | "VARBINARY" | "BINARY"
         | "LONGBLOB" | "MEDIUMBLOB" | "TINYBLOB" => BinaryType
      case "TINYTEXT" => StringType
      // Spark has no TIME-of-day type; the shim tier keeps TIME values
      // as 'HH:mm:ss' strings (functions.MySql.secToTime convention)
      case "TIME" => StringType
      case "BIT" => LongType // ≤63 bits (common_definitions.h:143)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE: unsupported column type '$other'")
    }
  }

  /** Roots of stores THIS runner created via CTAS (safe to delete on
    * DROP; caller-attached stores are never touched on disk). */
  private val ownedRoots = scala.collection.mutable.Map[String, String]()

  /** Spark type → the MySQL column type the reference's DDL would show
    * (SURVEY.md §1.2 type mapping, reversed). */
  private def mysqlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case StringType => "TEXT"
      case BooleanType => "TINYINT(1)"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case DateType => "DATE"
      case _: TimestampType | _: TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case other => other.sql
    }
  }

  /** Column type as DDL would render it: the DECLARED MySQL type when
    * the CREATE TABLE statement pinned one in metadata (e.g. `TINYINT
    * UNSIGNED`, which STORES as SMALLINT per §1.2), else the reverse
    * type mapping. */
  private def declaredType(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("graft.mysql.type"))
      f.metadata.getString("graft.mysql.type")
    else mysqlType(f.dataType)

  private def autoIncCol(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains("graft.mysql.autoinc") &&
      f.metadata.getBoolean("graft.mysql.autoinc")

  /** The column's declared DEFAULT literal (CREATE TABLE … DEFAULT x). */
  private def declaredDefault(f: org.apache.spark.sql.types.StructField)
      : Option[String] =
    if (f.metadata.contains("graft.mysql.default"))
      Some(f.metadata.getString("graft.mysql.default"))
    else None

  /** CHAR/VARCHAR declared length cap. */
  private def maxLenOf(f: org.apache.spark.sql.types.StructField)
      : Option[Long] =
    if (f.metadata.contains("graft.mysql.maxlen"))
      Some(f.metadata.getLong("graft.mysql.maxlen"))
    else None

  /** The value an insert that OMITS this column stores: the declared
    * DEFAULT if any, else (non-strict NOT NULL) the implicit default,
    * else NULL. */
  private def fillUnprovided(f: org.apache.spark.sql.types.StructField,
                             strict: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{expr, lit}
    declaredDefault(f) match {
      case Some(d) => expr(MySqlDialect.rewrite(d)).cast(f.dataType).as(f.name)
      case None if !strict && requiredCol(f) =>
        implicitDefault(f.dataType).cast(f.dataType).as(f.name)
      case None => lit(null).cast(f.dataType).as(f.name)
    }
  }

  /** Is the column NOT NULL? Checks BOTH the StructField flag and the
    * metadata twin — parquet reads mark every column nullable, so only
    * the metadata survives a store roundtrip. An AUTO_INCREMENT column
    * is exempt from the strict-mode checks: omitted/NULL values are
    * ASSIGNED, not rejected (auto_increment.test). */
  private def requiredCol(f: org.apache.spark.sql.types.StructField): Boolean =
    (!f.nullable || (f.metadata.contains("graft.mysql.notnull") &&
      f.metadata.getBoolean("graft.mysql.notnull"))) && !autoIncCol(f)

  /** Declared counter starts (`CREATE TABLE … AUTO_INCREMENT = n`),
    * stored as n−1 so the next assigned id is n. */
  private val autoIncBase = scala.collection.mutable.Map[String, Long]()

  /** Rows of a statement-local batch WITHOUT a Spark job: the optimizer
    * folds pure VALUES projections to a LocalRelation, whose physical
    * LocalTableScanExec serves `collect()` straight from driver memory.
    * None for file-backed or oversized plans (callers fall back to the
    * distributed path). This is the discriminator behind the
    * statement-tier fast paths below — an MTR replay runs thousands of
    * sub-second statements, and every avoidable job round-trip
    * (~50-100 ms of scheduler latency each) multiplies by that count. */
  private def localPlanRows(df: DataFrame, cap: Int = 65536)
      : Option[Array[org.apache.spark.sql.Row]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.length <= cap =>
        Some(df.collect())
      case _ => None
    }

  /** Table-max watermark for the auto-increment counter, keyed on the
    * store's [[DeltaStore.mutationEpoch]]: (epoch, max). Valid exactly
    * while the store is untouched; any mutation (our own append
    * included) bumps the epoch and invalidates. [[commitAutoMax]]
    * re-stamps the watermark AFTER a successful insert from the batch's
    * own ids, so consecutive INSERTs never re-aggregate the table. */
  private val autoIncSeen =
    scala.collection.mutable.Map[String, (Long, Long)]()
  private var pendingAutoMax: Option[(String, Long)] = None
  private def commitAutoMax(store: DeltaStore): Unit = {
    pendingAutoMax.foreach { case (k, m) =>
      if (stores.get(k).exists(_ eq store))
        autoIncSeen(k) = (store.mutationEpoch, m)
    }
    pendingAutoMax = None
  }

  /** AUTO_INCREMENT assignment for a statement batch: omitted/NULL id
    * values continue from max(declared start, existing ids, explicit
    * batch ids) in batch order (MySQL's counter semantics: an explicit
    * insert above the counter advances it —
    * init_auto_increment_value.test). Numbering is the same
    * per-partition-offset prefix sum as [[Dml.autoIncrement]] — NOT a
    * global row_number window — so an `INSERT … SELECT` whose source is
    * corpus-sized never serializes through one task: the only
    * cross-partition state is the per-partition row counts (≤ one row
    * per partition, folded by a bounded window and broadcast back).
    * The counts pass recomputes the batch subtree, which is safe here
    * because statement batches are deterministic plans (VALUES local
    * relations or SELECTs over the attached parquet stores — no
    * round-robin repartition anywhere on the path). */
  private def assignAutoInc(store: DeltaStore, aligned: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = store.read().schema
    schema.find(autoIncCol) match {
      case None => aligned
      case Some(f) =>
        pendingAutoMax = None
        val idAsLong = col(f.name).cast("long")
        val keyOpt = stores.find(_._2 eq store).map(_._1)
        val declared = keyOpt.flatMap(autoIncBase.get).getOrElse(0L)
        // the counter BEFORE the batch; explicit batch rows advance it
        // mid-stream below (MySQL's running-counter semantics). The
        // table max comes from the epoch-keyed watermark when the store
        // is untouched since the last insert — the common consecutive-
        // INSERT case — and from one aggregation otherwise.
        val tableMax = keyOpt.flatMap(autoIncSeen.get)
          .collect { case (ep, m) if ep == store.mutationEpoch => m }
          .getOrElse {
            val m = store.read().agg(coalesce(max(idAsLong), lit(0L)))
              .first().getLong(0)
            keyOpt.foreach(k => autoIncSeen(k) = (store.mutationEpoch, m))
            m
          }
        val start = Seq(declared, tableMax).max
        // ---- statement-local fast path ----
        // A VALUES batch is a LocalRelation: MySQL's sequential counter
        // runs directly over the driver rows — zero Spark jobs — and
        // provably equals the distributed prefix formulation below
        // (id_i = A_i + max(start, max_{explicit j≤i}(id_j − A_j)); the
        // window algebra was DERIVED from this sequential scan). The
        // cap/wrap semantics mirror the column-metadata logic of the
        // distributed branch line for line. Restricted to integral id
        // columns (decimal ids keep the distributed path's exact
        // cast-to-long overflow behavior).
        val integral = f.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        val localFast =
          if (!integral) None else localPlanRows(aligned)
        localFast match {
          case Some(rows) =>
            val idx = aligned.schema.fieldIndex(f.name)
            val zeroAssigns0 =
              !sessionSqlMode.contains("NO_AUTO_VALUE_ON_ZERO")
            val declaredMax: Option[java.math.BigDecimal] =
              if (f.metadata.contains("graft.mysql.max"))
                Some(new java.math.BigDecimal(
                  f.metadata.getString("graft.mysql.max")))
              else None
            val typ =
              if (f.metadata.contains("graft.mysql.type"))
                f.metadata.getString("graft.mysql.type")
              else ""
            val wrapCap: Option[java.math.BigDecimal] =
              if (declaredMax.isEmpty || !typ.endsWith("UNSIGNED")) None
              else if (typ.startsWith("MEDIUMINT"))
                Some(new java.math.BigDecimal(8388607))
              else if (typ.startsWith("INT"))
                Some(new java.math.BigDecimal(Int.MaxValue))
              else if (typ.startsWith("BIGINT"))
                Some(new java.math.BigDecimal(Long.MaxValue))
              else None
            var autos = 0L
            var bestExpl = Long.MinValue
            var anyExpl = false
            var anyAuto = false
            var newMax = tableMax
            val outRows = rows.map { r =>
              val v = r.get(idx)
              val vLong: Option[Long] = v match {
                case null => None
                case b: java.lang.Byte => Some(b.longValue)
                case s: java.lang.Short => Some(s.longValue)
                case i: java.lang.Integer => Some(i.longValue)
                case l: java.lang.Long => Some(l.longValue)
                case _ => None
              }
              val isAuto =
                vLong.isEmpty || (zeroAssigns0 && vLong.contains(0L))
              val outId: Any =
                if (!isAuto) {
                  anyExpl = true
                  bestExpl = math.max(bestExpl, vLong.get - autos)
                  newMax = math.max(newMax, vLong.get)
                  v
                } else {
                  anyAuto = true
                  autos += 1
                  val base = if (anyExpl) math.max(start, bestExpl)
                             else start
                  val raw = new java.math.BigDecimal(base)
                    .add(new java.math.BigDecimal(autos))
                  val capped = wrapCap match {
                    case Some(cap) =>
                      if (raw.compareTo(cap) > 0)
                        java.math.BigDecimal.ZERO
                      else raw
                    case None => declaredMax match {
                      case Some(dm) => raw.min(dm)
                      case None => raw
                    }
                  }
                  // typed value; out-of-range mirrors the distributed
                  // branch's non-ANSI decimal cast (null on overflow)
                  val lv: Option[Long] =
                    if (capped.compareTo(new java.math.BigDecimal(
                          Long.MaxValue)) > 0 ||
                        capped.compareTo(new java.math.BigDecimal(
                          Long.MinValue)) < 0) None
                    else Some(capped.longValueExact())
                  lv.foreach(l => newMax = math.max(newMax, l))
                  lv.map { l =>
                    f.dataType match {
                      case org.apache.spark.sql.types.ByteType =>
                        java.lang.Byte.valueOf(l.toByte)
                      case org.apache.spark.sql.types.ShortType =>
                        java.lang.Short.valueOf(l.toShort)
                      case org.apache.spark.sql.types.IntegerType =>
                        java.lang.Integer.valueOf(l.toInt)
                      case _ => java.lang.Long.valueOf(l)
                    }
                  }.orNull
                }
              org.apache.spark.sql.Row.fromSeq(
                r.toSeq.updated(idx, outId))
            }
            if (anyAuto) lastInsertId = start + 1
            pendingAutoMax = keyOpt.map(k => (k, newMax))
            import scala.jdk.CollectionConverters._
            return spark.createDataFrame(outRows.toList.asJava,
              org.apache.spark.sql.types.StructType(
                aligned.schema.fields.map(fld =>
                  if (fld.name == f.name) fld.copy(nullable = true)
                  else fld)))
          case None => ()
        }
        // NULL means "assign"; 0 too under MySQL's default sql_mode
        // (auto_increment.test) unless NO_AUTO_VALUE_ON_ZERO is set
        // (a session SET this runner tracks)
        val zeroAssigns = !sessionSqlMode.contains("NO_AUTO_VALUE_ON_ZERO")
        val isAuto =
          if (zeroAssigns) col(f.name).isNull || col(f.name) === lit(0)
          else col(f.name).isNull
        // MySQL assigns ids with ONE sequential counter: an auto row
        // takes counter+1, an explicit row lifts the counter to its
        // value if higher (auto_increment.test interleaves both). The
        // sequential scan distributes as a prefix computation:
        //   id_i = globalAutoCount_i
        //          + max(start, max_{explicit j<=i}(id_j - globalAutoCount_j))
        // with the per-partition windows bounded to the batch and only
        // a partitions-count-sized stats frame crossing partitions.
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__pid")).orderBy(col("__mid"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val stamped = aligned
          .withColumn("__pid", spark_partition_id().cast("long"))
          .withColumn("__mid", monotonically_increasing_id())
          .withColumn("__isauto", isAuto)
          .withColumn("__lauto",
            sum(when(col("__isauto"), 1L).otherwise(0L)).over(wAll))
          .withColumn("__lpref",
            max(when(!col("__isauto"), idAsLong - col("__lauto")))
              .over(wAll))
        // the cross-partition prefix is a partitions-count-sized
        // problem: collect the per-partition (autoCount, explicitMax)
        // stats — the same bounded collect zipWithIndex performs — and
        // fold running offsets driver-side. No single-partition
        // window, no exchange of batch rows.
        val perPart = stamped.groupBy(col("__pid"))
          .agg(sum(when(col("__isauto"), 1L).otherwise(0L)).as("__atot"),
            max(when(!col("__isauto"), idAsLong - col("__lauto")))
              .as("__pmax"))
          .collect().sortBy(_.getLong(0))
        // LAST_INSERT_ID bookkeeping: any auto rows in this batch set
        // it to the first generated value (the counter before + 1)
        if (perPart.exists(_.getLong(1) > 0))
          lastInsertId = start + 1
        var aoff = 0L
        var best = Long.MinValue
        val statsRows = perPart.map { r =>
          val out = (r.getLong(0), aoff, math.max(start, best))
          if (!r.isNullAt(2))
            best = math.max(best, r.getLong(2) - aoff)
          aoff += r.getLong(1)
          out
        }
        val stats = spark.createDataFrame(statsRows.toSeq)
          .toDF("__pid", "__aoff", "__carry")
        // the counter SATURATES at the column's max (MySQL semantics:
        // an exhausted counter re-issues the max value and the insert
        // fails as a DUPLICATE KEY — auto_increment.test pins 1062 for
        // tinyint/int/bigint exhaustion). Arithmetic rides DECIMAL so
        // bigint-max + 1 cannot wrap.
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val rawId = (col("__lauto").cast(dec) + col("__aoff").cast(dec))
          .plus(greatest(col("__carry"),
            coalesce(col("__lpref") - col("__aoff"), lit(Long.MinValue)))
            .cast(dec))
        val cappedId =
          if (f.metadata.contains("graft.mysql.max")) {
            val declared = new java.math.BigDecimal(
              f.metadata.getString("graft.mysql.max"))
            // UNSIGNED counter overflow, reference parity
            // (auto_increment.test, whose edited unsigned blocks pin
            // the engine's issue-#1236 family): the MEDIUMINT/INT/
            // BIGINT UNSIGNED auto-counters evaluate in the SIGNED
            // range of their width — one step past the signed max
            // WRAPS to 0 (explicit signed-max id → next auto row
            // stores 0 → the one after is Duplicate entry '0').
            // TINYINT/SMALLINT UNSIGNED (and every signed type)
            // saturate at the declared max instead, re-issuing it so
            // the NEXT insert is the 1062 duplicate.
            val t =
              if (f.metadata.contains("graft.mysql.type"))
                f.metadata.getString("graft.mysql.type")
              else ""
            val wrapCap: Option[java.math.BigDecimal] =
              if (!t.endsWith("UNSIGNED")) None
              else if (t.startsWith("MEDIUMINT"))
                Some(new java.math.BigDecimal(8388607))
              else if (t.startsWith("INT"))
                Some(new java.math.BigDecimal(Int.MaxValue))
              else if (t.startsWith("BIGINT"))
                Some(new java.math.BigDecimal(Long.MaxValue))
              else None
            wrapCap match {
              case Some(cap) =>
                when(rawId > lit(cap).cast(dec),
                  lit(java.math.BigDecimal.ZERO).cast(dec))
                  .otherwise(rawId)
              case None => least(rawId, lit(declared).cast(dec))
            }
          } else rawId
        val wide = stamped
          .join(broadcast(stats), Seq("__pid"))
          .withColumn(f.name,
            when(col("__isauto"), cappedId).otherwise(idAsLong.cast(dec)))
        wide
          .withColumn(f.name, col(f.name).cast(f.dataType))
          // the USING-join moved __pid first; restore the batch's
          // column order exactly (store appends are positional)
          .select(aligned.columns.map(col): _*)
    }
  }

  private def schemaOf(table: String): org.apache.spark.sql.types.StructType =
    stores.get(table.toLowerCase).map(_.read().schema).getOrElse {
      if (spark.catalog.tableExists(table)) spark.table(table).schema
      else throw new IllegalArgumentException(
        s"table '$table' is neither attached to this runner nor a " +
          "registered view")
    }

  // SELECT ROUGHLY (core/engine_execute.cpp:450 of the reference routes
  // the ROUGHLY keyword into rough_query mode; temp_table_roughquery.cpp
  // answers the aggregates from Knowledge-Grid metadata alone).
  private val RoughlyRe: Regex =
    """(?is)^\s*SELECT\s+ROUGHLY\s+(.*?)\s+FROM\s+`?(\w+)`?\s*(?:WHERE\s+(.*?))?\s*;?\s*$""".r
  private val RoughCountRe: Regex =
    """(?i)^COUNT\(\s*\*\s*\)(?:\s+AS\s+`?(\w+)`?)?$""".r
  private val RoughFnRe: Regex =
    """(?i)^(MIN|MAX|SUM|AVG)\(\s*`?(\w+)`?\s*\)(?:\s+AS\s+`?(\w+)`?)?$""".r
  private val RoughBetweenRe: Regex =
    """(?is)^`?(\w+)`?\s+BETWEEN\s+(-?[0-9.]+)\s+AND\s+(-?[0-9.]+)$""".r
  // one-sided / equality comparisons reduce to BETWEEN with an infinite
  // (or degenerate) bound — the same tri-state pack walk
  private val RoughCmpRe: Regex =
    """(?is)^`?(\w+)`?\s*(>=|<=|=)\s*(-?[0-9.]+)$""".r
  private val RoughPrefixRe: Regex =
    """(?is)^`?(\w+)`?\s+LIKE\s+'([^'%_]*)%'$""".r

  /** `SELECT ROUGHLY aggs FROM t [WHERE …]` — metadata-only aggregates
    * over an attached packed table: COUNT(*)/MIN/MAX/SUM/AVG answered
    * purely from the driver-resident stats sidecar (zero data files
    * touched, no Spark job); a `col BETWEEN lo AND hi` or
    * `col LIKE 'prefix%'` WHERE routes COUNT(*) through the tri-state
    * hybrid path (ALL packs from metadata, SOME packs scanned with
    * pruning, NONE untouched). Per the DPN contract the answers are
    * EXACT, not approximate — the sidecar is metadata-complete for these
    * shapes. The answer is a one-row local relation: the driver already
    * holds it. */
  private def runRoughly(aggList: String, table: String,
                         whereClause: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = packedTables.getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(
        s"SELECT ROUGHLY: table '$table' is not attached as a packed " +
          "store (StatementRunner.attachPacked over a " +
          "StatsSidecar.writeWithStats layout)"))
    val specs: Seq[(String, String, String)] =
      aggList.split(",").map(_.trim).toSeq.map {
        case RoughCountRe(alias) =>
          ("count", "", Option(alias).getOrElse("count_star"))
        case RoughFnRe(fn, c, alias) =>
          (fn.toLowerCase, c, Option(alias).getOrElse(s"${fn.toLowerCase}_$c"))
        case other => throw new UnsupportedOperationException(
          "SELECT ROUGHLY supports COUNT(*) and MIN/MAX/SUM/AVG(column) " +
            s"aggregates only; got '$other'")
      }
    val snap = StatsSidecar.snapshot(spark, path)
    def requireStats(cols: Seq[String]): Unit = {
      val missing = cols.distinct.filterNot(snap.columns)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"SELECT ROUGHLY: no sidecar stats for column(s) " +
          missing.mkString(", "))
    }
    def oneRow(cells: Seq[(String, DataType, Any)]): DataFrame =
      spark.createDataFrame(
        java.util.Collections.singletonList(Row.fromSeq(cells.map(_._3))),
        StructType(cells.map { case (a, t, _) => StructField(a, t) }))
    Option(whereClause).map(_.trim).filter(_.nonEmpty) match {
      case None =>
        val needed = specs.collect { case (_, c, _) if c.nonEmpty => c }.distinct
        requireStats(needed)
        if (snap.columns.isEmpty) throw new IllegalStateException(
          s"SELECT ROUGHLY: empty stats sidecar for '$table'")
        val per = (if (needed.nonEmpty) needed else Seq(snap.columns.head))
          .map(c => c -> snap.agg(c)).toMap
        val total = per.values.head.nRows
        def dbl(v: Option[Double]): Any = v.map(Double.box).orNull
        oneRow(specs.map {
          case ("count", _, a) => (a, LongType, total)
          case ("min", c, a) => (a, DoubleType, dbl(per(c).minV))
          case ("max", c, a) => (a, DoubleType, dbl(per(c).maxV))
          case ("sum", c, a) => (a, DoubleType, dbl(per(c).sumV))
          case ("avg", c, a) =>
            val r = per(c)
            val nonNull = r.nRows - r.nNulls
            (a, DoubleType,
              if (nonNull == 0L) null else dbl(r.sumV.map(_ / nonNull)))
        })
      case Some(w) =>
        if (specs.exists(_._1 != "count"))
          throw new UnsupportedOperationException(
            "SELECT ROUGHLY with a WHERE clause answers COUNT(*) only " +
              "(the hybrid rough+exact count); other aggregates need the " +
              "full query path")
        // an empty table counts 0 for any column
        def counted(c: String)(n: => Long): Long = {
          if (snap.columns.nonEmpty) requireStats(Seq(c))
          n
        }
        val n = w match {
          case RoughBetweenRe(c, lo, hi) => counted(c)(
            StatsSidecar.countBetween(spark, path, c, lo.toDouble, hi.toDouble))
          case RoughCmpRe(c, op, v) => counted(c)(op match {
            case ">=" => StatsSidecar.countBetween(spark, path, c,
              v.toDouble, Double.PositiveInfinity)
            case "<=" => StatsSidecar.countBetween(spark, path, c,
              Double.NegativeInfinity, v.toDouble)
            case "=" => StatsSidecar.countBetween(spark, path, c,
              v.toDouble, v.toDouble)
          })
          case RoughPrefixRe(c, p) => counted(c)(
            StatsSidecar.countPrefix(spark, path, c, p))
          case _ => throw new UnsupportedOperationException(
            "SELECT ROUGHLY WHERE supports 'col BETWEEN lo AND hi', " +
              "'col >= v', 'col <= v', 'col = v', and " +
              "\"col LIKE 'prefix%'\" shapes only")
        }
        oneRow(specs.map { case (_, _, a) => (a, LongType, n) })
    }
  }

  // MySQL's LOAD DATA / INTO OUTFILE defaults: FIELDS TERMINATED BY
  // '\t', ENCLOSED BY '' (none — NUL in Spark's CSV spelling),
  // ESCAPED BY '\', LINES '\n' (issue1865 loads a bare tab file with
  // no FIELDS clause; export and load share the grammar so round
  // trips stay symmetric)
  private case class ExportOpts(delimiter: String = "\t",
                                quote: String = "\u0000",
                                escape: String = "\\", lineSep: String = "\n")

  /** Consume FIELDS/LINES option clauses from the head of `s`; returns
    * (opts, rest-of-string). Shared by both statement forms — MySQL uses
    * the identical grammar for load and export options. */
  /** MySQL enclosure grammar over the raw file, counting fields per
    * row: inside an enclosed field the quote char doubles to escape
    * (`""`), a single one CLOSES the field (so `"""` is
    * literal-quote-then-close — issue1263-3's malformed row), and a
    * record terminator inside an open enclosure is field data (rows
    * legally span lines — issue1263-2). A row with FEWER fields than
    * the column list is MySQL 1261 under strict mode. */
  private def validateEnclosedRows(path: String, delim: String,
      quote: String, lineSep: String, ncols: Int): Unit = {
    if (delim.length != 1 || quote.length != 1 || ncols <= 1) return
    val f = new java.io.File(path)
    if (!f.isFile) return
    val d = delim.charAt(0)
    val q = quote.charAt(0)
    val nl = if (lineSep == "\r\n") '\n' else lineSep.charAt(0)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f),
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      var fields = 1
      var inQuote = false
      var atStart = true
      var any = false
      var row = 1L
      def endRow(): Unit = {
        if (any && fields < ncols) throw new IllegalArgumentException(
          s"LOAD DATA: row $row does not contain data for all columns " +
            "(MySQL error 1261)")
        fields = 1; atStart = true; any = false; row += 1
      }
      var c = in.read()
      while (c >= 0) {
        val ch = c.toChar
        if (inQuote) {
          if (ch == q) {
            in.mark(1)
            val nx = in.read()
            if (nx != q) { // single quote closes; doubled is a literal
              inQuote = false
              if (nx >= 0) {
                val nc = nx.toChar
                if (nc == d) { fields += 1; atStart = true }
                else if (nc == nl) endRow()
              }
            }
          }
        } else if (atStart && ch == q) {
          inQuote = true; atStart = false; any = true
        } else if (ch == d) { fields += 1; atStart = true; any = true }
        else if (ch == nl) endRow()
        else { atStart = false; if (!ch.isWhitespace) any = true }
        c = in.read()
      }
      endRow()
    } finally in.close()
  }

  private def parseOpts(s: String): (ExportOpts, String) = {
    var rest = s
    var o = ExportOpts()
    def eat(re: Regex)(f: String => Unit): Boolean =
      re.findPrefixMatchOf(rest) match {
        case Some(m) => f(m.group(1)); rest = rest.substring(m.end); true
        case None => false
      }
    val fields = """(?is)^\s*(?:FIELDS|COLUMNS)\b()""".r
    if (fields.findPrefixMatchOf(rest).isDefined) {
      rest = rest.replaceFirst("(?is)^\\s*(?:FIELDS|COLUMNS)\\b", "")
      // MySQL accepts the option string in single OR double quotes
      // (issue1153.test: `terminated by ";"`); an EMPTY enclosure means
      // no quoting — Spark's CSV reader spells that as the NUL char
      def noneMeansNul(v: String): String =
        if (v.isEmpty) "\u0000" else unescape(v)
      var progressed = true
      while (progressed) {
        progressed =
          eat("""(?is)^\s*TERMINATED\s+BY\s+'([^']*)'""".r)(v => o = o.copy(delimiter = unescape(v))) ||
          eat("""(?is)^\s*TERMINATED\s+BY\s+"([^"]*)"""".r)(v => o = o.copy(delimiter = unescape(v))) ||
          eat("""(?is)^\s*OPTIONALLY\s+ENCLOSED\s+BY\s+'([^']*)'""".r)(v => o = o.copy(quote = noneMeansNul(v))) ||
          eat("""(?is)^\s*OPTIONALLY\s+ENCLOSED\s+BY\s+"([^"]*)"""".r)(v => o = o.copy(quote = noneMeansNul(v))) ||
          eat("""(?is)^\s*ENCLOSED\s+BY\s+'([^']*)'""".r)(v => o = o.copy(quote = noneMeansNul(v))) ||
          eat("""(?is)^\s*ENCLOSED\s+BY\s+"([^"]*)"""".r)(v => o = o.copy(quote = noneMeansNul(v))) ||
          eat("""(?is)^\s*ESCAPED\s+BY\s+'([^']*)'""".r)(v => o = o.copy(escape = unescape(v))) ||
          eat("""(?is)^\s*ESCAPED\s+BY\s+"([^"]*)"""".r)(v => o = o.copy(escape = unescape(v)))
      }
    }
    eat("""(?is)^\s*LINES\s+TERMINATED\s+BY\s+'([^']*)'""".r)(v => o = o.copy(lineSep = unescape(v)))
    eat("""(?is)^\s*LINES\s+TERMINATED\s+BY\s+"([^"]*)"""".r)(v => o = o.copy(lineSep = unescape(v)))
    (o, rest)
  }

  /** Resolve `db.` qualifiers for databases created in this session.
    * The runner's bare-name namespace is the CURRENT database (plus the
    * seeded `test`), so `currentDb.t` and `test.t` address the attached
    * `t` directly; a qualifier naming any OTHER session database mangles
    * to the \w-safe token `{db}__{t}` — a distinct registry/view name,
    * so `test.t1` and `otherdb.t1` coexist (alter_table_v1.test creates
    * both and renames across them). Known boundary: a qualified ref to a
    * bare-created table issued under a DIFFERENT current database than
    * the one it was created in resolves to the mangled (absent) name —
    * full time-independent namespacing would need a real catalog.
    * Literal-aware scan: quoted strings/identifiers never rewritten. */
  private def stripDbPrefix(sql: String): String = {
    if (databases.isEmpty) return sql
    val out = new StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql(i)
      if (c == '\'' || c == '"' || c == '`') {
        out.append(c); i += 1
        while (i < n && sql(i) != c) { out.append(sql(i)); i += 1 }
        if (i < n) { out.append(c); i += 1 }
      } else if (Character.isLetter(c) || c == '_') {
        var j = i
        while (j < n && (Character.isLetterOrDigit(sql(j)) || sql(j) == '_'))
          j += 1
        val w = sql.substring(i, j)
        if (j < n && sql(j) == '.' && databases.contains(w.toLowerCase)
            && j + 1 < n && (Character.isLetter(sql(j + 1))
              || sql(j + 1) == '_' || sql(j + 1) == '`')) {
          val dbl = w.toLowerCase
          if (dbl == currentDb || dbl == "test") i = j + 1 // drop "db."
          else { out.append(dbl).append("__"); i = j + 1 } // mangle
        }
        else { out.append(w); i = j }
      } else { out.append(c); i += 1 }
    }
    val res = out.toString
    // MySQL reads `FROM db.t` with the IMPLICIT alias `t` — later bare
    // refs (`SELECT t1.* FROM bug21774_1.t1`, insert_select.test)
    // resolve against it. The mangled name loses that, so stamp the
    // alias back where no explicit one follows.
    val aliased =
      if (!res.contains("__")) res
      else databases.foldLeft(res) { (acc, db) =>
        if (db == currentDb || db == "test" || !acc.contains(db + "__")) acc
        else acc.replaceAll(
          "(?i)\\b(FROM|JOIN)\\s+(" +
            java.util.regex.Pattern.quote(db) + "__(\\w+))" +
            "(?=\\s*(?:[,);]|$)|\\s+(?:WHERE|ON|GROUP|ORDER|LIMIT|" +
            "HAVING|UNION|JOIN|LEFT|RIGHT|INNER|CROSS|STRAIGHT_JOIN|" +
            "SET|FOR|INTO)\\b)",
          "$1 $2 AS $3")
      }
    // under `USE db` (db ≠ test) a BARE table name denotes db.t — the
    // attach registry holds the mangled spelling, so rewrite table
    // positions whose bare name only resolves through the current db
    // (insert_select.test: `use bug21774_1; INSERT … SELECT t1.* FROM
    // t1`); FROM/JOIN positions also regain MySQL's implicit alias
    if (currentDb == "test") aliased
    else
      ("""(?i)\b(FROM|JOIN|INTO|TABLE|UPDATE)\s+(\w+)""" +
        """(?=\s*(?:[,();]|$)|\s+(?:WHERE|ON|GROUP|ORDER|LIMIT|HAVING|""" +
        """UNION|JOIN|LEFT|RIGHT|INNER|CROSS|STRAIGHT_JOIN|SET|FOR|""" +
        """SELECT|VALUES)\b)""").r
        .replaceAllIn(aliased, m => {
          val kw = m.group(1)
          val w = m.group(2)
          val mangled = s"${currentDb}__${w.toLowerCase}"
          if (stores.contains(w.toLowerCase) ||
              !stores.contains(mangled)) m.matched
          else java.util.regex.Matcher.quoteReplacement(
            if (kw.equalsIgnoreCase("FROM") || kw.equalsIgnoreCase("JOIN"))
              s"$kw $mangled AS $w"
            else s"$kw $mangled")
        })
  }

  /** MySQL identifiers may contain ANY character when backticked
    * (`#sql1`, `abc?def` — temporary.test, issue362) and `$` even
    * unquoted (issue222). The statement grammar here (and Spark's
    * unquoted form) is \w-only, so map offending identifiers to a
    * deterministic \w-safe spelling — same statement text, same name,
    * every time. */
  // sanitized-name memory: an identifier created BACKTICKED can be
  // referenced UNQUOTED later (issue362's `INSERT INTO abc?def`) —
  // remember original -> sanitized and rewrite bare occurrences too
  private val sanitizedNames =
    scala.collection.mutable.LinkedHashMap[String, String]()

  private def sanitizeIdentifiers(sql: String): String = {
    val quoted = """`([^`]*)`""".r.replaceAllIn(sql, m => {
      val name = m.group(1)
      if (name.matches("\\w+")) java.util.regex.Matcher
        .quoteReplacement(s"`$name`")
      // an EMPTY identifier is never legal (alter_table_v1.test's
      // `rename to ``` pins 1103) — keep it verbatim so the
      // statement fails downstream instead of minting a ghost name
      else if (name.isEmpty) "``"
      // the #mysql50# prefix is MySQL's reserved pre-5.1 upgrade
      // encoding — 5.7 rejects it as a table name (issue487 pins 1030)
      else if (name.startsWith("#mysql50#"))
        throw new IllegalArgumentException(
          s"invalid table name '${name.take(24)}' — the #mysql50# " +
            "prefix is reserved (MySQL error 1030/ER_WRONG_TABLE_NAME)")
      // a TRAILING space is illegal in any identifier (create_table
      // .test pins 1103 for `t1 ` and 1166 for `a `); interior spaces
      // stay legal
      else if (name.endsWith(" "))
        throw new IllegalArgumentException(
          s"incorrect name '${name.take(24)}' — identifiers cannot end " +
            "with a space (MySQL error 1103/1166)")
      else java.util.regex.Matcher.quoteReplacement(
        // ASCII-only mapping (regex \w is ASCII — a kept Unicode letter
        // would dodge every statement regex, issue362/issue1054) plus a
        // short hash so distinct originals that flatten to the same
        // ASCII skeleton (several all-CJK column names in one CREATE,
        // issue1054) stay distinct
        { val safe = "__q_" + name.map(c =>
            if ((c.isLetterOrDigit && c < 128) || c == '_') c else '_') +
            "_" + (name.hashCode & 0xffff).toHexString
          sanitizedNames(name) = safe
          s"`$safe`" })
    })
    // bare references to remembered weird names (longest first so a
    // name that prefixes another cannot steal its match)
    val bare = sanitizedNames.keys.toSeq.sortBy(-_.length)
      .foldLeft(quoted) { (acc, orig) =>
        if (!acc.contains(orig)) acc
        else {
          val out = new StringBuilder(acc.length)
          var i = 0
          val n = acc.length
          def word(ch: Char): Boolean =
            (ch.isLetterOrDigit && ch < 128) || ch == '_'
          while (i < n) {
            val c = acc(i)
            if (c == '\'' || c == '"' || c == '`') {
              val close = acc.indexOf(c, i + 1)
              val end = if (close < 0) n else close + 1
              out.append(acc.substring(i, end)); i = end
            } else if (acc.startsWith(orig, i) &&
                // word boundaries on both sides: a remembered `a b`
                // must not match inside "a between" — substitution
                // only where the original reads as a standalone token
                (i == 0 || !(word(acc(i - 1)) && word(orig.head))) &&
                (i + orig.length >= n ||
                  !(word(acc(i + orig.length)) && word(orig.last)))) {
              out.append(sanitizedNames(orig)); i += orig.length
            } else { out.append(c); i += 1 }
          }
          out.toString
        }
      }
    val quotedDone = bare
    if (!quotedDone.contains("$")) quotedDone
    else {
      // unquoted $-identifiers, outside string literals
      val out = new StringBuilder(quotedDone.length)
      var i = 0
      val n = quotedDone.length
      while (i < n) {
        val c = quotedDone(i)
        if (c == '\'' || c == '"') {
          val close = quotedDone.indexOf(c, i + 1)
          val end = if (close < 0) n else close + 1
          out.append(quotedDone.substring(i, end)); i = end
        } else if (c == '$' || (Character.isLetterOrDigit(c) || c == '_')) {
          var j = i
          while (j < n && (Character.isLetterOrDigit(quotedDone(j)) ||
            quotedDone(j) == '_' || quotedDone(j) == '$')) j += 1
          val w = quotedDone.substring(i, j)
          out.append(if (w.contains("$")) w.replace("$", "_dl_") else w)
          i = j
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
  }

  /** Execute one statement; always returns a DataFrame (query result,
    * or a one-row summary for LOAD/OUTFILE). */
  def run(sqlRaw: String): DataFrame = {
    val prevCoercion =
      spark.conf.getOption("spark.graft.mysqlCoercion.enabled")
    spark.conf.set("spark.graft.mysqlCoercion.enabled", "true")
    try runInner(sqlRaw)
    finally prevCoercion match {
      case Some(v) =>
        spark.conf.set("spark.graft.mysqlCoercion.enabled", v)
      case None =>
        spark.conf.unset("spark.graft.mysqlCoercion.enabled")
    }
  }

  private def runInner(sqlRaw: String): DataFrame = {
    // trigger DDL keeps its schema qualifiers verbatim (`ON db.t`,
    // `DROP TRIGGER db.name` — the wrong-schema error 1435 needs the
    // original spelling); everything else resolves through the
    // session-db mangling
    val pre =
      if ("""(?is)^\s*(?:CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?TRIGGER|DROP\s+TRIGGER)\b""".r
        .findFirstIn(sqlRaw).isDefined) sanitizeIdentifiers(sqlRaw)
      else stripDbPrefix(sanitizeIdentifiers(sqlRaw))
    // substitute @user_vars except where the statement DEFINES them
    // LOAD DATA's @vars are per-row field bindings, not session refs
    // routine/trigger DDL keeps its body text verbatim: @vars inside a
    // body resolve at FIRE time, not at CREATE time (trigger.test's
    // `SET @sum = @sum + NEW.amount`)
    // CALL keeps @var argument TEXT too: an OUT/INOUT parameter writes
    // back through the variable, so `CALL p(@v)` must not collapse to
    // `CALL p(3)` (trigger.test's p1/p2 NEW.i1 flow, procedure.test)
    val resolved0 =
      if (("""(?is)^\s*(SET|PREPARE|LOAD|CALL)\b""".r
        .findFirstIn(pre).isDefined) ||
        ("""(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?(FUNCTION|PROCEDURE|TRIGGER)\b""".r
          .findFirstIn(pre).isDefined)) pre
      else substituteUserVars(pre)
    // INFORMATION_SCHEMA queries (create_view.test,
    // different_charsets_a.test): materialize the catalog the runner
    // already tracks as session views and rewrite the qualified names
    val resolved1 = resolveInfoSchema(resolved0)
    // stored-function calls expand inline — but never inside the
    // statements that define or administer the functions themselves
    val resolvedF =
      if ("""(?is)^\s*(?:CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?(?:FUNCTION|PROCEDURE|TRIGGER)|DROP\s+(?:FUNCTION|PROCEDURE|TRIGGER)|SHOW\s+CREATE\s+(?:FUNCTION|PROCEDURE|TRIGGER)|CALL)\b""".r
        .findFirstIn(resolved1).isDefined) resolved1
      else expandStoredFuncs(resolved1)
    // SELECT-only: a hoist inside DML join text would disturb the
    // multi-table DML parsers, which re-read the raw relation names
    val resolved =
      if ("""(?is)^\s*(?:select|with|\()""".r
        .findFirstIn(resolvedF).isDefined) hoistOnSubqueries(resolvedF)
      else resolvedF
    // MySQL-parser shape checks Spark would accept:
    // an EMPTY backtick identifier is 1103 (alter_table_v1.test's
    // `rename to ```), and a bare `*` after other select items without
    // a table qualifier is 1064 (create_view.test's `SELECT 1, *`)
    if (!inStringLiteralFree(resolved, "``"))
      throw new IllegalArgumentException(
        "incorrect name: empty identifier (MySQL error 1103)")
    if (resolved.contains("::") && !inStringLiteralFree(resolved, "::"))
      throw new IllegalArgumentException(
        ":: is not MySQL cast syntax (MySQL error 1064)")
    // a bare == is not a MySQL operator (select_expressions.test)
    if (resolved.contains("==") && !inStringLiteralFree(resolved, "=="))
      throw new IllegalArgumentException(
        "== is not a MySQL operator (MySQL error 1064)")
    rejectOversizeIntArith(resolved)
    // MySQL caps a join at 61 tables (ER_TOO_MANY_TABLES, 1116 —
    // select_joins.test pins it with a 62-way self-join)
    if ("""(?i)\bSELECT\b""".r.findFirstIn(resolved).isDefined &&
        """(?i)\bJOIN\b""".r.findAllIn(resolved).size >= 61)
      throw new IllegalArgumentException(
        "too many tables; MySQL can only use 61 tables in a join " +
          "(MySQL error 1116)")
    // mixing explicit COLLATE clauses of equal precedence WITHIN one
    // CASE…END is ER_CANT_AGGREGATE_2COLLATIONS (case_when.test:
    // `CASE WHEN 1 THEN _latin1'a' COLLATE latin1_danish_ci ELSE
    // _latin1'a' COLLATE latin1_swedish_ci END` pins 1267; a statement
    // whose SEPARATE CASE expressions each carry one collation is
    // legal — the scope is the individual CASE block)
    if ("""(?i)\bCOLLATE\b""".r.findFirstIn(resolved).isDefined) {
      def mixed(span: String, op: String): Unit = {
        val collations = """(?i)\bCOLLATE\s+(\w+)""".r
          .findAllMatchIn(span).map(_.group(1).toLowerCase)
          .toSeq.distinct
        if (collations.size > 1)
          throw new IllegalArgumentException(
            s"illegal mix of collations (${collations.take(2)
              .mkString(", ")}) for operation '$op' (MySQL error 1267)")
      }
      val noStr = resolved.replaceAll("'(?:[^'\\\\]|\\\\.)*'", "''")
      """(?is)\bCASE\b(.*?)\bEND\b""".r.findAllMatchIn(noStr)
        .foreach(m => mixed(m.group(1), "case"))
      // sibling arguments of one function call mix the same way
      // (case_when.test `IFNULL('a' COLLATE x, 'b' COLLATE y)`)
      val opens = scala.collection.mutable.Stack[Int]()
      var ci = 0
      while (ci < noStr.length) {
        noStr(ci) match {
          case '(' => opens.push(ci)
          case ')' if opens.nonEmpty =>
            mixed(noStr.substring(opens.pop() + 1, ci), "function call")
          case _ =>
        }
        ci += 1
      }
    }
    if ("""(?is),\s*\*\s*(?:,|\bFROM\b)""".r
      .findFirstIn(resolved).isDefined &&
      !inStringLiteral(resolved,
        """(?is),\s*\*\s*(?:,|\bFROM\b)""".r
          .findFirstMatchIn(resolved).get.start))
      throw new IllegalArgumentException(
        "unqualified * must be the first select item (MySQL error 1064)")
    // LAST_INSERT_ID(): first auto id generated by the last insert
    // (update_v1.test uses it in WHERE)
    val resolvedLi =
      if ("""(?i)last_insert_id\s*\(\s*\)""".r
        .findFirstIn(resolved).isDefined)
        resolved.replaceAll("(?i)last_insert_id\\s*\\(\\s*\\)",
          lastInsertId.toString)
      else resolved
    // ROW_COUNT(): rows changed by the previous DML (insert.test)
    if ("""(?is)^\s*SELECT\s+ROW_COUNT\s*\(\s*\)\s*;?\s*$""".r
      .findFirstIn(resolved).isDefined) {
      import spark.implicits._
      return Seq(lastRowCount).toDF("row_count()")
    }
    // statement atomicity for trigger-bearing DML: MySQL rolls back
    // BOTH the target rows and every trigger side effect when a row
    // errors mid-statement (trigger.test's ER_BAD_NULL_ERROR golden
    // leaves t1 AND the audit table t2 untouched). Savepoints open on
    // all attached stores around the OUTERMOST DML only — statements a
    // trigger body issues run inside the same transaction.
    val needTxn = triggers.nonEmpty && dmlTxnDepth == 0 &&
      """(?is)^\s*(INSERT|UPDATE|DELETE|REPLACE)\b""".r
        .findFirstIn(resolvedLi).isDefined
    val df =
      if (!needTxn) dispatch(resolvedLi)
      else {
        dmlTxnDepth += 1
        val parts = stores.values.toSeq.distinct
        parts.foreach(_.beginTxn())
        try {
          val d = dispatch(resolvedLi)
          parts.foreach(_.commitTxn())
          d
        } catch {
          case e: Throwable =>
            parts.foreach(s => scala.util.Try(s.rollbackTxn()))
            stores.foreach { case (k, st) =>
              scala.util.Try(refreshTableView(k, st))
            }
            throw e
        } finally dmlTxnDepth -= 1
      }
    val dmlCols = Set("rows_inserted", "rows_updated", "rows_deleted",
      "rows_matched", "rows_loaded")
    df.columns.find(dmlCols) foreach { c =>
      scala.util.Try(df.select(c).first().get(0) match {
        case l: Long => lastRowCount = l
        case i: Int => lastRowCount = i.toLong
        case _ =>
      })
    }
    df
  }
  private var lastRowCount: Long = 0L
  // first auto-generated id of the LAST insert (MySQL LAST_INSERT_ID();
  // update_v1.test); assignAutoInc refreshes it from the per-partition
  // stats it already collects driver-side
  private var lastInsertId: Long = 0L

  private def dispatch(stmtText: String): DataFrame = stmtText match {
    case LoadRe(path, dupMode, table, tail) =>
      if (dupMode != null)
        throw new UnsupportedOperationException(
          s"LOAD DATA ${dupMode.toUpperCase}: duplicate-key modes need a " +
            "declared key — use Dml.replaceInto (REPLACE) or " +
            "Dml.appendStrict (reject) on the store directly")
      val skipLines = """(?is)\bIGNORE\s+(\d+)\s+LINES""".r
        .findFirstMatchIn(tail).map(_.group(1).toInt).getOrElse(0)
      val store = stores.getOrElse(table.toLowerCase,
        throw new IllegalArgumentException(
          s"LOAD DATA: table '$table' is not attached to this runner"))
      val (opts, rest) = parseOpts(IgnoreLinesRe.replaceAllIn(tail, ""))
      // trailing `(col|@var, …) [SET col = expr, …]` loads a column
      // subset (issue1865.test); @vars bind fields for the SET
      // expressions (issue1000.test); unlisted columns take
      // NULL/default through alignToSchema
      val ColsSet =
        """(?is)^(?:\(([^)]*)\)\s*)?(?:SET\s+(.+))?$""".r
      val colsSetOpt = ColsSet.findFirstMatchIn(rest.trim)
        .filter(m => m.group(1) != null || m.group(2) != null)
        .map(m => (Option(m.group(1)), Option(m.group(2))))
      if (rest.trim.nonEmpty && colsSetOpt.isEmpty)
        throw new UnsupportedOperationException(
          s"LOAD DATA: unsupported trailing clause: '${rest.trim.take(60)}'")
      val colListOpt = colsSetOpt.flatMap(_._1)
      // Spark's CSV reader auto-detects \n / \r\n and accepts any other
      // SINGLE-char record terminator via lineSep (issue1209's ';');
      // multi-char custom terminators stay export-only.
      if (opts.lineSep != "\n" && opts.lineSep != "\r\n"
          && opts.lineSep.length != 1)
        throw new UnsupportedOperationException(
          "LOAD DATA: LINES TERMINATED BY supports '\\n', '\\r\\n', or a " +
            "single character on the read path (Spark CSV lineSep limit)")
      val customSep =
        Some(opts.lineSep).filter(s => s != "\n" && s != "\r\n")
      val schema = store.read().schema
      // field slots: a real column parses with its table type; an @var
      // slot parses as text under a synthetic name for SET to consume
      val slots = colListOpt.map(splitTopLevel(_).map(_.trim).map { c =>
        if (c.startsWith("@")) Right("__v_" + c.drop(1))
        else Left(c.stripPrefix("`").stripSuffix("`"))
      })
      val parseSchema = slots match {
        case None => schema
        case Some(ss) => org.apache.spark.sql.types.StructType(ss.map {
          case Left(c) => schema(c)
          case Right(v) => org.apache.spark.sql.types.StructField(
            v, org.apache.spark.sql.types.StringType)
        })
      }
      // strict-mode enclosure validation (issue1263: an ODD stray
      // quote — `"""` — closes the field early, leaving the row short
      // of columns; MySQL rejects with 1261 where a permissive CSV
      // parse would null-pad). Streamed once on the driver — the same
      // sequential scan MySQL's own single-threaded LOAD performs;
      // the bulk load below stays the distributed CSV read.
      // LOAD DATA **LOCAL** downgrades malformed-input errors to
      // warnings (MySQL: the server cannot abort a client-side
      // transfer — issue1209's messy enclosed file loads with
      // warnings); only the server-side form hard-errors
      if (strictMode && skipLines == 0 &&
          """(?is)^\s*LOAD\s+DATA\s+LOCAL\b""".r
            .findFirstIn(stmtText).isEmpty &&
          """(?i)\bENCLOSED\s+BY\b""".r.findFirstIn(tail).isDefined)
        validateEnclosedRows(resolveReadPath(path), opts.delimiter,
          opts.quote, opts.lineSep, parseSchema.length)
      val isLocalLoad = """(?is)^\s*LOAD\s+DATA\s+LOCAL\b""".r
        .findFirstIn(stmtText).isDefined
      // TPC-H-style .tbl files carry a TRAILING delimiter — sniff the
      // first line; without the flag every row parses one column long
      // and rejects (unsigned_join.test's 1m_customer.tbl)
      val trailing = scala.util.Try {
        val src0 = scala.io.Source.fromFile(resolveReadPath(path))(
          scala.io.Codec.UTF8.onMalformedInput(
            java.nio.charset.CodingErrorAction.REPLACE))
        try src0.getLines().take(1).toSeq.headOption
          .exists(l => opts.delimiter.length == 1 &&
            l.endsWith(opts.delimiter) &&
            // n columns need n-1 separators; exactly n means one spare
            // trailing delimiter (a legitimately-empty last field would
            // leave the count at n-1)
            l.count(_ == opts.delimiter.charAt(0)) == parseSchema.length)
        finally src0.close()
      }.getOrElse(false)
      val res = CsvLoader.load(spark, resolveReadPath(path), parseSchema,
        delimiter = opts.delimiter, quote = opts.quote,
        trailingDelimiter = trailing,
        escape = opts.escape, skipLines = skipLines, lineSep = customSep,
        // MySQL stores a prefix-parse (warning 1366) for a bad numeric
        // FIELD instead of rejecting the row — LOCAL transfers always,
        // non-strict sessions too (issue1153's 'null' → 0)
        looseNumerics = isLocalLoad || !strictMode,
        // an EXPLICIT non-empty ENCLOSED BY clause: the unenclosed
        // word NULL reads as NULL (MySQL default enclosure is empty --
        // the rule never fires without the clause)
        nullWord = opts.quote != "\u0000" &&
          """(?i)\bENCLOSED\s+BY\b""".r.findFirstIn(tail).isDefined,
        // LOCAL/non-strict loads normalize row width instead of
        // rejecting (warnings 1261/1262 -- issue1209's ragged records)
        padRows = isLocalLoad || !strictMode)
      val clean = (slots match {
        case None if colsSetOpt.flatMap(_._2).isEmpty => None
        // a SET clause WITHOUT a column list applies over the full
        // positional parse (issue1153's `set a = @var1/2`)
        case None => Some(schema.map(f =>
          Left(f.name): Either[String, String]).toSeq)
        case some => some
      }) match {
        case None => res.clean
        case Some(ss) =>
          // @refs bound by the column list become synthetic field
          // columns; any OTHER @ref is a session user variable
          val fieldVars = ss.collect { case Right(v) => v }.toSet
          val setAssigns = colsSetOpt.flatMap(_._2).toSeq
            .flatMap(splitTopLevel(_)).map { a =>
              val i = a.indexOf('=')
              if (i < 0) throw new IllegalArgumentException(
                s"LOAD DATA SET: malformed assignment '$a'")
              val tgt = a.substring(0, i).trim
                .stripPrefix("`").stripSuffix("`")
              val bound = """@(\w+)""".r.replaceAllIn(
                a.substring(i + 1).trim, m =>
                  if (fieldVars.contains("__v_" + m.group(1)))
                    "__v_" + m.group(1)
                  else java.util.regex.Matcher.quoteReplacement(
                    userVars.getOrElse(m.group(1).toLowerCase, "NULL")))
              val rhs = MySqlDialect.rewrite(bound)
              (tgt, rhs)
            }
          val withSets = setAssigns.foldLeft(res.clean) { case (df, (t, r)) =>
            df.withColumn(t, org.apache.spark.sql.functions.expr(r))
          }
          val provided = (ss.collect { case Left(c) => c } ++
            setAssigns.map(_._1)).distinct
          val projected = withSets.select(provided.map(
            org.apache.spark.sql.functions.col): _*)
          assignAutoInc(store, alignToSchema(projected,
            provided.mkString(","), schema, strict = false))
      }
      val loaded = clean.count()
      val rejected = res.rejects.count()
      store.append(clean)
      refreshTableView(table, store)
      import spark.implicits._
      Seq((table, loaded, rejected))
        .toDF("table_name", "rows_loaded", "rows_rejected")

    case RoughlyRe(aggList, table, whereClause) =>
      runRoughly(aggList, table, whereClause)

    case InsertOnDupRe(table, colList, tuples, updateList) =>
      runInsertOnDup(table, colList, tuples, updateList)

    case InsertIgnoreRe(table, colList, tuples) =>
      runInsertIgnore(table, colList, tuples)

    case InsertRe(table, colList, tuples) =>
      runInsert(table, colList, tuples)

    case InsertSetRe(table, setList) =>
      runInsertSet(table, setList)

    case InsertSelectOnDupRe(table, colList, select, updateList) =>
      runInsertSelectOnDup(table, colList, select, updateList)

    case InsertSelectRe(table, colList, select) =>
      runInsertSelect(table, colList, select)

    case ReplaceRe(table, colList, tuples) =>
      runReplace(table, colList, tuples)

    case ReplaceSetRe(table, setList) =>
      runReplaceSet(table, setList)

    case ReplaceSelectRe(table, colList, select) =>
      runReplaceSelect(table, colList, select)

    case AlterAddPkRe(table, cols) =>
      import spark.implicits._
      val keys = splitTopLevel(cols).map(_.stripPrefix("`").stripSuffix("`"))
      declarePrimaryKey(table, keys)
      Seq((table, s"PRIMARY KEY (${keys.mkString(", ")})"))
        .toDF("table_name", "status")

    case AlterAutoIncRe(table, n) =>
      import spark.implicits._
      attachedStore(table)
      autoIncBase(table.toLowerCase) = n.toLong - 1
      Seq((table, s"AUTO_INCREMENT=$n")).toDF("table_name", "status")

    case AlterEngineRe(table, engine) =>
      import spark.implicits._
      attachedStore(table)
      requireKnownEngine(engine)
      tableEngines(table.toLowerCase) = engine.toUpperCase
      Seq((table, s"ENGINE=$engine")).toDF("table_name", "status")

    case AlterAddIndexRe(table, uniq, name, cols) =>
      import spark.implicits._
      attachedStore(table)
      val kind =
        if (uniq == null) "secondary" else uniq.trim.toUpperCase
      if (engineOf(table) == "TIANMU") rejectTianmuIndex(kind)
      recordIndex(table, if (name.isEmpty) s"idx_auto" else name, kind)
      Seq((table, s"$kind INDEX (${cols.trim}) accepted (metadata only)"))
        .toDF("table_name", "status")

    case AlterDropIndexRe(table, index) =>
      import spark.implicits._
      attachedStore(table)
      if (engineOf(table) == "TIANMU")
        rejectTianmuIndex(indexDefs.get(table.toLowerCase)
          .flatMap(_.get(index.toLowerCase)).getOrElse("secondary"))
      indexDefs.get(table.toLowerCase).foreach(_.remove(index.toLowerCase))
      Seq((table, s"INDEX $index dropped (metadata only)"))
        .toDF("table_name", "status")

    case AlterRenameIndexRe(table, oldName, newName) =>
      import spark.implicits._
      attachedStore(table)
      if (engineOf(table) == "TIANMU")
        rejectTianmuIndex(indexDefs.get(table.toLowerCase)
          .flatMap(_.get(oldName.toLowerCase)).getOrElse("secondary"))
      indexDefs.get(table.toLowerCase).foreach { m =>
        m.remove(oldName.toLowerCase).foreach(k =>
          m(newName.toLowerCase) = k)
      }
      Seq((table, s"INDEX $oldName renamed to $newName"))
        .toDF("table_name", "status")

    case AlterAddRe(table, colName, colType, default, afterCol, first) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val store = attachedStore(table)
      if (store.read().columns.exists(_.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(
          s"ALTER TABLE: duplicate column name '$colName' " +
            "(MySQL error 1060)")
      // parse through the CREATE-tier column grammar so the new column
      // carries the same metadata a CREATE would stamp — UNSIGNED
      // bounds, defaults, BIT width (unsigned_type.test ALTERs unsigned
      // columns on and then pins their 1264 range rejections)
      val field = parseColumnDef(
        s"`$colName` $colType" +
          (if (default != null) s" DEFAULT $default" else ""),
        tianmu = tableEngines.getOrElse(table.toLowerCase, "TIANMU")
          .equalsIgnoreCase("TIANMU")) match {
        case Left(f) => f
        case Right(_) => org.apache.spark.sql.types
          .StructField(colName, sparkType(colType))
      }
      // NOT NULL without DEFAULT backfills existing rows with the
      // type's IMPLICIT default — '' for strings, 0 for numerics —
      // not NULL (alter_column.test's ttb1 golden pins the empty
      // string; MySQL ALGORITHM=COPY does the same)
      val notNull = default == null &&
        """(?is)\bNOT\s+NULL\b""".r.findFirstIn(stmtText).isDefined
      val d =
        if (default != null) org.apache.spark.sql.functions
          .expr(MySqlDialect.rewrite(default))
        else if (notNull) field.dataType match {
          case org.apache.spark.sql.types.StringType =>
            org.apache.spark.sql.functions.lit("")
          case _: org.apache.spark.sql.types.NumericType =>
            org.apache.spark.sql.functions.lit(0)
          case _ => org.apache.spark.sql.functions.lit(null)
        }
        else org.apache.spark.sql.functions.lit(null)
      store.rewriteWith(df => df.select(
        (df.columns.map(col).toSeq :+
          d.cast(field.dataType).as(colName, field.metadata)): _*))
      // `AFTER col` / `FIRST` place the new column by ordinal
      // (alter_column.test:30-31 pins both; reference
      // tianmu_table.h:73-75 rebuilds the attribute vector in the
      // declared order)
      if (afterCol != null) {
        val cols = store.read().columns.filterNot(_ == colName)
        val idx = cols.indexWhere(_.equalsIgnoreCase(afterCol))
        if (idx >= 0) {
          val order = (cols.take(idx + 1) :+ colName) ++ cols.drop(idx + 1)
          store.rewriteWith(df => df.select(order.map(col).toIndexedSeq: _*))
        }
      } else if (first != null) {
        val cols = store.read().columns.filterNot(_ == colName)
        store.rewriteWith(df =>
          df.select((colName +: cols.toSeq).map(col): _*))
      }
      refreshTableView(table, store)
      Seq((table, s"ADD COLUMN $colName")).toDF("table_name", "status")

    case AlterSetDefaultRe(table, colName, defaultVal) =>
      import spark.implicits._
      val store = attachedStore(table)
      if (!store.read().columns.exists(_.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(
          s"ALTER TABLE: unknown column '$colName'")
      // invalid defaults are 1067 here too (create_table.test ALTERs
      // an over-length default onto a VARCHAR(5))
      if (defaultVal != null && !defaultVal.trim.equalsIgnoreCase("NULL")) {
        val f = store.read().schema.find(
          _.name.equalsIgnoreCase(colName)).get
        val d = defaultVal.trim
        maxLenOf(f).foreach { cap =>
          if (d.startsWith("'") &&
              d.stripPrefix("'").stripSuffix("'").length > cap)
            throw new IllegalArgumentException(
              s"ALTER TABLE: invalid default for '$colName' — string " +
                s"longer than $cap (MySQL error 1067)")
        }
        mysqlBounds(f).foreach { case (lo, hi) =>
          scala.util.Try(BigDecimal(d)).toOption.foreach { v =>
            if (v < lo || v > hi) throw new IllegalArgumentException(
              s"ALTER TABLE: invalid default for '$colName' — $d " +
                s"outside [$lo, $hi] (MySQL error 1067)")
          }
        }
      }
      store.rewriteWith { df =>
        df.select(df.schema.map { f =>
          if (!f.name.equalsIgnoreCase(colName)) org.apache.spark.sql
            .functions.col(f.name)
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val meta =
              if (defaultVal == null)
                mb.remove("graft.mysql.default").build()
              else mb.putString("graft.mysql.default",
                defaultVal.trim).build()
            org.apache.spark.sql.functions.col(f.name).as(f.name, meta)
          }
        }.toSeq: _*)
      }
      refreshTableView(table, store)
      Seq((table, s"DEFAULT of $colName " +
        (if (defaultVal == null) "dropped" else s"set to $defaultVal")))
        .toDF("table_name", "status")

    case AlterDropPkRe(table) =>
      import spark.implicits._
      attachedStore(table)
      primaryKeys.remove(table.toLowerCase)
      Seq((table, "PRIMARY KEY dropped")).toDF("table_name", "status")

    case AlterOrderByRe(table, keys) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.expr
      val store = attachedStore(table)
      store.rewriteWith(df => df.orderBy(splitTopLevel(keys).map(k =>
        expr(MySqlDialect.rewrite(k.trim))): _*))
      refreshTableView(table, store)
      Seq((table, s"rows ordered by ${keys.trim}"))
        .toDF("table_name", "status")

    case PrepareRe(name, text) =>
      import spark.implicits._
      prepared(name.toLowerCase) = unescape(
        text.substring(1, text.length - 1))
      Seq((name, "statement prepared")).toDF("name", "status")

    case ExecuteRe(name) =>
      prepared.get(name.toLowerCase) match {
        case Some(text) => run(text)
        case None => throw new IllegalArgumentException(
          s"EXECUTE: unknown prepared statement '$name' (MySQL 1243)")
      }

    case DeallocRe(name) =>
      import spark.implicits._
      if (prepared.remove(name.toLowerCase).isEmpty)
        throw new IllegalArgumentException(
          s"DEALLOCATE PREPARE: unknown statement '$name' (MySQL 1243)")
      Seq((name, "deallocated")).toDF("name", "status")

    // guard: a lone action whose type args contain a comma
    // (MODIFY c DECIMAL(5,2)) must fall through to its own handler
    case AlterMultiRe(table, actions)
        if splitTopLevel(actions).count(_.trim.nonEmpty) >= 2 =>
      import spark.implicits._
      attachedStore(table)
      var current = table
      val rawParts = splitTopLevel(actions).map(_.trim).filter(_.nonEmpty)
      // an ORDER BY action's key list is itself comma-separated — it
      // consumes every remaining part (alter_table_v1.test)
      val parts = rawParts.indexWhere(_.toUpperCase.startsWith("ORDER BY"))
        match {
        case -1 => rawParts
        case i => rawParts.take(i) :+ rawParts.drop(i).mkString(", ")
      }
      val results = parts
        .map { act =>
          val up = act.toUpperCase
          if (up.startsWith("ALGORITHM")) {
            // the engine rebuilds tables by COPY; INPLACE/INSTANT are
            // the reference's unsupported-algorithm error (issue1034)
            if (up.contains("INPLACE") || up.contains("INSTANT"))
              throw new UnsupportedOperationException(
                "ALTER TABLE: ALGORITHM=INPLACE/INSTANT is not " +
                  "supported; this engine rebuilds by COPY " +
                  "(MySQL error 1846)")
            "noop"
          } else if (up.startsWith("LOCK")) "noop"
          else if (up.startsWith("ORDER BY")) {
            // physical row reorder (alter_table_v1.test)
            import org.apache.spark.sql.functions.expr
            val keys = splitTopLevel(act.substring(8)).map(_.trim)
            attachedStore(current).rewriteWith(df =>
              df.orderBy(keys.map(k => expr(MySqlDialect.rewrite(k))): _*))
            attachedStore(current).read().createOrReplaceTempView(current)
            "ordered"
          } else {
            // `RENAME x` mid-list retargets subsequent actions
            run(s"ALTER TABLE $current $act").collect()
            """(?is)^RENAME\s+(?:TO\s+)?`?(\w+)`?$""".r
              .findFirstMatchIn(act.trim)
              .foreach(m => current = m.group(1))
            "done"
          }
        }
      Seq((table, s"${results.size} alter action(s)"))
        .toDF("table_name", "status")

    case AlterDropRe(table, colName) =>
      import spark.implicits._
      val store = attachedStore(table)
      if (!store.read().columns.contains(colName))
        throw new IllegalArgumentException(
          s"ALTER TABLE: unknown column '$colName'")
      store.alterDropColumn(colName)
      refreshTableView(table, store)
      Seq((table, s"DROP COLUMN $colName")).toDF("table_name", "status")

    case AlterModifyRe(table, colName, colType) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, count, length, lit, when}
      val store = attachedStore(table)
      if (!store.read().columns.contains(colName))
        throw new IllegalArgumentException(
          s"ALTER TABLE: unknown column '$colName'")
      // parse the full MODIFY tail as a column definition so UNSIGNED,
      // NOT NULL, and length caps carry their metadata twins
      val f = parseColumnDef(s"$colName $colType") match {
        case Left(field) => field
        case Right(_) => throw new IllegalArgumentException(
          s"ALTER TABLE MODIFY: unparseable type '$colType'")
      }
      // strict-mode data validation BEFORE the retype (the reference
      // errors when existing rows violate the new type — e.g.
      // bigint_unsigned.test MODIFYing negative data to UNSIGNED)
      val src = store.read()
      val viol = src.agg(count(when(
        mysqlBounds(f).map { case (lo, hi) =>
          val x = col(colName)
            .cast(org.apache.spark.sql.types.DecimalType(38, 4))
          col(colName).isNotNull &&
            (x < lit(lo.bigDecimal) || x > lit(hi.bigDecimal) || x.isNull)
        }.getOrElse(lit(false)) ||
        maxLenOf(f).map(cap =>
          length(col(colName).cast("string")) > cap).getOrElse(lit(false)) ||
        (if (requiredCol(f)) col(colName).isNull else lit(false)),
        1))).first().getLong(0)
      if (viol > 0) throw new IllegalArgumentException(
        s"ALTER TABLE MODIFY: $viol existing row(s) violate the new " +
          s"type '$colType' for '$colName' (MySQL strict mode, 1264/1048/1406)")
      store.rewriteWith { df =>
        df.select(df.schema.map { g =>
          if (g.name == colName)
            col(colName).cast(f.dataType).as(colName, f.metadata)
          else col(g.name)
        }.toSeq: _*)
      }
      refreshTableView(table, store)
      Seq((table, s"MODIFY COLUMN $colName $colType"))
        .toDF("table_name", "status")

    case AlterChangeRe(table, oldCol, newCol, colType) =>
      import spark.implicits._
      val store = attachedStore(table)
      if (!store.read().columns.contains(oldCol))
        throw new IllegalArgumentException(
          s"ALTER TABLE: unknown column '$oldCol'")
      store.alterRenameColumn(oldCol, newCol, Some(sparkType(colType)))
      // a renamed PK component follows the rename
      primaryKeys.get(table.toLowerCase).foreach { ks =>
        primaryKeys(table.toLowerCase) =
          ks.map(k => if (k == oldCol) newCol else k)
      }
      refreshTableView(table, store)
      Seq((table, s"CHANGE COLUMN $oldCol $newCol $colType"))
        .toDF("table_name", "status")

    case AlterKeysToggleRe(table) =>
      import spark.implicits._
      attachedStore(table) // existence check; keys are inert metadata
      Seq((table, "keys toggle accepted (no B-trees — the pack " +
        "sidecar prunes)")).toDF("table_name", "status")

    case AlterCharsetRe(table, clause) =>
      import spark.implicits._
      attachedStore(table) // table must exist; charset is presentation
      Seq((table, s"${clause.trim.take(48)} accepted (engine is " +
        "UTF-8 native)")).toDF("table_name", "status")

    case RenameTableRe(pairs) =>
      import spark.implicits._
      val done = splitTopLevel(pairs).map(_.trim).map { p =>
        val m = """(?is)^`?(\w+)`?\s+TO\s+`?(\w+)`?$""".r
          .findFirstMatchIn(p).getOrElse(
            throw new IllegalArgumentException(
              s"RENAME TABLE: malformed pair '$p' (MySQL error 1064)"))
        dispatch(s"ALTER TABLE `${m.group(1)}` RENAME TO `${m.group(2)}`")
        (m.group(1), m.group(2))
      }
      done.toDF("from", "to")

    case AlterRenameRe(table, newName) =>
      import spark.implicits._
      val key = table.toLowerCase
      val nk = newName.toLowerCase
      if (!stores.contains(key))
        throw new IllegalArgumentException(
          s"ALTER TABLE RENAME: '$table' is not attached to this runner")
      // target-exists check FIRST: MySQL's 1050 leaves the source
      // untouched, so the failed rename must not unbind it
      if (stores.contains(nk))
        throw new IllegalArgumentException(
          s"ALTER TABLE RENAME: '$newName' already exists")
      val store = stores.remove(key).get
      stores(nk) = store
      primaryKeys.remove(key).foreach(primaryKeys(nk) = _)
      ownedRoots.remove(key).foreach(ownedRoots(nk) = _)
      tableDb.remove(key)
      tableDb(nk) = dbOfName(newName) // RENAME db2.t moves the table
      // triggers follow a renamed table (trigger.test: insert into t2
      // after `rename table t1 to t2` still fires t1's triggers)
      triggers.mapValuesInPlace((_, d) =>
        if (d.table == key) d.copy(table = nk) else d)
      spark.catalog.dropTempView(table)
      store.read().createOrReplaceTempView(newName)
      // renaming a TEMPORARY table that shadowed a base table
      // re-exposes the base under the old name (delete.test: temp t1
      // renamed to t2, then `select * from t1` reads the base rows)
      if (tempTables.remove(key)) {
        tempTables += nk
        restoreShadowed(key, table)
      }
      Seq((table, s"RENAME TO $newName")).toDF("table_name", "status")

    case TruncateRe(table) =>
      import spark.implicits._
      val store = attachedStore(table)
      store.truncate()
      autoIncBase.remove(table.toLowerCase) // TRUNCATE resets the counter
      refreshTableView(table, store)
      Seq((table, "truncated")).toDF("table_name", "status")

    case DeleteUsingRe(table, using, whereClause) =>
      if (using.toLowerCase != table.toLowerCase)
        throw new UnsupportedOperationException(
          "DELETE … USING across tables: use Dml.deleteJoin (the " +
            "delete_join.test tier); only the self-referencing form is " +
            "statement text")
      runDelete(table, whereClause)

    case DeleteLimitRe(table, whereClause, orderClause, n) =>
      // self-qualified column refs (`DELETE FROM t1 … ORDER BY t1.a
      // LIMIT 1`, delete.test) resolve against the unqualified frame
      def unq(s: String): String =
        if (s == null) null
        else s.replaceAll(
          "(?i)\\b" + java.util.regex.Pattern.quote(table) + "\\.", "")
      runDeleteLimit(table, unq(whereClause), unq(orderClause), n.toInt)

    case DeleteRe(ignoreMod, table, whereClause) =>
      if (ignoreMod != null)
        // DELETE IGNORE downgrades runtime evaluation errors (the 1242
        // multi-row scalar subquery in delete.test) to warnings: rows
        // whose subquery is multi-row see NULL (and survive), rows with
        // a 0/1-row subquery evaluate normally and delete
        try runDelete(table, ignoreScalarSubqueries(whereClause))
        catch {
          case e: Exception
              if e.isInstanceOf[org.apache.spark.SparkThrowable] &&
                String.valueOf(e.getMessage).contains("SCALAR_SUBQUERY") =>
            import spark.implicits._
            Seq((table, 0L)).toDF("table_name", "rows_deleted")
        }
      else
      runDelete(table, whereClause)

    case UpdateJoinRe(modifiers, fromSpec, setList, whereClause)
        if """(?i)\bJOIN\b|,""".r.findFirstIn(fromSpec).isDefined =>
      runUpdateJoin(fromSpec, setList, whereClause,
        ignore = modifiers != null &&
          modifiers.toUpperCase.contains("IGNORE"))

    case DeleteMultiRe(modifiers, targets, fromClause, whereClause) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val names = splitTopLevel(targets).map(_.trim
        .stripSuffix(".*").stripPrefix("`").stripSuffix("`"))
      names.foreach(attachedStore) // all targets must be attached
      // safe-update mode guards multi-table deletes too (delete.test
      // pins 1175 for `DELETE t2 FROM t1 JOIN t2 WHERE t1.a = 10`)
      names.foreach(checkSafeUpdates(_, whereClause))
      val ignore = modifiers != null &&
        modifiers.toUpperCase.contains("IGNORE")
      // evaluate the join ONCE (over the current temp views), staged so
      // the first target's base rewrite cannot change later targets'
      // matched sets (MySQL reads before it deletes)
      val matched = names.map { t =>
        val wc =
          if (ignore) Option(whereClause).map(ignoreScalarSubqueries).orNull
          else whereClause
        val sqlText = s"SELECT DISTINCT `$t`.* FROM $fromClause" +
          Option(wc).map(w => s" WHERE $w").getOrElse("")
        t -> (try Staging.stageOrdered(
          spark.sql(MySqlDialect.rewrite(sqlText)), s"delete-multi-$t")
        catch {
          // IGNORE downgrades runtime errors (a >1-row scalar subquery,
          // delete.test `delete ignore …`): the offending comparison is
          // NULL → those rows survive; the statement succeeds
          case e: Exception if ignore &&
              e.getClass.getName.contains("Spark") =>
            spark.table(t).limit(0)
        })
      }
      val counts = matched.map { case (t, m) =>
        val store = attachedStore(t)
        val n = m.count()
        val delTrig = tableTriggered(t, "DELETE")
        val trigRows =
          if (!delTrig) Array.empty[org.apache.spark.sql.Row]
          else collectCapped(m, s"DELETE $t (multi)")
        if (delTrig)
          fireDeleteTriggers(t, "BEFORE", trigRows, store.read().schema)
        store.rewriteWith { base =>
          val mm = m.toDF(m.columns.map("__m_" + _): _*)
          // null-safe equality on EVERY column: identical rows delete
          // together, exactly MySQL's full-row semantics
          val cond = base.columns.map(c =>
            base(c) <=> mm("__m_" + c)).reduce(_ && _)
          base.join(mm, cond, "left_anti")
        }
        store.read().createOrReplaceTempView(t)
        if (delTrig)
          fireDeleteTriggers(t, "AFTER", trigRows, store.read().schema)
        (t, n)
      }
      counts.toDF("table_name", "rows_matched")

    case UpdateLimitRe(table, setList, whereClause, orderClause, n) =>
      runUpdateLimit(table, setList, whereClause, orderClause, n.toInt)

    case UpdateRe(ignoreMod, table, setList, whereClause) =>
      // the regex split is not paren-aware: a scalar-subquery SET value
      // tears at ITS internal WHERE (update_v1.test `SET f2 = (SELECT
      // … WHERE …)`) — re-split the tail at the TOP-LEVEL WHERE and
      // strip self-qualified column refs
      val full = setList +
        (if (whereClause == null) "" else " WHERE " + whereClause)
      val (setPart, wherePart) = splitTopLevelWhere(full)
      // self-qualified WHERE refs (`WHERE t1.fld1 = …`, trigger.test's
      // audit-update body) resolve against the bare frame once
      // stripped — but a WHERE carrying a subquery keeps its text (the
      // qualifier may be a correlation, same rule as runDelete)
      val whereStripped = wherePart.map { w =>
        if ("""(?i)\(\s*select\b""".r.findFirstIn(w).isDefined) w
        else w.replaceAll(
          "(?i)\\b" + java.util.regex.Pattern.quote(table) + "\\.", "")
      }
      runUpdate(table, setPart.replaceAll(
        "(?i)\\b" + java.util.regex.Pattern.quote(table) + "\\.", ""),
        whereStripped.orNull, ignore = ignoreMod != null)

    case ShowTablesRe() =>
      import spark.implicits._
      (stores.keySet ++ packedTables.keySet).toSeq.sorted
        .toDF("table_name")

    case ShowCreateRe(table) =>
      import spark.implicits._
      val cols = schemaOf(table).fields.map(f =>
        s"  `${f.name}` ${declaredType(f)}" +
          (if (requiredCol(f)) " NOT NULL" else ""))
      val ddl = s"CREATE TABLE `$table` (\n${cols.mkString(",\n")}\n" +
        ") ENGINE=TIANMU"
      Seq((table, ddl)).toDF("table_name", "create_table")

    case DescribeRe(table) =>
      import spark.implicits._
      schemaOf(table).fields.toSeq.map(f =>
        (f.name, declaredType(f), if (requiredCol(f)) "NO" else "YES"))
        .toDF("field", "type", "null")

    case CreateLikeRe(ifNotExists, table, src) =>
      import spark.implicits._
      val key = table.toLowerCase
      if (stores.contains(key)) {
        if (ifNotExists != null)
          return Seq((table, "already exists (Note 1050)"))
            .toDF("table_name", "status")
        throw new IllegalArgumentException(
          s"CREATE TABLE: '$table' already exists in this runner")
      }
      // LIKE takes a BASE table — a view source is 1347
      // (create_table.test `create table t1 like v1`)
      if (viewDefs.contains(src.toLowerCase))
        throw new IllegalArgumentException(
          s"CREATE TABLE LIKE: '$src' is not a BASE TABLE " +
            "(MySQL error 1347)")
      val schema = schemaOf(src) // carries the MySQL metadata twins
      // LIKE re-validates copied defaults under the CURRENT sql_mode:
      // an invalid temporal default created under ALLOW_INVALID_DATES
      // is 1067 again once strictness returns (create_table.test)
      if (!sessionSqlMode.contains("ALLOW_INVALID_DATES"))
        schema.foreach { f =>
          import org.apache.spark.sql.types._
          val temporal = f.dataType == DateType ||
            f.dataType.isInstanceOf[TimestampType] ||
            f.dataType.isInstanceOf[TimestampNTZType]
          if (temporal && f.metadata.contains("graft.mysql.default")) {
            val d = f.metadata.getString("graft.mysql.default")
            if (d.startsWith("'"))
              """^(\d{1,4})-(\d{1,2})-(\d{1,2})""".r.findFirstMatchIn(
                d.stripPrefix("'").stripSuffix("'")).foreach { dm =>
                val (y, mo, dd) = (dm.group(1).toInt,
                  dm.group(2).toInt, dm.group(3).toInt)
                if (mo > 0 && dd > 0 && scala.util.Try(
                    java.time.LocalDate.of(y, mo, dd)).isFailure)
                  throw new IllegalArgumentException(
                    s"CREATE TABLE LIKE: invalid default value for " +
                      s"'${f.name}' — $d (MySQL error 1067)")
              }
          }
        }
      val empty = spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.Row], 1), schema)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-like-$key").toString
      val store = new DeltaStore(spark, root)
      store.writeBase(empty)
      attach(table, store)
      ownedRoots(key) = root
      primaryKeys.get(src.toLowerCase)
        .foreach(declarePrimaryKey(table, _))
      Seq((table, s"LIKE $src")).toDF("table_name", "status")

    case CreateViewRe(orReplace, name, select) =>
      import spark.implicits._
      // plain CREATE VIEW over an existing view is 1050 (create_view
      // .test); OR REPLACE overwrites
      if (orReplace == null && viewDefs.contains(name.toLowerCase))
        throw new IllegalArgumentException(
          s"CREATE VIEW: '$name' already exists (MySQL error 1050)")
      spark.sql(MySqlDialect.rewrite(select)).createOrReplaceTempView(name)
      viewDefs(name.toLowerCase) = select.trim
      Seq((name, "view created (session-scoped)"))
        .toDF("view_name", "status")

    case ShowCreateViewRe(name) =>
      import spark.implicits._
      viewDefs.get(name.toLowerCase) match {
        case Some(defn) =>
          Seq((name, s"CREATE VIEW `$name` AS $defn"))
            .toDF("View", "Create View")
        case None => throw new IllegalArgumentException(
          s"SHOW CREATE VIEW: '$name' is not a view (MySQL error 1347)")
      }

    case DropViewRe(nameList) =>
      import spark.implicits._
      splitTopLevel(nameList)
        .map(_.trim.stripPrefix("`").stripSuffix("`")).map { name =>
          val existed = spark.catalog.dropTempView(name)
          viewDefs.remove(name.toLowerCase)
          (name, if (existed) "view dropped" else "not a view")
        }.toDF("view_name", "status")

    // triggers — creation mirrors the reference's validation ladder:
    // wrong schema (1435), missing table (1146), view (1347), temp
    // table (1361), the tianmu engine gate (3240 unless
    // tianmu_no_key_error=ON — sql_trigger.cc:229), duplicate name
    // (1359), then body row-reference checks (1363/1362/1054)
    case CreateTriggerRe(trgSchema0, trgName, timing0, event0,
                         tblSchema0, tblName, bodyText) =>
      import spark.implicits._
      val timing = timing0.toUpperCase
      val event = event0.toUpperCase
      val trgSchema = Option(trgSchema0).map(_.toLowerCase)
        .getOrElse(currentDb)
      val tblSchema = Option(tblSchema0).map(_.toLowerCase)
        .getOrElse(trgSchema)
      if (trgSchema != tblSchema)
        throw new IllegalArgumentException(
          "Trigger in wrong schema (MySQL error 1435)")
      val key = resolveTableKey(tblSchema, tblName).getOrElse(
        throw new IllegalArgumentException(
          s"Table '$tblSchema.$tblName' doesn't exist (MySQL error 1146)"))
      if (viewDefs.contains(key))
        throw new IllegalArgumentException(
          s"'$tblName' is not BASE TABLE (MySQL error 1347)")
      if (tempTables.contains(key))
        throw new IllegalArgumentException(
          s"Trigger's '$tblName' is view or temporary table " +
            "(MySQL error 1361)")
      if (engineOf(key).equalsIgnoreCase("TIANMU") && !noKeyError)
        throw new IllegalArgumentException(
          "Tianmu engine does not support trigger. (MySQL error 3240)")
      val tkey = s"$trgSchema.${trgName.toLowerCase}"
      if (triggers.contains(tkey))
        throw new IllegalArgumentException(
          s"Trigger '$trgName' already exists (MySQL error 1359)")
      val body = Procedural.parseBody(bodyText)
      validateTriggerBody(body, event, timing, stores(key).read().schema)
      triggers(tkey) = TriggerDef(trgName, trgSchema, timing, event,
        key, bodyText.trim.stripSuffix(";"), body)
      Seq((trgName, s"$timing $event ON $tblName"))
        .toDF("trigger_name", "definition")

    case DropTriggerRe(ifExists, schema0, name) =>
      import spark.implicits._
      val schema = Option(schema0).map(_.toLowerCase).getOrElse(currentDb)
      val existed = triggers.remove(s"$schema.${name.toLowerCase}")
        .isDefined
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(
          s"Trigger does not exist: $name (MySQL error 1360)")
      Seq((name, if (existed) "dropped" else "did not exist"))
        .toDF("trigger_name", "status")

    case ShowTriggersRe() =>
      import spark.implicits._
      triggers.values.toSeq.filter(_.db == currentDb)
        .map(t => (t.name, t.event, t.table.split("__").last,
          t.bodyText, t.timing))
        .toDF("Trigger", "Event", "Table", "Statement", "Timing")

    // stored PROCEDURE tier — driver-side interpreter (SURVEY §2.13;
    // the reference routes routines to the MySQL SQL layer,
    // engine_execute.cpp:374-382)
    case CreateProcRe(name, paramList, rest) =>
      import spark.implicits._
      val key = name.toLowerCase
      if (procedures.contains(key))
        throw new IllegalArgumentException(
          s"CREATE PROCEDURE: '$name' already exists (MySQL error 1304)")
      val body = stripRoutineCharacteristics(rest)
      if (body.isEmpty) throw new IllegalArgumentException(
        s"CREATE PROCEDURE $name: empty body (MySQL error 1064)")
      val params = Procedural.parseParams(
        Option(paramList).getOrElse(""), isProcedure = true)
      procedures(key) = Procedural.Routine(name, params, None,
        Procedural.parseBody(body), isProcedure = true, body)
      Seq((name, s"procedure created (${params.length} arg(s))"))
        .toDF("procedure_name", "status")

    case DropProcRe(ifExists, name) =>
      import spark.implicits._
      val existed = procedures.remove(name.toLowerCase).isDefined
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(
          s"DROP PROCEDURE: PROCEDURE $name does not exist " +
            "(MySQL error 1305)")
      Seq((name, if (existed) "procedure dropped" else "did not exist"))
        .toDF("procedure_name", "status")

    case AlterRoutineRe(kind, name) =>
      import spark.implicits._
      val known = kind.equalsIgnoreCase("procedure") &&
        procedures.contains(name.toLowerCase) ||
        kind.equalsIgnoreCase("function") &&
          (storedFuncs.contains(name.toLowerCase) ||
            procFuncs.contains(name.toLowerCase))
      if (!known) throw new IllegalArgumentException(
        s"ALTER ${kind.toUpperCase}: ${kind.toUpperCase} $name does " +
          "not exist (MySQL error 1305)")
      // characteristics (COMMENT/SQL SECURITY) are inert metadata here
      Seq((name, "altered")).toDF("routine_name", "status")

    case CallRe(name, argText) =>
      import spark.implicits._
      val args = Option(argText)
        .map(a => Procedural.splitTop(a, ',').map(_.trim)
          .filter(_.nonEmpty)).getOrElse(Seq.empty)
      val res = procHost.callProcedureFrom(name, args, None)
      if (res != null) res
      else Seq((name, "ok")).toDF("procedure", "status")

    // procedural CREATE FUNCTION (DECLARE / flow control / SELECT…INTO
    // bodies) — interpreter-backed; expression-bodied functions stay on
    // the textual-inline path below (they may take column arguments)
    case CreateFuncFullRe(name, paramList, rtype, rcharset, rest)
        if proceduralBody(stripRoutineCharacteristics(rest)) =>
      import spark.implicits._
      val key = name.toLowerCase
      if (storedFuncs.contains(key) || procFuncs.contains(key))
        throw new IllegalArgumentException(
          s"CREATE FUNCTION: '$name' already exists (MySQL error 1304)")
      val body = stripRoutineCharacteristics(rest)
      val params = Procedural.parseParams(paramList, isProcedure = false)
      val rcs = Option(rcharset).flatMap(c =>
        """(?i)(\w+)\s*$""".r.findFirstIn(c)).map(_.toLowerCase)
      procFuncs(key) = Procedural.Routine(name, params,
        Some((rtype.replaceAll("\\s+", ""), rcs)),
        Procedural.parseBody(body), isProcedure = false, body)
      Seq((name, s"function created (procedural, " +
        s"${params.length} arg(s))"))
        .toDF("function_name", "status")

    case CreateFunctionRe(name, paramList, _, body) =>
      import spark.implicits._
      val key = name.toLowerCase
      if (storedFuncs.contains(key) || procFuncs.contains(key))
        throw new IllegalArgumentException(
          s"CREATE FUNCTION: '$name' already exists (MySQL error 1304)")
      val params = splitTopLevel(paramList).map(_.trim)
        .filter(_.nonEmpty)
        .map(_.split("\\s+")(0).stripPrefix("`").stripSuffix("`"))
      val b = body.trim
      val (preStmts, ret) =
        if (b.toUpperCase.startsWith("RETURN"))
          (Seq.empty[String], b.substring(6).trim.stripSuffix(";"))
        else {
          val inner = b.replaceFirst("(?is)^BEGIN\\b", "")
            .replaceFirst("(?is)\\bEND\\s*$", "")
          val stmts = splitTopLevelSemis(inner).map(_.trim)
            .filter(_.nonEmpty)
          val retIdx = stmts.lastIndexWhere(
            _.toUpperCase.startsWith("RETURN"))
          if (retIdx < 0) throw new UnsupportedOperationException(
            s"CREATE FUNCTION $name: BEGIN…END body without RETURN " +
              "is out of this library's stored-function scope")
          (stmts.take(retIdx), stmts(retIdx).substring(6).trim)
        }
      storedFuncs(key) = StoredFunc(params, preStmts, ret)
      Seq((name, s"function created (${params.length} arg(s), " +
        s"${preStmts.length} body statement(s))"))
        .toDF("function_name", "status")

    case DropFunctionRe(ifExists, name) =>
      import spark.implicits._
      val existed = storedFuncs.remove(name.toLowerCase).isDefined |
        procFuncs.remove(name.toLowerCase).isDefined
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(
          s"DROP FUNCTION: FUNCTION $name does not exist " +
            "(MySQL error 1305)")
      Seq((name, if (existed) "function dropped" else "did not exist"))
        .toDF("function_name", "status")

    case ShowCreateFunctionRe(name) =>
      import spark.implicits._
      storedFuncs.get(name.toLowerCase) match {
        case Some(f) =>
          Seq((name, s"CREATE FUNCTION `$name`(${f.params.mkString(", ")}) " +
            s"RETURN ${f.returnExpr}")).toDF("Function", "Create Function")
        case None => procFuncs.get(name.toLowerCase) match {
          case Some(r) =>
            Seq((name, s"CREATE FUNCTION `$name`" +
              s"(${r.params.map(_.name).mkString(", ")}) ${r.sourceText}"))
              .toDF("Function", "Create Function")
          case None => throw new IllegalArgumentException(
            s"SHOW CREATE FUNCTION: FUNCTION $name does not exist " +
              "(MySQL error 1305)")
        }
      }

    case CreateTableSelectRe(temporary, ifNotExists, table, body,
        options, select) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.lit
      // existing table/view: plain form is 1050; IF NOT EXISTS is a
      // warning no-op WITHOUT inserting the SELECT (create_table.test's
      // updatable-view block — t2 keeps its single row). A TEMPORARY
      // create shadows and proceeds.
      val occupied = stores.contains(table.toLowerCase) ||
        viewDefs.contains(table.toLowerCase)
      if (temporary == null && occupied) {
        if (ifNotExists == null) throw new IllegalArgumentException(
          s"CREATE TABLE: '$table' already exists (MySQL error 1050)")
        return Seq((table, "already exists (IF NOT EXISTS)"))
          .toDF("table_name", "status")
      }
      // an existing TEMPORARY of the same name: IF NOT EXISTS is the
      // warning no-op, plain is the duplicate error
      if (temporary != null && tempTables.contains(table.toLowerCase)) {
        if (ifNotExists == null) throw new IllegalArgumentException(
          s"CREATE TABLE: temporary '$table' already exists " +
            "(MySQL error 1050)")
        return Seq((table, "already exists (IF NOT EXISTS)"))
          .toDF("table_name", "status")
      }
      if (temporary != null && !tempTables.contains(table.toLowerCase))
        shadowForTemp(table.toLowerCase)
      val engine = Option(options).flatMap(o =>
        """(?i)ENGINE\s*=\s*(\w+)""".r.findFirstMatchIn(o)
          .map(_.group(1)))
        .getOrElse(if (temporary != null) "INNODB" else "TIANMU")
      runCreateTable(table, body, engine)
      if (temporary != null) tempTables += table.toLowerCase
      val store = attachedStore(table)
      val result = spark.sql(MySqlDialect.rewrite(select))
      // SELECT columns not among the declared ones append on the right
      // (MySQL's merge rule); matching names fill the declared column
      result.schema.filterNot(f =>
        store.read().columns.exists(_.equalsIgnoreCase(f.name))).foreach {
        f => store.alterAddColumn(f.name, lit(null).cast(f.dataType))
      }
      val aligned = assignAutoInc(store, alignToSchema(result,
        result.columns.map(c => s"`$c`").mkString(","),
        store.read().schema))
      val staged = Staging.stageOrdered(aligned, s"create-select-$table")
      enforcePkUnique(table, store, staged)
      store.append(staged)
      refreshTableView(table, store)
      Seq((table, staged.count())).toDF("table_name", "rows_created")

    case CreateTableRe(temporary, ifNotExists, table, body, options) =>
      // a TEMPORARY table shadows a BASE table of the same name, but a
      // second TEMPORARY of that name is the ordinary duplicate error
      // (temporary.test pins both)
      if (temporary != null && !tempTables.contains(table.toLowerCase))
        shadowForTemp(table.toLowerCase)
      // a VIEW occupies the table namespace: plain CREATE is 1050,
      // IF NOT EXISTS downgrades to a warning no-op (create_table
      // .test's updatable-view block); a TEMPORARY table lives in its
      // own namespace and may shadow the view
      if (temporary == null && viewDefs.contains(table.toLowerCase)) {
        if (ifNotExists == null) throw new IllegalArgumentException(
          s"CREATE TABLE: '$table' already exists as a view " +
            "(MySQL error 1050)")
        import spark.implicits._
        Seq((table, "already exists (IF NOT EXISTS)"))
          .toDF("table_name", "status")
      } else if (ifNotExists != null && stores.contains(table.toLowerCase)) {
        import spark.implicits._
        Seq((table, "already exists (IF NOT EXISTS)"))
          .toDF("table_name", "status")
      } else {
        // TEMPORARY tables live in the server's default engine, not the
        // columnar one (the reference's engine has no temp tables) — so
        // Tianmu-specific declaration caps don't apply (create_tmp.test
        // holds DECIMAL(38,10) in a temp table)
        val engine = Option(options).flatMap(o =>
          """(?i)ENGINE\s*=\s*(\w+)""".r.findFirstMatchIn(o)
            .map(_.group(1)))
          .getOrElse(if (temporary != null) "INNODB" else "TIANMU")
        // table-level `DEFAULT CHARACTER SET utf8` gives every string
        // column the 3-byte cap unless it declares its own charset
        // (different_charsets_b.test's second block)
        val defaultUtf8 = options != null &&
          """(?i)(?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)\s*=?\s*utf8(?:mb3)?\b(?!mb4)"""
            .r.findFirstIn(options).isDefined
        // `charset=binary` turns CHAR(n) into BINARY(n): values pad to
        // n with 0x00 bytes (range.test's hex(filler) pins 200 NULs)
        val binaryCharset = options != null &&
          """(?i)(?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)\s*=?\s*binary\b"""
            .r.findFirstIn(options).isDefined
        val res = runCreateTable(table, body, engine, defaultUtf8,
          binaryCharset)
        if (temporary != null) tempTables += table.toLowerCase
        // table option AUTO_INCREMENT=n sets the counter's start
        // (init_auto_increment_value.test)
        if (options != null)
          """(?i)AUTO_INCREMENT\s*=\s*(\d+)""".r.findFirstMatchIn(options)
            .foreach(m =>
              autoIncBase(table.toLowerCase) = m.group(1).toLong - 1)
        res
      }

    case CreateIndexRe(modifier, index, table, cols) =>
      import spark.implicits._
      val store = attachedStore(table)
      val kind = Option(modifier).map(_.trim.toUpperCase)
        .getOrElse("secondary")
      if (engineOf(table) == "TIANMU") rejectTianmuIndex(kind)
      else if (kind == "UNIQUE") {
        // MySQL-side unique index creation VALIDATES existing data
        // (create_index.test pins ER_DUP_ENTRY on duplicates);
        // `col(n)` means a length-n prefix key
        import org.apache.spark.sql.functions.{col => c, substring}
        val keyCols = splitTopLevel(cols).map(_.trim).map { spec =>
          """(?is)^`?(\w+)`?\s*(?:\((\d+)\))?$""".r.findFirstMatchIn(spec)
            .map(m => Option(m.group(2)) match {
              case Some(n) => substring(c(m.group(1)), 1, n.toInt)
              case None => c(m.group(1))
            }).getOrElse(c(spec))
        }
        val t = store.read()
        if (t.select(keyCols: _*).count() >
            t.select(keyCols: _*).distinct().count())
          throw new IllegalArgumentException(
            s"CREATE UNIQUE INDEX $index: duplicate entry " +
              "(MySQL ER_DUP_ENTRY 1062)")
      }
      recordIndex(table, index, kind)
      Seq((table, s"INDEX $index (${cols.trim}) accepted (metadata only; " +
        "scan pruning rides the pack stats sidecar)"))
        .toDF("table_name", "status")

    case DropIndexRe(index, table) =>
      import spark.implicits._
      attachedStore(table)
      if (engineOf(table) == "TIANMU")
        rejectTianmuIndex(indexDefs.get(table.toLowerCase)
          .flatMap(_.get(index.toLowerCase)).getOrElse("secondary"))
      indexDefs.get(table.toLowerCase).foreach(_.remove(index.toLowerCase))
      Seq((table, s"INDEX $index dropped (metadata only)"))
        .toDF("table_name", "status")

    case CreateDbRe(ifNotExists, db) =>
      import spark.implicits._
      // MySQL's 64-char identifier cap (ER_TOO_LONG_IDENT 1059 —
      // create_db.test pins it)
      if (db.length > 64) throw new IllegalArgumentException(
        s"CREATE DATABASE: identifier name '${db.take(20)}…' is too " +
          "long (max 64, MySQL error 1059)")
      // an unquoted identifier may not consist solely of digits
      // (MySQL ER_PARSE_ERROR — create_db.test)
      if (db.forall(_.isDigit)) throw new IllegalArgumentException(
        s"CREATE DATABASE: '$db' is not a valid unquoted identifier " +
          "(all digits, MySQL error 1064)")
      // duplicate create errors unless IF NOT EXISTS (ER_DB_CREATE_EXISTS
      // 1007 — create_db.test)
      if (databases.contains(db.toLowerCase) && ifNotExists == null)
        throw new IllegalArgumentException(
          s"CREATE DATABASE: can't create database '$db'; database " +
            "exists (MySQL error 1007)")
      databases += db.toLowerCase
      Seq((db, "database created (single-namespace runner)"))
        .toDF("database", "status")

    case UseDbRe(db) =>
      import spark.implicits._
      if (!databases.contains(db.toLowerCase))
        throw new IllegalArgumentException(
          s"USE: unknown database '$db' (CREATE DATABASE first)")
      currentDb = db.toLowerCase
      spark.conf.set("spark.graft.currentDb", currentDb)
      Seq((db, "database changed")).toDF("database", "status")

    case DropDbRe(db) =>
      import spark.implicits._
      if (db.length > 64) throw new IllegalArgumentException(
        s"DROP DATABASE: identifier name '${db.take(20)}…' is too long " +
          "(max 64, MySQL error 1059)")
      val existed = databases.remove(db.toLowerCase)
      // tables created while that database was current go with it
      tableDb.filter(_._2 == db.toLowerCase).keys.toSeq.foreach { t =>
        scala.util.Try(dispatch(s"DROP TABLE `$t`"))
        tableDb.remove(t)
      }
      // and so do the database's triggers (trigger.test's DROP DATABASE
      // section)
      triggers.filterInPlace((_, d) => d.db != db.toLowerCase)
      if (currentDb == db.toLowerCase) currentDb = "test"
      Seq((db, if (existed) "database dropped" else "not created"))
        .toDF("database", "status")

    case ShowDbsRe() =>
      import spark.implicits._
      databases.toSeq.sorted.toDF("database")

    case ChecksumRe(nameList) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{sum => sqlSum, xxhash64}
      // CHECKSUM TABLE (issue1876): an order-independent content hash —
      // xxhash64 per row, summed (distributed, one partial-agg pass);
      // MySQL reports NULL for a missing table instead of erroring
      splitTopLevel(nameList)
        .map(_.trim.stripPrefix("`").stripSuffix("`")).map { name =>
          val cs: java.lang.Long =
            if (stores.contains(name.toLowerCase) ||
              spark.catalog.tableExists(name)) {
              val df = spark.table(name)
              val h = df.select(sqlSum(xxhash64(df.columns.map(
                org.apache.spark.sql.functions.col): _*))).first()
              if (h.isNullAt(0)) java.lang.Long.valueOf(0L)
              else java.lang.Long.valueOf(h.getLong(0))
            } else null
          (s"$currentDb.$name", cs)
        }.toDF("Table", "Checksum")

    case ShowIndexRe(table) =>
      import spark.implicits._
      // primary key renders as the one "index"; secondary indexes are
      // inert metadata here (no B-trees — the pack sidecar prunes)
      schemaOf(table) // existence check
      primaryKeys.getOrElse(table.toLowerCase, Seq.empty).zipWithIndex
        .map { case (c, i) => (table, "PRIMARY", i + 1, c) }
        .toDF("table_name", "key_name", "seq_in_index", "column_name")

    case SetSessionRe(clause) =>
      import spark.implicits._
      // a SET statement assigns a COMMA LIST of variables
      // (trigger.test's `set @a:= 0, @b:= ""`); split at the top level
      // so the second assignment doesn't poison the first's rhs
      splitTopLevel(clause).map(_.trim).filter(_.nonEmpty)
        .foreach { part =>
      recordSessionVar(part)
      // a time_zone change re-registers every table view — TIMESTAMP
      // columns display in the NEW session zone immediately
      // (type_timestamp.test alternates zones between SELECTs)
      if ("""(?i)\btime_zone\b""".r.findFirstIn(part).isDefined) {
        stores.foreach { case (k, st) =>
          scala.util.Try(tzView(k, st))
        }
        // published for MySqlCoercionRule: UNIX_TIMESTAMP over a
        // session-shifted TIMESTAMP view column must return the
        // STORED UTC seconds (type_timestamp.test)
        spark.conf.set("spark.graft.mysql.tzMin",
          sessionTzMin.getOrElse(0).toString)
      }
      // `SET @a = expr` evaluates the rhs now and stores the literal
      """(?is)^@(\w+)\s*:?=\s*(.+)$""".r.findFirstMatchIn(part.trim)
        .foreach { m =>
          // a literal beyond DOUBLE range is MySQL 1367 (insert.test
          // `set @value= 1e+1111111111`)
          """(?i)^\s*-?[\d.]+e\+?(\d+)\s*$""".r
            .findFirstMatchIn(m.group(2))
            .filter(em => BigInt(em.group(1)) > 308)
            .foreach(_ => throw new IllegalArgumentException(
              s"SET @${m.group(1)}: illegal double value " +
                "(MySQL error 1367)"))
          var rhsText = m.group(2).trim
          // `SET @old_mode = @@sql_mode` snapshots a system variable
          // (create_table.test) — substitute its current value as a
          // string literal before evaluation
          rhsText = """@@(?:session\.|global\.)?(\w+)""".r
            .replaceAllIn(rhsText, sm => {
              val sv = sessionVars.getOrElse(sm.group(1).toLowerCase,
                if (sm.group(1).equalsIgnoreCase("sql_mode"))
                  StatementRunner.DefaultSqlMode
                else "")
              java.util.regex.Matcher.quoteReplacement(s"'$sv'")
            })
          // a PURE numeric literal keeps its exact digit text — MySQL
          // stores it as DECIMAL(65) and evaluating through Spark's
          // double would flatten an 81-digit value to 1.0E81, hiding
          // it from the integer-tier overflow checks (func_math.test
          // `SET @a:=999…9; SELECT @a + @a` pins 1690)
          if (rhsText.matches("""-?\d+(\.\d+)?"""))
            userVars(m.group(1).toLowerCase) = rhsText
          else {
            val v = scala.util.Try(
              spark.sql("SELECT " + MySqlDialect.rewrite(
                substituteUserVars(rhsText))).first().get(0))
              .getOrElse(null)
            userVars(m.group(1).toLowerCase) = renderLiteral(v)
          }
        }
        }
      Seq((clause.trim.take(64), "OK (session no-op)"))
        .toDF("setting", "status")

    case CtasRe(ifNotExists, table, select) =>
      import spark.implicits._
      val key = table.toLowerCase
      if (stores.contains(key) || viewDefs.contains(key)) {
        // IF NOT EXISTS over an existing table is a Note-1050 no-op —
        // the SELECT is NOT inserted (create_table.test: three
        // `if not exists … select` statements leave t1's single row)
        if (ifNotExists != null && stores.contains(key))
          return Seq((table, "already exists (Note 1050)"))
            .toDF("table_name", "status")
        throw new IllegalArgumentException(
          s"CREATE TABLE: '$table' already exists in this runner " +
            "(MySQL error 1050)")
      }
      val df = spark.sql(MySqlDialect.rewrite(select))
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-ctas-$key").toString
      val store = new DeltaStore(spark, root)
      store.writeBase(df)
      attach(table, store)
      ownedRoots(key) = root
      Seq((table, store.read().count()))
        .toDF("table_name", "rows_created")

    case DropRe(ifExists, tableList) =>
      import spark.implicits._
      // multi-table form (`DROP TABLE t1, t2, t3` — create_table.test);
      // a name that is not a table (absent, or a VIEW — create_view
      // .test pins 1051 for `DROP TABLE v1`) errors without IF EXISTS,
      // and is never unregistered as a view either way
      val names = splitTopLevel(tableList)
        .map(_.stripPrefix("`").stripSuffix("`"))
      val unknown = names.filter(t =>
        !stores.contains(t.toLowerCase) &&
          !packedTables.contains(t.toLowerCase))
      if (unknown.nonEmpty && ifExists == null)
        throw new IllegalArgumentException(
          s"DROP TABLE: unknown table(s) ${unknown.mkString(", ")} " +
            "(MySQL error 1051)")
      names.map { table =>
          val key = table.toLowerCase
          val existed = stores.remove(key).isDefined
          val wasPacked = packedTables.remove(key).isDefined
          primaryKeys.remove(key)
          tableEngines.remove(key)
          indexDefs.remove(key)
          autoIncBase.remove(key) // a re-CREATE restarts the counter
          tableDb.remove(key)
          if (existed || wasPacked) spark.catalog.dropTempView(table)
          ownedRoots.remove(key).foreach(root =>
            org.apache.commons.io.FileUtils
              .deleteDirectory(new java.io.File(root)))
          // a dropped TEMPORARY table un-shadows its base counterpart
          tempTables.remove(key)
          restoreShadowed(key, table)
          // DROP TABLE drops its triggers (trigger.test: a re-created
          // t1 starts trigger-free)
          triggers.filterInPlace((_, d) => d.table != key)
          (table, if (existed) "dropped" else "not attached")
        }.toDF("table_name", "status")

    case OptimizeRe(table) =>
      import spark.implicits._
      val store = attachedStore(table)
      val pending = store.deltaCount()
      store.compact()
      refreshTableView(table, store)
      Seq((table, "optimize", "status", s"OK ($pending delta rows folded)"))
        .toDF("table_name", "op", "msg_type", "msg_text")

    case CheckTableRe(nameList) =>
      import spark.implicits._
      splitTopLevel(nameList).map(_.trim.stripPrefix("`").stripSuffix("`"))
        .map { name =>
          val ok = scala.util.Try {
            attachedStore(name).read().count(); true
          }.getOrElse(spark.catalog.tableExists(name))
          (s"$currentDb.$name", "check", "status",
            if (ok) "OK" else "Error")
        }.toDF("Table", "Op", "Msg_type", "Msg_text")

    case AnalyzeRe(table) =>
      import spark.implicits._
      val store = attachedStore(table)
      val numeric = store.read().schema.fields.map(_.name).toSeq
      graft.operators.Profile.profile(store.read(), numeric)
        .createOrReplaceTempView(s"${table}__stats")
      Seq((table, "analyze", "status", s"OK (stats in ${table}__stats)"))
        .toDF("table_name", "op", "msg_type", "msg_text")

    case ExplainRe(select) =>
      import spark.implicits._
      spark.sql(MySqlDialect.rewrite(select))
        .queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
        .split("\n").toSeq.toDF("plan")

    // EXPLAIN over DML text (issue663 explains a multi-table DELETE):
    // plan the statement's read side without executing the write
    case ExplainDmlRe(dml) =>
      import spark.implicits._
      Seq((dml.trim.split("\\s+").take(2).mkString(" ").toUpperCase,
        "rewrite-based DML: scan + anti/join + staged base rewrite"))
        .toDF("statement", "plan")

    case s if OutfileRe.findFirstIn(s).isDefined =>
      val m = OutfileRe.findFirstMatchIn(s).get
      val path = m.group(1)
      val (opts, tail) = parseOpts(s.substring(m.end))
      // MySQL allows INTO OUTFILE before FROM or statement-final; the
      // SELECT is the statement minus the INTO clause span.
      val select = s.substring(0, m.start) + " " + tail
      val df = spark.sql(MySqlDialect.rewrite(select))
      val rows = df.count()
      CsvLoader.export(df, sandboxIoPath(path), delimiter = opts.delimiter,
        quote = opts.quote, escape = opts.escape, lineSep = opts.lineSep)
      import spark.implicits._
      Seq((path, rows)).toDF("outfile", "rows_exported")

    // Server-admin and transaction-control statements MTR prologues
    // issue around the engine under test: the library is single-session
    // autocommit (the reference engine itself is autocommit-oriented;
    // its MTR files use begin/commit only as brackets, never to test
    // rollback visibility — issue1510), replication control has no
    // meaning without a server, and user/grant admin is MySQL-side.
    // Accepted as honest no-ops so verbatim scripts flow; each answers
    // with a one-row status frame naming what was elided.
    case AdminNoopRe(stmt) =>
      import spark.implicits._
      Seq((stmt.trim.split("\\s+").take(3).mkString(" ").toUpperCase,
        "OK (no server-side effect in a library session)"))
        .toDF("statement", "status")

    case ShowWarningsRe() =>
      import spark.implicits._
      Seq.empty[(String, Int, String)].toDF("level", "code", "message")

    case CreateUserRe(ifNotExists, user) =>
      import spark.implicits._
      // an unquoted account name cannot carry dots (user@127.0.0.1
      // needs quoting — create_drop_users.test pins the parse error)
      if (!user.startsWith("'") &&
          (user.contains(".") || user.contains("%")))
        throw new IllegalArgumentException(
          s"CREATE USER: malformed account name '$user' " +
            "(host with dots must be quoted, MySQL error 1064)")
      val key = user.toLowerCase
      if (users.contains(key) && ifNotExists == null)
        throw new IllegalArgumentException(
          s"CREATE USER: '$user' already exists (MySQL error 1396)")
      users += key
      Seq((user, "user created (session-scoped)")).toDF("user", "status")

    case DropUserRe(ifExists, user) =>
      import spark.implicits._
      val existed = users.remove(user.toLowerCase)
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(
          s"DROP USER: '$user' does not exist (MySQL error 1396)")
      Seq((user, if (existed) "user dropped" else "did not exist"))
        .toDF("user", "status")

    // SHOW [GLOBAL|SESSION|LOCAL] VARIABLES|STATUS [LIKE '…']: answer
    // from the recorded session vars (SET is tracked), empty otherwise —
    // the shape MTR scripts assert on is "returns a frame", with
    // sql_mode the one value several files read back.
    case ShowVarsRe(what, like) =>
      import spark.implicits._
      val defaults = Map(
        "sql_mode" -> StatementRunner.DefaultSqlMode,
        "default_storage_engine" -> "TIANMU",
        "tianmu_no_key_error" -> "OFF")
      val all = defaults ++ sessionVars
      val pat = Option(like).map(_.trim
        .stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\"")
        .toLowerCase.replace("%", ".*").replace("_", "."))
      all.toSeq.sortBy(_._1)
        .filter { case (k, _) => pat.forall(p => k.matches(p)) }
        .toDF("Variable_name", "Value")

    case ShowEngineStatusRe() =>
      import spark.implicits._
      Seq(("TIANMU", "DELTA STORE", "buffered+parquet delta, " +
        "threshold-triggered merge")).toDF("Type", "Name", "Status")

    case SelectSysVarRe(v) =>
      import spark.implicits._
      val name = v.toLowerCase.stripPrefix("session.").stripPrefix("global.")
      val value = sessionVars.getOrElse(name, Map(
        "default_storage_engine" -> "TIANMU", "sql_mode" -> "",
        "autocommit" -> "1").getOrElse(name, ""))
      Seq(value).toDF(s"@@$name")

    // Everything else is query text: translate the MySQL-isms the
    // reference inherits from MySQL's parser (# comments, &&/||,
    // LIMIT n,m, FROM DUAL — see [[MySqlDialect]]) so verbatim MTR-style
    // SELECT text runs unchanged, then hand Catalyst the statement.
    case other => spark.sql(MySqlDialect.rewrite(other))
  }
}

/** Driver-gate read view: a full SQL-statement roundtrip — customer is
  * exported with `SELECT … INTO OUTFILE` (pipe-delimited) and loaded
  * back with `LOAD DATA INFILE` into an empty attached store; the gate
  * returns the re-loaded table, which must match the oracle's plain
  * SELECT over the original — proving both statement parsers AND both
  * data paths are lossless end-to-end. */
object Statements {

  def qSqlStatementRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-stmt-gate").toString
    val customer = graft.Engine.table(s, dir, "customer")
    customer.createOrReplaceTempView("stmt_customer_src")
    val runner = new StatementRunner(s)
    runner.run(
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         |INTO OUTFILE '$tmp/customer_out'
         |FIELDS TERMINATED BY '|' ESCAPED BY '\\\\'
         |LINES TERMINATED BY '\\n'
         |FROM stmt_customer_src""".stripMargin)
    val store = new DeltaStore(s, s"$tmp/customer_store")
    store.writeBase(customer.limit(0))
    runner.attach("stmt_customer", store)
    runner.run(
      s"""LOAD DATA INFILE '$tmp/customer_out'
         |INTO TABLE stmt_customer
         |FIELDS TERMINATED BY '|' ESCAPED BY '\\\\'""".stripMargin)
    runner.run("SELECT * FROM stmt_customer")
  }

  val qSqlStatementRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer""".stripMargin

  /** `SELECT ROUGHLY` as SQL text (the reference's rough_query mode,
    * core/engine_execute.cpp:450): pack-write lineitem, then answer
    * COUNT/MIN/MAX/SUM from the sidecar and a BETWEEN count through the
    * hybrid path — all via statement text, all exact vs the oracle's
    * full recomputation (same contract as [[StatsSidecar.qRoughAgg]],
    * here proving the STATEMENT surface end-to-end). */
  def qRoughSqlStatement(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-roughly-gate").toString
    val li = graft.Engine.table(s, dir, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_quantity"),
        org.apache.spark.sql.functions.col("l_extendedprice"))
    StatsSidecar.writeWithStats(li, s"$scratch/li_packed", 8192,
      Seq("l_quantity", "l_extendedprice"),
      clusterBy = Some(org.apache.spark.sql.functions.col("l_quantity")))
    val runner = new StatementRunner(s)
    runner.attachPacked("li_packed", s"$scratch/li_packed")
    val base = runner.run(
      """SELECT ROUGHLY COUNT(*) AS n, MIN(l_extendedprice) AS min_price,
        |MAX(l_extendedprice) AS max_price, SUM(l_extendedprice) AS sum_price
        |FROM li_packed""".stripMargin)
    val between = runner.run(
      """SELECT ROUGHLY COUNT(*) AS n_qty_10_30 FROM li_packed
        |WHERE l_quantity BETWEEN 10.0 AND 30.0""".stripMargin)
    base.crossJoin(between)
  }

  /** Same oracle as the rough-agg capability gate: rough answers must
    * EQUAL exact recomputation (DPN contract — rough ≠ approximate). */
  val qRoughSqlStatementSql: String = StatsSidecar.qRoughAggSql

  /** DML as statement TEXT end-to-end (the reference's handler write
    * path driven from SQL): seed an attached store with customer, run
    * verbatim DELETE / UPDATE / INSERT statements, read the final state
    * back through the runner's own catalog. The oracle replays the same
    * three edits as pure relational algebra over the ORIGINAL table —
    * hash equality proves statement parsing, the staged rewrites, AND
    * old-row UPDATE semantics in one gate. */
  def qSqlDmlStatements(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-dml-gate").toString
    val customer = graft.Engine.table(s, dir, "customer")
    val store = new DeltaStore(s, s"$tmp/cust_store")
    store.writeBase(customer)
    val runner = new StatementRunner(s)
    runner.attach("stmt_cust_dml", store)
    runner.run("DELETE FROM stmt_cust_dml WHERE c_acctbal < 0")
    runner.run("UPDATE stmt_cust_dml SET c_acctbal = c_acctbal + 100 " +
      "WHERE c_mktsegment = 'BUILDING'")
    runner.run("INSERT INTO stmt_cust_dml VALUES " +
      "(900001, 'Customer#900001', 3, 123.25, 'MACHINERY'), " +
      "(900002, 'Customer#900002', 5, 67.5, 'BUILDING')")
    runner.run(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * 10000.0 + 0.5) AS BIGINT))
        |       AS DOUBLE) / 10000.0 AS sum_bal
        |FROM stmt_cust_dml
        |GROUP BY c_mktsegment""".stripMargin)
  }

  val qSqlDmlStatementsSql: String =
    """WITH survivors AS (
      |  SELECT c_mktsegment,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100
      |         ELSE c_acctbal END AS bal
      |  FROM customer
      |  WHERE NOT (c_acctbal < 0)
      |), inserted AS (
      |  SELECT 'MACHINERY' AS c_mktsegment, 123.25 AS bal
      |  UNION ALL
      |  SELECT 'BUILDING', 67.5
      |), final AS (
      |  SELECT * FROM survivors UNION ALL SELECT * FROM inserted
      |)
      |SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(bal * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 AS sum_bal
      |FROM final
      |GROUP BY c_mktsegment""".stripMargin

  /** Statement-level `INSERT … SELECT` end-to-end (the reference's
    * engine_execute.cpp:470-513; insert_select.test /
    * insert_into_select.test / insert_select_from.test): one insert from
    * a FOREIGN table (column-list form, expression select list) and one
    * SELF-REFERENCING insert (`INSERT INTO t SELECT … FROM t` — the
    * Halloween case the staged append exists for). The oracle replays
    * both inserts as UNION ALL algebra over the original tables. */
  def qSqlInsertSelect(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-insel-gate").toString
    val nation = graft.Engine.table(s, dir, "nation")
    graft.Engine.table(s, dir, "supplier")
      .createOrReplaceTempView("stmt_supplier_src")
    val store = new DeltaStore(s, s"$tmp/nation_store")
    store.writeBase(nation)
    val runner = new StatementRunner(s)
    runner.attach("stmt_nation_ins", store)
    runner.run(
      """INSERT INTO stmt_nation_ins (n_nationkey, n_name, n_regionkey)
        |SELECT s_suppkey + 1000, s_name, s_nationkey
        |FROM stmt_supplier_src WHERE s_suppkey % 10 = 0""".stripMargin)
    runner.run(
      """INSERT INTO stmt_nation_ins
        |SELECT n_nationkey + 5000, n_name, n_regionkey
        |FROM stmt_nation_ins WHERE n_nationkey < 10""".stripMargin)
    runner.run(
      "SELECT n_nationkey, n_name, n_regionkey FROM stmt_nation_ins")
  }

  val qSqlInsertSelectSql: String =
    """WITH after1 AS (
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation
      |  UNION ALL
      |  SELECT CAST(s_suppkey + 1000 AS INT) AS n_nationkey,
      |    s_name AS n_name, s_nationkey AS n_regionkey
      |  FROM supplier WHERE s_suppkey % 10 = 0
      |)
      |SELECT n_nationkey, n_name, n_regionkey FROM after1
      |UNION ALL
      |SELECT CAST(n_nationkey + 5000 AS INT), n_name, n_regionkey
      |FROM after1 WHERE n_nationkey < 10""".stripMargin

  /** Statement-level keyed upsert pair (reference replace.test /
    * insert_on_duplicate_update.test): declare the PK via `ALTER TABLE …
    * ADD PRIMARY KEY`, REPLACE one existing + one new key, then
    * INSERT … ON DUPLICATE KEY UPDATE with one colliding key (assignments
    * mix old-row arithmetic with a `VALUES(col)` reference — only the
    * assigned columns change) and one fresh key. Oracle = CASE/UNION
    * replay over the original table. */
  def qSqlReplaceUpsert(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-repups-gate").toString
    val customer = graft.Engine.table(s, dir, "customer")
    val store = new DeltaStore(s, s"$tmp/cust_store")
    store.writeBase(customer)
    val runner = new StatementRunner(s)
    runner.attach("stmt_cust_ru", store)
    runner.run("ALTER TABLE stmt_cust_ru ADD PRIMARY KEY (c_custkey)")
    runner.run("REPLACE INTO stmt_cust_ru VALUES " +
      "(1, 'REPLACED#1', 7, 999.99, 'AUTOMOBILE'), " +
      "(9000001, 'Customer#9000001', 2, 50.0, 'FURNITURE')")
    runner.run("INSERT INTO stmt_cust_ru VALUES " +
      "(2, 'ignored', 0, 250.0, 'ignored'), " +
      "(9000002, 'Customer#9000002', 4, 75.5, 'HOUSEHOLD') " +
      "ON DUPLICATE KEY UPDATE " +
      "c_acctbal = c_acctbal + VALUES(c_acctbal), c_mktsegment = 'UPDATED'")
    runner.run("SELECT * FROM stmt_cust_ru")
  }

  val qSqlReplaceUpsertSql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CASE WHEN c_custkey = 2 THEN c_acctbal + 250.0 ELSE c_acctbal END
      |    AS c_acctbal,
      |  CASE WHEN c_custkey = 2 THEN 'UPDATED' ELSE c_mktsegment END
      |    AS c_mktsegment
      |FROM customer WHERE c_custkey <> 1
      |UNION ALL SELECT CAST(1 AS BIGINT), 'REPLACED#1', CAST(7 AS INT),
      |  999.99, 'AUTOMOBILE'
      |UNION ALL SELECT CAST(9000001 AS BIGINT), 'Customer#9000001',
      |  CAST(2 AS INT), 50.0, 'FURNITURE'
      |UNION ALL SELECT CAST(9000002 AS BIGINT), 'Customer#9000002',
      |  CAST(4 AS INT), 75.5, 'HOUSEHOLD'""".stripMargin

  /** Statement-level schema evolution + TRUNCATE (reference
    * alter_table.test / alter_column.test; TianmuTable,
    * core/tianmu_table.h:73-76): ADD COLUMN (NULL-defaulted rewrite) →
    * INSERT using the new column → UPDATE filling it → DROP COLUMN →
    * CTAS a scratch copy → TRUNCATE it. The final read proves the added
    * column carries data, the dropped column is gone (a survivor would
    * fail schema_match), and the truncated table counts zero. */
  def qSqlAlterTable(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-alter-gate").toString
    val nation = graft.Engine.table(s, dir, "nation")
    val store = new DeltaStore(s, s"$tmp/nation_store")
    store.writeBase(nation)
    val runner = new StatementRunner(s)
    runner.attach("stmt_nation_alt", store)
    runner.run("ALTER TABLE stmt_nation_alt ADD COLUMN n_note VARCHAR(32)")
    runner.run(
      "INSERT INTO stmt_nation_alt VALUES (900, 'ATLANTIS', 0, 'added')")
    runner.run(
      "UPDATE stmt_nation_alt SET n_note = 'old' WHERE n_nationkey < 5")
    runner.run("ALTER TABLE stmt_nation_alt DROP COLUMN n_regionkey")
    runner.run(
      "CREATE TABLE stmt_scratch AS SELECT * FROM stmt_nation_alt")
    runner.run("TRUNCATE TABLE stmt_scratch")
    val truncated = runner.run(
      "SELECT COUNT(*) AS truncated_rows FROM stmt_scratch")
    runner.run("SELECT n_nationkey, n_name, n_note FROM stmt_nation_alt")
      .crossJoin(truncated)
  }

  val qSqlAlterTableSql: String =
    """SELECT n_nationkey, n_name,
      |  CASE WHEN n_nationkey < 5 THEN 'old' ELSE NULL END AS n_note,
      |  CAST(0 AS BIGINT) AS truncated_rows
      |FROM nation
      |UNION ALL
      |SELECT CAST(900 AS INT), 'ATLANTIS', 'added', CAST(0 AS BIGINT)""".stripMargin

  /** The verbatim MTR opening flow as statement text (every reference
    * test starts this way — e.g. ssb_small.test:12-42): CREATE TABLE
    * with column definitions + PRIMARY KEY → INSERT … SELECT fills it →
    * INSERT IGNORE dedups against the PK (one colliding key skipped,
    * one new key kept) → SELECT reads it back. Oracle = the same
    * relational content from the original table. */
  def qSqlCreateTable(s: SparkSession, dir: String): DataFrame = {
    graft.Engine.table(s, dir, "supplier")
      .createOrReplaceTempView("stmt_ct_supplier_src")
    val runner = new StatementRunner(s)
    runner.run(
      """CREATE TABLE stmt_ct (
        |  sk BIGINT NOT NULL,
        |  sname TEXT,
        |  nat INT,
        |  bal DOUBLE,
        |  PRIMARY KEY (sk)
        |) ENGINE=TIANMU""".stripMargin)
    runner.run(
      """INSERT INTO stmt_ct
        |SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM stmt_ct_supplier_src""".stripMargin)
    runner.run("INSERT IGNORE INTO stmt_ct VALUES " +
      "(1, 'DUPLICATE — MUST NOT APPEAR', 0, 0.0), " +
      "(900001, 'FRESH#900001', 3, 42.5)")
    runner.run("SELECT sk, sname, nat, bal FROM stmt_ct")
  }

  val qSqlCreateTableSql: String =
    """SELECT s_suppkey AS sk, s_name AS sname, s_nationkey AS nat,
      |  s_acctbal AS bal
      |FROM supplier
      |UNION ALL
      |SELECT CAST(900001 AS BIGINT), 'FRESH#900001', CAST(3 AS INT),
      |  42.5""".stripMargin

  /** The MySQL type-semantics stack end-to-end as ONE deterministic
    * statement flow (out_of_range_issue1151 / bit_type /
    * empty_string_not_null / auto_increment tiers composed):
    * AUTO_INCREMENT assignment, TINYINT UNSIGNED's true range, BIT(8)
    * with a b'' literal, VARCHAR(4) cap, DEFAULT literals, NOT NULL
    * implicit defaults — strict inserts land exact values and the
    * IGNORE insert exercises every downgrade at once (clamp ×2,
    * truncate, implicit '' for NOT NULL, auto-assigned id). The whole
    * table is statement-built, so the oracle is a pure VALUES literal
    * replay of MySQL's documented results. */
  def qSqlStrictTypes(s: SparkSession, dir: String): DataFrame = {
    val runner = new StatementRunner(s)
    runner.run(
      """CREATE TABLE stmt_strict (
        |  id INT NOT NULL AUTO_INCREMENT PRIMARY KEY,
        |  t8 TINYINT UNSIGNED,
        |  w BIT(8),
        |  s4 VARCHAR(4),
        |  n INT DEFAULT 7,
        |  r TEXT NOT NULL DEFAULT 'req'
        |)""".stripMargin)
    runner.run("INSERT INTO stmt_strict (t8, w, s4) VALUES " +
      "(255, b'1010', 'abcd')")
    runner.run("INSERT INTO stmt_strict SET t8 = 0")
    runner.run("INSERT IGNORE INTO stmt_strict VALUES " +
      "(NULL, 300, 256, 'toolong', NULL, NULL)")
    runner.run("SELECT id, t8, w, s4, n, r FROM stmt_strict")
  }

  val qSqlStrictTypesSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INT), CAST(255 AS SMALLINT), CAST(10 AS BIGINT),
      |   'abcd', CAST(7 AS INT), 'req'),
      |  (CAST(2 AS INT), CAST(0 AS SMALLINT), CAST(NULL AS BIGINT),
      |   CAST(NULL AS VARCHAR), CAST(7 AS INT), 'req'),
      |  (CAST(3 AS INT), CAST(255 AS SMALLINT), CAST(255 AS BIGINT),
      |   'tool', CAST(NULL AS INT), '')
      |) AS t(id, t8, w, s4, n, r)""".stripMargin

  /** Strict-insert DEFAULT semantics end-to-end — the insert.test:79-96
    * flow that regressed in round 15, now oracle-gated so it cannot
    * regress silently again: multi-row `VALUES (DEFAULT,…)` against an
    * AUTO_INCREMENT PK assigns 1,2,5 around an explicit 4 (the NULL
    * cell must survive the non-strict clamp), `INSERT … SET x=default`
    * continues the counter, a zero timestamp stores as the zero-date
    * sentinel, and `SET SQL_MODE='TRADITIONAL'` implies strict so an
    * omitted NOT-NULL-no-default column raises ER_NO_DEFAULT_FOR_FIELD
    * (insert_update.test:72-76). */
  def qSqlInsertDefaults(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val r = new StatementRunner(s)
    r.run("SET sql_mode = 'NO_ENGINE_SUBSTITUTION'")
    r.run("""CREATE TABLE stmt_ins_def (
      |  a int not null auto_increment,
      |  primary key (a),
      |  t timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
      |  c char(10) default "hello", i int) engine=tianmu""".stripMargin)
    r.run("""insert into stmt_ins_def values
      | (default,default,default,default),
      | (default,default,default,default),
      | (4,0,"a",5),
      | (default,default,default,default)""".stripMargin)
    r.run("insert into stmt_ins_def set a=default,t=default,c=default,i=default")
    r.run("SET SQL_MODE = 'TRADITIONAL'")
    r.run("CREATE TABLE stmt_ins_req (a INT PRIMARY KEY, b INT NOT NULL)")
    val strictErr =
      try { r.run("INSERT INTO stmt_ins_req (a) VALUES (1)"); 0 }
      catch { case _: Exception => 1 }
    r.run("""select a,
      |  case when t > '1971-01-01' then 1 else 0 end as t_pos, c, i
      |from stmt_ins_def""".stripMargin)
      .withColumn("strict_err", lit(strictErr))
  }

  val qSqlInsertDefaultsSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INT), 1, 'hello', CAST(NULL AS INT), 1),
      |  (CAST(2 AS INT), 1, 'hello', CAST(NULL AS INT), 1),
      |  (CAST(4 AS INT), 0, 'a',     CAST(5 AS INT),    1),
      |  (CAST(5 AS INT), 1, 'hello', CAST(NULL AS INT), 1),
      |  (CAST(6 AS INT), 1, 'hello', CAST(NULL AS INT), 1)
      |) AS t(a, t_pos, c, i, strict_err)""".stripMargin

  /** The unsigned-BIGINT range split, pinned as a gate so the round-16
    * decision cannot silently flip again (out_of_range_issue1151.test +
    * unsigned_type.test): a default-engine (tianmu) table caps
    * `BIGINT UNSIGNED` at the SIGNED int64 max — the reference stores
    * one int64 cell per value and raises 1264 for 2^63..2^64-1 (its
    * issue #1236) — while an `engine=innodb` side table keeps MySQL's
    * full u64 range, exactly the mixed-engine split the reference's own
    * suite uses. The oracle is a literal replay of both branches. */
  def qSqlUnsignedCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val r = new StatementRunner(s)
    r.run("create table cap_tm (d bigint unsigned)")
    r.run("insert into cap_tm values (0), (9223372036854775807)")
    val tmErr =
      try { r.run("insert into cap_tm values (9223372036854775808)"); 0 }
      catch { case _: IllegalArgumentException => 1 }
    r.run("create table cap_inno (d bigint unsigned) engine=innodb")
    r.run("insert into cap_inno values (0), (18446744073709551615)")
    val innoErr =
      try { r.run("insert into cap_inno values (18446744073709551616)"); 0 }
      catch { case _: IllegalArgumentException => 1 }
    // `mx` travels as STRING: a DECIMAL(20,0) at u64 magnitude is
    // cell-identical in parquet and DuckDB but exceeds 2^53, where the
    // driver's value hasher has representation slack (r17 verdict) —
    // the digit string is representation-exact on both sides
    r.run("select count(*) as n, cast(max(d) as char) as mx from cap_tm")
      .withColumn("eng", lit("tianmu"))
      .withColumn("overflow_rejected", lit(tmErr))
      .unionByName(
        r.run(
          "select count(*) as n, cast(max(d) as char) as mx from cap_inno")
          .withColumn("eng", lit("innodb"))
          .withColumn("overflow_rejected", lit(innoErr)))
      .select("eng", "n", "mx", "overflow_rejected")
  }

  val qSqlUnsignedCapSql: String =
    """SELECT * FROM (VALUES
      |  ('tianmu', CAST(2 AS BIGINT), '9223372036854775807', 1),
      |  ('innodb', CAST(2 AS BIGINT), '18446744073709551615', 1)
      |) AS t(eng, n, mx, overflow_rejected)""".stripMargin

  /** Stored SQL functions end-to-end with VALUE parity (issue538.test's
    * shapes — the MTR pin checks success/error only, this gate hashes
    * the rows): an expression-bodied lookup function called in a
    * projection AND inside a LEFT JOIN ON condition (hoisted to a
    * LATERAL column by the runner), against a statement-built table
    * seeded from nation. The oracle replays the function relationally
    * (sf_sal(b.id) ≡ b.sal — id is unique by construction). */
  def qSqlStoredFunc(s: SparkSession, dir: String): DataFrame = {
    graft.Engine.table(s, dir, "nation")
      .createOrReplaceTempView("stmt_sf_nation")
    val r = new StatementRunner(s)
    r.run("CREATE TABLE sf_emp (id INT, name VARCHAR(40), sal INT)")
    r.run("INSERT INTO sf_emp SELECT n_nationkey, n_name, " +
      "1000 + n_regionkey * 100 FROM stmt_sf_nation")
    r.run("CREATE FUNCTION sf_sal(i INT) RETURNS INT " +
      "RETURN (SELECT sal FROM sf_emp WHERE id = i)")
    r.run("""SELECT a.id, sf_sal(a.id) AS own_sal, b.name AS match_name
            |FROM sf_emp a
            |LEFT JOIN sf_emp b
            |  ON a.sal = sf_sal(b.id) AND b.id < 5""".stripMargin)
  }

  val qSqlStoredFuncSql: String =
    """WITH emp AS (
      |  SELECT CAST(n_nationkey AS INT) AS id, n_name AS name,
      |    CAST(1000 + n_regionkey * 100 AS INT) AS sal
      |  FROM nation)
      |SELECT a.id, a.sal AS own_sal, b.name AS match_name
      |FROM emp a LEFT JOIN emp b
      |  ON a.sal = b.sal AND b.id < 5""".stripMargin

  /** The stored-routine interpreter with VALUE parity: every probe
    * value below is a literal from the reference's own goldens
    * (r/user_function.result, r/procedure.result) — DECLARE/SET,
    * IF/ELSEIF, CASE statements, WHILE/REPEAT/LOOP with labeled
    * LEAVE/ITERATE, SELECT…INTO fallthrough, decimal ROUND scale,
    * and OUT/INOUT CALL write-back. */
  def qSqlProcFlow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = new StatementRunner(s)
    def one(sql: String): String =
      String.valueOf(r.run(sql).collect()(0).get(0))
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    r.run("create table pf_test(num int, price int)")
    r.run("insert into pf_test values (3,5)")
    r.run("""create function pf_myfun(idx int) returns int
      begin
        declare res int;
        declare num1, num2 int default 27;
        declare data1, data2 int;
        set num2 = 23, res = num1 + num2;
        set data1 = 1, data2 = 1;
        select num, price into data1, data2 from pf_test where num = idx;
        set res := res * (data1 + data2);
        return (res);
      end""")
    out += (("myfuntest_5", one("select pf_myfun(5)")))
    r.run("""create function pf_getsum(num int) returns int
      begin
        declare i,sum int default 0;
        while (i<=num) do
          set sum = sum + i;
          set i = i + 1;
        end while;
        return sum;
      end""")
    out += (("getsum_10", one("select pf_getsum(10)")))
    r.run("""CREATE FUNCTION pf_cmp(n INT, m INT) RETURNS VARCHAR(20)
      BEGIN
        DECLARE s VARCHAR(20);
        IF n > m THEN SET s = '>';
        ELSEIF n = m THEN SET s = '=';
        ELSE SET s = '<';
        END IF;
        SET s = CONCAT(n, ' ', s, ' ', m);
        RETURN s;
      END""")
    out += (("simplecompare_1_6", one("select pf_cmp(1,6)")))
    out += (("simplecompare_6_6", one("select pf_cmp(6,6)")))
    r.run("""CREATE FUNCTION pf_case(a int) returns int
      BEGIN
        DECLARE v INT DEFAULT 1;
        set v = a;
        CASE v
          WHEN 2 THEN return v;
          WHEN 3 THEN return 0;
          ELSE
            BEGIN
              return 8;
            END;
        END CASE;
      END""")
    out += (("pro_test_3", one("select pf_case(3)")))
    out += (("pro_test_5", one("select pf_case(5)")))
    r.run("""create function pf_iter() returns varchar(255)
      begin
        declare i,j int default 0;
        loop1: while (i<=5) do
          set i = i + 1;
          set j = 0;
          while (j<=i) do
            if(j = 3) then
              iterate loop1;
            end if;
            set j = j + 1;
          end while;
        end while loop1;
        return concat('i: ', i, ' j:', j);
      end""")
    out += (("testiterate", one("select pf_iter()")))
    r.run("""CREATE PROCEDURE pf_repeat()
      BEGIN
        DECLARE x INT;
        DECLARE str VARCHAR (255);
        SET x = 1;
        SET str = '';
        REPEAT
          SET str = CONCAT(str, x, ',');
          SET x = x + 1;
        UNTIL x > 5
        END REPEAT;
        SELECT str;
      END""")
    out += (("repeat_str", one("call pf_repeat()")))
    r.run("CREATE PROCEDURE pf_out(OUT o INT) DETERMINISTIC NO SQL SET o = 5")
    r.run("CREATE PROCEDURE pf_inout(INOUT o INT) NO SQL SET o = o * 7")
    r.run("SET @pf_v = 3")
    r.run("call pf_out(@pf_v)")
    r.run("call pf_inout(@pf_v)")
    out += (("out_inout", one("select @pf_v")))
    out.toSeq.toDF("probe", "val")
  }

  val qSqlProcFlowSql: String =
    """SELECT * FROM (VALUES
      |  ('myfuntest_5', '100'),
      |  ('getsum_10', '55'),
      |  ('simplecompare_1_6', '1 < 6'),
      |  ('simplecompare_6_6', '6 = 6'),
      |  ('pro_test_3', '0'),
      |  ('pro_test_5', '8'),
      |  ('testiterate', 'i: 6 j:3'),
      |  ('repeat_str', '1,2,3,4,5,'),
      |  ('out_inout', '35')
      |) AS t(probe, val)""".stripMargin

  /** The trigger engine with VALUE parity against r/trigger.result:
    * BEFORE INSERT accumulation, the ON-DUPLICATE @log interleave,
    * statement atomicity on a mid-batch trigger error, BEFORE-UPDATE
    * NEW mutation, UPDATE IGNORE suppressing the AFTER trigger, and
    * per-processed-row AFTER UPDATE firing. */
  def qSqlTriggerFire(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = new StatementRunner(s)
    r.run("SET SESSION tianmu_no_key_error=ON")
    def one(sql: String): String =
      String.valueOf(r.run(sql).collect()(0).get(0))
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // BEFORE INSERT accumulation (trigger.result:11-16)
    r.run("CREATE TABLE tf_acct (acct_num INT, amount DECIMAL(10,2))")
    r.run("CREATE TRIGGER tf_ins_sum BEFORE INSERT ON tf_acct " +
      "FOR EACH ROW SET @tf_sum = @tf_sum + NEW.amount")
    r.run("SET @tf_sum = 0")
    r.run("INSERT INTO tf_acct VALUES(137,14.98),(141,1937.50),(97,-100.00)")
    out += (("sum_inserted", one("select @tf_sum")))
    // ODKU interleave (trigger.result:120-152)
    r.run("create table tf_t1 (id int not null primary key, data int)")
    r.run("""create trigger tf_bi before insert on tf_t1 for each row
      set @tf_log:= concat(@tf_log, "(BI:", new.id, ",", new.data, ")")""")
    r.run("""create trigger tf_ai after insert on tf_t1 for each row
      set @tf_log:= concat(@tf_log, "(AI:", new.id, ",", new.data, ")")""")
    r.run("""create trigger tf_bu before update on tf_t1 for each row
      set @tf_log:= concat(@tf_log, "(BU:", old.data, ">", new.data, ")")""")
    r.run("""create trigger tf_au after update on tf_t1 for each row
      set @tf_log:= concat(@tf_log, "(AU:", old.data, ">", new.data, ")")""")
    r.run("set @tf_log:= ''")
    r.run("insert into tf_t1 values (1, 1)")
    r.run("insert ignore tf_t1 values (1, 2)")
    r.run("insert into tf_t1 (id, data) values (1, 3), (2, 2) " +
      "on duplicate key update data= data + 1")
    out += (("odku_log", one("select @tf_log")))
    // statement atomicity (trigger.result:168-205)
    r.run("create table tf_m (id int primary key, data varchar(10), fk int)")
    r.run("create table tf_ev (event varchar(100))")
    r.run("create table tf_fk (id int primary key)")
    r.run("""create trigger tf_m_bi before insert on tf_m for each row
      begin
        if exists (select id from tf_fk where id=new.fk) then
          insert into tf_ev values (concat("ok id=", new.id));
        else
          insert into tf_ev values (concat("fail id=", new.id));
          set new.id= NULL;
        end if;
      end""")
    r.run("insert into tf_fk values (1)")
    val rolledBack =
      try { r.run("""insert into tf_m values (4, "four", 1), (5, "five", 2)"""); 0 }
      catch { case _: Exception => 1 }
    out += (("bad_null_rejected", rolledBack.toString))
    out += (("rollback_rows", one("select count(*) from tf_m")))
    out += (("rollback_events", one("select count(*) from tf_ev")))
    // BEFORE UPDATE mutates NEW; AFTER UPDATE fires per processed row
    r.run("create table tf_u (i int, j int)")
    r.run("insert into tf_u values (1,2),(2,3),(3,14)")
    r.run("""create trigger tf_u_bu before update on tf_u for each row
      begin
        if old.i % 2 = 0 then
          set new.j := -1;
        end if;
      end""")
    r.run("create trigger tf_u_au after update on tf_u for each row " +
      "set @tf_n = @tf_n + 1")
    r.run("set @tf_n = 0")
    r.run("update tf_u set j = 20")
    out += (("upd_fired", one("select @tf_n")))
    out += (("upd_j_sum", one("select sum(j) from tf_u")))
    // UPDATE IGNORE pk collision: skipped row, AFTER not fired
    r.run("create table tf_pk (a int primary key)")
    r.run("insert into tf_pk values (1), (2)")
    r.run("create trigger tf_pk_au after update on tf_pk for each row " +
      "set @tf_pk_fired = @tf_pk_fired + 1")
    r.run("set @tf_pk_fired = 0")
    r.run("UPDATE IGNORE tf_pk SET a=2 WHERE a=1")
    out += (("upd_ignore_fired", one("select @tf_pk_fired")))
    out += (("upd_ignore_rows", one("select count(distinct a) from tf_pk")))
    out.toSeq.toDF("probe", "val")
  }

  val qSqlTriggerFireSql: String =
    """SELECT * FROM (VALUES
      |  ('sum_inserted', '1852.48'),
      |  ('odku_log',
      |   '(BI:1,1)(AI:1,1)(BI:1,2)(BI:1,3)(BU:1>2)(AU:1>2)(BI:2,2)(AI:2,2)'),
      |  ('bad_null_rejected', '1'),
      |  ('rollback_rows', '0'),
      |  ('rollback_events', '0'),
      |  ('upd_fired', '3'),
      |  ('upd_j_sum', '39'),
      |  ('upd_ignore_fired', '0'),
      |  ('upd_ignore_rows', '2')
      |) AS t(probe, val)""".stripMargin

  /** MySQL's multi-table DML statement forms end-to-end (the handler
    * path the reference routes through sql/ha_my_tianmu.cpp join-DML;
    * update_join.test / delete_join.test): a join-UPDATE stamps each
    * nation's comment with its region name, then a multi-target DELETE
    * drops one region's nations. The oracle replays both as join
    * algebra over the original tables. */
  def qSqlMultiTableDml(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-mtdml-gate").toString
    val nStore = new DeltaStore(s, s"$tmp/nation_store")
    nStore.writeBase(graft.Engine.table(s, dir, "nation"))
    val rStore = new DeltaStore(s, s"$tmp/region_store")
    rStore.writeBase(graft.Engine.table(s, dir, "region"))
    val runner = new StatementRunner(s)
    runner.attach("stmt_mt_nation", nStore)
    runner.attach("stmt_mt_region", rStore)
    runner.run(
      """UPDATE stmt_mt_nation JOIN stmt_mt_region
        |  ON n_regionkey = r_regionkey
        |SET stmt_mt_nation.n_name = stmt_mt_region.r_name""".stripMargin)
    runner.run(
      """DELETE stmt_mt_nation FROM stmt_mt_nation, stmt_mt_region
        |WHERE n_regionkey = r_regionkey AND r_name = 'ASIA'""".stripMargin)
    runner.run(
      """SELECT n_name AS region_name, COUNT(*) AS n
        |FROM stmt_mt_nation GROUP BY n_name""".stripMargin)
  }

  val qSqlMultiTableDmlSql: String =
    """SELECT r.r_name AS region_name, COUNT(*) AS n
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name <> 'ASIA'
      |GROUP BY r.r_name""".stripMargin

  /** Session-statement surface: user variables substitute into later
    * statements, `INSERT … SELECT … ON DUPLICATE KEY UPDATE` merges a
    * query batch into a keyed store (insert_update.test), and
    * PREPARE/EXECUTE replays recorded text. The oracle replays the
    * upsert as left-join algebra over region. */
  def qSqlSessionForms(s: SparkSession, dir: String): DataFrame = {
    graft.Engine.table(s, dir, "region")
      .createOrReplaceTempView("stmt_sess_region_src")
    val runner = new StatementRunner(s)
    runner.run("CREATE TABLE stmt_sess_t (k INT PRIMARY KEY, " +
      "v VARCHAR(30))")
    runner.run("INSERT INTO stmt_sess_t VALUES (1,'a'),(2,'b')")
    runner.run("SET @suffix = '_x'")
    runner.run(
      """INSERT INTO stmt_sess_t
        |SELECT r_regionkey, concat(r_name, @suffix)
        |FROM stmt_sess_region_src WHERE r_regionkey < 4
        |ON DUPLICATE KEY UPDATE v = concat(VALUES(v), '!')""".stripMargin)
    runner.run("PREPARE sess_q FROM 'SELECT k, v FROM stmt_sess_t'")
    runner.run("EXECUTE sess_q")
  }

  val qSqlSessionFormsSql: String =
    """WITH sel AS (
      |  SELECT CAST(r_regionkey AS INT) AS k, r_name || '_x' AS v
      |  FROM region WHERE r_regionkey < 4
      |), base(k, v) AS (VALUES (1, 'a'), (2, 'b')),
      |updated AS (
      |  SELECT b.k,
      |    CASE WHEN s.k IS NOT NULL THEN s.v || '!' ELSE b.v END AS v
      |  FROM base b LEFT JOIN sel s ON b.k = s.k
      |), inserted AS (
      |  SELECT k, v FROM sel WHERE k NOT IN (SELECT k FROM base)
      |)
      |SELECT k, v FROM updated
      |UNION ALL SELECT k, v FROM inserted""".stripMargin

  /** Value parity against the reference's OWN golden `.result` files,
    * promoted into the driver-visible gate surface (r17 verdict task):
    * a pinned subset of the MTR corpus replays end to end and every
    * deterministic SELECT's rows are compared cell-for-cell with the
    * golden block ([[MtrParity.sweep]]). The oracle pins the exact
    * (file, blocks_compared, mismatches) counts, so a value-parity
    * regression — or silently shrunken coverage — flips the gate red
    * in CORRECTNESS_rN instead of hiding in a test-tree report. The
    * full-corpus picture stays with `MtrValueSweep` (test tree). */
  def qSqlMtrValueParity(s: SparkSession, dir: String): DataFrame = {
    val files = Seq("alter_column.test", "convert_conv_func.test",
      "escape.test", "func_math.test", "md5_function.test",
      "std_test.test", "time_function.test",
      // round 19 additions — the burned-down residue classes stay
      // driver-visible (zero-date display, double-domain comparisons,
      // loose date-literal grammar, trailing-delimiter loads)
      "issue682.test", "issue959.test", "range.test",
      "unsigned_join.test")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = files.map(f => scala.concurrent.Future(
      (f, MtrParity.sweep(f, MtrParity.statementSession(s)))))
    val rows =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(20, "min"))
      finally pool.shutdown()
    import s.implicits._
    rows.map { case (f, r) => (f, r.compared, r.mismatches.length) }
      .toDF("file", "blocks_compared", "mismatches")
  }

  val qSqlMtrValueParitySql: String =
    """SELECT * FROM (VALUES
      |  ('alter_column.test', 3, 0),
      |  ('convert_conv_func.test', 18, 0),
      |  ('escape.test', 25, 0),
      |  ('func_math.test', 16, 0),
      |  ('issue682.test', 29, 0),
      |  ('issue959.test', 37, 0),
      |  ('md5_function.test', 7, 0),
      |  ('range.test', 124, 0),
      |  ('std_test.test', 52, 0),
      |  ('time_function.test', 7, 0),
      |  ('unsigned_join.test', 5, 0)
      |) AS t(file, blocks_compared, mismatches)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_mtr_value_parity" -> (qSqlMtrValueParity _),
    "q_sql_multi_table_dml" -> (qSqlMultiTableDml _),
    "q_sql_session_forms" -> (qSqlSessionForms _),
    "q_sql_statement_roundtrip" -> (qSqlStatementRoundtrip _),
    "q_sql_select_roughly" -> (qRoughSqlStatement _),
    "q_sql_dml_statements" -> (qSqlDmlStatements _),
    "q_sql_insert_select" -> (qSqlInsertSelect _),
    "q_sql_replace_upsert" -> (qSqlReplaceUpsert _),
    "q_sql_alter_table" -> (qSqlAlterTable _),
    "q_sql_create_table" -> (qSqlCreateTable _),
    "q_sql_strict_types" -> (qSqlStrictTypes _),
    "q_sql_insert_defaults" -> (qSqlInsertDefaults _),
    "q_sql_unsigned_cap" -> (qSqlUnsignedCap _),
    "q_sql_stored_func" -> (qSqlStoredFunc _),
    "q_sql_proc_flow" -> (qSqlProcFlow _),
    "q_sql_trigger_fire" -> (qSqlTriggerFire _))

  val oracles: Map[String, String] = Map(
    "q_sql_mtr_value_parity" -> qSqlMtrValueParitySql,
    "q_sql_multi_table_dml" -> qSqlMultiTableDmlSql,
    "q_sql_session_forms" -> qSqlSessionFormsSql,
    "q_sql_statement_roundtrip" -> qSqlStatementRoundtripSql,
    "q_sql_select_roughly" -> qRoughSqlStatementSql,
    "q_sql_dml_statements" -> qSqlDmlStatementsSql,
    "q_sql_insert_select" -> qSqlInsertSelectSql,
    "q_sql_replace_upsert" -> qSqlReplaceUpsertSql,
    "q_sql_alter_table" -> qSqlAlterTableSql,
    "q_sql_create_table" -> qSqlCreateTableSql,
    "q_sql_strict_types" -> qSqlStrictTypesSql,
    "q_sql_insert_defaults" -> qSqlInsertDefaultsSql,
    "q_sql_unsigned_cap" -> qSqlUnsignedCapSql,
    "q_sql_stored_func" -> qSqlStoredFuncSql,
    "q_sql_proc_flow" -> qSqlProcFlowSql,
    "q_sql_trigger_fire" -> qSqlTriggerFireSql)
}
