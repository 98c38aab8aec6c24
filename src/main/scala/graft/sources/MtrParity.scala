package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.FiniteDuration
import scala.util.Try

/** The one harness for the reference's own MTR corpus
  * (mysql-test/suite/tianmu — the reference's CI suite): it parses an
  * MTR `.test` file into statements, prepares a [[StatementRunner]]
  * the way MTR prepares the server, and either replays the file with
  * success/error parity ([[replay]]) or compares every deterministic
  * SELECT's rows cell-for-cell (multiset, MySQL-rendered,
  * numeric-tolerant for the float-print variants) with the block the
  * golden `.result` records ([[sweep]]).
  *
  * Lives in the MAIN tree so the driver-facing gate surface
  * (`q_sql_mtr_value_parity`) can pin parity counts in the per-round
  * correctness artifact; MtrReplaySpec, MtrValueSpec and the
  * `graft.MtrTool` dev main in the test tree all call it.
  */
object MtrParity {
  /** The reference checkout's mysql-test tree: the one corpus root. */
  val MysqlTestDir = "/root/reference/mysql-test"
  val MtrDir = s"$MysqlTestDir/suite/tianmu/t"
  val ResDir = s"$MysqlTestDir/suite/tianmu/r"
  private val StdDataDirs =
    Seq(s"$MysqlTestDir/std_data", s"$MysqlTestDir/suite/tianmu/std_data")

  /** Every corpus consumer calls this first: an absent corpus fails
    * once, naming the directory, instead of once per file. */
  def requireCorpus(): Unit =
    if (!new java.io.File(MtrDir).isDirectory)
      throw new java.io.FileNotFoundException(
        s"MTR corpus not found: $MtrDir")

  /** The checked-in fixture a relative INFILE path names, if present:
    * MTR resolves such paths against the suite's test dir, and the
    * std_data suffix re-roots under the std_data trees
    * (`../../std_data/tianmu/loadfile` → mysql-test/std_data/tianmu/
    * loadfile, load.test). */
  def corpusFixture(path: String): Option[java.io.File] = {
    val at = path.indexOf("std_data/")
    val underStdData = if (at < 0) Nil else StdDataDirs.map(
      new java.io.File(_, path.substring(at + "std_data/".length)))
    (new java.io.File(MtrDir, path) +: underStdData).find(_.exists())
  }

  /** Lines of a corpus file. Some reference files carry GBK-encoded
    * comment bytes (hash_join.test) — replace rather than abort. */
  private def readLines(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE))
    try src.getLines().toVector finally src.close()
  }

  /** A fresh isolated session tuned for the STATEMENT tier: thousands
    * of sub-second queries over KB-sized tables. AQE is OFF — its
    * stage-by-stage materialization protocol (submit shuffle stage →
    * wait on the event queue → re-optimize → next stage) adds several
    * driver round-trips to every tiny query, and a thread dump of a
    * replay showed the runner parked in
    * `AdaptiveSparkPlanExec.withFinalPlanUpdate` most of the wall time
    * (r19: the driver's `sbt test` died on wall-clock mid-sweep; A/B
    * on range.test serial: 66 → 16 s replay). Two shuffle partitions
    * instead of cores: a 5-row GROUP BY does not need 16 reduce tasks.
    * Semantics are unchanged — AQE and the partition count are
    * execution-strategy knobs; the statement tier's scan-order
    * contract is pinned by DeltaStore's single-file write discipline,
    * not by scheduler partitioning. The ANALYTIC gates keep AQE: this
    * helper is only wired into the MTR/statement surfaces. */
  def statementSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }

  /** `f` over `files` on `threads` threads, each file in its own
    * [[statementSession]] of `spark`. Files start in the order given
    * (callers put the longest first); results keep that order. */
  def overFiles[A](spark: SparkSession, files: Seq[String], threads: Int,
                   timeout: FiniteDuration)(
      f: (String, SparkSession) => A): Seq[(String, Try[A])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(files)(file =>
      Future((file, Try(f(file, statementSession(spark)))))), timeout)
    finally pool.shutdown()
  }

  /** Statements whose output is inherently nondeterministic or
    * session-dependent — never value-compared. */
  private val NonDeterministic =
    ("""(?is)\b(now|curdate|curtime|current_date|current_time|""" +
      """current_timestamp|sysdate|rand|uuid|uuid_short|user|""" +
      """current_user|session_user|system_user|version|connection_id|""" +
      """database|schema|benchmark|sleep|found_rows|row_count|""" +
      """last_insert_id|get_lock|release_lock)\s*\(|@|\binformation_schema\b""").r

  case class Mismatch(stmt: String, expected: Seq[String], actual: Seq[String])
  /** `skippedFixture` counts SELECT blocks over a table whose LOAD DATA
    * source file is physically absent from this checkout (environment,
    * not semantics — bigdata4load.txt is not shipped); `skippedSkew`
    * counts blocks over a table whose DML statement is absent from the
    * golden echo stream (the `.result` predates a `.test` edit — e.g.
    * auto_increment.test's unsigned inserts were halved after recording,
    * so the golden rows derive from statements that no longer run). */
  case class SweepResult(compared: Int, mismatches: Seq[Mismatch],
                         skippedFixture: Int = 0, skippedSkew: Int = 0)

  /** Tables a DML statement writes (taint tracking for the two
    * skip classifications above). */
  private val DmlTargetRes = List(
    """(?is)^\s*insert\s+(?:ignore\s+)?(?:into\s+)?`?(\w+)`?""".r,
    """(?is)^\s*replace\s+(?:into\s+)?`?(\w+)`?""".r,
    """(?is)^\s*update\s+(?:ignore\s+)?`?(\w+)`?""".r,
    """(?is)^\s*delete\s.*?\bfrom\s+`?(\w+)`?""".r,
    """(?is)\bload\s+data\s.*?\binto\s+table\s+`?(\w+)`?""".r,
    """(?is)^\s*alter\s+table\s+`?(\w+)`?""".r)
  private def dmlTargets(stmt: String): Seq[String] =
    DmlTargetRes.flatMap(_.findFirstMatchIn(stmt).map(_.group(1).toLowerCase))
  private val CreateTableRe =
    """(?is)^\s*create\s+(?:temporary\s+)?table\s+(?:if\s+not\s+exists\s+)?`?(\w+)`?""".r
  private val DropTableRe =
    """(?is)^\s*drop\s+(?:temporary\s+)?table\s+(?:if\s+exists\s+)?(.+)$""".r
  private val TruncateRe =
    """(?is)^\s*truncate\s+(?:table\s+)?`?(\w+)`?""".r
  private val DropDbRe = """(?is)^\s*drop\s+database\b""".r
  private val LoadInfileRe = """(?is)\binfile\s+'([^']+)'""".r

  /** mysqltest control flow: `let $x = n` / `inc` / `dec` counters and
    * `while ($x) { … }` blocks expand STATICALLY, with `$var`
    * substitution applied to the emitted lines (insert.test's
    * disable_query_log loops insert 100×5 rows — the golden
    * `count(*)` pins 500, so the loop body must actually repeat). A
    * file without a `while` comes back unchanged. */
  def expandControlFlow(lines: Vector[String]): Vector[String] = {
    if (!lines.exists(l =>
        """(?i)^\s*while\s*\(""".r.findFirstIn(l).isDefined)) return lines
    val LetRe = """(?i)^-{0,2}\s*let\s+\$(\w+)\s*=\s*(-?\d+)\s*;?\s*$""".r
    val IncRe = """(?i)^-{0,2}\s*(inc|dec)\s+\$(\w+)\s*;?\s*$""".r
    val WhileRe = """(?i)^-{0,2}\s*while\s*\(\s*\$(\w+)\s*\)\s*\{?\s*$""".r
    val vars = scala.collection.mutable.Map[String, Long]()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var emitted = 0L
    def subst(l: String): String =
      """\$(\w+)""".r.replaceAllIn(l, m =>
        vars.get(m.group(1)).map(_.toString)
          .getOrElse(java.util.regex.Matcher.quoteReplacement(m.matched)))
    // find the line index just past the matching close brace of a block
    // whose open brace is at (or after) `from`
    def blockEnd(from: Int): (Int, Int) = {
      var i = from
      while (i < lines.length && !lines(i).trim.startsWith("{")) i += 1
      var depth = 0
      var start = -1
      while (i < lines.length) {
        val t = lines(i).trim
        if (t.startsWith("{")) { depth += 1; if (start < 0) start = i }
        else if (t.startsWith("}")) {
          depth -= 1
          if (depth == 0) return (start, i)
        }
        i += 1
      }
      (start, lines.length)
    }
    def run(from: Int, to: Int): Unit = {
      var i = from
      while (i < to) {
        val t = lines(i).trim
        t match {
          case LetRe(x, v) => vars(x.toLowerCase) = v.toLong; i += 1
          case IncRe(op, x) =>
            val k = x.toLowerCase
            vars(k) = vars.getOrElse(k, 0L) +
              (if (op.equalsIgnoreCase("inc")) 1 else -1)
            i += 1
          case WhileRe(x) =>
            val (bs, be) = blockEnd(i)
            val k = x.toLowerCase
            var guard = 0
            while (vars.getOrElse(k, 0L) != 0 && guard < 100000 &&
                emitted < 1000000) {
              run(bs + 1, be)
              guard += 1
            }
            i = be + 1
          case _ =>
            out += subst(lines(i))
            emitted += 1
            i += 1
        }
      }
    }
    run(0, lines.length)
    out.toVector
  }

  /** Parse the lines of an MTR `.test` file into (statement,
    * expectsError, quiet) triples the way the mysqltest client does:
    * `--error`/`-- error` marks the next statement, `delimiter X` /
    * `--delimiter X` switch the terminator (routine bodies stay ONE
    * statement), client commands and `/* … */` comments are dropped,
    * `;  # comment` still terminates, and `eval` substitutes
    * `$MYSQL_TEST_DIR`. `quiet` marks statements inside a
    * disable_query_log span: the golden never echoes them, so the
    * aligner must not search (a false hit would drag the cursor) and a
    * missing echo is NOT version skew. Control flow is not expanded
    * here: compose with [[expandControlFlow]]. */
  def parseMtr(lines: Seq[String]): Seq[(String, Boolean, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, Boolean)]()
    val cur = new StringBuilder
    var expectError = false
    var quiet = false
    var delim = ";"
    val ClientCmd =
      """(?i)^(connect\b|connection\b|disconnect\b|let\b|inc\b|dec\b|sleep\b|real_sleep\b|source\b|echo\b|exit\b|die\b|while\b|if\b|(?:disable|enable)_\w+\b|\{|\})""".r
    val DelimiterCmd = """(?i)^delimiter\s+(\S+).*$""".r
    var inBlockComment = false
    lines.foreach { rawLine =>
      var line = rawLine
      if (inBlockComment) {
        val end = line.indexOf("*/")
        if (end >= 0) { line = line.substring(end + 2); inBlockComment = false }
        else line = ""
      }
      line = line.replaceAll("""/\*.*?\*/""", "")
      val openIdx = line.indexOf("/*")
      if (openIdx >= 0) { line = line.substring(0, openIdx); inBlockComment = true }
      val t = line.trim
      if (t.isEmpty) ()
      else if (t.startsWith("#")) {
        // an --error directive whose TARGET got commented out together
        // with it must expire — select.test leaves `-- error 1176`
        // above `#select … use index`, and the error would otherwise
        // leak onto the next live statement
        if ("""(?i)^#\s*(select|insert|update|delete|create|drop|alter|load|set|show)\b""".r
          .findFirstIn(t).isDefined) expectError = false
      }
      else if (t.startsWith("--")) {
        if (t.matches("(?i)--\\s*error\\b.*")) expectError = true
        else if (t.matches("(?i)--\\s*disable_query_log\\b.*")) quiet = true
        else if (t.matches("(?i)--\\s*enable_query_log\\b.*")) quiet = false
        else """(?i)^--\s*delimiter\s+(\S+)""".r.findFirstMatchIn(t)
          .foreach { m =>
            delim = m.group(1).stripSuffix(";") match {
              case "" => ";"; case x => x
            }
          }
      } else if (cur.isEmpty && DelimiterCmd.findFirstMatchIn(t).isDefined) {
        val d = DelimiterCmd.findFirstMatchIn(t).get.group(1)
        // `delimiter ;` (or `//;` while // is active) restores
        delim = d.stripSuffix(delim).stripSuffix(";") match {
          case "" => ";"; case x => x
        }
      } else if (cur.isEmpty && ClientCmd.findFirstIn(t).isDefined) {
        if ("""(?i)^disable_query_log\b""".r.findFirstIn(t).isDefined)
          quiet = true
        else if ("""(?i)^enable_query_log\b""".r.findFirstIn(t).isDefined)
          quiet = false
      }
      else {
        val effective =
          if (delim == ";") t.replaceFirst(";\\s*#[^'\"]*$", ";") else t
        cur.append(
          if (effective != t) line.replaceFirst(";\\s*#[^'\"]*$", ";")
          else line).append('\n')
        if (effective.endsWith(delim)) {
          val stmt = cur.toString.trim.stripSuffix(delim)
            .replaceFirst("(?is)^eval\\s+", "")
            .replace("$MYSQL_TEST_DIR", MysqlTestDir)
          out += ((stmt, expectError, quiet))
          cur.clear()
          expectError = false
        }
      }
    }
    out.toSeq
  }

  /** Files the reference DISABLES in its CI (disabled.def:
    * `trigger : bug_for_trigger`, issue364, issue581) because they
    * predate its tianmu trigger gate: CREATE TRIGGER on a tianmu table
    * is 3240 unless tianmu_no_key_error=ON (sql_trigger.cc:229-235).
    * Replaying them under the reference's own enabling flag is the
    * only way the scripts' pinned successes are reachable at all. */
  private val TriggerFlagFiles =
    Set("trigger.test", "issue364.test", "issue581.test")

  /** A runner over `session` prepared the way MTR prepares the server
    * for `file`: the trigger flag for [[TriggerFlagFiles]], then the
    * `<file>-master.opt` server flags (drop_index.test needs
    * tianmu_no_key_error=ON) as session SETs — the engine models them
    * as session variables. */
  private def runnerFor(file: String,
                        session: SparkSession): StatementRunner = {
    val runner = new StatementRunner(session)
    if (TriggerFlagFiles.contains(file))
      runner.run("SET SESSION tianmu_no_key_error=ON")
    val opt = new java.io.File(
      s"$MtrDir/${file.stripSuffix(".test")}-master.opt")
    if (opt.exists())
      readLines(opt.getPath).mkString("\n").split("--").map(_.trim)
        .filter(_.contains("=")).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          Try(runner.run(s"SET SESSION $k=$v").collect())
        }
    runner
  }

  /** Statements replay skips, counted: fixture and harness gaps, not
    * engine scope. Stored PROCEDUREs, procedural FUNCTION bodies,
    * TRIGGERs and CALL are all IN scope (sources/Procedural.scala — the
    * driver-side interpreter mirroring the reference's routing of
    * routines to the MySQL SQL layer, engine_execute.cpp:374-382). */
  private def outOfScope(stmt: String): Boolean =
    // LOAD fixtures absent from this reference checkout (LFS-tracked
    // bulk files, delete.test's bigdata4load.txt): the statement
    // cannot run ANYWHERE without them
    ("'(" + java.util.regex.Pattern.quote(MysqlTestDir) + "/[^']+)'").r
      .findFirstMatchIn(stmt)
      .exists(m => !new java.io.File(m.group(1)).exists()) ||
    // a relative INFILE fixture that resolves nowhere in the reference
    // trees (LFS-stripped, load.test's std_data/tianmu/loadfile) and
    // that no earlier OUTFILE wrote cannot run anywhere either
    """(?i)\bINFILE\s+'([^'$]+)'""".r.findFirstMatchIn(stmt).exists { m =>
      val p = m.group(1)
      !p.startsWith("/") && {
        val flat = p.replaceAll("[^\\w.-]+", "_").stripPrefix("_")
        // sandbox hits: the per-runner subdirectories
        // (target/mtr_io/<runner>/<flat>) plus the legacy flat path
        val io = new java.io.File("target/mtr_io")
        val sandboxHit = (io +: Option(io.listFiles()).toSeq.flatten)
          .exists(d => new java.io.File(d, flat).exists())
        !sandboxHit && corpusFixture(p).isEmpty
      }
    } ||
    // an UNQUOTED $var is an mysqltest harness variable (`let $i`
    // loops — issue1876.test): its value lives in harness control flow
    // replay does not interpret. Quoted ones ($MYSQLTEST_VARDIR paths)
    // still run — the IO sandbox resolves them. Only at word START:
    // `$i` is a harness variable, but `e$8b` is a legal MySQL
    // identifier with an embedded $ (create_db.test)
    """(?<!\w)\$\w+""".r.findFirstIn(
      stmt.replaceAll("'[^']*'|\"[^\"]*\"", "")).isDefined ||
    // `@x := …` INSIDE a query is MySQL's row-order-dependent
    // accumulator hack (issue1897/1903/1910, range.test:189) — no
    // relational analog (SURVEY §2.13); `SET @x := …` stays in scope,
    // and so do routine BODIES (the interpreter evaluates their :=
    // assignments itself — procedure.test's `select @sum:=(a+b)`)
    (!"""(?i)^\s*(SET|CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?(?:FUNCTION|PROCEDURE|TRIGGER)|CALL)\b""".r
      .findFirstIn(stmt).isDefined &&
      """@\w+\s*:=""".r.findFirstIn(
        stmt.replaceAll("'[^']*'|\"[^\"]*\"", "")).isDefined)

  /** `ran` counts executed statements, `skipped` the [[outOfScope]]
    * ones; each failure names its statement. */
  case class ReplayResult(ran: Int, skipped: Int, failures: Seq[String])

  /** Replay `file` statement for statement with success/error parity:
    * an unexpected success where an error is pinned, or any error
    * where success is pinned, is a failure. `stopAtFirst` ends the
    * replay at the first one. The statement stream is the file's own,
    * without control-flow expansion. */
  def replay(file: String, session: SparkSession,
             stopAtFirst: Boolean): ReplayResult = {
    val runner = runnerFor(file, session)
    val stmts = parseMtr(readLines(s"$MtrDir/$file"))
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var ran = 0
    var skipped = 0
    stmts.iterator.takeWhile(_ => !(stopAtFirst && failures.nonEmpty))
        .foreach { case (stmt, expectsError, _) =>
      if (outOfScope(stmt)) skipped += 1
      else {
        val result = Try(runner.run(stmt).collect())
        if (expectsError && result.isSuccess)
          failures += s"expected an error, got success: $stmt"
        else if (!expectsError && result.isFailure)
          failures += s"unexpected failure for: $stmt\n  " +
            result.failed.get.toString.take(300)
        ran += 1
      }
    }
    ReplayResult(ran, skipped, failures.toSeq)
  }

  /** Schema-aware cell rendering: the engine stores MySQL's zero date
    * as the NULL sentinel in NOT NULL temporal columns (the documented
    * zero-date convention — `IS NULL` answers for them, issue682) and
    * as the year-1 sentinel in NULLABLE ones (distinguishable from a
    * genuine NULL); both render back as MySQL's `0000-00-00` forms.
    * The corpus never uses a real year-1 temporal (grep-verified). */
  def renderCellTyped(v: Any,
                      f: org.apache.spark.sql.types.StructField): String = {
    import org.apache.spark.sql.types._
    val temporal = f.dataType == DateType ||
      f.dataType.isInstanceOf[TimestampType] ||
      f.dataType.isInstanceOf[TimestampNTZType]
    def zero: String =
      if (f.dataType == DateType) "0000-00-00" else "0000-00-00 00:00:00"
    if (temporal && v == null &&
        f.metadata.contains("graft.mysql.notnull") &&
        f.metadata.getBoolean("graft.mysql.notnull")) zero
    else if (temporal && v != null) {
      val s = renderCell(v)
      // the year-1 sentinel date renders as MySQL's zero date, with
      // any time-of-day preserved ('0001-01-01 10:20:10' →
      // '0000-00-00 10:20:10' — date_formats' TIME-only str_to_date)
      if (s == "0001-01-01") zero
      else if (s.startsWith("0001-01-01 ")) "0000-00-00" + s.drop(10)
      else s
    }
    else renderCell(v)
  }

  /** MySQL-style rendering of one result cell. */
  def renderCell(v: Any): String = v match {
    case null => "NULL"
    case s: String => s
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toString.replaceAll("\\.0+$", "")
    case d: java.sql.Date => d.toString
    case t: java.time.LocalDateTime =>
      t.toString.replace('T', ' ').replaceAll("\\.0+$", "")
    case b: Array[Byte] =>
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case f: java.lang.Float =>
      graft.functions.MySql.floatToUtf8(f).toString
    // MySQL renders DOUBLE via my_gcvt shortest form ('-1', not '-1.0')
    case d: java.lang.Double =>
      graft.functions.MySql.doubleToUtf8(d).toString
    case other => other.toString
  }

  /** Cell equality: literal match, or numeric match with a small
    * relative tolerance (MySQL prints FLOAT/DOUBLE at 6/17 significant
    * digits — '-7.40287e18' vs -7.402866E18 must compare equal). */
  def cellEq(exp: String, act: String): Boolean = {
    if (exp == act) return true
    val numRe = """^-?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$""".r
    (numRe.findFirstIn(exp.trim), numRe.findFirstIn(act.trim)) match {
      case (Some(_), Some(_)) =>
        val e = BigDecimal(exp.trim)
        val a = BigDecimal(act.trim)
        if (e == a) true
        else if (e.signum == 0 || a.signum == 0) (e - a).abs < 1e-9
        // MySQL prints exact-type AVG and friends at +4 decimal scale
        // (AVG(DISTINCT a) = '2.6667' for 8/3), so the golden itself
        // carries up to ~5e-5 relative rounding
        else ((e - a).abs / e.abs.max(a.abs)) < BigDecimal("6e-5")
      case _ => false
    }
  }

  private def rowEq(exp: String, act: String): Boolean = {
    val es = exp.split("\t", -1)
    val as = act.split("\t", -1)
    es.length == as.length && es.zip(as).forall((cellEq _).tupled)
  }

  /** Replay `file`, comparing every eligible SELECT's rows against the
    * golden result block. */
  def sweep(file: String, session: SparkSession): SweepResult = {
    val testLines = readLines(s"$MtrDir/$file")
    val stmts = parseMtr(expandControlFlow(testLines))
    val resFile = new java.io.File(ResDir,
      file.stripSuffix(".test") + ".result")
    if (!resFile.exists()) return SweepResult(0, Seq.empty)
    val lines = readLines(resFile.getPath)
    // `--echo` directive output lands verbatim in the golden (the
    // replication files print "[on slave]" banners) — never rows
    val echoTexts: Set[String] = testLines.flatMap(l =>
      """(?i)^\s*--\s*echo\s?(.*)$""".r.findFirstMatchIn(l.trim)
        .map(_.group(1).trim)).toSet

    // align: find each statement's echo (line-by-line trimmed match);
    // the block between echo end and the next echo start is its output
    val echoAt = new Array[Int](stmts.length)
    val echoLen = new Array[Int](stmts.length)
    var cursor = 0
    // the golden echoes statements WITH their terminating `;` (and
    // with the delimiter-form terminator stripped) — normalize both.
    // `--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR` rewrites paths
    // in the golden echo; map our substituted path back so LOAD DATA
    // statements align instead of silently falling out of the stream
    def norm(l: String) = l.trim.stripSuffix(";").trim
      .replace(MysqlTestDir, "MYSQL_TEST_DIR")
    stmts.zipWithIndex.foreach { case ((stmt, _, quiet), i) =>
      if (quiet) { echoAt(i) = -1; echoLen(i) = 0 }
      else {
        val sl = stmt.split("\n").map(norm).filter(_.nonEmpty)
        var found = -1
        var p = cursor
        while (found < 0 && p <= lines.length - sl.length) {
          if (sl.indices.forall(k => norm(lines(p + k)) == sl(k))) found = p
          else p += 1
        }
        if (found >= 0) {
          echoAt(i) = found
          echoLen(i) = sl.length
          cursor = found + sl.length
        } else { echoAt(i) = -1; echoLen(i) = 0 }
      }
    }

    val runner = runnerFor(file, session)

    var compared = 0
    var skippedFixture = 0
    var skippedSkew = 0
    // taint: table → classification ("fixture" | "skew"); a SELECT
    // touching a tainted table is CLASSIFIED, not value-compared
    val tainted = scala.collection.mutable.Map[String, String]()
    val mismatches = scala.collection.mutable.ArrayBuffer[Mismatch]()

    // ---- replay-side INSERT batching ----
    // MTR data loads are thousands of consecutive single-tuple
    // INSERTs (select.test carries ~1200); replayed one statement at
    // a time each pays a full store round-trip — quadratic in the
    // table. A run of same-shape literal-tuple INSERTs executes as
    // ONE multi-row INSERT (semantically identical in MySQL for
    // auto-inc order and trigger firing), with a per-statement
    // fallback if the combined form errors. The stmts list itself is
    // untouched, so golden-echo alignment is unaffected.
    val BatchInsRe =
      ("""(?is)^\s*(INSERT\s+INTO\s+`?[\w.]+`?\s*(?:\([^()]*\))?""" +
        """\s*VALUES\s*)\(([^()]*)\)\s*;?\s*$""").r
    def batchKey(s: String): Option[(String, String)] = s match {
      case BatchInsRe(head, tup) if !tup.contains("@") =>
        Some((head.replaceAll("\\s+", " ").toLowerCase, tup))
      case _ => None
    }
    val batchedStmt = new Array[String](stmts.length)
    val batchEnd = new Array[Int](stmts.length)
    val skipExec = new Array[Boolean](stmts.length)
    locally {
      var bi = 0
      while (bi < stmts.length) {
        val k = if (stmts(bi)._2) None else batchKey(stmts(bi)._1)
        if (k.isDefined) {
          var bj = bi + 1
          while (bj < stmts.length && !stmts(bj)._2 &&
              batchKey(stmts(bj)._1).exists(_._1 == k.get._1)) bj += 1
          if (bj - bi >= 4) {
            val headOrig = stmts(bi)._1 match {
              case BatchInsRe(h, _) => h
            }
            val tuples = (bi until bj).map(x =>
              "(" + batchKey(stmts(x)._1).get._2 + ")")
            batchedStmt(bi) = headOrig + tuples.mkString(", ")
            batchEnd(bi) = bj
            (bi + 1 until bj).foreach(skipExec(_) = true)
            bi = bj
          } else bi += 1
        } else bi += 1
      }
    }

    def exec(sql: String): Try[(StructType, Array[Row])] = Try {
      val df = runner.run(sql)
      (df.schema, df.collect())
    }
    stmts.zipWithIndex.foreach { case ((stmt, expectsError, quiet), i) =>
      val isSelect =
        """(?is)^\s*select\b""".r.findFirstIn(stmt).isDefined &&
          """(?i)\binto\b""".r.findFirstIn(stmt).isEmpty
      // taint bookkeeping BEFORE the statement runs
      if (!isSelect) {
        CreateTableRe.findFirstMatchIn(stmt)
          .foreach(m => tainted.remove(m.group(1).toLowerCase))
        TruncateRe.findFirstMatchIn(stmt)
          .foreach(m => tainted.remove(m.group(1).toLowerCase))
        DropTableRe.findFirstMatchIn(stmt).foreach(m =>
          m.group(1).split(",").map(_.trim.stripPrefix("`")
            .stripSuffix(";").stripSuffix("`").toLowerCase)
            .foreach(tainted.remove))
        if (DropDbRe.findFirstIn(stmt).isDefined) tainted.clear()
        val isLoad =
          """(?is)^\s*load\s+data\b""".r.findFirstIn(stmt).isDefined
        if (isLoad) {
          val missing = LoadInfileRe.findFirstMatchIn(stmt).exists(m =>
            !new java.io.File(m.group(1)).exists())
          if (missing) dmlTargets(stmt)
            .foreach(t => tainted.getOrElseUpdate(t, "fixture"))
        }
        val isDml = """(?is)^\s*(insert|update|delete|replace|load)\b"""
          .r.findFirstIn(stmt).isDefined
        // a DML statement the golden never echoed: the .result predates
        // this .test revision — rows derived from it can't be
        // attributed. disable_query_log statements are LEGITIMATELY
        // unechoed, not skew.
        // single-line statements only: a multi-line DML that fails to
        // align is usually the ALIGNER's whitespace fragility, not a
        // .test edit — tainting on it would shed real coverage
        // (select.test's multi-line inserts)
        if (isDml && echoAt(i) < 0 && !expectsError && !quiet &&
            !stmt.contains("\n"))
          dmlTargets(stmt).foreach(t => tainted.getOrElseUpdate(t, "skew"))
      }
      val taintHit: Option[String] =
        if (!isSelect || tainted.isEmpty) None
        else tainted.collectFirst { case (t, why)
          if ("""(?i)\b""" + java.util.regex.Pattern.quote(t) +
            """\b""").r.findFirstIn(stmt).isDefined => why }
      val deterministic = NonDeterministic.findFirstIn(stmt).isEmpty
      val eligible = isSelect && !expectsError && deterministic &&
        echoAt(i) >= 0
      val comparable = eligible && i + 1 < stmts.length && taintHit.isEmpty
      if (eligible && taintHit.isDefined) {
        if (taintHit.contains("fixture")) skippedFixture += 1
        else skippedSkew += 1
      }
      val result: Try[(StructType, Array[Row])] =
        if (skipExec(i))
          // executed as part of an earlier combined INSERT
          scala.util.Success((null, Array.empty))
        else if (batchedStmt(i) != null) {
          Try(runner.run(batchedStmt(i)).collect()) match {
            case scala.util.Success(_) =>
              scala.util.Success((null, Array.empty))
            case scala.util.Failure(_) =>
              // combined form failed — replay the run one statement at
              // a time to preserve exact per-statement semantics
              (i + 1 until batchEnd(i)).foreach(skipExec(_) = false)
              exec(stmt)
          }
        } else exec(stmt)
      if (comparable && result.isSuccess) {
        // the golden block: echo end → next echoed statement
        val next = (i + 1 until stmts.length).find(echoAt(_) >= 0)
          .map(echoAt(_)).getOrElse(lines.length)
        val blockEnd = math.max(echoAt(i) + echoLen(i), math.min(next, lines.length))
        var block = lines.slice(echoAt(i) + echoLen(i), blockEnd)
        // strip warnings sections and error echoes
        val wIdx = block.indexWhere(_.trim == "Warnings:")
        if (wIdx >= 0) block = block.take(wIdx)
        block = block.filterNot(l =>
          """^(Warning|Note|Error)\t\d+\t""".r.findFirstIn(l).isDefined ||
            l.startsWith("ERROR ") || echoTexts.contains(l.trim) ||
            l.startsWith("include/"))
        // a MULTI-line statement's echo can align on fewer lines than
        // the golden actually echoed (whitespace variants) — strip any
        // leftover echoed fragment of THIS statement from the block
        val stmtLines = stmt.split("\n").map(norm).filter(_.nonEmpty).toSet
        block = block.filterNot(l => stmtLines.contains(norm(l)))
        if (block.nonEmpty) {
          val expected = block.drop(1) // header row
          val (rschema, rows) = result.get
          // a value containing a raw newline renders across MULTIPLE
          // golden lines (mysqltest prints it verbatim — issue1263's
          // enclosed P_MSG) — split the rendered row the same way
          val actual = rows.toSeq.flatMap(r =>
            (0 until r.length).map(k =>
              renderCellTyped(r.get(k), rschema(k)))
              .mkString("\t").split("\n", -1).toSeq)
          compared += 1
          // multiset matching under cellEq (a sort-then-zip pairs the
          // wrong rows when rendering variants reorder lexically:
          // '…e108' vs '…E108')
          val ok =
            if (expected.length != actual.length) false
            else {
              val remaining =
                scala.collection.mutable.ArrayBuffer(actual: _*)
              expected.forall { e =>
                val at = remaining.indexWhere(a => rowEq(e, a))
                if (at < 0) false
                else { remaining.remove(at); true }
              }
            }
          if (!ok) mismatches += Mismatch(stmt.take(120),
            expected.sorted.take(40), actual.sorted.take(40))
        }
      }
    }
    SweepResult(compared, mismatches.toSeq, skippedFixture, skippedSkew)
  }
}
