package graft

import graft.sources.MtrParity
import org.scalatest.funsuite.AnyFunSuite

/** The MTR `.test` grammar of [[MtrParity.parseMtr]], pinned on inline
  * text so it runs without the reference corpus: one test per rule the
  * replay and the value sweep depend on. */
class MtrParseSpec extends AnyFunSuite {
  private def lines(text: String): Vector[String] =
    text.stripMargin.split("\n", -1).toVector
  private def parse(text: String): Seq[(String, Boolean, Boolean)] =
    MtrParity.parseMtr(lines(text))
  private def stmts(text: String): Seq[String] = parse(text).map(_._1)

  test("delimiter // … delimiter ; and --delimiter keep routine bodies " +
      "whole") {
    assert(stmts(
      """delimiter //
        |CREATE TRIGGER tr BEFORE INSERT ON t1 FOR EACH ROW
        |BEGIN
        |  SET NEW.a = 1;
        |END//
        |delimiter ;
        |select 1;
        |delimiter //;
        |CREATE PROCEDURE p() BEGIN SELECT 1; SELECT 2; END//
        |delimiter ;//
        |select 2;
        |--delimiter $$
        |CREATE FUNCTION f() RETURNS INT RETURN 1$$
        |--delimiter ;
        |select 3;""") === Seq(
      "CREATE TRIGGER tr BEFORE INSERT ON t1 FOR EACH ROW\nBEGIN\n" +
        "  SET NEW.a = 1;\nEND",
      "select 1",
      "CREATE PROCEDURE p() BEGIN SELECT 1; SELECT 2; END",
      "select 2",
      "CREATE FUNCTION f() RETURNS INT RETURN 1",
      "select 3"))
  }

  test("--error and -- error mark the next statement; a directive whose " +
      "target is commented out expires") {
    assert(parse(
      """--error 1146
        |select * from missing;
        |-- error ER_NO_SUCH_TABLE
        |select * from missing2;
        |select 1;
        |-- error 1176
        |#select * from t1 use index (nope);
        |select 2;
        |--error 1064
        |# a note, not a statement
        |selec 3;
        |select 4;""").map(p => (p._1, p._2)) === Seq(
      ("select * from missing", true),
      ("select * from missing2", true),
      ("select 1", false),
      ("select 2", false),
      ("selec 3", true),
      ("select 4", false)))
  }

  test("/* … */ comments are stripped on one line and across lines") {
    assert(stmts(
      """/* one-line */ select 1;
        |select /* inline */ 2;
        |/* spanning
        |   lines; select 99;
        |*/
        |select 3;""") === Seq("select 1", "select  2", "select 3"))
  }

  test(";  # comment still terminates; a # inside a literal does not") {
    assert(stmts(
      """select 1;  # NULL_VALUE
        |select 2;
        |select 'a;#b';""") === Seq("select 1", "select 2", "select 'a;#b'"))
  }

  test("eval is dropped and $MYSQL_TEST_DIR becomes the corpus root") {
    assert(stmts(
      """eval LOAD DATA INFILE '$MYSQL_TEST_DIR/std_data/x.txt' INTO TABLE t;
        |select 1;""") === Seq(
      s"LOAD DATA INFILE '${MtrParity.MysqlTestDir}/std_data/x.txt' " +
        "INTO TABLE t",
      "select 1"))
  }

  test("disable_query_log / enable_query_log set the quiet flag, in " +
      "both the -- and the bare spelling") {
    assert(parse(
      """select 1;
        |--disable_query_log
        |insert into t values (1);
        |--enable_query_log
        |select 2;
        |disable_query_log;
        |select 3;
        |enable_query_log;
        |select 4;""").map(p => (p._1, p._3)) === Seq(
      ("select 1", false), ("insert into t values (1)", true),
      ("select 2", false), ("select 3", true), ("select 4", false)))
  }

  test("let/inc/dec/while expand through expandControlFlow; the parse " +
      "alone leaves the harness variable in place") {
    val loop = lines(
      """let $i = 3;
        |let $n = 0;
        |while ($i)
        |{
        |  inc $n;
        |  eval insert into t values ($i, $n);
        |  dec $i;
        |}
        |select count(*) from t;""")
    assert(MtrParity.parseMtr(MtrParity.expandControlFlow(loop))
      .map(_._1) === Seq(
      "insert into t values (3, 1)", "insert into t values (2, 2)",
      "insert into t values (1, 3)", "select count(*) from t"))
    assert(MtrParity.parseMtr(loop).map(_._1) === Seq(
      "insert into t values ($i, $n)", "select count(*) from t"))
  }

  test("a file without while parses the same with or without expansion") {
    val noLoop = lines(
      """let $x = 5;
        |eval select $x;
        |--error 1146
        |select * from missing;
        |delimiter //
        |CREATE PROCEDURE p() BEGIN SELECT 1; END//
        |delimiter ;
        |select 1;  # trailing""")
    assert(MtrParity.expandControlFlow(noLoop) === noLoop)
    assert(MtrParity.parseMtr(MtrParity.expandControlFlow(noLoop)) ===
      MtrParity.parseMtr(noLoop))
    assert(MtrParity.parseMtr(noLoop).map(_._1).head === "select $x")
  }
}
