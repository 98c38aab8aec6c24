package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replays an ACTUAL reference MTR test file, statement for statement,
  * through [[sources.StatementRunner]] — the strongest form of the
  * "a user of the reference could switch" claim: the reference's own
  * test script runs with success/error parity. MTR client directives
  * (`--echo`, `--source`, `connect`/`connection`, …) are client-side
  * and skipped; `--error N` lines flip the expectation for the next
  * statement (it must THROW). Since round 17 the full statement
  * surface — stored PROCEDUREs/FUNCTIONs, CALL, TRIGGERs — is in
  * scope (sources/Procedural.scala); the only skipped statements are
  * fixtures this checkout physically lacks (LFS-stripped data files)
  * and mysqltest harness-variable loops. Everything else must behave:
  * unexpected success where an error is pinned, or any error where
  * success is pinned, fails the suite naming the statement. */
class MtrReplaySpec extends AnyFunSuite {
  private def spark = TestSession.spark

  /** (ran, skipped) for `file`; the first parity failure fails the
    * test, naming the statement. */
  private def replay(file: String,
                     session: org.apache.spark.sql.SparkSession): (Int, Int) = {
    val r = sources.MtrParity.replay(file, session, stopAtFirst = true)
    if (r.failures.nonEmpty) fail(s"[$file] ${r.failures.head}")
    (r.ran, r.skipped)
  }

  test("the reference's truncate_table.test replays with success/error " +
      "parity (databases, CREATE/LIKE/CTAS, views, multi-connection " +
      "truncates, qualified names)") {
    sources.MtrParity.requireCorpus()
    val (ran, skipped) = replay("truncate_table.test", spark)
    assert(ran >= 30, s"only $ran statements ran")
    assert(skipped <= 1, s"$skipped skipped (expected only CREATE PROCEDURE)")
  }

  /** The pinned compatibility corpus: EVERY reference MTR file in
    * tianmu/t — 292 of 292, ~13.3k statements — replays END TO END
    * with success/error parity. Per-file statement-count floors stop
    * a silently-shortened parse from faking a pass; skip counts are
    * pinned exactly (LFS fixtures absent from the checkout, plus
    * mysqltest client-variable loops). trigger.test and
    * user_function.test joined in round 17 with the stored-routine
    * interpreter and the trigger engine: procedural bodies
    * (DECLARE/flow control/SELECT…INTO), CALL with OUT/INOUT
    * write-back, and row triggers with the reference's engine gate
    * (3240 on tianmu unless tianmu_no_key_error — issue1185 pins the
    * errors, issue1318 the flag-on firing, issue1186 the InnoDB
    * path). issue538.test joined earlier in round 17: its
    * expression-bodied stored functions expand
    * inline with a caller-scope capture guard, ON-placed expansions
    * hoist to LEFT JOIN LATERAL columns, and the
    * PushProjectionThroughUnion outer-ref crash is excluded for
    * statement sessions. */
  private val PinnedFiles: Seq[(String, Int, Int)] = Seq(
    // round-17 pin: stored-function JOIN-ON placement — expansion
    // capture guard (caller-scope argument refs), LEFT JOIN LATERAL
    // hoist for ON-placed scalar subqueries, and the
    // PushProjectionThroughUnion exclusion (Spark outer-ref crash over
    // base∪delta unions)
    ("issue538.test", 46, 0),
    ("trigger.test", 487, 0),
    ("user_function.test", 78, 0),
    // round-16 pins: strict-insert/unsigned-overflow/DDL-shape work
    ("auto_increment.test", 60, 0),
    ("bit_type.test", 99, 0),
    ("case_when.test", 63, 0),
    ("create_table.test", 199, 0),
    ("delete.test", 148, 1), // 1 skip: LFS-stripped bigdata4load.txt
    ("func_math.test", 94, 0),
    ("insert_select.test", 92, 0),
    ("issue1169.test", 14, 0),
    ("issue1263.test", 15, 0),
    ("issue1910.test", 15, 7), // 7 skips: mysqltest client-var loops
    ("issue682.test", 91, 0),
    ("select_function_calls.test", 24, 0),
    ("select_joins.test", 18, 0),
    ("unsigned_greatest.test", 106, 0),
    ("unsigned_least.test", 107, 0),
    ("unsigned_support_issue1267.test", 144, 0),
    ("unsigned_type.test", 77, 0),
    ("AddDate_function.test", 17, 0),
    ("AddTime_function.test", 17, 0),
    ("aliases.test", 26, 0),
    ("case_function.test", 13, 0),
    ("convert_conv_func.test", 25, 0),
    ("date_formats_func.test", 21, 0),
    ("double_float.test", 85, 0),
    ("escape.test", 47, 0),
    ("func_bit.test", 59, 0),
    ("func_sec_to_time.test", 11, 0),
    ("group_concat.test", 17, 0),
    ("group_concat2.test", 10, 0),
    ("if_function.test", 13, 0),
    ("init_auto_increment_value.test", 33, 0),
    ("inner_join.test", 80, 0),
    ("insert_all_data_types.test", 30, 0),
    ("insert_select_from.test", 27, 0),
    ("integer_range.test", 112, 0),
    ("issue1090.test", 38, 0),
    ("issue1107.test", 23, 0),
    ("issue1108.test", 1, 0),
    ("issue1131.test", 43, 0),
    ("issue1152.test", 8, 0),
    ("issue1157.test", 21, 0),
    ("issue1173.test", 14, 0),
    ("issue1332.test", 141, 0),
    ("issue1352.test", 13, 0),
    ("issue1361.test", 9, 0),
    ("issue1464.test", 18, 0),
    ("issue1510.test", 14, 0),
    ("issue1523.test", 56, 0),
    ("issue1637.test", 9, 0),
    ("issue1784.test", 64, 0),
    ("issue1848.test", 9, 0),
    ("issue1860.test", 20, 0),
    ("issue1942.test", 12, 0),
    ("issue270.test", 15, 0),
    ("issue301.test", 192, 0),
    ("issue342.test", 21, 0),
    ("issue429.test", 9, 0),
    ("issue431.test", 8, 0),
    ("issue468.test", 9, 0),
    ("issue469.test", 8, 0),
    ("issue475.test", 8, 0),
    ("issue656.test", 8, 0),
    ("issue703.test", 5, 0),
    ("issue845.test", 16, 0),
    ("issue889.test", 12, 0),
    ("issue938.test", 9, 0),
    ("issue964.test", 11, 0),
    ("issue975.test", 9, 0),
    ("issue995.test", 8, 0),
    ("issue_566.test", 21, 0),
    ("issues_tx417.test", 15, 0),
    ("lz4.test", 12, 0),
    ("md5_function.test", 14, 0),
    ("mid_function.test", 20, 0),
    ("period_diff.test", 22, 0),
    ("primary_secondary_bit.test", 17, 0),
    ("select_order_by_group_by.test", 24, 0),
    ("semi-join.test", 21, 0),
    ("time_function.test", 15, 0),
    ("timediff_function.test", 16, 0),
    ("union.test", 122, 0),
    ("various_join.test", 47, 0),
    ("week_function.test", 38, 0),
    ("yearweek_function.test", 41, 0),
    ("zerofill.test", 27, 0),
    ("add_column.test", 11, 1),
    ("aggregate.test", 108, 0),
    ("alter_bit.test", 42, 0),
    ("alter_delete.test", 13, 0),
    ("alter_table.test", 20, 0),
    ("alter_table_negative.test", 18, 0),
    ("alter_table_null.test", 15, 0),
    ("alter_update.test", 12, 0),
    ("avg_function.test", 10, 0),
    ("between_and.test", 17, 0),
    ("casewhen.test", 7, 0),
    ("cast_data_types.test", 15, 0),
    ("char_length_function.test", 21, 0),
    ("coalesce_ascii_func.test", 26, 0),
    ("composite_primary_key.test", 8, 0),
    ("concat.test", 10, 0),
    ("create_db.test", 19, 0),
    ("create_index.test", 8, 0),
    ("ctas.test", 10, 0),
    ("date_function.test", 11, 0),
    ("day_function.test", 11, 0),
    ("dayname_function.test", 11, 0),
    ("dayofmonth_function.test", 11, 0),
    ("dayofyear_function.test", 11, 0),
    ("derived_table.test", 23, 0),
    ("div_func.test", 16, 0),
    ("drop_column.test", 8, 0),
    ("dropdb.test", 4, 0),
    ("empty_string_not_null.test", 35, 0),
    ("flow_control_function.test", 15, 0),
    ("having.test", 16, 0),
    ("hour_function.test", 13, 0),
    ("insert_on_duplicate_update.test", 8, 0),
    ("issue1006.test", 8, 0),
    ("issue1070.test", 13, 0),
    ("issue1079_366.test", 35, 0),
    ("issue1175.test", 7, 0),
    ("issue1251.test", 1, 0),
    ("issue1258.test", 12, 0),
    ("issue1363.test", 12, 0),
    ("issue1385.test", 11, 0),
    ("issue1394.test", 35, 0),
    ("issue1402.test", 20, 0),
    ("issue1564.test", 21, 0),
    ("issue1599.test", 19, 0),
    ("issue1625.test", 8, 0),
    ("issue1708.test", 9, 0),
    ("issue1808.test", 7, 0),
    ("issue1864.test", 16, 0),
    ("issue226.test", 14, 0),
    ("issue281.test", 11, 0),
    ("issue282.test", 19, 0),
    ("issue405.test", 8, 0),
    ("issue417.test", 8, 0),
    ("issue430.test", 8, 0),
    ("issue467.test", 8, 0),
    ("issue487.test", 5, 0),
    ("issue496.test", 12, 0),
    ("issue502.test", 10, 0),
    ("issue515.test", 9, 0),
    ("issue581.test", 22, 0),
    ("issue736.test", 10, 0),
    ("issue763.test", 59, 0),
    ("issue767.test", 42, 0),
    ("issue829.test", 27, 0),
    ("issue852.test", 8, 0),
    ("issue906.test", 12, 0),
    ("issue947.test", 18, 0),
    ("issue959.test", 61, 0),
    ("issue962.test", 7, 0),
    ("issue971.test", 20, 0),
    ("issue981.test", 10, 0),
    ("issue998.test", 48, 0),
    ("last_day_function.test", 13, 0),
    ("left_function.test", 14, 0),
    ("left_right_func.test", 10, 0),
    ("like_not_like.test", 8, 0),
    ("max_function.test", 10, 0),
    ("min_function.test", 10, 0),
    ("multi_join.test", 11, 0),
    ("null_functions.test", 27, 0),
    ("order_by.test", 16, 0),
    ("orquery.test", 9, 0),
    ("orquery1.test", 9, 0),
    ("out_of_range_issue1151.test", 74, 0),
    ("replace.test", 29, 0),
    ("replace_func.test", 12, 0),
    ("replace_into.test", 38, 0),
    ("right_function.test", 14, 0),
    ("select_distinct.test", 19, 0),
    ("select_from.test", 37, 0),
    ("select_group_by.test", 43, 0),
    ("select_limit.test", 24, 0),
    ("select_order_by.test", 58, 0),
    ("ssb_small.test", 9, 0),
    ("substr_function.test", 27, 0),
    ("substring_function.test", 27, 0),
    ("sum_function.test", 10, 0),
    ("timestampadd_function.test", 42, 0),
    ("timestampdiff_function.test", 42, 0),
    ("truncate.test", 11, 1),
    ("truncate_table.test", 48, 0),
    ("union_case.test", 30, 0),
    ("unsigned_join.test", 13, 0),
    ("various_subquery.test", 38, 0),
    ("weekday_function.test", 13, 0),
    ("weekofyear_function.test", 14, 0),
    ("where_conditions.test", 29, 0),
    ("year_function.test", 14, 0),
    ("select.test", 1276, 0),
    ("select_expressions.test", 32, 0),
    ("select_precision.test", 23, 0),
    ("signed_boundary.test", 32, 0),
    ("issue887.test", 37, 0),
    ("left_join.test", 63, 0),
    ("type_timestamp.test", 45, 0),
    ("update_v1.test", 90, 1),
    ("issue850.test", 17, 0),
    ("alter_column.test", 41, 0),
    ("alter_table1.test", 57, 0),
    ("alter_table_mix_use.test", 18, 0),
    ("alter_table_primarykey.test", 25, 0),
    ("alter_table_v1.test", 47, 0),
    ("bigint_unsigned.test", 142, 0),
    ("bit.test", 190, 0),
    ("cast_json_func.test", 16, 0),
    ("create_drop_users.test", 24, 0),
    ("create_tmp.test", 56, 0),
    ("create_view.test", 39, 0),
    ("ctas1.test", 45, 0),
    ("date_formats.test", 51, 0),
    ("delete_all_rows.test", 72, 1),
    ("delete_join.test", 14, 0),
    ("delete_signed.test", 93, 0),
    ("different_charsets_a.test", 124, 0),
    ("different_charsets_b.test", 164, 0),
    ("drop_index.test", 13, 0),
    ("drop_restric.test", 10, 0),
    ("func_define.test", 31, 0),
    ("hash_join.test", 60, 0),
    ("in_subquery.test", 150, 0),
    ("in_withpk.test", 49, 0),
    ("insert.test", 213, 2),
    ("insert_into_select.test", 43, 0),
    ("insert_update.test", 59, 2),
    ("issue1000.test", 41, 0),
    ("issue1034.test", 364, 0),
    ("issue1054.test", 59, 0),
    ("issue1065.test", 29, 0),
    ("issue1111.test", 111, 0),
    ("issue1153.test", 53, 0),
    ("issue1174.test", 119, 0),
    ("issue1185.test", 65, 0),
    ("issue1186.test", 42, 0),
    ("issue1209.test", 10, 0),
    ("issue1318.test", 19, 0),
    ("issue1325.test", 37, 0),
    ("issue1359.test", 17, 0),
    ("issue1616.test", 31, 0),
    ("issue1662.test", 5, 2),
    ("issue1696.test", 24, 3),
    ("issue1707.test", 5, 1),
    ("issue1855.test", 23, 0),
    ("issue1861.test", 15, 0),
    ("issue1865.test", 14, 0),
    ("issue1876.test", 23, 1),
    ("issue1897.test", 8, 4),
    ("issue1903.test", 8, 2),
    ("issue1912.test", 17, 0),
    ("issue1931.test", 11, 0),
    ("issue1938.test", 9, 0),
    ("issue222.test", 4, 4),
    ("issue228.test", 8, 0),
    ("issue271.test", 77, 0),
    ("issue362.test", 10, 0),
    ("issue364.test", 12, 0),
    ("issue415.test", 8, 0),
    ("issue422.test", 167, 0),
    ("issue433.test", 16, 0),
    ("issue441.test", 8, 0),
    ("issue446.test", 5, 0),
    ("issue464.test", 38, 0),
    ("issue502-2.test", 14, 0),
    ("issue663.test", 42, 0),
    ("issue669.test", 12, 0),
    ("issue781.test", 1622, 0),
    ("issue790.test", 13, 1),
    ("issue819.test", 88, 0),
    ("issue848.test", 24, 0),
    ("issue880.test", 19, 1),
    ("issue956.test", 66, 0),
    ("issue985.test", 12, 0),
    ("load.test", 10, 1),
    ("other_bit.test", 98, 0),
    ("procedure.test", 55, 0),
    ("range.test", 325, 1),
    ("show_db_table.test", 23, 0),
    ("std_test.test", 83, 0),
    ("strings.test", 61, 0),
    ("temporary.test", 35, 0),
    ("unsigned.test", 75, 0),
    ("unsigned_math.test", 94, 0),
    ("update_join.test", 15, 0),
    ("update_signed.test", 98, 0))

  test(s"${PinnedFiles.size} reference MTR files replay with " +
      "success/error parity (statement floors pinned)") {
    sources.MtrParity.requireCorpus()
    // files are independent sessions — `spark.newSession()` isolates
    // temp views / session conf per file, so the corpus replays in
    // PARALLEL (12 files at a time on the shared TestSession context);
    // the serial sweep outgrew an hour at ~4500 statements. LONGEST
    // FIRST: statement count is the duration proxy, and the biggest
    // file (issue781, 1622 stmts, ~10 min under contention) must start
    // in the first wave or it alone sets the suite's tail — with
    // insertion order it started late and the pool drained around it.
    val floors = PinnedFiles.map(p => p._1 -> (p._2, p._3)).toMap
    val results = sources.MtrParity.overFiles(spark,
      PinnedFiles.sortBy(-_._2).map(_._1), 12,
      scala.concurrent.duration.Duration(90, "min")) { (file, session) =>
      val t0 = System.nanoTime()
      val res = scala.util.Try(replay(file, session))
      val secs = (System.nanoTime() - t0) / 1e9
      // per-file wall time to stdout: a pathological straggler must
      // be visible by NAME, not as a silent hour
      println(f"[mtr-replay] $file%-36s ${secs}%7.1fs " +
        s"ok=${res.isSuccess} " +
        res.map { case (r, sk) => s"ran=$r skipped=$sk" }.getOrElse(""))
      res.get
    }
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var total = 0
    results.foreach { case (file, res) =>
      val (floor, maxSkip) = floors(file)
      res match {
        case scala.util.Success((ran, skipped)) =>
          total += ran
          if (ran < floor) failures += s"$file: ran $ran < floor $floor"
          if (skipped > maxSkip) failures += s"$file: skipped $skipped"
        case scala.util.Failure(e) =>
          failures += s"$file: ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    println(s"[mtr-replay] corpus total ran=$total")
    assert(total >= 13930, s"corpus shrank: $total statements")
  }

}
