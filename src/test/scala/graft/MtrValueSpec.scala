package graft

import org.scalatest.funsuite.AnyFunSuite

/** VALUE parity against the reference's own golden `.result` files —
  * the tier above MtrReplaySpec's success/error parity: each pinned
  * file replays end to end and every deterministic SELECT's rows are
  * compared cell-for-cell (multiset, MySQL-rendered, numeric-tolerant
  * for the float-print variants) with the golden block the reference's
  * CI recorded. [[sources.MtrParity.sweep]] is the shared engine;
  * `sbt "Test/runMain graft.MtrTool sweep"` reports the full-corpus
  * picture.
  *
  * Round 19: EVERY file the full sweep reports zero-mismatch is pinned
  * (r18 verdict task #2 — a regression in any clean file flips this
  * spec red instead of hiding until the next full sweep). The list is
  * auto-generated from the sweep snapshot (193 files,
  * 2587 SELECT blocks); fixture-absent LOAD sources and golden-skew
  * statements are classified out by the sweep itself, so these floors
  * measure semantics. */
class MtrValueSpec extends AnyFunSuite {
  private def spark = TestSession.spark

  /** (file, minimum SELECT blocks compared) — all must mismatch ZERO. */
  private val CleanFiles: Seq[(String, Int)] = Seq(
    ("issue1332.test", 124),
    ("range.test", 124),
    ("aggregate.test", 83),
    ("issue422.test", 80),
    ("unsigned_greatest.test", 80),
    ("unsigned_least.test", 80),
    ("other_bit.test", 75),
    ("unsigned_math.test", 75),
    ("in_subquery.test", 66),
    ("strings.test", 54),
    ("std_test.test", 52),
    ("left_join.test", 51),
    ("issue763.test", 47),
    ("union.test", 45),
    ("select_order_by.test", 43),
    ("unsigned_type.test", 42),
    ("issue959.test", 37),
    ("issue271.test", 36),
    ("timestampadd_function.test", 36),
    ("timestampdiff_function.test", 36),
    ("various_subquery.test", 32),
    ("delete_signed.test", 30),
    ("update_signed.test", 30),
    ("issue682.test", 29),
    ("week_function.test", 27),
    ("yearweek_function.test", 27),
    ("issue819.test", 26),
    ("escape.test", 25),
    ("issue887.test", 25),
    ("select_from.test", 25),
    ("issue1523.test", 24),
    ("issue1111.test", 22),
    ("issue1174.test", 22),
    ("select_group_by.test", 22),
    ("issue1054.test", 20),
    ("user_function.test", 20),
    ("null_functions.test", 19),
    ("substr_function.test", 19),
    ("substring_function.test", 19),
    ("convert_conv_func.test", 18),
    ("unsigned.test", 18),
    ("issue767.test", 17),
    ("coalesce_ascii_func.test", 16),
    ("func_math.test", 16),
    ("various_join.test", 16),
    ("where_conditions.test", 16),
    ("create_tmp.test", 15),
    ("in_withpk.test", 14),
    ("issue1402.test", 14),
    ("issue1564.test", 14),
    ("aliases.test", 12),
    ("issue433.test", 12),
    ("issue998.test", 12),
    ("between_and.test", 11),
    ("derived_table.test", 11),
    ("issue1599.test", 11),
    ("AddDate_function.test", 10),
    ("AddTime_function.test", 10),
    ("char_length_function.test", 10),
    ("div_func.test", 10),
    ("issue282.test", 10),
    ("issue663.test", 10),
    ("trigger.test", 10),
    ("alter_bit.test", 9),
    ("ctas1.test", 9),
    ("date_formats_func.test", 9),
    ("flow_control_function.test", 9),
    ("issue1000.test", 9),
    ("issue1860.test", 9),
    ("select_distinct.test", 9),
    ("select_limit.test", 9),
    ("select_precision.test", 9),
    ("signed_boundary.test", 9),
    ("alter_table_v1.test", 8),
    ("double_float.test", 8),
    ("issue829.test", 8),
    ("issue947.test", 8),
    ("issue971.test", 8),
    ("left_function.test", 8),
    ("out_of_range_issue1151.test", 8),
    ("period_diff.test", 8),
    ("right_function.test", 8),
    ("semi-join.test", 8),
    ("alter_table_primarykey.test", 7),
    ("having.test", 7),
    ("inner_join.test", 7),
    ("md5_function.test", 7),
    ("select_joins.test", 7),
    ("select_order_by_group_by.test", 7),
    ("time_function.test", 7),
    ("weekofyear_function.test", 7),
    ("year_function.test", 7),
    ("case_function.test", 6),
    ("create_view.test", 6),
    ("hash_join.test", 6),
    ("hour_function.test", 6),
    ("issue1157.test", 6),
    ("issue1942.test", 6),
    ("issue845.test", 6),
    ("last_day_function.test", 6),
    ("order_by.test", 6),
    ("replace.test", 6),
    ("replace_func.test", 6),
    ("replace_into.test", 6),
    ("truncate_table.test", 6),
    ("weekday_function.test", 6),
    ("zerofill.test", 6),
    ("group_concat.test", 5),
    ("if_function.test", 5),
    ("issue1079_366.test", 5),
    ("avg_function.test", 4),
    ("date_function.test", 4),
    ("day_function.test", 4),
    ("dayname_function.test", 4),
    ("dayofmonth_function.test", 4),
    ("dayofyear_function.test", 4),
    ("delete_join.test", 4),
    ("issue1464.test", 4),
    ("issue889.test", 4),
    ("issue906.test", 4),
    ("max_function.test", 4),
    ("min_function.test", 4),
    ("primary_secondary_bit.test", 4),
    ("sum_function.test", 4),
    ("update_join.test", 4),
    ("alter_column.test", 3),
    ("alter_delete.test", 3),
    ("alter_table1.test", 3),
    ("insert_select_from.test", 3),
    ("issue1363.test", 3),
    ("issue1385.test", 3),
    ("issue281.test", 3),
    ("alter_update.test", 2),
    ("cast_json_func.test", 2),
    ("delete_all_rows.test", 2),
    ("drop_restric.test", 2),
    ("issue1510.test", 2),
    ("issue362.test", 2),
    ("issue468.test", 2),
    ("issue515.test", 2),
    ("issue736.test", 2),
    ("issue981.test", 2),
    ("issues_tx417.test", 2),
    ("left_right_func.test", 2),
    ("like_not_like.test", 2),
    ("temporary.test", 2),
    ("casewhen.test", 1),
    ("concat.test", 1),
    ("ctas.test", 1),
    ("func_sec_to_time.test", 1),
    ("insert_on_duplicate_update.test", 1),
    ("issue1152.test", 1),
    ("issue1169.test", 1),
    ("issue1258.test", 1),
    ("issue1361.test", 1),
    ("issue1637.test", 1),
    ("issue1708.test", 1),
    ("issue1808.test", 1),
    ("issue1848.test", 1),
    ("issue1861.test", 1),
    ("issue1912.test", 1),
    ("issue1931.test", 1),
    ("issue1938.test", 1),
    ("issue222.test", 1),
    ("issue226.test", 1),
    ("issue228.test", 1),
    ("issue342.test", 1),
    ("issue364.test", 1),
    ("issue405.test", 1),
    ("issue415.test", 1),
    ("issue417.test", 1),
    ("issue430.test", 1),
    ("issue431.test", 1),
    ("issue441.test", 1),
    ("issue446.test", 1),
    ("issue467.test", 1),
    ("issue469.test", 1),
    ("issue475.test", 1),
    ("issue496.test", 1),
    ("issue502-2.test", 1),
    ("issue502.test", 1),
    ("issue962.test", 1),
    ("issue964.test", 1),
    ("issue975.test", 1),
    ("lz4.test", 1),
    ("multi_join.test", 1),
    ("orquery.test", 1),
    ("orquery1.test", 1),
    ("ssb_small.test", 1),
    ("truncate.test", 1),
    ("union_case.test", 1),
    ("unsigned_join.test", 5),
    ("issue1784.test", 48)
  )

  test(s"${CleanFiles.size} reference MTR files replay with full VALUE " +
      "parity on their deterministic SELECT blocks (golden .result " +
      "rows, cell-exact)") {
    sources.MtrParity.requireCorpus()
    // 12-wide, LONGEST FIRST (block count as the duration proxy) — the
    // same straggler discipline as MtrReplaySpec: a big file started
    // late sets the suite's tail all by itself
    val floors = CleanFiles.toMap
    val results = sources.MtrParity.overFiles(spark,
      CleanFiles.sortBy(-_._2).map(_._1), 12,
      scala.concurrent.duration.Duration(75, "min"))(sources.MtrParity.sweep)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var total = 0
    results.foreach {
      case (file, scala.util.Success(res)) =>
        val floor = floors(file)
        total += res.compared
        if (res.compared < floor)
          failures += s"$file: compared ${res.compared} < floor $floor"
        res.mismatches.take(2).foreach(m => failures +=
          s"$file VALUE mismatch: ${m.stmt}\n  exp ${m.expected.take(2)
            .mkString(" | ").take(160)}\n  act ${m.actual.take(2)
            .mkString(" | ").take(160)}")
      case (file, scala.util.Failure(e)) =>
        failures += s"$file: ${String.valueOf(e.getMessage).take(160)}"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(total >= 2500, s"value-parity coverage shrank: $total blocks")
  }
}
