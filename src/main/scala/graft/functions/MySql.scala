package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

/** MySQL-semantics scalar shims (SURVEY.md §2.9). The reference evaluates
  * scalar functions with MySQL 5.7's own Item tree (wrapped as
  * MysqlExpression, storage/tianmu/core/mysql_expression.h:34), so its
  * scalar surface = MySQL's. Most map 1:1 to Spark builtins; these shims
  * cover the MySQL-isms that don't. Everything returns a `Column`
  * composed of codegen'd builtins (plus one native Catalyst
  * IntegralDivide), so nothing here breaks whole-stage codegen.
  */
object MySql {

  /** MySQL's DOUBLE→string rendering: integral values print without the
    * trailing `.0` ('2000'+1 = 2001 renders '2001', insert_select.test).
    * Called via StaticInvoke from [[graft.plans.MySqlCoercionRule]]. */
  def doubleToUtf8(d: Double): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      if (d == math.floor(d) && !d.isInfinite && math.abs(d) < 1e15)
        java.lang.Long.toString(d.toLong)
      else mysqlGcvt(d, 17, _.doubleValue == d))

  /** FLOAT → MySQL's DISPLAY rendering at 6 significant digits
    * ('-7.40287e18'). NOTE: string-FUNCTION contexts in the reference
    * render the promoted double instead (its engine stores FLOAT in a
    * 64-bit cell) — use doubleToUtf8 there. */
  def floatToUtf8(f: Float): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      mysqlGcvt(f.toDouble, 6, _ => false))

  /** my_gcvt: shortest round-tripping digits, then MySQL's format gate
    * — plain decimal for exponents in [-4, 15), else `d.ddde±NN`
    * spelled with a LOWERCASE 'e' and no '+'/zero-padding. */
  private def mysqlGcvt(d: Double, maxSig: Int,
                        roundTrips: java.math.BigDecimal => Boolean)
      : String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return "0"
    val exact = new java.math.BigDecimal(d)
    var p = 1
    var bd = exact.round(new java.math.MathContext(p))
    while (p < maxSig && !roundTrips(bd)) {
      p += 1
      bd = exact.round(new java.math.MathContext(p))
    }
    bd = bd.stripTrailingZeros
    val exp = bd.precision - bd.scale - 1
    if (exp >= -4 && exp < 15) bd.toPlainString
    else {
      val unscaled = bd.unscaledValue.abs.toString
      val sign = if (bd.signum < 0) "-" else ""
      val mant =
        if (unscaled.length == 1) unscaled
        else unscaled.head + "." + unscaled.tail
      s"$sign${mant}e$exp"
    }
  }

  /** Field_string::store(double) — my_gcvt constrained to the CHAR(n)
    * column's width (strings/dtoa.c): shortest round-tripping digits
    * first, then precision drops until a form fits `width`, trying the
    * scientific spelling when plain overflows ('0.00187' into char(4)
    * stores '2e-3', '-5000' stores '-5e3' — insert.test); nothing fits
    * → '0' with MySQL's truncation warning. `floatSrc` caps the
    * round-trip test at FLT precision. */
  def doubleToCharWidth(d: Double, width: Int, floatSrc: Boolean)
      : org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      mysqlGcvtWidth(d, math.max(1, width), floatSrc))

  private def mysqlGcvtWidth(d: Double, width: Int,
                             floatSrc: Boolean): String = {
    if (d.isNaN || d.isInfinite) return "0"
    if (d == 0.0) return "0"
    val exact = new java.math.BigDecimal(d)
    def trips(p: Int): Boolean = {
      val bd = exact.round(new java.math.MathContext(p))
      if (floatSrc) bd.floatValue == d.toFloat else bd.doubleValue == d
    }
    val maxP = if (floatSrc) 9 else 17
    var p = 1
    while (p < maxP && !trips(p)) p += 1
    while (p >= 1) {
      // HALF_EVEN: an exactly-representable tie rounds to even
      // (1.225e10 stores '1.22e10', not '1.23e10' — dtoa rounding)
      val bd = exact.round(new java.math.MathContext(p,
        java.math.RoundingMode.HALF_EVEN)).stripTrailingZeros
      val exp = bd.precision - bd.scale - 1
      val sci = {
        val unscaled = bd.unscaledValue.abs.toString
        val sign = if (bd.signum < 0) "-" else ""
        val mant = if (unscaled.length == 1) unscaled
          else unscaled.head + "." + unscaled.tail
        s"$sign${mant}e$exp"
      }
      // storage my_gcvt prefers the PLAIN spelling whenever it fits
      // the width (golden '0.00001225' in char(20) despite %g's -4
      // gate); exponents ≥15 always take the scientific form
      if (exp < 15) {
        val plain = bd.toPlainString
        if (plain.length <= width) return plain
        if (sci.length <= width) return sci
      } else if (sci.length <= width) return sci
      p -= 1
    }
    "0"
  }

  // --- checked integer/double arithmetic (MySQL error 1690) -------------
  // The reference evaluates integer expressions in int64 (its engine
  // stores one 64-bit cell per value — common_definitions.h) and MySQL
  // raises ER_DATA_OUT_OF_RANGE on overflow instead of wrapping
  // (func_math.test `9223372036854775807 - -1`, bit_type.test
  // `a * <unsigned literal>`). Spark's non-ANSI long arithmetic wraps
  // silently — these helpers are StaticInvoke'd by MySqlCoercionRule in
  // statement mode only, so the DataFrame surface keeps Spark semantics.
  private def overflow(op: String): Nothing =
    throw new ArithmeticException(
      s"BIGINT value is out of range in '$op' (MySQL error 1690)")

  // `unsigned` marks MySQL's BIGINT-UNSIGNED result context (an
  // unsigned column/cast/oversize literal among the operands): a
  // NEGATIVE result is out of range there (func_math.test
  // `CAST(1 AS UNSIGNED) - 2`, `select a-b` over unsigned columns).
  def longAddChecked(l: Long, r: Long, unsigned: Boolean): Long =
    try {
      val x = Math.addExact(l, r)
      if (unsigned && x < 0) overflow(s"($l + $r) [unsigned]")
      x
    } catch { case _: ArithmeticException => overflow(s"($l + $r)") }

  def longSubChecked(l: Long, r: Long, unsigned: Boolean): Long =
    try {
      val x = Math.subtractExact(l, r)
      if (unsigned && x < 0) overflow(s"($l - $r) [unsigned]")
      x
    } catch { case _: ArithmeticException => overflow(s"($l - $r)") }

  def longMulChecked(l: Long, r: Long, unsigned: Boolean): Long =
    try {
      val x = Math.multiplyExact(l, r)
      if (unsigned && x < 0) overflow(s"($l * $r) [unsigned]")
      x
    } catch { case _: ArithmeticException => overflow(s"($l * $r)") }

  /** ABS over signed BIGINT: |i64min| does not exist in the type —
    * MySQL raises 1690 (func_math.test `ABS(-9223372036854775808)`)
    * where Spark's non-ANSI negate wraps back to i64min. */
  def absLongChecked(x: Long): Long =
    if (x >= 0) x
    else if (x == Long.MinValue) overflow(s"ABS($x)")
    else -x

  private val U64Max = new java.math.BigDecimal("18446744073709551615")

  /** Integer-tier DECIMAL arithmetic in an UNSIGNED context (an
    * unsigned cast/column or an above-signed-max integer literal among
    * the operands): the result must land in [0, 2^64-1]
    * (func_math.test `-2 + CAST(1 AS UNSIGNED)`,
    * `CAST(0 AS UNSIGNED) - 9223372036854775809`). */
  def decArithChecked(l: org.apache.spark.sql.types.Decimal,
                      r: org.apache.spark.sql.types.Decimal,
                      op: Int): org.apache.spark.sql.types.Decimal = {
    val a = l.toJavaBigDecimal
    val b = r.toJavaBigDecimal
    val x = op match {
      case 0 => a.add(b)
      case 1 => a.subtract(b)
      case _ => a.multiply(b)
    }
    if (x.signum < 0 || x.compareTo(U64Max) > 0)
      throw new ArithmeticException(
        "BIGINT UNSIGNED value is out of range (MySQL error 1690)")
    org.apache.spark.sql.types.Decimal(x)
  }

  /** DOUBLE overflow: finite operands whose +,-,* result leaves the
    * finite range is MySQL 1690 (func_math.test `1e308 + 1e308`). */
  def doubleArithChecked(l: Double, r: Double, op: Int): Double = {
    val x = op match {
      case 0 => l + r
      case 1 => l - r
      case _ => l * r
    }
    if (x.isInfinite && !l.isInfinite && !r.isInfinite)
      throw new ArithmeticException(
        s"DOUBLE value is out of range in '($l ${"+-*".charAt(op)} $r)' " +
          "(MySQL error 1690)")
    x
  }

  /** DOUBLE division: divisor 0 keeps Spark/MySQL's NULL; a finite
    * dividend whose quotient overflows to ±Infinity is 1690
    * (func_math.test `1e300 / 1e-300`). Boxed return so the NULL
    * survives StaticInvoke. */
  def doubleDivChecked(l: Double, r: Double): java.lang.Double = {
    if (r == 0.0) null
    else {
      val x = l / r
      if (x.isInfinite && !l.isInfinite)
        throw new ArithmeticException(
          s"DOUBLE value is out of range in '($l / $r)' (MySQL error 1690)")
      java.lang.Double.valueOf(x)
    }
  }

  /** MySQL `DIV` with overflow semantics: the quotient must fit signed
    * BIGINT (func_math.test `-9999999999999999991 DIV -1` and the
    * i64min/-1 corner are 1690); divisor 0 keeps the NULL result.
    * Operands ride DECIMAL so oversized integer-tier values reach the
    * check instead of wrapping in the long cast. */
  def decDivChecked(l: org.apache.spark.sql.types.Decimal,
                    r: org.apache.spark.sql.types.Decimal): java.lang.Long = {
    val rv = r.toJavaBigDecimal
    if (rv.signum == 0) return null
    val q = l.toJavaBigDecimal.divideToIntegralValue(rv)
    // asymmetric signed-64 bounds: -2^63 is a LEGAL quotient
    // (-9223372036854775808 DIV 1), only < -2^63 or > 2^63-1 is 1690
    // (the i64min DIV -1 corner lands at +2^63)
    if (q.compareTo(new java.math.BigDecimal(Long.MinValue)) < 0 ||
        q.compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0)
      throw new ArithmeticException(
        "BIGINT value is out of range in DIV (MySQL error 1690)")
    java.lang.Long.valueOf(q.longValueExact)
  }

  /** Exact-type division at MySQL's result scale: scale(dividend) +
    * div_precision_increment (4), HALF_UP — `int_col/10.3` renders
    * 0.0971, not Spark's 6-digit 0.097087 (select_expressions.test).
    * Division by zero is NULL, MySQL's contract. */
  def decDivMysql(l: org.apache.spark.sql.types.Decimal,
                  r: org.apache.spark.sql.types.Decimal,
                  scale: Int): org.apache.spark.sql.types.Decimal = {
    if (l == null || r == null) return null
    val rv = r.toJavaBigDecimal
    if (rv.signum == 0) return null
    val q = l.toJavaBigDecimal.divide(rv,
      new java.math.MathContext(38, java.math.RoundingMode.HALF_UP))
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    org.apache.spark.sql.types.Decimal(q)
  }

  /** MySQL `a DIV b` — integer division truncating toward zero. */
  def div(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntegralDivide(
      GraftSqlBridge.expression(a.cast("long")),
      GraftSqlBridge.expression(b.cast("long"))))

  /** MySQL `MOD` / `%` — result takes the sign of the dividend (same as
    * Spark `%`, unlike `pmod`). */
  def mod(a: Column, b: Column): Column = a % b

  /** MySQL `IF(cond, t, f)`. */
  def if_(cond: Column, t: Column, f: Column): Column =
    when(cond, t).otherwise(f)

  /** MySQL `IFNULL`. */
  def ifnull(a: Column, b: Column): Column = coalesce(a, b)

  /** MySQL `TRUNCATE(x, d)` — toward zero (ROUND truncates differently
    * for negatives). */
  def truncate(x: Column, d: Int): Column = {
    val p = math.pow(10, d)
    (signum(x) * floor(abs(x) * p) / p)
  }

  // --- week numbering ------------------------------------------------------

  /** MySQL week-mode flags (sql/tztime-adjacent calc_week convention,
    * re-derived from the public WEEK() documentation table):
    *  - bit 0: Monday (vs Sunday) is the first day of the week;
    *  - bit 1: "week-year" range 1-53 — days before week 1 belong to the
    *    previous year's last week, and the year's trailing days may
    *    belong to next year's week 1 (never week 0);
    *  - week-1 rule: modes 1,3,4,6 use "first week with ≥4 days in this
    *    year"; modes 0,2,5,7 use "first week fully starting this year"
    *    (i.e. containing the year's first week-start day). The rule is
    *    (bit2 set) XOR (Monday-first).
    */
  private case class WeekMode(mode: Int) {
    require(mode >= 0 && mode <= 7, s"WEEK mode $mode out of range 0-7")
    val mondayFirst: Boolean = (mode & 1) == 1
    val weekYear: Boolean = (mode & 2) != 0
    val rule4: Boolean = ((mode & 4) != 0) != mondayFirst
    /** Spark dayofweek index of the week-start day (1=Sunday, 2=Monday). */
    val ws: Int = if (mondayFirst) 2 else 1
  }

  /** Date when week 1 of year `y` starts under `wm`. */
  private def week1Start(y: Column, wm: WeekMode): Column = {
    val jan1 = make_date(y, lit(1), lit(1))
    // position of Jan 1 within its week (0 = week-start day)
    val pos = pmod(dayofweek(jan1) - lit(wm.ws), lit(7))
    val s0 = date_sub(jan1, pos) // week-start on-or-before Jan 1
    if (wm.rule4) when(pos <= 3, s0).otherwise(date_add(s0, 7))
    else when(pos === 0, s0).otherwise(date_add(s0, 7))
  }

  /** (week number, week-year) for `d` under `mode`; `forceWeekYear`
    * upgrades modes 0,1,4,5 to the 1-53 range (YEARWEEK's behavior). */
  private def weekParts(d: Column, mode: Int,
                        forceWeekYear: Boolean): (Column, Column) = {
    val wm0 = WeekMode(mode)
    val weekYear = wm0.weekYear || forceWeekYear
    val y = year(d)
    val st = week1Start(y, wm0)
    val wk = (floor(datediff(d, st) / 7) + 1).cast("int")
    if (!weekYear) {
      // days before week 1 are week 0; no rollover into next year
      (when(d < st, 0).otherwise(wk), y)
    } else {
      val stPrev = week1Start(y - 1, wm0)
      val stNext = week1Start(y + 1, wm0)
      val wkPrev = (floor(datediff(d, stPrev) / 7) + 1).cast("int")
      val week = when(d < st, wkPrev)
        .when(d >= stNext, 1)
        .otherwise(wk)
      val wyear = when(d < st, y - 1)
        .when(d >= stNext, y + 1)
        .otherwise(y)
      (week, wyear)
    }
  }

  /** MySQL `WEEK(d, mode)`, all modes 0-7 (t/week_function.test sweep). */
  def week(d: Column, mode: Int = 0): Column =
    weekParts(d, mode, forceWeekYear = false)._1

  /** Year the week belongs to under `mode` with the week-year rule —
    * the DATE_FORMAT %X/%x companion of [[week]]. */
  def weekYearOf(d: Column, mode: Int): Column =
    weekParts(d, mode, forceWeekYear = true)._2

  /** MySQL `YEARWEEK(d, mode)`: YYYYWW with week-year semantics forced
    * (never week 0; e.g. YEARWEEK('2000-01-01') = 199952). */
  def yearweek(d: Column, mode: Int = 0): Column = {
    val (w, wy) = weekParts(d, mode, forceWeekYear = true)
    wy * 100 + w
  }

  // --- periods (YYYYMM ints) ----------------------------------------------

  private def periodToMonths(p: Column): Column = {
    // a fractional period ROUNDS first (PERIOD_DIFF(200101.9, …) works
    // on 200102), and a YYMM period maps its 2-digit year through the
    // 70-pivot (PERIOD_DIFF(1602, 9002) = months(201602)-months(199002)
    // = 312 — period_diff.test)
    val pl = round(p, 0).cast("long")
    val y0 = (pl / lit(100L)).cast("long")
    val y = when(y0 < 70, y0 + 2000)
      .when(y0 < 100, y0 + 1900)
      .otherwise(y0)
    y * 12 + (pl % 100) - 1
  }

  /** MySQL `PERIOD_ADD(p, n)`. */
  def periodAdd(p: Column, n: Column): Column = {
    val m = periodToMonths(p) + n.cast("long")
    (m / lit(12L)).cast("long") * 100 + (m % 12) + 1
  }

  /** MySQL `PERIOD_DIFF(p1, p2)` — months between periods. */
  def periodDiff(p1: Column, p2: Column): Column =
    periodToMonths(p1) - periodToMonths(p2)

  // --- time <-> seconds ------------------------------------------------------

  /** MySQL `SEC_TO_TIME(s)` as 'HH:MM:SS' (hours not wrapped at 24,
    * zero-padded to 2; sign preserved). */
  def secToTime(s: Column): Column = {
    val sec = abs(s.cast("long"))
    // Spark's lpad TRUNCATES past its length — a 3-digit hour must
    // survive (SEC_TO_TIME(1000000) = '277:46:40', func_sec_to_time)
    val hh0 = (sec / lit(3600L)).cast("long").cast("string")
    val hh = when(length(hh0) < 2, lpad(hh0, 2, "0")).otherwise(hh0)
    val mm = lpad(((sec % 3600) / lit(60L)).cast("long").cast("string"), 2, "0")
    val ss = lpad((sec % 60).cast("string"), 2, "0")
    concat(when(s < 0, "-").otherwise(""), hh, lit(":"), mm, lit(":"), ss)
  }

  /** MySQL `TIME_TO_SEC('[-]H:MM:SS')`. */
  def timeToSec(t: Column): Column = {
    val clean = regexp_replace(t, "^-", "")
    val parts = split(clean, ":")
    val secs = parts.getItem(0).cast("long") * 3600 +
      parts.getItem(1).cast("long") * 60 + parts.getItem(2).cast("long")
    when(t.startsWith("-"), -secs).otherwise(secs)
  }

  /** [[timeToSec]] for MySQL's full time-literal grammar
    * `'[-][D ]H:MM:SS[.f]'` — the `D ` day prefix and fractional
    * seconds ADDTIME accepts (AddTime_function.test). Returns DOUBLE
    * seconds. */
  def timeToSecFull(t: Column): Column = {
    // a DATETIME/TIMESTAMP value contributes its TIME part
    // (TIME_TO_SEC('2019-01-02 01:02:03') = 3723 — type_timestamp.test)
    val trimmed = regexp_replace(trim(t),
      "^\\d{1,4}-\\d{1,2}-\\d{1,2}[ T]", "")
    val neg = trimmed.startsWith("-")
    val clean = regexp_replace(trimmed, "^-", "")
    val days = coalesce(
      regexp_extract(clean, "^(\\d+)\\s", 1).cast("long"), lit(0L))
    val hms = regexp_replace(clean, "^\\d+\\s+", "")
    val parts = split(hms, ":")
    val n = size(parts)
    // a BARE digit string reads as [h]hmmss from the right ('100' is
    // 00:01:00 — one minute, AddTime_function.test), with an optional
    // fraction
    val digits = regexp_extract(hms, "^(\\d+)", 1)
    val fracp = coalesce(
      regexp_extract(hms, "(\\.\\d+)$", 1).cast("double"), lit(0.0))
    val p6 = when(length(digits) >= 6, digits)
      .otherwise(lpad(digits, 6, "0"))
    val bareSecs =
      p6.substr(lit(1), length(p6) - 4).cast("long") * 3600 +
        p6.substr(length(p6) - 3, lit(2)).cast("long") * 60 +
        p6.substr(length(p6) - 1, lit(2)).cast("long") + fracp
    // MySQL's elastic grammar: 'H:MM:SS[.f]', 'H:MM' (seconds omitted
    // — ADDTIME(c, '100:11')), bare digits
    val secs = days * 86400 +
      when(n === 3, parts.getItem(0).cast("long") * 3600 +
        parts.getItem(1).cast("long") * 60 +
        parts.getItem(2).cast("double"))
        .when(n === 2, parts.getItem(0).cast("long") * 3600 +
          parts.getItem(1).cast("long") * 60)
        .otherwise(bareSecs)
    when(neg, -secs).otherwise(secs)
  }

  /** MySQL `ADDTIME(a, t)` full semantics for the SQL surface: datetime
    * first arg → 'yyyy-MM-dd HH:mm:ss' string; pure-time first arg →
    * unwrapped 'HH:MM:SS' clock arithmetic (hours past 24 preserved:
    * ADDTIME('22:22:22','03:11:22') = '25:33:44'). */
  def addtimeFull(a: Column, t: Column, sign: Int = 1): Column = {
    val as = a.cast("string")
    val sec = timeToSecFull(t) * sign
    // fsp propagation: the result keeps a fractional tail when either
    // operand carries one, rendered at 6 digits (MySQL TIME(6) —
    // ADDTIME('… 22:22:22', '2:2:2.1111') = '… 00:24:24.111100')
    val hasFrac = a.cast("string").rlike("\\.\\d") || t.rlike("\\.\\d")
    val ts = a.cast("timestamp")
    val sum = ts + make_dt_interval(lit(0), lit(0), lit(0), sec)
    val dtBranch = when(hasFrac,
      date_format(sum, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .otherwise(date_format(sum, "yyyy-MM-dd HH:mm:ss"))
    // a TIME-shaped first arg (no date part) is CLOCK arithmetic with
    // unwrapped hours ('22:22:22'+'03:11:22' = '25:33:44') — Spark's
    // cast would smuggle in today's date. MySQL PREFIX-parses a
    // garbage tail ('-01:01:01.01 GGG' works on its leading TIME —
    // str_to_date_function.test's addtime golden).
    val aTimePrefix = regexp_extract(as,
      "^\\s*(-?(?:\\d+\\s)?\\d{1,3}:\\d{1,2}(?::\\d{1,2})?(?:\\.\\d+)?)", 1)
    val aIsTime = length(aTimePrefix) > 0 &&
      !as.rlike("^\\s*\\d{1,4}[-/.]\\d{1,2}[-/.]\\d{1,2}")
    val totalSec = timeToSecFull(aTimePrefix) + sec
    val timeBranch0 = secToTime(totalSec.cast("long"))
    val fracPart = lpad(
      round((abs(totalSec) - floor(abs(totalSec))) * 1000000, 0)
        .cast("long").cast("string"), 6, "0")
    val timeBranch = when(hasFrac,
      concat(timeBranch0, lit("."), fracPart)).otherwise(timeBranch0)
    when(aIsTime, timeBranch)
      .otherwise(when(ts.isNotNull, dtBranch).otherwise(lit(null))
        .cast("string"))
  }

  /** MySQL `ADDDATE(d, n)` / `SUBDATE(d, n)` integer-days form: keeps
    * the time part for datetime input (Spark's date_add truncates to
    * DATE), date-only stays date-shaped (AddDate_function.test). */
  def adddateDays(d: Column, n: Column): Column = {
    val ts = d.cast("timestamp") +
      make_interval(lit(0), lit(0), lit(0), n.cast("int"),
        lit(0), lit(0), lit(0))
    when(d.cast("string").rlike("\\d:\\d"),
      date_format(ts, "yyyy-MM-dd HH:mm:ss"))
      .otherwise(date_format(ts, "yyyy-MM-dd"))
  }

  /** `ADDDATE(d, INTERVAL …)` / DATE_ADD / DATE_SUB — the interval is
    * already an ANSI interval Column. Result renders date-shaped when
    * neither the input nor the result carries a time-of-day (MySQL's
    * DATE-in/DATE-out rule), datetime-shaped otherwise. */
  def adddateInterval(d: Column, iv: Column): Column = {
    val res = d.cast("timestamp") + iv
    when(d.cast("string").rlike("\\d:\\d")
        || unix_micros(res) % lit(86400000000L) =!= 0,
      date_format(res, "yyyy-MM-dd HH:mm:ss"))
      .otherwise(date_format(res, "yyyy-MM-dd"))
  }

  /** MySQL STR_TO_DATE with a RUNTIME format column
    * (date_formats_func.test stores formats in a table). Plain-Scala
    * parse per row: %-pattern → java.time with lenient single-digit
    * fields, NULL on mismatch (MySQL's NULL-with-warning contract). */
  // --- bit operators in MySQL's BIGINT-UNSIGNED result domain ------------
  // MySQL evaluates & | ^ << >> over unsigned 64-bit values and RENDERS
  // the result unsigned: -3 & -3 = 18446744073709551613 (func_bit.test).
  // The bit pattern is the same as Java's signed ops — only the result
  // leaves as a DECIMAL(20,0) carrying the u64 magnitude. StaticInvoke'd
  // by MySqlCoercionRule in statement mode; the DataFrame surface keeps
  // Spark's signed semantics.
  private val U64Mod = BigDecimal("18446744073709551616")
  private def u64(l: Long): org.apache.spark.sql.types.Decimal =
    org.apache.spark.sql.types.Decimal(
      if (l >= 0) BigDecimal(l) else BigDecimal(l) + U64Mod, 20, 0)
  def bitAndU64(l: Long, r: Long): org.apache.spark.sql.types.Decimal =
    u64(l & r)
  def bitOrU64(l: Long, r: Long): org.apache.spark.sql.types.Decimal =
    u64(l | r)
  def bitXorU64(l: Long, r: Long): org.apache.spark.sql.types.Decimal =
    u64(l ^ r)
  // a shift count past 63 drains to 0 (Java's << wraps the count mod 64)
  def shiftLeftU64(l: Long, r: Long): org.apache.spark.sql.types.Decimal =
    u64(if (r < 0 || r > 63) 0L else l << r)
  def bitNotU64(l: Long): org.apache.spark.sql.types.Decimal = u64(~l)
  def shiftRightU64(l: Long, r: Long): org.apache.spark.sql.types.Decimal =
    u64(if (r < 0 || r > 63) 0L else l >>> r)
  /** MySQL's double → integer conversion in bit-operand context:
    * floor(x + 0.5) — the func_bit goldens pin -2.9 → -3 AND
    * -3.5 → -3 (neither truncation nor half-away rounding fits). */
  def mysqlDoubleToLong(d: Double): Long = math.floor(d + 0.5).toLong

  /** TIMESTAMPADD with a TIME first operand stays in the TIME domain:
    * '02:03:04' + 1 WEEK = '170:03:04' (hours carry past 24, capped at
    * MySQL's ±838:59:59 — issue464.test). The fractional tail, if any,
    * rides along unchanged (whole-second addition). */
  def timeAddSecondsMysql(t0: org.apache.spark.unsafe.types.UTF8String,
                          add: Long): org.apache.spark.unsafe.types.UTF8String = {
    if (t0 == null) return null
    val s = t0.toString.trim
    val m = """^(-)?(\d{1,3}):(\d{1,2})(?::(\d{1,2}))?(\.\d+)?$""".r
      .findFirstMatchIn(s).orNull
    if (m == null) return null
    val sign = if (m.group(1) != null) -1L else 1L
    val base = sign * (m.group(2).toLong * 3600 + m.group(3).toLong * 60 +
      (if (m.group(4) != null) m.group(4).toLong else 0L))
    val cap = 838L * 3600 + 59 * 60 + 59
    val tot = math.max(-cap, math.min(cap, base + add))
    val a = math.abs(tot)
    val frac = if (m.group(5) != null) m.group(5) else ""
    org.apache.spark.unsafe.types.UTF8String.fromString(
      (if (tot < 0) "-" else "") +
        f"${a / 3600}%02d:${(a % 3600) / 60}%02d:${a % 60}%02d" + frac)
  }

  private val LongMaxBD = new java.math.BigDecimal(Long.MaxValue)
  private val LongMinBD = new java.math.BigDecimal(Long.MinValue)

  /** A DECIMAL operand entering the bit-operator domain saturates at
    * the signed-BIGINT rim after MySQL's half-away rounding — the
    * reference evaluates decimals through its int64 tier
    * (other_bit.test pins `18446744073709551615.0 ^ 1` =
    * 9223372036854775806, the saturated operand xor 1). */
  def decToLongRoundSaturate(d: org.apache.spark.sql.types.Decimal)
      : Long = {
    if (d == null) return 0L
    // MySQL's operand rounding is floor(x + 0.5): -2.9 → -3 and
    // -3.5 → -3 (func_bit.result), NOT half-away-from-zero
    val bd = d.toJavaBigDecimal
      .add(new java.math.BigDecimal("0.5"))
      .setScale(0, java.math.RoundingMode.FLOOR)
    if (bd.compareTo(LongMaxBD) > 0) Long.MaxValue
    else if (bd.compareTo(LongMinBD) < 0) Long.MinValue
    else bd.longValue()
  }

  /** A u64-magnitude DECIMAL(20,0) back to its longlong BIT PATTERN
    * (low 64 bits — a plain cast would NULL past Long.MaxValue). */
  def u64ToLong(d: org.apache.spark.sql.types.Decimal): Long =
    d.toBigDecimal.bigDecimal.toBigInteger.longValue

  // --- STR_TO_DATE: MySQL's extract_date_time, faithfully ----------------
  // (date_formats.test pins the full surface: %# digit-skip, prefix-
  // unique month/weekday names, week-number+weekday date computation,
  // zero dates, the day-folds-into-hours TIME result, and fsp
  // rendering: %f in a literal format → 6-digit fraction; a NON-literal
  // format (column) → the result column is DATETIME(6) for every row.)

  private val MonthNames = IndexedSeq("January", "February", "March",
    "April", "May", "June", "July", "August", "September", "October",
    "November", "December")
  private val WeekdayNames = IndexedSeq("Monday", "Tuesday", "Wednesday",
    "Thursday", "Friday", "Saturday", "Sunday")

  /** Index of the unique name having `word` as a case-insensitive
    * prefix, or -1 ('SEPTEMB' → September; 'Ju' → ambiguous June/July;
    * 'Septembei' → no prefix). */
  private def uniquePrefix(word: String, names: IndexedSeq[String]): Int = {
    if (word.isEmpty) return -1
    val w = word.toLowerCase
    val hits = names.indices.filter(k => names(k).toLowerCase.startsWith(w))
    if (hits.length == 1) hits.head else -1
  }

  /** MySQL's str_to_datetime literal grammar for date/datetime strings
    * in comparison context (sql-common/my_time.c via the reference's
    * get_date_from_str path, pinned by range.test): any punctuation
    * runs as the delimiter ('2009/09/23', '2009.09.23', '2009:09:23'),
    * single-digit month/day ('2009-9-23'), compact digit forms
    * ('20090923', '20090923120000', 6/12-digit two-year variants), and
    * the 70-pivot two-digit year. Returns the value normalized to
    * Spark's cast grammar ('yyyy-MM-dd[ HH:mm:ss[.f]]'), or null when
    * the string doesn't parse as a date — the caller leaves those
    * comparisons untouched. Driver-side only (constant literal
    * rewriting in the coercion rule). */
  private[graft] def dateLiteralNormalize(s0: String): String = {
    if (s0 == null) return null
    val s = s0.trim
    val Delim = ("""^(\d{1,4})\p{Punct}+(\d{1,2})\p{Punct}+(\d{1,2})""" +
      """(?:[T \p{Punct}]+(\d{1,2})(?:\p{Punct}+(\d{1,2})""" +
      """(?:\p{Punct}+(\d{1,2})(\.\d+)?)?)?)?$""").r
    val Compact = """^(\d{6}|\d{8}|\d{12}|\d{14})(\.\d+)?$""".r
    def y2k(y: String): Int = {
      val v = y.toInt
      if (y.length > 2) v else if (v >= 70) 1900 + v else 2000 + v
    }
    def build(y: Int, mo: Int, d: Int, h: Int, mi: Int, se: Int,
              frac: String, hasTime: Boolean): String =
      try {
        // LocalDate validates the calendar (2007-20-00 must NOT parse)
        java.time.LocalDate.of(y, mo, d)
        if (h > 23 || mi > 59 || se > 59) return null
        val date = f"$y%04d-$mo%02d-$d%02d"
        if (!hasTime) date
        else {
          val f = if (frac == null || frac.isEmpty) ""
            else frac.take(7)
          f"$date $h%02d:$mi%02d:$se%02d$f"
        }
      } catch { case _: java.time.DateTimeException => null }
    s match {
      case Delim(y, mo, d, h, mi, se, fr) =>
        build(y2k(y), mo.toInt, d.toInt,
          if (h == null) 0 else h.toInt,
          if (mi == null) 0 else mi.toInt,
          if (se == null) 0 else se.toInt,
          fr, hasTime = h != null)
      case Compact(digits, fr) =>
        val (datePart, timePart) = digits.length match {
          case 6 => (digits, "")
          case 8 => (digits, "")
          case 12 => (digits.take(6), digits.drop(6))
          case 14 => (digits.take(8), digits.drop(8))
        }
        val (y, mo, d) =
          if (datePart.length == 6)
            (y2k(datePart.take(2)), datePart.slice(2, 4).toInt,
              datePart.slice(4, 6).toInt)
          else (datePart.take(4).toInt, datePart.slice(4, 6).toInt,
            datePart.slice(6, 8).toInt)
        if (timePart.isEmpty) build(y, mo, d, 0, 0, 0, null, hasTime = false)
        else build(y, mo, d, timePart.take(2).toInt,
          timePart.slice(2, 4).toInt, timePart.slice(4, 6).toInt, fr,
          hasTime = true)
      case _ => null
    }
  }

  /** Bare digits as MySQL TIME: hhmmss from the right ('121314' →
    * '12:13:14', '314' → '00:03:14'). Driver-side literal rewriting. */
  private[graft] def timeDigitsNormalize(s: String): String = {
    val p = ("0" * math.max(0, 6 - s.length)) + s
    s"${p.dropRight(4)}:${p.takeRight(4).take(2)}:${p.takeRight(2)}"
  }

  def strToDateMysql(s0: org.apache.spark.unsafe.types.UTF8String,
                     f0: org.apache.spark.unsafe.types.UTF8String,
                     dynamicFmt: Boolean)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (s0 == null || f0 == null) return null
    val r = strToDateImpl(s0.toString, f0.toString, dynamicFmt)
    if (r == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(r)
  }

  // scalastyle:off cyclomatic.complexity method.length
  private[functions] def strToDateImpl(s: String, fmt0: String,
                                       dynamicFmt: Boolean): String = {
    // %T and %r are composite time formats
    val fmt = fmt0.replace("%T", "%H:%i:%s").replace("%r", "%I:%i:%S %p")
    val n = s.length
    var i = 0
    var j = 0
    var year = 0; var month = 0; var day = 0
    var hour = 0; var minute = 0; var second = 0; var micro = 0
    var datePart = false; var timePart = false
    var twelveHour = false; var amPm = 0
    var weekday = -1; var weekNum = -1; var weekYear = -1; var yearday = -1
    var usedU = false; var usedLu = false
    var usedV = false; var usedLv = false
    var usedX = false; var usedLx = false
    var ok = true
    def y2k(v: Int, nd: Int): Int =
      if (nd > 2) v else if (v < 70) 2000 + v else 1900 + v
    def skipWs(): Unit = while (i < n && s(i).isWhitespace) i += 1
    // reads 1..max digits; returns (value, count) with count 0 on none
    def digits(max: Int): (Int, Int) = {
      var k = 0; var v = 0
      while (k < max && i < n && s(i).isDigit) {
        v = v * 10 + (s(i) - '0'); i += 1; k += 1
      }
      (v, k)
    }
    def word(): String = {
      val st = i
      while (i < n && s(i).isLetter) i += 1
      s.substring(st, i)
    }
    val m = fmt.length
    while (ok && j < m) {
      val c = fmt(j)
      if (c == '%' && j + 1 < m) {
        val sp = fmt(j + 1); j += 2
        skipWs()
        // value exhausted: every remaining item defaults (MySQL fills
        // zeros — '15-01-2001' under '%d-%m-%Y %H:%i:%S')
        if (i >= n) ()
        else sp match {
          case 'Y' =>
            val (v, k) = digits(4)
            if (k == 0) ok = false
            else { year = y2k(v, k); datePart = true }
          case 'y' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { year = y2k(v, k); datePart = true }
          case 'm' | 'c' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false else { month = v; datePart = true }
          case 'M' | 'b' =>
            val idx = uniquePrefix(word(), MonthNames)
            if (idx < 0) ok = false else { month = idx + 1; datePart = true }
          case 'd' | 'e' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false else day = v
          case 'D' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { day = v; while (i < n && s(i).isLetter) i += 1 }
          case 'H' | 'k' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false else { hour = v; timePart = true }
          case 'h' | 'I' | 'l' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { hour = v; twelveHour = true; timePart = true }
          case 'i' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false else { minute = v; timePart = true }
          case 's' | 'S' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false else { second = v; timePart = true }
          case 'f' =>
            val st = i
            while (i < n && s(i).isDigit) i += 1
            val ds = s.substring(st, i)
            micro = (ds.take(6) + "0" * (6 - math.min(6, ds.length))).toInt
            timePart = true
          case 'p' =>
            if (!twelveHour || hour < 1 || hour > 12) ok = false
            else if (i + 1 < n + 1 && i + 2 <= n &&
                s(i + 1).toUpper == 'M' &&
                (s(i).toUpper == 'A' || s(i).toUpper == 'P')) {
              amPm = if (s(i).toUpper == 'P') 2 else 1
              i += 2
            } else ok = false
          case 'j' =>
            val (v, k) = digits(3)
            if (k == 0) ok = false else { yearday = v; datePart = true }
          case 'W' | 'a' =>
            val idx = uniquePrefix(word(), WeekdayNames)
            if (idx < 0) ok = false
            else { weekday = idx + 1; datePart = true }
          case 'w' =>
            val (v, k) = digits(1)
            if (k == 0 || v > 6) ok = false
            else { weekday = if (v == 0) 7 else v; datePart = true }
          case 'U' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { weekNum = v; usedU = true; datePart = true }
          case 'u' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { weekNum = v; usedLu = true; datePart = true }
          case 'V' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { weekNum = v; usedV = true; datePart = true }
          case 'v' =>
            val (v, k) = digits(2)
            if (k == 0) ok = false
            else { weekNum = v; usedLv = true; datePart = true }
          case 'X' =>
            val (v, k) = digits(4)
            if (k == 0) ok = false
            else { weekYear = y2k(v, k); usedX = true; datePart = true }
          case 'x' =>
            val (v, k) = digits(4)
            if (k == 0) ok = false
            else { weekYear = y2k(v, k); usedLx = true; datePart = true }
          case '#' => while (i < n && s(i).isDigit) i += 1
          case '@' => while (i < n && s(i).isLetter) i += 1
          case '.' =>
            while (i < n && !s(i).isLetterOrDigit && !s(i).isWhitespace)
              i += 1
          case '%' =>
            if (s(i) == '%') i += 1 else ok = false
          case _ => ok = false
        }
      } else if (c.isWhitespace) { skipWs(); j += 1 }
      else {
        if (i >= n) j += 1
        else if (s(i) == c) { i += 1; j += 1 }
        else ok = false
      }
    }
    if (!ok) return null
    // strict week pairs: %V needs %X, %v needs %x, and vice versa
    if (usedV != usedX || usedLv != usedLx) return null
    if (amPm != 0) hour = hour % 12 + (if (amPm == 2) 12 else 0)
    if (month > 12 || day > 31 || minute > 59 || second > 59) return null
    // week number + weekday + year → date (formulas verified against
    // date_formats.result:73-78: %U/%V count Sunday-started weeks from
    // the Sunday on/before Jan 1 (week 0 = that partial week); %u/%v
    // are Monday-started 1-based with the ISO ≥4-days rule)
    if (weekNum >= 0 && weekday > 0) {
      val yy = if (usedV || usedLv) weekYear else year
      if (yy <= 0) return null
      val jan1 = java.time.LocalDate.of(yy, 1, 1)
      val dowMon = jan1.getDayOfWeek.getValue - 1 // Mon=0..Sun=6
      val target =
        if (usedU || usedV) {
          val base = jan1.minusDays((dowMon + 1) % 7) // Sunday on/before
          base.plusDays(weekNum.toLong * 7 + weekday % 7)
        } else {
          var base = jan1.minusDays(dowMon)
          if (dowMon >= 4) base = base.plusDays(7)
          base.plusDays((weekNum - 1).toLong * 7 + (weekday - 1))
        }
      year = target.getYear; month = target.getMonthValue
      day = target.getDayOfMonth
    }
    if (yearday > 0) {
      if (year <= 0) return null
      val d = java.time.LocalDate.of(year, 1, 1).plusDays(yearday - 1L)
      year = d.getYear; month = d.getMonthValue; day = d.getDayOfMonth
    }
    // a fully-specified date must exist ('2003-02-30' is NULL); zero
    // month/day are the engine's fuzzy-date values and stay
    if (month > 0 && day > 0 &&
        scala.util.Try(java.time.LocalDate.of(year max 1, month, day))
          .isFailure) return null
    val hasFrac = fmt0.contains("%f")
    def frac: String = if (hasFrac || dynamicFmt) f".$micro%06d" else ""
    if (dynamicFmt)
      f"$year%04d-$month%02d-$day%02d $hour%02d:$minute%02d:$second%02d" +
        frac
    else if (timePart && !datePart) {
      // day without month/year folds into hours: '02 10:11:12' under
      // '%d %H:%i:%S' is the TIME 58:11:12 (date_formats.result:351)
      val h = hour + 24 * day
      f"$h%02d:$minute%02d:$second%02d$frac"
    } else if (hour > 23) null
    else if (!timePart)
      f"$year%04d-$month%02d-$day%02d"
    else
      f"$year%04d-$month%02d-$day%02d $hour%02d:$minute%02d:$second%02d" +
        frac
  }
  // scalastyle:on cyclomatic.complexity method.length

  /** MySQL `ADDTIME(ts, 'HH:MM:SS')`. */
  def addtime(ts: Column, t: Column): Column =
    ts + make_dt_interval(lit(0), lit(0), lit(0), timeToSec(t).cast("double"))

  /** MySQL `TIMEDIFF(a, b)` → '[-]HH:MM:SS' (a − b; hours not wrapped,
    * same convention as [[secToTime]]). */
  def timediff(a: Column, b: Column): Column = {
    // MySQL TIMEDIFF demands SAME-kind operands: TIME−TIME or
    // DATETIME−DATETIME; a DATE-only value against a timed one is NULL
    // (timediff_function.test). The result keeps the wider operand
    // fsp, rendered as the reference does — truncated seconds with a
    // zero fraction tail ('09:05:56.0000').
    val as = a.cast("string")
    val bs = b.cast("string")
    def isTime(s: Column) =
      s.rlike("^\\s*-?\\d{1,3}:\\d{1,2}(:\\d{1,2})?(\\.\\d+)?\\s*$")
    def isDt(s: Column) =
      s.rlike("^\\s*\\d{1,4}[-/.]\\d{1,2}[-/.]\\d{1,2}[ T]\\d")
    def isDateOnly(s: Column) =
      s.rlike("^\\s*\\d{1,4}[-/.]\\d{1,2}[-/.]\\d{1,2}\\s*$")
    val f1 = length(regexp_extract(as, "\\.(\\d+)\\s*$", 1))
    val f2 = length(regexp_extract(bs, "\\.(\\d+)\\s*$", 1))
    val fsp = greatest(coalesce(f1, lit(0)), coalesce(f2, lit(0)))
    val tdiff = floor(timeToSecFull(as) - timeToSecFull(bs)).cast("long")
    val dtdiff = floor(
      (unix_micros(a.cast("timestamp")) -
        unix_micros(b.cast("timestamp"))).cast("double") / 1e6)
      .cast("long")
    // a TIME result saturates at MySQL's TIME range: ±838:59:59
    // (timediff_function.test pins the cap for year-scale diffs)
    val timeCap = 838L * 3600 + 59 * 60 + 59
    def capped(secs: Column) =
      secToTime(least(greatest(secs, lit(-timeCap)), lit(timeCap)))
    val base = when(isTime(as) && isTime(bs), capped(tdiff))
      .when(isDt(as) && isDt(bs), capped(dtdiff))
      .when(isDateOnly(as) && isDateOnly(bs), capped(dtdiff))
      .otherwise(lit(null))
    when(fsp > 0 && base.isNotNull,
      concat(base, lit("."), lit("000000").substr(lit(1), fsp)))
      .otherwise(base)
  }

  /** MySQL `SUBTIME(ts, 'HH:MM:SS')` — [[addtime]] with the sign
    * flipped. */
  def subtime(ts: Column, t: Column): Column =
    ts - make_dt_interval(lit(0), lit(0), lit(0), timeToSec(t).cast("double"))

  /** MySQL `MAKETIME(h, m, s)` → 'H:MM:SS' in MySQL; emitted here in the
    * same zero-padded convention as [[secToTime]] ('HH:MM:SS'). */
  def maketime(h: Column, m: Column, s: Column): Column =
    secToTime(h.cast("long") * 3600 + m.cast("long") * 60 + s.cast("long"))

  /** MySQL string `INSERT(str, pos, len, newstr)`: replace `len` chars of
    * `str` starting at 1-based `pos`; returns `str` unchanged when `pos`
    * is out of range (the MySQL edge contract,
    * mysql-test string function tier). */
  def insertStr(str: Column, pos: Column, len: Column,
                newstr: Column): Column =
    when(pos < 1 || pos > length(str), str)
      .otherwise(concat(
        substr(str, lit(1), pos - 1),
        newstr,
        substr(str, pos + len, length(str))))

  // --- DATE_FORMAT % patterns ------------------------------------------------

  /** Translate a MySQL DATE_FORMAT %-pattern to a java.time pattern
    * (throws on specifiers with no Java analog). */
  def mysqlFormatToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        sb.append(fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'y' => "yy"
          case 'M' => "MMMM"; case 'b' => "MMM"
          case 'm' => "MM"; case 'c' => "M"
          case 'd' => "dd"; case 'e' => "d"
          case 'H' => "HH"; case 'k' => "H"
          case 'h' | 'I' => "hh"; case 'l' => "h"
          case 'i' => "mm"
          case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'W' => "EEEE"; case 'a' => "EEE"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case 'r' => "hh:mm:ss a"
          case '%' => "%"
          case u if WeekSpecifiers.contains(u) =>
            throw new IllegalArgumentException(
              s"DATE_FORMAT week specifier %$u has no java.time analog — " +
                "use MySql.dateFormat, which composes it column-wise")
          case u => throw new IllegalArgumentException(
            s"DATE_FORMAT specifier %$u not implemented")
        })
        i += 2
      } else {
        if (c.isLetter) sb.append('\'').append(c).append('\'')
        else if (c == '\'') sb.append("''")
        else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** MySQL week-number format specifiers: no java.time analog (Java week
    * fields follow ISO or locale rules, not MySQL's 8 modes), so
    * [[dateFormat]] splices them in as [[week]]/[[weekYearOf]] columns:
    * %U=WEEK(d,0), %u=WEEK(d,1), %V=WEEK(d,2), %v=WEEK(d,3), %X/%x = the
    * week-year paired with %V/%v. */
  private val WeekSpecifiers: Set[Char] = Set('U', 'u', 'V', 'v', 'X', 'x')

  /** Specifiers spliced in as columns: the week set plus %D (English
    * ordinal day — 1st, 2nd, 22nd — date_formats_func.test). */
  private val SplicedSpecifiers: Set[Char] = WeekSpecifiers + 'D'

  private def weekSpecColumn(d: Column, spec: Char): Column = spec match {
    case 'D' =>
      val dd = dayofmonth(d)
      concat(dd.cast("string"),
        when(dd % 100 >= 11 && dd % 100 <= 13, "th")
          .when(dd % 10 === 1, "st")
          .when(dd % 10 === 2, "nd")
          .when(dd % 10 === 3, "rd")
          .otherwise("th"))
    case 'U' => lpad(week(d, 0).cast("string"), 2, "0")
    case 'u' => lpad(week(d, 1).cast("string"), 2, "0")
    case 'V' => lpad(week(d, 2).cast("string"), 2, "0")
    case 'v' => lpad(week(d, 3).cast("string"), 2, "0")
    case 'X' => lpad(weekYearOf(d, 2).cast("string"), 4, "0")
    case 'x' => lpad(weekYearOf(d, 3).cast("string"), 4, "0")
  }

  /** MySQL `DATE_FORMAT(d, '%...')` — full %-pattern support including
    * the week specifiers (%U/%u/%V/%v/%X/%x), which are composed as
    * columns around the java.time-formatted segments. */
  def dateFormat(d: Column, fmt: String): Column = {
    val hasWeek = fmt.zipWithIndex.exists { case (c, i) =>
      c == '%' && i + 1 < fmt.length && SplicedSpecifiers(fmt.charAt(i + 1)) &&
        (i == 0 || fmt.charAt(i - 1) != '%')
    }
    if (!hasWeek) date_format(d, mysqlFormatToJava(fmt))
    else {
      val segs = scala.collection.mutable.ArrayBuffer.empty[Column]
      val buf = new StringBuilder
      def flush(): Unit = if (buf.nonEmpty) {
        segs += date_format(d, mysqlFormatToJava(buf.toString)); buf.clear()
      }
      var i = 0
      while (i < fmt.length) {
        val c = fmt.charAt(i)
        if (c == '%' && i + 1 < fmt.length && SplicedSpecifiers(fmt.charAt(i + 1))) {
          flush(); segs += weekSpecColumn(d, fmt.charAt(i + 1)); i += 2
        } else if (c == '%' && i + 1 < fmt.length) {
          buf.append(c).append(fmt.charAt(i + 1)); i += 2
        } else { buf.append(c); i += 1 }
      }
      flush()
      concat(segs.toSeq: _*)
    }
  }

  /** MySQL `DAYNAME` / `MONTHNAME`. */
  def dayname(d: Column): Column = date_format(d, "EEEE")
  def monthname(d: Column): Column = date_format(d, "MMMM")

  // --- TIMESTAMPADD / TIMESTAMPDIFF -----------------------------------------

  /** MySQL `TIMESTAMPADD(unit, n, ts)`. */
  def timestampAdd(unit: String, n: Column, ts: Column): Column =
    unit.toUpperCase match {
      case "YEAR" => ts + make_interval(n, lit(0), lit(0), lit(0), lit(0), lit(0), lit(0))
      case "QUARTER" => ts + make_interval(lit(0), n * 3, lit(0), lit(0), lit(0), lit(0), lit(0))
      case "MONTH" => ts + make_interval(lit(0), n, lit(0), lit(0), lit(0), lit(0), lit(0))
      case "WEEK" => ts + make_interval(lit(0), lit(0), n, lit(0), lit(0), lit(0), lit(0))
      case "DAY" => ts + make_interval(lit(0), lit(0), lit(0), n, lit(0), lit(0), lit(0))
      case "HOUR" => ts + make_interval(lit(0), lit(0), lit(0), lit(0), n, lit(0), lit(0))
      case "MINUTE" => ts + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), n, lit(0))
      case "SECOND" => ts + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0), n.cast("double"))
      case u => throw new IllegalArgumentException(s"TIMESTAMPADD unit $u")
    }

  /** MySQL STRCMP(a, b) → -1/0/1 (string collation compare); NULL if
    * either argument is NULL (the bare comparison chain would fall
    * through to the `otherwise(1)` branch on NULL inputs). */
  def strcmp(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("int"))
      .when(a < b, -1).when(a === b, 0).otherwise(1)

  /** MySQL ELT(n, s1, s2, …): 1-based pick, NULL out of range. */
  def elt(n: Column, ss: Column*): Column =
    ss.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (s, i)) => when(n === (i + 1), s).otherwise(acc)
    }

  /** MySQL FIELD(s, s1, s2, …): 1-based index of the FIRST match, 0 if
    * absent (or if s is NULL — MySQL treats NULL as matching nothing).
    * coalesce-of-whens so duplicates resolve to the first index, not the
    * last. */
  def field(s: Column, ss: Column*): Column =
    coalesce(ss.zipWithIndex.map { case (c, i) => when(s === c, i + 1) }
      :+ lit(0): _*)

  /** MySQL STR_TO_DATE with a %-pattern (date-only patterns). Parsing
    * uses single-letter Java fields (`d,M,y`), which accept both padded
    * and unpadded digits the way MySQL does — the format-oriented
    * translation (`dd,MM`) would reject STR_TO_DATE('01,5,2013', …).
    * Numeric day/month fields are remapped to their lenient specifier
    * aliases (%d→%e, %m→%c) before translation, and the translated
    * four-digit year field is relaxed to `y`; name fields (%M/%b/%W/%a)
    * pass through unchanged. */
  def strToDate(s: Column, mysqlFmt: String): Column = {
    val sb = new StringBuilder
    var i = 0
    while (i < mysqlFmt.length) {
      if (mysqlFmt.charAt(i) == '%' && i + 1 < mysqlFmt.length) {
        sb.append(mysqlFmt.charAt(i + 1) match {
          case 'd' => "%e" // day: lenient single-letter field
          case 'm' => "%c" // month: lenient single-letter field
          case other => s"%$other"
        })
        i += 2
      } else { sb.append(mysqlFmt.charAt(i)); i += 1 }
    }
    val javaFmt = mysqlFormatToJava(sb.toString).replace("yyyy", "y")
    to_date(s, javaFmt)
  }

  /** MySQL MAKEDATE(year, dayofyear); NULL for dayofyear < 1. */
  def makedate(year: Column, doy: Column): Column =
    when(doy >= 1,
      date_add(make_date(year, lit(1), lit(1)), doy.cast("int") - 1))

  /** Days since year 0 (MySQL TO_DAYS); 719528 = TO_DAYS('1970-01-01'). */
  val EpochToDays = 719528L
  def toDays(d: Column): Column =
    datediff(d, lit("1970-01-01").cast("date")).cast("long") + EpochToDays
  def fromDays(n: Column): Column =
    date_add(lit("1970-01-01").cast("date"), (n - EpochToDays).cast("int"))

  /** MySQL TO_SECONDS: seconds since year 0 — TO_DAYS of the date part
    * ×86400 plus the time-of-day (issue464.test). */
  def toSeconds(d: Column): Column =
    toDays(d.cast("date")) * 86400L +
      (unix_seconds(d.cast("timestamp")) -
        unix_seconds(d.cast("date").cast("timestamp")))

  /** MySQL `TIMESTAMPDIFF(unit, a, b)` — complete units from a to b,
    * truncated toward zero. */
  def timestampDiff(unit: String, a: Column, b: Column): Column = {
    def usDiv(us: Long): Column =
      div(unix_micros(b.cast("timestamp")) - unix_micros(a.cast("timestamp")),
        lit(us))
    unit.toUpperCase match {
      case "SECOND" => usDiv(1000000L)
      case "MINUTE" => usDiv(60L * 1000000)
      case "HOUR" => usDiv(3600L * 1000000)
      case "DAY" => usDiv(86400L * 1000000)
      case "WEEK" => usDiv(7L * 86400 * 1000000)
      case "MONTH" => months_between(b, a).cast("long")
      case "QUARTER" => div(months_between(b, a).cast("long"), lit(3L))
      case "YEAR" => div(months_between(b, a).cast("long"), lit(12L))
      case u => throw new IllegalArgumentException(s"TIMESTAMPDIFF unit $u")
    }
  }
}
