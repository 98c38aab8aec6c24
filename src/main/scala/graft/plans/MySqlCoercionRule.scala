package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** MySQL 5.7 implicit-coercion semantics the reference inherits through
  * its MySQL front end (storage/tianmu/core/mysql_expression.h evaluates
  * MySQL Item trees, which coerce freely) and Spark's ANSI-off mode
  * still rejects:
  *
  *  - numbers in boolean context: `WHERE b > 2 OR 1` (issue301),
  *    `(v1 = 20) OR (…) AND (1)` (issue469) — a numeric operand of
  *    AND/OR/NOT or a numeric WHERE/HAVING condition means `x <> 0`;
  *  - date/time vs number comparison: `IF(c > 0, …)` over a DATE column
  *    (if_function.test) — MySQL compares the temporal value's digit
  *    string as a number (DATE '2020-01-02' ≡ 20200102);
  *  - SUM/AVG over a boolean: `SUM(x IS NULL)` (issue1942) — MySQL
  *    booleans are integers.
  *
  * Injected as an analyzer resolution rule via [[GraftExtensions]],
  * inert unless `spark.graft.mysqlCoercion.enabled` is true (the
  * [[graft.sources.StatementRunner]] enables it — the dialect surface is
  * where MySQL text arrives; DataFrame-API plans never need it). Every
  * rewrite is guarded on resolved children and produces a well-typed
  * tree, so the fixed-point analyzer applies each at most once. */
class MySqlCoercionRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.mysqlCoercion.enabled")
      .exists(_.toBoolean)

  private def isNumeric(e: Expression): Boolean =
    e.resolved && e.dataType.isInstanceOf[NumericType]

  private def isTemporal(e: Expression): Boolean =
    e.resolved && (e.dataType.isInstanceOf[DateType] ||
      e.dataType.isInstanceOf[TimestampType] ||
      e.dataType.isInstanceOf[TimestampNTZType])

  private def isStringy(e: Expression): Boolean =
    e.resolved && e.dataType == StringType

  /** Numeric → boolean the MySQL way: x <> 0 (NULL stays NULL);
    * temporals go through their digit-string number first
    * (issue1910's `LEFT JOIN … ON created_date`); strings coerce
    * through their numeric value — MySQL parses 'abc' as 0 (false),
    * Spark's cast nulls it, and a NULL condition filters the row the
    * same way false does (issue1910's `ON b.nm`). */
  private def asBool(e: Expression): Expression =
    if (isNumeric(e)) Not(EqualTo(e, Cast(Literal(0), e.dataType)))
    else if (isTemporal(e))
      Not(EqualTo(temporalAsNumber(e), Literal(BigDecimal(0))))
    else if (isStringy(e)) {
      // MySQL PREFIX-parses string numerics in boolean context:
      // '1abc' is 1 (true), 'abc' is 0 (false) — Spark's plain cast
      // nulls both, which would wrongly filter the '1abc' row. NULL
      // input stays NULL (3-valued logic: NOT NULL must stay NULL).
      Not(EqualTo(stringAsDouble(e), Literal(0.0)))
    }
    else e

  /** Temporal → the number MySQL compares it as: its digit string
    * (DATE '2020-01-02' → 20200102, DATETIME → 20200102103000). A NULL
    * in a NOT-NULL-declared temporal column is the engine's stored
    * zero date — its number is 0, not NULL (insert.test pins `t>0` = 0
    * after `INSERT … (4,0,…)` into `timestamp NOT NULL`). */
  private def temporalAsNumber(e: Expression): Expression = {
    val n = Cast(RegExpReplace(Cast(e, StringType), Literal("[^0-9]"),
      Literal("")), DecimalType(20, 0))
    val zeroStoredAsNull = e match {
      case ar: AttributeReference =>
        ar.metadata.contains("graft.mysql.notnull") &&
          ar.metadata.getBoolean("graft.mysql.notnull")
      case _ => false
    }
    if (zeroStoredAsNull)
      Coalesce(Seq(n, Literal(Decimal(0, 20, 0), DecimalType(20, 0))))
    else n
  }

  /** A bare string operand, or one under an ANALYZER-inserted numeric
    * cast (Spark's PromoteStrings fires in the same resolution batch
    * and may wrap the string before this rule sees the comparison) —
    * returns the underlying string expression. RegExpExtract children
    * are this rule's own rewrite output, never re-unwrapped. */
  private def implicitStrNum(e: Expression): Option[Expression] = e match {
    case _ if e.resolved && e.dataType == StringType &&
        !e.isInstanceOf[RegExpExtract] => Some(e)
    case c: Cast if c.child.resolved &&
        c.child.dataType == StringType &&
        !c.child.isInstanceOf[RegExpExtract] &&
        c.dataType.isInstanceOf[NumericType] &&
        c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
      Some(c.child)
    case _ => None
  }

  /** String → number by MySQL's leading-prefix parse: '12abc' = 12, a
    * non-numeric string = 0; NULL stays NULL. DECIMAL(38,6), not
    * DOUBLE: a BIGINT-magnitude digit string must compare EXACTLY
    * (bigint_unsigned.test's `a = '9223372036854775807'` matches one
    * row — at double precision the three top values collide). */
  private val StrNumType = DecimalType(38, 6)

  /** MySQL's numeric prefix — a single leading sign is legal
    * ('+15.9' is 15.9, '++++15.9' is 0 — issue959's goldens). */
  private val NumPrefixRe = "^\\s*([+-]?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)"

  /** String → DOUBLE by MySQL's prefix parse — the general
    * string-vs-number comparison domain ('15.9.' is 15.9, 'abc' is 0;
    * NULL stays NULL). */
  private def stringAsDouble(e: Expression): Expression = {
    val prefix = Cast(RegExpExtract(e, Literal(NumPrefixRe),
      Literal(1)), DoubleType)
    If(IsNull(e), Literal(null, DoubleType),
      Coalesce(Seq(prefix, Literal(0.0))))
  }

  private def stringAsNumber(e: Expression): Expression = {
    val prefixStr = RegExpExtract(e, Literal(NumPrefixRe),
      Literal(1))
    val prefix = Cast(prefixStr, StrNumType)
    // a prefix whose magnitude overflows DECIMAL(38,6) ('9e107…'-style
    // digests through the exponent branch, 33+ integer digits) casts
    // to NULL — MySQL evaluates it as a huge DOUBLE, so CLAMP to the
    // type's rim instead of letting Coalesce zero it (WHERE md5(c) > 1
    // must keep the rows MySQL keeps)
    val maxDec = Literal.create(org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal("9" * 32 + ".999999")), StrNumType)
    val minDec = Literal.create(org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal("-" + "9" * 32 + ".999999")), StrNumType)
    val asDouble = Cast(prefixStr, DoubleType)
    val clamped = If(GreaterThan(asDouble, Literal(0.0)), maxDec,
      If(LessThan(asDouble, Literal(0.0)), minDec,
        Literal(null, StrNumType)))
    If(IsNull(e), Literal(null, StrNumType),
      Coalesce(Seq(prefix, clamped,
        Literal.create(org.apache.spark.sql.types.Decimal(0),
          StrNumType))))
  }

  /** A string LITERAL operand — bare, or under an analyzer-inserted
    * cast (PromoteStrings wraps the literal in Cast(… AS DATE) before
    * this rule sees the comparison). */
  private def strLitOperand(e: Expression): Option[String] = {
    def lit(x: Expression): Option[String] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        StringType) => Some(v.toString)
      case _ => None
    }
    e match {
      case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
        lit(c.child)
      case other => lit(other)
    }
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A TIME-declared (string-typed) column attribute. */
  private def isTimeDecl(e: Expression): Boolean = e match {
    case ar: AttributeReference =>
      ar.dataType == StringType &&
        ar.metadata.contains("graft.mysql.type") &&
        ar.metadata.getString("graft.mysql.type").startsWith("TIME")
    case _ => false
  }

  /** (timeColumn, digitLiteral) when a comparison pairs a TIME-declared
    * column with a bare 3-6 digit string literal. */
  private def timeDeclVsDigits(l: Expression, r: Expression)
      : Option[(Expression, String)] = {
    def digits(e: Expression): Option[String] =
      strLitOperand(e).filter(_.matches("\\d{3,6}"))
    if (isTimeDecl(l) && digits(r).isDefined) Some((l, digits(r).get))
    else if (isTimeDecl(r) && digits(l).isDefined) Some((r, digits(l).get))
    else None
  }

  private def nonIntegralOperand(children: Seq[Expression]): Boolean =
    children.forall(_.resolved) &&
      children.exists(c => !isIntegral(c.dataType) &&
        c.dataType != NullType)

  /** One bit operator evaluated in MySQL's u64 domain (see
    * [[graft.functions.MySql.bitAndU64]] and friends). Spark's own
    * coercion may already have squeezed the operand through an
    * IMPLICIT 32-bit cast (ShiftLeft takes int|long — a DECIMAL base
    * arrives as Cast(a AS INT), silently wrapping -284467440737 to
    * -999599201), so analyzer-inserted casts unwrap first; fractional
    * operands round MySQL's way (floor(x+0.5): -2.9 → -3 AND
    * -3.5 → -3, func_bit.result); everything widens to LongType. */
  private def bitOpU64(method: String, l: Expression,
                       r: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.functions.MySql.getClass, DecimalType(20, 0), method,
      Seq(bitOperandToLong(l), bitOperandToLong(r)),
      Seq(LongType, LongType))

  /** A bit operand as MySQL's longlong: analyzer-inserted casts
    * unwrap, fractions round floor(x+0.5), everything widens to
    * LongType (shared by the five operators and BIT_COUNT). */
  private def bitOperandToLong(e0: Expression): Expression = {
    def unwrap(e: Expression): Expression = e match {
      case c: Cast if c.child.resolved &&
          c.child.dataType.isInstanceOf[NumericType] &&
          c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
        unwrap(c.child)
      case other => other
    }
    val e = unwrap(e0)
    e.dataType match {
      case LongType => e
      case DoubleType | FloatType =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          graft.functions.MySql.getClass, LongType, "mysqlDoubleToLong",
          Seq(Cast(e, DoubleType)), Seq(DoubleType))
      // An INTEGER literal in the u64 range is MySQL's UNSIGNED BIGINT
      // — its bit PATTERN enters the operator (18446744073709551615 is
      // all-ones, | 0 stays 18446744073709551615); any OTHER decimal
      // (a CAST result, a fractional literal) rounds floor(x+0.5) and
      // SATURATES at the signed-BIGINT rim, the reference's int64 tier
      // (other_bit.test pins `18446744073709551615.0 ^ 1` =
      // 9223372036854775806 — saturated operand xor 1 — next to
      // u64-literal lines in the same file).
      case dt: DecimalType =>
        e match {
          case Literal(v: Decimal, _) if dt.scale == 0 && v != null &&
              v.toJavaBigDecimal.signum >= 0 &&
              v.toJavaBigDecimal.compareTo(new java.math.BigDecimal(
                "18446744073709551615")) <= 0 =>
            Literal(v.toJavaBigDecimal.longValue())
          case _ =>
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, LongType,
              "decToLongRoundSaturate",
              Seq(Cast(e, DecimalType(38, 6))), Seq(DecimalType(38, 6)))
        }
      case _ => Cast(e, LongType)
    }
  }

  /** MySQL 5.7 without ONLY_FULL_GROUP_BY (the suite's master.opt
    * sql_mode): a selected column outside the GROUP BY keys returns
    * some value from the group — first() is that semantics
    * (bit.test `select sum(a1), b2+0 … group by b1`). Output exprIds
    * are preserved so parent operators keep resolving. */
  private def looseGroupBy(a: Aggregate): Aggregate = {
    def grouped(e: Expression): Boolean =
      a.groupingExpressions.exists(_.semanticEquals(e))
    def fix(e: Expression): Expression = e match {
      case _ if grouped(e) => e
      case _: aggregate.AggregateExpression => e
      // a correlated outer column is legal ungrouped — leave it
      case _: OuterReference => e
      case ar: AttributeReference =>
        aggregate.First(ar, ignoreNulls = false).toAggregateExpression()
      case other => other.mapChildren(fix)
    }
    // an aggregate-free select item wraps WHOLE: over an empty input
    // MySQL returns NULL for the item, not its NULL-branch evaluation
    // (issue1784's `case when age is not null then age else 33 end,
    // sum(age)` over empty t1 is NULL, not 33)
    def hasAgg(e: Expression): Boolean = e match {
      case _: aggregate.AggregateExpression => true
      case other => other.children.exists(hasAgg)
    }
    def needsFix(e: Expression): Boolean = e match {
      case _ if grouped(e) => false
      case _: aggregate.AggregateExpression => false
      case _: OuterReference => false
      case _: AttributeReference => true
      case other => other.children.exists(needsFix)
    }
    val rewritten = a.aggregateExpressions.map {
      case ar: AttributeReference if !grouped(ar) =>
        Alias(fix(ar), ar.name)(exprId = ar.exprId)
      case al @ Alias(child, name)
          if a.groupingExpressions.isEmpty && !hasAgg(child) &&
            needsFix(child) && {
              // the reference's column engine returns NULL for the
              // whole item over an empty table; a MySQL-side (innodb)
              // table evaluates the expression over NULL columns —
              // case(NULL-age) is 33 (issue1784 pins both)
              def innodb(e: Expression): Boolean = e match {
                case ar: AttributeReference =>
                  ar.metadata.contains("graft.mysql.engine")
                case other => other.children.exists(innodb)
              }
              !innodb(child)
            } =>
        Alias(aggregate.First(child, ignoreNulls = false)
          .toAggregateExpression(), name)(exprId = al.exprId)
      case al @ Alias(child, name) =>
        val f = fix(child)
        if (f eq child) al else Alias(f, name)(exprId = al.exprId)
      case other => other
    }
    a.copy(aggregateExpressions = rewritten)
  }

  /** Loose grouping applies only when the session's sql_mode was
    * explicitly SET without ONLY_FULL_GROUP_BY (issue1784 does; MySQL
    * 5.7's DEFAULT mode includes it, and select_group_by.test pins the
    * error under the default). */
  private def looseGroupByMode: Boolean =
    spark.conf.getOption("spark.graft.mysql.sqlMode")
      .exists(m => m != "__default__" &&
        !m.toUpperCase.contains("ONLY_FULL_GROUP_BY"))

  /** Session time_zone offset minutes published by the runner (0 when
    * SYSTEM/unset). */
  private def sessionTzMinConf: Int =
    spark.conf.getOption("spark.graft.mysql.tzMin")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0)

  /** Cheap pre-check: does the select list carry a BARE ungrouped
    * attribute at all? (select-list-only scan — the expensive child
    * walk in [[equalToGroupedOffenders]] only runs when this is true,
    * which on valid Spark plans it never is). */
  private def hasBareUngrouped(a: Aggregate): Boolean = {
    def grouped(e: Expression): Boolean =
      a.groupingExpressions.exists(_.semanticEquals(e))
    def scan(e: Expression): Boolean = e match {
      case _ if grouped(e) => false
      case _: aggregate.AggregateExpression => false
      case _: OuterReference => false
      case _: AttributeReference => true
      case other => other.children.exists(scan)
    }
    a.aggregateExpressions.exists {
      case al: Alias => scan(al.child)
      case ar: AttributeReference => !grouped(ar)
      case other => scan(other)
    }
  }

  /** ExprIds of ungrouped attributes in the select list that are
    * EQUAL to a grouping attribute via the child plan's equi-conditions
    * (join ON / WHERE equalities, transitively closed). Empty when the
    * aggregate is already valid — the rewrite never fires on plans
    * Spark would accept. */
  private def equalToGroupedOffenders(a: Aggregate): Set[ExprId] = {
    def grouped(e: Expression): Boolean =
      a.groupingExpressions.exists(_.semanticEquals(e))
    // offending bare attributes (ungrouped, outside aggregates)
    val offenders = scala.collection.mutable.Set[AttributeReference]()
    def scan(e: Expression): Unit = e match {
      case _ if grouped(e) =>
      case _: aggregate.AggregateExpression =>
      case _: OuterReference =>
      case ar: AttributeReference => offenders += ar
      case other => other.children.foreach(scan)
    }
    a.aggregateExpressions.foreach {
      case al: Alias => scan(al.child)
      case other => scan(other)
    }
    if (offenders.isEmpty) return Set.empty
    // equi-pairs from the child plan's conditions
    val pairs = scala.collection.mutable.ArrayBuffer[(ExprId, ExprId)]()
    def conds(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Unit = {
      val cs = p match {
        case f: Filter => Seq(f.condition)
        // only an INNER join's ON equi-pairs are functional
        // dependencies on every output row — a LEFT JOIN's
        // `t1.a = t2.b` says nothing about t2.b on null-extended
        // rows, so harvesting it would let First() return NULL for
        // queries MySQL's ONLY_FULL_GROUP_BY rejects
        case j: Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
          j.condition.toSeq
        case _ => Seq.empty
      }
      // only TOP-LEVEL conjuncts guarantee equality (an EqualTo under
      // OR is no functional dependency)
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      cs.flatMap(conjuncts).foreach {
        case EqualTo(l: AttributeReference, r: AttributeReference) =>
          pairs += ((l.exprId, r.exprId))
        case _ =>
      }
      p.children.foreach(conds)
    }
    conds(a.child)
    if (pairs.isEmpty) return Set.empty
    // transitive closure from the grouped attribute ids
    val reached = scala.collection.mutable.Set[ExprId]()
    a.groupingExpressions.foreach {
      case ar: AttributeReference => reached += ar.exprId
      case _ =>
    }
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (l, r) =>
        if (reached(l) && !reached(r)) { reached += r; changed = true }
        if (reached(r) && !reached(l)) { reached += l; changed = true }
      }
    }
    offenders.map(_.exprId).filter(reached).toSet
  }

  /** A resolved `CAST(double-ish AS STRING)` — the shape Spark's own
    * IF/CASE string-coercion inserts around a numeric branch. */
  private def isDoubleStrCast(e: Expression): Boolean = e match {
    case c: Cast => c.child.resolved && c.dataType == StringType &&
      (c.child.dataType == DoubleType || c.child.dataType == FloatType)
    case _ => false
  }

  /** Replace that cast with MySQL's rendering (integral doubles carry
    * no trailing `.0`) — a StaticInvoke, so the rewrite cannot rematch. */
  private def mysqlDoubleStr(e: Expression): Expression = e match {
    case c: Cast if isDoubleStrCast(c) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        graft.functions.MySql.getClass, StringType, "doubleToUtf8",
        Seq(Cast(c.child, DoubleType)), Seq(DoubleType))
    case other => other
  }

  /** Empty grouping too: `select age, sum(age) from t1` with no GROUP
    * BY returns one row in MySQL (issue1784) — Spark's MISSING_GROUP_BY. */
  private def needsLooseGroupBy(a: Aggregate): Boolean =
    looseGroupByMode && a.resolved &&
      // `GROUP BY 1` ordinals are still integer Literals until
      // ResolveOrdinal rewrites them — firing before that would wrap
      // the real grouping column in first()
      !a.groupingExpressions.exists(_.isInstanceOf[Literal]) && {
      def grouped(e: Expression): Boolean =
        a.groupingExpressions.exists(_.semanticEquals(e))
      def offenders(e: Expression): Boolean = e match {
        case _ if grouped(e) => false
        case _: aggregate.AggregateExpression => false
        case _: OuterReference => false
        case _: AttributeReference => true
        case other => other.children.exists(offenders)
      }
      a.aggregateExpressions.exists {
        case al: Alias => offenders(al.child)
        case ar: AttributeReference => !grouped(ar)
        case other => offenders(other)
      }
    }

  private val LongMaxBD = new java.math.BigDecimal(Long.MaxValue)

  private def isSubLongIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType => true
    case _ => false
  }

  private def isIntDecimal(t: DataType): Boolean = t match {
    case dt: DecimalType => dt.scale == 0
    case _ => false
  }

  /** Does the arithmetic subtree carry MySQL's UNSIGNED result
    * context? An unsigned column (metadata type), the dialect's
    * `CAST(… AS UNSIGNED)` spelling (DECIMAL(20,0) cast target), or an
    * integer literal above the signed-BIGINT max. */
  private def unsignedMarker(e: Expression): Boolean = e match {
    // the dialect's CAST(… AS UNSIGNED) spelling — but ONLY when the
    // cast came from statement text (Spark's parser stamps explicit
    // casts with USER_SPECIFIED_CAST): the analyzer inserts the exact
    // same DECIMAL(20,0) cast shape when promoting a signed BIGINT
    // into decimal arithmetic, and that promotion must NOT put the
    // expression in unsigned result context (a negative result there
    // is legal, not error 1690)
    case c: Cast if c.dataType == DecimalType(20, 0) &&
        c.getTagValue(Cast.USER_SPECIFIED_CAST).isDefined => true
    // CAST(… AS SIGNED) re-signs its operand — an oversize literal
    // UNDER it must not leak the unsigned context out
    // (union.test `CAST(0xFFFFFFFFFFFFFF80 AS SIGNED)+2` is signed
    // -128 + 2, not an unsigned overflow). Only casts over a
    // DECIMAL-tier child count: Spark's own integral PROMOTION casts
    // (short→int around an unsigned tinyint column) must keep
    // traversing to the attribute underneath.
    case c: Cast if (c.dataType == LongType ||
        c.dataType == IntegerType || c.dataType == ShortType ||
        c.dataType == ByteType) && c.child.resolved &&
        c.child.dataType.isInstanceOf[DecimalType] => false
    case l: Literal =>
      l.value != null && (l.dataType match {
        case dt: DecimalType if dt.scale == 0 =>
          l.value.asInstanceOf[Decimal].toJavaBigDecimal
            .abs.compareTo(LongMaxBD) > 0
        case _ => false
      })
    case a: AttributeReference =>
      a.metadata.contains("graft.mysql.type") &&
        a.metadata.getString("graft.mysql.type").endsWith("UNSIGNED")
    case other => other.children.exists(unsignedMarker)
  }

  private def checkedLong(fn: String, l: Expression, r: Expression,
                          unsigned: Boolean): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.functions.MySql.getClass, LongType, fn,
      Seq(Cast(l, LongType), Cast(r, LongType), Literal(unsigned)),
      Seq(LongType, LongType, BooleanType))

  private def checkedDec(op: Int, e: BinaryArithmetic): Expression =
    Cast(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        graft.functions.MySql.getClass, DecimalType(38, 0),
        "decArithChecked",
        Seq(Cast(e.left, DecimalType(38, 0)),
          Cast(e.right, DecimalType(38, 0)), Literal(op)),
        Seq(DecimalType(38, 0), DecimalType(38, 0), IntegerType)),
      e.dataType)

  private def checkedDouble(op: Int, l: Expression, r: Expression)
      : Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.functions.MySql.getClass, DoubleType, "doubleArithChecked",
      Seq(Cast(l, DoubleType), Cast(r, DoubleType), Literal(op)),
      Seq(DoubleType, DoubleType, IntegerType))

  /** Positions of a 2-way UNION whose sides carry DIFFERENT temporal
    * kinds (DATETIME / TIMESTAMP / DATE) with a TIMESTAMP involved —
    * with the per-side kinds. Sides already widened by Spark's
    * WidenSetOperationTypes are traced through their casting Project. */
  private def unionTzMixedPositions(
      u: org.apache.spark.sql.catalyst.plans.logical.Union)
      : Seq[(Int, String, String)] = {
    def metaKind(m: org.apache.spark.sql.types.Metadata): Option[String] =
      if (!m.contains("graft.mysql.type")) None
      else {
        val t = m.getString("graft.mysql.type")
        if (t.startsWith("DATETIME")) Some("DT")
        else if (t.startsWith("TIMESTAMP")) Some("TS")
        else None
      }
    def kindOf(plan: LogicalPlan, a: Attribute): Option[String] =
      metaKind(a.metadata).orElse {
        if (a.dataType == DateType) Some("DATE")
        else if (a.dataType.isInstanceOf[TimestampType]) plan match {
          case p: Project =>
            p.projectList.find(_.exprId == a.exprId).flatMap {
              case al: Alias => al.child match {
                case c: Cast if c.child.resolved &&
                    c.child.dataType == DateType => Some("DATE")
                case c: Cast => c.child match {
                  case ar: AttributeReference => metaKind(ar.metadata)
                  case _ => None
                }
                case _ => None
              }
              case _ => None
            }
          case _ => None
        }
        else None
      }
    val l = u.children.head
    val r = u.children.last
    if (l.output.length != r.output.length) Seq.empty
    else l.output.zip(r.output).zipWithIndex.flatMap { case ((a, b), i) =>
      (kindOf(l, a), kindOf(r, b)) match {
        case (Some(ka), Some(kb)) if ka != kb &&
            (ka == "TS" || kb == "TS") => Some((i, ka, kb))
        case _ => None
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.resolveOperatorsUp {
      case f @ Filter(cond, _)
          if isNumeric(cond) || isTemporal(cond) || isStringy(cond) =>
        f.copy(condition = asBool(cond))
      // MySQL's default latin1_swedish_ci collation orders strings
      // case-insensitively (select.test's `ORDER BY fld3 DESC LIMIT`
      // interleaves 'Willy' among the w's); sort on the case-folded
      // key — ties keep Spark's stable order, matching MySQL's
      // unspecified tie order closely enough for the goldens
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.resolved && s.order.exists(o =>
            o.child.resolved && o.child.dataType == StringType &&
              !o.child.isInstanceOf[Lower]) =>
        s.copy(order = s.order.map(o =>
          if (o.child.resolved && o.child.dataType == StringType &&
              !o.child.isInstanceOf[Lower])
            o.copy(child = Lower(o.child))
          else o))
      // a non-boolean JOIN condition is truthiness too (issue1910:
      // `LEFT JOIN t1 ON created_date`, `ON b.nm` with a string column)
      case j: Join if j.condition.exists(c =>
          isNumeric(c) || isTemporal(c) || isStringy(c)) =>
        j.copy(condition = j.condition.map(asBool))
      // DATETIME union TIMESTAMP: the reference coerces the FIRST side
      // into the SECOND side's kind through its UTC boundary at the
      // recording server's +03:00 zone (union.test pins '… 12:00:00'
      // datetime rows displaying '… 15:00:00' under `t1 UNION t2` and
      // timestamps showing their raw UTC '… 09:30:00' under
      // `t2 UNION t1`)
      case u: org.apache.spark.sql.catalyst.plans.logical.Union
          if u.children.length == 2 && u.childrenResolved &&
            u.children.forall(_.resolved) &&
            unionTzMixedPositions(u).nonEmpty =>
        val mixed = unionTzMixedPositions(u)
        val RefTzMicros = 3L * 3600 * 1000000 // the CI server's +03:00
        // the converted side's metadata must declare the RESULT kind —
        // stamping TIMESTAMP on a side converting INTO DATETIME leaves
        // the kinds mixed and the fixpoint rewraps forever
        def kindMeta(k: String) =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("graft.mysql.type",
              if (k == "TS") "TIMESTAMP" else "DATETIME").build()
        def wrap(child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                 deltas: Map[Int, (Long, String)])
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
          if (deltas.isEmpty) child
          else Project(child.output.zipWithIndex.map { case (a, i) =>
            deltas.get(i) match {
              case Some((d, resultKind)) =>
                val shifted: Expression =
                  if (a.dataType == DateType)
                    TimestampAddInterval(Cast(a, TimestampType), Literal(
                      new org.apache.spark.unsafe.types.CalendarInterval(
                        0, 0, d), CalendarIntervalType))
                  else TimestampAddInterval(a, Literal(
                    new org.apache.spark.unsafe.types.CalendarInterval(
                      0, 0, d), CalendarIntervalType))
                Alias(shifted, a.name)(
                  explicitMetadata = Some(kindMeta(resultKind)))
              case None => a
            }
          }, child)
        val (firstDeltas, secondDeltas) = mixed.map {
          case (i, kA, kB) =>
            // the result takes the SECOND side's kind — unless the
            // second is a DATE, which always loses to a timed kind.
            // Only conversions CROSSING the UTC boundary shift: into
            // TIMESTAMP is +3h (value reinterpreted as UTC, displayed
            // local), out of TIMESTAMP is -3h (raw UTC shown);
            // DATE -> DATETIME stays midnight.
            val resultKind = if (kB == "DATE") kA else kB
            def delta(k: String): Option[(Long, String)] =
              if (k == resultKind) None
              else if (resultKind == "TS") Some((RefTzMicros, resultKind))
              else if (k == "TS") Some((-RefTzMicros, resultKind))
              // a non-shifting conversion (DATE → DATETIME) still
              // re-stamps the kind so the fixpoint converges
              else Some((0L, resultKind))
            (delta(kA).map(i -> _), delta(kB).map(i -> _))
        }.unzip match {
          case (as, bs) => (as.flatten.toMap, bs.flatten.toMap)
        }
        u.copy(children = Seq(wrap(u.children.head, firstDeltas),
          wrap(u.children.last, secondDeltas)))
      // SELECT DISTINCT over strings dedups CASE-INSENSITIVELY
      // (latin1_swedish_ci) keeping the FIRST-SEEN representative in
      // scan order — `distinct substring(fld3,1,3)` keeps 'Ado' and
      // drops the later 'ado', and `distinct … LIMIT 10` returns the
      // first ten distincts encountered (select.test). Rebuilt as
      // group-by-folded-key + first() + a min-arrival sort; the
      // Distinct node disappears, so the fixpoint cannot rematch.
      case d: org.apache.spark.sql.catalyst.plans.logical.Distinct
          if d.resolved && d.child.output.nonEmpty =>
        val child = d.child
        val mid = Alias(MonotonicallyIncreasingID(), "__dist_ord")()
        val stamped = Project(child.output :+ mid, child)
        val groupExprs: Seq[Expression] = child.output.map(a =>
          if (a.dataType == StringType) Lower(a) else (a: Expression))
        val aggExprs = child.output.map(a =>
          Alias(aggregate.First(a, ignoreNulls = false)
            .toAggregateExpression(), a.name)(exprId = a.exprId)) :+
          Alias(aggregate.Min(mid.toAttribute).toAggregateExpression(),
            "__dist_min")()
        val agg = Aggregate(groupExprs, aggExprs, stamped)
        Project(child.output,
          org.apache.spark.sql.catalyst.plans.logical.Sort(
            Seq(SortOrder(aggExprs.last.toAttribute, Ascending)),
            global = true, agg))
      case a: Aggregate if needsLooseGroupBy(a) => looseGroupBy(a)
      // MySQL 5.7's ONLY_FULL_GROUP_BY accepts an ungrouped column that
      // is FUNCTIONALLY EQUAL to a grouping column through the query's
      // own equi-conditions (bit.test: `sum(a1), b1+0, b2+0 … join on
      // b1 = b2 group by b1`) — Spark has no such analysis. Wrapping
      // the equal column in first() is exact: within a group all its
      // values equal the group key.
      case a: Aggregate if a.resolved &&
          !a.groupingExpressions.exists(_.isInstanceOf[Literal]) &&
          hasBareUngrouped(a) =>
        val fixable = equalToGroupedOffenders(a)
        if (fixable.isEmpty) a else {
        val rewritten = a.aggregateExpressions.map {
          case ar: AttributeReference if fixable.contains(ar.exprId) =>
            Alias(aggregate.First(ar, ignoreNulls = false)
              .toAggregateExpression(), ar.name)(exprId = ar.exprId)
          case al @ Alias(child, name) =>
            val f = child.transformUp {
              case ar: AttributeReference
                  if fixable.contains(ar.exprId) =>
                aggregate.First(ar, ignoreNulls = false)
                  .toAggregateExpression()
            }
            if (f eq child) al else Alias(f, name)(exprId = al.exprId)
          case other => other
        }
        a.copy(aggregateExpressions = rewritten)
        }
      case p =>
        p.transformExpressionsUp {
          // MySQL raises 1690 on BIGINT overflow where Spark's
          // non-ANSI long arithmetic wraps silently (func_math.test
          // `9223372036854775807 - -1`, unsigned_support_issue1267's
          // `b * 123456789101112131`). StaticInvoke of an -Exact
          // helper: no Add/Subtract/Multiply node survives, so the
          // fixed-point analyzer cannot rematch, and the call stays
          // inside whole-stage codegen.
          case a: Add if a.children.forall(_.resolved) &&
              a.dataType == LongType =>
            checkedLong("longAddChecked", a.left, a.right, unsignedMarker(a))
          case s: Subtract if s.children.forall(_.resolved) &&
              s.dataType == LongType =>
            checkedLong("longSubChecked", s.left, s.right, unsignedMarker(s))
          case m: Multiply if m.children.forall(_.resolved) &&
              m.dataType == LongType =>
            checkedLong("longMulChecked", m.left, m.right, unsignedMarker(m))
          // sub-long integral arithmetic only needs a check in the
          // UNSIGNED context (tinyint-unsigned minus int goes negative,
          // func_math.test `select a-b` over a ZEROFILL column)
          case a: Add if a.children.forall(_.resolved) &&
              isSubLongIntegral(a.dataType) && unsignedMarker(a) =>
            Cast(checkedLong("longAddChecked", a.left, a.right, true),
              a.dataType)
          case s: Subtract if s.children.forall(_.resolved) &&
              isSubLongIntegral(s.dataType) && unsignedMarker(s) =>
            Cast(checkedLong("longSubChecked", s.left, s.right, true),
              s.dataType)
          case m: Multiply if m.children.forall(_.resolved) &&
              isSubLongIntegral(m.dataType) && unsignedMarker(m) =>
            Cast(checkedLong("longMulChecked", m.left, m.right, true),
              m.dataType)
          // DECIMAL-typed integer-tier arithmetic in the unsigned
          // context: result must land in [0, 2^64-1] (func_math.test
          // `-2 + CAST(1 AS UNSIGNED)`)
          case a: Add if a.children.forall(_.resolved) &&
              isIntDecimal(a.dataType) && unsignedMarker(a) =>
            checkedDec(0, a)
          case s: Subtract if s.children.forall(_.resolved) &&
              isIntDecimal(s.dataType) && unsignedMarker(s) =>
            checkedDec(1, s)
          case m: Multiply if m.children.forall(_.resolved) &&
              isIntDecimal(m.dataType) && unsignedMarker(m) =>
            checkedDec(2, m)
          // CAST(huge-decimal AS SIGNED): a literal past the UNSIGNED
          // BIGINT range is DECIMAL-typed in MySQL and SATURATES at the
          // BIGINT rim (bigint_unsigned.test pins
          // cast(19999999999999999999 as signed) = 9223372036854775807)
          // — u64-range literals stay on the wrap path (they are
          // unsigned bit patterns: CAST(0xFFFFFFFFFFFFFF80 AS SIGNED)
          // = -128, union.test). Folded to a constant at rule time.
          case c: Cast if c.dataType == LongType &&
              c.getTagValue(Cast.USER_SPECIFIED_CAST).isDefined && {
                c.child match {
                  case Literal(v: Decimal, dt: DecimalType)
                      if dt.scale == 0 && v != null =>
                    val bd = v.toJavaBigDecimal
                    bd.compareTo(new java.math.BigDecimal(
                      "18446744073709551615")) > 0 ||
                      bd.compareTo(new java.math.BigDecimal(
                        Long.MinValue)) < 0
                  case _ => false
                }
              } =>
            val bd = c.child.asInstanceOf[Literal].value
              .asInstanceOf[Decimal].toJavaBigDecimal
            Literal(if (bd.signum > 0) Long.MaxValue else Long.MinValue)
          // negating the i64min LITERAL widens to DECIMAL the MySQL way
          // (`-(-9223372036854775808)` = 9223372036854775808 — Spark's
          // LongType negation would wrap back to i64min;
          // bigint_unsigned.test). Literal-only: runtime i64min
          // negation keeps the checked-arithmetic path.
          case um: UnaryMinus
              if (um.child match {
                case Literal(v: Long, LongType) => v == Long.MinValue
                case _ => false
              }) =>
            Literal(Decimal(new java.math.BigDecimal(
              "9223372036854775808"), 20, 0), DecimalType(20, 0))
          // |i64min| overflows signed BIGINT (ABS(-9223372036854775808))
          case ab: Abs if ab.child.resolved && ab.dataType == LongType =>
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, LongType, "absLongChecked",
              Seq(Cast(ab.child, LongType)), Seq(LongType))
          // a STRING operand in arithmetic prefix-parses the MySQL way
          // ('0x8000000000000001'+0 is 0 — the parse stops at 'x';
          // Spark's cast NULLs it, bigint_unsigned.test)
          // (Add/Sub/Mul/Div only — calling .dataType on an unrewritten
          // BitwiseAnd with DECIMAL children throws INTERNAL_ERROR)
          case a: BinaryArithmetic if (a.isInstanceOf[Add] ||
              a.isInstanceOf[Subtract] || a.isInstanceOf[Multiply] ||
              a.isInstanceOf[Divide]) &&
              a.children.forall(_.resolved) &&
              a.children.exists(c => implicitStrNum(c).isDefined) &&
              a.dataType == DoubleType =>
            a.withNewChildren(a.children.map(c =>
              implicitStrNum(c).map(stringAsDouble).getOrElse(c)))
          // DOUBLE overflow to ±Infinity from finite operands is 1690
          // too (func_math.test `1e308 + 1e308`)
          case a: Add if a.children.forall(_.resolved) &&
              a.dataType == DoubleType =>
            checkedDouble(0, a.left, a.right)
          case s: Subtract if s.children.forall(_.resolved) &&
              s.dataType == DoubleType =>
            checkedDouble(1, s.left, s.right)
          case m: Multiply if m.children.forall(_.resolved) &&
              m.dataType == DoubleType =>
            checkedDouble(2, m.left, m.right)
          // MySQL DIV: quotient beyond signed BIGINT is 1690 where
          // Spark's IntegralDivide nulls (func_math.test); decimal
          // operands keep their full width on the way in
          case d: IntegralDivide if d.children.forall(_.resolved) =>
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, LongType, "decDivChecked",
              Seq(Cast(d.left, DecimalType(38, 6)),
                Cast(d.right, DecimalType(38, 6))),
              Seq(DecimalType(38, 6), DecimalType(38, 6)))
          case d: Divide if d.children.forall(_.resolved) &&
              d.dataType == DoubleType =>
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, DoubleType,
              "doubleDivChecked",
              Seq(Cast(d.left, DoubleType), Cast(d.right, DoubleType)),
              Seq(DoubleType, DoubleType))
          // exact-type `/` carries MySQL's result scale —
          // scale(dividend) + 4, HALF_UP (select_expressions.test's
          // `t1_int/10.3` = 0.0971); Spark's decimal division rounds
          // at its own wider scale. StaticInvoke replaces the Divide,
          // so the fixpoint cannot rematch.
          case d: Divide if d.children.forall(_.resolved) &&
              d.dataType.isInstanceOf[DecimalType] =>
            def scaleOf(e: Expression): Int = e.dataType match {
              case dt: DecimalType => dt.scale
              case _ => 0
            }
            val tScale = math.min(scaleOf(d.left) + 4, 30)
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass,
              DecimalType(38, tScale), "decDivMysql",
              Seq(Cast(d.left, DecimalType(38, 12)),
                Cast(d.right, DecimalType(38, 12)),
                Literal(tScale)),
              Seq(DecimalType(38, 12), DecimalType(38, 12), IntegerType))
          // MySQL LIKE over nonbinary strings is CASE-INSENSITIVE
          // (latin1_swedish_ci — strings.test pins 'hawkeye' LIKE 'H%'
          // = 1); binary operands keep exact matching
          case l: Like if l.left.resolved && l.right.resolved &&
              l.left.dataType == StringType &&
              l.right.dataType == StringType =>
            ILike(l.left, l.right, l.escapeChar)
          // `x IS [NOT] TRUE/FALSE` arrives as x <=> TRUE (the dialect's
          // translation; MySQL has no IS DISTINCT FROM of its own) — a
          // non-boolean x takes MySQL truthiness first (bit_type.test:
          // BIT 191 IS TRUE = 1, not 191 <=> 1)
          case EqualNullSafe(l, r) if l.resolved && r.resolved &&
              (isNumeric(l) || isTemporal(l) || isStringy(l)) && {
                // the boolean literal may already ride an
                // analyzer-inserted numeric cast (TypeCoercion runs in
                // the same fixpoint batch)
                r match {
                  case Literal(_, BooleanType) => true
                  case c: Cast
                      if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
                    c.child match {
                      case Literal(_, BooleanType) => true
                      case _ => false
                    }
                  case _ => false
                }
              } =>
            val blit = r match {
              case b @ Literal(_, BooleanType) => b
              case c: Cast => c.child
            }
            EqualNullSafe(asBool(l), blit)
          case And(l, r) if isNumeric(l) || isNumeric(r) =>
            And(asBool(l), asBool(r))
          case Or(l, r) if isNumeric(l) || isNumeric(r) =>
            Or(asBool(l), asBool(r))
          case Not(e) if isNumeric(e) => Not(asBool(e))
          // MySQL's get_date_from_str: a temporal column compared to a
          // string literal parses the literal with MySQL's loose date
          // grammar ('2009/09/23', '20090923', '2009.9.23' —
          // range.test) where Spark's cast NULLs it and silently
          // filters every row. Constant-only rewrite computed driver-
          // side: the normalized literal substitutes in place, so the
          // plan stays a literal comparison and pushdown survives.
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              ((isTemporal(c.left) && strLitOperand(c.right).isDefined) ||
                (isTemporal(c.right) && strLitOperand(c.left).isDefined)) && {
                // choose the side pairing SAFELY: an implicit
                // Cast(strlit AS DATE) is BOTH temporal-typed and a
                // string-literal operand — pick the pairing where the
                // OTHER side actually holds the literal
                // (week_function.test's WEEK('2020-10-12') crashed a
                // bare .get here)
                val leftTemporal = isTemporal(c.left) &&
                  strLitOperand(c.right).isDefined
                val rawOpt =
                  if (leftTemporal) strLitOperand(c.right)
                  else strLitOperand(c.left)
                val tempSide = if (leftTemporal) c.left else c.right
                rawOpt.exists { raw =>
                  val norm = graft.functions.MySql.dateLiteralNormalize(raw)
                  (norm != null && norm != raw) ||
                    // an already-normal datetime literal against a DATE
                    // column still needs the granularity promotion
                    (norm != null && tempSide.dataType == DateType &&
                      norm.length > 10 && !norm.endsWith(" 00:00:00"))
                }
              } =>
            val leftTemporal = isTemporal(c.left) &&
              strLitOperand(c.right).isDefined
            val tempSide = if (leftTemporal) c.left else c.right
            val raw = (if (leftTemporal) strLitOperand(c.right)
              else strLitOperand(c.left)).get
            val norm = graft.functions.MySql.dateLiteralNormalize(raw)
            // a DATE column vs a datetime literal with a real time part
            // compares at DATETIME granularity in MySQL
            val needsTs = tempSide.dataType == DateType &&
              norm.length > 10 && !norm.endsWith(" 00:00:00")
            val (newTemp, target) =
              if (needsTs) (Cast(tempSide, TimestampType), TimestampType)
              else (tempSide, tempSide.dataType)
            val newLit = Cast(Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(norm),
              StringType), target)
            if (leftTemporal) c.withNewChildren(Seq(newTemp, newLit))
            else c.withNewChildren(Seq(newLit, newTemp))
          // the same loose grammar INSIDE any temporal cast a function
          // argument rides (HOUR('2020/02/11 13:12:13'),
          // TIMESTAMPDIFF(…, '09-12-11 01:09:59') — hour_function,
          // timestampdiff_function): normalize the literal in place.
          // DATE casts of a non-midnight datetime literal stay with the
          // comparison rewrite above (granularity promotion).
          case c: Cast if c.child.resolved && (c.dataType == DateType ||
              c.dataType.isInstanceOf[TimestampType] ||
              c.dataType.isInstanceOf[TimestampNTZType]) && {
                c.child match {
                  case Literal(s: org.apache.spark.unsafe.types.UTF8String,
                    StringType) if s != null =>
                    val norm = graft.functions.MySql
                      .dateLiteralNormalize(s.toString)
                    // a TIME-shaped literal ('14:06:10') only reads as
                    // a date (2014-06-10) in a DATE-typed context
                    // (LAST_DAY); a timestamp cast keeps MySQL's
                    // time-of-day reading (CONVERT(…, TIME))
                    val timeShaped = s.toString.trim
                      .matches("""\d{1,2}:\d{1,2}(:\d{1,2})?(\.\d+)?""")
                    norm != null && norm != s.toString &&
                      !(timeShaped && c.dataType != DateType)
                  case _ => false
                }
              } =>
            val raw = c.child.asInstanceOf[Literal].value.toString
            c.withNewChildren(Seq(Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                graft.functions.MySql.dateLiteralNormalize(raw)),
              StringType)))
          // CAST(str_to_date(…) AS DATETIME) of a TIME-only parse: the
          // zero-date string '0000-00-00 10:20:10' rides the year-1
          // sentinel through the cast (Spark's cast NULLs it) and the
          // renderer maps it back (date_formats.test)
          case c: Cast if (c.dataType.isInstanceOf[TimestampType] ||
              c.dataType.isInstanceOf[TimestampNTZType]) &&
              c.child.resolved && {
                c.child match {
                  case si: org.apache.spark.sql.catalyst.expressions
                    .objects.StaticInvoke =>
                    si.functionName == "strToDateMysql"
                  case _ => false
                }
              } =>
            c.withNewChildren(Seq(RegExpReplace(c.child,
              Literal("^0000-00-00"), Literal("0001-01-01"))))
          // UNIX_TIMESTAMP over a TIMESTAMP column: the tz view shows
          // the session-LOCAL value, but MySQL returns the STORED UTC
          // seconds — shift the operand back by the session offset
          // before the epoch conversion (type_timestamp.test inserts
          // under +0:00, reads under +1:00, pins the +0:00 epoch).
          // The rewritten child is no longer a bare attribute, so the
          // fixpoint cannot rematch.
          case ut: org.apache.spark.sql.catalyst.expressions.UnixTimestamp
              if sessionTzMinConf != 0 && ut.childrenResolved && {
                ut.timeExp match {
                  case ar: AttributeReference =>
                    ar.dataType.isInstanceOf[TimestampType] &&
                      ar.metadata.contains("graft.mysql.type") &&
                      ar.metadata.getString("graft.mysql.type")
                        .startsWith("TIMESTAMP")
                  case _ => false
                }
              } =>
            ut.withNewChildren(Seq(
              TimestampAddInterval(ut.timeExp, Literal(
                new org.apache.spark.unsafe.types.CalendarInterval(
                  0, 0, -sessionTzMinConf * 60L * 1000000),
                CalendarIntervalType)),
              ut.format))
          // TIMESTAMPADD over a TIME column stays in the TIME domain
          // with hour carry ('02:03:04' + 1 WEEK = '170:03:04' —
          // issue464.test); whole-second units only
          case ta: org.apache.spark.sql.catalyst.expressions.TimestampAdd
              if ta.childrenResolved &&
                Seq("SECOND", "MINUTE", "HOUR", "DAY", "WEEK")
                  .contains(ta.unit.toUpperCase) && {
                  ta.timestamp match {
                    case cc: Cast => isTimeDecl(cc.child)
                    case other => isTimeDecl(other)
                  }
                } =>
            val t = ta.timestamp match {
              case cc: Cast if isTimeDecl(cc.child) => cc.child
              case other => other
            }
            val unitSecs = ta.unit.toUpperCase match {
              case "SECOND" => 1L
              case "MINUTE" => 60L
              case "HOUR" => 3600L
              case "DAY" => 86400L
              case "WEEK" => 7L * 86400
            }
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, StringType,
              "timeAddSecondsMysql",
              Seq(t, Multiply(Cast(ta.quantity, LongType),
                Literal(unitSecs))),
              Seq(StringType, LongType))
          // TIMESTAMPADD over a DATE with a date-granularity unit
          // returns DATE in MySQL ('1991-06-02', not '… 00:00:00' —
          // timestampadd_function.test); rebuild in the date domain so
          // the result TYPE is DateType (no rematch: TimestampAdd gone)
          case ta: org.apache.spark.sql.catalyst.expressions.TimestampAdd
              if ta.childrenResolved &&
                Seq("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")
                  .contains(ta.unit.toUpperCase) && {
                  ta.timestamp match {
                    case cc: Cast => cc.child.resolved &&
                      cc.child.dataType == DateType
                    case other => other.dataType == DateType
                  }
                } =>
            val d = ta.timestamp match {
              case cc: Cast if cc.child.dataType == DateType => cc.child
              case other => other
            }
            val q = Cast(ta.quantity, IntegerType)
            ta.unit.toUpperCase match {
              case "DAY" => DateAdd(d, q)
              case "WEEK" => DateAdd(d, Multiply(q, Literal(7)))
              case "MONTH" => AddMonths(d, q)
              case "QUARTER" => AddMonths(d, Multiply(q, Literal(3)))
              case "YEAR" => AddMonths(d, Multiply(q, Literal(12)))
            }
          case c: BinaryComparison
              if isTemporal(c.left) && isNumeric(c.right) =>
            c.withNewChildren(Seq(temporalAsNumber(c.left),
              Cast(c.right, DecimalType(20, 0))))
          case c: BinaryComparison
              if isNumeric(c.left) && isTemporal(c.right) =>
            c.withNewChildren(Seq(Cast(c.left, DecimalType(20, 0)),
              temporalAsNumber(c.right)))
          // CASE branches MySQL resolves to string where Spark's own
          // coercion gives up: any mix of string/numeric/temporal that
          // is not all-numeric (case_function.test: THEN int_col ELSE
          // datetime_col)
          case cw @ CaseWhen(branches, elseValue)
              if (branches.map(_._2) ++ elseValue).forall(_.resolved) && {
                val ts = (branches.map(_._2) ++ elseValue)
                  .map(_.dataType).filter(_ != NullType).distinct
                def mixable(t: DataType): Boolean =
                  t == StringType || t.isInstanceOf[NumericType] ||
                    t.isInstanceOf[DateType] ||
                    t.isInstanceOf[TimestampType] ||
                    t.isInstanceOf[TimestampNTZType]
                ts.size > 1 && ts.forall(mixable) &&
                  !ts.forall(_.isInstanceOf[NumericType])
              } =>
            def str(e: Expression): Expression =
              if (e.dataType == StringType || e.dataType == NullType) e
              else Cast(e, StringType)
            CaseWhen(branches.map(b => (b._1, str(b._2))),
              elseValue.map(str))
          // a DATETIME(n>0)/TIMESTAMP(n>0) column converting to STRING
          // keeps its declared fraction — '2022-01-01 00:00:00.000'
          // for DATETIME(3) (issue998's unions with CHAR)
          case c: Cast if c.dataType == StringType && c.child.resolved &&
              c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty &&
              (c.child.dataType.isInstanceOf[TimestampType] ||
                c.child.dataType.isInstanceOf[TimestampNTZType]) && {
                c.child match {
                  case ar: AttributeReference =>
                    ar.metadata.contains("graft.mysql.type") &&
                      """(?i)^(?:DATETIME|TIMESTAMP)\(([1-9])\)""".r
                        .findFirstIn(ar.metadata.getString("graft.mysql.type"))
                        .isDefined
                  case _ => false
                }
              } =>
            val ar = c.child.asInstanceOf[AttributeReference]
            val n = """(?i)^(?:DATETIME|TIMESTAMP)\(([1-9])\)""".r
              .findFirstMatchIn(ar.metadata.getString("graft.mysql.type"))
              .get.group(1).toInt
            DateFormatClass(c.child,
              Literal("yyyy-MM-dd HH:mm:ss." + ("S" * n)))
          // a double branch Spark string-coerced inside IF/CASE renders
          // MySQL-style — no trailing `.0` on integral values
          // (insert_select.test `if(max(f1) is null,'2000',max(f1)+1)`
          // into VARCHAR(5): MySQL stores '2001', not '2001.0')
          // ANY double/float → string conversion renders MySQL's way
          // in statement mode — CONCAT('salary: ', float_col) is
          // 'salary: 7500', not '7500.0' (issue538.test), and big
          // magnitudes print my_gcvt shortest ('-7.40287e18' family)
          case c: Cast if isDoubleStrCast(c) => mysqlDoubleStr(c)
          case i: If if i.childrenResolved &&
              (isDoubleStrCast(i.trueValue) ||
                isDoubleStrCast(i.falseValue)) =>
            i.copy(trueValue = mysqlDoubleStr(i.trueValue),
              falseValue = mysqlDoubleStr(i.falseValue))
          case cw: CaseWhen if cw.childrenResolved &&
              (cw.branches.exists(b => isDoubleStrCast(b._2)) ||
                cw.elseValue.exists(isDoubleStrCast)) =>
            CaseWhen(cw.branches.map(b => (b._1, mysqlDoubleStr(b._2))),
              cw.elseValue.map(mysqlDoubleStr))
          // BIGINT arithmetic overflow is an ERROR in MySQL (1690,
          // bit_type.test's `a * 1234567891011121312`), where Spark's
          // non-ANSI mode wraps silently. Guarded to multiplications
          // carrying a >2^32 literal so intentional wraparound hashing
          // (rolling fingerprints multiply by small constants) is
          // untouched; the ANSI cast back to BIGINT carries the throw.
          case m: Multiply
              if m.left.resolved && m.right.resolved &&
                isIntegral(m.left.dataType) && isIntegral(m.right.dataType) &&
                Seq(m.left, m.right).exists {
                  case Literal(v: Long, LongType) =>
                    math.abs(v) > (1L << 32)
                  case _ => false
                } =>
            Cast(Multiply(Cast(m.left, DecimalType(38, 0)),
              Cast(m.right, DecimalType(38, 0))), LongType,
              None, EvalMode.ANSI)
          // a temporal probe's IN-list coerces its string literals
          // through MySQL's loose date grammar too (type_timestamp's
          // `b IN ('20161213')` over a DATE column). Spark's own In
          // coercion may already have cast the PROBE to string — unwrap
          // it and compare in the temporal domain.
          case in @ In(v0, list) if v0.resolved &&
              list.forall(_.resolved) && {
                val v = v0 match {
                  case c: Cast if c.dataType == StringType &&
                      c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
                    c.child
                  case other => other
                }
                (v.dataType == DateType ||
                  v.dataType.isInstanceOf[TimestampType] ||
                  v.dataType.isInstanceOf[TimestampNTZType]) &&
                  list.exists(e => strLitOperand(e).exists { s =>
                    val n = graft.functions.MySql.dateLiteralNormalize(s)
                    n != null && n != s
                  })
              } =>
            val v = v0 match {
              case c: Cast if c.dataType == StringType &&
                  c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
                c.child
              case other => other
            }
            // an element that can never be a real date (numeric 0, an
            // unparseable string) DROPS from the list — a NULL-casting
            // element would poison the whole IN to UNKNOWN where MySQL
            // answers 0 (`b in ('20161213', 0)` rows that miss)
            val kept = list.flatMap { e =>
              strLitOperand(e) match {
                case Some(s) =>
                  val n = graft.functions.MySql.dateLiteralNormalize(s)
                  if (n == null) None
                  else Some(Cast(Literal(org.apache.spark.unsafe.types
                    .UTF8String.fromString(n), StringType), v.dataType))
                case None =>
                  def numLit(x: Expression): Boolean = x match {
                    case Literal(n, _: NumericType) => n != null
                    case c: Cast if c.getTagValue(
                        Cast.USER_SPECIFIED_CAST).isEmpty =>
                      numLit(c.child)
                    case _ => false
                  }
                  if (numLit(e)) None
                  else Some(Cast(e, v.dataType))
              }
            }
            if (kept.isEmpty) Literal(false)
            else In(v, kept)
          // a TIME-declared column against a bare-digit literal reads
          // the digits as hhmmss from the right ('121314' is 12:13:14
          // — type_timestamp's t3 goldens); equality and IN forms
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              timeDeclVsDigits(c.left, c.right).isDefined =>
            val (col0, lit0) = timeDeclVsDigits(c.left, c.right).get
            val norm = Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(graft.functions.MySql
                .timeDigitsNormalize(lit0)), StringType)
            if (c.left eq col0) c.withNewChildren(Seq(col0, norm))
            else c.withNewChildren(Seq(norm, col0))
          case in @ In(v, list) if v.resolved && list.forall(_.resolved) &&
              isTimeDecl(v) && list.exists(e =>
                strLitOperand(e).exists(_.matches("\\d{3,6}"))) =>
            In(v, list.map { e =>
              strLitOperand(e) match {
                case Some(s) if s.matches("\\d{3,6}") =>
                  Literal(org.apache.spark.unsafe.types.UTF8String
                    .fromString(graft.functions.MySql
                      .timeDigitsNormalize(s)), StringType)
                case _ => e match {
                  // a NUMERIC element reads as TIME digits too
                  // (`b in ('121314', 0)` — 0 is '00:00:00')
                  case Literal(x, _: NumericType)
                      if x != null && x.toString.matches("\\d{1,6}") =>
                    Literal(org.apache.spark.unsafe.types.UTF8String
                      .fromString(graft.functions.MySql
                        .timeDigitsNormalize(x.toString)), StringType)
                  case _ => e
                }
              }
            })
          // GREATEST/LEAST over mixed temporal/string compares as the
          // temporal type but RETURNS the string domain — the raw
          // string operand wins verbatim (type_timestamp.test's
          // `GREATEST(a, '2020-07-01')` is '2020-07-01', not
          // '2020-07-01 00:00:00')
          case g: Greatest if g.children.length == 2 &&
              g.children.forall(_.resolved) &&
              g.children.exists(isTemporal) &&
              g.children.exists(_.dataType == StringType) =>
            val t = g.children.find(isTemporal).get.dataType
            def cmp(c: Expression) =
              if (c.dataType == StringType) Cast(c, t) else c
            def str(c: Expression) =
              if (c.dataType == StringType) c else Cast(c, StringType)
            If(Or(IsNull(g.children.head), IsNull(g.children.last)),
              Literal(null, StringType),
              If(GreaterThanOrEqual(cmp(g.children.head),
                cmp(g.children.last)),
                str(g.children.head), str(g.children.last)))
          case l: Least if l.children.length == 2 &&
              l.children.forall(_.resolved) &&
              l.children.exists(isTemporal) &&
              l.children.exists(_.dataType == StringType) =>
            val t = l.children.find(isTemporal).get.dataType
            def cmp(c: Expression) =
              if (c.dataType == StringType) Cast(c, t) else c
            def str(c: Expression) =
              if (c.dataType == StringType) c else Cast(c, StringType)
            If(Or(IsNull(l.children.head), IsNull(l.children.last)),
              Literal(null, StringType),
              If(LessThanOrEqual(cmp(l.children.head),
                cmp(l.children.last)),
                str(l.children.head), str(l.children.last)))
          case g: Greatest if g.children.forall(_.resolved) &&
              g.children.exists(isTemporal) &&
              g.children.exists(_.dataType == StringType) =>
            val t = g.children.find(isTemporal).get.dataType
            Greatest(g.children.map(c =>
              if (c.dataType == StringType) Cast(c, t) else c))
          case l: Least if l.children.forall(_.resolved) &&
              l.children.exists(isTemporal) &&
              l.children.exists(_.dataType == StringType) =>
            val t = l.children.find(isTemporal).get.dataType
            Least(l.children.map(c =>
              if (c.dataType == StringType) Cast(c, t) else c))
          // bit operators coerce any operand to integer (ROUNDING
          // fractions: -2.9 & x operates on -3) and evaluate in
          // MySQL's BIGINT-UNSIGNED domain — the result renders as
          // the u64 magnitude, so -3 & -3 = 18446744073709551613
          // (func_bit.test). StaticInvoke replaces the node outright,
          // so the rewrite cannot rematch its own output.
          case b: BitwiseAnd if b.children.forall(_.resolved) =>
            bitOpU64("bitAndU64", b.left, b.right)
          case b: BitwiseOr if b.children.forall(_.resolved) =>
            bitOpU64("bitOrU64", b.left, b.right)
          case b: BitwiseXor if b.children.forall(_.resolved) =>
            bitOpU64("bitXorU64", b.left, b.right)
          case b: ShiftLeft if b.children.forall(_.resolved) =>
            bitOpU64("shiftLeftU64", b.left, b.right)
          case b: ShiftRight if b.children.forall(_.resolved) =>
            bitOpU64("shiftRightU64", b.left, b.right)
          // ~x inverts in the u64 domain too (other_bit.test pins
          // ~18446744073709551615.0 = 9223372036854775808 — the
          // saturated operand's complement)
          case b: BitwiseNot if b.child.resolved &&
              (nonIntegralOperand(b.children) ||
                b.child.isInstanceOf[Cast]) =>
            org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
              graft.functions.MySql.getClass, DecimalType(20, 0),
              "bitNotU64", Seq(bitOperandToLong(b.child)), Seq(LongType))
          case b: BitwiseCount if b.children.forall(_.resolved) &&
              (nonIntegralOperand(b.children) ||
                b.children.exists(_.isInstanceOf[Cast])) =>
            val nc = b.children.map {
              // a nested bit op's u64 DECIMAL result: the bit PATTERN
              // is what counts — take it back as a long
              case si: org.apache.spark.sql.catalyst.expressions
                .objects.StaticInvoke =>
                if (si.dataType == LongType) si
                else org.apache.spark.sql.catalyst.expressions.objects
                  .StaticInvoke(graft.functions.MySql.getClass,
                    LongType, "u64ToLong",
                    Seq(Cast(si, DecimalType(20, 0))),
                    Seq(DecimalType(20, 0)))
              case c => bitOperandToLong(c)
            }
            if (nc.zip(b.children).forall { case (x, y) => x eq y }) b
            else b.withNewChildren(nc)
          // DATE(numeric): MySQL reads the value's digit string as
          // yymmdd/yyyymmdd[hhmmss] — a bare year is NOT a date
          // (DATE(2020) → NULL with warning; issue464's YEAR column).
          // Spark's string→date cast accepts 'yyyy', so the digit
          // length gates the conversion.
          case c: Cast if c.child.resolved && c.dataType == DateType &&
              c.child.dataType.isInstanceOf[NumericType] &&
              !c.child.isInstanceOf[If] =>
            val s = Cast(c.child, StringType)
            val ok = In(Length(s),
              Seq(Literal(6), Literal(8), Literal(12), Literal(14)))
            val norm = If(ok,
              RegExpReplace(s,
                Literal("^(\\d{2,4})(\\d{2})(\\d{2})"),
                Literal("$1-$2-$3")),
              Literal(null, StringType))
            c.withNewChildren(Seq(norm))
          // `a IN (NOT NULL)` — boolean list element against a numeric
          // probe coerces to the probe's type (issue1332)
          case in @ In(v, list) if v.resolved &&
              v.dataType.isInstanceOf[NumericType] &&
              list.forall(_.resolved) &&
              list.exists(_.dataType == BooleanType) =>
            In(v, list.map(e =>
              if (e.dataType == BooleanType) Cast(e, v.dataType) else e))
          case s: Sum if s.child.resolved &&
              s.child.dataType == BooleanType =>
            s.withNewChildren(Seq(Cast(s.child, IntegerType)))
          case a: Average if a.child.resolved &&
              a.child.dataType == BooleanType =>
            a.withNewChildren(Seq(Cast(a.child, IntegerType)))
          // MIN/MAX over a boolean are 0/1 integers in MySQL, and a
          // boolean compared against a number coerces to 0/1 (issue415:
          // `min((a+b)=11) <= 37`)
          case m: aggregate.Min if m.child.resolved &&
              m.child.dataType == BooleanType =>
            m.withNewChildren(Seq(Cast(m.child, IntegerType)))
          case m: aggregate.Max if m.child.resolved &&
              m.child.dataType == BooleanType =>
            m.withNewChildren(Seq(Cast(m.child, IntegerType)))
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              c.left.dataType == BooleanType && isNumeric(c.right) =>
            c.withNewChildren(Seq(Cast(c.left, IntegerType), c.right))
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              isNumeric(c.left) && c.right.dataType == BooleanType =>
            c.withNewChildren(Seq(c.left, Cast(c.right, IntegerType)))
          // string vs number compares by PREFIX-parsing the string the
          // MySQL way ('bba02…' is 0, '12abc' is 12) — Spark's cast
          // nulls any partial parse, silently filtering rows MySQL
          // keeps (md5_function.test's `WHERE MD5(col) <> 0`). Spark's
          // own PromoteStrings may run first and wrap the string in an
          // implicit numeric cast — unwrap that shape too (the
          // user-specified tag keeps explicit CASTs out).
          // A string CONSTANT against an integer column compares
          // exactly (MySQL's special case — bigint_unsigned.test's
          // `a = '9223372036854775807'` matches ONE row); every other
          // string-vs-number comparison runs in the DOUBLE domain
          // (issue959: a varchar deviceId '…585' EQUALS the literal
          // …587 because both collapse at double precision).
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              implicitStrNum(c.left).isDefined && isNumeric(c.right) =>
            val s = implicitStrNum(c.left).get
            if (s.foldable && isIntegral(c.right.dataType) ||
                c.right.dataType.isInstanceOf[DecimalType])
              c.withNewChildren(Seq(stringAsNumber(s),
                Cast(c.right, StrNumType)))
            else c.withNewChildren(Seq(stringAsDouble(s),
              Cast(c.right, DoubleType)))
          case c: BinaryComparison if c.left.resolved && c.right.resolved &&
              isNumeric(c.left) && implicitStrNum(c.right).isDefined =>
            val s = implicitStrNum(c.right).get
            if (s.foldable && isIntegral(c.left.dataType) ||
                c.left.dataType.isInstanceOf[DecimalType])
              c.withNewChildren(Seq(Cast(c.left, StrNumType),
                stringAsNumber(s)))
            else c.withNewChildren(Seq(Cast(c.left, DoubleType),
              stringAsDouble(s)))
          // the reference evaluates `x [NOT] IN (SELECT NULL …)` as a
          // NULL condition outright — its subquery materializer types
          // the constant-NULL column as null and every membership test
          // through it is UNKNOWN (issue433 pins `42 not in (select
          // null …)` = empty even over an EMPTY subquery)
          case in @ InSubquery(_, l: ListQuery)
              if l.plan.resolved && l.plan.output.length == 1 && {
                def strip(e: Expression): Expression = e match {
                  case a: Alias => strip(a.child)
                  case c: Cast => strip(c.child)
                  case Not(x) => strip(x)
                  case other => other
                }
                // follow the output attribute through nested Projects
                // (TypeCoercion may already have wrapped the original
                // Project(NULL) in a casting Project)
                def attrIsNull(
                    p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                    id: ExprId): Boolean = p match {
                  case pr: Project =>
                    pr.projectList.find(_.exprId == id) match {
                      case Some(e) => strip(e) match {
                        case Literal(null, _) => true
                        case ar: AttributeReference =>
                          attrIsNull(pr.child, ar.exprId)
                        case _ => false
                      }
                      case None => attrIsNull(pr.child, id)
                    }
                  case f: Filter => attrIsNull(f.child, id)
                  case _ => false
                }
                l.plan match {
                  case pr: Project if pr.projectList.length == 1 =>
                    strip(pr.projectList.head) match {
                      case Literal(null, _) => true
                      case ar: AttributeReference =>
                        attrIsNull(pr.child, ar.exprId)
                      case _ => false
                    }
                  case _ => false
                }
              } =>
            Literal.create(null, BooleanType)
          // a NULL-literal probe: MySQL's `NULL [NOT] IN (subquery)` is
          // FALSE/TRUE over an EMPTY subquery and NULL otherwise
          // (issue433's `null not in (select * … where val > 42)`
          // returns the row); Spark's rewrite loses the empty case
          case in @ InSubquery(Seq(p0), l: ListQuery)
              if l.plan.resolved && {
                def stripC(e: Expression): Expression = e match {
                  case c: Cast => stripC(c.child)
                  case other => other
                }
                stripC(p0) match {
                  case Literal(null, _) => true
                  case _ => false
                }
              } =>
            val cond = If(
              GreaterThan(aggregate.Count(Seq(Literal(1)))
                .toAggregateExpression(), Literal(0L)),
              Literal.create(null, BooleanType), Literal(false))
            org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
              org.apache.spark.sql.catalyst.plans.logical.Aggregate(
                Nil, Seq(Alias(cond, "__null_in")()), l.plan))
          // IN-subquery operand mismatches MySQL coerces numerically:
          // boolean subquery output takes the probe's type (issue433's
          // `42 in (select !null …)`), string-vs-number compares as
          // DOUBLE (in_withpk.test's `c2 in (select 1 …)`)
          case in @ InSubquery(values, l: ListQuery)
              if values.length == 1 && values.head.resolved &&
                l.plan.resolved && l.plan.output.length == 1 &&
                values.head.dataType != l.plan.output.head.dataType && {
                  val (p, s) = (values.head.dataType,
                    l.plan.output.head.dataType)
                  def stringy(t: DataType) =
                    t == StringType || t == BinaryType
                  (s == BooleanType && p.isInstanceOf[NumericType]) ||
                    (stringy(p) && s.isInstanceOf[NumericType]) ||
                    (p.isInstanceOf[NumericType] && stringy(s)) ||
                    (p == BinaryType && s == StringType) ||
                    (p == StringType && s == BinaryType)
                } =>
            val probe = values.head
            val sub = l.plan.output.head
            // boolean elements take the probe's type; string/binary vs
            // number compares as DOUBLE (MySQL's numeric comparison);
            // binary vs string compares as STRING
            val (newProbe, target): (Expression, DataType) =
              if (sub.dataType == BooleanType) (probe, probe.dataType)
              else if ((probe.dataType == BinaryType &&
                  sub.dataType == StringType) ||
                (probe.dataType == StringType &&
                  sub.dataType == BinaryType))
                (Cast(probe, StringType), StringType)
              else {
                // binary has no direct numeric cast — route via string
                val p0 =
                  if (probe.dataType == BinaryType)
                    Cast(probe, StringType)
                  else probe
                (Cast(p0, DoubleType), DoubleType)
              }
            val sub0: Expression =
              if (sub.dataType == BinaryType && target != StringType)
                Cast(sub, StringType)
              else sub
            val castedPlan = Project(
              Seq(Alias(Cast(sub0, target), sub.name)()), l.plan)
            InSubquery(Seq(newProbe), l.copy(plan = castedPlan))
        }
    }
  }
}
