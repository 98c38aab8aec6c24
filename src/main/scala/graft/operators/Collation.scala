package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Case-insensitive collation semantics (SURVEY.md §2 dialect tier).
  *
  * The reference compares, filters, and sorts strings under MySQL
  * collations — its pack evaluation kernels carry explicit
  * collation-aware variants (EvaluatePack_BetweenString_UTF /
  * EvaluatePack_LikeString_UTF, storage/tianmu/vc/tianmu_attr_exqp.cpp:
  * 40-87), and MySQL 5.7's default `latin1_swedish_ci` makes
  * `'a' = 'A'` TRUE with case-insensitive ORDER BY/GROUP BY. Spark
  * compares binary, so the shim normalizes to the collation weight:
  * MySQL's `_ci` collations weight letters by their UPPERCASE form
  * (ASCII tier of the latin1_swedish_ci / utf8_general_ci weight
  * tables), so `upper()` — not `lower()` — is the faithful key: under
  * `_ci`, 'a' (weight 'A' = 0x41) sorts BELOW '_' (0x5F), which a
  * lower-normalized key would invert.
  *
  * Usage: `ciKey` as the GROUP BY / ORDER BY / join key; `ciEq`/`ciLt`
  * in predicates. At 100 TB these are plain codegen'd expressions — the
  * shuffle keys on the normalized form, so ci grouping/sorting costs
  * the same as binary.
  */
object Collation {

  /** The collation weight string: group/sort/join on this for `_ci`
    * semantics. */
  def ciKey(c: Column): Column = upper(c)

  def ciEq(a: Column, b: Column): Column = upper(a) === upper(b)

  def ciLt(a: Column, b: Column): Column = upper(a) < upper(b)

  // --- gate -----------------------------------------------------------------

  /** ci semantics gate: three deterministic case-variants of every part
    * name (raw lowercase, sentence-case, ALL CAPS — built with the same
    * expressions on both engines), then
    *   - a ci `<` predicate (upper-normalized, all variants of a name
    *     pass or fail together),
    *   - ci GROUP BY (the variants collapse into one group),
    *   - ci ORDER BY (on the weight key),
    * with binary min/max/count-distinct inside each group exhibiting
    * that the members really differ in case. */
  def qCollateCi(s: SparkSession, dir: String): DataFrame = {
    val p = Engine.table(s, dir, "part").select(col("p_name"))
    val sentence = concat(upper(substring(col("p_name"), 1, 1)),
      substring(col("p_name"), 2, 1000000))
    val variants = p.select(col("p_name").as("name"))
      .unionAll(p.select(sentence.as("name")))
      .unionAll(p.select(upper(col("p_name")).as("name")))
    variants
      .filter(ciLt(col("name"), lit("m")))
      .groupBy(ciKey(col("name")).as("name_ci"))
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("name")).as("n_binary"),
        min(col("name")).as("min_binary"),
        max(col("name")).as("max_binary"))
      .orderBy(col("name_ci"))
      .limit(200)
  }

  val qCollateCiSql: String =
    """WITH v AS (
      |  SELECT p_name AS name FROM part
      |  UNION ALL
      |  SELECT upper(substring(p_name, 1, 1)) || substring(p_name, 2)
      |    FROM part
      |  UNION ALL
      |  SELECT upper(p_name) FROM part
      |)
      |SELECT upper(name) AS name_ci,
      |  COUNT(*) AS n_variants,
      |  COUNT(DISTINCT name) AS n_binary,
      |  MIN(name) AS min_binary,
      |  MAX(name) AS max_binary
      |FROM v
      |WHERE upper(name) < upper('m')
      |GROUP BY 1
      |ORDER BY name_ci
      |LIMIT 200""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_collate_ci" -> (qCollateCi _))

  val oracles: Map[String, String] = Map(
    "q_collate_ci" -> qCollateCiSql)
}
