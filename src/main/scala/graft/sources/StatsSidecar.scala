package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Knowledge-Grid analog: a per-pack stats sidecar + rough (metadata-only)
  * query answering, mirroring the reference's Data Pack Node design.
  *
  * The reference keeps per-64K-row-pack metadata (DPN —
  * storage/tianmu/data/dpn.h:49-72: numOfRecords/numOfNulls, min_i/max_i
  * and an int64 sum_i) in memory and answers predicates per pack with a
  * tri-state RoughCheck → RS_NONE / RS_SOME / RS_ALL
  * (common/common_definitions.h:168-174, vc/tianmu_attr_exeq_rs.cpp:43):
  * RS_NONE packs are skipped without decompression, RS_ALL packs are
  * accepted without re-testing rows, and whole aggregates can be answered
  * from DPNs alone (core/temp_table_roughquery.cpp).
  *
  * Parquet row-group stats already give Spark min/max/null-count pruning
  * for free (SURVEY.md §1.1), but parquet has NO sum statistic — the one
  * DPN field with no Parquet analog. This module closes that gap the
  * Spark-idiomatic way:
  *
  *  - a "pack" is a hive partition directory (`_pack=N/`), so pack
  *    pruning IS Spark partition pruning — `PartitionFilters` in the scan,
  *    zero files opened for skipped packs;
  *  - the sidecar is itself a tiny Parquet table, one row per
  *    (pack, column): n_rows, n_nulls, min/max, and an exact scale-4
  *    fixed-point int64 sum (the sum_i analog, same convention as
  *    [[graft.operators.Relational.dec]]);
  *  - rough aggregates (COUNT/MIN/MAX/SUM) read ONLY the sidecar;
  *  - range counts run hybrid: RS_ALL packs are answered from the
  *    sidecar, RS_SOME packs are scanned with partition pruning, RS_NONE
  *    packs are never touched.
  *
  * Where the rough pass runs: on the driver, in plain Scala, with no
  * Spark job — as Tianmu walks its in-memory DPNs. The first call on a
  * packed path loads a [[Snapshot]]: every sidecar row, grouped by column
  * and ordered by pack, plus one relation over the table root, opened on
  * the first exact pass, whose file listing and inferred data schema are
  * reused by every later one. Each call re-lists the sidecar directory
  * (names, lengths and modification times of its files) and reloads the
  * snapshot when that listing, or the session, differs: a Parquet
  * rewrite always writes files under new names, so a table rewritten by
  * [[writeWithStats]] (which also drops the entry) or replaced by copying
  * files is seen on the next call. The data files are trusted to change
  * only together with their sidecar. The JVM keeps one snapshot per
  * packed path it has read. A hybrid count then runs exactly one Spark
  * query, over the RS_SOME packs, and none at all when the rough pass
  * decides every pack. [[roughCheck]] and [[roughCheckPrefix]] state the
  * same rules as DataFrames over [[readStats]]; a property test holds
  * the two forms to the same answer.
  *
  * Scale: the sidecar has (packs × columns) rows — ~1e6 at 100 TB with
  * 1 GB packs — and the snapshot keeps them all on the driver, ~150
  * bytes each by object layout (~150 MB at 1e6): the same order as the
  * table's file listing (one status object per pack file) that Spark's
  * driver already holds to scan it. A selective RS_SOME pack-id list
  * passes through the driver as partition-pruning literals; above
  * [[IsinMaxPacks]] the exact pass switches to a broadcast pack-id join
  * so a weak rough pass can never inline ~1e6 literals into the plan.
  */
object StatsSidecar {

  val PackCol = "_pack"

  /** Fixed-point scale for the sum stat (matches Relational.dec). */
  private val Scale = 10000.0

  def statsPath(path: String): String = s"$path.stats"

  /** Write `df` as a pack-partitioned Parquet table plus its stats
    * sidecar over `cols` (numeric columns). `packRows` is the pack-size
    * analog (the reference's 64 Ki rows per pack, common/defs.h:47-49) —
    * here rows per partition directory. */
  def writeWithStats(df: DataFrame, path: String, packRows: Int,
                     cols: Seq[String],
                     clusterBy: Option[Column] = None,
                     strCols: Seq[String] = Nil): Unit = {
    val n = df.count()
    val nPacks = math.max(1, math.ceil(n.toDouble / packRows).toInt)
    // Clustering by the hot filter column (or a Z-order key over several,
    // graft.functions.ZOrder) is what makes pack skipping bite (narrow
    // per-pack min/max ranges) — the reason Tianmu's Knowledge Grid works
    // on naturally ordered loads. Range-partitioning is the Spark analog
    // of that load order.
    val parts = clusterBy match {
      case Some(c) => df.repartitionByRange(nPacks, c)
      case None => df.repartition(nPacks)
    }
    parts.withColumn(PackCol, spark_partition_id())
      .write.mode("overwrite").partitionBy(PackCol).parquet(path)

    // Stats are computed from the WRITTEN files, not the in-memory plan:
    // re-executing a repartitionByRange plan can re-sample different
    // range boundaries, which would describe packs that don't match the
    // files on disk (the DPN must describe the pack it sits next to).
    // The schema is passed explicitly: a zero-row partitionBy write
    // produces no data files, and schema inference over an empty
    // directory throws — an empty table must still yield a (readable)
    // empty table plus an empty sidecar.
    val packedSchema = StructType(
      df.schema.fields :+ StructField(PackCol, IntegerType))
    val packed = df.sparkSession.read.schema(packedSchema).parquet(path)

    // one aggregation pass builds every per-pack stat; stack() unpivots
    // to the long (pack, column) layout. Numeric columns carry
    // min/max/sum as doubles + fixed-point long; string columns carry
    // lexicographic min/max (the CMAP-ish prefix-pruning stats,
    // rsi_cmap.h:46-53) — each family's other fields are NULL.
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        sum(floor(col(c) * lit(Scale) + lit(0.5)).cast("long"))
          .as(s"__sum_$c"))
    } ++ strCols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        min(col(c)).as(s"__mins_$c"),
        max(col(c)).as(s"__maxs_$c"))
    }
    val wide = packed.groupBy(col(PackCol)).agg(aggs.head, aggs.tail: _*)
    def entry(c: String, minV: String, maxV: String, sumFp: String,
              minS: String, maxS: String): String =
      s"named_struct('column', '$c', 'n_rows', __n_$c, " +
        s"'n_nulls', __nulls_$c, 'min_v', $minV, 'max_v', $maxV, " +
        s"'sum_fp', $sumFp, 'min_s', $minS, 'max_s', $maxS)"
    val numStack = cols.map { c =>
      entry(c, s"__min_$c", s"__max_$c", s"__sum_$c",
        "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
    }
    val strStack = strCols.map { c =>
      entry(c, "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "CAST(NULL AS BIGINT)", s"__mins_$c", s"__maxs_$c")
    }
    val stackExpr = (numStack ++ strStack).mkString(
      "inline(array(", ", ", "))")
    wide.select(col(PackCol), expr(stackExpr))
      .write.mode("overwrite").parquet(statsPath(path))
    snapshots.remove(path)
  }

  def readStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(statsPath(path))

  /** Rough aggregates over one column — COUNT/nulls/MIN/MAX/SUM answered
    * from the sidecar alone (temp_table_roughquery.cpp analog; the sum is
    * exact by the fixed-point convention, not approximate). */
  def roughAgg(stats: DataFrame, column: String): DataFrame =
    stats.filter(col("column") === column)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        (sum(col("sum_fp")).cast("double") / Scale).as("sum_v"))

  /** Tri-state per-pack classification of `lo <= column <= hi`
    * (RoughCheck analog): adds `state` ∈ 'NONE' | 'SOME' | 'ALL'. A pack
    * is ALL only if every row (incl. no NULLs) passes; NONE if no row
    * can. [[classify]] is the same rule on the driver. */
  def roughCheck(stats: DataFrame, column: String,
                 lo: Double, hi: Double): DataFrame =
    stats.filter(col("column") === column)
      .select(col(PackCol), col("n_rows"),
        when(col("max_v") < lo || col("min_v") > hi || col("n_rows") === 0,
          "NONE")
          .when(col("min_v") >= lo && col("max_v") <= hi
            && col("n_nulls") === 0, "ALL")
          .otherwise("SOME").as("state"))

  /** Above this many RS_SOME packs the exact pass stops inlining
    * `_pack IN (...)` literals and joins the scan against the pack-id
    * frame instead. Literal pruning is ideal for the common case (a
    * selective rough pass leaves few packs, and the IN list lands in the
    * scan's static `PartitionFilters`); but at the module's stated scale
    * (~1e6 packs at 100 TB) a weak rough pass could otherwise inline up
    * to ~1e6 literals into one filter expression — analyzer/plan-size
    * blowup, not a graceful degrade. The broadcast join keeps the plan
    * O(1) in pack count and lets dynamic partition pruning do the
    * skipping. */
  val IsinMaxPacks = 256

  /** Shared hybrid count over `column`: the rough pass classes every pack
    * on the driver (`state`); ALL-pack rows are summed from the
    * snapshot, and one Spark query scans only the SOME packs of the
    * table, re-testing `rowPred`. Pack selection is literal IN below
    * [[IsinMaxPacks]], broadcast-join above. */
  private def hybridCount(spark: SparkSession, path: String, column: String,
                          state: PackStat => String, rowPred: Column): Long = {
    val snap = snapshot(spark, path)
    val classed = snap.packs(column).groupBy(state)
    val fullRows = classed.getOrElse("ALL", Nil).map(_.nRows).sum
    val some = classed.getOrElse("SOME", Nil).map(_.pack)
    val partialRows =
      if (some.isEmpty) 0L
      else if (some.size <= IsinMaxPacks)
        snap.relation.filter(col(PackCol).isin(some: _*) && rowPred).count()
      else {
        val ids = spark.createDataFrame(
          java.util.Arrays.asList(some.map(Row(_)): _*),
          StructType(Seq(StructField(PackCol, IntegerType, nullable = false))))
        snap.relation.join(broadcast(ids), Seq(PackCol)).filter(rowPred)
          .count()
      }
    fullRows + partialRows
  }

  /** Hybrid rough+exact COUNT of `lo <= column <= hi`: the rough pass
    * ([[classify]]) runs on the driver over the snapshot; ALL packs are
    * counted from it, SOME packs are scanned in one query with partition
    * pruning (the `_pack IN (...)` predicate lands in the scan's
    * PartitionFilters, or a broadcast pack-id join above
    * [[IsinMaxPacks]]), NONE packs untouched; with no SOME pack no Spark
    * job runs at all — the ParameterizedFilter::UpdateMultiIndex
    * two-phase evaluation (rough pass then exact pass on surviving packs,
    * core/parameterized_filter.cpp:1232-1286) in Spark form. A column
    * with no stats in a non-empty sidecar is an IllegalArgumentException. */
  def countBetween(spark: SparkSession, path: String, column: String,
                   lo: Double, hi: Double): Long =
    hybridCount(spark, path, column, classify(_, lo, hi),
      col(column) >= lo && col(column) <= hi)

  /** Tri-state classification of `column LIKE 'prefix%'` from string
    * min/max — the CMAP prefix-LIKE rough check (rsi_cmap.h:53 IsLike).
    * In byte order, the strings starting with `prefix` form a contiguous
    * range, so only prefix comparisons are needed (no sentinel upper
    * bound — a `prefix + U+FFFF` bound would misclassify text containing
    * supplementary-plane characters, routine in a web corpus):
    *  - NONE: the whole pack sorts below the range (max_s < prefix), or
    *    above it (min_s ≥ prefix and min_s does not start with prefix);
    *  - ALL: both ends start with prefix (then everything between does),
    *    and no NULLs.
    * [[classifyPrefix]] is the same rule on the driver. */
  def roughCheckPrefix(stats: DataFrame, column: String,
                       prefix: String): DataFrame =
    stats.filter(col("column") === column)
      .select(col(PackCol), col("n_rows"),
        when(col("max_s") < prefix
          || (col("min_s") >= prefix && !col("min_s").startsWith(prefix))
          || col("n_rows") === 0, "NONE")
          .when(col("min_s").startsWith(prefix)
            && col("max_s").startsWith(prefix)
            && col("n_nulls") === 0, "ALL")
          .otherwise("SOME").as("state"))

  /** Hybrid rough+exact COUNT of `column LIKE 'prefix%'` (string twin of
    * [[countBetween]], rough pass [[classifyPrefix]]). */
  def countPrefix(spark: SparkSession, path: String, column: String,
                  prefix: String): Long =
    hybridCount(spark, path, column, classifyPrefix(_, prefix),
      col(column).startsWith(prefix))

  // --- driver-resident sidecar ---------------------------------------------

  /** One sidecar row: the DPN of one column in one pack. `None` is a SQL
    * NULL (min/max of an all-NULL pack; the other family's fields). The
    * string bounds are Spark's own string type, so the driver compares
    * them in the byte order Spark uses. */
  private[graft] final case class PackStat(
      pack: Int, nRows: Long, nNulls: Long,
      minV: Option[Double], maxV: Option[Double], sumFp: Option[Long],
      minS: Option[UTF8String], maxS: Option[UTF8String])

  private[graft] object PackStat {
    /** From a [[readStats]] row (the n_rows/n_nulls counts are never NULL:
      * every pack holds at least one row). */
    def apply(r: Row): PackStat = {
      def opt[T](f: String): Option[T] = Option(r.getAs[T](f))
      PackStat(r.getAs[Int](PackCol), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_nulls"),
        opt[java.lang.Double]("min_v").map(_.doubleValue),
        opt[java.lang.Double]("max_v").map(_.doubleValue),
        opt[java.lang.Long]("sum_fp").map(_.longValue),
        opt[String]("min_s").map(UTF8String.fromString),
        opt[String]("max_s").map(UTF8String.fromString))
    }
  }

  /** [[roughAgg]]'s figures for one column, NULLs as `None`. */
  private[graft] final case class Agg(nRows: Long, nNulls: Long,
      minV: Option[Double], maxV: Option[Double], sumV: Option[Double])

  /** Spark SQL's order of doubles (`SQLOrderingUtil.compareDoubles`):
    * NaN equals NaN and sorts above every number, and -0.0 equals 0.0.
    * Scala's `<` and `>` are false whenever NaN is involved. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** [[roughCheck]]'s rule for one pack. A comparison with a NULL bound is
    * never true, as in SQL's `when`. */
  private[graft] def classify(p: PackStat, lo: Double, hi: Double): String =
    if (p.maxV.exists(cmp(_, lo) < 0) || p.minV.exists(cmp(_, hi) > 0)
        || p.nRows == 0) "NONE"
    else if (p.minV.exists(cmp(_, lo) >= 0) && p.maxV.exists(cmp(_, hi) <= 0)
        && p.nNulls == 0) "ALL"
    else "SOME"

  /** [[roughCheckPrefix]]'s rule for one pack. */
  private[graft] def classifyPrefix(p: PackStat, prefix: String): String = {
    val pre = UTF8String.fromString(prefix)
    if (p.maxS.exists(_.binaryCompare(pre) < 0)
        || p.minS.exists(s => s.binaryCompare(pre) >= 0 && !s.startsWith(pre))
        || p.nRows == 0) "NONE"
    else if (p.minS.exists(_.startsWith(pre)) && p.maxS.exists(_.startsWith(pre))
        && p.nNulls == 0) "ALL"
    else "SOME"
  }

  /** The sidecar of one packed path, as loaded by one session. `key` is
    * the sidecar directory's listing at load time. */
  private[graft] final class Snapshot(val spark: SparkSession, path: String,
      val key: Seq[(String, Long, Long)], rows: Array[Row]) {
    private val byColumn: Map[String, IndexedSeq[PackStat]] =
      rows.groupBy(_.getAs[String]("column")).map { case (c, rs) =>
        c -> rs.map(PackStat(_)).sortBy(_.pack).toIndexedSeq
      }

    def columns: Set[String] = byColumn.keySet

    /** The packs' stats for `column`; none for an empty table. */
    def packs(column: String): IndexedSeq[PackStat] =
      if (byColumn.isEmpty) IndexedSeq.empty
      else byColumn.getOrElse(column, throw new IllegalArgumentException(
        s"no sidecar stats for column '$column' in ${statsPath(path)}"))

    /** The table, opened on first use (an empty table has no files to
      * infer a schema from, and needs no exact pass). */
    lazy val relation: DataFrame = spark.read.parquet(path)

    def agg(column: String): Agg = {
      val ps = packs(column)
      def pick(vs: Seq[Double], keep: Int => Boolean) =
        vs.reduceOption((a, b) => if (keep(cmp(a, b))) a else b)
      val sums = ps.flatMap(_.sumFp)
      Agg(ps.map(_.nRows).sum, ps.map(_.nNulls).sum,
        pick(ps.flatMap(_.minV), _ <= 0), pick(ps.flatMap(_.maxV), _ >= 0),
        if (sums.isEmpty) None else Some(sums.sum.toDouble / Scale))
    }
  }

  private val snapshots = new ConcurrentHashMap[String, Snapshot]()

  /** The sidecar directory's listing: file names, lengths, mtimes. */
  private def listingKey(spark: SparkSession,
                         path: String): Seq[(String, Long, Long)] = {
    val dir = new Path(statsPath(path))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .sorted
  }

  /** The current snapshot of `path`'s sidecar for `spark`: the cached one
    * while the sidecar's listing is unchanged, else freshly loaded. */
  private[graft] def snapshot(spark: SparkSession, path: String): Snapshot = {
    val key = listingKey(spark, path)
    val cached = snapshots.get(path)
    if (cached != null && (cached.spark eq spark) && cached.key == key) cached
    else {
      val fresh = new Snapshot(spark, path, key,
        readStats(spark, path).collect())
      snapshots.put(path, fresh)
      fresh
    }
  }

  // --- gate query ---------------------------------------------------------

  /** Rough-query gate: pack-write lineitem clustered by l_quantity, then
    * answer COUNT/MIN/MAX/SUM purely from the sidecar and a BETWEEN count
    * through the tri-state hybrid path. The oracle recomputes all five
    * from the raw table — rough answers must be EXACT, which is the DPN
    * contract (rough ≠ approximate; it is metadata-complete). */
  def qRoughAgg(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_rough").toString
    val li = graft.Engine.table(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
    writeWithStats(li, s"$scratch/lineitem_packed", 8192,
      Seq("l_quantity", "l_extendedprice"),
      clusterBy = Some(col("l_quantity")))
    val stats = readStats(s, s"$scratch/lineitem_packed")
    val nBetween =
      countBetween(s, s"$scratch/lineitem_packed", "l_quantity", 10.0, 30.0)
    roughAgg(stats, "l_extendedprice")
      .select(
        col("n_rows").as("n"),
        col("min_v").as("min_price"),
        col("max_v").as("max_price"),
        col("sum_v").as("sum_price"),
        lit(nBetween).as("n_qty_10_30"))
  }

  val qRoughAggSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
      |  CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 10000.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 10000.0 AS sum_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
      |   WHERE l_quantity BETWEEN 10.0 AND 30.0) AS n_qty_10_30
      |FROM lineitem""".stripMargin

  /** String-pruning gate: pack-write customer clustered by mktsegment,
    * answer the segment MIN/MAX from string sidecar stats alone and a
    * LIKE-prefix count through the hybrid path — all must equal exact
    * recomputation (the CMAP IsLike contract). */
  def qRoughPrefix(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_roughs").toString
    val c = graft.Engine.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    writeWithStats(c, s"$scratch/customer_packed", 256, Seq("c_custkey"),
      clusterBy = Some(col("c_mktsegment")), strCols = Seq("c_mktsegment"))
    val stats = readStats(s, s"$scratch/customer_packed")
    val nBuild = countPrefix(s, s"$scratch/customer_packed",
      "c_mktsegment", "BUILD")
    stats.filter(col("column") === "c_mktsegment")
      .agg(
        sum(col("n_rows")).as("n"),
        min(col("min_s")).as("min_seg"),
        max(col("max_s")).as("max_seg"))
      .withColumn("n_building", lit(nBuild))
  }

  val qRoughPrefixSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(c_mktsegment) AS min_seg,
      |  MAX(c_mktsegment) AS max_seg,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
      |   WHERE c_mktsegment LIKE 'BUILD%') AS n_building
      |FROM customer""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rough_agg" -> (qRoughAgg _),
    "q_rough_prefix" -> (qRoughPrefix _))

  val oracles: Map[String, String] = Map(
    "q_rough_agg" -> qRoughAggSql,
    "q_rough_prefix" -> qRoughPrefixSql)
}
