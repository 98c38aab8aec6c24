package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTAP delta-store analog (SURVEY.md §3.3): the reference buffers DML in
  * a row-oriented RocksDB delta table (core/delta_table.h:37), readers
  * merge base + delta (DeltaIterator, delta_table.h:78), and a background
  * job folds the delta into column packs
  * (Engine::ProcessInsertBufferMerge, core/engine.h:210).
  *
  * Here: `base-N/` is the columnar store (version-numbered directories,
  * pointer-flipped on rewrite so concurrent readers never straddle a
  * half-swapped dir), `delta-M/` receives appends, reads
  * union the two, `compact()` folds delta into base. At scale the
  * pattern is the standard lakehouse ingest: appends land as small files
  * partitioned by arrival, queries see base ∪ delta with no blocking,
  * compaction rewrites asynchronously (row-level upserts would graduate
  * to a table format like Delta/Iceberg — out of scope per SURVEY §2.11).
  */
class DeltaStore(spark: SparkSession, root: String) {

  // ---- versioned base and delta directories ----
  // The base is NEVER rewritten in place: each rewrite lands in a fresh
  // `base-N+1` directory and the version pointer flips after the write
  // completes (MvccStore's manifest protocol, applied to the physical
  // dir). A reader holding a plan against `base-N` keeps reading files
  // that still exist — the delete-then-rename window of the old staging
  // swap (FAILED_READ_FILE under the parity gate's 4-way concurrency)
  // is gone. The delta is versioned the same way: compact and truncate
  // retire `delta-M` by flipping to an empty `delta-M+1`, so a plan
  // that read the old delta parts keeps reading them. Old versions of
  // both GC with a grace of [[KeepVersions]]; an open savepoint pins
  // its versions so rollback is a pointer restore, not a directory
  // copy.
  private val KeepVersions = 2
  private val BaseVerRe = """base-(\d+)""".r
  private val DeltaVerRe = """delta-(\d+)""".r
  private def versionsOf(re: scala.util.matching.Regex): Seq[(Long, Path)] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).filter(_.isDirectory).toSeq.flatMap(st =>
      st.getPath.getName match {
        case re(n) => Some(n.toLong -> st.getPath)
        case _ => None
      })
  @volatile private var baseVer: Long =
    versionsOf(BaseVerRe).map(_._1).maxOption.getOrElse(0L)
  @volatile private var deltaVer: Long =
    versionsOf(DeltaVerRe).map(_._1).maxOption.getOrElse(0L)
  /** The current base directory. */
  private[graft] def basePath = s"$root/base-$baseVer"
  private def baseDirOf(v: Long) = s"$root/base-$v"
  private[graft] def deltaPath = s"$root/delta-$deltaVer"

  /** Delete the versions of `re` past the grace window behind `current`,
    * never the savepoint-pinned one. */
  private def collectGarbage(re: scala.util.matching.Regex, current: Long,
                             pinned: Long): Unit = {
    val floor =
      if (txnActive) math.min(pinned, current - KeepVersions)
      else current - KeepVersions
    versionsOf(re).foreach { case (n, p) =>
      if (n < floor && (!txnActive || n != pinned)) fs.delete(p, true)
    }
  }

  /** Promote a freshly written `base-(v)` dir holding `schema` to
    * current, and GC stale versions. The reader cache is seeded with
    * `schema`, so the next read infers nothing (inference is a Spark
    * job reading the footers). */
  private def promoteBase(v: Long,
                          schema: org.apache.spark.sql.types.StructType
  ): Unit = synchronized {
    baseVer = v
    baseCacheDf = spark.read.schema(schema).parquet(baseDirOf(v))
    baseCacheVer = v
    partCache.clear()
    bumpEpoch()
    collectGarbage(BaseVerRe, v, txnBaseVer)
  }

  /** In-memory insert buffer — the direct analog of the reference's
    * row-store insert buffer (core/delta_table.h:37 keeps DML rows in a
    * KV delta before the background merge): statement-sized `VALUES`
    * batches land here as collected rows instead of paying a parquet
    * write job per INSERT (~0.3 s each; a 1000-statement MTR script was
    * minutes of file churn for kilobytes of data). Only plans whose
    * leaves are all LocalRelations buffer: VALUES text, and the rows of
    * a statement-sized INSERT…SELECT or LOAD DATA, which the statement
    * runner collects (at most [[DeltaStore.BufferCap]] + 1 rows) before
    * it appends. The buffer is capped: anything file-backed or past the
    * cap goes to the parquet delta, after the buffer it follows, so a
    * corpus-sized INSERT…SELECT or load is written, never held in
    * driver memory.
    * Volatile by design, like a lost merge-thread buffer; [[flush]] is
    * the durable point and every compact/rewrite path flushes first. */
  private val buffered = scala.collection.mutable.ArrayBuffer
    .empty[org.apache.spark.sql.Row]
  private var bufferedSchema: org.apache.spark.sql.types.StructType = null
  import DeltaStore.BufferCap

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One-file write that PRESERVES the frame's logical row order.
    * `coalesce(1)` alone concatenates parent partitions in whatever
    * order the locality-driven coalescer picks (a 4-partition
    * LocalRelation wrote rotated — insert_into_select.test's
    * `LIMIT 3` read 3750 first); stamping monotonically-increasing
    * ids before the coalesce and sorting the single partition pins
    * write order = plan order, the scan-order contract's write half. */
  private def orderedSingle(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("__worder", monotonically_increasing_id())
      .coalesce(1).sortWithinPartitions("__worder").drop("__worder")
  }

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** Initialize (or replace) the base table. One file for the
    * statement tier's tables: read order must equal write order (see
    * [[rewriteBase]]); a genuinely large initial frame keeps its
    * partitioning. */
  def writeBase(df: DataFrame): Unit = {
    val single = df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val next = baseVer + 1
    (if (single || smallStore) orderedSingle(df) else df)
      .write.mode("overwrite").parquet(baseDirOf(next))
    promoteBase(next, df.schema)
    bumpEpoch()
  }

  /** Append rows to the delta side (the INSERT buffer analog): local
    * statement batches buffer in memory, file-backed frames go to the
    * parquet delta. A file-backed append flushes the buffer first:
    * [[read]] returns delta parts before buffered rows, so rows
    * buffered earlier would otherwise read back after the later
    * append's (the scan-order contract of [[rewriteBase]]). */
  def append(df: DataFrame): Unit = {
    val localOnly = df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    if (localOnly && buffered.size < BufferCap) {
      val rows = df.collect()
      // nullable-ized: a VALUES batch's literal columns report
      // non-nullable while a later tuple holds NULL — a LocalRelation
      // with that contradiction breaks codegen. Parquet reads are
      // nullable anyway, so this matches the spilled path exactly.
      if (bufferedSchema == null) bufferedSchema =
        org.apache.spark.sql.types.StructType(
          df.schema.fields.map(_.copy(nullable = true)))
      buffered ++= rows
      bumpEpoch()
      if (buffered.size >= BufferCap) flush()
    } else {
      flush()
      (if (smallStore) orderedSingle(df) else df)
        .write.mode("append").parquet(deltaPath)
      bumpEpoch()
    }
  }

  /** Persist the in-memory buffer into the parquet delta (the durable
    * point; no-op when empty). */
  def flush(): Unit = if (buffered.nonEmpty) {
    import scala.jdk.CollectionConverters._
    orderedSingle(spark.createDataFrame(buffered.toList.asJava,
      bufferedSchema)).write.mode("append").parquet(deltaPath)
    buffered.clear()
    bufferedSchema = null
    bumpEpoch()
  }

  // ---- mutation epoch ----
  // Bumped on EVERY visible state change (base writes/promotions,
  // delta appends/flushes/discards, savepoint rollbacks). Callers may
  // key derived caches on it — the statement runner's auto-increment
  // watermark does — so a cache entry stamped with the current epoch
  // is exactly as fresh as the store itself. Conservative by design: a
  // spurious bump only costs a cache miss (one re-aggregation), never
  // staleness.
  @volatile private var mutEpoch = 0L
  def mutationEpoch: Long = mutEpoch
  private def bumpEpoch(): Unit = mutEpoch += 1

  // ---- reader cache ----
  // A promoted `base-N` dir is immutable (rewrites land in base-N+1)
  // and a delta part file is immutable once written, so the DataFrames
  // reading them are reusable across statements. Without this cache
  // every table REFERENCE of every statement re-ran
  // `spark.read.parquet` — file listing + footer schema inference on
  // the driver — which thread-dump sampling showed as the #1 cost of
  // an MTR replay (32/40 samples of the runner's main thread inside
  // DataFrameReader.parquet; select.test = 1276 statements paid it
  // per table reference). Keyed on baseVer: compact/truncate/ALTER
  // bump the version, replacing the base entry and dropping the part
  // entries (whose read schema is pinned to the base schema of that
  // version).
  private var baseCacheVer = -1L
  private var baseCacheDf: DataFrame = null
  private val partCache =
    scala.collection.mutable.HashMap.empty[String, DataFrame]
  private def baseDf(): DataFrame = synchronized {
    if (baseCacheVer != baseVer || baseCacheDf == null) {
      baseCacheDf = spark.read.parquet(basePath)
      baseCacheVer = baseVer
      partCache.clear()
    }
    baseCacheDf
  }
  private def partDf(path: String,
                     schema: org.apache.spark.sql.types.StructType
  ): DataFrame = synchronized {
    partCache.getOrElseUpdate(path,
      spark.read.schema(schema).parquet(path))
  }

  /** Merged read view: base ∪ delta (DeltaIterator analog). The
    * buffered rows enter as a LocalRelation — Catalyst folds/broadcasts
    * them like any small side. */
  def read(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = baseDf()
    val withFiles =
      if (!exists(deltaPath)) base
      else {
        // Spark orders a multi-file read by SIZE; the scan-order
        // contract (insert order — see rewriteBase scaladoc) needs the
        // delta PARTS in append order, so a small store unions its
        // delta files oldest-first (Union concatenates child
        // partitions in order). Large stores take the one-shot
        // multi-path read: nothing pins physical row order at scale.
        val parts = fs.listStatus(new Path(deltaPath))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .sortBy(s => (s.getModificationTime, s.getPath.getName))
          .map(_.getPath.toString)
        if (parts.isEmpty) base
        else if (parts.length > 64 || !smallStore)
          base.unionByName(spark.read.parquet(deltaPath))
        else parts.foldLeft(base)((acc, p) =>
          acc.unionByName(partDf(p, base.schema)))
      }
    if (buffered.isEmpty) withFiles
    else withFiles.unionByName(
      spark.createDataFrame(buffered.toList.asJava, bufferedSchema))
  }

  // ---- statement savepoint (trigger atomicity) ----
  // MySQL wraps each DML statement in a transaction: when a row's
  // trigger errors mid-statement, BOTH the target rows and the
  // triggers' side-effect writes roll back (trigger.test pins this —
  // after the ER_BAD_NULL_ERROR insert, neither t1 nor the audit table
  // t2 carries the statement's rows). The statement runner opens a
  // savepoint on every attached store around trigger-bearing DML; the
  // snapshot is buffered-rows + the delta file SET, with the base dir
  // backed up lazily on the first in-transaction rewrite.
  private var txnActive = false
  private var txnBuffered: List[org.apache.spark.sql.Row] = null
  private var txnBufferedSchema: org.apache.spark.sql.types.StructType = _
  private var txnDeltaFiles: Set[String] = Set.empty
  private var txnBaseVer = 0L
  private var txnDeltaVer = 0L
  private def deltaFileNames: Set[String] =
    if (!exists(deltaPath)) Set.empty
    else fs.listStatus(new Path(deltaPath)).filter(_.isFile)
      .map(_.getPath.getName).toSet

  def beginTxn(): Unit = {
    txnActive = true
    txnBuffered = buffered.toList
    txnBufferedSchema = bufferedSchema
    txnDeltaFiles = deltaFileNames
    txnBaseVer = baseVer
    txnDeltaVer = deltaVer
  }

  def commitTxn(): Unit = {
    txnActive = false
    txnBuffered = null
    txnBufferedSchema = null
  }

  def rollbackTxn(): Unit = {
    if (!txnActive) return
    buffered.clear()
    if (txnBuffered != null) buffered ++= txnBuffered
    bufferedSchema = txnBufferedSchema
    // an in-txn rewrite or compaction moved past the pinned versions:
    // the versioned protocol kept them, so this is a pointer flip back
    // (the old staging swap paid a full directory copy here). The
    // versions the transaction wrote are deleted: a later flip reuses
    // their numbers, and a reopened store takes the highest one.
    baseVer = txnBaseVer
    deltaVer = txnDeltaVer
    Seq(BaseVerRe -> txnBaseVer, DeltaVerRe -> txnDeltaVer).foreach {
      case (re, pinned) => versionsOf(re).foreach { case (n, p) =>
        if (n > pinned) fs.delete(p, true)
      }
    }
    // drop delta files the transaction added
    if (exists(deltaPath))
      fs.listStatus(new Path(deltaPath)).filter(_.isFile)
        .filterNot(st => txnDeltaFiles.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
    txnActive = false
    txnBuffered = null
    txnBufferedSchema = null
    bumpEpoch()
  }

  /** Retire the current delta version: appends go to a fresh one, and
    * the old parts stay readable for [[KeepVersions]] versions (a
    * savepoint pins its own, so rollback flips back to it). */
  private def discardDelta(): Unit = {
    if (!exists(deltaPath)) return
    deltaVer += 1
    collectGarbage(DeltaVerRe, deltaVer, txnDeltaVer)
    bumpEpoch()
  }

  /** Versioned base rewrite shared by compact/truncate/alter: write the
    * new base fully into `base-N+1`, then flip the version pointer. A
    * crash mid-sequence leaves the old version current; a concurrent
    * reader's resolved plan keeps reading `base-N`, whose files survive
    * the grace window — no delete-then-rename gap. Single-writer
    * discipline assumed, as in the reference's background merge. */
  /** MySQL's table scan order is INSERT order, and the statement tier
    * leans on it: `UPDATE … LIMIT 1` touches the FIRST matching row,
    * IGNORE's per-row collision skip walks in order, and the MTR
    * goldens print unordered SELECTs in it (issue781.test's 171-SELECT
    * replay). Spark orders a multi-file parquet read by SIZE, not by
    * name — so a small store keeps its base in ONE file, making read
    * order = write order deterministically. Past the threshold the
    * rewrite stays partition-parallel: at warehouse scale nothing pins
    * physical row order. */
  private val SingleFileBytes = 128L << 20
  private def dirBytes(p: String): Long =
    if (!exists(p)) 0L
    else fs.listStatus(new Path(p)).filter(_.isFile).map(_.getLen).sum
  private def smallStore: Boolean =
    dirBytes(basePath) + dirBytes(deltaPath) < SingleFileBytes

  private def rewriteBase(df0: DataFrame): Unit = {
    val df = if (smallStore) orderedSingle(df0) else df0
    val next = baseVer + 1
    df.write.mode("overwrite").parquet(baseDirOf(next))
    promoteBase(next, df0.schema)
  }

  /** Write `df` as the new base and clear the delta: the one base
    * rewrite behind compact, truncate, rewriteWith and ALTER. `df` is
    * planned before the buffer is cleared (the buffered rows entered
    * it as a LocalRelation copy) and reads the retired delta version,
    * which the grace window keeps. */
  private def replaceTable(df: DataFrame): Unit = {
    rewriteBase(df)
    buffered.clear()
    bufferedSchema = null
    discardDelta()
  }

  /** Fold the delta into the base and clear it (background-merge analog). */
  def compact(): Unit =
    if (exists(deltaPath) || buffered.nonEmpty) replaceTable(read())

  /** TRUNCATE analog (the reference's TianmuTable::Truncate,
    * core/tianmu_table.h:76): keep the schema, drop all rows — base is
    * overwritten with an empty frame, delta cleared. */
  def truncate(): Unit = replaceTable(baseDf().limit(0))

  /** Rows currently sitting in the unmerged delta (buffered + spilled),
    * counted on the driver: the buffer's size plus the row counts in
    * the delta parts' Parquet footers, with no Spark job. */
  def deltaCount(): Long = {
    val parts =
      if (!exists(deltaPath)) Seq.empty
      else fs.listStatus(new Path(deltaPath)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    buffered.size.toLong + parts.map(s => footerRowCount(s.getPath)).sum
  }
  private def footerRowCount(p: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  /** Rows held in the in-memory insert buffer. */
  private[graft] def bufferedCount: Int = buffered.size

  /** Parquet files currently in the delta dir (small-file pressure). */
  def deltaFileCount(): Long =
    if (!exists(deltaPath)) 0L
    else fs.listStatus(new Path(deltaPath))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toLong

  /** Append with the reference's threshold-triggered background merge
    * (Engine::ProcessInsertBufferMerge fires when the buffered rowcount
    * passes `tianmu_sysvar_insert_numthreshold` or the buffer has aged
    * past `insert_cntthreshold` cycles — core/engine.cpp:1469): fold
    * the delta into the base when its ROW count or FILE count passes
    * the thresholds. The file-count trigger is the lakehouse twin of
    * the age trigger — what actually degrades at scale is many small
    * delta files per scan, regardless of their combined row count.
    * Returns true iff this append triggered a compaction. Single-writer
    * discipline, like the reference's merge thread. */
  def appendWithMerge(df: DataFrame, maxDeltaRows: Long = 65536,
                      maxDeltaFiles: Long = 16): Boolean = {
    append(df)
    val due = deltaCount() >= maxDeltaRows || deltaFileCount() >= maxDeltaFiles
    if (due) compact()
    due
  }

  /** Whole-table transform under the versioned-rewrite discipline:
    * `f` sees every row exactly once, as `read()` returns them (base ∪
    * delta parts ∪ buffered rows, in append order), and `f(read())` is
    * written as the new base while the delta is cleared: one base
    * rewrite whether or not the delta is empty. The DELETE/UPDATE
    * statement forms ride this — the reference executes them as
    * handler-level row ops (ha_tianmu.h:101-102); a columnar lakehouse
    * executes them as a filtered/projected base rewrite, which is also
    * what its own UPDATE/DELETE compaction jobs do. */
  def rewriteWith(f: DataFrame => DataFrame): Unit = {
    val base = read()
    val result = f(base)
    // re-stamp column METADATA the transform's projections dropped
    // (withColumn loses it): the declared MySQL semantics — autoinc,
    // notnull, range bounds, defaults — ride field metadata, and an
    // UPDATE must not strip a column's AUTO_INCREMENT declaration
    // (init_auto_increment_value.test updates then expects counter
    // assignment to keep working)
    val orig = base.schema
    val restamped = result.select(result.schema.map { rf =>
      orig.find(_.name == rf.name) match {
        // only when the transform DROPPED the metadata entirely — a
        // transform that deliberately rewrote it (ALTER … SET DEFAULT)
        // keeps its version
        case Some(of) if of.dataType == rf.dataType
            && rf.metadata == org.apache.spark.sql.types.Metadata.empty
            && of.metadata != rf.metadata =>
          result(rf.name).as(rf.name, of.metadata)
        case _ => result(rf.name)
      }
    }.toSeq: _*)
    replaceTable(restamped)
  }

  /** ALTER TABLE … ADD COLUMN analog (TianmuTable add/drop,
    * core/tianmu_table.h:73-75): rewrite base ∪ delta with the new
    * column defaulted, so the schema change covers the whole table. */
  def alterAddColumn(name: String, default: org.apache.spark.sql.Column): Unit =
    replaceTable(read().withColumn(name, default))

  /** ALTER TABLE … DROP COLUMN analog. */
  def alterDropColumn(name: String): Unit = replaceTable(read().drop(name))

  /** ALTER TABLE … CHANGE COLUMN analog: rename (and optionally retype)
    * one column. */
  def alterRenameColumn(oldName: String, newName: String,
                        dt: Option[org.apache.spark.sql.types.DataType])
      : Unit = {
    val df = read()
    val retyped = dt.fold(df)(t => df.withColumn(oldName,
      org.apache.spark.sql.functions.col(oldName).cast(t)))
    replaceTable(retyped.withColumnRenamed(oldName, newName))
  }
}

object DeltaStore {
  /** Rows the in-memory insert buffer holds before it spills to the
    * parquet delta; also the largest `INSERT … SELECT` result the
    * statement runner collects to the driver instead of staging. */
  val BufferCap = 65536
}
