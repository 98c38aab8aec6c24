package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

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
  *
  * Driver residency (the reference serves a table's recent rows from
  * its in-memory delta the same way): while the whole table holds at
  * most [[DeltaStore.BufferCap]] rows, the driver keeps the rows of the
  * current files (base, then delta parts, in scan order) as Catalyst
  * rows, and [[read]] returns them and the buffered rows as ONE
  * `LocalRelation`. A point lookup or range over a small table then
  * folds on the driver ([[graft.plans.LocalFilterRule]]): no file scan,
  * no Spark job. Residency is a cache of the durable files, never a
  * substitute: every writer still writes its Parquet files, and the
  * rows a writer already holds seed the new version — a local frame
  * given to [[writeBase]] or a rewrite (written as held, so the file
  * and the seed are one evaluation), the buffer a [[flush]] writes
  * (after the resident rows), and the rows a rewrite of a resident
  * store writes, which the write job itself observes (the first
  * BufferCap of them; it seeds only if that is all). A version no
  * writer seeded (a reopened store, a file-backed append) is cold: the
  * next read sums the Parquet footers' row counts on the driver and,
  * at most the cap, loads the files with one collect. A version past
  * the cap drops its rows and reads the files as before. Memory bound:
  * at most BufferCap resident rows besides the buffer, and only while
  * the store's files are under `SingleFileBytes` (the one-file bound
  * of a small store); converted to Catalyst rows once per version, not
  * per read. Nothing bounds the sum over stores.
  */
class DeltaStore(spark: SparkSession, root: String) {
  import DeltaStore.{BufferCap, Cold, Files, Large, Resident}

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
    * job reading the footers). `seed`, the rows of the whole new file
    * version when the writer holds them, makes it resident; without
    * one it is cold. */
  private def promoteBase(v: Long, schema: StructType,
                          seed: Option[Vector[InternalRow]]): Unit =
    synchronized {
      baseVer = v
      baseCacheDf = spark.read.schema(schema).parquet(baseDirOf(v))
      baseCacheVer = v
      partCache.clear()
      files = seed.fold[Files](Cold)(residentOrLarge(baseCacheDf.schema, _))
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
    .empty[InternalRow]
  private var bufferedSchema: StructType = null

  // ---- driver residency ----
  private var files: Files = Cold
  private def residentOrLarge(schema: StructType,
                              rows: Vector[InternalRow]): Files =
    if (rows.size + buffered.size <= BufferCap && smallStore)
      Resident(schema, rows)
    else Large

  /** Same column names and types, in order (nullability and metadata
    * aside): rows of one are valid rows of the other. */
  private def sameFields(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name && x.dataType == y.dataType }

  /** `df`'s rows when its optimized plan is one `LocalRelation` (a
    * statement's VALUES, or a transform the optimizer folded over
    * resident rows): the driver holds them, so taking them runs no job.
    * A frame that reads a file is never optimized here. */
  private def heldRows(df: DataFrame): Option[Vector[InternalRow]] =
    if (df.queryExecution.analyzed.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
      None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data.toVector)
      case _ => None
    }

  /** The frame a writer writes: the rows it holds, when it holds them,
    * so the files and the seed come from one evaluation (a second
    * planning of `df` would evaluate `NOW()` anew). */
  private def writable(df: DataFrame,
                       held: Option[Vector[InternalRow]]): DataFrame =
    held.fold(df)(GraftSqlBridge.localFrame(spark, df.schema, _))
  private def localOnly(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  private def toInternal(schema: StructType, rows: Iterator[Row])
      : Vector[InternalRow] = {
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(convert(_).asInstanceOf[InternalRow]).toVector
  }

  /** The file version's rows as read, when the footers say it fits:
    * one collect, or none for a version of no rows (a table just
    * created). */
  private def load(): Files = {
    val parquet = Seq(basePath, deltaPath).filter(exists).flatMap(p =>
      fs.listStatus(new Path(p)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    val rows = parquet.map(s => footerRowCount(s.getPath)).sum
    if (rows + buffered.size > BufferCap ||
        parquet.map(_.getLen).sum >= SingleFileBytes) Large
    else {
      val df = fileRead()
      Resident(df.schema,
        if (rows == 0) Vector.empty
        else toInternal(df.schema, df.collect().iterator))
    }
  }

  /** The resident state that [[read]] serves, loading a cold version
    * first; None when the store reads its files. */
  private def serving: Option[Resident] = synchronized {
    if (files == Cold) files = load()
    files match {
      case r: Resident if r.rows.size + buffered.size <= BufferCap &&
          (buffered.isEmpty || sameFields(r.schema, bufferedSchema)) =>
        Some(r)
      case _ => None
    }
  }
  /** The frame [[read]] last built over resident rows, and the epoch
    * and state it was built for. */
  private var residentFrame: (Long, Resident, DataFrame) = null

  /** Rows the driver holds of the current files (0 when it holds none). */
  private[graft] def residentCount: Int = synchronized {
    files match { case r: Resident => r.rows.size; case _ => 0 }
  }

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
    * [[replaceTable]]); a genuinely large initial frame keeps its
    * partitioning. */
  def writeBase(df: DataFrame): Unit = {
    val next = baseVer + 1
    val held = heldRows(df)
    val frame = writable(df, held)
    (if (localOnly(df) || smallStore) orderedSingle(frame) else frame)
      .write.mode("overwrite").parquet(baseDirOf(next))
    // a local frame seeds the version unless delta parts follow it
    promoteBase(next, df.schema, if (deltaFileCount() == 0) held else None)
    bumpEpoch()
  }

  /** Append rows to the delta side (the INSERT buffer analog): local
    * statement batches buffer in memory, file-backed frames go to the
    * parquet delta. A file-backed append flushes the buffer first:
    * [[read]] returns delta parts before buffered rows, so rows
    * buffered earlier would otherwise read back after the later
    * append's (the scan-order contract of [[replaceTable]]). */
  def append(df: DataFrame): Unit = {
    if (localOnly(df) && buffered.size < BufferCap) {
      // nullable-ized: a VALUES batch's literal columns report
      // non-nullable while a later tuple holds NULL — a LocalRelation
      // with that contradiction breaks codegen. Parquet reads are
      // nullable anyway, so this matches the spilled path exactly.
      val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
      // buffered rows are typed by the buffer's schema: a batch of
      // other columns or types starts a new buffer
      if (bufferedSchema != null && !sameFields(bufferedSchema, schema))
        flush()
      val rows = heldRows(df).getOrElse(
        toInternal(schema, df.collect().iterator))
      synchronized {
        if (bufferedSchema == null) bufferedSchema = schema
        buffered ++= rows
        files match {
          case r: Resident if r.rows.size + buffered.size > BufferCap =>
            files = Large
          case _ =>
        }
        bumpEpoch()
      }
      if (buffered.size >= BufferCap) flush()
    } else {
      flush()
      (if (smallStore) orderedSingle(df) else df)
        .write.mode("append").parquet(deltaPath)
      synchronized {
        if (files != Large) files = Cold
        bumpEpoch()
      }
    }
  }

  private def bufferFrame(): DataFrame =
    GraftSqlBridge.localFrame(spark, bufferedSchema, buffered.toVector)

  /** Persist the in-memory buffer into the parquet delta (the durable
    * point; no-op when empty). A resident version appends the buffered
    * rows to its own. */
  def flush(): Unit = if (buffered.nonEmpty) {
    orderedSingle(bufferFrame()).write.mode("append").parquet(deltaPath)
    synchronized {
      val (rows, schema) = (buffered.toVector, bufferedSchema)
      buffered.clear()
      bufferedSchema = null
      files = files match {
        case r: Resident if sameFields(r.schema, schema) =>
          residentOrLarge(r.schema, r.rows ++ rows)
        case _: Resident => Cold
        case other => other
      }
      bumpEpoch()
    }
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

  /** Merged read view: base ∪ delta (DeltaIterator analog). A resident
    * store returns one `LocalRelation` of the file rows then the
    * buffered rows, built once per version; any other reads its files
    * and adds the buffered rows as a `LocalRelation`, which Catalyst
    * folds/broadcasts like any small side. */
  def read(): DataFrame = synchronized {
    serving match {
      case Some(r) =>
        if (residentFrame == null || residentFrame._1 != mutEpoch ||
            !(residentFrame._2 eq r))
          residentFrame = (mutEpoch, r,
            GraftSqlBridge.localFrame(spark, r.schema, r.rows ++ buffered))
        residentFrame._3
      case None =>
        residentFrame = null
        fileBackedRead()
    }
  }

  /** [[read]] from the files and the buffer, resident or not. */
  private[graft] def fileBackedRead(): DataFrame = synchronized {
    if (buffered.isEmpty) fileRead()
    else fileRead().unionByName(bufferFrame())
  }

  /** The current file version: base ∪ delta parts. */
  private def fileRead(): DataFrame = {
    val base = baseDf()
    val withFiles =
      if (!exists(deltaPath)) base
      else {
        // Spark orders a multi-file read by SIZE; the scan-order
        // contract (insert order — see replaceTable scaladoc) needs the
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
    withFiles
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
  private var txnBuffered: List[InternalRow] = null
  private var txnBufferedSchema: StructType = _
  private var txnFiles: Files = Cold
  private var txnDeltaFiles: Set[String] = Set.empty
  private var txnBaseVer = 0L
  private var txnDeltaVer = 0L
  private def deltaFileNames: Set[String] =
    if (!exists(deltaPath)) Set.empty
    else fs.listStatus(new Path(deltaPath)).filter(_.isFile)
      .map(_.getPath.getName).toSet

  def beginTxn(): Unit = synchronized {
    txnActive = true
    txnBuffered = buffered.toList
    txnBufferedSchema = bufferedSchema
    txnFiles = files
    txnDeltaFiles = deltaFileNames
    txnBaseVer = baseVer
    txnDeltaVer = deltaVer
  }

  def commitTxn(): Unit = {
    txnActive = false
    txnBuffered = null
    txnBufferedSchema = null
  }

  def rollbackTxn(): Unit = synchronized {
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
    // the pinned files are back, and so is what the driver held of them
    files = txnFiles
    txnActive = false
    txnBuffered = null
    txnBufferedSchema = null
    bumpEpoch()
  }

  /** Retire the current delta version: appends go to a fresh one, and
    * the old parts stay readable for [[KeepVersions]] versions (a
    * savepoint pins its own, so rollback flips back to it). The fresh
    * version's directory is made at once: a reopened store takes the
    * highest delta version, which must not be the retired one. */
  private def discardDelta(): Unit = {
    if (deltaFileCount() == 0) return
    deltaVer += 1
    fs.mkdirs(new Path(deltaPath))
    collectGarbage(DeltaVerRe, deltaVer, txnDeltaVer)
    bumpEpoch()
  }

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

  /** Write `df` as the new base and clear the delta: the one base
    * rewrite behind compact, truncate, rewriteWith and ALTER. It writes
    * the new base fully into `base-N+1`, then flips the version
    * pointer: a crash mid-sequence leaves the old version current, and
    * a concurrent reader's resolved plan keeps reading `base-N`, whose
    * files survive the grace window — no delete-then-rename gap.
    * Single-writer discipline assumed, as in the reference's background
    * merge. `df` is
    * planned before the buffer is cleared (the buffered rows entered
    * it as a LocalRelation copy) and reads the retired delta version,
    * which the grace window keeps. The new version is seeded with
    * `known`, else with `df`'s rows when the driver holds them (either
    * is what the write writes), else — for a resident store, whose
    * rewrite writes one ordered file — with the rows the write job
    * observed in its single task: a list aggregate beside the write,
    * so it costs no job of its own, that takes the first BufferCap rows
    * and a count of all, so a rewrite past the cap (an upsert of a
    * large batch) holds at most BufferCap rows and seeds nothing. */
  private def replaceTable(df: DataFrame,
                           known: Option[Vector[InternalRow]] = None): Unit = {
    val held = known.orElse(heldRows(df))
    val small = smallStore
    val frame = writable(df, held)
    val ordered = if (small) orderedSingle(frame) else frame
    val captured =
      if (held.isEmpty && small && df.columns.nonEmpty &&
          serving.isDefined) {
        import org.apache.spark.sql.functions.{col, collect_list, count,
          lit, monotonically_increasing_id, struct, when}
        val obs = org.apache.spark.sql.Observation()
        // the one ordered partition numbers its rows 0, 1, …; the list
        // skips the NULLs past the first BufferCap
        Some(obs -> ordered.withColumn("__wrow", monotonically_increasing_id())
          .observe(obs, count(lit(1)), collect_list(when(
            col("__wrow") < BufferCap, struct(df.columns.toSeq.map(c =>
              col(s"`${c.replace("`", "``")}`")): _*))))
          .drop("__wrow"))
      } else None
    val next = baseVer + 1
    captured.fold(ordered)(_._2).write.mode("overwrite")
      .parquet(baseDirOf(next))
    val seed = held.orElse(captured.flatMap { case (obs, _) =>
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(10, "s"))
        if (row.getLong(0) > BufferCap) None
        else Some(toInternal(df.schema, row.getSeq[Row](1).iterator))
      } catch { case _: java.util.concurrent.TimeoutException => None }
    })
    synchronized {
      buffered.clear()
      bufferedSchema = null
      promoteBase(next, df.schema, seed)
      discardDelta()
    }
  }

  /** Fold the delta into the base and clear it (background-merge analog). */
  def compact(): Unit =
    if (deltaFileCount() > 0 || buffered.nonEmpty) replaceTable(read())

  /** TRUNCATE analog (the reference's TianmuTable::Truncate,
    * core/tianmu_table.h:76): keep the schema, drop all rows — base is
    * overwritten with an empty frame, delta cleared. */
  def truncate(): Unit = replaceTable(baseDf().limit(0), Some(Vector.empty))

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
}

object DeltaStore {
  /** Rows the in-memory insert buffer holds before it spills to the
    * parquet delta; also the largest `INSERT … SELECT` result the
    * statement runner collects to the driver instead of staging. */
  val BufferCap = 65536

  /** What the driver holds of a store's current file version (base ∪
    * delta parts): its rows ([[Resident]]), nothing because it is past
    * the cap ([[Large]]), or nothing yet ([[Cold]]: the next read
    * decides). */
  private sealed trait Files
  private case object Cold extends Files
  private case object Large extends Files
  /** The file version's rows in scan order, typed by `schema` (the
    * base's read schema, which a file-backed read reports). */
  private final case class Resident(schema: StructType,
                                    rows: Vector[InternalRow]) extends Files
}
