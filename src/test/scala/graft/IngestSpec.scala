package graft

import graft.sources.{CsvLoader, DeltaStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardOpenOption}

class IngestSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  test("CSV load roundtrip with trailing pipe delimiter + reject routing") {
    val tmp = Files.createTempDirectory("graft_csv").toString
    // Derive a pipe-delimited .tbl (TPC-H std_data style) from testdata.
    val nation = Engine.table(spark, sf, "nation")
    val lines = nation.select(
      concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
      .collect().map(_.getString(0) + "|")
    val f = Paths.get(tmp, "nation.tbl")
    Files.write(f, (lines :+ "not_an_int|BROKEN|x|").mkString("\n").getBytes)

    val res = CsvLoader.load(spark, f.toString,
      nation.schema, delimiter = "|", trailingDelimiter = true)
    assert(res.clean.count() === nation.count())
    assert(res.rejects.count() === 1)
    assert(res.rejects.first().getString(0).contains("BROKEN"))
    // values survive the roundtrip
    val got = res.clean.orderBy("n_nationkey").collect().toSeq
    val want = nation.orderBy("n_nationkey").collect().toSeq
    assert(got === want)
  }

  test("a load caches nothing: CsvLoader.load with both counts, and " +
      "LOAD DATA") {
    val tmp = Files.createTempDirectory("graft_nocache").toString
    val f = Paths.get(tmp, "t.csv")
    Files.write(f, "1|alpha|10\n2|beta|20\nbroken|x|y\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, name STRING, v INT")
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val res = CsvLoader.load(spark, f.toString, schema, delimiter = "|")
    assert(res.clean.count() === 2 && res.rejects.count() === 1)
    assert(cache.isEmpty, "CsvLoader.load left a cached relation")
    val store = new DeltaStore(spark, s"$tmp/store")
    store.writeBase(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    val runner = new graft.sources.StatementRunner(spark)
    runner.attach("nocache", store)
    val summary = runner.run(s"LOAD DATA INFILE '$f' INTO TABLE nocache " +
      "FIELDS TERMINATED BY '|'").first()
    assert(summary.getAs[Long]("rows_loaded") === 2L)
    assert(summary.getAs[Long]("rows_rejected") === 1L)
    assert(cache.isEmpty, "LOAD DATA left a cached relation")
  }

  test("events ts schema drift: Engine.table normalizes both µs-timestamp " +
      "and long-ns encodings to the same timestamps") {
    // r12 regression guard: the driver's events.parquet stores ts as a
    // µs timestamp, but a TIMESTAMP(NANOS) file surfaces ts as long ns
    // under nanosAsLong. Engine.table must read BOTH — deciding from the
    // read schema, not an assumption about the writer.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val ev = Engine.table(spark, sf, "events").limit(50)
      .select("event_id", "ts", "user_id", "event_type")
    val usDir = Files.createTempDirectory("graft_ev_us").toString
    val nsDir = Files.createTempDirectory("graft_ev_ns").toString
    // µs encoding: write the timestamp column as-is (parquet timestamp[us])
    ev.write.mode("overwrite").parquet(s"$usDir/events.parquet")
    // ns encoding twin: epoch-ns as int64 — exactly the shape a
    // TIMESTAMP(NANOS) file presents under nanosAsLong=true
    ev.withColumn("ts",
      (unix_micros(col("ts").cast("timestamp")) * 1000L).cast(LongType))
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    val fromUs = Engine.table(spark, usDir, "events")
    val fromNs = Engine.table(spark, nsDir, "events")
    assert(fromUs.schema("ts").dataType === TimestampNTZType,
      s"µs read surfaced ${fromUs.schema("ts").dataType}")
    assert(fromNs.schema("ts").dataType === TimestampNTZType,
      s"ns read surfaced ${fromNs.schema("ts").dataType}")
    val a = fromUs.select("event_id", "ts").orderBy("event_id").collect().toSeq
    val b = fromNs.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(a === b, "µs and ns encodings decoded to different timestamps")
  }

  test("writePacked produces readable parquet with bloom-filter options") {
    val tmp = Files.createTempDirectory("graft_pack").toString
    val li = Engine.table(spark, sf, "lineitem")
    CsvLoader.writePacked(li, s"$tmp/li", bloomCols = Seq("l_orderkey"))
    val back = spark.read.parquet(s"$tmp/li")
    assert(back.count() === li.count())
    assert(back.filter(col("l_orderkey") === 1).count()
      === li.filter(col("l_orderkey") === 1).count())
  }

  test("load treats \\N as NULL (MySQL LOAD DATA convention)") {
    val tmp = Files.createTempDirectory("graft_null").toString
    val f = Paths.get(tmp, "t.csv")
    Files.write(f, "1|alpha|10\n2|\\N|20\n3|gamma|\\N\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, name STRING, v INT")
    val res = CsvLoader.load(spark, f.toString, schema, delimiter = "|")
    assert(res.rejects.count() === 0)
    val rows = res.clean.orderBy("id").collect()
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(2))
    assert(rows(0).getString(1) === "alpha")
  }

  test("load maps 0000-00-00 zero dates to NULL without rejecting the row") {
    val tmp = Files.createTempDirectory("graft_zerodate").toString
    val f = Paths.get(tmp, "t.csv")
    Files.write(f, ("1|0000-00-00|0000-00-00 00:00:00\n" +
      "2|1996-04-12|1996-04-12 08:30:00\n" +
      "not_an_int|1996-04-12|1996-04-12 08:30:00\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, d DATE, ts TIMESTAMP")
    val res = CsvLoader.load(spark, f.toString, schema, delimiter = "|")
    // structural defect (bad numeric) still rejects; zero date does not
    assert(res.rejects.count() === 1)
    val rows = res.clean.orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getDate(1).toString === "1996-04-12")
  }

  test("delta store truncate keeps schema, drops all rows") {
    val tmp = Files.createTempDirectory("graft_trunc").toString
    val c = Engine.table(spark, sf, "customer")
    val store = new DeltaStore(spark, tmp)
    store.writeBase(c)
    store.append(c.limit(5))
    store.truncate()
    assert(store.read().count() === 0)
    assert(store.read().schema === c.schema)
    // still usable after truncate
    store.append(c.limit(7))
    assert(store.read().count() === 7)
  }

  test("ESCAPED BY roundtrip: quotes, delimiters and escapes in data") {
    val tmp = Files.createTempDirectory("graft_esc").toString
    val sp = spark
    import sp.implicits._
    val tricky = Seq(
      (1L, """plain"""),
      (2L, """has "quotes" inside"""),
      (3L, "has,commas,and|pipes"),
      (4L, """trailing backslash \"""),
      (5L, """mix: "q", comma, \ esc"""))
      .toDF("id", "s")
    CsvLoader.export(tricky, s"$tmp/out", delimiter = ",", escape = "\\")
    val back = CsvLoader.load(spark, s"$tmp/out",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))),
      delimiter = ",", escape = "\\")
    assert(back.rejects.count() === 0)
    val got = back.clean.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = tricky.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expect)
  }

  test("ALTER add/drop column rewrites atomically, delta folded first") {
    val tmp = Files.createTempDirectory("graft_alter").toString
    val n = Engine.table(spark, sf, "nation")
    val store = new DeltaStore(spark, tmp)
    store.writeBase(n.limit(10))
    store.append(n.filter(col("n_nationkey") >= 10).limit(5))
    store.alterAddColumn("loaded_at", lit("2026-08-12"))
    val widened = store.read()
    assert(widened.columns.contains("loaded_at"))
    assert(widened.count() === 15) // delta folded in by the rewrite
    assert(store.deltaCount() === 0)
    store.alterDropColumn("loaded_at")
    assert(!store.read().columns.contains("loaded_at"))
    assert(store.read().count() === 15)
  }

  test("export (INTO OUTFILE analog) roundtrips through load") {
    val tmp = Files.createTempDirectory("graft_out").toString
    val nation = Engine.table(spark, sf, "nation")
    CsvLoader.export(nation, s"$tmp/nation_out", delimiter = "|")
    val back = CsvLoader.load(spark, s"$tmp/nation_out",
      nation.schema, delimiter = "|")
    assert(back.rejects.count() === 0)
    assert(back.clean.orderBy("n_nationkey").collect().toSeq
      === nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("delta store: append visible in read view, compact folds it in") {
    val tmp = Files.createTempDirectory("graft_delta").toString
    val c = Engine.table(spark, sf, "customer")
    val store = new DeltaStore(spark, tmp)
    store.writeBase(c.filter(col("c_custkey") % 2 === 0))
    store.append(c.filter(col("c_custkey") % 2 === 1))
    assert(store.read().count() === c.count())
    assert(store.deltaCount() > 0)
    store.compact()
    assert(store.deltaCount() === 0)
    assert(store.read().count() === c.count())
    // idempotent compact
    store.compact()
    assert(store.read().count() === c.count())
  }

  test("appendWithMerge folds the delta when row/file thresholds trip " +
      "(ProcessInsertBufferMerge analog)") {
    val tmp = Files.createTempDirectory("graft_automerge").toString
    val r = Engine.table(spark, sf, "region") // 5 rows/append
    val store = new DeltaStore(spark, tmp)
    store.writeBase(r.limit(0))
    // below both thresholds: delta accumulates, no merge
    assert(!store.appendWithMerge(r, maxDeltaRows = 100, maxDeltaFiles = 100))
    assert(store.deltaCount() === 5)
    // row threshold trips on the append that crosses it
    assert(store.appendWithMerge(r, maxDeltaRows = 10, maxDeltaFiles = 100))
    assert(store.deltaCount() === 0)
    assert(store.read().count() === 10)
    // file-count threshold trips independently of row count
    var merged = false
    var i = 0
    while (!merged && i < 10) {
      merged = store.appendWithMerge(r.limit(1),
        maxDeltaRows = 1000000, maxDeltaFiles = 3)
      i += 1
    }
    assert(merged && i <= 4, s"file trigger after $i appends")
    assert(store.deltaCount() === 0)
    assert(store.read().count() === 10 + i)
  }
  test("versioned base rewrite: concurrent readers never straddle a " +
      "swap (MvccStore-protocol base dirs, r18 verdict watch item)") {
    val tmp = Files.createTempDirectory("graft_vbase").toString
    val r = Engine.table(spark, sf, "region")
    val store = new DeltaStore(spark, tmp)
    store.writeBase(r)
    val n = r.count()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // 4 readers hammer read().count() while the writer rewrites the
    // base 25 times; under the old delete-then-rename staging swap this
    // raced FAILED_READ_FILE (self-healing but a real window)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val c = store.read().count()
            if (c != n) errors.add(s"count $c != $n")
          } catch {
            case e: Throwable => errors.add(e.toString.take(200))
          }
        }
      })
    }
    readers.foreach(_.start())
    try (1 to 25).foreach { _ =>
      store.rewriteWith(df => df) // identity rewrite: same rows, new dir
    } finally {
      stop.set(true)
      readers.foreach(_.join(20000))
    }
    val first = Option(errors.peek()).getOrElse("")
    assert(errors.isEmpty, s"concurrent read errors: ${errors.size} — $first")
    assert(store.read().count() === n)
    // GC keeps a bounded version trail (grace window), not 25 dirs
    val dirs = new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("base-"))
    assert(dirs.length <= 4, s"version GC left ${dirs.length} dirs")
  }

}
