package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `LOAD DATA INFILE` parity (SURVEY.md §3.2): the reference parses
  * delimited text with configurable delimiter/enclosure/terminator,
  * routes bad rows to a reject file (storage/tianmu/loader/
  * parsing_strategy.h:53-65, loader/rejecter.cpp), and builds 64K-row
  * column packs with per-pack metadata.
  *
  * Spark mapping: schema-d CSV read in PERMISSIVE mode with a corrupt-
  * record column (reject analog), then a Parquet write whose row groups
  * are the pack analog — with column statistics and optional bloom
  * filters standing in for the Knowledge Grid (DPN min/max +
  * RSIndex_Bloom, data/dpn.h:58, index/rsi_bloom.h).
  */
object CsvLoader {

  val CorruptCol = "_corrupt_record"

  /** One parse of a delimited file. `rows` holds every record: the
    * typed columns, then [[CorruptCol]], which is null on a clean record
    * and holds the raw text of a rejected one. `clean` and `rejects` are
    * its two sides; a caller that needs both reads `rows` once. */
  case class LoadResult(rows: DataFrame) {
    def clean: DataFrame = rows.filter(col(CorruptCol).isNull).drop(CorruptCol)
    def rejects: DataFrame = rows.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw_line"))
  }

  /** Quote-aware record splitting: the line terminator only ends a
    * record OUTSIDE an enclosed field — MySQL reads an enclosed P_MSG
    * containing a raw newline as ONE field spanning two physical lines
    * (issue1263's double-enclosed fixture). */
  private[sources] def splitMysqlRecords(text: String, delim: String,
                                         q: Char, esc: Char,
                                         sep: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val L = text.length
    var i = 0
    var start = 0
    var inEnc = false
    var atFieldStart = true
    while (i < L) {
      val c = text.charAt(i)
      if (inEnc) {
        if (c == esc && i + 1 < L) i += 2
        else if (c == q && i + 1 < L && text.charAt(i + 1) == q) i += 2
        else if (c == q) { inEnc = false; i += 1 }
        else i += 1
      } else if (atFieldStart && c == q) {
        inEnc = true; atFieldStart = false; i += 1
      } else if (text.startsWith(delim, i)) {
        atFieldStart = true; i += delim.length
      } else if (text.startsWith(sep, i)) {
        out += text.substring(start, i)
        i += sep.length; start = i; atFieldStart = true
      } else { atFieldStart = false; i += 1 }
    }
    if (start < L) out += text.substring(start, L)
    out.result()
  }

  /** MySQL's LOAD DATA field grammar over one record
    * (loader/parsing_strategy.h; sql_load.cc semantics): an enclosed
    * field is LITERAL content (doubled enclosure → one char, escape
    * sequences apply); an unenclosed field equal to `\N` or the word
    * NULL is SQL NULL; a record ending in the delimiter carries one
    * trailing empty field. Returns null entries for SQL NULLs. */
  private[sources] def parseMysqlRecord(line: String, delim: String,
                                        q: Char, esc: Char)
      : IndexedSeq[String] = {
    def unescChar(c: Char): Char = c match {
      case '0' => 0.toChar
      case 'b' => '\b'
      case 'n' => '\n'
      case 'r' => '\r'
      case 't' => '\t'
      case 'Z' => 26.toChar
      case other => other
    }
    def unescStr(s: String): String = {
      if (s.indexOf(esc) < 0) return s
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == esc && i + 1 < s.length) {
          sb.append(unescChar(s.charAt(i + 1))); i += 2
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val L = line.length
    var i = 0
    var done = false
    while (!done) {
      if (i < L && line.charAt(i) == q) {
        val fieldStart = i
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (!closed && i < L) {
          val c = line.charAt(i)
          if (c == esc && i + 1 < L) {
            sb.append(unescChar(line.charAt(i + 1))); i += 2
          } else if (c == q && i + 1 < L && line.charAt(i + 1) == q) {
            sb.append(q); i += 2
          } else if (c == q) { i += 1; closed = true }
          else { sb.append(c); i += 1 }
        }
        if (!closed) {
          // enclosure never closed: MySQL keeps the raw text from the
          // opening quote through end of record, quote included
          // (issue1209's trailing `";` field)
          out += line.substring(fieldStart)
          i = L
          done = true
        } else {
          val j = line.indexOf(delim, i)
          if (j < 0) { sb.append(line.substring(i)); i = L }
          else { sb.append(line.substring(i, j)); i = j + delim.length }
          out += sb.toString
          if (j < 0) done = true
          else if (i >= L) { out += ""; done = true }
        }
      } else {
        val j = line.indexOf(delim, i)
        val end = if (j < 0) L else j
        val rawF = line.substring(i, end)
        out += (
          if (rawF.length == 2 && rawF.charAt(0) == esc &&
            rawF.charAt(1) == 'N') null
          else if (rawF.equalsIgnoreCase("NULL")) null
          else unescStr(rawF))
        if (j < 0) { i = L; done = true }
        else {
          i = j + delim.length
          if (i >= L) { out += ""; done = true }
        }
      }
    }
    out.toIndexedSeq
  }

  /** Parse a delimited file against `schema`; rows that fail to parse come
    * back separately (the reject file analog). TPC-H-style trailing
    * delimiters are tolerated via an ignored trailing column when
    * `trailingDelimiter`.
    *
    * Date/timestamp columns follow MySQL's loose-mode LOAD DATA contract
    * (SURVEY §1.2, FIXTURES.md): the zero date `0000-00-00` (and zero
    * timestamp) is a legal FIELD value that becomes NULL — it must not
    * reject the whole row the way a structural defect (bad numeric,
    * wrong column count) does. Those columns are therefore parsed as
    * strings and cast value-level after the row-level reject split; an
    * unparseable date likewise degrades to NULL (MySQL converts it to
    * the zero date with a warning rather than failing the load).
    *
    * Nothing is cached: each action over the result parses the file
    * again. Every read path parses whole records from a text scan, so a
    * query that needs only [[CorruptCol]] (counting the rejects) still
    * runs, and a record is rejected for any malformed field, not only
    * the fields the query reads (Spark's CSV file source refuses the
    * first and prunes its parse for the second). */
  def load(spark: SparkSession, path: String, schema: StructType,
           delimiter: String = ",", quote: String = "\"",
           trailingDelimiter: Boolean = false,
           nullValue: String = "\\N",
           escape: String = "\\",
           skipLines: Int = 0,
           lineSep: Option[String] = None,
           looseNumerics: Boolean = false,
           nullWord: Boolean = false,
           padRows: Boolean = false): LoadResult = {
    import org.apache.spark.sql.types.{DateType, TimestampType, TimestampNTZType}
    def isTemporal(f: org.apache.spark.sql.types.StructField) =
      f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType
    def isNum(f: org.apache.spark.sql.types.StructField) =
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    // looseNumerics (the statement tier's LOAD DATA): MySQL never
    // rejects a row for an unparseable numeric FIELD — it prefix-parses
    // ('null' → 0 into a BIGINT, warning 1366; issue1153). Parse those
    // columns as strings and cast value-level after the reject split.
    val parseSchema = StructType(schema.fields.map(f =>
      if (isTemporal(f) || (looseNumerics && isNum(f))) f.copy(dataType =
        org.apache.spark.sql.types.StringType)
      else f))
    val readSchema0 =
      if (trailingDelimiter) parseSchema.add("_trailing", "string")
      else parseSchema
    val readSchema = readSchema0.add(CorruptCol, "string")
    val reader = spark.read
      .schema(readSchema)
      .option("delimiter", delimiter)
      .option("quote", quote)
      // MySQL LOAD DATA ESCAPED BY (loader/parsing_strategy.h:53-65)
      .option("escape", escape)
      // MySQL LOAD DATA spells NULL as \N (sql/sql_load semantics)
      .option("nullValue", nullValue)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
    // custom record terminator (LINES TERMINATED BY ';', issue1209):
    // Spark CSV accepts a 1-character lineSep; \n and \r\n stay on
    // auto-detect (the reader handles both without the option)
    lineSep.foreach(ls => reader.option("lineSep", ls))
    // padRows (MySQL's non-strict/LOCAL row normalization — warnings
    // 1261/1262 instead of rejection): short records PAD with NULL
    // fields, long records TRUNCATE, and an empty record reads as an
    // all-NULL row (issue1209's `1,chai,6;2,x,3,4;3,chayicha;;`).
    // Normalizing the record TEXT to exactly n fields and re-feeding
    // the CSV parser keeps one parsing engine. Unenclosed loads only —
    // a quote-aware splitter would be a different parser.
    def lines = {
      val r = spark.read
      lineSep.foreach(ls => r.option("lineSep", ls))
      r.textFile(path)
    }
    val padded: Option[org.apache.spark.sql.Dataset[String]] =
      if (!padRows || quote != "\u0000" || skipLines > 0 ||
          trailingDelimiter) None
      else {
        val n = parseSchema.length
        val d = delimiter
        val nv = nullValue
        import spark.implicits._
        Some(lines.map { l =>
          // a truly EMPTY record is a row of NULLs; a whitespace-only
          // one still parses its (unparseable) first field -- MySQL
          // stores 0 there (issue1209's trailing '\n' record)
          if (l.isEmpty) Seq.fill(n)(nv).mkString(d)
          else {
            val fs = l.split(java.util.regex.Pattern.quote(d), -1)
            val cut = if (fs.length > n) fs.take(n).toSeq else fs.toSeq
            (cut ++ Seq.fill(n - cut.length)(nv)).mkString(d)
          }
        })
      }
    // with an EXPLICIT non-empty ENCLOSED BY, Spark's CSV parser can't
    // express MySQL's field grammar (an ENCLOSED "null" is the literal
    // string while the unenclosed word is SQL NULL; doubled enclosure
    // chars are literals; ragged records pad/truncate) — parse records
    // with MySQL's own rules (loader/parsing_strategy.h) instead. The
    // line scan distributes over the text read's partitions.
    val customActive = nullWord && skipLines <= 0 && !trailingDelimiter
    val mysqlParsedRaw: Option[DataFrame] =
      if (!customActive) None
      else {
        val r = spark.read
        lineSep.foreach(ls => r.option("lineSep", ls))
        val n = parseSchema.length
        val d = delimiter
        val qc = quote.charAt(0)
        val ec = if (escape.isEmpty) '\uFFFF' else escape.charAt(0)
        val sep = lineSep.getOrElse("\n")
        val strSchema = StructType(parseSchema.fields.map(f =>
          f.copy(dataType = org.apache.spark.sql.types.StringType,
            nullable = true)) :+
          org.apache.spark.sql.types.StructField(CorruptCol,
            org.apache.spark.sql.types.StringType))
        // whole-file record scan: the terminator-inside-enclosure rule
        // needs cross-line state. MySQL's own LOAD is the same single
        // stream; statement-tier files are load-batch sized.
        val rowRdd = spark.sparkContext.wholeTextFiles(path)
          .flatMap { case (_, text) =>
            splitMysqlRecords(text, d, qc, ec, sep)
          }.map { l0 =>
            val l = if (sep == "\n") l0.stripSuffix("\r") else l0
            val fs = parseMysqlRecord(l, d, qc, ec)
            // ragged records pad/truncate with warnings (MySQL
            // 1261/1262) \u2014 the strict 1261-as-error cases were already
            // enforced by validateEnclosedRows before the read
            val vals: Seq[String] =
              if (l.isEmpty) Seq.fill(n)(null)
              else if (fs.length == n) fs
              else if (fs.length > n) fs.take(n)
              else fs ++ Seq.fill(n - fs.length)(null)
            org.apache.spark.sql.Row.fromSeq(vals :+ null)
          }
        Some(spark.createDataFrame(rowRdd, strSchema))
      }
    val raw = mysqlParsedRaw match {
      case Some(df) => df
      case None => reader.csv(padded.getOrElse(
        if (skipLines <= 0) lines
        else skipLeadingLines(spark, path, skipLines)))
    }
    // with a non-empty ENCLOSED BY, the UNENCLOSED word NULL reads as
    // SQL NULL (MySQL sql_load semantics — issue1153's second block);
    // the custom parser above already applied the rule field-level
    def nullWorded(c: org.apache.spark.sql.Column) =
      if (nullWord && !customActive)
        when(upper(c) === lit("NULL"), lit(null)).otherwise(c)
      else c
    val typed = raw.select(schema.fields.map { f =>
        if (isTemporal(f))
          // zero date/timestamp → NULL, then loose (ANSI-off) cast
          nullif(nullif(nullWorded(col(f.name)), lit("0000-00-00")),
            lit("0000-00-00 00:00:00"))
            .cast(f.dataType).as(f.name)
        else if (looseNumerics && isNum(f)) {
          val s = nullWorded(col(f.name))
          val prefix = regexp_extract(s,
            "^\\s*([+-]?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)", 1)
          import org.apache.spark.sql.types.DecimalType
          val dec = DecimalType(38, 6)
          val parsed = coalesce(prefix.cast(dec), lit(0).cast(dec))
          // non-strict LOAD clamps out-of-range values to the column's
          // DECLARED bounds with a warning (-1 into an UNSIGNED column
          // stores 0 — unsigned_support_issue1267.test), and rounds a
          // fractional field into an integer column MySQL's way
          val clamped =
            if (f.metadata.contains("graft.mysql.min"))
              least(greatest(parsed, lit(new java.math.BigDecimal(
                f.metadata.getString("graft.mysql.min")))),
                lit(new java.math.BigDecimal(
                  f.metadata.getString("graft.mysql.max"))))
            else parsed
          val integral = f.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case dt: DecimalType if dt.scale == 0 => true
            case _ => false
          }
          val shaped = if (integral) round(clamped, 0) else clamped
          when(s.isNull, lit(null))
            .otherwise(shaped.cast(f.dataType)).as(f.name)
        }
        // the custom-parse path reads every field as STRING — cast to
        // the declared type (no-op for the typed CSV path)
        else nullWorded(col(f.name)).cast(f.dataType).as(f.name)
      }.toSeq :+ col(CorruptCol): _*)
    // a NULL field destined for a NOT NULL column takes the column's
    // implicit default with warning 1263 (issue1153: `\N` and the
    // unenclosed NULL word into `bigint NOT NULL` store 0) — LOAD
    // never rejects the row for it
    val rows = typed.select(schema.fields.map { f =>
      val req = f.metadata.contains("graft.mysql.notnull") &&
        f.metadata.getBoolean("graft.mysql.notnull")
      if (!req) col(f.name)
      else {
        val implicitDefault =
          if (isNum(f)) Some(lit(0).cast(f.dataType))
          else if (f.dataType ==
            org.apache.spark.sql.types.StringType) Some(lit(""))
          else None
        implicitDefault match {
          case Some(d) => coalesce(col(f.name), d).as(f.name)
          case None => col(f.name)
        }
      }
    }.toSeq :+ col(CorruptCol): _*)
    LoadResult(rows)
  }

  /** `IGNORE n LINES`: drop the first n lines of the (single) input
    * file. The driver reads only those n lines to learn the byte offset
    * where kept data starts; the bulk read is then a distributed
    * Hadoop text scan filtered on each line's start offset — no
    * driver-side materialization of the data itself, so an arbitrarily
    * large file skips its header at scan parallelism. */
  private def skipLeadingLines(spark: SparkSession, path: String,
                               n: Int): org.apache.spark.sql.Dataset[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(fs.getFileStatus(p).getPath)
    var cutoff = 0L
    try {
      var lines = 0
      var b = in.read()
      while (lines < n && b >= 0) {
        cutoff += 1
        if (b == '\n') lines += 1
        b = if (lines < n) in.read() else -1
      }
    } finally in.close()
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
      classOf[org.apache.hadoop.io.LongWritable],
      classOf[org.apache.hadoop.io.Text], conf)
      .filter(_._1.get() >= cutoff).map(_._2.toString)
    spark.createDataset(rdd)(org.apache.spark.sql.Encoders.STRING)
  }

  /** `SELECT … INTO OUTFILE` parity (core/engine.h:338
    * `ResultExportSender`, exporter/export2file.cpp,
    * exporter/data_exporter_txt.cpp): export a result as delimited text
    * with configurable delimiter/enclosure/line terminator. Distributed
    * write — one file per partition, exactly how the export scales past
    * one node (the reference streams through a single connection). */
  def export(df: DataFrame, outPath: String, delimiter: String = ",",
             quote: String = "\"", lineSep: String = "\n",
             header: Boolean = false, escape: String = "\\"): Unit =
    df.write.mode("overwrite")
      .option("delimiter", delimiter)
      .option("quote", quote)
      .option("escape", escape)
      .option("lineSep", lineSep)
      .option("header", header)
      .csv(outPath)

  /** Write with pack-analog tuning: bounded row groups (the 64K-row pack,
    * common/defs.h:47), stats always on, bloom filters for the named
    * columns (RSIndex_Bloom analog — consulted by Parquet readers for
    * point predicates the way the reference consults KN nodes). */
  def writePacked(df: DataFrame, outPath: String,
                  bloomCols: Seq[String] = Nil,
                  rowGroupBytes: Long = 32L << 20): Unit = {
    var w = df.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
    bloomCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    w.parquet(outPath)
  }
}
