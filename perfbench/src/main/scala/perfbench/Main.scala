package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.{DeltaStore, MySqlDialect, StatementRunner, StatsSidecar}

/** Benchmark program. Runs one workload as a closed loop with one
  * client: each operation starts after the previous one has returned.
  *
  * Usage: Main <workload> <plan.tsv> <dataDir> <workDir> <seconds>
  *             <trace 0|1> <cores> <setupReps> <roundLen>
  *
  * The plan holds the generated operations, one per line, tab
  * separated. The engine only ever sees the text and files named there.
  * Results go to `<workDir>/result.json`; result rows for the checks go
  * beside it. */
object Main {

  /** One operation of the measured loop. `run` returns the result rows
    * as canonical text (empty for statements without a result). */
  final case class Op(cls: String, label: String, run: () => Seq[String])

  final case class Rec(i: Int, cls: String, label: String, ms: Double,
                       ok: Boolean, err: String, rows: Int)

  /** Everything one setup produced; the last setup serves the loop.
    * The plan is made of rounds of `roundLen` lines with the same class
    * make-up; the loop stops only at a round boundary. A `cyclic` plan
    * starts over when used up; a stateful statement stream does not. */
  final case class Setup(spark: SparkSession, ops: IndexedSeq[Op],
                         roundLen: Int, cyclic: Boolean, finish: () => Unit,
                         sessionMs: Double, tableOpenMs: Double,
                         prepMs: Double, warmupMs: Double,
                         context: Map[String, String])

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** JSON rendering of one result value: numbers stay numbers, every
    * other value is its string form. */
  def jsonValue(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => esc(d.toString)
    case f: Float if f.isNaN || f.isInfinite => esc(f.toString)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) =>
      n.toString
    case b: Boolean => b.toString
    case other => esc(other.toString)
  }

  def rowJson(r: Row): String =
    r.toSeq.map(jsonValue).mkString("[", ",", "]")

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def planLines(path: String): IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1)).toIndexedSeq

  private def newSession(cores: Int): (SparkSession, Double) = {
    val (spark, t) = timed(Engine.session(s"local[$cores]", cores, "perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    (spark, t)
  }

  // ---- rough_scan --------------------------------------------------------

  private val PackRows = 65536
  private val RoughCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** Pack-write lineitem twice: in arrival order, and clustered by a
    * Z-order key over the two predicate columns. `gate` lines run a query
    * gate of `SparkEntry.queries` over the unpacked tables; the first
    * result of each gate is kept for the oracle check. */
  private def roughSetup(cores: Int, roundLen: Int, plan: IndexedSeq[Array[String]],
                         dataDir: String, workDir: String)(
      spark0: Option[SparkSession]): Setup = {
    spark0.foreach(_.stop())
    val (spark, sessionMs) = newSession(cores)
    // the packs hold the columns the operations read
    val (li, openMs) = timed(Engine.table(spark, dataDir, "lineitem")
      .select(RoughCols.map(col): _*))
    val layouts = Map(
      "arrival" -> s"$workDir/packs/li_arrival",
      "zorder" -> s"$workDir/packs/li_zorder")
    val (_, prepMs) = timed {
      // arrival order: range-partition on the row's position in the file
      val arrival = li.withColumn("__pos", monotonically_increasing_id())
      StatsSidecar.writeWithStats(arrival, layouts("arrival"), PackRows,
        RoughCols, clusterBy = Some(col("__pos")))
      val bounds = li.agg(
        min("l_quantity"), max("l_quantity"),
        min("l_extendedprice"), max("l_extendedprice")).head()
      def norm(c: String, lo: Double, hi: Double) =
        ((col(c) - lit(lo)) / lit(math.max(hi - lo, 1e-9)) * lit(65535.0))
          .cast("int")
      val z = graft.functions.ZOrder.interleave16(Seq(
        norm("l_extendedprice", bounds.getDouble(2), bounds.getDouble(3)),
        norm("l_quantity", bounds.getDouble(0), bounds.getDouble(1))))
      StatsSidecar.writeWithStats(li, layouts("zorder"), PackRows, RoughCols,
        clusterBy = Some(z))
    }
    val runner = new StatementRunner(spark)
    layouts.foreach { case (l, p) => runner.attachPacked(s"li_$l", p) }
    def packs(p: String): Int =
      StatsSidecar.readStats(spark, p).select(StatsSidecar.PackCol)
        .distinct().count().toInt
    val ctx = layouts.map { case (l, p) => s"packs_$l" -> packs(p).toString } ++
      Map("pack_rows" -> PackRows.toString)

    val gates = graft.SparkEntry.queries
    val firstRows = mutable.LinkedHashMap.empty[String, (Seq[Row], DataFrame)]
    val ops = plan.map { f =>
      val (kind, layout, c) = (f(0), f(1), f(2))
      val path = layouts.getOrElse(layout, "")
      val label = f.mkString(" ")
      kind match {
        case "gate" =>
          require(gates.contains(c), s"unknown query gate: $c")
          Op("gate", label, () => {
            val df = Trace.span("operators.build")(gates(c)(spark, dataDir))
            val rows = Trace.span("exec.collect")(df.collect().toSeq)
            if (!firstRows.contains(c)) firstRows(c) = (rows, df)
            rows.map(_.toString)
          })
        case "count_between" =>
          val (lo, hi) = (f(3).toDouble, f(4).toDouble)
          Op("selective", label, () => {
            Seq(Trace.span("statssidecar.count_between")(
              StatsSidecar.countBetween(spark, path, c, lo, hi)).toString)
          })
        case "roughly" =>
          Op("selective", label, () => {
            val df = Trace.span("statements.run")(runner.run(
              s"SELECT ROUGHLY COUNT(*) AS n FROM li_$layout " +
                s"WHERE $c BETWEEN ${f(3)} AND ${f(4)}"))
            Trace.span("exec.collect")(df.collect().toSeq).map(_.get(0).toString)
          })
        case "rough_agg" =>
          Op("rough_agg", label, () => {
            val r = Trace.span("statssidecar.rough_agg")(StatsSidecar.roughAgg(
              StatsSidecar.readStats(spark, path), c).collect().head)
            Seq(rowJson(r))
          })
        case "full_scan" =>
          Op("full_scan", label, () => {
            val r = Trace.span("exec.collect")(spark.read.parquet(path).agg(
              count(lit(1)), min(col(c)).cast("double"),
              max(col(c)).cast("double"),
              sum(floor(col(c) * lit(10000.0) + lit(0.5)).cast("long")))
              .collect().head)
            Seq(rowJson(r))
          })
      }
    }
    // Warm-up: a selective count per layout, and every aggregate of the
    // plan once. The aggregates' query text repeats from round to round,
    // so in the window they run on code Spark has already generated;
    // warming them here keeps the first layout of a pair from paying for
    // the second.
    val (_, warmMs) = timed {
      layouts.values.foreach(p =>
        StatsSidecar.countBetween(spark, p, "l_quantity", 10.0, 20.0))
      ops.filter(o => o.cls == "rough_agg" || o.cls == "full_scan")
        .groupBy(_.label).values.foreach(_.head.run())
    }
    // Pack classes of every distinct selective predicate, counted once
    // per run so that they repeat exactly for a seed.
    def countPacks(): Unit = {
      plan.filter(f => f(0) == "count_between" || f(0) == "roughly")
        .map(f => (f(1), f(2), f(3).toDouble, f(4).toDouble)).distinct
        .foreach { case (layout, c, lo, hi) =>
          val states = Trace.span("statssidecar.rough_check")(
            StatsSidecar.roughCheck(StatsSidecar.readStats(spark, layouts(layout)),
              c, lo, hi).groupBy("state").count().collect())
          Trace.add("statssidecar.rough_checks", 1)
          states.foreach(r => Trace.add(
            s"statssidecar.li_$layout.packs_${r.getString(0).toLowerCase}",
            r.getLong(1).toDouble))
        }
    }
    val finish = () => {
      val oracles = graft.SparkEntry.oracleSql
      Files.write(Paths.get(s"$workDir/oracle.json"), firstRows.keys
        .flatMap(n => oracles.get(n).map(q => s"${esc(n)}:${esc(q)}"))
        .mkString("{", ",", "}").getBytes(UTF_8))
      firstRows.foreach { case (n, (rows, df)) =>
        spark.createDataFrame(rows.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$workDir/verify/$n")
      }
      if (Trace.enabled) countPacks()
    }
    Setup(spark, ops, roundLen, cyclic = true, finish, sessionMs, openMs,
      prepMs, warmMs, ctx)
  }

  // ---- htap_statements ---------------------------------------------------

  /** A MySQL statement stream through one StatementRunner over attached
    * DeltaStores; `flush` lines call the store directly, the way a
    * background merge would. (A direct `compact()` would delete delta
    * files under the runner's registered view; compaction goes through
    * `OPTIMIZE TABLE`, which refreshes it.) */
  private def htapSetup(cores: Int, roundLen: Int, plan: IndexedSeq[Array[String]],
                        dataDir: String, workDir: String)(
      spark0: Option[SparkSession]): Setup = {
    spark0.foreach(_.stop())
    val (spark, sessionMs) = newSession(cores)
    val root = s"$workDir/stores"
    val (orders, openMs) = timed(Engine.table(spark, dataDir, "orders"))
    var runner: StatementRunner = null
    var store: DeltaStore = null
    val (_, prepMs) = timed {
      deleteTree(Paths.get(root))
      store = new DeltaStore(spark, s"$root/ord")
      store.writeBase(orders)
      StatsSidecar.writeWithStats(
        orders.select("o_orderkey", "o_totalprice"), s"$root/ord_packed",
        16384, Seq("o_totalprice"), clusterBy = Some(col("o_totalprice")))
      runner = new StatementRunner(spark)
      runner.attach("ord", store)
      runner.attachPacked("ord_packed", s"$root/ord_packed")
    }
    val (_, warmMs) = timed {
      runner.run("SELECT o_custkey FROM ord WHERE o_orderkey = 1").collect()
    }
    val epoch0 = store.mutationEpoch
    val created = mutable.ArrayBuffer.empty[String]
    val CreateRe = """(?i)CREATE\s+TABLE\s+(\w+)""".r.unanchored
    val ops = plan.map { f =>
      val (cls, text) = (f(0), f(1))
      cls match {
        case "flush" => Op(cls, text, () => {
          Trace.span("deltastore.flush")(store.flush()); Nil })
        case _ => Op(cls, text, () => {
          val df = Trace.span("statements.run")(runner.run(text))
          text match {
            case CreateRe(t) if cls == "ddl" => created += t
            case _ => ()
          }
          if (cls.startsWith("select_"))
            Trace.span("exec.collect")(df.collect().toSeq).map(rowJson)
          else Nil
        })
      }
    }
    val finish = () => {
      // Layer calls the runner makes inside `run`, timed here on their own
      // so that they add nothing to the traced window: the dialect rewrite
      // of every statement text of one round, and standalone store reads.
      if (Trace.enabled) {
        plan.take(roundLen).filter(_(0) != "flush").foreach(f =>
          Trace.span("statements.dialect")(MySqlDialect.rewrite(f(1))))
        (1 to 5).foreach(_ => Trace.span("deltastore.read")(store.read()))
      }
      Trace.add("deltastore.delta_rows", store.deltaCount().toDouble)
      Trace.add("deltastore.delta_files", store.deltaFileCount().toDouble)
      Trace.add("deltastore.epoch_bumps", (store.mutationEpoch - epoch0).toDouble)
      // final contents of every table the stream created or changed
      ("ord" +: created.toSeq).foreach { t =>
        runner.run(s"SELECT * FROM $t").coalesce(1)
          .write.mode("overwrite").parquet(s"$workDir/final/$t")
      }
    }
    Setup(spark, ops, roundLen, cyclic = false, finish, sessionMs, openMs, prepMs,
      warmMs, Map.empty)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.delete(x))

  // ---- the closed loop ---------------------------------------------------

  /** Records and wall time of one measured window; `ranOut` is set when
    * a plan that does not start over ended before the window's deadline. */
  final case class Window(recs: Seq[Rec], wallMs: Double, next: Int, ranOut: Boolean)

  /** Run the plan's ops in order from `start`, one at a time, until
    * `seconds` have passed and a round is complete. */
  def loop(spark: SparkSession, setup: Setup, start: Int, seconds: Double,
           firstId: Int, rowsOut: java.io.Writer): Window = {
    val ops = setup.ops
    val recs = mutable.ArrayBuffer.empty[Rec]
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = start
    var done = ops.isEmpty || (!setup.cyclic && start >= ops.size)
    while (!done) {
      val op = ops(i % ops.size)
      val id = firstId + recs.size
      sc.setLocalProperty("perfbench.op", id.toString)
      sc.setLocalProperty("perfbench.cls", op.cls)
      Trace.currentOp = id
      val s0 = System.nanoTime()
      var rows: Seq[String] = Nil
      var err: String = null
      Trace.span("op." + op.cls) {
        try rows = op.run()
        catch {
          case e: Throwable =>
            err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        }
      }
      val t = ms(s0)
      sc.setLocalProperty("perfbench.op", null)
      recs += Rec(id, op.cls, op.label, t, err == null, err, rows.size)
      if (err != null)
        System.err.println(s"[perfbench] op $id ${op.label} failed: $err")
      rowsOut.write(
        s"""{"i":$id,"rows":${rows.map(esc).mkString("[", ",", "]")}}""" + "\n")
      i += 1
      done = (System.nanoTime() >= deadline && (i - start) % setup.roundLen == 0) ||
        (!setup.cyclic && i >= ops.size)
    }
    Window(recs.toSeq, ms(t0), i, System.nanoTime() < deadline)
  }

  private def recJson(r: Rec): String =
    s"""{"i":${r.i},"cls":${esc(r.cls)},"label":${esc(r.label)},"ms":${r.ms},""" +
      s""""ok":${r.ok},"rows":${r.rows},"err":${if (r.err == null) "null" else esc(r.err)}}"""

  def main(args: Array[String]): Unit = {
    val Array(workload, planPath, dataDir, workDir, secondsS, traceS, coresS,
      repsS, roundS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val reps = repsS.toInt
    val round = roundS.toInt
    val plan = planLines(planPath)
    Files.createDirectories(Paths.get(workDir))

    val setupFn: Option[SparkSession] => Setup = workload match {
      case "rough_scan" => roughSetup(cores, round, plan, dataDir, workDir)
      case "htap_statements" => htapSetup(cores, round, plan, dataDir, workDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up is repeated and each repetition timed; the last one serves
    // the measured loop.
    val setups = mutable.ArrayBuffer.empty[(Setup, Double)]
    var last: Option[SparkSession] = None
    (1 to reps).foreach { _ =>
      val (s, t) = timed(setupFn(last))
      setups += ((s, t))
      last = Some(s.spark)
    }
    val setup = setups.last._1
    val spark = setup.spark

    val rowsOut = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      Files.newOutputStream(Paths.get(s"$workDir/rows.jsonl")), UTF_8))

    // Warm-up round: the plan's first round, untimed, so that the first
    // measured round does not pay for JIT compilation and code generation
    // (on htap it took about a third longer than the next). Its operations
    // are checked like the others. Every window goes on from where the
    // last one stopped: an operation run again with the same literals would
    // find its code generated and run faster.
    val warm = loop(spark, setup, 0, 0.0, 0, rowsOut)
    // Untraced window: the end-to-end numbers.
    val untraced = loop(spark, setup, warm.next, seconds, warm.recs.size, rowsOut)
    val rss = peakRssMb()

    // Traced run: the loop goes on with spans and listeners on, then
    // without, for the tracing overhead. The two extra windows take half
    // the time each.
    val none = Window(Nil, 0.0, untraced.next, ranOut = false)
    val firstId = warm.recs.size + untraced.recs.size
    var traced = none
    var after = none
    if (trace) {
      val monoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
      spark.sparkContext.addSparkListener(new ExecListener(monoOffset))
      spark.listenerManager.register(new PlanListener)
      Trace.context = spark.sparkContext
      Trace.enabled = true
      Trace.listening = true
      traced = loop(spark, setup, untraced.next, seconds / 2, firstId, rowsOut)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      Trace.listening = false
      Trace.enabled = false
      after = loop(spark, setup, traced.next, seconds / 2,
        firstId + traced.recs.size, rowsOut)
      Trace.enabled = true
    }
    Trace.currentOp = -1 // spans of the finishing step belong to no operation
    setup.finish()
    Trace.enabled = false
    rowsOut.close()

    val spansOut = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      Files.newOutputStream(Paths.get(s"$workDir/spans.jsonl")), UTF_8))
    Trace.allSpans.foreach { s =>
      spansOut.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${esc(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      spansOut.write("\n")
    }
    spansOut.close()

    val setupJson = setups.map { case (s, t) =>
      s"""{"total_ms":$t,"session_ms":${s.sessionMs},"table_open_ms":${s.tableOpenMs},""" +
        s""""prep_ms":${s.prepMs},"warmup_ms":${s.warmupMs}}"""
    }.mkString("[", ",", "]")
    val ctx = (setup.context ++ Map(
      "cores" -> cores.toString,
      "spark_default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> spark.version))
      .map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("{", ",", "}")
    val counters = Trace.counters.synchronized(Trace.counters.toList)
      .map { case (k, v) => s"${esc(k)}:$v" }.mkString("{", ",", "}")
    def recsJson(w: Window) = w.recs.map(recJson).mkString("[", ",", "]")
    val ranOut = Seq("warm-up" -> warm, "untraced" -> untraced, "traced" -> traced,
      "after" -> after)
      .collect { case (n, w) if w.ranOut => esc(n) }.mkString("[", ",", "]")
    val json =
      s"""{"setup":$setupJson,"wall_ms":${untraced.wallMs},"peak_rss_mb":$rss,""" +
        s""""warm_ops":${recsJson(warm)},"ops":${recsJson(untraced)},""" +
        s""""traced_wall_ms":${traced.wallMs},"traced_ops":${recsJson(traced)},""" +
        s""""after_ops":${recsJson(after)},"ran_out":$ranOut,""" +
        s""""counters":$counters,"context":$ctx}"""
    Files.write(Paths.get(s"$workDir/result.json"), json.getBytes(UTF_8))
    spark.stop()
  }
}
