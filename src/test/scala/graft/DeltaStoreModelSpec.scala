package graft

import graft.sources.DeltaStore
import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based test of [[DeltaStore]]: random operation sequences run
  * against a store and against an in-memory multiset model, and after
  * every step `read()` must equal the model. This covers the reader
  * cache (base and delta-part DataFrames reused across reads, the base
  * entry seeded with the schema just written) and the mutation epoch,
  * which must strictly increase on every step that changes what
  * `read()` returns. A frame read before a step must still return the
  * rows from before it: no step but a rollback deletes files a reader
  * may hold. */
class DeltaStoreModelSpec extends AnyFunSuite {
  private def spark = TestSession.spark

  private type Rows = List[(Int, Option[String])]
  private sealed trait Op
  private case class AppendLocal(rows: Rows) extends Op
  private case class AppendFile(rows: Rows) extends Op
  private case object Flush extends Op
  private case object Compact extends Op
  private case object Truncate extends Op
  private case object AlterAdd extends Op
  private case class RewriteFilter(minKey: Int) extends Op
  private case class Txn(ops: List[Op], commit: Boolean) extends Op

  private val rowsGen: Gen[Rows] = Gen.choose(0, 4).flatMap(Gen.listOfN(_,
    Gen.zip(Gen.choose(-20, 20),
      Gen.option(Gen.oneOf("a", "b", "ç", "")))))
  private val simpleOp: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(AppendLocal(_)), 3 -> rowsGen.map(AppendFile(_)),
    2 -> Gen.const(Flush), 2 -> Gen.const(Compact),
    1 -> Gen.const(Truncate), 1 -> Gen.const(AlterAdd),
    2 -> Gen.choose(-20, 20).map(RewriteFilter(_)))
  private val opGen: Gen[Op] = Gen.frequency(
    5 -> simpleOp,
    1 -> Gen.zip(Gen.choose(1, 3).flatMap(Gen.listOfN(_, simpleOp)),
      Gen.oneOf(true, false)).map { case (ops, c) => Txn(ops, c) })
  private val caseGen: Gen[(Rows, List[Op])] =
    Gen.zip(rowsGen, Gen.choose(1, 8).flatMap(Gen.listOfN(_, opGen)))

  /** One run: `extra` added columns c1..cN, each holding `k + i` in
    * appended rows and its ALTER default (100 + i) in rows that
    * predate it. */
  private class Run(dir: String, init: Rows) {
    var extra = 0
    val store = new DeltaStore(spark, s"$dir/store")
    private var files = 0

    private def cols = Seq("k", "v") ++ (1 to extra).map(i => s"c$i")
    private def frame(rows: Rows) = {
      val schema = StructType(Seq(StructField("k", IntegerType,
        metadata = new MetadataBuilder().putString("comment", "key").build()),
        StructField("v", StringType)) ++
        (1 to extra).map(i => StructField(s"c$i", IntegerType)))
      val data = rows.map { case (k, v) =>
        Row.fromSeq(Seq(k, v.orNull) ++ (1 to extra).map(k + _)) }
      (spark.createDataFrame(
        java.util.Arrays.asList(data: _*), schema), data.map(_.toSeq))
    }
    var model: Vector[Seq[Any]] = {
      val (df, data) = frame(init)
      store.writeBase(df)
      data.toVector
    }
    private var last = observed()
    assert(last === expected, "read() diverged from the model after writeBase")

    /** `df` (by default `read()`) as its column names and a sorted
      * multiset of rows, each rendered in column-name order. */
    def observed(df: DataFrame = store.read()): (Seq[String], Seq[String]) = {
      val names = df.columns.toSeq.sorted
      (names, df.select(names.map(df(_)): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted)
    }
    def expected: (Seq[String], Seq[String]) = {
      val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
      (cols.sorted, model.map(r => order.map(r(_)).mkString("|")).sorted)
    }

    /** Apply one primitive step to store and model, then check. */
    def step(what: String, holdsFiles: Boolean = true)(storeOp: => Unit)(
        modelOp: => Unit): Unit = {
      val before = last
      val e0 = store.mutationEpoch
      val prior = store.read()
      storeOp
      modelOp
      val after = observed()
      last = after
      assert(after === expected, s"read() diverged from the model after $what")
      if (holdsFiles)
        assert(observed(prior) === before,
          s"a frame read before $what changed or lost its files")
      assert(store.read().schema === spark.read.parquet(store.basePath).schema,
        s"read() schema is not the base's inferred schema after $what")
      assert(store.mutationEpoch >= e0, s"epoch went back after $what")
      if (after != before)
        assert(store.mutationEpoch > e0,
          s"read() changed but mutationEpoch did not after $what")
    }

    def apply(op: Op): Unit = op match {
      case AppendLocal(rows) =>
        val (df, data) = frame(rows)
        step(s"buffered append of ${rows.size}")(store.append(df))(
          model ++= data)
      case AppendFile(rows) =>
        val (df, data) = frame(rows)
        files += 1
        val path = s"$dir/src-$files"
        df.coalesce(1).write.parquet(path)
        step(s"spilled append of ${rows.size}")(
          store.append(spark.read.parquet(path)))(model ++= data)
      case Flush => step("flush")(store.flush())(())
      case Compact => step("compact")(store.compact())(())
      case Truncate =>
        step("truncate")(store.truncate())({ model = Vector.empty })
      case AlterAdd =>
        val i = extra + 1
        step(s"ALTER ADD c$i")(store.alterAddColumn(s"c$i", lit(100 + i)))(
          { extra = i; model = model.map(_ :+ (100 + i)) })
      case RewriteFilter(minKey) =>
        step(s"rewriteWith k > $minKey")(
          store.rewriteWith(_.filter(s"k > $minKey")))(
          { model = model.filter(_.head.asInstanceOf[Int] > minKey) })
      case Txn(ops, commit) =>
        val (savedModel, savedExtra) = (model, extra)
        step("beginTxn")(store.beginTxn())(())
        ops.foreach(apply)
        if (commit) step("commitTxn")(store.commitTxn())(())
        else step("rollbackTxn", holdsFiles = false)(store.rollbackTxn())(
          { model = savedModel; extra = savedExtra })
    }
  }

  test("random operation sequences: read() equals an in-memory model after " +
      "every step, and mutationEpoch rises whenever read() changes") {
    val t0 = System.nanoTime()
    val sequences = 20
    var steps = 0
    (0 until sequences).foreach { i =>
      caseGen(Gen.Parameters.default, Seed(7100L + i)).foreach {
        case (init, ops) =>
          val dir = java.nio.file.Files.createTempDirectory("graft_dsmodel")
          val run = new Run(dir.toString, init)
          withClue(s"sequence $i, init ${init.size} rows, ops $ops: ") {
            ops.foreach(run.apply)
          }
          steps += ops.size
      }
    }
    println(f"[deltastore-model] $sequences sequences, $steps ops in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("a frame read before compact() or truncate() still returns its rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsgrace").toString
    val run = new Run(dir, List((1, Some("a")), (2, None)))
    run(AppendFile(List((3, Some("b")))))
    run(AppendLocal(List((4, Some("ç")))))
    val df = run.store.read()
    val rows = df.collect().toSeq
    run(Compact)
    assert(df.collect().toSeq === rows)
    run(AppendFile(List((5, Some("")))))
    val df2 = run.store.read()
    val rows2 = df2.collect().toSeq
    run(Truncate)
    assert(df2.collect().toSeq === rows2)
    assert(df.collect().toSeq === rows)
  }

  test("a store reopened after a rollback reads what the live store reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsreopen").toString
    val run = new Run(dir, List((1, Some("a")), (2, None), (3, Some("b"))))
    run(AppendFile(List((4, Some("c")))))
    run(Txn(List(AppendFile(List((5, None))), Compact, AlterAdd,
      AppendFile(List((6, Some("d")))), Truncate), commit = false))
    val reopened = new DeltaStore(spark, s"$dir/store")
    assert(run.observed(reopened.read()) === run.observed())
    assert(run.observed() === run.expected)
  }

  test("rewriteWith over a buffered or file-backed delta is one base " +
      "rewrite") {
    val deltas = Seq(
      "buffered" -> List(AppendLocal(List((6, Some("d")), (7, Some(""))))),
      "file-backed" -> List(AppendFile(List((4, Some("c")), (5, None)))),
      "both" -> List(AppendFile(List((4, Some("c")))),
        AppendLocal(List((6, None)))))
    deltas.foreach { case (what, appends) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_dsonce")
      val run = new Run(dir.toString, List((1, Some("a")), (2, None)))
      def version = run.store.basePath.split("base-").last.toLong
      appends.foreach(run.apply)
      val v0 = version
      run(RewriteFilter(1))
      assert(version === v0 + 1, s"$what delta: base versions written")
      assert(run.store.deltaCount() === 0, s"$what delta left rows")
    }
  }

  test("read() after a base rewrite runs no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dsnojob").toString
    val store = new DeltaStore(spark, s"$dir/store")
    val df = spark.range(5).selectExpr("CAST(id AS INT) AS k")
    def readsWithNoJob(what: String)(op: => Unit): Unit = {
      op
      ListenerBridge.drain(sc)
      jobs.set(0)
      store.read()
      ListenerBridge.drain(sc)
      assert(jobs.get === 0, s"read() after $what ran ${jobs.get} job(s)")
    }
    sc.addSparkListener(listener)
    try {
      readsWithNoJob("writeBase")(store.writeBase(df))
      readsWithNoJob("compact")({ store.append(df); store.compact() })
      readsWithNoJob("rewriteWith")(store.rewriteWith(_.filter("k > 1")))
      readsWithNoJob("ALTER ADD")(store.alterAddColumn("c", lit(1)))
      readsWithNoJob("truncate")(store.truncate())
    } finally sc.removeSparkListener(listener)
  }
}
