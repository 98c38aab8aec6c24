package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The callers of [[graft.sources.Staging.stage]] outside a statement
  * leave no staging directory behind: the BPE training loop deletes
  * each step's previous vocabulary, and the drivers that run a query
  * built over staged frames (packing, auto-increment) delete its
  * directories once it has run. */
class StagingSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  /** The staging directories in `java.io.tmpdir` whose names start
    * with `prefix`. */
  private def stagings(prefix: String = "graft-stage-"): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSeq.flatten.filter(_.startsWith(prefix)).toSet

  private def leavesNone(what: String)(body: => Unit): Unit = {
    val before = stagings()
    body
    val left = stagings() -- before
    assert(left.isEmpty, s"$what left $left")
  }

  test("BPE training keeps one vocabulary staged per step and leaves " +
      "none") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abab abab cdcd efef"), (2L, "cdcd ghgh abcd"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = stagings("graft-stage-bpe")
    // the most vocabularies staged at once, sampled as each job starts
    val most = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        most.accumulateAndGet(
          (stagings("graft-stage-bpe") -- before).size, math.max)
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try leavesNone("bpeTrain") {
      assert(operators.Lexicon.bpeTrain(docs, merges = 5).count() === 5)
    } finally {
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(most.get <= 2,
      s"${most.get} BPE vocabularies were staged at once over 5 steps")
  }

  test("Verify and Bench delete the directories that packing and " +
      "auto-increment stage") {
    val out = Files.createTempDirectory("graft_stagingspec").toString
    Seq("q_seq_pack", "q_pipeline_train_ready", "q_dml_auto_increment")
      .foreach { name =>
        leavesNone(s"Verify.dump of $name")(Verify.dump(spark,
          SparkEntry.queries(name), sf, s"$out/$name"))
        assert(spark.read.parquet(s"$out/$name").count() > 0, name)
      }
    val rec = new Bench.Recorder(spark)
    try Seq("q_seq_pack", "q_pipeline_train_ready").foreach { name =>
      leavesNone(s"Bench.runOne of $name")(
        assert(Bench.runOne(rec, name, sf).seconds > 0, name))
    } finally rec.close()
  }
}
