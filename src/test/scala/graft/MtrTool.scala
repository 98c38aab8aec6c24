package graft

import scala.util.{Failure, Success}
import sources.MtrParity

/** Developer entry point for the reference MTR corpus (test scope, not
  * shipped). Both modes run through [[sources.MtrParity]], the harness
  * MtrReplaySpec and MtrValueSpec pin, eight files at a time; with no
  * files named they cover every `.test` file in the corpus.
  *
  *   sbt "Test/runMain graft.MtrTool replay [--all] [file…]"
  *     success/error parity, stopping each file at its first failure
  *     unless `--all`
  *   sbt "Test/runMain graft.MtrTool sweep [file…]"
  *     value parity against the golden `.result` blocks */
object MtrTool {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("replay", "sweep")).getOrElse {
      System.err.println(
        "usage: MtrTool replay [--all] [file...] | sweep [file...]")
      sys.exit(2)
    }
    val all = args.contains("--all")
    MtrParity.requireCorpus()
    val named = args.drop(1).filterNot(_ == "--all").toSeq
    val files = if (named.nonEmpty) named
      else new java.io.File(MtrParity.MtrDir).listFiles().map(_.getName)
        .filter(_.endsWith(".test")).sorted.toSeq
    val spark = TestSession.spark
    val timeout = scala.concurrent.duration.Duration(120, "min")

    if (mode == "replay") {
      val results = MtrParity.overFiles(spark, files, 8, timeout)(
        MtrParity.replay(_, _, stopAtFirst = !all))
      results.foreach {
        case (file, Success(r)) =>
          println(s"REPLAY $file ran=${r.ran} skipped=${r.skipped} " +
            s"failures=${r.failures.length}")
          r.failures.foreach(f => println("  " + f.replace('\n', ' ')))
        case (file, Failure(e)) => println(s"REPLAY $file ABORTED $e")
      }
      val clean = results.count(_._2.toOption.exists(_.failures.isEmpty))
      println(s"REPLAY TOTAL: ${files.length} tried, $clean clean")
    } else {
      val results = MtrParity.overFiles(spark, files, 8, timeout)(
          MtrParity.sweep).flatMap {
        case (file, Success(res)) =>
          println(s"SWEEP $file compared=${res.compared} " +
            s"mismatch=${res.mismatches.length} " +
            s"fixture_absent=${res.skippedFixture} " +
            s"golden_skew=${res.skippedSkew}")
          res.mismatches.take(3).foreach { m =>
            println(s"  stmt: ${m.stmt}")
            println(s"    exp: ${m.expected.mkString(" | ").take(200)}")
            println(s"    act: ${m.actual.mkString(" | ").take(200)}")
          }
          Some(res)
        case (file, Failure(e)) => println(s"SWEEP $file ABORTED $e"); None
      }
      println(s"SWEEP TOTAL compared=${results.map(_.compared).sum} " +
        s"mismatches=${results.map(_.mismatches.length).sum} " +
        s"fixture_absent=${results.map(_.skippedFixture).sum} " +
        s"golden_skew=${results.map(_.skippedSkew).sum}")
    }
    spark.stop()
  }
}
