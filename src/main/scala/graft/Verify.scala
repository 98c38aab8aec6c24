package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes two):
    // comma-separated query names to dump instead of the full set
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(s"local[$cpus]", cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    attempted.foreach { case (name, fn) =>
      try dump(spark, fn, sfDir, s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name -> s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Shrinkage guard (r12 advice): an erroring gate vanishes from the
    // driver's correctness JSON, so the artifact alone can read as fully
    // green while gates die. Record the declared count and every failure
    // beside the dumps, where a round-over-round diff can't miss it.
    val summary =
      s"""{"declared_gates":${SparkEntry.queries.size},"dumped":${attempted.size - failed.size},"failed":{${
        failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(",")}}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} gate(s) FAILED: " +
        failed.map(_._1).mkString(", "))
    spark.stop()
  }

  /** Write one query's result to `out` as one parquet file. The query
    * runs to completion inside a staging scope, so the directories staged
    * while building it (packing, auto-increment) are deleted after it. */
  def dump(spark: SparkSession, query: (SparkSession, String) => DataFrame,
           sfDir: String, out: String): Unit =
    graft.sources.Staging.scoped(query(spark, sfDir).coalesce(1).write
      .mode("overwrite").parquet(out))
}
