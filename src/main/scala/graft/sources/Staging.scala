package graft.sources

import org.apache.spark.sql.DataFrame

/** Reliable lineage cut: stage a frame to parquet and read it back.
  *
  * The hardened replacement for `localCheckpoint(eager = true)` at the
  * three driver-state sites (packing prefix sums, the BPE training
  * loop, auto-increment assignment). `localCheckpoint` pins the frame's
  * blocks in EXECUTOR block storage: lose an executor and the blocks
  * are gone — the job fails outright (checkpointed lineage is
  * truncated, there is nothing to recompute from). Worse for the
  * partition-id-keyed algorithms: even a from-scratch rerun of the
  * lineage is not equivalent, because `repartitionByRange` re-SAMPLES
  * its range boundaries per execution, so a recomputed frame could map
  * rows to different partition ids than the offset table collected from
  * the first materialization — a silent-corruption hazard, not just an
  * availability one.
  *
  * Parquet staging has neither failure mode: the files live on
  * (shared/lake) storage, survive any executor loss, and every re-read
  * observes the identical bytes — the same discipline the offline
  * artifact stores ([[ArtifactStore]]) already follow. Cost is one
  * write+read of the staged frame, which at these call sites is
  * metadata-sized relative to the corpus (per-doc token counts; the BPE
  * vocabulary). Staging dirs land in java.io.tmpdir here; a cluster
  * deployment points `spark.local.dir`-equivalent staging at the lake.
  */
object Staging {

  /** Write `df` to a fresh staging dir and return the re-read frame —
    * semantically `df` with lineage cut and contents frozen.
    *
    * `ordered = true` (the statement tier) preserves the frame's
    * logical ROW ORDER across the round-trip: Spark re-reads a
    * multi-file dir largest-file-first, which rotated a staged
    * 4-partition batch (insert_into_select.test read 3750 first). The
    * order stamp is a monotonic id written with the data and sorted out
    * on the way back — a shuffle, so it stays off by default for
    * corpus-scale staging where order carries nothing. */
  /** [[stage]] with `ordered = true` — the statement tier's default
    * (every store write there rides the scan-order contract). Its
    * callers there freeze a row set that later work would otherwise
    * re-read: a SELECT-sourced insert whose result exceeds
    * [[DeltaStore.BufferCap]] rows (a smaller one is collected
    * instead), `INSERT … SELECT … ON DUPLICATE KEY UPDATE`, the rows a
    * multi-table DELETE matched, and the rows of a DELETE on a table
    * with triggers, marked before its BEFORE triggers run. */
  def stageOrdered(df: DataFrame, tag: String): DataFrame =
    stage(df, tag, ordered = true)

  /** The staging directories written in the innermost [[scoped]] call
    * on this thread. */
  private val scopes =
    ThreadLocal.withInitial[List[scala.collection.mutable.Buffer[String]]](
      () => Nil)

  /** Run `body`, then delete the staging directories it wrote: for a
    * caller that has consumed its staged frames when it returns — one
    * SQL statement, or a driver that runs a query built over staged
    * frames (packing, auto-increment) to completion. Nested scopes
    * delete only their own. */
  def scoped[T](body: => T): T = {
    val dirs = scala.collection.mutable.Buffer[String]()
    scopes.set(dirs :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      dirs.foreach(d => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(d)))
    }
  }

  def stage(df: DataFrame, tag: String,
            ordered: Boolean = false): DataFrame =
    staged(df, tag, ordered).frame

  /** A staged frame and the directory that holds it. */
  final case class Staged(frame: DataFrame, dir: String) {
    /** Delete the directory, once nothing reads `frame` any more (a
      * loop that stages each step from the previous one). */
    def delete(): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** [[stage]], keeping the directory: it is deleted by [[Staged.delete]]
    * or when the innermost [[scoped]] call returns. Outside a scope
    * nothing deletes it, so a caller that returns a staged frame leaves
    * it to the caller that consumes the frame to scope. */
  def staged(df: DataFrame, tag: String,
             ordered: Boolean = false): Staged = {
    val top = java.nio.file.Files
      .createTempDirectory(s"graft-stage-$tag").toString
    scopes.get.headOption.foreach(_ += top)
    val dir = top + "/data"
    Staged(if (ordered) {
      import org.apache.spark.sql.functions._
      df.withColumn("__stage_order", monotonically_increasing_id())
        .write.parquet(dir)
      df.sparkSession.read.parquet(dir)
        .orderBy(col("__stage_order")).drop("__stage_order")
    } else {
      df.write.parquet(dir)
      df.sparkSession.read.parquet(dir)
    }, top)
  }
}
