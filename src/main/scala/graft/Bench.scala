package graft

import scala.collection.mutable

import org.apache.spark.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main (driver contract): run the headline queries against
  * SPARK_GRAFT_SF_DIR, print ONE summary JSON line, and write the
  * per-query record to SPARK_GRAFT_BENCH_DETAIL (`./BENCH_DETAIL.json`
  * when unset): median and min seconds, classes compiled per pass, and
  * each query's layer split ([[SplitKeys]], median over the passes).
  * Queries are forced end-to-end with a noop sink (full plan execution,
  * no driver materialization — `count()` would let Catalyst shortcut
  * column reads). */
object Bench {

  /** Headline set: the TPC-H-shaped core + one representative per
    * extension family, mirroring BASELINE.md's query mix. Q1 and the Q9
    * shape are included although the reference's published run EXCLUDED
    * them as timeouts (BASELINE.md: Q1, Q9, Q16, Q19, Q22 exceeded the
    * limit at SF100) — they complete here. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",      // scan-heavy agg (Q1; reference: timeout)
    "q09_profit_shape",         // 5-way join profit (Q9 shape; reference: timeout)
    "q03_shipping_priority_topk", // 3-way join + topk (Q3)
    "q04_order_priority",       // EXISTS semi-join (Q4)
    "q05_local_supplier_volume", // 6-way star join (Q5)
    "q06_forecast_revenue",     // pure filter-agg (Q6)
    "q07_volume_shipping",      // nation-pair trade (Q7)
    "q08_market_share",         // 8-way join + ratio agg (Q8)
    "q10_returned_items",       // join + topk by revenue (Q10)
    "q13_customer_distribution", // outer join + double agg (Q13)
    "q14_promo_revenue",        // conditional ratio agg (Q14)
    "q15_top_supplier",         // agg + scalar-max reuse (Q15)
    "q18_large_volume_customer", // big-agg semi filter (Q18)
    "q19_ortree_revenue",       // or-tree join (Q19)
    "q22_idle_customers",       // anti join + scalar avg (Q22)
    "q02_min_cost_supplier_shape", // correlated min-cost subquery (Q2 shape)
    "q11_important_stock_shape", // fraction-of-total HAVING (Q11 shape)
    "q12_mode_priority_shape",  // conditional counts by category (Q12 shape)
    "q16_supplier_cnt_shape",   // distinct count + NOT-IN exclusion (Q16 shape)
    "q20_qualified_suppliers_shape", // nested IN-over-aggregate (Q20 shape)
    "q21_waiting_suppliers_shape", // EXISTS + NOT-EXISTS self-join (Q21 shape; reference: 567s, 2nd-worst)
    "q17_small_qty_revenue",    // correlated per-part avg (Q17)
    "q_subq_correlated",        // decorrelated Q17 shape
    "q_agg_distinct",           // distinct aggregation
    "q_agg_having",             // shuffled hash agg
    "q_window_rank",            // window functions
    "q_window_frames",          // sliding/range frame family
    "q_union_distinct",         // set op + dedup
    "q_events_hourly",          // time-bucketed agg
    "q_events_sessions",        // lag/session analytics
    "q_events_gapfill",         // resample + forward-fill (LOCF)
    "q_events_funnel",          // ordered conversion funnel
    "q_interval_overlap",       // interval-x-interval banded overlap join
    "q_json_funcs",             // JSON function tier
    "q_text_quality",           // text scoring scan
    "q_text_tokens",            // BPE-ish regex token count
    "q_dedup_exact",            // hash dedup
    "q_dedup_minhash",          // LSH near-dup
    "q_sim_bruteforce_topk",    // ANN baseline
    "q_sim_ivf_topk",           // ANN probe path
    "q_sim_lsh_topk",           // ANN multiprobe LSH bucket path
    "q_profile_table",          // one-scan column profiler
    "q_events_json",            // JSON extraction
    "q_sample_hashmod",         // deterministic sampling
    "q_dml_upsert",             // batch upsert view
    "q_asof_join",              // as-of join (union-window single shuffle)
    "q_asof_join_salted",       // skew-hardened as-of (time-bucket salt + carry)
    "q_range_join",             // banded interval join
    "q_decontaminate",          // 13-gram benchmark decontamination
    "q_boilerplate",            // repeated-segment strip
    "q_span_dedup",             // C4 keep-first cross-doc span dedup
    "q_seq_pack",               // concat-and-chunk sequence packing
    "q_pipeline_train_ready",   // classifier -> span dedup -> packing
    "q_text_classifier_score",  // hashed linear quality scorer
    "q_tfidf_topk",             // corpus-lexicon TF-IDF
    "q_chunk_docs",             // context-window chunking (RAG splits)
    "q_token_budget_select",    // quality-ranked token-budget selection
    "q_pipeline_mix",           // domain filter -> budget -> split manifest
    "q_pipeline_release",       // decontam -> quality -> dedup -> temp mix
    "q_retrieval_hybrid",       // ANN recall + chunk-level lexical rerank
    "q_dsir_select",            // DSIR importance-weight selection
    "q_bpe_pairs",              // BPE merge-pair counting (vocab-weighted)
    "q_ccnet_buckets",          // CCNet per-lang perplexity terciles
    "q_gopher_rules",           // Gopher quality-rule battery scan
    "q_dedup_winnow",           // MOSS winnowing local-match pairs
    "q_embed_quantize",         // int8 embedding quantization report
    "q_decontaminate_frac",     // graded contamination overlap ratio
    "q_mix_waterfill",          // capacity-capped mix allocation
    "q_sample_temperature",     // power-law mixture sampling
    "q_decontaminate_embed",    // embedding-space decontamination
    "q_sim_pq_topk",            // PQ/ADC shortlist + exact rerank
    "q_sim_ivfpq_topk",         // composed IVF-PQ (partition-pruned ADC)
    "q_hard_negatives",         // contrastive hard-negative band mining
    "q_mview_incremental",      // incremental summary-table maintenance
    "q_corpus_topics",          // topic-cluster composition report
    "q_bpe_train")              // iterative BPE merge training (8 steps)

  /** Everything the listeners heard during one run: Spark jobs, stages
    * and tasks; the union of the jobs' wall intervals (`job_ms`) and the
    * rest of the run's wall time (`driver_self_ms`: building, analysing,
    * optimizing and planning the query, and the driver's work between
    * jobs); `build_ms`, the wall time of the query builder call
    * (`SparkEntry.queries(name)`), which creates and eagerly analyses
    * the query's DataFrames and runs any job they need to open their
    * tables, so it overlaps `job_ms` and `driver_self_ms`; the tracker's
    * analysis, optimization and planning times, summed over the queries
    * the run executed (a DataFrame analysed while the query is built
    * reports to no listener); executor run, CPU and GC time and the
    * input and shuffle bytes, summed over its tasks. */
  val SplitKeys: Seq[String] = Seq("jobs", "stages", "tasks", "job_ms",
    "driver_self_ms", "build_ms", "analysis_ms", "optimization_ms",
    "planning_ms", "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes")

  /** One measured run: seconds (-1 on error), the classes Spark compiled
    * for it (generated code is cached by its source, so a repeated query
    * compiles 0 unless its code changed), and its [[SplitKeys]] split. */
  final case class Run(seconds: Double, compiles: Long,
                       split: Map[String, Double])

  /** The bench's one listener pair, registered on `spark` as a
    * SparkListener and a QueryExecutionListener. [[take]] hands over what
    * they heard since the previous call. */
  final class Recorder(val spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val heard = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val jobStart = mutable.Map.empty[Int, Long]
    private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    private def add(k: String, v: Double): Unit = synchronized { heard(k) += v }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor_run_ms", m.executorRunTime)
        add("executor_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }

    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, s) => add(s"${p}_ms", s.durationMs) }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    take(0)

    /** Waits for the listener bus to deliver every queued event, then
      * returns and clears what was heard; `wallMs` is the run's wall time,
      * split into `job_ms` and `driver_self_ms`. */
    def take(wallMs: Double): Map[String, Double] = {
      ListenerBridge.drain(spark.sparkContext)
      synchronized {
        var jobMs = 0L
        var end = Long.MinValue
        jobSpans.sortBy(_._1).foreach { case (s, e) =>
          jobMs += math.max(0L, e - math.max(s, end))
          end = math.max(end, e)
        }
        val out = SplitKeys.map(k => k -> heard(k)).toMap ++ Map(
          "job_ms" -> jobMs.toDouble,
          "driver_self_ms" -> math.max(0.0, wallMs - jobMs))
        heard.clear(); jobSpans.clear()
        out
      }
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  /** One run of `name`, forced with a noop sink. Only the run is timed,
    * and within it the builder call (`build_ms`): draining the listener
    * bus and counting come after it. */
  def runOne(rec: Recorder, name: String, sfDir: String): Run = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    var buildMs = 0.0
    val ok =
      try {
        // the query's staged frames (packing, auto-increment) are
        // deleted when it has run
        graft.sources.Staging.scoped {
          val query = SparkEntry.queries(name)(rec.spark, sfDir)
          buildMs = (System.nanoTime() - t0) / 1e6
          query.write.mode("overwrite").format("noop").save()
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    Run(if (ok) wallMs / 1e3 else -1.0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
      rec.take(wallMs) + ("build_ms" -> buildMs))
  }

  /** Per-query protocol: run 5×, report the MEDIAN. The reference's
    * published baseline averaged 3 runs (tcph-test-report.md:57 of the
    * reference repo), but an average is one contended run away from a
    * 4-7× outlier on a 32-core-saturating query under co-tenant load
    * (observed: identical code, 1.76 s clean vs 12.29 s contended).
    * The median keeps the baseline's repeated-run spirit — steady-state
    * cost with the one-shot Janino compile amortized by the warm runs —
    * while being robust to up to two contaminated runs out of five. */
  val RunsPerQuery = 5

  /** Samples are INTERLEAVED: one full pass over the headline list per
    * run, [[RunsPerQuery]] passes total — NOT RunsPerQuery back-to-back
    * runs of each query. A co-tenant contention burst spanning a few
    * seconds then lands on DIFFERENT queries in different passes instead
    * of poisoning every sample of whichever query it straddled (the r10
    * signature: brand-new gates benched last showed median/min > 3×
    * while nothing about their plans regressed). The median is the
    * headline; the min is emitted beside it because contention can still
    * contaminate a majority of passes (observed r5: q_dedup_minhash
    * median 5.78 s under driver load vs 1.30 s idle, identical code) — a
    * round where median >> min across the board is machine weather, not
    * a regression, and the artifact should show that by itself. */
  def interleavedSamples(rec: Recorder,
                         sfDir: String): Seq[Map[String, Run]] =
    (1 to RunsPerQuery).map(_ =>
      filteredHeadline.map(n => n -> runOne(rec, n, sfDir)).toMap)

  /** Failures are first-class in the artifact: a benched query that
    * errors must scream from the parsed JSON (`"failed":["name",…]`),
    * not hide as a -1 among 60 numbers. Empty list = clean round.
    * Input: (name, (median, min)) with median < 0 marking an error. */
  def failedJson(results: Seq[(String, (Double, Double))]): String =
    results.collect { case (k, (med, _)) if med < 0 => s""""$k"""" }
      .mkString("[", ",", "]")

  /** Optional regex filter over the headline set
    * (`SPARK_GRAFT_BENCH_FILTER=q\d\d_.*` restricts an sf1 run to the
    * TPC-H gates — the text-pipeline queries have no scaled corpus
    * there). */
  def filteredHeadline: Seq[String] =
    sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(re) => headline.filter(_.matches(re))
      case None => headline
    }

  /** Machine-speed calibration: a fixed CPU-bound loop, single-thread
    * and all-cores, timed in ms. Stamped into the detail artifact so a
    * round-over-round bench drift can be attributed to the HOST (both
    * calibrations move together) vs the CODE (calibrations flat,
    * queries moved) without guessing — the r15 +12% "machine weather"
    * hypothesis had to be re-measured blind. */
  private def calibrate(): (Double, Double) = {
    def spin(): Long = {
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 40000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      x
    }
    spin() // warm
    val t1 = System.nanoTime(); spin()
    val oneT = (System.nanoTime() - t1) / 1e6
    val n = Runtime.getRuntime.availableProcessors()
    val t2 = System.nanoTime()
    val threads = (1 to n).map(_ => new Thread(() => { spin(); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val allT = (System.nanoTime() - t2) / 1e6
    (oneT, allT)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Engine.defaultParallelism.toString).toInt
    val spark = Engine.session(s"local[$cpus]", cpus, "graft-bench")
    // ERROR-only logging for the bench run: WARN-level noise (e.g.
    // WindowExec's single-partition notices on oracle-shaped bounded
    // frames) flooded the driver's 2000-char stdout tail in r14 and
    // nearly displaced the summary JSON line the driver parses.
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder(spark)
    // JVM/codegen warmup on the smallest query so per-query numbers
    // measure the plan, not classloading.
    runOne(rec, "q06_forecast_revenue", sfDir)

    // Calibration BRACKETS the query loop (r16 stamped one pair after
    // the loop; a load spike mid-run was averaged in invisibly) — a
    // pre/post divergence localizes contention to the run itself.
    val (calPre1, calPreN) = calibrate()
    val samples = interleavedSamples(rec, sfDir)
    val results: Seq[(String, (Double, Double))] = filteredHeadline.map { n =>
      val ts = samples.map(_(n).seconds)
      n -> (if (ts.exists(_ < 0)) (-1.0, -1.0)
            else (ts.sorted.apply(RunsPerQuery / 2), ts.min))
    }
    // Millisecond precision: 9-digit fractions made the r6 line overflow
    // the driver's output-tail capture window (BENCH_r06 parsed:null).
    def ms(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, (med, _)) => s""""$k":${ms(med)}""" }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, mn)) => s""""$k":${ms(mn)}""" }
      .mkString("{", ",", "}")
    // classes compiled per query in each pass, in pass order
    val compiles = filteredHeadline.map(n =>
      samples.map(_(n).compiles).mkString(s""""$n":[""", ",", "]"))
      .mkString("{", ",", "}")
    // each split counter's median over the passes, per query
    def num(v: Double): String = if (v == math.rint(v)) v.toLong.toString else ms(v)
    val split = filteredHeadline.map { n =>
      SplitKeys.map { k =>
        s""""$k":${num(samples.map(_(n).split(k)).sorted.apply(RunsPerQuery / 2))}"""
      }.mkString(s""""$n":{""", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val totalMin = results.map(_._2._2).filter(_ >= 0).sum
    val failed = failedJson(results)
    // post-loop pair keeps the r16 field semantics (cal_1t_ms /
    // cal_allcores_ms were stamped after the loop there) so the
    // round-over-round comparison stays apples-to-apples
    val (cal1, calN) = calibrate()
    val detail =
      s"""{"metric":"total_detail","value":${ms(total)},"unit":"sec","runs_per_query":$RunsPerQuery,"protocol":"interleaved-median","total_min":${ms(totalMin)},"cal_pre_1t_ms":${ms(calPre1)},"cal_pre_allcores_ms":${ms(calPreN)},"cal_1t_ms":${ms(cal1)},"cal_allcores_ms":${ms(calN)},"failed":$failed,"queries":$qs,"queries_min":$qsMin,"compiles":$compiles,"split":$split,"sf":"$sfDir"}"""
    // Full per-query medians/mins go to a file — the stdout tail capture
    // is size-bounded (~2000 chars) and the per-query map outgrew it in
    // r13 (73 queries ≈ 2.3 kB → BENCH_r13 "parsed": null). The file is
    // the per-query record.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Compact summary printed LAST so the driver's tail capture always
    // gets a parseable JSON line. Bounded size FOREVER: no per-query map
    // here — total + failed + provenance only (`failed` is empty on a
    // clean round; a failing round's names are worth the chars).
    println(
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","runs_per_query":$RunsPerQuery,"protocol":"interleaved-median","total_min":${ms(totalMin)},"failed":$failed,"detail_file":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
