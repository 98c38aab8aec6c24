package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-lexicon operators: statistics computed over the whole corpus'
  * vocabulary and re-joined to documents — the unigram language-model
  * quality score (the cheap KenLM-perplexity analog every production
  * corpus filter runs) and per-document TF-IDF keyword extraction.
  * Extension tier like [[TextOps]] (no reference analog; the reference is
  * a SQL OLAP engine).
  *
  * Scale shape (100 TB): the vocabulary aggregate is the classic
  * map-side-combine win — the shuffle after `explode` carries one row per
  * DISTINCT (partition, token), not per token occurrence, and the
  * resulting lexicon frame is tiny (vocab ≪ corpus), so it broadcasts
  * back for the per-document pass. The corpus itself is scanned twice and
  * shuffled at most once (TF-IDF's per-(doc,token) partial agg); nothing
  * corpus-sized ever hits a driver.
  *
  * Determinism contract (same as Relational.dec): per-token float scores
  * are rounded to 1e-6 fixed-point LONGS before any reordering
  * aggregation, so sums are order-independent and engine-exact; `ln` is
  * IEEE double on both engines and the 1e-6 floor absorbs sub-ulp library
  * differences.
  */
object Lexicon {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  private def r6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
  private def sqlR6(e: String): String =
    s"FLOOR(($e) * 1000000.0 + 0.5) / 1000000.0"

  /** One row per token occurrence: (doc_id, tok). */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))

  // --- unigram language-model score ---------------------------------------

  /** Per-document mean negative log-probability under the corpus' own
    * unigram LM — the scalable stand-in for KenLM perplexity filtering
    * (low = fluent/common tokens, high = rare-token gibberish). Returned
    * per doc: token count and `avg_neg_logprob` (nats, 1e-6 fixed point).
    *
    * lp6 (per-token fixed-point −ln p) is summed as a LONG, so the
    * aggregation is order-independent; the final division happens once
    * per doc.
    *
    * `broadcastLexicon`: a WORD vocabulary broadcasts comfortably
    * (1e7-1e8 entries); pass false when the "token" is open-class
    * (URLs, n-grams) and the lexicon outgrows a broadcast — the join
    * then shuffles both sides on tok, everything else is unchanged.
    */
  def unigramLogprob(docs: DataFrame,
                     broadcastLexicon: Boolean = true): DataFrame = {
    val toks = tokens(docs)
    // lexicon: token -> occurrence count; |vocab| rows (tiny vs corpus)
    val lexicon = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val total = lexicon.agg(sum(col("cnt")).as("n_total"))
    val scored = lexicon.crossJoin(broadcast(total))
      .select(col("tok"),
        (-floor(log(col("cnt").cast("double") / col("n_total").cast("double"))
          * lit(1000000.0) + lit(0.5))).cast("long").as("nlp6"))
    toks.join(if (broadcastLexicon) broadcast(scored) else scored,
        Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nlp6")).as("sum_nlp6"))
      .select(col("doc_id"), col("n_tokens"),
        r6(col("sum_nlp6").cast("double") / lit(1000000.0)
          / col("n_tokens").cast("double")).as("avg_neg_logprob"))
  }

  def qUnigramLogprob(s: SparkSession, dir: String): DataFrame =
    unigramLogprob(Engine.rebalance(t(s, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Shared unigram-LM oracle CTEs (toks → lexicon → scored), reused by
    * the per-doc gate and the CCNet bucket gate. */
  private val unigramCtes: String =
    s"""toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), lexicon AS (
      |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      |), scored AS (
      |  SELECT tok,
      |    CAST(-FLOOR(ln(CAST(cnt AS DOUBLE)
      |      / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM lexicon))
      |      * 1000000.0 + 0.5) AS BIGINT) AS nlp6
      |  FROM lexicon
      |)""".stripMargin

  val qUnigramLogprobSql: String =
    s"""WITH $unigramCtes
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  ${sqlR6("CAST(SUM(s.nlp6) AS DOUBLE) / 1000000.0 / COUNT(*)")}
      |    AS avg_neg_logprob
      |FROM toks t JOIN scored s ON t.tok = s.tok
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // --- CCNet perplexity bucketing ------------------------------------------

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: each
    * language's documents split into head/middle/tail by LM score, the
    * mix knob CCNet pipelines expose): per-language tercile THRESHOLDS
    * over the unigram-LM score, every doc bucketed by comparison, and
    * the (lang, bucket) manifest reported.
    *
    * Scale shape — NO per-language global sort: the naive ntile is a
    * one-partition-per-language window over the corpus. Instead the
    * score is 1e-6 fixed-point (bounded distinct values), so cutoffs
    * come from a running sum over the per-(lang, score) COUNT frame
    * (distinct-scores-sized, the tokenBudgetKept trick), and bucketing
    * is a broadcast-join + comparison on the scan. Ties at a cutoff all
    * land in the lower bucket (value-based thresholds, the CCNet
    * semantics) — so bucket sizes are N/3 ± tie mass, deterministic in
    * both engines. */
  def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Engine.rebalance(t(s, dir, "documents"))
    val lp = unigramLogprob(docs)
    // one bounded row per doc, consumed TWICE (tercile cutoffs + final
    // bucketing); left lazy each consumer re-ran the whole unigram-LM
    // pipeline — two token explodes and the lexicon aggregate per
    // consumer (measured: the two explode stages dominated this gate's
    // CPU). Same narrow-decision-frame discipline as tokenBudgetKept.
    val sc = docs.select(col("doc_id"), col("lang"))
      .join(lp, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("avg_neg_logprob") * lit(1000000.0) + lit(0.5))
          .cast("long").as("score6"))
      .localCheckpoint(true)
    val perScore = sc.groupBy(col("lang"), col("score6"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("score6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("lang"))
    val cuts = perScore
      .withColumn("run", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wn))
      .groupBy(col("lang"))
      .agg(min(when(col("run") * 3 >= col("n"), col("score6"))).as("c1"),
        min(when(col("run") * 3 >= col("n") * 2, col("score6"))).as("c2"))
    sc.join(broadcast(cuts), Seq("lang"))
      .select(col("lang"), col("n_tokens"), col("score6"),
        when(col("score6") <= col("c1"), "head")
          .when(col("score6") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        r6(sum(col("score6")).cast("double") / lit(1000000.0)
          / count(lit(1))).as("mean_nlp"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Oracle: same thresholds from a window over the distinct-score
    * frame (DuckDB may window freely — single-node by design). */
  val qCcnetBucketsSql: String =
    s"""WITH $unigramCtes,
      |lp AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |    ${sqlR6("CAST(SUM(s.nlp6) AS DOUBLE) / 1000000.0 / COUNT(*)")}
      |      AS avg_neg_logprob
      |  FROM toks t JOIN scored s ON t.tok = s.tok
      |  GROUP BY t.doc_id
      |),
      |sc AS (
      |  SELECT d.doc_id, d.lang, lp.n_tokens,
      |    CAST(FLOOR(lp.avg_neg_logprob * 1000000.0 + 0.5) AS BIGINT)
      |      AS score6
      |  FROM documents d JOIN lp ON d.doc_id = lp.doc_id
      |),
      |ps AS (
      |  SELECT lang, score6, COUNT(*) AS c FROM sc GROUP BY lang, score6
      |),
      |runs AS (
      |  SELECT lang, score6, c,
      |    SUM(c) OVER (PARTITION BY lang ORDER BY score6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
      |    SUM(c) OVER (PARTITION BY lang) AS n
      |  FROM ps
      |),
      |cuts AS (
      |  SELECT lang,
      |    MIN(CASE WHEN run * 3 >= n THEN score6 END) AS c1,
      |    MIN(CASE WHEN run * 3 >= n * 2 THEN score6 END) AS c2
      |  FROM runs GROUP BY lang
      |)
      |SELECT s.lang,
      |  CASE WHEN s.score6 <= c.c1 THEN 'head'
      |       WHEN s.score6 <= c.c2 THEN 'middle'
      |       ELSE 'tail' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens,
      |  ${sqlR6("CAST(SUM(s.score6) AS DOUBLE) / 1000000.0 / COUNT(*)")}
      |    AS mean_nlp
      |FROM sc s JOIN cuts c ON s.lang = c.lang
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- bigram language-model score ----------------------------------------

  /** One row per bigram occurrence: (doc_id, bg = "a b"). */
  private def bigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
        .as("bg"))

  /** Per-document mean −ln p(b|a) under the corpus' own bigram LM — the
    * conditional upgrade of [[unigramLogprob]] (KenLM-style fluency: a
    * doc of common-but-never-adjacent tokens now scores high). The
    * denominator is the continuation count (bigrams starting with `a`),
    * so probabilities condition correctly at document edges; no smoothing
    * is needed because the corpus scores itself (every doc bigram has
    * corpus count ≥ 1). Same fixed-point long-sum determinism contract,
    * same two-agg + broadcast-back scale shape (the bigram lexicon is
    * vocab²-bounded; pass through a shuffled join instead of broadcast
    * for open-class vocabularies, as in [[unigramLogprob]]). */
  def bigramLogprob(docs: DataFrame,
                    broadcastLexicon: Boolean = true): DataFrame = {
    val bgs = bigrams(docs)
    val lexicon = bgs.groupBy(col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val firsts = lexicon
      .groupBy(substring_index(col("bg"), " ", 1).as("a"))
      .agg(sum(col("cnt")).as("cnt_a"))
    val scored = lexicon
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .join(firsts, Seq("a"))
      .select(col("bg"),
        (-floor(log(col("cnt").cast("double") / col("cnt_a").cast("double"))
          * lit(1000000.0) + lit(0.5))).cast("long").as("nlp6"))
    bgs.join(if (broadcastLexicon) broadcast(scored) else scored, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nlp6")).as("sum_nlp6"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("sum_nlp6").cast("double") / lit(1000000.0)
          / col("n_bigrams").cast("double")).as("avg_neg_logprob2"))
  }

  def qBigramLogprob(s: SparkSession, dir: String): DataFrame =
    bigramLogprob(Engine.rebalance(t(s, dir, "documents")))
      .orderBy(col("doc_id"))

  val qBigramLogprobSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), bgs AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(tk)),
      |      i -> tk[i] || ' ' || tk[i+1])) AS bg
      |  FROM toks WHERE len(tk) >= 2
      |), lexicon AS (
      |  SELECT bg, COUNT(*) AS cnt FROM bgs GROUP BY bg
      |), firsts AS (
      |  SELECT string_split(bg, ' ')[1] AS a, SUM(cnt) AS cnt_a
      |  FROM lexicon GROUP BY 1
      |), scored AS (
      |  SELECT l.bg,
      |    CAST(-FLOOR(ln(CAST(l.cnt AS DOUBLE) / CAST(f.cnt_a AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) AS nlp6
      |  FROM lexicon l JOIN firsts f ON string_split(l.bg, ' ')[1] = f.a
      |)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  ${sqlR6("CAST(SUM(s.nlp6) AS DOUBLE) / 1000000.0 / COUNT(*)")}
      |    AS avg_neg_logprob2
      |FROM bgs b JOIN scored s ON b.bg = s.bg
      |GROUP BY b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // --- TF-IDF keyword extraction ------------------------------------------

  /** Top terms kept per document. */
  val TopK = 3

  /** Per-document top-[[TopK]] terms by TF-IDF (idf = ln(N/df), the
    * classic smooth-free form). Ranking compares the 1e-6 fixed-point
    * score with the term string as tie-break, so the order is total and
    * engine-exact. Scale: tf is a partial-agg shuffle on (doc_id, tok)
    * (bounded by per-doc vocab, not doc length); df and N are
    * lexicon-sized and broadcast; the final top-k is a per-doc window over
    * rows already co-partitioned by doc_id.
    */
  def tfidfTopk(docs: DataFrame): DataFrame = {
    // ONE doc_id-keyed exchange right after the explode, shared by the
    // whole query (guide §2.4: establish the partitioning once). tf
    // feeds BOTH the df aggregate and the scoring join; in the r19
    // plan the branches diverged below their (doc_id, tok) agg
    // exchanges, so the explode ran once PER BRANCH, and the final
    // window added a third corpus-sized exchange on doc_id. Hash
    // partitioning by doc_id satisfies the clustered distribution of
    // the (doc_id, tok) aggregate AND of the per-doc window, and the
    // repartition node is byte-identical in both branches, so
    // ReuseExchange feeds both from one shuffle: explode ×2 → ×1,
    // corpus-sized exchanges 3 → 1. (An eager checkpoint of tf was
    // also tried — adjacent-window slower, 1.93 s vs 1.54 s med: the
    // materialization barrier cost more than the saved explode.)
    val tf = tokens(docs).repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df.crossJoin(n)), Seq("tok"))
      .select(col("doc_id"), col("tok"),
        floor(col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("score6"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score6").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("doc_id"), col("tok").as("term"), col("rnk"),
        (col("score6").cast("double") / lit(1000000.0)).as("tfidf"))
  }

  def qTfidfTopk(s: SparkSession, dir: String): DataFrame =
    // no outer rebalance: tfidfTopk's own doc_id exchange right after
    // the explode is what spreads the work (a prior roundrobin shuffle
    // of the text would just be a second full-data exchange)
    tfidfTopk(t(s, dir, "documents"))
      .orderBy(col("doc_id"), col("rnk"))

  val qTfidfTopkSql: String =
    s"""WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok
      |), df AS (
      |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
      |), scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |    CAST(FLOOR(CAST(tf.tf AS DOUBLE)
      |      * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
      |           / CAST(df.df AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) AS score6
      |  FROM tf JOIN df ON tf.tok = df.tok
      |), ranked AS (
      |  SELECT doc_id, tok, score6,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY score6 DESC, tok ASC) AS rnk
      |  FROM scored
      |)
      |SELECT doc_id, tok AS term, rnk,
      |  CAST(score6 AS DOUBLE) / 1000000.0 AS tfidf
      |FROM ranked WHERE rnk <= $TopK
      |ORDER BY doc_id, rnk""".stripMargin

  // --- Okapi BM25 ranked retrieval -----------------------------------------

  /** BM25 free parameters — the Robertson et al. TREC-3 defaults Lucene
    * ships (k1 term-frequency saturation, b length normalization). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The fixed lexical query for the BM25 gate: the hybrid gate's terms
    * ([[Similarity.HybridTerms]] — spelled out here, not referenced, to
    * keep object initialization acyclic) plus one more, so document
    * frequencies differ across terms and the idf weighting is actually
    * exercised. */
  val Bm25Terms: Seq[String] = Seq("hash", "join", "scan")

  /** Okapi BM25 top-k over a fixed term set — the production lexical
    * ranker (idf = ln(1 + (N−df+0.5)/(df+0.5)), the Lucene variant that
    * never goes negative).
    *
    * Scale shape (the 100 TB concern): per-term tf is the replace-
    * shrinkage counter ([[TextOps.wordHits]]) — a pure scan-side codegen
    * projection, NO token explode and NO (doc,tok) shuffle anywhere. The
    * corpus-level stats (N, Σdl, per-term df) are ONE map-side-combined
    * aggregate producing a single broadcast row; scoring is then a second
    * scan-side projection and the only ordering work is the
    * TakeOrderedAndProject top-k heap. Two corpus scans, zero shuffles.
    *
    * Determinism contract: per-term partial scores are floored to 1e-6
    * fixed-point LONGS and summed (order-independent; `ln` sub-ulp
    * differences absorbed), as everywhere else in this file.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String],
               topk: Int = 10): DataFrame = {
    val withTf = docs.select(
      col("doc_id") +: TextOps.tokenCount(col("text")).as("dl") +:
        terms.indices.map(i =>
          TextOps.wordHits(col("text"), terms(i)).as(s"tf$i")): _*)
    val stats = withTf.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0.0).cast("long")).as(s"df$i")): _*)
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    def part(i: Int): Column = {
      val idf = log(lit(1.0)
        + (nD - col(s"df$i").cast("double") + lit(0.5))
          / (col(s"df$i").cast("double") + lit(0.5)))
      val norm = col(s"tf$i") * lit(Bm25K1 + 1.0) /
        (col(s"tf$i") + lit(Bm25K1)
          * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / avgdl))
      floor(idf * norm * lit(1000000.0) + lit(0.5)).cast("long")
    }
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        terms.indices.map(part).reduce(_ + _).as("score6"))
      .where(col("score6") > 0)
      .orderBy(col("score6").desc, col("doc_id"))
      .limit(topk)
      .select(col("doc_id"), col("dl"),
        (col("score6").cast("double") / lit(1000000.0)).as("bm25"))
  }

  def qBm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25TopK(t(s, dir, "documents"), Bm25Terms)

  /** DuckDB mirror of [[bm25TopK]] as CTEs ending in `bm25ranked`
    * (doc_id, dl, score6), reused by the RRF fusion oracle. */
  private[operators] def sqlBm25Ctes(terms: Seq[String]): String = {
    val tfCols = terms.indices.map(i =>
      s"${TextOps.sqlWordHitsOf("text", terms(i))} AS tf$i").mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
    val parts = terms.indices.map { i =>
      val idf = s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5))"
      val norm = s"tf$i * ${Bm25K1 + 1.0} / (tf$i + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / $avgdl))"
      s"CAST(FLOOR($idf * $norm * 1000000.0 + 0.5) AS BIGINT)"
    }.mkString("\n      + ")
    s"""d AS (
      |  SELECT doc_id, ${TextOps.sqlTokenCountOf("text")} AS dl,
      |    $tfCols
      |  FROM documents
      |),
      |st AS (
      |  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
      |    $dfCols
      |  FROM d
      |),
      |bm25ranked AS (
      |  SELECT doc_id, dl,
      |    $parts AS score6
      |  FROM d, st
      |)""".stripMargin
  }

  val qBm25TopkSql: String =
    s"""WITH ${sqlBm25Ctes(Bm25Terms)}
      |SELECT doc_id, dl, CAST(score6 AS DOUBLE) / 1000000.0 AS bm25
      |FROM bm25ranked
      |WHERE score6 > 0
      |ORDER BY score6 DESC, doc_id
      |LIMIT 10""".stripMargin

  // --- heavy hitters -------------------------------------------------------

  /** Exact corpus-wide top-20 tokens by occurrence count (ties broken by
    * token). One map-side-combined agg + TakeOrderedAndProject — the
    * shuffle carries |vocab| rows, the heap carries 20. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    tokens(Engine.rebalance(t(s, dir, "documents")))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(20)
      .select(col("tok").as("term"), col("cnt"))

  val qHeavyHittersSql: String =
    """SELECT tok AS term, COUNT(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok
      |ORDER BY cnt DESC, tok ASC
      |LIMIT 20""".stripMargin

  /** Count-min-sketch twin — the 100 TB path when even |vocab| is too
    * large to shuffle exactly (URLs, n-grams): partition-local sketches
    * merge associatively into one `eps`-wide summary, then any candidate
    * set probes it. Deterministic (fixed seed, commutative merge) and
    * guaranteed to over-estimate: est >= true, est <= true + eps*N with
    * the configured confidence. Probes the exact top-20 so the spec can
    * pin both bounds; the driver gate certifies them oracle-exactly
    * ([[qHeavySketch]]). */
  def heavyHittersSketch(docs: DataFrame, eps: Double = 0.0001,
                         confidence: Double = 0.99): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = tokens(docs)
    val sketch = toks.stat.countMinSketch("tok", eps, confidence, 42)
    val probes = qProbeTerms(docs)
    probes.map(term => term -> sketch.estimateCount(term))
      .toDF("term", "est_cnt")
  }

  /** Probe set for the sketch gate: the exact top-20 terms. */
  private def qProbeTerms(docs: DataFrame): Seq[String] =
    tokens(docs).groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(20)
      .collect().map(_.getString(0)).toSeq

  /** CMS gate as a BOUND CERTIFICATE (the qSimIvfKmeansRecall pattern):
    * the sketch itself is not SQL-expressible, but its CLAIMS are — for
    * each of the 20 probe terms, the exact count (which DuckDB
    * recomputes) and whether the estimate respects both CMS guarantees,
    * `est ≥ exact` and `est ≤ exact + eps·N` (N = total token
    * occurrences). The oracle asserts bound_ok = TRUE, so a sketch
    * regression (bad seed plumbing, merge bug, width miscalc) now fails
    * the driver's hash gate, not just the spec. Driver-side work stays
    * bounded: the 20-row probe list and one scalar total. */
  def qHeavySketch(s: SparkSession, dir: String): DataFrame = {
    val docs = Engine.rebalance(t(s, dir, "documents"))
    val eps = 0.0001
    val toks = tokens(docs)
    val sketch = toks.stat.countMinSketch("tok", eps, 0.99, 42)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(20)
      .collect() // 20 rows — bounded
    val nTotal = counts.agg(sum(col("cnt"))).collect()(0).getLong(0)
    import s.implicits._
    top.toSeq.map { r =>
      val (term, cnt) = (r.getString(0), r.getLong(1))
      val est = sketch.estimateCount(term)
      (term, cnt, est >= cnt && est <= cnt + (eps * nTotal).toLong)
    }.toDF("term", "cnt", "bound_ok")
      .orderBy(col("cnt").desc, col("term").asc)
  }

  /** Oracle: exact probe counts + the certified bound as a literal —
    * hash equality proves the Spark side's bound check held on every
    * probe. */
  val qHeavySketchSql: String =
    """SELECT tok AS term, COUNT(*) AS cnt, TRUE AS bound_ok
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok
      |ORDER BY cnt DESC, term ASC
      |LIMIT 20""".stripMargin

  // --- BPE merge-pair counting (tokenizer training support) ----------------

  /** The first BPE merge iteration: adjacent character-pair counts,
    * weighted by word frequency — the statistic a byte-pair-encoding
    * trainer maximizes at every merge step (Sennrich et al. 2016 §3.2;
    * GPT-2's tokenizer trains this way over bytes).
    *
    * Scale shape (the trick every real BPE trainer uses): pair
    * statistics are computed over the VOCABULARY (|vocab| distinct
    * words × word length), not the corpus — the only corpus-sized work
    * is the word-count aggregate (map-side combined, same plan as
    * heavy hitters); the pair explode touches |vocab| rows. At 100 TB
    * the vocab agg is the one shuffle and subsequent merge iterations
    * would iterate on the vocab frame alone (corpus never re-read). */
  def bpePairs(docs: DataFrame, topk: Int = 20): DataFrame = {
    val vocab = tokens(docs)
      .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
    vocab.where(length(col("tok")) >= 2)
      .select(col("tok"), col("wc"),
        explode(expr("sequence(1, length(tok) - 1)")).as("i"))
      .select(expr("substring(tok, i, 2)").as("pair"), col("wc"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topk)
  }

  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    bpePairs(Engine.rebalance(t(s, dir, "documents")))

  /** Oracle: the same vocab-weighted pair count, pairs generated with
    * `unnest(range())` over each distinct word. */
  val qBpePairsSql: String =
    """WITH vocab AS (
      |  SELECT tok, COUNT(*) AS wc
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok
      |),
      |pairs AS (
      |  SELECT substring(tok, CAST(i AS INT), 2) AS pair, wc
      |  FROM vocab, unnest(range(1, len(tok))) AS u(i)
      |  WHERE len(tok) >= 2
      |)
      |SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
      |FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair ASC
      |LIMIT 20""".stripMargin

  // --- iterative BPE merge training -----------------------------------------

  /** Number of merge steps the training gate runs. */
  val BpeMerges = 8

  /** Symbol delimiter for the BPE working representation — a character
    * outside the corpus alphabet (asserted per word). */
  private val BpeSep = "~"

  /** Adjacent-symbol-pair extraction over the delimited representation,
    * as SQL text (shared phrasing keeps the Spark side and the DuckDB
    * mirror character-identical): pair id = left||'~'||right. */
  private def pairsExprSql(seq: String): String =
    s"""transform(sequence(1, size(filter(split($seq, '$BpeSep'), x -> x != '')) - 1),
       |  i -> concat(element_at(filter(split($seq, '$BpeSep'), x -> x != ''), cast(i as int)),
       |              '$BpeSep',
       |              element_at(filter(split($seq, '$BpeSep'), x -> x != ''), cast(i + 1 as int))))"""
      .stripMargin

  /** Iterative BPE merge training (Sennrich et al. 2016 §3.2, the real
    * loop): at each step count adjacent symbol pairs over the vocabulary
    * weighted by word frequency, merge the most frequent pair (ties by
    * pair string) everywhere, repeat. Words travel as '~'-delimited
    * symbol strings; a merge is a plain string REPLACE — both engines
    * scan left-to-right non-overlapping, the reference BPE behavior.
    * Returns the merge table (step, pair, cnt).
    *
    * Scale shape: the corpus is read ONCE (the word-count aggregate);
    * the vocabulary is parquet-staged ([[graft.sources.Staging]] —
    * survives executor loss, unlike a localCheckpoint) and every
    * iteration runs on the |vocab|-row frame alone — per-step work is a
    * vocab-sized agg plus a 1-row argmax collect (the
    * connectedComponents driver-state stance). Lineage is cut per step
    * so the plan stays O(1). */
  /** The training loop; returns the merge table AND the final encoded
    * vocabulary (tok, seq, wc) so the APPLY side can reuse it. */
  private def bpeLoop(docs: DataFrame, merges: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    var vocab = tokens(docs)
      .where(!col("tok").contains(BpeSep) && length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
      // filter the empty tail Java's limit=-1 split appends, so the
      // delimited form matches the DuckDB builder character-for-character
      .select(col("tok"), expr(
        s"concat('$BpeSep', concat_ws('$BpeSep$BpeSep', filter(split(tok, ''), x -> x != '')), '$BpeSep')")
        .as("seq"), col("wc"))
    // parquet-staged, not localCheckpoint'd: the vocab must survive
    // executor loss mid-training (graft.sources.Staging rationale). Each
    // step stages the next vocabulary from the current one and then
    // deletes the current one's directory; the last one lives until the
    // caller's Staging.scoped returns.
    var staged = graft.sources.Staging.staged(vocab, "bpe-vocab")
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var step = 0
    var continue = true
    while (step < merges && continue) {
      val best = staged.frame
        .where(expr(s"size(filter(split(seq, '$BpeSep'), x -> x != ''))") >= 2)
        .select(explode(expr(pairsExprSql("seq"))).as("pair"), col("wc"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) continue = false
      else {
        val pair = best.head.getString(0)
        val cnt = best.head.getLong(1)
        out += ((step, pair, cnt))
        val target = BpeSep + pair.replace(BpeSep, BpeSep + BpeSep) + BpeSep
        val repl = BpeSep + pair.replace(BpeSep, "") + BpeSep
        // call_function binds the corpus-derived pair as a literal — an
        // expr() string interpolation here would let a token containing a
        // quote or backslash break (or inject into) the parsed SQL.
        val next = graft.sources.Staging.staged(staged.frame
          .select(col("tok"),
            call_function("replace", col("seq"), lit(target), lit(repl))
              .as("seq"),
            col("wc")), "bpe-step")
        staged.delete()
        staged = next
        step += 1
      }
    }
    (out.toSeq, staged.frame)
  }

  /** Ad-hoc training entry (tests, exploratory frames): runs the loop
    * directly on `docs`. The corpus-keyed gates go through the offline
    * store ([[buildBpeTokenizer]]) instead. */
  def bpeTrain(docs: DataFrame, merges: Int = BpeMerges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.sources.Staging.scoped(bpeLoop(docs, merges)._1)
      .toDF("step", "pair", "cnt")
      .select(col("step").cast("int").as("step"), col("pair"), col("cnt"))
      .orderBy(col("step"))
  }

  // --- offline tokenizer store ----------------------------------------------

  /** Bump when the BPE build computation changes, so probes never read a
    * store built by older code. */
  private val BpeStoreVersion = "v1"

  /** Build counter, observable by the build-once/probe-twice spec (the
    * store itself persists across JVMs, so the spec asserts "no NEW
    * build", not "exactly one build ever"). */
  private[graft] val bpeBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** OFFLINE BUILD: train the tokenizer once per corpus and publish it as
    * an artifact ([[graft.sources.ArtifactStore]] — atomic move,
    * idempotent, crash-safe, the Similarity quantizer-store pattern):
    * `merges/` = the merge table (step, pair, cnt), `vocab/` = the final
    * encoded vocabulary (tok, n_pieces — every distinct word's piece
    * count after all merges). Training cost (the iterative loop) is paid
    * HERE, never on the encode path; at 100 TB this is the ingest-time
    * tokenizer-training job and encode jobs only read the store. */
  def buildBpeTokenizer(s: SparkSession, dir: String,
                        merges: Int = BpeMerges): String = {
    val root =
      graft.sources.ArtifactStore.root("bpe", BpeStoreVersion, dir)
    graft.sources.ArtifactStore.ensureBuilt(root) { staging =>
      // the loop's last staged vocabulary is deleted once written out
      graft.sources.Staging.scoped {
        bpeBuilds.incrementAndGet()
        import s.implicits._
        val (mergeTab, vocab) =
          bpeLoop(Engine.rebalance(t(s, dir, "documents")), merges)
        mergeTab.toDF("step", "pair", "cnt")
          .select(col("step").cast("int").as("step"), col("pair"),
            col("cnt"))
          .coalesce(1).write.parquet(s"$staging/merges")
        vocab
          .select(col("tok"),
            expr(s"size(filter(split(seq, '$BpeSep'), x -> x != ''))")
              .cast("long").as("n_pieces"))
          .coalesce(1).write.parquet(s"$staging/vocab")
      }
    }
    root
  }

  /** Training gate = ensure the store is built, read the merge table.
    * The first call in a fresh environment pays the training loop;
    * every later call is a store read. */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${buildBpeTokenizer(s, dir)}/merges")
      .orderBy(col("step"))

  /** Tokenizer APPLY — PROBE ONLY: encode the corpus with the STORED
    * vocabulary ([[buildBpeTokenizer]]; the first call in a fresh
    * environment triggers the build). Per document: the word count, the
    * piece count under the trained vocabulary, and pieces-per-word (the
    * compression/fertility number a tokenizer is judged by). The stored
    * vocab is broadcast onto the token stream — the same
    * vocab-then-broadcast shape as the unigram LM, so encoding adds no
    * corpus-sized shuffle beyond the per-doc aggregate, and crucially it
    * never RETRAINS the tokenizer it is applying (the r10 watch item:
    * train-in-gate ran the 8-step loop twice per session). */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val enc = s.read.parquet(s"${buildBpeTokenizer(s, dir)}/vocab")
    tokens(Engine.rebalance(t(s, dir, "documents")))
      .join(broadcast(enc), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        r6(col("n_pieces").cast("double") / col("n_words"))
          .as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle prefix: the training loop unrolled as a chained CTE
    * (v0 … v[[BpeMerges]], b0 … b[[BpeMerges]]−1) — DuckDB has no
    * iteration, but the step count is a fixed constant, so each
    * (vocab_k → pairs_k → best_k → vocab_{k+1}) stage is generated
    * mechanically, carrying `tok` through for the APPLY oracle. REPLACE
    * in DuckDB is the same left-to-right non-overlapping scan. Each
    * stage reads its best-pair frame via LEFT JOIN ON TRUE with the
    * REPLACE arguments COALESCE'd to the out-of-alphabet chr(1)
    * sentinel, so if the vocabulary dries up before [[BpeMerges]] steps
    * (b$k empty) v_{k+1} degrades to a copy of v$k — matching the Spark
    * loop's early stop instead of emptying every later stage. */
  private val bpeStagesCte: String = {
    def pairsOf(v: String): String =
      s"""SELECT CAST(SUM(wc) AS BIGINT) AS cnt, pair FROM (
         |  SELECT wc, unnest(list_transform(range(1, len(syms)),
         |    i -> syms[CAST(i AS INT)] || '$BpeSep' || syms[CAST(i + 1 AS INT)])) AS pair
         |  FROM (SELECT wc, list_filter(string_split(seq, '$BpeSep'),
         |                               x -> x <> '') AS syms
         |        FROM $v)
         |  WHERE len(syms) >= 2
         |) GROUP BY pair""".stripMargin
    val stages = (0 until BpeMerges).map { k =>
      s"""p$k AS (
         |${pairsOf(s"v$k")}
         |), b$k AS (
         |  SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1
         |), v${k + 1} AS (
         |  SELECT v$k.tok, REPLACE(v$k.seq,
         |      COALESCE('$BpeSep' || REPLACE(b$k.pair, '$BpeSep', '$BpeSep$BpeSep') || '$BpeSep', chr(1)),
         |      COALESCE('$BpeSep' || REPLACE(b$k.pair, '$BpeSep', '') || '$BpeSep', chr(1)))
         |    AS seq, v$k.wc
         |  FROM v$k LEFT JOIN b$k ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT tok,
       |    '$BpeSep' || array_to_string(list_transform(
       |      range(1, len(tok) + 1), i -> tok[CAST(i AS INT)]),
       |      '$BpeSep$BpeSep') || '$BpeSep' AS seq,
       |    CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE len(tok) > 0 AND tok NOT LIKE '%$BpeSep%'
       |  GROUP BY tok
       |),
       |$stages""".stripMargin
  }

  val qBpeTrainSql: String = {
    val union = (0 until BpeMerges)
      .map(k => s"SELECT $k AS step, pair, cnt FROM b$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeStagesCte
       |$union
       |ORDER BY step""".stripMargin
  }

  val qBpeEncodeSql: String =
    s"""WITH $bpeStagesCte,
       |enc AS (
       |  SELECT tok,
       |    CAST(len(list_filter(string_split(seq, '$BpeSep'), x -> x <> ''))
       |         AS BIGINT) AS n_pieces
       |  FROM v$BpeMerges
       |)
       |SELECT t.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
       |  ${sqlR6("CAST(SUM(e.n_pieces) AS DOUBLE) / COUNT(*)")}
       |    AS pieces_per_word
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |      FROM documents) t
       |JOIN enc e ON t.tok = e.tok
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unigram_logprob" -> (qUnigramLogprob _),
    "q_bigram_logprob" -> (qBigramLogprob _),
    "q_tfidf_topk" -> (qTfidfTopk _),
    "q_bm25_topk" -> (qBm25Topk _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_heavy_sketch" -> (qHeavySketch _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_ccnet_buckets" -> (qCcnetBuckets _))

  val oracles: Map[String, String] = Map(
    "q_unigram_logprob" -> qUnigramLogprobSql,
    "q_bigram_logprob" -> qBigramLogprobSql,
    "q_tfidf_topk" -> qTfidfTopkSql,
    "q_bm25_topk" -> qBm25TopkSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_heavy_sketch" -> qHeavySketchSql,
    "q_bpe_pairs" -> qBpePairsSql,
    "q_bpe_train" -> qBpeTrainSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_ccnet_buckets" -> qCcnetBucketsSql)
}
