package graft.operators

import graft.Engine
import graft.functions.SimHash64.simhash64
import graft.functions.Vectors.dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`
  * / `embeddings`: exact (hash group-by), MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine. No reference analog (extension tier).
  *
  * Scale design: every variant is blocked — candidates come from an
  * equi-join on a bucket key (LSH band, SimHash chunk, length bucket,
  * cluster label), never from a global cross join. At 100 TB the shuffle
  * is by bucket key and the quadratic work happens only inside buckets
  * whose expected size is O(1); the exact verification joins touch only
  * surviving candidate pairs.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  private def r6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  // --- exact dedup (oracle-checked) ---------------------------------------

  /** Exact dedup: one group per distinct text, keeper = min doc_id — the
    * classic hash-groupBy dedup (map-side partial agg; shuffle carries one
    * row per distinct fingerprint). */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("group_size"))

  val qDedupExactSql: String =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS group_size
      |FROM documents
      |GROUP BY 1""".stripMargin

  // --- MinHash + LSH -------------------------------------------------------

  /** 32 minhash permutations derived from one xxhash64 pass (h·a+b with
    * fixed odd multipliers), banded 8×4 (Broder 1997 / Leskovec-Rajaraman-
    * Ullman ch.3 parameters: j=0.7 → P(candidate)≈0.88). */
  val NumHashes = 32
  val BandSize = 4
  val hashParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** doc_id, hs (distinct shingle hashes), sig (array of 32 minhashes).
    *
    * Shape (the 100 TB concern): a MinHash signature is a per-document
    * scalar — min over a shingle multiset equals min over its distinct
    * set — so it needs NO aggregation boundary at all. One native
    * expression ([[graft.functions.MinHashShingleSig]]) walks the text
    * once, dedups shingle hashes in an open-addressed set, and folds all
    * 32 permutation minima in the same pass, entirely where the text
    * already lives. Zero shuffle; the only exchange left in the pipeline
    * is the (band, bhash) LSH join. (Round-1 shape — explode to
    * per-shingle rows → groupBy(doc_id) with a custom
    * TypedImperativeAggregate + collect_set — shuffled ~1000× the corpus
    * in per-shingle rows and was the top bench entry at 7.4 s.)
    *
    * The struct is projected in a separate select on purpose: Catalyst's
    * CollapseProject keeps the producing projection because `mh` is
    * non-cheap and referenced twice, so the pass runs once per row. */
  def minhashSignatures(docs: DataFrame,
                        rebalance: Boolean = true): DataFrame = {
    // rebalance only applies to raw scans (Engine.rebalance probes the
    // RDD partition count, which would eagerly execute a joined plan);
    // callers feeding a post-join frame pass rebalance = false — the
    // upstream shuffle already spread the rows
    val base = if (rebalance) Engine.rebalance(docs) else docs
    base
      .select(col("doc_id"),
        graft.functions.MinHashShingleSig
          .minhashShingleSig(lower(col("text")), 5, hashParams).as("mh"))
      .select(col("doc_id"), col("mh.hs").as("hs"), col("mh.sig").as("sig"))
  }

  /** Minimum signature agreement for a candidate to reach exact
    * verification: 8 of 32 minhashes (est ≥ 0.25). For a true pair at the
    * jaccard-0.5 output threshold the miss probability is
    * P(Binomial(32, 0.5) < 8) ≈ 2e-4; any pair this drops would also
    * violate the operator's est-tracks-jaccard contract (|est−jac| ≤
    * 0.25, LlmOpsSpec). */
  private val MinSigAgree = 8

  /** LSH candidate pairs (doc_a < doc_b) with signature-estimated
    * jaccard, deduped across bands, shingle sets attached for survivors.
    *
    * Shuffle discipline (the 100 TB concern), in three tiers:
    *  1. the band self-join carries (band, bhash, doc_id, sig) — the
    *     signature is 8·32 B, so ×8 band duplication is cheap, and both
    *     join sides derive from the same exchange (AQE ReuseExchange: one
    *     shuffle, not two). The shingle SETS (~KBs per doc) are never
    *     duplicated through the bands.
    *  2. candidates must agree on ≥ [[MinSigAgree]] minhashes — computed
    *     inline from the carried signatures, cutting the candidate set
    *     before anything heavy moves.
    *  3. only survivors join back (by doc id) to fetch the shingle sets
    *     for exact verification. `sigs` is consumed three times (bands +
    *     two reattach sides); since it is a pure scan-side projection
    *     (zero shuffle), recomputation is a narrow columnar scan and the
    *     default is to NOT persist — a corpus-sized cache costs more
    *     than three scans at bench scale (measured) and may not fit at
    *     100 TB. Re-measured r20 after the cheaper hashing paths landed
    *     (r19 verdict ask): an eager (doc_id, sig)-only checkpoint
    *     feeding the bands branch — bounded 264 B/doc, hs still
    *     recomputed — was adjacent-window SLOWER (med 1.61 s vs 1.54 s,
    *     min 1.55 vs 1.44 at sf0.1/32c; the checkpoint job + extra
    *     stages cost more than the one signature pass it saves), so the
    *     no-persist decision stands. Callers where the scan dominates
    *     (wide rows, remote storage) should persist/checkpoint the frame
    *     first — cache-if-fits is a deployment decision, not a plan
    *     property. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    lshCandidates(sigs, Int.MaxValue)

  /** As above, with a HUB-BUCKET cap (the production lever at corpus
    * scale): a band bucket larger than `maxBucket` is dropped whole
    * before the self-join. Boilerplate/template floods put thousands of
    * near-identical docs into one (band, bhash) bucket, and the
    * self-join's output is C(size, 2) per bucket — quadratic in the
    * flood, the one term of this plan that does not scale linearly.
    * Capping loses a true pair only when EVERY band the pair agrees on
    * is a capped hub — for a j ≥ 0.5 pair and 8 bands the non-hub bands
    * keep it with overwhelming probability, and the degenerate
    * identical-text hubs are collapsed by exact dedup BEFORE this stage
    * in the pipeline compositions (Pipeline.cleanCorpus stage order).
    * The default (no cap) keeps the operator exact — the oracle gates
    * pin blocking-free all-pairs output. Cost: one extra count agg over
    * the bands frame; its exchange is shared with the self-join (AQE
    * ReuseExchange). */
  def lshCandidates(sigs: DataFrame, maxBucket: Int): DataFrame = {
    import graft.functions.LshOps
    val nBands = NumHashes / BandSize
    // band index is folded into the hash seed (BandHashes64), so one long
    // is the whole join key
    val bands0 = sigs.select(col("doc_id"), col("sig"),
      explode(LshOps.bandHashes64(col("sig"), nBands, BandSize)).as("bhash"))
    val bands =
      if (maxBucket == Int.MaxValue) bands0
      else bands0.join(
        bands0.groupBy(col("bhash")).count()
          .where(col("count") <= maxBucket).select(col("bhash")),
        Seq("bhash"), "left_semi")
    val l = bands.select(col("bhash"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = bands.select(col("bhash"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val pairs = l.join(r, Seq("bhash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        LshOps.sigAgree(col("sig_a"), col("sig_b")).as("agree"))
      .where(col("agree") >= MinSigAgree)
      .dropDuplicates("doc_a", "doc_b")
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")),
        Seq("doc_b"))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification of the
    * candidates (one-pass set intersection over the 5-gram shingle
    * sets — [[graft.functions.LshOps.JaccardLong]]).
    *
    * Oracle-checked: the DuckDB oracle computes ALL pairs with true
    * 5-gram-set jaccard ≥ 0.5 (blocking-free, string shingles mirror the
    * FNV shingle hashes 1:1), so the gate also pins LSH recall — at the
    * gate corpus every true pair has j ≥ 0.92, where the 8×4 banding's
    * miss probability is (1−0.92⁴)⁸ ≈ 2e-5. The signature-estimate
    * column stays internal (agree/32 is not SQL-expressible); outputs
    * are the verified exact jaccards only. */
  /** Verified near-dup pairs (jaccard ≥ 0.5) for an arbitrary
    * (doc_id, text) frame — the DataFrame-level operator behind
    * [[qDedupMinhash]] and the corpus pipeline's near-dup stage. */
  def minhashPairs(docs: DataFrame, rebalance: Boolean = true): DataFrame = {
    val sigs = minhashSignatures(docs, rebalance)
    val jac = graft.functions.LshOps.jaccardLong(col("sh_a"), col("sh_b"))
    lshCandidates(sigs)
      .select(col("doc_a"), col("doc_b"), r6(jac).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(t(s, dir, "documents"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared oracle fragment: per-doc distinct 5-gram shingle sets as
    * strings — the exact mirror of lower→ShingleHash64(5)→distinct
    * (FNV-1a is injective on these sets modulo 64-bit collisions).
    * Parametrized over the source relation so the corpus pipeline's
    * oracle can shingle its survivor subset with the same rules. */
  private[operators] def shingleCteFrom(from: String): String =
    s"""  SELECT doc_id,
      |    CASE WHEN len(lower(text)) < 5 THEN [lower(text)]
      |         ELSE list_distinct(list_transform(
      |           range(1, len(lower(text)) - 3),
      |           i -> substring(lower(text), CAST(i AS INT), 5))) END AS sh
      |  FROM $from""".stripMargin

  private val shingleCte: String = shingleCteFrom("documents")

  private[operators] val jaccardExpr: String =
    """floor( CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     * 1000000.0 + 0.5) / 1000000.0""".stripMargin

  val qDedupMinhashSql: String =
    s"""WITH d AS (
      |$shingleCte
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  $jaccardExpr AS jaccard
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- end-to-end corpus dedup (keeper selection) ---------------------------

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: every doc starts labeled with itself; each
    * round a doc takes the minimum label among itself and its neighbors;
    * fixpoint = components labeled by their minimum doc_id.
    *
    * Scale shape: each round is one shuffle of the edge list joined to
    * the current labels (both keyed by doc id — co-partitioned after the
    * first round), and rounds needed = graph diameter, which for near-dup
    * clusters is tiny (pairs form near-cliques). The driver only sees the
    * per-round changed-count (an aggregate), never the data.
    *
    * The returned frame is left persisted (its lineage spans every
    * iteration — recomputation would replay the whole loop); the caller
    * owns `unpersist()` once consumers are done (see [[qDedupCorpus]]
    * for the checkpoint-then-unpersist pattern). If the loop exits at
    * `maxIter` without converging (a component chain with diameter >
    * maxIter), labels are WRONG — so by default that THROWS
    * (IllegalStateException): an under-merged dup-group assignment must
    * never flow silently into keeper selection. Callers that prefer the
    * partial labels (e.g. progressive dedup passes) opt out with
    * `failOnNonConvergence = false`, which downgrades to a stderr
    * warning. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          failOnNonConvergence: Boolean = true): DataFrame = {
    // The edge list is consumed every round — persist it once, or each
    // iteration re-executes the whole upstream candidate pipeline.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labels.count()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nmin"))
      // localCheckpoint (not persist): each round references `labels`
      // twice (neighbor agg + rejoin), so an un-truncated logical plan
      // DOUBLES per iteration — at diameter ~15 the plan alone is 2^15
      // nodes and the driver OOMs just stringifying it. Checkpointing
      // caches the blocks AND cuts the lineage, keeping the driver-side
      // plan O(1) per round regardless of graph diameter.
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("label", "old"),
          Seq("doc_id"))
        .filter(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      // unconverged labels are incorrect keepers — refuse to be quiet
      val msg = s"connectedComponents: NOT converged after $maxIter " +
        "iterations; component labels are incomplete (graph diameter " +
        "exceeds maxIter). Raise maxIter."
      if (failOnNonConvergence) {
        labels.unpersist()
        throw new IllegalStateException(msg)
      }
      System.err.println(s"[graft] WARNING: $msg")
    }
    labels
  }

  /** The deduped corpus: one keeper (minimum doc_id) per near-dup
    * component, all singleton docs kept. Returns (doc_id, keeper,
    * group_size ≥ 2) for docs in near-dup groups plus (doc_id, doc_id, 1)
    * for untouched docs — filter `doc_id = keeper` for the kept set.
    *
    * Cache hygiene: [[connectedComponents]] returns a persisted frame
    * (its lineage spans the whole loop). The labels are tiny relative to
    * the corpus (one (id, label) row per doc in the pair graph), so they
    * are eagerly local-checkpointed here — truncating the loop lineage
    * into GC-managed blocks — and the loop's cache is unpersisted before
    * returning; repeated registry/gate/bench invocations no longer
    * accumulate MEMORY_AND_DISK partitions. */
  def qDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val pairs = minhashPairs(t(s, dir, "documents")).select("doc_a", "doc_b")
    val labels = connectedComponents(pairs)
    val comp = labels.localCheckpoint(true)
      .withColumnRenamed("label", "keeper")
    labels.unpersist()
    val sizes = comp.groupBy(col("keeper"))
      .agg(count(lit(1)).as("group_size"))
    val grouped = comp.join(sizes, Seq("keeper"))
    docs.join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper"), col("doc_id")).as("keeper"),
        coalesce(col("group_size"), lit(1L)).as("group_size"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: connected components as a recursive transitive closure over
    * the blocking-free true-pair list (every pair with 5-gram jaccard ≥
    * 0.5), keeper = min doc id reachable. Independent of the Spark
    * min-label-propagation loop AND of LSH candidate generation. */
  val qDedupCorpusSql: String =
    s"""WITH RECURSIVE d AS (
      |$shingleCte
      |),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE $jaccardExpr >= 0.5
      |),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION ALL
      |  SELECT doc_b AS src, doc_a AS dst FROM p
      |),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |),
      |labels AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS keeper
      |  FROM reach GROUP BY src
      |),
      |sizes AS (
      |  SELECT keeper, count(*) AS group_size FROM labels GROUP BY keeper
      |)
      |SELECT doc.doc_id,
      |  coalesce(l.keeper, doc.doc_id) AS keeper,
      |  coalesce(s.group_size, CAST(1 AS BIGINT)) AS group_size
      |FROM documents doc
      |LEFT JOIN labels l ON doc.doc_id = l.doc_id
      |LEFT JOIN sizes s ON l.keeper = s.keeper
      |ORDER BY doc.doc_id""".stripMargin

  // --- canonical selection (keep-best per near-dup family) ------------------

  /** Canonical-representative selection: within every near-dup family
    * ([[connectedComponents]] over the verified minhash pairs), keep the
    * HIGHEST-QUALITY member instead of the arbitrary min-id keeper — the
    * SemDeDup stance (Abbas et al. 2023 §3: clusters keep one
    * representative) combined with a quality criterion, which is what a
    * production corpus actually wants ("of these 5 mirrors of the same
    * article, keep the cleanest one").
    *
    * Determinism: quality is the fixed-point 1e-6 score
    * ([[TextOps.qualityScore]]), so the (q DESC, doc_id ASC) argmax is
    * exact in both engines — implemented shuffle-side as
    * `max(struct(q, -doc_id))`, a plain map-side-combinable agg (no
    * window over the corpus).
    *
    * Scale shape: the family frame is one (id, label) row per doc in the
    * pair graph (tiny vs the corpus); scoring is scan-side; the argmax
    * and the size count ride the SAME family-keyed shuffle, and the
    * join-back is labels-sized, not corpus-sized. */
  def qDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("q"))
    val labels = connectedComponents(
      minhashPairs(docs).select("doc_a", "doc_b"))
    val comp = labels.localCheckpoint(true)
    labels.unpersist()
    val fam = scored.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("q"),
        coalesce(col("label"), col("doc_id")).as("family"))
    val best = fam.groupBy(col("family"))
      .agg(max(struct(col("q").as("q"), (-col("doc_id")).as("nd")))
        .as("b"), count(lit(1)).as("group_size"))
      .select(col("family"), (-col("b.nd")).as("canonical"),
        col("group_size"))
    fam.join(best, Seq("family"))
      .select(col("doc_id"), col("canonical"), col("group_size"),
        (col("doc_id") === col("canonical")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same recursive-closure families as [[qDedupCorpusSql]],
    * canonical picked by a (q DESC, doc_id) window over each family —
    * independent of both the LSH candidate path and the argmax-by-struct
    * trick. */
  val qDedupCanonicalSql: String =
    s"""WITH RECURSIVE d AS (
      |$shingleCte
      |),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE $jaccardExpr >= 0.5
      |),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION ALL
      |  SELECT doc_b AS src, doc_a AS dst FROM p
      |),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |),
      |labels AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS keeper
      |  FROM reach GROUP BY src
      |),
      |fam AS (
      |  SELECT doc.doc_id, coalesce(l.keeper, doc.doc_id) AS family,
      |    ${TextOps.sqlQualityScoreOf("doc.text")} AS q
      |  FROM documents doc LEFT JOIN labels l ON doc.doc_id = l.doc_id
      |),
      |ranked AS (
      |  SELECT family, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY family
      |      ORDER BY q DESC, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY family) AS group_size
      |  FROM fam
      |)
      |SELECT f.doc_id, b.doc_id AS canonical, b.group_size,
      |  f.doc_id = b.doc_id AS is_canonical
      |FROM fam f JOIN ranked b ON f.family = b.family AND b.rn = 1
      |ORDER BY f.doc_id""".stripMargin

  // --- winnowing fingerprints (MOSS) ----------------------------------------

  /** Winnowing parameters (Schleimer, Wilkerson & Aiken 2003, §4): k-gram
    * width and window size — any match of length ≥ w + k − 1 characters
    * is GUARANTEED to share a fingerprint (the paper's coverage
    * theorem), with expected density 2/(w+1). */
  val WinnowK = 8
  val WinnowW = 4

  /** Hard cap on document length for [[winnowFingerprints]]: the
    * rightmost-min encoding packs the k-gram position into a 2^20-wide
    * field (`hash·2^20 + (2^20−1−pos)`), so a position beyond it would
    * borrow into the hash bits under integer division and SILENTLY
    * corrupt fingerprints. Longer documents raise instead — at corpus
    * scale, pre-chunk them (Corpus.chunkTokens) before fingerprinting. */
  val WinnowMaxLen: Int = (1 << 20) - 1

  /** Per-doc winnowed fingerprint set: 40-bit md5 k-gram hashes, each
    * window of [[WinnowW]] consecutive hashes contributing its RIGHTMOST
    * minimum (the paper's robust-winnowing tie-break, encoded as
    * `hash·2^20 + (2^20−1−pos)` so one `array_min` picks it — doc length
    * is capped at [[WinnowMaxLen]] by the encoding and ENFORCED with a
    * raise_error guard, so an over-long document fails loudly instead of
    * silently corrupting fingerprints).
    * One scan, pure lambda projections; output is (doc_id, fph)
    * exploded-distinct. The md5-derived hash is the engine-portable
    * choice (the scoreMicro precedent) — xxhash64 has no DuckDB twin. */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    docs
      // fail fast past the position-field width instead of silently
      // corrupting fingerprints (see [[WinnowMaxLen]]); the guard rides
      // the same scan-side projection, no extra pass
      .select(col("doc_id"),
        when(length(col("text")) > WinnowMaxLen,
          raise_error(concat(
            lit(s"winnowFingerprints: document longer than $WinnowMaxLen " +
              "chars overflows the position field; pre-chunk it. doc_id="),
            col("doc_id").cast("string"))))
          .otherwise(lower(col("text"))).as("tk"))
      .where(length(col("tk")) >= WinnowK + WinnowW - 1)
      .withColumn("kh", expr(
        s"""transform(sequence(1, length(tk) - ${WinnowK - 1}),
           |  i -> cast(conv(substring(md5(substring(tk, i, $WinnowK)), 1, 10),
           |                 16, 10) as bigint))""".stripMargin))
      // `div`, not `/`: Spark `/` on BIGINT is DOUBLE division, and the
      // encoded values (~2^60) are beyond double's 2^53 exact range
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(
           |  sequence(1, size(kh) - ${WinnowW - 1}),
           |  j -> array_min(transform(sequence(0, ${WinnowW - 1}),
           |         d -> element_at(kh, cast(j + d as int)) * 1048576
           |              + 1048575 - (j + d))) div 1048576))"""
          .stripMargin)).as("fph"))
      .distinct()

  /** Ubiquity cap: fingerprints appearing in more than this many docs
    * are dropped before pairing — MOSS's "ignore frequent k-grams"
    * step. Without it a corpus-wide common phrase is a HUB fingerprint
    * whose pair fan-out is |docs|² — the skew bomb at 100 TB; with it
    * the per-fingerprint join fan-out is bounded at MaxDf². */
  val WinnowMaxDf = 10

  /** Document pairs sharing ≥ `minShared` rare winnowed fingerprints —
    * the MOSS match-candidate report. Matches are LOCAL: a long shared
    * run pairs two documents even when their global jaccard is low (the
    * plagiarism/quotation shape global near-dup passes miss), while the
    * ubiquity cap deliberately ignores corpus-common content. The
    * doc-frequency cap rides the same fingerprint-keyed exchange as the
    * pair join (one corpus shuffle on the 8-byte key); pair counting is
    * map-side combined. */
  /** Shared pairing core over a fingerprint frame (live or stored): the
    * ubiquity-cap aggregate and the self-join both key on `fph`, so the
    * whole computation is one fingerprint-keyed exchange; pair counting
    * is map-side combined. */
  private def pairsFromFingerprints(fp: DataFrame,
                                    minShared: Int): DataFrame = {
    val rare = fp.groupBy(col("fph"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= WinnowMaxDf)
      .select(col("fph"))
    val kept = fp.join(rare, Seq("fph"))
    val l = kept.select(col("fph"), col("doc_id").as("doc_a"))
    val r = kept.select(col("fph"), col("doc_id").as("doc_b"))
    l.join(r, Seq("fph"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def winnowPairs(docs: DataFrame, minShared: Int = 5): DataFrame =
    // ad-hoc path: the fingerprint frame feeds the ubiquity-cap
    // aggregate and both pair-join sides, and the alias-renamed join
    // branches defeat exchange reuse — so the fingerprint lambda
    // recomputes three times (measured a wash at sf0.1 vs
    // localCheckpoint). The corpus-keyed gate avoids it by probing the
    // STORED index ([[buildWinnowIndex]]).
    pairsFromFingerprints(winnowFingerprints(docs), minShared)

  // --- winnowing fingerprint store ------------------------------------------

  /** Bump when the fingerprint computation changes, so probes never read
    * an index built by older code. */
  private val WinnowStoreVersion = "v1"

  /** OFFLINE BUILD: materialize the corpus fingerprint index (doc_id,
    * fph) as a published artifact ([[graft.sources.ArtifactStore]] —
    * atomic move, idempotent, version-keyed). At 100 TB this is the
    * ingest-time fingerprinting job; pairing jobs and incremental
    * appends read/extend the store instead of re-scanning the corpus. */
  def buildWinnowIndex(s: SparkSession, dir: String): String = {
    val root = graft.sources.ArtifactStore
      .root("winnow", WinnowStoreVersion, dir)
    graft.sources.ArtifactStore.ensureBuilt(root) { staging =>
      winnowFingerprints(Engine.rebalance(t(s, dir, "documents")))
        .write.parquet(s"$staging/fp")
    }
    root
  }

  /** Direct index write for ad-hoc frames (tests, exploratory corpora);
    * the corpus-keyed gate build goes through [[buildWinnowIndex]]. */
  def writeWinnowIndex(docs: DataFrame, root: String): Unit =
    winnowFingerprints(docs).write.mode("overwrite").parquet(s"$root/fp")

  /** INCREMENTAL APPEND — keep the index fresh between rebuilds:
    * fingerprint ONLY the new batch and append it into the store (new
    * parquet files; existing segments untouched — the
    * appendToKmeansStore discipline, itself the reference's
    * insert-buffer → background-merge shape, engine.h:210). */
  def appendToWinnowIndex(s: SparkSession, root: String,
                          newDocs: DataFrame): Unit =
    winnowFingerprints(newDocs).write.mode("append").parquet(s"$root/fp")

  /** Incremental pairing after [[appendToWinnowIndex]]: match-candidate
    * pairs INVOLVING the appended docs, computed by semi-joining the
    * stored index down to the batch's fingerprints BEFORE any pairing —
    * doc-frequency (the ubiquity cap) stays exact because the restricted
    * frame still holds every holder of each affected fingerprint. The
    * incremental cost scales with the batch's fingerprint fan-out, not
    * the corpus: old-old pairs are never recounted. */
  def incrementalWinnowPairs(s: SparkSession, root: String,
                             newDocs: DataFrame,
                             minShared: Int = 5): DataFrame = {
    val newFp = winnowFingerprints(newDocs).select(col("fph")).distinct()
    val idx = s.read.parquet(s"$root/fp")
    val affected = idx.join(broadcast(newFp), Seq("fph"), "left_semi")
    val newIds = newDocs.select(col("doc_id")).distinct()
    pairsFromFingerprints(affected, minShared)
      .join(broadcast(newIds),
        col("doc_a") === col("doc_id") || col("doc_b") === col("doc_id"),
        "left_semi")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def qDedupWinnow(s: SparkSession, dir: String): DataFrame =
    pairsFromFingerprints(
      s.read.parquet(s"${buildWinnowIndex(s, dir)}/fp"), minShared = 5)

  /** Oracle: the same construction in DuckDB list arithmetic — 1-based
    * list indexing mirrors `element_at`, integer division recovers the
    * hash from the rightmost-min encoding. */
  val qDedupWinnowSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, lower(text) AS tk FROM documents
      |  WHERE len(lower(text)) >= ${WinnowK + WinnowW - 1}
      |), kh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(tk) - ${WinnowK - 2}),
      |      i -> CAST(('0x' || substr(md5(substring(tk, CAST(i AS INT), $WinnowK)), 1, 10))
      |                AS BIGINT)) AS kh
      |  FROM d
      |), fp AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, len(kh) - ${WinnowW - 2}),
      |      j -> list_min(list_transform(range(0, $WinnowW),
      |             d -> kh[CAST(j + d AS INT)] * 1048576
      |                  + 1048575 - (j + d))) // 1048576))) AS fph
      |  FROM kh
      |), rare AS (
      |  SELECT fph FROM fp GROUP BY fph HAVING COUNT(*) <= $WinnowMaxDf
      |), kept AS (
      |  SELECT fp.doc_id, fp.fph FROM fp JOIN rare ON fp.fph = rare.fph
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  COUNT(*) AS n_shared
      |FROM kept a JOIN kept b ON a.fph = b.fph AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- SimHash --------------------------------------------------------------

  /** SimHash near-dup pairs: 64-bit signature (custom Catalyst
    * expression), blocked on 4×16-bit chunks — hamming ≤ 3 guarantees at
    * least one identical chunk (pigeonhole), so chunk-equality blocking is
    * lossless for the ≤3 threshold. Oracle-exact: the FNV-1a kernel is
    * mirrored in DuckDB with HUGEINT wrap-around arithmetic
    * ([[qDedupSimhashSql]]), and the oracle is blocking-free all-pairs —
    * so LSH recall is hash-gated, not just spec-checked. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = Engine.rebalance(t(s, dir, "documents"))
      .select(col("doc_id"), simhash64(lower(col("text"))).as("sig"))
    val chunks = d.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(k =>
        shiftrightunsigned(col("sig"), k * 16).bitwiseAND(lit(0xFFFFL))
      ): _*)).as(Seq("chunk", "cval")))
    val l = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "cval"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle for the FNV fast path: FNV-1a 64 re-implemented in DuckDB
    * with HUGEINT wrap-around arithmetic — `xor(h, char) * prime mod
    * 2^64` stays exact because a 64-bit value × the 40-bit FNV prime
    * fits in a 128-bit HUGEINT, and the explicit `% 2^64` reproduces
    * Java's long overflow. The per-character fold is a recursive CTE
    * over (token occurrence, char index); bits are extracted with
    * division by exact power-of-two literals (never float `pow`). The
    * pair scan is BRUTE-FORCE all-pairs (no blocking), so the Spark
    * side's pigeonhole chunk-LSH must find every pair to hash-match.
    * Text is ASCII (verified), so Java UTF-16 code units ==
    * `unicode()` code points. */
  val qDedupSimhashSql: String = {
    val votes = (0 until 64).map { b =>
      s"SUM(CASE WHEN (h // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val sigSum = (0 until 64).map(b =>
      s"(CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)")
      .mkString(" + ")
    s"""WITH toks AS (
      |  SELECT row_number() OVER () AS tid, doc_id, tok FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split(lower(text), ' '),
      |                         x -> len(x) > 0)) AS tok
      |    FROM documents)
      |), fnv AS (
      |  WITH RECURSIVE f(tid, doc_id, tok, n, i, h) AS (
      |    SELECT tid, doc_id, tok, len(tok), 0,
      |      CAST('14695981039346656037' AS HUGEINT) FROM toks
      |    UNION ALL
      |    SELECT tid, doc_id, tok, n, i + 1,
      |      (xor(h, CAST(unicode(substr(tok, i + 1, 1)) AS HUGEINT))
      |         * 1099511628211)
      |        % CAST('18446744073709551616' AS HUGEINT)
      |    FROM f WHERE i < n
      |  )
      |  SELECT tid, doc_id, h FROM f WHERE i = n
      |), votes AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM fnv GROUP BY doc_id
      |), sig AS (
      |  SELECT doc_id, $sigSum AS sig FROM votes
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash with an md5 token hash — the first cross-engine-checkable
    * twin of [[qDedupSimhash]], kept as an independent second gate (md5
    * exercises a different token-hash path, and its 60-bit/4×15-chunk
    * geometry differs from the FNV 64-bit/4×16 one). This variant
    * derives the token hash from md5 (first 15 hex digits), which both
    * engines compute identically, turning the ENTIRE simhash algorithm —
    * vote accumulation, sign vector, hamming distance, and the
    * pigeonhole chunk blocking — into a hash-checked contract. The
    * oracle is blocking-free all-pairs hamming, so LSH RECALL is gated
    * too (4×15-bit chunks are lossless for hamming ≤ 3). Everything here
    * is built-in codegen'd expressions; the FNV kernel remains the fast
    * path (and is now itself oracle-exact via [[qDedupSimhashSql]]). */
  def qDedupSimhashMd5(s: SparkSession, dir: String): DataFrame = {
    val toks = Engine.rebalance(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "),
          x => length(x) > 0)).as("tok"))
    val th = toks.select(col("doc_id"),
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val voteCols = (0 until 60).map { b =>
      sum(when(shiftrightunsigned(col("h"), b)
        .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b")
    }
    val votes = th.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
    val sig = votes.select(col("doc_id"),
      (0 until 60).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
    val chunks = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(k =>
        shiftrightunsigned(col("sig"), k * 15).bitwiseAND(lit(0x7FFFL))
      ): _*)).as(Seq("chunk", "cval")))
    val l = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "cval"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the same md5-simhash built digit-by-digit (bit b of the
    * 15-hex-digit hash = bit b%4 of digit 15−b/4), then BRUTE-FORCE
    * all-pairs hamming — no blocking, so the Spark side's chunk-LSH must
    * find every pair to hash-match. */
  val qDedupSimhashMd5Sql: String = {
    val votes = (0 until 60).map { b =>
      val pos = 15 - b / 4
      val shift = b % 4
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val sigSum = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(lower(text), ' '),
      |                       x -> len(x) > 0)) AS tok
      |  FROM documents
      |), th AS (
      |  SELECT doc_id, md5(tok) AS h FROM toks
      |), votes AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM th GROUP BY doc_id
      |), sig AS (
      |  SELECT doc_id, $sigSum AS sig FROM votes
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- exact n-gram Jaccard with length-bucket blocking ----------------------

  /** Exact 5-gram Jaccard dedup, blocked by length bucket (near-dups have
    * near-equal length; emitting buckets k and k+1 covers pairs whose
    * lengths differ ≤ bucket width). Quadratic only inside a bucket.
    * Shingle sets come from the same one-pass distinct-set expression as
    * the MinHash pipeline (`mh.hs`), and the pairwise Jaccard is the
    * one-pass native kernel — no array_intersect/union allocations. */
  def qDedupNgram(s: SparkSession, dir: String): DataFrame = {
    val bucketWidth = 64
    val d = Engine.rebalance(t(s, dir, "documents"))
      .select(col("doc_id"),
        // distinct set only — the signature's 32-permutation fold would
        // be dead weight here (ngram verifies exactly, never estimates)
        array_distinct(graft.functions.ShingleHash64
          .shingleHash64(lower(col("text")), 5)).as("sh"),
        floor(length(col("text")) / bucketWidth).cast("long").as("lb"))
    val exploded = d.select(col("doc_id"), col("sh"),
      explode(array(col("lb"), col("lb") + 1)).as("bucket"))
    val l = exploded.select(col("bucket"), col("doc_id").as("doc_a"),
      col("sh").as("sh_a"))
    val r = exploded.select(col("bucket"), col("doc_id").as("doc_b"),
      col("sh").as("sh_b"))
    val jac = graft.functions.LshOps.jaccardLong(col("sh_a"), col("sh_b"))
    l.join(r, Seq("bucket"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), r6(jac).as("jaccard"))
      .where(col("jaccard") >= 0.4)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: same 5-gram jaccard over string shingles, with the
    * length-bucket blocking mirrored exactly — a pair is a candidate iff
    * its {lb, lb+1} bucket sets overlap, i.e. |lb_a − lb_b| ≤ 1. */
  val qDedupNgramSql: String =
    s"""WITH d AS (
      |$shingleCte
      |),
      |db AS (
      |  SELECT d.doc_id, d.sh, CAST(floor(len(doc.text) / 64) AS BIGINT) AS lb
      |  FROM d JOIN documents doc ON d.doc_id = doc.doc_id
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  $jaccardExpr AS jaccard
      |FROM db a JOIN db b
      |  ON a.doc_id < b.doc_id AND abs(a.lb - b.lb) <= 1
      |WHERE jaccard >= 0.4
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- embedding cosine near-dup ---------------------------------------------

  /** Embedding-cosine near-dup over an EXPLICIT category key: pairs are
    * generated within `label` (a real data column — "dedup within
    * category" semantics, e.g. per-language or per-source), emitting the
    * top-20 most-similar pairs. Vectors are unit-norm so dot = cosine.
    * Because the blocking key is a plain column, the DuckDB oracle
    * mirrors it exactly — this gate is hash-checked end to end.
    * Contract: quadratic within a label by design; when no bounded
    * category exists, use [[qDedupEmbedIvf]], which blocks on a LEARNED
    * k-means quantizer so bucket size is O(N/k) regardless of the data's
    * category skew. */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val l = e.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val r = e.select(col("label"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    l.join(r, Seq("label"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        r6(dot(col("emb_a"), col("emb_b"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Oracle: the same label-blocked top-20, pairwise dot in DuckDB
    * (float→double per element then double accumulation — IEEE-identical
    * to the native VecDot loop). */
  val qDedupEmbedSql: String =
    """SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  floor(list_dot_product(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[]))
      |        * 1000000.0 + 0.5) / 1000000.0 AS cos
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |ORDER BY cos DESC, vec_a, vec_b
      |LIMIT 20""".stripMargin

  /** Embedding-cosine near-dup blocked on a LEARNED k-means quantizer
    * (the scale path when no bounded category column exists): assign
    * every vector to its nearest of k centroids, generate pairs only
    * within a cluster. Bucket size is O(N/k) by construction — with
    * k ≈ √N the per-bucket quadratic work is O(N) total — where raw-
    * label blocking degenerates when one label dominates. The
    * assignment comes from the PUBLISHED IVF store
    * ([[Similarity.buildKmeansQuantizer]] — the dedup job and the ANN
    * probes share one quantizer build), which also makes the gate
    * oracle-hashable: DuckDB replays the blocking + pairwise cosine
    * from the stored cluster-partitioned assignment
    * ([[qDedupEmbedIvfSql]]). */
  def qDedupEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val root = Similarity.buildKmeansQuantizer(s, dir)
    val assigned = s.read.parquet(s"$root/assign")
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"))
    val l = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val r = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    l.join(r, Seq("cluster"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        r6(dot(col("emb_a"), col("emb_b"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Oracle: replay the cluster-blocked pair generation from the stored
    * assignment (the Similarity store-replay convention — the learned
    * fit is materialized parquet; the blocking and the fixed-point
    * pairwise cosine are plain relational algebra). */
  val qDedupEmbedIvfSql: String = {
    val root = Similarity.oracleRoot("ivf-kmeans")
    s"""WITH assign AS (
      |  SELECT CAST(cluster AS INT) AS cluster, vec_id,
      |    CAST(embedding AS DOUBLE[]) AS emb
      |  FROM read_parquet('$root/assign/*/*.parquet', hive_partitioning = 1)
      |)
      |SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  floor(list_dot_product(a.emb, b.emb) * 1000000.0 + 0.5)
      |    / 1000000.0 AS cos
      |FROM assign a JOIN assign b
      |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |ORDER BY cos DESC, vec_a, vec_b
      |LIMIT 20""".stripMargin
  }

  /** Edit-distance near-duplicate pairs over short entity keys — the
    * VERIFY stage of entity resolution (record linkage / fuzzy join):
    * candidate pairs from cheap blocking, then exact Levenshtein ≤ 1 on
    * the codegen'd built-in (both engines implement classic unit-cost
    * Levenshtein, so the gate is hash-exact). Blocking here is
    * equal-length within the supplier-name class — quadratic WITHIN the
    * block by documented contract (the [[qDedupEmbed]] convention): the
    * right 100 TB shape for short keys is a bounded block (length ×
    * prefix class, or a deletion-neighborhood join for distance 1); the
    * Levenshtein verify itself touches only surviving candidates. */
  def editDistancePairs(names: DataFrame, keyCol: String, nameCol: String,
                        maxDist: Int): DataFrame = {
    val a = names.select(col(keyCol).as("key_a"), col(nameCol).as("name_a"))
    val b = names.select(col(keyCol).as("key_b"), col(nameCol).as("name_b"))
    a.join(b, col("key_a") < col("key_b")
        && length(col("name_a")) === length(col("name_b")))
      .select(col("key_a"), col("key_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  def qDedupEditdist(s: SparkSession, dir: String): DataFrame =
    editDistancePairs(t(s, dir, "supplier"), "s_suppkey", "s_name", 1)
      .orderBy(col("key_a"), col("key_b"))

  val qDedupEditdistSql: String =
    """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      |FROM supplier a JOIN supplier b
      |  ON a.s_suppkey < b.s_suppkey
      | AND len(a.s_name) = len(b.s_name)
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY key_a, key_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_editdist" -> (qDedupEditdist _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_simhash_md5" -> (qDedupSimhashMd5 _),
    "q_dedup_ngram" -> (qDedupNgram _),
    "q_dedup_embed" -> (qDedupEmbed _),
    "q_dedup_embed_ivf" -> (qDedupEmbedIvf _),
    "q_dedup_corpus" -> (qDedupCorpus _),
    "q_dedup_canonical" -> (qDedupCanonical _),
    "q_dedup_winnow" -> (qDedupWinnow _))

  val oracles: Map[String, String] = Map(
    "q_dedup_editdist" -> qDedupEditdistSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_dedup_simhash_md5" -> qDedupSimhashMd5Sql,
    "q_dedup_ngram" -> qDedupNgramSql,
    "q_dedup_embed" -> qDedupEmbedSql,
    "q_dedup_embed_ivf" -> qDedupEmbedIvfSql,
    "q_dedup_corpus" -> qDedupCorpusSql,
    "q_dedup_canonical" -> qDedupCanonicalSql,
    "q_dedup_winnow" -> qDedupWinnowSql)
}
