package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  import operators._
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  test("text stats: observed char count equals the table's n_chars") {
    val joined = TextOps.qTextStats(spark, sf)
      .join(Engine.table(spark, sf, "documents").select("doc_id", "n_chars"),
        "doc_id")
    assert(joined.filter(col("n_chars_obs") =!= col("n_chars")).count() === 0)
  }

  test("exact dedup groups cover all docs") {
    val total = Dedup.qDedupExact(spark, sf)
      .agg(sum("group_size")).first().getLong(0)
    assert(total === Engine.table(spark, sf, "documents").count())
  }

  test("minhash LSH recall: finds every exact pair with jaccard >= 0.9") {
    val exact = Dedup.qDedupNgram(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.qDedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dups in testdata")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("minhash estimate tracks exact jaccard (within 0.25)") {
    // the estimate no longer leaves the operator (the gate output is
    // oracle-hashed, agree/32 is not SQL-expressible) — assert the
    // contract on the candidate stage directly
    val sigs = Dedup.minhashSignatures(
      Engine.table(spark, sf, "documents"))
    val jac = functions.LshOps.jaccardLong(col("sh_a"), col("sh_b"))
    val rows = Dedup.lshCandidates(sigs)
      .select((col("agree").cast("double") / Dedup.NumHashes).as("est"),
        jac.as("jac"))
      .filter(col("jac") >= 0.5)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("est")
      val jc = r.getAs[Double]("jac")
      assert(math.abs(est - jc) <= 0.25, s"est=$est jac=$jc")
    }
  }

  test("LSH hub-bucket cap: a template flood's quadratic candidates " +
      "drop, normal near-dup pairs survive") {
    val s = spark
    import s.implicits._
    // 40 identical "viral template" docs (every band a hub bucket of
    // 40) + one ordinary near-dup pair + unrelated filler
    val tmpl = "the quick brown fox jumps over the lazy dog again and again"
    val pairA = "completely different content about spark shuffles and parquet row groups"
    val pairB = "completely different content about spark shuffles and parquet row group"
    val docs = ((1L to 40L).map(i => (i, tmpl)).toSeq ++
      Seq((100L, pairA), (101L, pairB),
        (200L, "unrelated text one with its own words entirely"),
        (201L, "some other filler nothing shared here at all")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, rebalance = false)
    val uncapped = Dedup.lshCandidates(sigs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flood alone contributes C(40,2) = 780 candidate pairs
    assert(uncapped.count(p => p._1 <= 40 && p._2 <= 40) === 780)
    assert(uncapped.contains((100L, 101L)))
    // capped at 10: every template band bucket (size 40) drops whole;
    // the ordinary pair's buckets (size 2) are untouched
    val capped = Dedup.lshCandidates(sigs, maxBucket = 10)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)), "normal pair lost under cap")
    assert(!capped.exists(p => p._1 <= 40 && p._2 <= 40),
      "hub pairs survived the cap")
  }

  test("kmeans-blocked embed dedup: pairs co-clustered, cos exact, " +
      "ordered") {
    val assigned = Similarity.kmeansAssign(
      Engine.table(spark, sf, "embeddings"))
      .select("vec_id", "cluster", "embedding").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Float](2).toArray))
      .toMap
    val rows = Dedup.qDedupEmbedIvf(spark, sf).collect()
    assert(rows.length === 20)
    var prev = Double.MaxValue
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      val cos = r.getAs[Double]("cos")
      assert(a < b)
      assert(assigned(a)._1 === assigned(b)._1, s"pair ($a,$b) not co-clustered")
      val d = assigned(a)._2.zip(assigned(b)._2)
        .map { case (x, y) => x.toDouble * y.toDouble }.sum
      assert(math.floor(d * 1e6 + 0.5) / 1e6 === cos)
      assert(cos <= prev + 1e-12)
      prev = cos
    }
  }

  test("simhash near-dups: nonempty, hamming <= 3, ordered pairs") {
    val rows = Dedup.qDedupSimhash(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("hamming") <= 3)
    }
  }

  test("simhash chunk blocking is lossless vs brute-force all-pairs") {
    // empirical pigeonhole check: the 4×16-bit chunk-blocked pair set
    // must equal an unblocked cross-join hamming scan at spec scale —
    // recall 1.0 for the hamming ≤ 3 contract (VERDICT r4 stretch item)
    val sigs = Engine.table(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(lower(col("text"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb).toLong if h <= 3
    } yield (ida, idb, h)).toSet
    val blocked = Dedup.qDedupSimhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    assert(blocked === brute)
    assert(brute.nonEmpty)
  }

  test("md5-simhash twin agrees with its blocking-free contract") {
    // the oracle-gated variant: pairs must carry hamming <= 3 and the
    // pair set must be symmetric-free (a < b) — full recall is pinned by
    // the DuckDB all-pairs oracle (q_dedup_simhash_md5)
    val rows = Dedup.qDedupSimhashMd5(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("hamming") <= 3L)
    }
  }

  test("decontaminate flags verbatim benchmark overlap, spares the rest") {
    val s = spark
    import s.implicits._
    val phrase = ("w1 " * 20).trim // 20 tokens — contains full 13-grams
    val bench = Seq((100L, phrase)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"prefix tokens here $phrase suffix"), // copies the phrase
      (2L, "a completely different set of words repeated " +
        ("x " * 20).trim)) // no shared 13-gram
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) === true)
    assert(out(2L) === false)
  }

  test("embedding decontamination: flags semantic matches, argmax ties " +
      "break to the larger bench id") {
    val s = spark
    import s.implicits._
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f)
    // bench 200 and 201 are IDENTICAL → doc 1 ties at cos 1.0 on both
    val bench = Seq((200L, e1), (201L, e1), (202L, e2))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, e1), // exact match of bench 200/201 → flagged
      (2L, Array(0.0f, 0.0f, 1.0f))) // orthogonal to all → clean
      .toDF("vec_id", "embedding")
    val out = Curation.decontaminateEmbed(corpus, bench).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("best_bench") === 201L) // tie → larger id
    assert(out(1L).getAs[Double]("max_cos") === 1.0)
    assert(out(1L).getAs[Boolean]("flagged"))
    assert(out(2L).getAs[Double]("max_cos") === 0.0)
    assert(!out(2L).getAs[Boolean]("flagged"))
  }

  test("pii scrub removes every planted email/phone/url") {
    val out = Curation.qPiiScrub(spark, sf)
    val residue = out.filter(
      col("text_clean").rlike(Curation.EmailRe) ||
        col("text_clean").rlike(Curation.PhoneRe) ||
        col("text_clean").rlike(Curation.UrlRe)).count()
    assert(residue === 0L)
    // every doc had exactly one of each planted
    val counts = out.agg(sum("n_emails"), sum("n_phones"), sum("n_urls"),
      count(lit(1))).first()
    assert(counts.getLong(0) === counts.getLong(3))
    assert(counts.getLong(1) === counts.getLong(3))
    assert(counts.getLong(2) === counts.getLong(3))
  }

  test("brute-force top-k matches a driver-side recomputation") {
    val e = Engine.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (qid, qv) = e.minBy(_._1)
    val expected = e.filter(_._1 != qid)
      .map { case (id, v) =>
        val d = v.zip(qv).map { case (a, b) => a.toDouble * b.toDouble }.sum
        (id, math.floor(d * 1e6 + 0.5) / 1e6)
      }
      .sortBy { case (id, c) => (-c, id) }.take(20)
    val got = Similarity.qSimBruteForce(spark, sf)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === expected.toSeq)
  }

  test("IVF top-k is a subset of the full ranking, scores bounded by exact") {
    val brute = Similarity.qSimBruteForce(spark, sf)
      .select("cos").collect().map(_.getDouble(0))
    val ivf = Similarity.qSimIvf(spark, sf)
      .select("cos").collect().map(_.getDouble(0))
    assert(ivf.length === 20)
    assert(ivf.max <= brute.max + 1e-9)
    assert(ivf.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("kmeans IVF: deterministic, scores bounded by brute force, recall>0") {
    val brute = Similarity.qSimBruteForce(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val a = Similarity.qSimIvfKmeans(spark, sf).collect()
    val b = Similarity.qSimIvfKmeans(spark, sf).collect()
    assert(a.map(_.getAs[Long]("vec_id")).toSeq
      === b.map(_.getAs[Long]("vec_id")).toSeq) // fixed seed → deterministic
    val ivfIds = a.map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute intersect ivfIds).size.toDouble / brute.size
    assert(recall >= 0.4, s"kmeans-IVF top-20 recall $recall too low")
  }

  test("media features: deterministic stub, covers all docs") {
    val a = Multimodal.qMediaFeatures(spark, sf).collect()
    val b = Multimodal.qMediaFeatures(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getAs[Long]("n_media")).sum ===
      Engine.table(spark, sf, "documents").count())
  }

  test("corpus dedup components equal a driver-side union-find") {
    val pairs = Dedup.qDedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: union-find over the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    val got = Dedup.qDedupCorpus(spark, sf)
      .filter(col("group_size") > 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(got === expected)
    // every doc appears exactly once, keepers keep themselves
    val all = Dedup.qDedupCorpus(spark, sf).collect()
    assert(all.length ===
      Engine.table(spark, sf, "documents").count())
    all.filter(r => r.getAs[Long]("group_size") == 1L)
      .foreach(r => assert(r.getAs[Long]("doc_id") === r.getAs[Long]("keeper")))
  }

  test("connected components throw on non-convergence; opt-out returns partial labels") {
    val ss = spark
    import ss.implicits._
    // a 12-node path graph has diameter 11 — min-label propagation cannot
    // converge in 3 iterations, so the default must refuse to return
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3)
    }
    assert(e.getMessage.contains("NOT converged"))
    // explicit opt-out: partial labels come back (documented caveat)
    val partial = Dedup.connectedComponents(chain, maxIter = 3,
      failOnNonConvergence = false)
    assert(partial.count() === 12)
    partial.unpersist()
    // and a sufficient budget converges to a single component labeled 0
    val full = Dedup.connectedComponents(chain, maxIter = 15)
    assert(full.select("label").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(0L))
    full.unpersist()
  }

  test("resize: deterministic, payload bounded by target, identity kept") {
    val media = Multimodal.mediaTable(spark, sf)
    val a = Multimodal.resizeMedia(media, 128, 128).collect()
    val b = Multimodal.resizeMedia(media, 128, 128).collect()
    assert(a.length === media.count())
    assert(a.map(_.doc_id).sorted.toSeq === b.map(_.doc_id).sorted.toSeq)
    val byId = b.map(r => r.doc_id -> r).toMap
    a.foreach { r =>
      assert(r.width === 128 && r.height === 128)
      assert(r.media.length <= 128 * 128 / 64 && r.media.length > 0)
      assert(java.util.Arrays.equals(r.media, byId(r.doc_id).media))
    }
  }

  test("frame sampling: stride-correct count per doc, deterministic") {
    val sp = spark
    import sp.implicits._
    val media = Multimodal.mediaTable(sp, sf)
    val frames = Multimodal.sampleFrames(media, frameSize = 64, stride = 4)
    val perDoc = frames.groupBy("doc_id").count()
      .withColumnRenamed("count", "n_frames")
    val expected = media.map(m => (m.doc_id,
        (math.max(1, m.media.length / 64) + 3) / 4))
      .toDF("doc_id", "expect")
    assert(perDoc.join(expected, "doc_id")
      .filter($"n_frames" =!= $"expect").count() === 0)
    val a = Multimodal.qMediaFrames(spark, sf).collect().toSeq
    val b = Multimodal.qMediaFrames(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("BPE-ish piece count bounds whitespace token count from above") {
    val rows = TextOps.qTextTokens(spark, sf)
      .filter(org.apache.spark.sql.functions.col("n_bpe_pieces") <
        org.apache.spark.sql.functions.col("n_ws_tokens")).count()
    assert(rows === 0)
  }

  test("langid guesses are confined to known labels") {
    val langs = TextOps.qTextLangid(spark, sf)
      .select("lang_guess").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "unknown")))
  }

  test("boilerplate strip: exact removal on a hand-built corpus") {
    val s = spark
    import s.implicits._
    // 24 docs; the 8-token header lands on 6 (25% > 5% threshold);
    // every other segment is doc-unique (df=1: 20 > 24 is false → kept)
    val hdr = Curation.HeaderCommon
    val docs = (1 to 24).map { id =>
      if (id <= 6) (id.toLong, s"$hdr u$id v$id w$id x$id")
      else (id.toLong,
        s"a$id b$id c$id d$id e$id f$id g$id h$id tail$id")
    }.toDF("doc_id", "text")
    val out = Curation.stripBoilerplate(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    (1 to 6).foreach { id =>
      assert(out(id.toLong) === ((s"u$id v$id w$id x$id", 1L, 1L)))
    }
    (7 to 24).foreach { id =>
      assert(out(id.toLong) ===
        ((s"a$id b$id c$id d$id e$id f$id g$id h$id tail$id", 1L, 0L)))
    }
  }

  test("boilerplate gate: common header stripped, rare header kept") {
    val out = Curation.qBoilerplate(spark, sf)
    assert(out.filter(col("text_clean")
      .contains(Curation.HeaderCommon)).count() === 0)
    val rare = out.filter(col("doc_id") % 50 === 0)
    assert(rare.count() > 0)
    assert(rare.filter(!col("text_clean")
      .contains(Curation.HeaderRare)).count() === 0)
    // untouched docs come back verbatim (random text has no organic
    // segment shared by >5% of docs)
    val untouched = out.filter(col("doc_id") % 3 =!= 0 &&
      col("doc_id") % 50 =!= 0)
      .join(Engine.table(spark, sf, "documents"), "doc_id")
    assert(untouched.filter(col("text_clean") =!= col("text")).count() === 0)
  }

  test("unigram logprob: exact on a two-doc corpus, rare tokens score " +
      "higher") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "a a a b")).toDF("doc_id", "text")
    // same fixed-point formula, driver-side: counts a=7, b=1, total=8
    def nlp6(cnt: Long, total: Long): Long =
      -math.floor(math.log(cnt.toDouble / total) * 1e6 + 0.5).toLong
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val expect1 = r6(4 * nlp6(7, 8) / 1e6 / 4)
    val expect2 = r6((3 * nlp6(7, 8) + nlp6(1, 8)) / 1e6 / 4)
    val got = Lexicon.unigramLogprob(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) === expect1)
    assert(got(2L) === expect2)
    assert(got(2L) > got(1L), "rare-token doc must score higher")
  }

  test("bigram logprob: exact on a tiny corpus, conditions on the first " +
      "token") {
    val s = spark
    import s.implicits._
    // corpus bigrams: "a b" x2, "b a" x1, "a c" x1 -> firsts: a=3, b=1
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    def nlp6(cnt: Long, cntA: Long): Long =
      -math.floor(math.log(cnt.toDouble / cntA) * 1e6 + 0.5).toLong
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // doc1: [a b]=ln(3/2)... -ln(2/3), [b a]=-ln(1/1)=0, [a b]
    val expect1 = r6((2 * nlp6(2, 3) + nlp6(1, 1)) / 1e6 / 3)
    val expect2 = r6(nlp6(1, 3).toDouble / 1e6 / 1)
    val got = Lexicon.bigramLogprob(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) === ((3L, expect1)))
    assert(got(2L) === ((1L, expect2)))
    // "a c" (1 of 3 continuations of a) must score worse than "a b" (2 of 3)
    assert(got(2L)._2 > r6(nlp6(2, 3).toDouble / 1e6))
  }

  test("tfidf: corpus-wide tokens get zero weight, rare tokens rank first") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "x q"))
      .toDF("doc_id", "text")
    val rows = Lexicon.tfidfTopk(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3)))
    val rank1 = rows.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1 === Map(1L -> "y", 2L -> "z", 3L -> "q"))
    // x appears in every doc: idf = ln(3/3) = 0 exactly
    rows.filter(_._2 == "x").foreach(t => assert(t._4 === 0.0))
    assert(rows.groupBy(_._1).values.forall(_.size <= Lexicon.TopK))
  }

  test("IVF partitioned store: probe prunes at the file level, cluster " +
      "contents identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_store").toString
    val assigned = Similarity.kmeansAssign(
      Engine.table(spark, sf, "embeddings"))
    Scale.partitionedWrite(assigned, dir, "cluster")
    val probe = spark.read.parquet(dir)
      .where(col("cluster").isin(1, 3))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      "probe filter must prune partitions, not scan-and-filter")
    // the pruned store serves exactly the in-memory clusters' vectors
    val fromStore = probe.select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val inMem = assigned.where(col("cluster").isin(1, 3))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(fromStore === inMem && fromStore.nonEmpty)
  }

  test("IVF-PQ gate probes BOTH pruned stores: codes and raw vectors") {
    val q = Similarity.qSimIvfPq(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // two cluster-partitioned scans (codes for ADC, assign for rerank),
    // each must prune at the file level
    val pruned = "PartitionFilters: \\[.*cluster".r
      .findAllIn(plan).length
    assert(pruned >= 2,
      s"expected codes AND raw scans pruned by cluster, found $pruned")
  }

  test("kmeans IVF gate probes the stored quantizer with partition pruning") {
    // the REAL gate query (not a synthetic store): its executed plan must
    // show PartitionFilters on the cluster-partitioned assign store —
    // proof that quantizer build is offline and the probe reads only the
    // probed clusters' files
    val q = Similarity.qSimIvfKmeans(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      "probe must prune the cluster-partitioned store at the file level")
    // and no trace of the build computation in the query plan: the
    // centroid posexplode/re-agg pipeline would show as a Generate node
    assert(!plan.contains("posexplode"),
      "centroid construction must not run inside the probe plan")
  }

  test("count-min sketch: over-estimates, within eps*N of exact") {
    val docs = Engine.table(spark, sf, "documents")
    val exact = Lexicon.qHeavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val eps = 0.0001
    val nTokens = docs.select(explode(split(col("text"), " ")))
      .count()
    val est = Lexicon.heavyHittersSketch(docs, eps).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (term, e) =>
      assert(e >= exact(term), s"CMS must never under-count ($term)")
      assert(e <= exact(term) + (eps * nTokens).toLong + 1,
        s"CMS estimate for $term off by more than eps*N")
    }
  }

  test("asof join: inclusive at equal ts, null before first right row, " +
      "latest-prior otherwise; NULL key/ts never match") {
    val s = spark
    import s.implicits._
    val left = Seq((Option(1L), Option(10L), "a"),
      (Option(1L), Option(20L), "b"), (Option(1L), Option(5L), "c"),
      (Option(2L), Option(50L), "d"),
      (Option(1L), None, "e"),     // NULL ts on the left
      (Option.empty[Long], Option(7L), "f")) // NULL key on the left
      .toDF("k", "t", "lv")
    val right = Seq((Option(1L), Option(10L), "r10"),
      (Option(1L), Option(15L), "r15"), (Option(3L), Option(1L), "r1"),
      (Option(1L), None, "rNullTs"),          // must never match
      (Option.empty[Long], Option(1L), "rNullKey")) // must never match
      .toDF("k", "t", "rv")
    val out = AsofJoin.asofJoin(left, right, "k", "t", Seq("rv"))
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(out("a") === "r10") // equal ts matches (inclusive)
    assert(out("b") === "r15") // latest prior, not just any prior
    assert(out("c") === null)  // before first right row
    assert(out("d") === null)  // key with no right rows at all
    assert(out("e") === null)  // NULL left ts: three-valued false
    assert(out("f") === null)  // NULL left key never equals NULL right key
    val fwd = AsofJoin.asofJoin(left, right, "k", "t", Seq("rv"),
        forward = true)
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(fwd("a") === "r10") // inclusive at equal ts
    assert(fwd("c") === "r10") // earliest at-or-after
    assert(fwd("b") === null)  // after the last right row
    assert(fwd("d") === null)
    assert(fwd("e") === null)
    assert(fwd("f") === null)
  }

  test("mixture sampling: quotas are exact weight shares, sample tracks " +
      "quota, deterministic") {
    val rows = Sampling.qSampleMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val sumW = rows.map { case (src, _, _, _) =>
      (src.drop(3).toLong % 4) + 1 }.sum
    val nTotal = rows.map(_._2).sum
    rows.foreach { case (src, nDocs, quota, nSampled) =>
      val w = (src.drop(3).toLong % 4) + 1
      assert(quota === (nTotal / 2) * w / sumW, s"quota mismatch for $src")
      assert(nSampled <= nDocs)
    }
    // rate-based acceptance lands near the quota in aggregate
    val (q, got) = (rows.map(_._3).sum, rows.map(_._4).sum)
    assert(math.abs(got - q) <= math.max(10L, q / 3),
      s"sampled $got vs quota $q")
    val again = Sampling.qSampleMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("sequence packing: every chunk holds exactly the budget except " +
      "the last; totals conserve the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.table(spark, sf, "documents")
    val plan = sources.Staging.scoped(operators.Packing.packPlan(docs,
      operators.Packing.PackBudget).collect())
    val b = operators.Packing.PackBudget
    assert(plan.nonEmpty)
    // chunk ids are dense 0..K-1
    assert(plan.map(_.getLong(0)).toSeq === (0L until plan.length).toSeq)
    // all but the final chunk are exactly full
    plan.dropRight(1).foreach(r =>
      assert(r.getAs[Long]("n_tokens") === b, s"chunk ${r.getLong(0)}"))
    assert(plan.last.getAs[Long]("n_tokens") <= b)
    // token conservation: chunk tokens sum to the corpus token count
    val corpusToks = docs
      .select(org.apache.spark.sql.functions.expr(
        "sum(size(split(text, ' ')))")).first().getLong(0)
    assert(plan.map(_.getAs[Long]("n_tokens")).sum === corpusToks)
    // doc-start conservation: every doc starts in exactly one chunk
    assert(plan.map(_.getAs[Long]("n_docs_starting")).sum === docs.count())
    // a doc spanning k chunks is counted in each: n_docs ≥ n_docs_starting
    plan.foreach(r => assert(
      r.getAs[Long]("n_docs") >= r.getAs[Long]("n_docs_starting")))
  }

  test("parquet staging survives block-storage loss and keeps the " +
      "packing plan reproducible (the localCheckpoint hazard, hardened)") {
    import org.apache.spark.sql.functions._
    val docs = Engine.table(spark, sf, "documents")
    // stage() freezes contents: roundtrip is exact
    val frame = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val staging = sources.Staging.staged(frame, "spec")
    val staged = staging.frame
    assert(staged.orderBy("doc_id").collect().toSeq ===
      frame.orderBy("doc_id").collect().toSeq)
    // executor-loss analog: every cached/checkpoint block dropped — a
    // localCheckpoint'd frame would be unrecoverable here; the staged
    // frame re-reads its parquet bytes unchanged
    val before = staged.orderBy("doc_id").collect().toSeq
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(
      _.unpersist(blocking = true))
    assert(staged.orderBy("doc_id").collect().toSeq === before)
    // the partition-id-keyed prefix sum is reproducible run to run (the
    // staged __pid column is data, not a property of block placement)
    val (p1, p2) = sources.Staging.scoped((
      operators.Packing.packPlan(docs, operators.Packing.PackBudget)
        .collect().toSeq,
      operators.Packing.packPlan(docs, operators.Packing.PackBudget)
        .collect().toSeq))
    staging.delete()
    assert(p1 === p2)
  }

  test("corpus topic composition: totals conserve the corpus, dominant " +
      "source verified independently, probe-only (no refit)") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Corpus.qCorpusTopics(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = Engine.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("top_source_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_sources") >= 1L)
    }
    // independent recompute of one cluster's dominant source
    val root = operators.Similarity.buildKmeansQuantizer(spark, sf)
    val c0 = rows.head.getAs[Int]("cluster")
    val want = spark.read.parquet(s"$root/assign")
      .select(col("cluster").cast("int").as("cluster"),
        col("vec_id").as("doc_id"))
      .where(col("cluster") === c0)
      .join(Engine.table(spark, sf, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source").count().collect()
      .map(r => (r.getLong(1), r.getString(0))).max
    assert((rows.head.getAs[Long]("top_source_docs"),
      rows.head.getAs[String]("top_source")) === want)
    // deterministic across runs (probe-only — the store is fixed)
    val again = operators.Corpus.qCorpusTopics(spark, sf).collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("classifier score: deterministic, zero-shuffle projection, " +
      "sign threshold splits the corpus") {
    val a = operators.TextOps.qTextClassifierScore(spark, sf).collect()
    val b2 = operators.TextOps.qTextClassifierScore(spark, sf).collect()
    assert(a.toSeq === b2.toSeq)
    val kept = a.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < a.length,
      s"degenerate threshold: $kept/${a.length} kept")
    // no exchange in the plan: the score is a scan-side projection
    val plan = operators.TextOps.qualityLinearScore(
      Engine.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "classifier score must not shuffle")
  }

  test("packing invariants hold across budgets; short docs pass through " +
      "span dedup untouched") {
    import org.apache.spark.sql.functions._
    val docs = Engine.table(spark, sf, "documents")
    for (b <- Seq(64L, 333L, 1000000000L)) {
      val plan = sources.Staging.scoped(
        operators.Packing.packPlan(docs, b).collect())
      val total = docs.select(expr("sum(size(split(text, ' ')))"))
        .first().getLong(0)
      assert(plan.map(_.getAs[Long]("n_tokens")).sum === total, s"budget $b")
      plan.dropRight(1).foreach(r =>
        assert(r.getAs[Long]("n_tokens") === b, s"budget $b"))
      assert(plan.map(_.getAs[Long]("n_docs_starting")).sum === docs.count())
      if (b == 1000000000L) assert(plan.length === 1) // one giant chunk
    }
    // span dedup: a doc shorter than SegWidth has no dedup candidates —
    // its text survives verbatim (tail-only path), n_segments = 0
    val sp = spark
    import sp.implicits._
    val tiny = Seq((1L, "alpha beta"), (2L, "alpha beta"),
      (3L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val out = operators.Curation.dedupSpansKeepFirst(tiny)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("text_clean") === "alpha beta")
    assert(out(1).getAs[String]("text_clean") === "alpha beta") // both kept
    assert(out(0).getAs[Long]("n_segments") === 0L)
    assert(out(2).getAs[Long]("n_segments") === 1L)
    assert(out(2).getAs[String]("text_clean")
      === "one two three four five six seven eight nine")
  }

  test("LSH ANN: signatures deterministic, candidates bucket-bounded, " +
      "nontrivial overlap with brute-force top-k") {
    import org.apache.spark.sql.functions.col
    val lsh = operators.Similarity.qSimLsh(spark, sf).collect()
    assert(lsh.length === 20)
    // every candidate's bucket is within hamming 1 of the query's
    val sigs = lsh.map(_.getAs[Long]("sig")).distinct
    val qsig = sigs.head
    sigs.foreach(s => assert(java.lang.Long.bitCount(s ^ qsig) <= 2,
      s"buckets $qsig and $s differ by >1 flip each from the query sig"))
    // deterministic
    val again = operators.Similarity.qSimLsh(spark, sf).collect()
    assert(lsh.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // recall floor vs exact top-20 (deterministic fixture — 6-bit
    // single-table multiprobe is a coarse filter; >0 proves the probe
    // reaches the true neighborhood, the oracle pins exact behavior)
    val brute = operators.Similarity.qSimBruteForce(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val overlap = lsh.map(_.getLong(0)).count(brute.contains)
    assert(overlap >= 3, s"LSH found only $overlap of exact top-20")
  }

  test("PQ: codes well-formed, ADC approximates the true score, " +
      "reranked output exact and deterministic") {
    import org.apache.spark.sql.functions._
    val root = operators.Similarity.buildPqStore(spark, sf)
    // store shape: one code word per corpus vector, M codes in [0, K)
    val codes = spark.read.parquet(s"$root/codes")
    val e = Engine.table(spark, sf, "embeddings")
    assert(codes.count() === e.count())
    assert(codes.filter(size(col("codes"))
      =!= operators.Similarity.PqM).count() === 0)
    assert(codes.filter(exists(col("codes"),
      c => c < 0 || c >= operators.Similarity.PqK)).count() === 0)
    val cb = spark.read.parquet(s"$root/codebook")
    assert(cb.count() ===
      operators.Similarity.PqM * operators.Similarity.PqK)
    // probe: every reported cos equals an independent exact recompute,
    // and the ADC estimate sits near it (quantization error, not noise)
    val out = operators.Similarity.qSimPq(spark, sf).collect()
    assert(out.length === 20)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    val q = vecs(vecs.keys.min)
    out.foreach { r =>
      val exact = q.zip(vecs(r.getLong(0)))
        .map { case (a, b) => a.toDouble * b.toDouble }.sum
      val want = math.floor(exact * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("cos") === want)
      assert(math.abs(r.getAs[Double]("adc") - exact) < 0.5,
        s"ADC ${r.getAs[Double]("adc")} far from exact $exact")
    }
    // deterministic probe (integer-exact ADC → stable shortlist)
    val again = operators.Similarity.qSimPq(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // certificate claims hold locally too
    val cert = operators.Similarity.qSimPqRecall(spark, sf).first()
    assert(cert.getAs[Boolean]("recall_ok"))
    assert(cert.getAs[Boolean]("best_found"))
  }

  test("hard negatives: every pick inside the band, ranked, never the " +
      "anchor itself") {
    import operators.Similarity.{HardNegLo, HardNegHi}
    val out = operators.Similarity.qHardNegatives(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val cos = r.getAs[Double]("cos")
      assert(cos >= HardNegLo && cos < HardNegHi, s"out of band: $r")
      assert(r.getAs[Int]("rk") >= 1 && r.getAs[Int]("rk") <= 5)
      assert(r.getAs[Long]("anchor_id") !== r.getAs[Long]("vec_id"))
    }
    // within an anchor, ranks are dense and cosine non-increasing
    out.groupBy(_.getAs[Long]("anchor_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq ===
        (1 to sorted.length).toSeq)
      val coss = sorted.map(_.getAs[Double]("cos"))
      assert(coss.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("IVF-PQ: probed clusters only, exact rerank scores, certificate " +
      "holds with both quantizers in the loop") {
    import org.apache.spark.sql.functions._
    val root = operators.Similarity.buildIvfPqStore(spark, sf)
    // codes store carries the cluster partition and well-formed words
    val codes = spark.read.parquet(s"$root/codes")
    val e = Engine.table(spark, sf, "embeddings")
    assert(codes.count() === e.count())
    assert(codes.filter(size(col("codes"))
      =!= operators.Similarity.PqM).count() === 0)
    val out = operators.Similarity.qSimIvfPq(spark, sf).collect()
    assert(out.length === 20)
    // reported cos is the exact dot (rerank contract)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    val q = vecs(vecs.keys.min)
    out.foreach { r =>
      val exact = q.zip(vecs(r.getLong(0)))
        .map { case (a, b) => a.toDouble * b.toDouble }.sum
      assert(r.getAs[Double]("cos") ===
        math.floor(exact * 1e6 + 0.5) / 1e6)
    }
    // deterministic
    val again = operators.Similarity.qSimIvfPq(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // certificate: recall floor vs brute force (best_found additionally
    // requires the true NN's cluster to be probed — asserted at the
    // driver's sf0.01 gate, where it holds)
    val cert = operators.Similarity.qSimIvfPqRecall(spark, sf).first()
    assert(cert.getAs[Boolean]("recall_ok"))
  }

  test("IVF incremental add: appended vectors get the nearest stored " +
      "centroid and are findable through the standard probe") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_add").toString
    val e = Engine.table(spark, sf, "embeddings")
    val base = e.filter(col("vec_id") % 2 === 0)
    val incoming = e.filter(col("vec_id") % 2 === 1)
    // private store, build layout = buildKmeansQuantizer's
    val assigned = operators.Similarity.kmeansAssign(base).persist()
    assigned.write.partitionBy("cluster").parquet(s"$tmp/assign")
    operators.Similarity.centroids(
      assigned.drop("label").withColumnRenamed("cluster", "label"))
      .withColumnRenamed("label", "cluster")
      .coalesce(1).write.parquet(s"$tmp/centroids")
    assigned.unpersist()
    operators.Similarity.appendToKmeansStore(spark, tmp, incoming)
    val store = spark.read.parquet(s"$tmp/assign")
    assert(store.count() === e.count())
    assert(store.select("vec_id").distinct().count() === e.count())
    // sampled appended vector: stored cluster == independent argmin
    val sample = incoming.orderBy("vec_id").limit(1).collect()(0)
    val sampleId = sample.getLong(0)
    val emb = sample.getSeq[Float](sample.fieldIndex("embedding"))
    val cents = spark.read.parquet(s"$tmp/centroids").collect()
      .map(r => r.getAs[Number]("cluster").longValue() ->
        r.getSeq[Double](r.fieldIndex("centroid")))
    val want = cents.map { case (c, cent) =>
      val d = emb.zip(cent).map { case (a, b) =>
        (a.toDouble - b) * (a.toDouble - b) }.sum
      (d, c)
    }.min._2
    val got = store.filter(col("vec_id") === sampleId)
      .select("cluster").first().getInt(0)
    assert(got.toLong === want, s"vec $sampleId assigned $got, want $want")
    // findable via the shared probe path (all clusters probed)
    val q = incoming.orderBy("vec_id").limit(1)
      .select(lit(-1L).as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    val hits = operators.Similarity.probeKmeansStore(spark, tmp, q,
      nprobe = cents.length, topk = store.count().toInt)
    assert(hits.filter(col("vec_id") === sampleId).count() === 1)
  }

  test("profiler: column-pruned Expand-free branches; stats match " +
      "per-column recomputation") {
    import org.apache.spark.sql.functions._
    val orders = Engine.table(spark, sf, "orders")
    val prof = operators.Profile.profile(orders,
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    val plan = prof.queryExecution.executedPlan.toString
    // r19 optimization: one single-distinct aggregate branch per column
    // (k column-pruned scans read the same bytes as one k-column scan)
    // instead of one multi-distinct aggregate whose Expand multiplied
    // every input row ×(k+1). Pin BOTH properties: no Expand anywhere,
    // and every branch's scan reads exactly one column.
    assert(!plan.contains("Expand"),
      "exact profiler must not multiply scan rows")
    assert(plan.split("Scan parquet").length - 1 === 3,
      "profiling 3 columns = 3 column-pruned aggregate branches")
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("o_orderkey").getAs[Long]("n_distinct") === orders.count())
    assert(rows("o_orderstatus").getAs[Long]("n_distinct")
      === orders.select("o_orderstatus").distinct().count())
    assert(rows("o_totalprice").getAs[String]("max_value").toDouble
      === orders.agg(max("o_totalprice")).first().getDouble(0))
    // HLL variant: no Expand in the plan, estimates within rsd of exact
    val approx = operators.Profile.profileApprox(orders,
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profiler must not multiply scan rows")
    val apx = approx.collect().map(r => r.getString(0) -> r).toMap
    val exactKeys = rows("o_orderkey").getAs[Long]("n_distinct").toDouble
    val estKeys = apx("o_orderkey").getAs[Long]("n_distinct").toDouble
    assert(math.abs(estKeys - exactKeys) / exactKeys < 0.10,
      s"HLL estimate $estKeys vs exact $exactKeys")
    // histogram buckets partition the rows exactly
    val hist = operators.Profile.histogram(orders, "o_totalprice", 100000.0)
      .collect()
    assert(hist.map(_.getAs[Long]("n_rows")).sum === orders.count())
    hist.foreach { r =>
      assert(r.getAs[Double]("lo") >= r.getAs[Long]("bucket") * 100000.0)
      assert(r.getAs[Double]("hi") < (r.getAs[Long]("bucket") + 1) * 100000.0)
    }
  }

  test("span dedup keep-first: planted span survives only at its first " +
      "occurrence; boilerplate strips all copies") {
    import org.apache.spark.sql.functions.col
    val out = Curation.qSpanDedup(spark, sf)
      .select("doc_id", "text_clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = out.keys.filter(_ % 4 == 0).toSeq.sorted
    val firstDoc = planted.head
    assert(out(firstDoc).startsWith(Curation.SpanShared),
      s"first planted doc $firstDoc must KEEP the shared span")
    planted.tail.foreach { d =>
      assert(!out(d).contains(Curation.SpanShared),
        s"doc $d must have the shared span removed (kept-first elsewhere)")
    }
    // un-planted docs: spans unique in the corpus are untouched
    val docs = Engine.table(spark, sf, "documents")
    val orig = docs.filter(col("doc_id") % 4 =!= 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = orig.count { case (d, txt) => out(d) == txt }
    // word-soup corpora do contain natural repeats; most docs survive
    assert(untouched * 10 > orig.size * 5,
      s"only $untouched/${orig.size} unplanted docs unchanged")
  }

  // BM25/RRF properties asserted INDEPENDENTLY of the DuckDB oracle
  // (the oracle mirrors the same formula construction, so a shared
  // formula error would pass both sides — these pin the ranking
  // semantics on hand-built frames instead).

  test("bm25: all-terms doc outranks partial at equal length; " +
      "zero-term doc is filtered") {
    val s = spark
    import s.implicits._
    val pad = "filler words here now"  // keeps dl equal across probes
    val docs = Seq(
      (1L, s"hash join scan $pad"),
      (2L, s"hash alpha beta $pad"),
      (3L, s"alpha beta gamma $pad")).toDF("doc_id", "text")
    val out = Lexicon.bm25TopK(docs, Seq("hash", "join", "scan"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bm25")).toMap
    assert(!out.contains(3L), "doc with no query terms must score 0 and drop")
    assert(out(1L) > out(2L),
      s"all-terms doc must outrank single-term doc at equal dl: $out")
    assert(out.values.forall(_ > 0.0))
  }

  test("bm25 df monotonicity: rarer term contributes higher idf at " +
      "equal tf and dl") {
    val s = spark
    import s.implicits._
    // "common" in 8 background docs, "rare" in none; two equal-length
    // probes each hit exactly one term once
    val background = (10L to 17L).map(i => (i, s"common text body $i pad"))
    val docs = (background ++ Seq(
      (1L, "rare one two three four"),
      (2L, "common one two three four"))).toDF("doc_id", "text")
    val out = Lexicon.bm25TopK(docs, Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bm25")).toMap
    assert(out(1L) > out(2L),
      s"df(rare)=1 < df(common)=9 must rank the rare-term probe higher: $out")
  }

  test("rrf identity: fused score is exactly the sum of fixed-point " +
      "1/(k+rank) contributions") {
    val k = Similarity.RrfK
    def contrib(rank: java.lang.Long): Long =
      if (rank == null) 0L
      else math.floor(1000000.0 / (k + rank.longValue) + 0.5).toLong
    val rows = Similarity.qRetrievalRrf(spark, sf).collect()
    assert(rows.nonEmpty)
    var both = 0
    rows.foreach { r =>
      val vr = r.getAs[java.lang.Long]("vec_rank")
      val lr = r.getAs[java.lang.Long]("lex_rank")
      if (vr != null && lr != null) both += 1
      val expected = (contrib(vr) + contrib(lr)).toDouble / 1000000.0
      assert(r.getAs[Double]("rrf_score") === expected,
        s"doc ${r.getAs[Long]("doc_id")}: vr=$vr lr=$lr")
    }
    // ranks are 1-based and each list holds 10: a one-list doc scores
    // at most 1/(k+1), a both-lists doc at least 2/(k+10)
    rows.foreach { r =>
      val score = r.getAs[Double]("rrf_score")
      assert(score > 0.0 && score <= 2.0 / (k + 1) + 1e-9)
    }
  }

  test("canonical selection: exactly one canonical per family, and it " +
      "maximizes quality (ties to lowest doc_id)") {
    val out = Dedup.qDedupCanonical(spark, sf).collect()
    val q = Corpus.scoredDocs(
      Engine.table(spark, sf, "documents"))
      .select("doc_id", "q").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val families = out.groupBy(_.getAs[Long]("canonical"))
    families.foreach { case (canon, members) =>
      val canonRows = members.filter(_.getAs[Boolean]("is_canonical"))
      assert(canonRows.length === 1,
        s"family of $canon: ${canonRows.length} canonical rows")
      assert(canonRows.head.getAs[Long]("doc_id") === canon)
      assert(members.forall(_.getAs[Long]("group_size") === members.length))
      val best = members.map(m => m.getAs[Long]("doc_id"))
        .minBy(id => (-q(id), id))
      assert(best === canon,
        s"family of $canon: argmax-quality member is $best")
    }
    // multi-doc families exist in the fixture (planted near-dups)
    assert(families.exists(_._2.length > 1))
  }

  test("dsir: target-language docs weigh higher than off-target on " +
      "average, and the fit is a bounded 256-long artifact") {
    val docs = Engine.table(spark, sf, "documents")
    val contrib = Corpus.dsirContrib(docs)
    assert(contrib.length === Corpus.DsirDim)
    val scored = docs
      .select(col("lang"), Corpus.dsirScore(contrib, "text").as("w"),
        expr("CAST(size(filter(split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT)").as("n"))
      .where(col("n") > 0)
      .select(col("lang"), (col("w").cast("double") / col("n")).as("wpt"))
      .groupBy(col("lang") === "en").agg(avg(col("wpt")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(scored(true) > scored(false),
      s"per-token importance: en=${scored(true)} other=${scored(false)}")
  }

  test("bpe training: merge sequence on a hand-built corpus, with a " +
      "later merge consuming an earlier merged symbol") {
    val s = spark
    import s.implicits._
    // "abab" x2: step 0 merges (a,b) [4 occurrences beats (b,a)'s 2] in
    // BOTH positions — adjacent repeats are the delimiter-overlap trap;
    // step 1 merges (ab,ab) [2], reachable only THROUGH step 0's symbol.
    // The lone surviving word has no pairs left, so the loop stops early.
    val docs = Seq((1L, "abab abab")).toDF("doc_id", "text")
    val out = Lexicon.bpeTrain(docs, merges = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((0, "a~b", 4L), (1, "ab~ab", 2L)))
  }

  test("bpe encode: trained merges compress — pieces per word strictly " +
      "between 1 and the raw character count") {
    val enc = Lexicon.qBpeEncode(spark, sf).collect()
    assert(enc.nonEmpty)
    val stats = Engine.table(spark, sf, "documents")
      .select(col("doc_id"),
        (length(col("text"))
          - length(regexp_replace(col("text"), " ", ""))).as("spaces"),
        length(regexp_replace(col("text"), " ", "")).as("chars"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    enc.foreach { r =>
      val (id, words, pieces) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pieces >= words, s"doc $id: a word is at least one piece")
      assert(pieces < stats(id),
        s"doc $id: merges must beat character-level ($pieces vs ${stats(id)})")
    }
  }

  test("bpe tokenizer store: build once, probe twice — repeat gates " +
      "read the published artifact without retraining") {
    // first ensure (may build, or find a store published by an earlier
    // session — the artifact persists in tmpdir by design)
    Lexicon.qBpeTrain(spark, sf).collect()
    val after1 = Lexicon.bpeBuilds.get()
    // both gates again: must be pure store reads, zero new builds
    val train = Lexicon.qBpeTrain(spark, sf).collect()
    val enc = Lexicon.qBpeEncode(spark, sf).collect()
    assert(Lexicon.bpeBuilds.get() === after1,
      "repeat train/encode gates retrained the tokenizer")
    assert(train.nonEmpty && enc.nonEmpty)
    // and the stored merge table is what ad-hoc training computes
    val live = Lexicon.bpeTrain(Engine.table(spark, sf, "documents"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(train.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq === live.toSeq)
  }

  test("ccnet buckets: partition each language completely, ordered " +
      "head < middle < tail by mean perplexity") {
    val out = Lexicon.qCcnetBuckets(spark, sf).collect()
    val perLang = out.groupBy(_.getString(0))
    val docTotals = Engine.table(spark, sf, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rows) =>
      val byBucket = rows.map(r =>
        r.getString(1) -> (r.getAs[Long]("n_docs"),
          r.getAs[Double]("mean_nlp"))).toMap
      assert(byBucket.keySet === Set("head", "middle", "tail"),
        s"$lang: ${byBucket.keySet}")
      assert(byBucket.values.map(_._1).sum === docTotals(lang),
        s"$lang: buckets must partition the language")
      assert(byBucket("head")._2 < byBucket("middle")._2
        && byBucket("middle")._2 < byBucket("tail")._2,
        s"$lang: mean perplexity must increase head->tail: $byBucket")
      // value-based thresholds: each tercile is N/3 up to tie mass
      val n = docTotals(lang)
      assert(byBucket("head")._1 >= n / 3,
        s"$lang: head holds at least floor(N/3)")
    }
  }

  test("plan shapes: gopher rules and dsir scoring are shuffle-free " +
      "scan projections; quantization too") {
    val docs = Engine.table(spark, sf, "documents")
    // gopher: the only exchange is the presentation sort
    val gopherPlan = TextOps.gopherRules(docs)
      .queryExecution.executedPlan.toString
    assert(gopherPlan.indexOf("Exchange") ===
      gopherPlan.lastIndexOf("Exchange"),
      "gopher rule battery must not shuffle beyond the final sort")
    val contrib = Corpus.dsirContrib(docs)
    val dsirPlan = docs
      .select(Corpus.dsirScore(contrib, "text").as("w"))
      .queryExecution.executedPlan.toString
    assert(!dsirPlan.contains("Exchange"),
      "dsir scoring must be scan-side once the model is fitted")
    val quantPlan = Similarity.qEmbedQuantize(spark, sf)
      .queryExecution.executedPlan.toString
    // quantization's only exchange is the presentation sort
    assert(quantPlan.indexOf("Exchange") ===
      quantPlan.lastIndexOf("Exchange"))
  }

  test("winnowing: a long unique shared run pairs two docs; unrelated " +
      "docs never pair; a ubiquitous run is ignored") {
    val s = spark
    import s.implicits._
    val shared = "zq1 wx2 vj3 kp4 mh5 gt6 rb7 nc8 ld9 fy0 zq1b wx2b"
    // tokens "<p>z<i>q<p>": across different prefixes the longest common
    // substring is "z<i>q" (<= 5 chars), below the k=8 gram width — so
    // noise blocks never share a fingerprint
    def noise(p: String) = (1 to 20).map(i => s"${p}z${i}q$p").mkString(" ")
    val common = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"
    // 1 & 2 embed the same 50-char unique run in different contexts;
    // 3 is unrelated; 4..20 all carry `common`, pushing its
    // fingerprints past the ubiquity cap
    val docs = (Seq(
      (1L, s"${noise("ka")} $shared ${noise("kb")}"),
      (2L, s"${noise("kc")} $shared ${noise("kd")}"),
      (3L, s"${noise("ke")} ${noise("kf")}")) ++
      (4L to 20L).map(i => (i, s"${noise(s"m${('a' + i.toInt - 4).toChar}")} $common")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // coverage theorem: every match >= w+k-1 = 11 chars shares a
    // fingerprint; the ~50-char run yields >> 5 shared rare prints
    assert(pairs === Set((1L, 2L)), s"got $pairs")
    // and the gate output on the real corpus is nonempty + oracle-shaped
    assert(Dedup.qDedupWinnow(spark, sf).count() > 0)
  }

  test("winnow index store: incremental append pairs new docs against " +
      "affected fingerprints only") {
    val s = spark
    import s.implicits._
    val sharedNew = "zq1 wx2 vj3 kp4 mh5 gt6 rb7 nc8 ld9 fy0 zq1b wx2b"
    val sharedOld = "ao1 bp2 cq3 dr4 es5 ft6 gu7 hv8 iw9 jx0 ao1b bp2b"
    def noise(p: String) = (1 to 20).map(i => s"${p}z${i}q$p").mkString(" ")
    // base corpus: docs 4 & 5 share a run (an OLD-OLD pair); doc 2
    // carries the run the incoming doc will match; doc 3 is unrelated
    val base = Seq(
      (2L, s"${noise("kc")} $sharedNew ${noise("kd")}"),
      (3L, s"${noise("ke")} ${noise("kf")}"),
      (4L, s"${noise("kg")} $sharedOld ${noise("kh")}"),
      (5L, s"${noise("ki")} $sharedOld ${noise("kj")}"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-winnow-idx").toString
    Dedup.writeWinnowIndex(base, root)
    // full pairing over the stored base index sees the old-old pair
    val basePairs = Dedup.winnowPairs(base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(basePairs === Set((4L, 5L)), s"base: $basePairs")
    // append one new doc matching doc 2; incremental pairing must find
    // exactly (1,2) — and must NOT recount the untouched (4,5) pair
    val batch = Seq((1L, s"${noise("ka")} $sharedNew ${noise("kb")}"))
      .toDF("doc_id", "text")
    Dedup.appendToWinnowIndex(spark, root, batch)
    val inc = Dedup.incrementalWinnowPairs(spark, root, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === Set((1L, 2L)), s"incremental: $inc")
    // and the updated index, paired in full, agrees with a from-scratch
    // recompute over base ∪ batch
    val full = Dedup.winnowPairs(base.unionByName(batch)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (4L, 5L)), s"full: $full")
  }

  test("winnowing: a document past the position-field width raises " +
      "instead of silently corrupting fingerprints") {
    val s = spark
    import s.implicits._
    val big = "ab " * (Dedup.WinnowMaxLen / 3 + 1) // > 2^20 - 1 chars
    val docs = Seq((1L, big), (2L, "a short ordinary document"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] { Dedup.winnowFingerprints(docs).count() }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage))
      .mkString("; ")
    assert(chain.contains("winnowFingerprints"), chain)
  }

  test("int8 quantization: reconstruction error bounded by scale/2 and " +
      "cosine stays near 1") {
    val rows = Similarity.qEmbedQuantize(spark, sf).collect()
    assert(rows.length === Engine.table(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val (sc, cos, err) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(sc > 0.0)
      // |v - round(v/s)*s| <= s/2 by construction (+1e-6 for the
      // fixed-point rounding of both reported columns)
      assert(err <= sc / 2 + 1e-6, s"vec ${r.getLong(0)}: err=$err sc=$sc")
      assert(cos > 0.99 && cos <= 1.0 + 1e-6,
        s"vec ${r.getLong(0)}: recon cos=$cos")
    }
  }

  test("contamination ratio: bounded, and its zero/nonzero split agrees " +
      "with the binary decontaminate gate") {
    val frac = Curation.qDecontaminateFrac(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_hits"), r.getAs[Double]("overlap_frac"))).toMap
    val binary = Curation.qDecontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(frac.keySet === binary.keySet)
    frac.foreach { case (id, (grams, hits, f)) =>
      assert(hits <= grams && f >= 0.0 && f <= 1.0, s"doc $id")
      assert((f > 0.0) === binary(id),
        s"doc $id: frac=$f vs binary=${binary(id)}")
    }
    assert(frac.values.exists(_._3 > 0.0), "fixture plants contamination")
  }

  test("gopher rules: each rule rejects its own violation on hand-built " +
      "fixtures") {
    val s = spark
    import s.implicits._
    val good = (("the join hash row scan " * 10)
      + ("solid words here " * 12)).trim
    val docs = Seq(
      (1L, good),                                   // passes all rules
      (2L, "the join of too few words"),            // word count < 50
      (3L, ("a b c d e the join k " * 8).trim),     // mean word len < 3
      (4L, good.replace("solid", "#####")),         // symbol ratio + alpha
      (5L, ("lorem ipsum dolor sit amet " * 12).trim) // < 2 required stops
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("bpe pair counts: vocab-weighted adjacent pairs on a hand-built " +
      "frame") {
    val s = spark
    import s.implicits._
    // vocab: "ab"×3 (pairs: ab), "abc"×1 (ab, bc), "x"×1 (no pairs)
    val docs = Seq((1L, "ab ab x"), (2L, "ab abc")).toDF("doc_id", "text")
    val out = Lexicon.bpePairs(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("ab" -> 4L, "bc" -> 1L))
  }
}
