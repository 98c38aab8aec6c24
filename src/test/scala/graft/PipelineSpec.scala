package graft

import graft.operators.{Curation, Dedup, Pipeline, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-cleaning pipeline invariants: the kept set contains no
  * low-quality doc, no two identical texts, and no near-dup pair; every
  * doc carries exactly one drop_reason; and — the keeper/quality
  * interaction — a content cluster whose minimum doc_id is low-quality
  * still keeps its best surviving representative. */
class PipelineSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val sf = TestSession.sf

  private lazy val kept =
    Pipeline.cleanCorpus(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet

  private lazy val audit =
    Pipeline.auditCorpus(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("drop_reason"))
      .toMap

  test("pipeline output is deterministic and nonempty") {
    val again = Pipeline.cleanCorpus(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept.nonEmpty && kept === again)
  }

  test("no low-quality document survives") {
    val low = TextOps.qTextQuality(spark, sf)
      .filter(col("quality_band") === "low")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((kept & low).isEmpty)
  }

  test("no two kept documents share a text fingerprint") {
    val docs = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .filter(r => kept(r.getLong(0)))
    val dupFps = docs.groupBy(_.getString(1)).filter(_._2.length > 1)
    assert(dupFps.isEmpty, s"kept exact dups: ${dupFps.keys.take(3)}")
  }

  test("no near-dup pair survives within the kept set") {
    val pairs = Dedup.qDedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val surviving = pairs.filter(p => kept(p._1) && kept(p._2))
    assert(surviving.isEmpty, s"kept near-dup pairs: ${surviving.take(3)}")
  }

  test("audit covers every doc, agrees with the kept set, and every " +
      "reason is consistent") {
    val all = Engine.table(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(audit.keySet === all)
    val reasons = Set("kept", "quality", "exact_dup", "near_dup")
    assert(audit.values.forall(reasons))
    assert(audit.collect { case (d, "kept") => d }.toSet === kept)
    val low = TextOps.qTextQuality(spark, sf)
      .filter(col("quality_band") === "low")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(audit.collect { case (d, "quality") => d }.toSet === low)
  }

  // --- the keeper/quality interaction, adversarially ------------------------

  /** ~30 alpha tokens, stopword-rich → 'good' band. */
  private val base = "the quick brown fox and the lazy dog of the green " +
    "meadow run and jump over the fence and the river of light in the " +
    "morning sun and the evening calm"

  /** Fixture: docs 1-3 form one near-dup content cluster whose MINIMUM
    * doc_id (1) is low-quality (digit-spam suffix: alpha ratio diluted,
    * token count pushed past 400); docs 5-6 are an identical-text pair;
    * doc 4 is an unrelated singleton. */
  private val fixture = Seq(
    1L -> (base + " 0000" * 420),
    2L -> base,
    3L -> (base + " indeed the meadow waits"),
    4L -> ("a calm gentle evening with soft tea and the slow hum of wind " +
      "in tall trees beside the winding water under a wide quiet sky full " +
      "of small pale stars"),
    5L -> ("history tells of the long winding road and the many of us who " +
      "walk it with hope and the will of the heart through every season"),
    6L -> ("history tells of the long winding road and the many of us who " +
      "walk it with hope and the will of the heart through every season"))

  private def fixtureDf = {
    val s = spark
    import s.implicits._
    fixture.toDF("doc_id", "text")
  }

  test("fixture is genuinely adversarial: doc 1 is low-quality AND the " +
      "min doc_id of a real near-dup cluster") {
    val bands = TextOps.qualityOf(fixtureDf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("quality_band"))
      .toMap
    assert(bands(1L) === "low", s"doc 1 band = ${bands(1L)}")
    assert((2L to 6L).forall(d => bands(d) != "low"),
      s"fixture docs 2-6 must pass quality: $bands")
    // under keeper-over-full-corpus semantics the cluster keeper would
    // be 1 — which the quality gate then deletes
    val pairs = Dedup.minhashPairs(fixtureDf, rebalance = false)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 3L)),
      s"doc 1 must be a near-dup of the cluster; pairs = $pairs")
    assert(pairs.contains((2L, 3L)), s"docs 2,3 must be near-dups: $pairs")
  }

  test("a cluster whose min doc_id is low-quality keeps its best " +
      "surviving representative") {
    val reasons = Pipeline.auditOf(fixtureDf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("drop_reason"))
      .toMap
    assert(reasons === Map(
      1L -> "quality",   // fails the gate — NOT a keeper that nukes 2,3
      2L -> "kept",      // cluster representative among survivors
      3L -> "near_dup",
      4L -> "kept",
      5L -> "kept",      // exact-pair representative
      6L -> "exact_dup"))
    val cleanIds = Pipeline.cleanOf(fixtureDf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(cleanIds === Set(2L, 4L, 5L))
  }

  test("train-ready tail: conserves the cleaned corpus, filters strictly") {
    import org.apache.spark.sql.functions._
    val sf = TestSession.sf
    val docs = Engine.table(spark, sf, "documents")
    val manifest = sources.Staging.scoped(
      Pipeline.trainReady(docs, operators.Packing.PackBudget).collect())
    val b = operators.Packing.PackBudget
    // classifier keeps a strict, nonempty subset
    val nKept = docs.where(TextOps.scoreMicro("text") > 0L).count()
    assert(nKept > 0 && nKept < docs.count())
    // every doc surviving the gate starts in exactly one chunk
    assert(manifest.map(_.getAs[Long]("n_docs_starting")).sum === nKept)
    // packed tokens = tokens of the span-deduped kept corpus, conserved
    val cleanedToks = Curation.dedupSpansKeepFirst(
      docs.where(TextOps.scoreMicro("text") > 0L)
        .select("doc_id", "text"))
      .select(expr("sum(size(split(text_clean, ' ')))")).first().getLong(0)
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum === cleanedToks)
    manifest.dropRight(1).foreach(r =>
      assert(r.getAs[Long]("n_tokens") === b))
  }

  test("release pipeline: manifest bounds hold, no benchmark or flagged " +
      "doc ever reaches the mix") {
    import org.apache.spark.sql.functions.col
    val rel = operators.Pipeline.qPipelineRelease(spark, sf).collect()
    assert(rel.nonEmpty)
    rel.foreach { r =>
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"),
        s"sampled more than survived: $r")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
    // total survivors can never exceed the non-benchmark corpus
    val corpus = Engine.table(spark, sf, "documents")
      .filter(col("doc_id") % 9 =!= 0).count()
    assert(rel.map(_.getAs[Long]("n_docs")).sum <= corpus)
  }
}
