package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-document MinHash in ONE pass, no shuffle: walk the text's n-char
  * shingles with a rolling FNV-1a window, dedup hashes in an open-addressed
  * long set, and fold all permutation minima min(h·aᵢ+bᵢ) on the fly.
  * Returns struct<hs: array<long> (distinct shingle hashes), sig:
  * array<long> (one minimum per permutation)>.
  *
  * Why this beats the distributed formulation (explode → groupBy(doc_id) →
  * an all-permutation min aggregate + collect_set): a signature is a
  * per-document scalar — min over a multiset equals min over its distinct
  * set, so nothing about it requires an aggregation boundary. The
  * explode variant shuffles one row per shingle occurrence and rebuilds
  * the distinct set inside the aggregate; this computes both operands
  * where the text already lives, leaving the ONLY shuffle in the dedup
  * pipeline the (band, bhash) LSH join. At 100 TB that is the difference
  * between shuffling ~1000× the corpus (per-shingle rows) and shuffling
  * nothing. */
case class MinHashShingleSig(child: Expression, n: Int,
                             as: Array[Long], bs: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private val k = as.length

  override def dataType: DataType = StructType(Seq(
    StructField("hs", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "minhash_shingle_sig"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString
    val len = s.length
    val count = if (len < n) 1 else len - n + 1
    // open-addressing set; load factor ≤ 0.5. 0 marks an empty slot, so
    // an exact hash of 0 is tracked out-of-band rather than remapped.
    val cap = Integer.highestOneBit(math.max(4, count * 2 - 1)) * 2
    val table = new Array[Long](cap)
    val mask = cap - 1
    val hsOut = new Array[Long](count)
    var nDistinct = 0
    var zeroSeen = false
    val sig = Array.fill(k)(Long.MaxValue)

    @inline def record(h: Long): Unit = {
      hsOut(nDistinct) = h
      nDistinct += 1
      var i = 0
      while (i < k) {
        val p = h * as(i) + bs(i)
        if (p < sig(i)) sig(i) = p
        i += 1
      }
    }

    @inline def add(h: Long): Unit =
      if (h == 0L) {
        if (!zeroSeen) { zeroSeen = true; record(h) }
      } else {
        var idx = java.lang.Long.hashCode(h * 0x9e3779b97f4a7c15L) & mask
        while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = h; record(h) }
      }

    if (len < n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < len) { h ^= s.charAt(j).toLong; h *= 0x100000001b3L; j += 1 }
      add(h)
    } else {
      var i = 0
      while (i + n <= len) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + n) { h ^= s.charAt(j).toLong; h *= 0x100000001b3L; j += 1 }
        add(h)
        i += 1
      }
    }
    val hs = if (nDistinct == count) hsOut
    else java.util.Arrays.copyOf(hsOut, nDistinct)
    InternalRow(new GenericArrayData(hs), new GenericArrayData(sig))
  }

  override protected def withNewChildInternal(c: Expression): MinHashShingleSig =
    copy(child = c)
}

object MinHashShingleSig {
  /** struct(hs, sig) column: distinct n-gram shingle hashes + the full
    * MinHash signature, computed per row with no aggregation. Matches
    * ShingleHash64's hashing exactly (same FNV window, same short-text
    * degenerate case). */
  def minhashShingleSig(c: Column, n: Int,
                        params: Seq[(Long, Long)]): Column =
    GraftSqlBridge.column(
      MinHashShingleSig(GraftSqlBridge.expression(c), n,
        params.map(_._1).toArray, params.map(_._2).toArray))
}
