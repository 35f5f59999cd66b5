package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row text-shingling kernels.
  *
  * Spark's higher-order functions evaluate their lambda interpreted, PER
  * ELEMENT — a tokenize→shingle→hash pipeline over a 300-token document
  * costs ~1000 interpreted expression evals per row, which dominated the
  * near-dup queries. These expressions do the whole pipeline in one plain
  * JVM loop per ROW (CodegenFallback — one virtual call per row is noise;
  * the win is eliminating per-element interpretation).
  *
  * Hash function: FNV-1a 64 over the shingle bytes + splitmix64 avalanche.
  * Near-dup semantics depend only on hash-set EQUALITY relations (Jaccard
  * counts), not hash values, so any well-mixed injective-ish hash yields
  * oracle-identical Jaccard scores (64-bit collisions: ~2⁻⁶⁴·|A|·|B|). */
object TextHashing {
  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Tokenize (lowercase, whitespace, drop empties) then hash every n-word
    * shingle; returns the sorted distinct hash set. */
  def shingleHashSet(text: UTF8String, n: Int): Array[Long] = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.emptyLongArray
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      // hash the joined shingle ("a_b_c") without building the string:
      // chain FNV over tokens with a separator byte
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        val b = toks(i + j).getBytes("UTF-8")
        var k = 0
        while (k < b.length) { h ^= (b(k) & 0xffL); h *= 0x100000001b3L; k += 1 }
        h ^= 0x5fL; h *= 0x100000001b3L   // '_' separator
        j += 1
      }
      out(i) = mix64(h)
      i += 1
    }
    val sorted = out.sorted.distinct
    sorted
  }
}

/** Sorted distinct hash set of word n-gram shingles of a text column. */
case class ShingleHashSet(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(t: Any): Any =
    new GenericArrayData(
      TextHashing.shingleHashSet(t.asInstanceOf[UTF8String], n))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** k-function MinHash signature over a hash-set column (array<bigint>):
  * sig[i] = min over the set of mix64(h ^ seed_i). One tight k·|set| loop
  * per row. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1)

  private val seeds: Array[Long] =
    Array.tabulate(k)(i => TextHashing.mix64(0x9e3779b97f4a7c15L * (i + 1)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < arr.numElements()) {
      val h = arr.getLong(e)
      var i = 0
      while (i < k) {
        val v = TextHashing.mix64(h ^ seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken's rolling-hash
  * scheme): k-char rolling polynomial hashes, then the minimum hash of each
  * sliding window of w hashes (rightmost-min rule) — the classic
  * plagiarism/near-dup fingerprint. One per-row loop; returns the sorted
  * distinct selected fingerprints. */
case class WinnowingFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2 && w >= 1)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_winnow expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toLowerCase.toString
    if (s.length < k) return new GenericArrayData(Array.emptyLongArray)
    val B = 1000003L
    // rolling polynomial hash over chars, finalized with mix64 so window
    // minima are well distributed
    var pow = 1L
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val n = s.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hs(0) = TextHashing.mix64(h)
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hs(i) = TextHashing.mix64(h)
      i += 1
    }
    if (n <= w) return new GenericArrayData(Array(hs.min).distinct.sorted)
    val selected = scala.collection.mutable.SortedSet.empty[Long]
    i = 0
    while (i + w <= n) {
      // rightmost minimal hash in window [i, i+w)
      var minIdx = i
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
      selected += hs(minIdx)
      i += 1
    }
    new GenericArrayData(selected.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API for the text kernels (SQL names: [[GraftFunctions.all]]). */
object TextFunctions {
  def shingles2(c: Column): Column = column(ShingleHashSet(expr(c), 2))
  def shingles3(c: Column): Column = column(ShingleHashSet(expr(c), 3))
  def minhash32(c: Column): Column = column(MinHashSignature(expr(c), 32))
  def winnow(c: Column): Column = column(WinnowingFingerprint(expr(c), 8, 4))
  /** 16-band LSH row generator (UDTF) over a 32-hash MinHash signature. */
  def minhashBands(c: Column): Column = column(MinHashBands(expr(c), 16))
}
