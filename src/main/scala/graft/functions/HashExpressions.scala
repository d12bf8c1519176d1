package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Native Catalyst expressions for the cross-engine signature
  * functions — single-pass per row, exact same values as the
  * higher-order-function formulations in [[CrossHash]] (and therefore
  * as the DuckDB oracles).
  *
  * Why native expressions and not `transform`/`aggregate` columns:
  * the HOF formulation re-evaluates the tokenize+hash subtree once
  * per minhash permutation (16x) / simhash bit (48x), and optimizer
  * rules (CollapseProject, filter pushdown through Generate) happily
  * duplicate the subtree further — observed 100x slowdowns at sf0.1.
  * One opaque expression computes the signature in a single pass over
  * the text, is free to be duplicated by the optimizer (it costs
  * microseconds), and keeps the whole stage pipelined. This is
  * preference order (b) of the build contract: a custom Expression
  * where composition genuinely can't express the cost model.
  */
object HashOps {
  val P: Long = CrossHash.P

  /** Left-fold char hash — identical to CrossHash.charFold /
    * sqlCharFold (ASCII payloads: codepoint == UTF-16 unit).
    */
  def charFold(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
    h
  }

  /** Whitespace tokens, empties dropped (== CrossHash.tokens). */
  def tokenize(text: String): Array[String] =
    text.split(" ", -1).filter(_.nonEmpty)

  /** Distinct word n-gram '_'-joined shingle hashes (first-occurrence
    * distinct, matching array_distinct semantics; order irrelevant to
    * min/majority consumers).
    */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < n) return Array.empty
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + n <= toks.length) {
      seen += toks.slice(i, i + n).mkString("_")
      i += 1
    }
    seen.iterator.map(charFold).toArray
  }

  def distinctTokenHashes(text: String): Array[Long] = {
    val seen = mutable.LinkedHashSet.empty[String]
    tokenize(text).foreach(seen += _)
    seen.iterator.map(charFold).toArray
  }

  /** K minhash values over a hash set, one pass. */
  def minhash(hashes: Array[Long]): Array[Long] = {
    val out = Array.fill(CrossHash.MinhashK)(Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var k = 0
      while (k < CrossHash.MinhashK) {
        val v = (h * CrossHash.minhashA(k) + CrossHash.minhashB(k)) % P
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    out
  }

  /** 48-bit simhash over a hash set, one pass. */
  def simhash(hashes: Array[Long]): Long = {
    val n = hashes.length
    var sig = 0L
    var k = 0
    while (k < CrossHash.SimhashBits) {
      var ones = 0
      var i = 0
      while (i < n) {
        if (((hashes(i) * CrossHash.simhashA(k) + CrossHash.simhashB(k)) % P) % 2 == 1) ones += 1
        i += 1
      }
      if (2 * ones > n) sig |= (1L << k)
      k += 1
    }
    sig
  }

  // ---------------------------------------------------------------- codegen
  // entry points: static-forwarder methods the generated Java calls —
  // one virtual call per row keeps the enclosing WholeStageCodegen
  // span intact instead of forcing interpreted fallback.

  def minhashSigData(t: UTF8String, n: Int): ArrayData = {
    val hs = shingleHashes(t.toString, n)
    if (hs.isEmpty) new GenericArrayData(Array.fill[Any](CrossHash.MinhashK)(null))
    else new GenericArrayData(minhash(hs).map(Long.box))
  }

  def simhashData(t: UTF8String): Long =
    simhash(distinctTokenHashes(t.toString))

  def shinglesData(t: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(t.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + n <= toks.length) { seen += toks.slice(i, i + n).mkString("_"); i += 1 }
    new GenericArrayData(seen.iterator.map(s => UTF8String.fromString(s)).toArray[Any])
  }

  def fingerprintData(t: UTF8String, n: Int): Long = {
    val hs = shingleHashes(t.toString, n)
    if (hs.isEmpty) -1L else hs.min
  }

  /** Content-defined chunk hashes — the one-pass kernel behind
    * [[graft.operators.Chunking.chunkHashes]], value-identical to
    * its Column composition (ChunkingSpec proves equality): 1-based
    * boundary positions p in [2, n-Window+1] where the positional
    * Window-gram's charFold divides; chunk identity = charFold of
    * the '_'-joined chunk tokens. The Column form re-folds every
    * gram character-by-character through nested array lambdas
    * (O(doc·gram) with a large constant); this walks the document
    * once.
    */
  def chunkHashesData(t: UTF8String, window: Int, divisor: Int): ArrayData = {
    val toks = tokenize(t.toString)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = mutable.ArrayBuffer.empty[Any]
    var start = 1 // 1-based chunk start
    var chunkHash = 0L
    var chunkStarted = false
    def foldInto(h0: Long, s: String, joined: Boolean): Long = {
      var h = if (joined) (h0 * 31 + '_') % P else h0
      var i = 0
      while (i < s.length) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
      h
    }
    var p = 1
    while (p <= n) {
      // does a boundary fire at p? (needs p >= 2 and a full gram)
      val boundary = p >= 2 && p + window - 1 <= n && n >= window + 1 && {
        var g = 0L
        var j = 0
        while (j < window) { g = foldInto(g, toks(p - 1 + j), joined = j > 0); j += 1 }
        g % divisor == 0
      }
      if (boundary) {
        out += Long.box(chunkHash) // chunk [start, p-1] closes
        start = p
        chunkHash = 0L
        chunkStarted = false
      }
      chunkHash = foldInto(chunkHash, toks(p - 1), joined = chunkStarted)
      chunkStarted = true
      p += 1
    }
    out += Long.box(chunkHash)
    new GenericArrayData(out.toArray)
  }

  /** Strong 64-bit string hash: FNV-1a over UTF-16 units, then a
    * splitmix64 finalizer. Spark-internal only (candidate generation
    * and hash-space verification in the prefix-filter join) — never
    * part of a cross-engine oracle, so it needs no DuckDB twin. Unlike
    * [[charFold]] (mod 1e9+7, trivially collidable), a collision here
    * needs ~2^32 shingles by birthday bound; for a corpus with D
    * distinct shingles the chance of ANY collision is ~D^2/2^65.
    */
  def strongHash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Sorted 64-bit hashes of a doc's DISTINCT word n-gram shingle
    * strings. Deliberately NOT deduped after hashing: the array length
    * is exactly the distinct-shingle-string count, so prefix lengths
    * and Jaccard denominators derived from `size(...)` are computed
    * over the true set size even in the (astronomically unlikely)
    * event of a 64-bit collision.
    */
  def sortedShingleHashes64Data(t: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(t.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + n <= toks.length) { seen += toks.slice(i, i + n).mkString("_"); i += 1 }
    val hs = seen.iterator.map(strongHash64).toArray
    java.util.Arrays.sort(hs)
    new GenericArrayData(hs.map(Long.box))
  }

  /** |a ∩ b| for two ascending-sorted long arrays, by two-pointer
    * merge. The generic `array_intersect` builds a per-row hash set
    * and materializes the intersection array; on the dedup verify
    * path (hundreds of millions of candidate pairs) that allocation
    * is pure GC pressure — this walks both arrays once and returns
    * only the count.
    */
  def sortedOverlapData(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** [[sortedOverlapData]] over plain JVM arrays — the dense
    * AllPairs kernel ([[graft.operators.Dedup.denseJaccardPairs]])
    * runs outside codegen and holds its signatures as Array[Long].
    */
  def sortedOverlapArr(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Does the overlap of two ascending-sorted JVM arrays reach
    * `need`? Early-exits as soon as the remaining shorter side can no
    * longer close the gap — on mostly-disjoint pairs (the common case
    * in an all-pairs loop) that cuts the merge to
    * ~2*(min(na,nb)-need) steps instead of na+nb.
    */
  def sortedOverlapAtLeastArr(a: Array[Long], b: Array[Long], need: Int): Boolean = {
    if (need <= 0) return true
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (c + math.min(a.length - i, b.length - j) < need) return false
      val x = a(i); val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c >= need
  }

  def cosineData(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xf = a.getFloat(i).toDouble
      val yf = b.getFloat(i).toDouble
      dot += xf * yf; nx += xf * xf; ny += yf * yf
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** array<bigint>: minhash signature of a text column over word
  * `n`-gram shingles. Null text -> null; fewer than n tokens -> nulls
  * per slot (matching array_min over an empty array).
  */
case class MinHashSigExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullSafeEval(input: Any): Any =
    HashOps.minhashSigData(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.minhashSigData($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** bigint: 48-bit simhash of a text column over distinct word tokens. */
case class SimHashExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashOps.simhashData(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhashData($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
  override def prettyName: String = "simhash48"
}

/** array<string>: distinct word n-gram shingles (single pass; same
  * values as CrossHash.shingles).
  */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.shinglesData(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.shinglesData($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** array<bigint>: strong 64-bit hashes of a doc's distinct word
  * n-gram shingles, sorted ascending; length == distinct shingle
  * count (see HashOps.sortedShingleHashes64Data).
  */
case class ShingleHashes64Expr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.sortedShingleHashes64Data(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.sortedShingleHashes64Data($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64Expr =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes64_sorted"
}

/** array&lt;long&gt;: content-defined chunk hashes, one pass per doc. */
case class ChunkHashesExpr(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.chunkHashesData(input.asInstanceOf[UTF8String], window, divisor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.chunkHashesData($c, $window, $divisor)")
  override protected def withNewChildInternal(newChild: Expression): ChunkHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "chunk_hashes"
}

/** bigint: min rolling shingle hash (document fingerprint); -1 when
  * fewer than n tokens.
  */
case class FingerprintExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashOps.fingerprintData(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.fingerprintData($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
  override def prettyName: String = "doc_fingerprint"
}

/** int: intersection size of two ascending-sorted long arrays. */
case class SortedOverlapExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.sortedOverlapData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.sortedOverlapData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedOverlapExpr =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_overlap"
}

/** double: cosine similarity of two float-array columns, with the
  * exact left-fold evaluation order of VectorFunctions.cosine /
  * sqlCosine (dot and both norms accumulated in index order in
  * double).
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.cosineData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.cosineData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}
