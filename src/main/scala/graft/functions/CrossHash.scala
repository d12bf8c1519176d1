package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text hashing that is computable IDENTICALLY in Spark
  * and in DuckDB SQL — the foundation that lets every dedup operator
  * ship with an exact DuckDB oracle.
  *
  * Base hash: left-fold `h = (h*31 + ord(char)) mod P` over the
  * string's characters, P = 1e9+7. Both engines evaluate the same
  * integer sequence, so minhash/simhash built on top hash-match
  * bit-for-bit. Spark side uses higher-order functions (no UDFs — the
  * lambdas run inside codegen'd array expressions); DuckDB side is
  * generated from the same constants by the `sql*` builders below.
  *
  * Scale note: these are narrow per-row transforms — no shuffle, no
  * driver involvement; they pipeline inside whole-stage scans at any
  * data size.
  */
object CrossHash {

  val P = 1000000007L

  /** Minhash: K independent permutations (a_k h + b_k) mod P. */
  val MinhashK = 16
  def minhashA(k: Int): Long = 2L * k + 3
  def minhashB(k: Int): Long = 7L * k + 11

  /** Simhash: 48 bits so 4 bands x 12 bits exactly cover hamming<=3
    * (pigeonhole: 3 flipped bits leave >=1 of 4 bands intact, so
    * band-LSH has recall 1.0 for distance<=3 — the pairs query is
    * exact, not approximate).
    */
  val SimhashBits = 48
  val SimhashBands = 4
  val SimhashBandBits = 12
  def simhashA(k: Int): Long = 131L * k + 7
  def simhashB(k: Int): Long = 977L * k + 13

  // ------------------------------------------------------------ Spark side

  /** Left-fold char hash of a string column. */
  def charFold(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * lit(31L) + c) % lit(P))

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > lit(0))

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Distinct word-token hashes. */
  def tokenHashes(text: Column): Column = transform(distinctTokens(text), charFold(_))

  /** Distinct word n-gram shingles joined with '_'.
    *
    * PERF NOTE (test/ground-truth use only — prod paths take
    * [[shinglesFast]]): the lambda captures `tokens(text)`, and a
    * captured EXPRESSION re-evaluates per transform element — n
    * re-splits per gram index. Materialize the token array as a
    * column first if this shape ever moves to a hot path (the d23
    * operator does exactly that, 9s → 0.9s at sf0.1).
    */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      array_distinct(transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws("_", (0 until n).map(j => element_at(t, i + lit(j))): _*))))
      .otherwise(array().cast("array<string>"))
  }

  def shingleHashes(text: Column, n: Int): Column = transform(shingles(text, n), charFold(_))

  /** Minhash signature (array of MinhashK longs) over a hash array. */
  def minhashSig(hashes: Column): Column =
    array((0 until MinhashK).map { k =>
      array_min(transform(hashes, h => (h * lit(minhashA(k)) + lit(minhashB(k))) % lit(P)))
    }: _*)

  /** 48-bit simhash over a hash array: bit k set iff the majority of
    * element hashes have ((a_k h + b_k) mod P) odd.
    */
  def simhash(hashes: Column): Column = {
    val n = size(hashes)
    (0 until SimhashBits).map { k =>
      val ones = size(filter(hashes, h =>
        ((h * lit(simhashA(k)) + lit(simhashB(k))) % lit(P)) % lit(2L) === lit(1L)))
      when(ones * lit(2) > n, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ------------------------------------------------------ native fast path
  // Single-pass Catalyst expressions computing the same values (see
  // HashExpressions for why these exist).

  import org.apache.spark.sql.graft.Shim

  def minhashSigFast(text: Column, n: Int): Column =
    Shim.column(MinHashSigExpr(Shim.expression(text), n))

  def simhashFast(text: Column): Column =
    Shim.column(SimHashExpr(Shim.expression(text)))

  def shinglesFast(text: Column, n: Int): Column =
    Shim.column(ShinglesExpr(Shim.expression(text), n))

  def sortedShingleHashes64Fast(text: Column, n: Int): Column =
    Shim.column(ShingleHashes64Expr(Shim.expression(text), n))

  def fingerprintFast(text: Column, n: Int): Column =
    Shim.column(FingerprintExpr(Shim.expression(text), n))

  /** |a ∩ b| of two ascending-sorted long-array columns (two-pointer,
    * allocation-free — see [[HashOps.sortedOverlapData]]).
    */
  def sortedOverlapFast(a: Column, b: Column): Column =
    Shim.column(SortedOverlapExpr(Shim.expression(a), Shim.expression(b)))

  // ------------------------------------------------------------ DuckDB side
  // SQL fragment builders parameterized by an (already bound) column
  // or expression name; used to assemble the oracle queries from the
  // SAME constants as above.

  def sqlCharFold(x: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($x, ''), c -> ord(c)::BIGINT)), (a, b) -> (a * 31 + b) % $P)"

  def sqlTokens(x: String): String =
    s"list_filter(string_split($x, ' '), t -> len(t) > 0)"

  def sqlDistinctTokens(x: String): String = s"list_distinct(${sqlTokens(x)})"

  /** Over a bound token-list column `t`. */
  def sqlTokenHashesOf(t: String): String =
    s"list_transform(list_distinct($t), w -> ${sqlCharFold("w")})"

  /** Word n-gram shingles over a bound token-list column `t`. */
  def sqlShinglesOf(t: String, n: Int): String = {
    val parts = (0 until n).map(j => s"$t[i+$j]").mkString(" || '_' || ")
    s"list_distinct([$parts for i in range(1, len($t) - ${n - 2})])"
  }

  /** Minhash signature over a bound hash-list column `hs`. */
  def sqlMinhashSigOf(hs: String): String =
    (0 until MinhashK).map { k =>
      s"list_min(list_transform($hs, h -> (h * ${minhashA(k)} + ${minhashB(k)}) % $P))"
    }.mkString("[", ", ", "]")

  /** Simhash over a bound hash-list column `hs`. */
  def sqlSimhashOf(hs: String): String =
    (0 until SimhashBits).map { k =>
      s"(CASE WHEN 2 * len(list_filter($hs, h -> ((h * ${simhashA(k)} + ${simhashB(k)}) % $P) % 2 = 1)) > len($hs) THEN ${1L << k} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
