package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-n-gram HASHES of a text column in one native pass:
  * tokenize like [[WordNgrams]], then fold each gram through the two
  * independent-base [[PolyHash]] polynomials and pack them into one
  * 62-bit long (`h31 | h131 << 31`). Output is sorted ascending and
  * de-duplicated.
  *
  * This is the set-similarity verify representation: intersecting long
  * arrays costs a fraction of intersecting ~20-byte gram strings, and
  * the arrays themselves are 5-10× smaller through every join and
  * broadcast. Two different grams collide only with probability ~2^-62;
  * a collision changes the Jaccard by collapsing two set elements — and
  * because the DuckDB oracle computes THE SAME hashes
  * ([[PolyHash.duckSql]] over the reproduced grams), even a collision
  * leaves both engines in agreement.
  *
  * The per-gram fold runs over the gram's code points exactly as
  * [[PolyHash.hash]] does (separator space included), so
  * `WordNgramHashes(text, n)` ≡ sorted-distinct
  * `transform(WordNgrams(text, n), g -> PolyHash(g,31) | PolyHash(g,131) << 31)`
  * — asserted in DedupSpec — without materializing a single gram string.
  */
case class WordNgramHashes(child: Expression, n: Int,
    sortedDistinct: Boolean = true)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "word_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordNgramHashes.compute(input.asInstanceOf[UTF8String], n, sortedDistinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNgramHashes.compute($c, $n, $sortedDistinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowed document fingerprints (Schleimer et al., SIGMOD 2003) as
  * one native pass: the sorted distinct per-window minima of the
  * positional [[WordNgramHashes]] — tokenize, hash, and slide a
  * monotone deque, O(tokens) total work and zero per-window array
  * allocations. See [[WordNgramHashes.computeWinnowed]]. */
case class WinnowMinHashes(child: Expression, n: Int, w: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(n >= 1 && w >= 1, "n-gram size and window width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "winnow_min_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordNgramHashes.computeWinnowed(input.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNgramHashes.computeWinnowed($c, $n, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNgramHashes {
  private val P = PolyHash.Mod

  /** The shared tokenize-and-hash pass: every gram's packed 62-bit hash
    * in position order (index i = the gram starting at token i), or an
    * empty array when the text has fewer than n tokens. */
  private def hashArray(text: UTF8String, n: Int): Array[Long] = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty[Long]
    val m = toks.length - n + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h31 = 0L
      var h131 = 0L
      var j = 0
      while (j < n) {
        if (j > 0) {
          h31 = (h31 * 31 + ' ') % P
          h131 = (h131 * 131 + ' ') % P
        }
        val t = toks(i + j)
        var k = 0
        while (k < t.length) {
          val cp = t.codePointAt(k)
          h31 = (h31 * 31 + cp) % P
          h131 = (h131 * 131 + cp) % P
          k += Character.charCount(cp)
        }
        j += 1
      }
      hs(i) = h31 | (h131 << 31)
      i += 1
    }
    hs
  }

  /** One pass: tokenize, hash each n-gram with both bases over its code
    * points (tokens joined by a single space, like [[WordNgrams]]),
    * return the sorted distinct packed hashes — or, with
    * `sortedDistinct = false`, every gram's hash in POSITION order
    * (index i = the gram starting at token i; duplicates kept), the
    * representation the span pipeline explodes: positions survive, and
    * no gram string is ever materialized (the composed
    * wordNgrams→PolyHash form spent ~4 s/sweep at sf0.1 allocating and
    * re-decoding gram strings). */
  def compute(text: UTF8String, n: Int, sortedDistinct: Boolean = true): ArrayData = {
    val hs = if (sortedDistinct) hashes(text, n) else hashArray(text, n)
    val out = new Array[Any](hs.length)
    var i = 0
    while (i < hs.length) { out(i) = hs(i); i += 1 }
    new GenericArrayData(out)
  }

  /** The sorted distinct packed hashes of [[compute]] as a primitive
    * array (empty for a null text) — the gram set of Dedup's document
    * profile. */
  def hashes(text: UTF8String, n: Int): Array[Long] =
    if (text == null) Array.emptyLongArray
    else { val hs = hashArray(text, n); sortDedup(hs, hs.length) }

  /** Winnowing selection (Schleimer et al., SIGMOD 2003) in the SAME
    * native pass: positional gram hashes, then the minimum of every
    * w-wide window via a MONOTONE DEQUE — one amortized push/pop per
    * gram, O(tokens) total — returned as the sorted distinct
    * fingerprint set. Replaces the O(tokens × w)
    * `transform(sequence) → slice → array_min` expression form that
    * allocated a w-element array per window and made
    * `winnow_fingerprint` the suite's most expensive entry (6.2 s at
    * sf0.1). Window layout matches that form exactly: windows start at
    * positions 0..max(m−w, 0) (one clipped window when m < w), so the
    * per-window MIN VALUES — and therefore the distinct selected set —
    * are identical and the oracle hash is unchanged. */
  def computeWinnowed(text: UTF8String, n: Int, w: Int): ArrayData = {
    val hs = hashArray(text, n)
    val m = hs.length
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val nw = math.max(m - w, 0) + 1 // number of windows
    val mins = new Array[Long](nw)
    // deque of positions with increasing hash value; head = window min
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1 // head fell out of the window
      // window j covers [j, min(j+w, m)): completes at i = min(j+w, m)-1
      if (i >= w - 1) mins(i - w + 1) = hs(dq(head))
      i += 1
    }
    if (m < w) mins(0) = hs(dq(head)) // the single clipped window
    new GenericArrayData(sortDedup(mins, nw).map(h => h: Any))
  }

  /** Sort the first `m` elements in place and return the distinct
    * prefix. */
  private def sortDedup(hs: Array[Long], m: Int): Array[Long] = {
    java.util.Arrays.sort(hs, 0, m)
    var w = 0
    var i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** Column API: sorted distinct 62-bit n-gram hashes of a text column. */
  def apply(text: Column, n: Int): Column =
    GraftShims.column(WordNgramHashes(GraftShims.expression(text), n))

  /** Column API: every gram's hash in position order, duplicates kept
    * (element i = the gram starting at token i). */
  def positional(text: Column, n: Int): Column =
    GraftShims.column(
      WordNgramHashes(GraftShims.expression(text), n, sortedDistinct = false))

  /** Column API: sorted distinct winnowed fingerprints (per-window
    * minima of the positional n-gram hashes, window width w) in one
    * native pass — see [[computeWinnowed]]. */
  def winnowed(text: Column, n: Int, w: Int): Column =
    GraftShims.column(WinnowMinHashes(GraftShims.expression(text), n, w))

  /** DuckDB SQL producing the identical packed hash for a gram string
    * expression (for oracles): h31 + h131 · 2^31. */
  def duckSql(gramExpr: String): String =
    s"(${PolyHash.duckSql(gramExpr)} + ${PolyHash.duckSql(gramExpr, 131)} * 2147483648)"
}
