package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash over a string's Unicode code points:
  *
  *   h = fold(cp => (h * base + cp) mod p),  h0 = 0,  p = 2^31 - 1
  *
  * This is the engine's portable document fingerprint / feature hash: the
  * identical fold is expressible in DuckDB SQL (`list_reduce` over
  * `string_split`), so every dedup / fingerprint operator built on it is
  * oracle-checkable — unlike Spark's internal `hash`/`xxhash64`
  * (SURVEY.md §5). With p < 2^31 and code points < 2^21 the accumulator
  * stays below 2^62: no overflow in 64-bit arithmetic on either engine.
  *
  * Codegen emits a static call (the loop lives in [[PolyHash.hash]]), so
  * the expression stays inside whole-stage codegen — the hot path for the
  * 100-TB dedup scans.
  */
case class PolyHash(child: Expression, base: Long)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(base > 0 && base < Int.MaxValue, "base must fit in 31 bits")

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c, ${base}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  val Mod: Long = 2147483647L // 2^31 - 1 (Mersenne prime)
  val DefaultBase: Long = 31L

  /** The fold itself — shared by interpreted eval and generated code.
    * Decodes code points straight off the UTF-8 bytes (no String
    * allocation — this runs once per gram on the dedup scans, ~10^6×
    * per sf0.1 query). Parity with the `String.codePointAt` fold is
    * property-tested over arbitrary Unicode in DedupSpec. */
  def hash(s: UTF8String, base: Long): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var h = 0L
    var i = 0
    while (i < n) {
      val b0 = bytes(i) & 0xFF
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xE0) { // 2-byte
        cp = ((b0 & 0x1F) << 6) | (bytes(i + 1) & 0x3F)
        i += 2
      } else if (b0 < 0xF0) { // 3-byte
        cp = ((b0 & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) |
          (bytes(i + 2) & 0x3F)
        i += 3
      } else { // 4-byte
        cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
          ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F)
        i += 4
      }
      h = (h * base + cp) % Mod
    }
    h
  }

  /** Column API: `poly_hash(col)` with the default base. */
  def apply(c: Column, base: Long = DefaultBase): Column =
    GraftShims.column(PolyHash(GraftShims.expression(c), base))

  /** DuckDB SQL computing the identical fold over `expr` (for oracles).
    * Empty strings hash to 0 (DuckDB's `string_split('','')` yields
    * `['']` whose `unicode` is -1, hence the guard). */
  def duckSql(expr: String, base: Long = DefaultBase): String =
    s"(CASE WHEN length($expr) = 0 THEN 0 ELSE list_reduce(" +
      s"list_prepend(CAST(0 AS BIGINT), list_transform(string_split($expr, ''), c -> CAST(unicode(c) AS BIGINT)))," +
      s" (acc, x) -> (acc * $base + x) % $Mod) END)"
}
