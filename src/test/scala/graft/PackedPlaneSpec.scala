package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

/** The packed plane's chunking: 32 768 / d rows per chunk, rows in input
  * order, the last chunk trimmed to its size. */
class PackedPlaneSpec extends AnyFunSuite {
  /** Row (id, x0 .. x(d-1)) as a generic InternalRow. */
  private final class Doubles(d: Int) extends PlaneRow {
    def put(r: InternalRow, vals: Array[Double], off: Int): Long = {
      var j = 0
      while (j < d) { vals(off + j) = r.getDouble(1 + j); j += 1 }
      r.getLong(0)
    }
  }

  test("chunk edges: d = 2 at 16383/16384/16385 rows, d = 64 at 511/512/513") {
    for ((d, ns) <- Seq(2 -> Seq(16383, 16384, 16385), 64 -> Seq(511, 512, 513)); n <- ns) {
      val rows = Iterator.range(0, n).map(i =>
        InternalRow.fromSeq(i.toLong +: Seq.tabulate(d)(j => i * 1000.0 + j)))
      val chunks = PackedPlane.pack(rows, d, new Doubles(d)).toList
      val per = PackedPlane.ChunkDoubles / d
      val clue = s"d=$d n=$n"
      assert(chunks.map(_.rows) == Seq.fill(n / per)(per) ++ Seq(n % per).filter(_ > 0), clue)
      assert(chunks.forall(c => c.d == d && c.vals.length == c.rows * d), clue)
      assert(chunks.forall(_.vals.length * 8 <= 256 * 1024), clue)
      val ids = chunks.flatMap(_.ids.toSeq)
      val vals = chunks.flatMap(_.vals.toSeq)
      assert(ids == (0L until n.toLong), clue)
      assert(vals == (0 until n).flatMap(i => Seq.tabulate(d)(j => i * 1000.0 + j)), clue)
    }
  }
}
