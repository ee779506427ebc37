package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructType

/** Consecutive rows of one partition, in input order: row i is
  * `ids(i)` with the values `vals(i * d until (i + 1) * d)`. */
final case class PlaneChunk(ids: Array[Long], vals: Array[Double], d: Int) {
  def rows: Int = ids.length
}

/** Writes one input row into a [[PlaneChunk]]. */
trait PlaneRow extends Serializable {
  /** Copies the row's d values to `vals(off until off + d)` and returns
    * its id; throws, naming the row, on a value the plane cannot hold. */
  def put(r: InternalRow, vals: Array[Double], off: Int): Long
}

/** The packed primitive plane behind every Lloyd loop (K-Means at d = 2,
  * the ANN quantizer and codebooks at the embedding width): each
  * partition's rows packed once into [[PlaneChunk]]s, persisted, and
  * walked by one `treeAggregate` per pass whose caller supplies a
  * whole-chunk kernel — the loop stays tight and monomorphic per
  * caller, the plane is the only shared part.
  *
  * Chunks hold [[ChunkDoubles]] values (`ChunkDoubles / d` rows), so no
  * `vals` array exceeds 256 KB and the `ids` array is smaller still:
  * both stay below half the smallest G1 region (1 MB), no chunk is
  * humongous, and packing leaves no builder-doubling garbage. Cost is
  * 8 · (d + 1) bytes per row. */
object PackedPlane {
  val ChunkDoubles = 32768

  def rowsPerChunk(d: Int): Int = math.max(1, ChunkDoubles / d)

  /** Packs `rows` into chunks of [[rowsPerChunk]]`(d)` rows through
    * `put`; the last chunk is trimmed to its size. */
  def pack(rows: Iterator[InternalRow], d: Int, put: PlaneRow): Iterator[PlaneChunk] = {
    require(d > 0, s"a packed plane needs d > 0, got $d")
    val cap = rowsPerChunk(d)
    new Iterator[PlaneChunk] {
      def hasNext: Boolean = rows.hasNext
      def next(): PlaneChunk = {
        var ids = new Array[Long](cap)
        var vals = new Array[Double](cap * d)
        var n = 0
        while (n < cap && rows.hasNext) {
          ids(n) = put.put(rows.next(), vals, n * d)
          n += 1
        }
        if (n < cap) {
          ids = java.util.Arrays.copyOf(ids, n)
          vals = java.util.Arrays.copyOf(vals, n * d)
        }
        PlaneChunk(ids, vals, d)
      }
    }
  }

  /** The plane served back as a DataFrame of `schema` — (bigint id,
    * then d double columns): one reused UnsafeRow per partition, walked
    * chunk by chunk in input order. */
  def asDataFrame(plane: RDD[PlaneChunk], spark: org.apache.spark.sql.SparkSession,
      schema: StructType): DataFrame = {
    val width = schema.length
    val rows = plane.mapPartitions { chunks =>
      val row = new UnsafeRow(width)
      val bytes = UnsafeRow.calculateBitSetWidthInBytes(width) + width * 8
      row.pointTo(new Array[Byte](bytes), bytes)
      chunks.flatMap { c =>
        Iterator.range(0, c.rows).map { i =>
          row.setLong(0, c.ids(i))
          var j = 0
          while (j < c.d) { row.setDouble(1 + j, c.vals(i * c.d + j)); j += 1 }
          row: InternalRow
        }
      }
    }
    GraftShims.internalCreateDataFrame(spark, rows, schema)
  }
}
