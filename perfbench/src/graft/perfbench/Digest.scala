package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of every column of a result: row count plus
  * the two 32-bit halves of each row's xxhash64, summed. Running it is the
  * action that consumes the result, so Catalyst cannot prune any output
  * column the way a bare `count()` lets it. */
object Digest {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Maps are not hashable; their sorted entry arrays are. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case a: ArrayType if hasMap(a.elementType) => transform(c, x => hashable(x, a.elementType))
    case s: StructType if hasMap(s) =>
      struct(s.fields.toSeq.map(f => hashable(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      hashable(col("`" + f.name.replace("`", "``") + "`"), f.dataType)
    }
    val r = df
      .select(xxhash64(cols: _*).as("h"))
      .agg(
        count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))
      )
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
