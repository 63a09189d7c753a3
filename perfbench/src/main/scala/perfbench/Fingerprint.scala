package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a frame: its row count plus
  * the sum, over rows, of a 64-bit hash of the row's normalized values.
  *
  * Normalization follows the oracle compare (tools/check_oracle.py):
  * columns are taken in name order, so column order does not matter, and
  * a sum is independent of row and partition order. Floating-point values
  * are rounded to 7 significant digits (and -0.0 folded into 0.0), so a
  * different summation order across partitions cannot change the hash.
  * The hash is computed by one aggregation job, so large outputs never
  * travel to the driver. */
object Fingerprint {

  private[perfbench] def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.6e", d))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case s: StructType =>
      if (s.isEmpty) c
      else when(c.isNull, lit(null)).otherwise(struct(s.fields.toIndexedSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** `rows:hash` as text; equal for frames that hold the same multiset
    * of rows under the normalization above. */
  def of(df: DataFrame): String = {
    // positional renames make duplicate or awkward column names safe
    val named = df.schema.fields.toIndexedSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    // each value is preceded by its null flag, so (null, x) and (x, null)
    // hash differently
    val parts = named.flatMap { case (f, i) =>
      val c = col(s"_c$i")
      Seq(c.isNull, normalize(c, f.dataType))
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .head()
    // fold the two partial sums into one 64-bit value (mod 2^64)
    val mix = (r.getLong(1) << 32) + r.getLong(2)
    f"${r.getLong(0)}:$mix%016x"
  }
}
