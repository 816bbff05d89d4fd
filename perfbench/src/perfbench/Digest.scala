package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a whole result, computed by consuming
  * every row and every column (a `.count()` would let Catalyst prune
  * the projections it does not need).
  *
  * The digest is the row count plus a DECIMAL sum of per-row xxhash64
  * values: unlike `bit_xor` a duplicated row still changes it, and
  * unlike a BIGINT sum it cannot overflow under ANSI mode. Doubles are
  * rounded to 6 places (and -0.0 folded into 0.0) so that a parallel
  * float aggregation that differs in the last bits does not count as a
  * different answer. Map columns are hashed as key-sorted entry arrays
  * because Spark refuses to hash maps.
  */
object Digest {

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case st @ StructType(fs) if needsNorm(st) =>
      when(c.isNotNull, struct(fs.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      norm(array_sort(map_entries(c)), ArrayType(entries))
    case _ => c
  }

  /** `"<rows>:<sum of row hashes>"`; running it is what consumes `df`. */
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$s"
  }

  /** Row count of an already digested result string. */
  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}
