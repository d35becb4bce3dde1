package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a DataFrame: the row count plus two
  * 64-bit sums of the halves of each row's xxhash64. Sums commute, so row
  * order and partitioning never change the digest; each half is below 2^32,
  * so neither sum can overflow below 2^31 rows. Columns are taken in
  * case-insensitive name order, matching the oracle checker's column
  * discipline, so a reordered projection keeps its digest. */
object Digest {
  final case class D(rows: Long, lo: Long, hi: Long) {
    override def toString: String = f"$rows:$lo%016x$hi%016x"
  }

  /** Types xxhash64 refuses (maps, variants) hash through their string
    * form, which Spark renders deterministically. */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType | _: VariantType => false
    case ArrayType(e, _) => hashable(e)
    case StructType(fs) => fs.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** One `__h` column: the row hash over every column, columns in name
    * order. Columns are renamed positionally first, so duplicate or
    * awkward output names cannot make the selection ambiguous. */
  def rowHashes(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val u = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.sortBy(i => (fields(i).name.toLowerCase, i)).map { i =>
      val c = col(s"c$i")
      if (hashable(fields(i).dataType)) c else c.cast(StringType)
    }
    u.select(xxhash64(cols: _*).as("__h"))
  }

  def of(df: DataFrame): D = {
    val h = col("__h")
    val r = rowHashes(df).agg(
      count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    D(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def parse(s: String): D = {
    val Array(rows, sums) = s.split(":")
    D(rows.toLong, java.lang.Long.parseUnsignedLong(sums.take(16), 16),
      java.lang.Long.parseUnsignedLong(sums.drop(16), 16))
  }
}
