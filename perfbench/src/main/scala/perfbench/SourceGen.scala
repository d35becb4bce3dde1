package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic source database for the `transfer` workload.
  *
  * It has the fixture's ten tables with their post-load schemas
  * (`graft.Tables.expectedSchema`), including the naive timestamps that read
  * as TIMESTAMP_NTZ and the ARRAY<FLOAT> embeddings. Every value is a pure
  * function of (seed, table, row id, field), so the same seed writes the
  * same rows whatever the partitioning, and a different seed writes
  * different ones. The seed also sets the shape: row counts, the share of
  * primary keys left out as gaps, foreign-key skew, string length and the
  * share of NULLs in nullable columns.
  */
object SourceGen {

  /** Row counts of the sf0.1 fixture, scaled by [[Shape.scale]]. */
  val baseRows: Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  /** Share of the sf0.1 row counts the workload moves: one transfer pass
    * has to fit a few times into one timed run. */
  val BaseScale = 0.15

  final case class Shape(scale: Double, gapShare: Double, skew: Double,
                         strLen: Int, nullShare: Double) {
    def rows(table: String): Long = {
      val base = baseRows.find(_._1 == table).get._2
      if (base <= 25) base else math.max(1L, math.round(base * scale))
    }
  }

  /** The row-count (±2%) and string-length (16–23) bands are narrow: a pass
    * is dominated by fixed per-call costs and by string bytes through
    * Derby, so rates and latencies from different seeds stay comparable. */
  def shape(seed: Long): Shape = {
    val r = new scala.util.Random(seed)
    Shape(scale = BaseScale * (0.98 + 0.04 * r.nextDouble()),
      gapShare = 0.05 + 0.25 * r.nextDouble(),
      skew = 0.5 + 1.5 * r.nextDouble(),
      strLen = 16 + r.nextInt(8),
      nullShare = 0.01 + 0.09 * r.nextDouble())
  }

  private final class Rng(seed: Long, table: String) {
    /** Uniform in [0, 1) from the row id and a field name. */
    def u(field: String, id: Column = col("id")): Column =
      shiftrightunsigned(xxhash64(lit(seed), lit(table), lit(field), id), 11)
        .cast(DoubleType) * lit(1.0 / (1L << 53))
    def int(field: String, n: Long): Column = floor(u(field) * n).cast(LongType)
    /** Hex text of `len` characters, varying by ±50% per row. */
    def text(field: String, len: Int): Column = {
      val n = (lit(len / 2) + int(field + ".len", len.toLong)).cast(IntegerType)
      substring(repeat(sha2(concat_ws("|", lit(seed), lit(table), lit(field),
        col("id").cast(StringType)), 256), 4), lit(1), n)
    }
    def pick(field: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (int(field, values.size) + 1).cast(IntegerType))
    /** Skewed key in [1, n]: small keys are drawn far more often. */
    def skewed(field: String, n: Long, skew: Double): Column =
      (floor(pow(u(field), lit(1.0 + skew)) * n) + 1).cast(LongType)
    def nullable(field: String, share: Double)(c: Column): Column =
      when(u(field + ".null") >= share, c)
    def ntz(field: String, fromSec: Long, spanSec: Long): Column =
      timestamp_seconds(lit(fromSec) + int(field, spanSec)).cast(TimestampNTZType)
  }

  private val T0 = 694224000L // 1992-01-01T00:00:00Z
  private val Span7y = 7L * 365 * 86400

  /** Rows for one table: candidate ids are dropped at the gap share, so the
    * surviving primary keys have gaps while the row count stays near target. */
  def table(spark: SparkSession, seed: Long, name: String): DataFrame = {
    val s = shape(seed)
    val r = new Rng(seed, name)
    val n = s.rows(name)
    val gapped = name != "region" && name != "nation"
    val candidates = if (gapped) math.ceil(n / (1 - s.gapShare)).toLong else n
    val ids = spark.range(0, candidates, 1, if (candidates > 20000) 4 else 1)
      .filter(if (gapped) r.u("gap") >= s.gapShare else lit(true))
    val pk = col("id") + 1
    def nul(field: String)(c: Column) = r.nullable(field, s.nullShare)(c)
    val rowsOf = (t: String) => s.rows(t)
    name match {
      case "region" => ids.select(col("id").cast(IntegerType).as("r_regionkey"),
        r.text("r_name", s.strLen).as("r_name"))
      case "nation" => ids.select(col("id").cast(IntegerType).as("n_nationkey"),
        r.text("n_name", s.strLen).as("n_name"),
        (col("id") % 5).cast(IntegerType).as("n_regionkey"))
      case "customer" => ids.select(pk.as("c_custkey"),
        r.text("c_name", s.strLen).as("c_name"),
        r.int("c_nationkey", 25).cast(IntegerType).as("c_nationkey"),
        nul("c_acctbal")(round(r.u("c_acctbal") * 10999 - 999, 2)).as("c_acctbal"),
        nul("c_mktsegment")(r.pick("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))).as("c_mktsegment"))
      case "supplier" => ids.select(pk.as("s_suppkey"),
        r.text("s_name", s.strLen).as("s_name"),
        r.int("s_nationkey", 25).cast(IntegerType).as("s_nationkey"),
        nul("s_acctbal")(round(r.u("s_acctbal") * 10999 - 999, 2)).as("s_acctbal"))
      case "part" => ids.select(pk.as("p_partkey"),
        r.text("p_name", s.strLen).as("p_name"),
        r.pick("p_brand", (1 to 25).map(i => s"Brand#$i")).as("p_brand"),
        nul("p_type")(r.text("p_type", s.strLen)).as("p_type"),
        (r.int("p_size", 50) + 1).cast(IntegerType).as("p_size"),
        round(r.u("p_retailprice") * 1100 + 900, 2).as("p_retailprice"))
      case "orders" => ids.select(pk.as("o_orderkey"),
        r.skewed("o_custkey", rowsOf("customer"), s.skew).as("o_custkey"),
        r.pick("o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
        round(r.u("o_totalprice") * 500000 + 800, 2).as("o_totalprice"),
        r.ntz("o_orderdate", T0, Span7y).as("o_orderdate"),
        nul("o_orderpriority")(r.pick("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))).as("o_orderpriority"))
      case "lineitem" =>
        // four lines per order on average; (l_orderkey, l_linenumber) is the pk
        ids.select((col("id") / 4 + 1).cast(LongType).as("l_orderkey"),
          r.skewed("l_partkey", rowsOf("part"), s.skew).as("l_partkey"),
          (r.int("l_suppkey", rowsOf("supplier")) + 1).as("l_suppkey"),
          (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
          (r.int("l_quantity", 50) + 1).cast(DoubleType).as("l_quantity"),
          round(r.u("l_extendedprice") * 100000 + 900, 2).as("l_extendedprice"),
          round(r.u("l_discount") * 0.1, 2).as("l_discount"),
          round(r.u("l_tax") * 0.08, 2).as("l_tax"),
          r.pick("l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
          r.pick("l_linestatus", Seq("F", "O")).as("l_linestatus"),
          r.ntz("l_shipdate", T0, Span7y).as("l_shipdate"))
      case "events" => ids.select(pk.as("event_id"),
        r.ntz("ts", T0 + 6L * 365 * 86400, 365L * 86400).as("ts"),
        r.skewed("user_id", 5000, s.skew).as("user_id"),
        r.pick("event_type", Seq("click", "view", "purchase", "signup", "logout")).as("event_type"),
        nul("value")(round(r.u("value") * 1000, 3)).as("value"),
        nul("props")(to_json(struct(r.text("props.k", 8).as("k"),
          r.int("props.n", 100).as("n")))).as("props"))
      case "documents" =>
        val text = r.text("text", s.strLen * 8)
        ids.select(pk.as("doc_id"), text.as("text"),
          r.pick("lang", Seq("en", "de", "fr", "es")).as("lang"),
          nul("source")(r.pick("source", Seq("web", "book", "news", "forum"))).as("source"),
          length(text).cast(LongType).as("n_chars"))
      case "embeddings" => ids.select(pk.as("vec_id"),
        array((0 until 16).map(i => (r.u(s"e$i") * 2 - 1).cast(FloatType)): _*).as("embedding"),
        r.int("label", 8).cast(IntegerType).as("label"))
    }
  }

  /** Write every table as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    baseRows.foreach { case (t, _) =>
      table(spark, seed, t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
}
