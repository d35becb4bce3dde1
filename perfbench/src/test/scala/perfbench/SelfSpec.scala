package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own machinery: the output digest and the
  * seeded source generator. */
class SelfSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("the digest ignores row order, partitioning and column order") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("s"), col("id")).as("s"), array(col("id"), col("id") + 1).as("a"),
      map(lit("m"), col("id")).as("m"))
    val shuffled = df.orderBy(rand(1)).repartition(3).select("s", "m", "a", "k", "id")
    assert(Digest.of(df) == Digest.of(shuffled))
    assert(Digest.of(df) == Digest.parse(Digest.of(df).toString))
    val changed = df.withColumn("k", when(col("id") === 500, lit(99L)).otherwise(col("k")))
    assert(Digest.of(df) != Digest.of(changed))
    assert(Digest.of(df).rows == 1000)
    assert(Digest.of(df.limit(0)) == Digest.D(0, 0, 0))
  }

  test("a duplicated row changes the digest (sums, not a set)") {
    val df = spark.range(0, 10).toDF("id")
    assert(Digest.of(df) != Digest.of(df.union(df.filter(col("id") === 3))))
  }

  test("the same seed generates an identical database; another seed a different one") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-gen").toString
    SourceGen.write(spark, 7, s"$dir/a")
    SourceGen.write(spark, 7, s"$dir/b")
    SourceGen.write(spark, 8, s"$dir/c")
    assert(graft.Tables.schemaDrift(spark, s"$dir/a").isEmpty)
    graft.Tables.names.foreach { t =>
      val a = Digest.of(graft.Tables.load(spark, s"$dir/a", t))
      assert(a == Digest.of(graft.Tables.load(spark, s"$dir/b", t)), t)
      assert(a != Digest.of(graft.Tables.load(spark, s"$dir/c", t)), t)
    }
  }
}
