package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables, Transfer}
import graft.sources.Jdbc
import graft.streaming.Manifest
import scala.jdk.CollectionConverters._

/** What one operation did: its work in units (1 per key, rows for transfer
  * calls), the time spent building before the sink ran, and the output
  * check, which runs after the clock stops. */
final case class Outcome(units: Long, buildMs: Double, check: () => Boolean)

/** Times one public call from outside, under a job group named after it so
  * the traced run can attribute Spark jobs to the call that caused them. */
final class OpTimer(spark: SparkSession, tracer: Tracer) {
  def apply(pass: Int, traced: Boolean, name: String)(body: => Outcome): OpRecord = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op:$pass:$name", name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    try {
      val out = tracer.span(name, name)(body)
      val t1 = Clock.nowMs
      sc.setJobGroup(s"check:$pass:$name", name, interruptOnCancel = false)
      // warm passes (negative index) only compile; their outputs are not kept
      val ok = pass < 0 || out.check()
      OpRecord(pass, traced, name, t0, t1, out.buildMs, out.units, ok,
        if (ok) null else "output check failed")
    } catch {
      case e: Throwable =>
        OpRecord(pass, traced, name, t0, Clock.nowMs, 0.0, 0L, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally sc.clearJobGroup()
  }

  /** Times the build part of an operation as its own child span. */
  def build[T](name: String, op: String)(f: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val r = tracer.span(name, op)(f)
    (r, Clock.nowMs - t0)
  }
}

/** Declared query keys over the read-only fixture. The seed only permutes
  * the key order; it never changes which keys run. Each operation is the
  * query build (`SparkEntry.queries(key)`) plus a sink that computes the
  * output digest, which is checked against the recorded golden digest. A
  * twin operation runs its key with every driver-tier gate closed; the
  * twins are spec-pinned to return the driver tiers' rows, so it is checked
  * against the same golden digest. */
final class QueryWorkload(spark: SparkSession, dir: String, ops: Seq[Main.QueryOp], seed: Long,
                          golden: Map[String, Digest.D], tracer: Tracer, warmPasses: Int,
                          override val minPasses: Int)
    extends Workload {
  require(ops.nonEmpty, "workload has no keys")
  private val order = new scala.util.Random(seed).shuffle(ops)
  private val timer = new OpTimer(spark, tracer)

  def setup(): Unit = {
    val drift = Tables.schemaDrift(spark, dir)
    require(drift.isEmpty, s"fixture schema drift: ${drift.mkString("; ")}")
    tracer.span("Tables.warm_scan", "setup") {
      Tables.names.foreach(t =>
        Tables.load(spark, dir, t).write.format("noop").mode("overwrite").save())
    }
    // each key is its own program (plan, generated classes, JIT profile):
    // untimed passes take the first-run compilation out of the timing and
    // build the memoized fixture layouts (SparkEntry.prepareFixtures' work)
    // of exactly the keys that use them
    (1 to warmPasses).foreach(i => tracer.span("warm_pass", "setup")(pass(-i, traced = false)))
  }

  def pass(index: Int, traced: Boolean): Seq[OpRecord] = order.map { op =>
    val confs = if (op.twin) Main.TwinConfs else Map.empty[String, String]
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val rec = try timer(index, traced, op.name) {
      val (df, buildMs) = timer.build("SparkEntry.build", op.name)(
        SparkEntry.queries(op.key)(spark, dir))
      val got = tracer.span("sink", op.name)(Digest.of(df))
      Outcome(1L, buildMs, () => golden.get(op.key).contains(got))
    } finally confs.keys.foreach(spark.conf.unset)
    spark.catalog.clearCache()
    rec
  }
}

/** The taps core: a seeded synthetic source database moved by `Transfer`
  * Parquet→Parquet, chunk by chunk with a resume, and into an embedded
  * in-memory Derby, then read back by keyset and verified. Every table is
  * imported, including the ones whose types the JDBC path cannot map yet;
  * those calls fail and count as failed operations. */
final class TransferWorkload(spark: SparkSession, seed: Long, work: Path, tracer: Tracer)
    extends Workload {
  private val timer = new OpTimer(spark, tracer)
  private val src = work.resolve("src").toString
  private val dst = work.resolve("dst").toString
  private val chunked = work.resolve("chunked").toString
  private val manifest = work.resolve("manifest.json").toString
  private val chunkManifest = work.resolve("chunk-manifest.json").toString
  private val url = s"jdbc:derby:memory:perfbench_$seed;create=true"
  private val Chunks = 4
  private var srcDigest = Map.empty[String, Digest.D]
  private var ordersMaxPk = 0L
  private var counters = Map.empty[String, Any]

  override def passCounters: Map[String, Any] = counters
  // one pass is 21 calls and most of a run's time budget
  override def minPasses: Int = 1

  def setup(): Unit = {
    tracer.span("SourceGen.write", "setup")(SourceGen.write(spark, seed, src))
    val drift = Tables.schemaDrift(spark, src)
    require(drift.isEmpty, s"generated source drifts from the fixture schema: ${drift.mkString("; ")}")
    tracer.span("Tables.warm_scan", "setup") {
      srcDigest = Tables.names.map(t => t -> Digest.of(Tables.load(spark, src, t))).toMap
    }
    ordersMaxPk = Tables.load(spark, src, "orders").agg(max("o_orderkey")).head().getLong(0)
    tracer.span("warm_pass", "setup")(pass(-1, traced = false))
  }

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** Data files under a directory with their sizes and modification times. */
  private def dataFiles(p: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => root.relativize(f).toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally s.close()
    }
  }

  private def bytes(p: String): Long = dataFiles(p).values.map(_._1).sum

  private def sameAs(table: String, df: DataFrame): Boolean =
    Digest.of(df) == srcDigest(table)

  /** A JDBC read-back in the source's column names and types. */
  private def aligned(table: String, df: DataFrame): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(Tables.load(spark, src, table).schema.fields.toIndexedSeq.map(f =>
      col(byLower(f.name.toLowerCase)).cast(f.dataType).as(f.name)): _*)
  }

  def pass(index: Int, traced: Boolean): Seq[OpRecord] = {
    Seq(dst, chunked, manifest, chunkManifest).foreach(deleteTree)
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    def op(name: String)(body: => Outcome): OpRecord = {
      val r = timer(index, traced, name)(body)
      ops += r
      r
    }

    op("Transfer.pull") {
      val moved = Transfer.pull(spark, src, dst, manifest)
      Outcome(moved.map(_.rows).sum, 0.0, () => {
        val m = Manifest.load(manifest)
        Tables.names.forall(t => m.isCompleted(t) && sameAs(t, Tables.load(spark, dst, t)))
      })
    }

    op("Transfer.pullChunked.first") {
      val r = Transfer.pullChunked(spark, src, chunked, chunkManifest, "orders",
        chunks = Chunks, maxChunks = Chunks / 2)
      Outcome(r.map(_.rows).sum, 0.0, () => r.size == Chunks / 2)
    }
    val afterFirst = dataFiles(chunked)
    val pendingAfterFirst = Chunks - Manifest.load(chunkManifest).completed.size
    var resumeMoved = 0
    op("Transfer.pullChunked.resume") {
      val r = Transfer.pullChunked(spark, src, chunked, chunkManifest, "orders", chunks = Chunks)
      resumeMoved = r.size
      Outcome(r.map(_.rows).sum, 0.0, () =>
        Manifest.load(chunkManifest).watermark("orders").contains(ordersMaxPk) &&
          sameAs("orders", spark.read.parquet(chunked).drop("chunk_id")))
    }
    // chunk partitions of the first call that the resume replaced or removed
    val afterResume = dataFiles(chunked)
    val rewrites = afterFirst.groupBy(_._1.takeWhile(_ != '/')).count { case (_, files) =>
      files.exists { case (f, v) => !afterResume.get(f).contains(v) }
    }

    val imported = Tables.names.filter { t =>
      op(s"Transfer.pullToJdbc/$t") {
        val rows = Transfer.pullToJdbc(spark, src, url, Seq(t), parallelism = 1).map(_.rows).sum
        Outcome(rows, 0.0, () => rows == srcDigest(t).rows)
      }.ok
    }
    var rowsRead = 0L
    imported.filter(t => Tables.metaOf(t).singleIntPk).foreach { t =>
      op(s"Jdbc.read/$t") {
        val meta = Tables.metaOf(t)
        val pk = meta.primaryKey.head
        val (df, buildMs) = timer.build("Jdbc.readPlan", s"Jdbc.read/$t") {
          val bounds = for {
            lo <- Jdbc.queryLong(url, s"SELECT min($pk) FROM $t")
            hi <- Jdbc.queryLong(url, s"SELECT max($pk) FROM $t")
          } yield (lo, hi)
          Jdbc.read(spark, Jdbc.readPlan(url, meta, bounds, Main.Cores))
        }
        val got = Digest.of(aligned(t, df))
        rowsRead += got.rows
        Outcome(got.rows, buildMs, () => got == srcDigest(t))
      }
    }

    op("Transfer.verifyTransfer") {
      val (v, buildMs) = timer.build("Transfer.verifyTransfer", "Transfer.verifyTransfer") {
        Transfer.verifyTransfer(spark, src, dst)
      }
      val rows = v.collect()
      Outcome(rows.map(_.getAs[Long]("src_rows")).sum, buildMs, () =>
        rows.length == Tables.names.size && rows.forall(_.getAs[Boolean]("match")))
    }

    val jdbcOps = ops.filter(_.name.startsWith("Transfer.pullToJdbc/"))
    counters = Map(
      "source_bytes" -> bytes(src),
      "dest_bytes" -> bytes(dst),
      "dest_files" -> (dataFiles(dst).size + dataFiles(chunked).size),
      "chunks_moved_first" -> (Chunks - pendingAfterFirst),
      "chunks_pending_after_first" -> pendingAfterFirst,
      "chunks_moved_resume" -> resumeMoved,
      "resume_rewrites" -> rewrites,
      "jdbc_rows_imported" -> jdbcOps.map(_.units).sum,
      "jdbc_rows_read" -> rowsRead,
      "jdbc_tables_failed" -> jdbcOps.count(!_.ok))
    ops.toSeq
  }
}
