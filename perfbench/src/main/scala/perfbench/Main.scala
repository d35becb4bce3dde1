package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One timed public call: a declared query key or a transfer call.
  * `units` is the work it did (1 per key, rows for transfer calls); `ok`
  * is false when the call threw or its output failed its check. */
final case class OpRecord(pass: Int, traced: Boolean, name: String, startMs: Double,
                          endMs: Double, buildMs: Double, units: Long, ok: Boolean,
                          error: String) {
  def json: String = Json.obj("pass" -> pass, "traced" -> traced, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "build_ms" -> buildMs,
    "units" -> units, "ok" -> ok, "error" -> error)
}

/** A workload: set-up once, then as many whole passes as the run allows. */
trait Workload {
  def setup(): Unit
  def pass(index: Int, traced: Boolean): Seq[OpRecord]
  /** Workload-specific counters of the last pass (transfer only). */
  def passCounters: Map[String, Any] = Map.empty
  /** Timed passes every run makes, whatever `--seconds` allows; it fixes the
    * sample count and so the tail percentile. */
  def minPasses: Int = 2
}

/** Benchmark entry point; `run.py` is the command users call.
  *
  * {{{
  * run     <workload> <seed> <seconds> <trace 0|1> <outDir> <fixtureRoot>
  * golden  <sf> <verifyOutDir> <passingKeysFile>   (prints golden.tsv lines)
  * profile <fixtureRoot> <sf> <out.tsv> [key ...]
  * }}}
  */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** Gate settings under which every driver-tier gate declines, so the
    * distributed twins run (the `@twin` operations of `corpus`). */
  val TwinConfs: Map[String, String] = Map(
    "graft.graph.broadcastLimitBytes" -> "0",
    "graft.graph.pairStreamLimit" -> "0",
    "graft.dedup.bitmapMaxReps" -> "0")

  /** The session every entry point of the engine builds, at local[nproc],
    * with scratch space inside the benchmark's work directory. */
  def session(localDir: String): SparkSession = {
    val spark = graft.LocalTuning(SparkSession.builder()
        .master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString))
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "3600000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One declared key of a query workload, at the default gates or with
    * [[TwinConfs]] set around it. */
  final case class QueryOp(key: String, twin: Boolean) {
    def name: String = if (twin) s"$key@twin" else key
  }

  /** The fixture scale and operations of a query workload, from lines
    * `workload<TAB>sf<TAB>key<TAB>default|twin`. */
  def workloadOps(workload: String): (String, Seq[QueryOp]) = {
    val rows = readTsv("perfbench/data/workloads.tsv").filter(_.head == workload)
    require(rows.nonEmpty && rows.map(_(1)).distinct.size == 1,
      s"workload '$workload' needs key lines at one fixture scale")
    (rows.head(1), rows.map(r => QueryOp(r(2), r(3) == "twin")))
  }

  /** Golden digests, one `sf<TAB>key<TAB>digest` line each. */
  def golden(sf: String): Map[String, Digest.D] =
    readTsv("perfbench/data/golden.tsv").collect {
      case Seq(`sf`, k, d) => k -> Digest.parse(d)
    }.toMap

  private def readTsv(path: String): Seq[Seq[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#")).map(_.split("\t").toSeq)

  /** Peak resident set of this process (VmHWM), in kB. */
  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: seed :: seconds :: trace :: out :: fixtures :: Nil =>
      run(workload, seed.toLong, seconds.toDouble, trace == "1", Paths.get(out), fixtures)
    case "golden" :: sf :: verifyDir :: passing :: Nil =>
      Golden.record(sf, verifyDir, passing)
    case "profile" :: fixtures :: sf :: out :: keys =>
      Golden.profile(s"$fixtures/$sf", sf, out, keys)
    case _ =>
      System.err.println("usage: run|golden|profile … (see perfbench/README.md)")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
          out: Path, fixtures: String): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(out)
    val work = out.resolve("work")
    val runId = s"$workload-$seed-${if (trace) "traced" else "plain"}"
    val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = Clock.nowMs
      try f finally setupPhases(name) = (Clock.nowMs - t0) / 1000
    }
    val spark = phase("session")(session(work.resolve("spark-local").toString))
    val tracing = new Tracing(spark, runId)
    if (trace) tracing.attach()
    val wl: Workload = workload match {
      case "transfer" => new TransferWorkload(spark, seed, work, tracing.tracer)
      case "relational" | "corpus" =>
        val (sf, ops) = workloadOps(workload)
        // after one warm pass both are still off their JIT steady state:
        // relational's short keys drift ~20% pass to pass, and a corpus
        // pass took 6.3, 5.1 and 4.2 s in turn; a second warm pass takes
        // the steepest part of that out of the timing
        val warm = 2
        // corpus has 9 operations a pass: three passes give 27 samples, so
        // its tail percentile (p62) lies above its median
        val timed = if (workload == "corpus") 3 else 2
        new QueryWorkload(spark, s"$fixtures/$sf", ops, seed, golden(sf), tracing.tracer,
          warm, timed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    tracing.tracer.span("setup", "setup") { phase("workload")(wl.setup()) }
    val setupEndMs = Clock.nowMs

    // Whole passes until the run's time is spent, and at least minPasses.
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = setupEndMs + seconds * 1000
    var p = 0
    while (p < wl.minPasses || Clock.nowMs < deadline) {
      val t0 = Clock.nowMs
      ops ++= wl.pass(p, trace)
      passes += Map("pass" -> p, "traced" -> trace, "start_ms" -> t0,
        "end_ms" -> Clock.nowMs) ++ wl.passCounters
      p += 1
    }
    val lines = if (trace) tracing.lines else Nil
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "master" -> spark.sparkContext.master, "cores" -> Cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "jvm_start_ms" -> jvmStartMs, "setup_end_ms" -> setupEndMs,
      "setup_phases" -> setupPhases, "min_passes" -> wl.minPasses,
      "peak_rss_kb" -> peakRssKb,
      "passes" -> passes.toSeq,
      "ops" -> ops.map(r => RawJson(r.json)).toSeq)
    spark.stop()
    Files.writeString(out.resolve("result.json"), result)
    Files.write(out.resolve("trace.jsonl"), lines.asJava)
  }
}

/** A pre-rendered JSON fragment inside [[Json.value]]. */
final case class RawJson(text: String) {
  override def toString: String = text
}
