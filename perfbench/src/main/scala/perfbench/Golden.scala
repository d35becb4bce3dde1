package perfbench

import java.nio.file.{Files, Paths}
import graft.{SparkEntry, Tables}
import scala.jdk.CollectionConverters._

/** Maintenance modes behind the workloads' key lists and golden digests
  * (perfbench/README.md says when to run them). */
object Golden {

  /** Print the golden line (`sf<TAB>key<TAB>digest`) of each key in
    * `passingKeys`: the digest of its `graft.Verify` output, for keys whose
    * output passed `tools/check.py` against `SparkEntry.oracleSql`. */
  def record(sf: String, verifyDir: String, passingKeys: String): Unit = {
    val spark = Main.session(Files.createTempDirectory("perfbench-golden").toString)
    Files.readAllLines(Paths.get(passingKeys)).asScala.map(_.trim).filter(_.nonEmpty)
      .sorted.foreach(k => println(s"$sf\t$k\t${Digest.of(spark.read.parquet(s"$verifyDir/$k"))}"))
    spark.stop()
  }

  /** Per key: first-run and repeat seconds and job counts at the default
    * gates, the same under the twin confs, and whether each run's digest
    * matches the golden one. A key is gated when its job count changes
    * under the twin confs. */
  def profile(fixtures: String, sf: String, out: String, only: Seq[String]): Unit = {
    val spark = Main.session(Files.createTempDirectory("perfbench-profile").toString)
    val sc = spark.sparkContext
    val jobs = new JobLog
    sc.addSparkListener(jobs)
    val golden = Main.golden(sf)
    Tables.names.foreach(t =>
      Tables.load(spark, fixtures, t).write.format("noop").mode("overwrite").save())
    SparkEntry.prepareFixtures(spark, fixtures)
    val keys = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    def measure(key: String, tag: String): (Double, Int, String) = {
      val group = s"profile:$key:$tag"
      sc.setJobGroup(group, key, interruptOnCancel = false)
      val t0 = Clock.nowMs
      val status = try {
        val d = Digest.of(SparkEntry.queries(key)(spark, fixtures))
        if (golden.get(key).contains(d)) "ok" else s"digest:$d"
      } catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
      val secs = (Clock.nowMs - t0) / 1000
      sc.clearJobGroup()
      spark.catalog.clearCache()
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000L)
      (secs, jobs.all.count(_.group == group), status)
    }
    val header = "key\tcold_s\twarm_s\tjobs\tstatus\ttwin_s\ttwin_jobs\ttwin_status"
    val rows = keys.map { k =>
      val (cold, _, _) = measure(k, "cold")
      val (warm, n, st) = measure(k, "warm")
      val twin = if (!k.startsWith("ext_")) (0.0, n, "-") else {
        Main.TwinConfs.foreach { case (c, v) => spark.conf.set(c, v) }
        try measure(k, "twin") finally Main.TwinConfs.keys.foreach(spark.conf.unset)
      }
      val line = f"$k\t$cold%.3f\t$warm%.3f\t$n\t$st\t${twin._1}%.3f\t${twin._2}\t${twin._3}"
      System.err.println(line)
      line
    }
    Files.write(Paths.get(out), (header +: rows).asJava)
    spark.stop()
  }
}
