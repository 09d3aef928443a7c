package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Settings of one benchmark process. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cores: Int)

/** What one measured run produced: jobs (or batches) attempted and
  * failed, the metrics by name with their units, and check failures. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** Shared helpers for the workloads. */
object Bench {

  /** The Spark session the job runs in: `local[cores]` with the engine's
    * production settings; scratch space stays inside the work dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", math.max(a.cores * 4, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      // no empty micro-batches just to advance the watermark: the stream's
      // one-hour dedup horizon never passes within a run
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Parquet data files under a directory, recursively. */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new File(dir))
  }

  def sizeMb(dir: String): Double = dataFiles(dir).map(_.length).sum / (1024.0 * 1024.0)

  /** Where a run's spans are written: beside the per-run work dir, which
    * is removed when the run ends. */
  def spansPath(a: Args, part: String): Path = {
    val dir = a.work.getParent.resolve("spans")
    Files.createDirectories(dir)
    dir.resolve(s"${a.workload}-${a.seed}-$part.jsonl")
  }

  /** A checksum recorded for (workload, seed, build) must read the same
    * on every later run in this checkout. Returns a failure if not. */
  def sameAsEarlierRuns(a: Args, sum: String): Option[String] = {
    val dir = a.work.getParent.resolve("checksums")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-${a.seed}-${sys.env.getOrElse("PERFBENCH_BUILD", "dev")}")
    if (Files.exists(f)) {
      val prev = new String(Files.readAllBytes(f), "UTF-8")
      if (prev == sum) None
      else Some(s"graph checksum $sum differs from an earlier run's $prev")
    } else {
      Files.write(f, sum.getBytes("UTF-8"))
      None
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      cores = Runtime.getRuntime.availableProcessors())
  }

  def json(o: Outcome): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val ms = o.metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${o.failures.isEmpty && o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // JVM start to here: process launch, class loading, JIT start-up
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Files.createDirectories(a.work)
    val o = a.workload match {
      case "crawl_distinct" => BatchRun(a, jvmS, Workloads.CrawlDistinct, Workloads.crawlPage)
      case "entity_dense" => BatchRun(a, jvmS, Workloads.EntityDense, Workloads.densePage)
      case "stream_ingest" => StreamRun(a, jvmS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    o.failures.foreach(f => log(s"check failed: $f"))
    println(json(o))
    log(f"done at ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.3f s")
  }
}
