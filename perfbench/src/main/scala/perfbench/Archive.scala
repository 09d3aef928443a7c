package perfbench

import java.nio.file.{Files, Paths}

/** The class-loading pass behind the JVM's class-data-sharing archive.
  * It runs every workload's code path on small inputs: a batch run, and a
  * traced stream run, whose front-end profile forces the layers the way a
  * traced batch job does. Run once per build in
  * a JVM started with `-XX:ArchiveClassesAtExit`, it records the classes
  * the measured runs load, so they map them from the archive instead of
  * loading and verifying them from jars at every start:
  *
  *   java ... -XX:ArchiveClassesAtExit=target/classes.jsa perfbench.Archive WORKDIR
  *
  * Exits non-zero if any of its runs failed a check. */
object Archive {
  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0)).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    def args(w: String, trace: Boolean) = {
      val dir = work.resolve(w)
      Files.createDirectories(dir)
      Args(w, seed = 0L, seconds = 1, trace = trace, work = dir, cores = cores)
    }
    val outcomes = Seq(
      BatchRun(args("crawl_distinct", trace = false), 0.0,
        Workloads.CrawlDistinct.copy(pages = 40, warmPages = 10), Workloads.crawlPage),
      StreamRun(args("stream_ingest", trace = true), 0.0,
        Workloads.StreamIngest.copy(batches = 2, refreshEvery = 1)))
    val failures = outcomes.flatMap(_.failures)
    failures.foreach(f => Bench.log(s"archive pass: check failed: $f"))
    if (failures.nonEmpty || outcomes.exists(_.failed > 0)) sys.exit(1)
  }
}
