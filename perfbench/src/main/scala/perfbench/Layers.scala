package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Layers a workload does not run are
  * reported as 0. */
object Layers {
  private val Mb = 1024.0 * 1024.0

  /** Total collection time of every garbage collector so far, in s. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def selfS(tr: Tracer, name: String): Double = tr.selfTimes.getOrElse(name, 0.0)

  /** html, chunk and extract front end, counted on a traced job's
    * persisted intermediate results. */
  def frontEnd(o: Outcome, tr: Tracer, f: BatchRun.Front, stageDir: String): Unit = {
    val h = f.texts.agg(count(lit(1)), sum(length(col("html"))), sum(octet_length(col("text"))))
      .head()
    o.put("html.self_s", selfS(tr, "html"), "s")
    o.put("html.pages", h.getLong(0).toDouble, "count")
    o.put("html.in_mb", h.getLong(1) / Mb, "MB")
    o.put("html.out_mb", h.getLong(2) / Mb, "MB")
    val c = f.chunks.agg(count(lit(1)), countDistinct(col("content_hash"))).head()
    o.put("chunk.self_s", selfS(tr, "chunk"), "s")
    o.put("chunk.chunks", c.getLong(0).toDouble, "count")
    o.put("chunk.distinct_ratio", c.getLong(1).toDouble / math.max(c.getLong(0), 1L), "ratio")
    o.put("extract.self_s", selfS(tr, "extract"), "s")
    o.put("extract.calls", f.raw.count().toDouble, "count")
    o.put("extract.mentions", f.ex.mentions.count().toDouble, "count")
    o.put("extract.triples", f.ex.triples.count().toDouble, "count")
    o.put("extract.stage_mb", Bench.sizeMb(s"$stageDir/extraction"), "MB")
    o.put("extract.consolidate_s", tr.total("extract.consolidate"), "s")
  }

  /** canon and sink: the graph refreshed or built by a traced job. */
  def canonAndSink(o: Outcome, spark: SparkSession, tr: Tracer, sc: SparkCounters.Summary,
      names: Long, entities: Long, outDir: String, tables: Seq[String]): Unit = {
    val canonSpans = sc.bySpan.filter(_._1.startsWith("canon"))
    o.put("canon.self_s", selfS(tr, "canon"), "s")
    o.put("canon.names", names.toDouble, "count")
    o.put("canon.entities", entities.toDouble, "count")
    o.put("canon.merge_ratio", 1.0 - entities.toDouble / math.max(names, 1L), "ratio")
    o.put("canon.rewrite_s", tr.total("canon.rewrite"), "s")
    o.put("canon.event_knn_s", tr.total("canon.event_knn"), "s")
    o.put("canon.shuffle_mb", canonSpans.values.map(_.shuffleWriteMb).sum, "MB")
    o.put("canon.task_skew",
      if (canonSpans.isEmpty) 1.0 else canonSpans.values.map(_.taskSkew).max, "ratio")
    val files = Bench.dataFiles(outDir)
    val rows = tables.map(t => spark.read.parquet(s"$outDir/$t").count()).sum
    o.put("sink.self_s", selfS(tr, "sink"), "s")
    o.put("sink.rows", rows.toDouble, "count")
    o.put("sink.files", files.size.toDouble, "count")
    o.put("sink.mb", files.map(_.length).sum / Mb, "MB")
  }

  def streamingAbsent(o: Outcome): Unit = {
    o.put("streaming.batch_s", 0.0, "s")
    o.put("streaming.refresh_s", 0.0, "s")
    o.put("streaming.state_rows", 0.0, "count")
    o.put("streaming.dedup_drop_ratio", 0.0, "ratio")
    o.put("streaming.late_s", 0.0, "s")
  }

  def spark(o: Outcome, sc: SparkCounters.Summary, gcS: Double): Unit = {
    o.put("spark.jobs", sc.jobs.toDouble, "count")
    o.put("spark.stages", sc.stages.toDouble, "count")
    o.put("spark.tasks", sc.tasks.toDouble, "count")
    o.put("spark.idle_s", sc.idleS, "s")
    o.put("spark.core_util", sc.coreUtil, "ratio")
    o.put("spark.shuffle_write_mb", sc.shuffleWriteMb, "MB")
    o.put("spark.spill_mb", sc.spillMb, "MB")
    o.put("spark.gc_s", gcS, "s")
    o.put("spark.failed_tasks", sc.failedTasks.toDouble, "count")
  }

  def traceOverhead(o: Outcome, traced: Option[Double], untraced: Option[Double]): Unit = {
    val (t, u) = (traced.getOrElse(Double.NaN), untraced.getOrElse(Double.NaN))
    o.put("trace.job_s", t, "s")
    o.put("trace.untraced_job_s", u, "s")
    o.put("trace.overhead_s", t - u, "s")
  }
}
