package perfbench

import graft.canon.Canonicalizer
import graft.pages.{Page, PagesGenerator}
import graft.pipeline.KGPipeline
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `stream_ingest`: crawl pages arrive open-loop, one batch every
  * `seconds / batches` seconds whether or not the previous one is done.
  * Each batch goes through `StreamOps.streamingExtract` into a parquet
  * staging table; every `refreshEvery` batches (and after the last) the
  * graph is refreshed from the whole staging table: `consolidate`,
  * `canonicalize`, `rewriteTriples`, then the entity and edge tables are
  * written. A batch's ingest latency runs from its due time to the commit
  * of the first refresh that includes it. */
object StreamRun {

  /** State partitions of the dedup operator. */
  val StatePartitions = 1

  /** One ingest pass's measurements. */
  final case class Pass(endMs: Long, wallS: Double, gcS: Double, heapMb: Double, latencies: Seq[Double], lateS: Double,
      batchS: Seq[Double],
      refreshS: Seq[Double], stateRows: Long, dropped: Long, kept: Long,
      failedBatches: Int, errors: Seq[String], graph: Option[Graph])

  /** A refreshed graph: canonical entities, the name map, entity edges,
    * and the consolidated triples they came from. */
  final case class Graph(entities: DataFrame, nameMap: DataFrame, edges: DataFrame,
      triples: DataFrame)

  /** The graph refresh over everything staged so far. */
  def refresh(spark: SparkSession, tr: Tracer, stagingDir: String, stageDir: String,
      outDir: String, force: Boolean): Graph = {
    val ex = tr.span("extract.consolidate")(
      KGPipeline.consolidate(spark.read.parquet(stagingDir), Some(stageDir)))
    val g = tr.span("canon") {
      val (e0, nm0) = Canonicalizer.canonicalize(ex.mentions.withColumnRenamed("chunk_id", "chunkId"))
      val nameMap = nm0.localCheckpoint(true)
      val entities = if (force) e0.localCheckpoint(true) else e0
      val edges = tr.span("canon.rewrite") {
        val e = Canonicalizer.rewriteTriples(ex.triples.withColumnRenamed("chunk_id", "chunkId"), nameMap)
        if (force) e.localCheckpoint(true) else e
      }
      Graph(entities, nameMap, edges, ex.triples)
    }
    tr.span("sink") {
      g.entities.write.mode(SaveMode.Overwrite).parquet(s"$outDir/entities")
      g.edges.write.mode(SaveMode.Overwrite).parquet(s"$outDir/edges")
    }
    g
  }

  /** Feed `batches` on an open-loop schedule through one streaming query
    * into `dir`, refreshing the graph every `refreshEvery` batches. */
  def pass(spark: SparkSession, a: Args, tr: Tracer, batches: IndexedSeq[Seq[Page]],
      intervalS: Double, refreshEvery: Int, dir: String): Pass = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (stagingDir, stageDir, outDir) = (s"$dir/staging", s"$dir/stage", s"$dir/graph")
    val input = MemoryStream[Page]
    // The dedup state is partitioned at query start: a batch of a few
    // hundred chunks fills one state partition.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val q: StreamingQuery =
      try StreamOps.streamingExtract(input.toDS())
        .writeStream.format("parquet")
        .option("path", stagingDir)
        .option("checkpointLocation", s"$dir/checkpoint")
        .outputMode(OutputMode.Append).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

    val latencies, batchS, refreshS = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var failedBatches = 0
    var pendingDue = List.empty[Long]
    var lateS = 0.0
    var graph = Option.empty[Graph]
    val intervalNs = (intervalS * 1e9).toLong
    HeapPeak.reset()
    val gc0 = Layers.gcSeconds()
    val t0 = System.nanoTime() + 20000000L
    var lastCommit = t0
    try {
      batches.indices.foreach { b =>
        val due = t0 + b * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val start = System.nanoTime()
        if (b == batches.size - 1) lateS = (start - due) / 1e9
        try {
          tr.span("streaming.batch") {
            input.addData(batches(b): _*)
            q.processAllAvailable()
          }
          batchS += Bench.secondsSince(start)
          pendingDue ::= due
        } catch {
          case NonFatal(e) =>
            failedBatches += 1
            errors += s"batch $b failed: $e"
        }
        if (pendingDue.nonEmpty && ((b + 1) % refreshEvery == 0 || b == batches.size - 1)) {
          val r0 = System.nanoTime()
          try {
            val g = tr.span("refresh")(
              refresh(spark, tr, stagingDir, stageDir, outDir, tr.enabled))
            val commit = System.nanoTime()
            lastCommit = commit
            refreshS += (commit - r0) / 1e9
            latencies ++= pendingDue.map(d => (commit - d) / 1e9)
            graph = Some(g)
          } catch {
            case NonFatal(e) =>
              failedBatches += pendingDue.size
              errors += s"refresh after batch $b failed: $e"
          }
          pendingDue = Nil
        }
      }
    } finally q.stop()
    val wallS = (lastCommit - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val gcS = Layers.gcSeconds() - gc0
    val heapMb = HeapPeak.sampleMb()
    val dedup = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
    val dropped = dedup.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    Pass(endMs, wallS, gcS, heapMb, latencies.toSeq, lateS, batchS.toSeq, refreshS.toSeq,
      stateRows = dedup.lastOption.map(_.numRowsTotal).getOrElse(0L),
      dropped = dropped, kept = dedup.map(_.numRowsUpdated).sum,
      failedBatches = failedBatches, errors = errors.toSeq,
      graph = graph)
  }

  def pagesOf(shape: Workloads.StreamShape, seed: Long, base: Long): IndexedSeq[Seq[Page]] =
    (0 until shape.batches).map(b =>
      Workloads.streamBatchIds(shape, seed, b).map(i => PagesGenerator.page(base + i)))

  def apply(a: Args, jvmS: Double, shape: Workloads.StreamShape = Workloads.StreamIngest): Outcome = {
    val o = new Outcome
    val intervalS = a.seconds.toDouble / shape.batches

    // set-up: session, the pages of every batch, one short warm-up pass
    val t0 = System.nanoTime()
    val spark = Bench.session(a)
    val counters = new SparkCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    Bench.log(f"jvm $jvmS%.3f s, session ${Bench.secondsSince(t0)}%.3f s")
    val batches = pagesOf(shape, a.seed, Workloads.idOffset(a.seed))
    val warm = pagesOf(shape.copy(batches = Workloads.StreamWarmBatches), a.seed,
      Workloads.warmOffset(a.seed))
    Bench.log(f"generated at ${Bench.secondsSince(t0)}%.3f s")
    pass(spark, a, Tracer.off, warm, 0.0, warm.size, s"${a.work}/warm")
    val setupS = jvmS + Bench.secondsSince(t0)
    Bench.log(f"set-up $setupS%.3f s")
    val prGate = Checks.prGate(spark)

    /** One measured pass, then its output checks after the clock stopped. */
    def checkedPass(tr: Tracer, dir: String): Pass = {
      val p = pass(spark, a, tr, batches, intervalS, shape.refreshEvery, dir)
      Bench.log(f"ingest: batches ${Bench.median(p.batchS)}%.3f s (median), " +
        f"refreshes ${p.refreshS.map(x => f"$x%.2f").mkString(" ")}, late ${p.lateS}%.3f s")
      val checkErrs = p.graph match {
        case Some(g) =>
          val (sum, errs) = Checks.both(
            Checks.graphChecksum(spark, s"$dir/graph", Seq("entities", "edges")),
            Checks.refreshedGraph(spark, s"$dir/graph", g.entities, g.edges))
          errs ++ Bench.sameAsEarlierRuns(a, sum)
        case None => Seq("no graph was committed")
      }
      val errs = p.errors ++ checkErrs ++ prGate
      o.attempted += shape.batches
      // a failed check fails every batch the committed graph covers
      o.failed += (if (checkErrs.nonEmpty || prGate.nonEmpty) shape.batches else p.failedBatches)
      o.failures ++= errs
      p
    }

    if (!a.trace) {
      val dir = s"${a.work}/run"
      val p = checkedPass(Tracer.off, dir)
      val triples = p.graph.map(_.triples.count()).getOrElse(0L)
      val graphMb = Bench.sizeMb(s"$dir/graph/entities") + Bench.sizeMb(s"$dir/graph/edges")
      o.put("setup_s", setupS, "s")
      o.put("job_s", p.wallS, "s")
      o.put("triples_per_s", triples / p.wallS, "1/s")
      o.put("graph_bytes_per_page", graphMb * 1024 * 1024 / (shape.batches * shape.newPerBatch), "B")
      o.put("live_heap_peak_mb", p.heapMb, "MB")
      o.put("ingest_latency_p50_s", Bench.quantile(p.latencies, 0.5), "s")
      o.put("ingest_latency_p75_s", Bench.quantile(p.latencies, 0.75), "s")
    } else {
      // The front end runs inside each micro-batch; to time its layers
      // apart, force them once over the same pages in their own spans.
      val front = s"${a.work}/front"
      spark.createDataset(batches.flatten)(org.apache.spark.sql.Encoders.product[Page])
        .write.parquet(s"$front/pages")
      val frontTracer = new Tracer(spark.sparkContext)
      val f = BatchRun.tracedFront(spark, frontTracer, s"$front/pages", s"$front/stage")
      Layers.frontEnd(o, frontTracer, f, s"$front/stage")
      f.unpersist()
      frontTracer.write(Bench.spansPath(a, "front"))

      val dir = s"${a.work}/run"
      val tracer = new Tracer(spark.sparkContext)
      counters.drain(spark.sparkContext)
      counters.reset()
      val tw0 = System.currentTimeMillis()
      val p = checkedPass(tracer, dir)
      counters.drain(spark.sparkContext)
      val sc = counters.summary(tw0, p.endMs, a.cores)
      tracer.write(Bench.spansPath(a, "pass"))
      // the refreshes' own consolidation, not the front-end profile's
      o.put("extract.consolidate_s", tracer.total("extract.consolidate"), "s")
      val (names, ents) = p.graph.map(g => (g.nameMap.count(), g.entities.count())).getOrElse((0L, 0L))
      Layers.canonAndSink(o, spark, tracer, sc, names, ents, s"$dir/graph", Seq("entities", "edges"))
      o.put("streaming.batch_s", Bench.median(p.batchS), "s")
      o.put("streaming.refresh_s", Bench.median(p.refreshS), "s")
      o.put("streaming.state_rows", p.stateRows.toDouble, "count")
      o.put("streaming.dedup_drop_ratio", p.dropped.toDouble / math.max(p.dropped + p.kept, 1L), "ratio")
      o.put("streaming.late_s", p.lateS, "s")
      Layers.spark(o, sc, p.gcS)
      // Tracing changes only the refreshes (spans, and their frames
      // forced); the batches just run inside a span. So the overhead is
      // the pass's last traced refresh against an untraced refresh of the
      // same staging table, run after it.
      val u0 = System.nanoTime()
      refresh(spark, Tracer.off, s"$dir/staging", s"${a.work}/untraced/stage",
        s"${a.work}/untraced/graph", force = false)
      Layers.traceOverhead(o, p.refreshS.lastOption, Some(Bench.secondsSince(u0)))
    }
    spark.stop()
    o
  }
}
