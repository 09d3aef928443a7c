package perfbench

import graft.canon.Canonicalizer
import graft.extract.TripleExtractor
import graft.html.HtmlToMarkdown
import graft.pages.Page
import graft.pipeline.KGPipeline
import graft.sink.GraphSink
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The batch workloads (`crawl_distinct`, `entity_dense`): a pages table
  * in parquet is read, run through `KGPipeline.runOnPages` with a
  * staging dir, and written as the node/edge tables by `GraphSink.write`.
  * The job repeats until the timed jobs add up to the run length. */
object BatchRun {

  type Gen = (Long, Long) => Page

  def generate(spark: SparkSession, gen: Gen, seed: Long, base: Long, n: Int,
      dir: String, cores: Int): Unit = {
    import spark.implicits._
    spark.range(base, base + n, 1, cores * 4).map(id => gen(seed, id))
      .write.mode("overwrite").parquet(dir)
  }

  /** The measured job: pages table -> committed node/edge tables. */
  def job(spark: SparkSession, pagesDir: String, stageDir: String,
      outDir: String): KGPipeline.Result = {
    import spark.implicits._
    val pages = spark.read.parquet(pagesDir).as[Page]
    val r = KGPipeline.runOnPages(spark, pages, stageDir = Some(stageDir))
    GraphSink.write(r, outDir)
    r
  }

  def apply(a: Args, jvmS: Double, shape: Workloads.BatchShape, gen: Gen): Outcome = {
    val o = new Outcome
    val w = a.work.toString
    val (pagesDir, warmDir) = (s"$w/pages", s"$w/warm_pages")
    val (stageDir, outDir) = (s"$w/stage", s"$w/graph")

    // set-up: session, input generation, one untimed warm-up job
    val t0 = System.nanoTime()
    val spark = Bench.session(a)
    val counters = new SparkCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    Bench.log(f"jvm $jvmS%.3f s, session ${Bench.secondsSince(t0)}%.3f s")
    generate(spark, gen, a.seed, Workloads.idOffset(a.seed), shape.pages, pagesDir, a.cores)
    // A warm-up on a quarter of the pages (other ids) compiles the same
    // code paths; a full-size one costs more set-up and leaves the first
    // timed job no warmer.
    generate(spark, gen, a.seed, Workloads.warmOffset(a.seed), shape.warmPages, warmDir, a.cores)
    Bench.log(f"generated at ${Bench.secondsSince(t0)}%.3f s")
    job(spark, warmDir, stageDir, outDir)
    val setupS = jvmS + Bench.secondsSince(t0)
    Bench.log(f"set-up $setupS%.3f s")
    val prGate = Checks.prGate(spark)

    // One timed job, then its output checks with the clock stopped. The
    // first timed job gets the full checks; every later one reads the same
    // pages and must commit tables with the same checksum.
    var reference: Option[(String, Seq[String])] = None
    def timedJob(run: => KGPipeline.Result): Option[(Double, Double, KGPipeline.Result)] = {
      o.attempted += 1
      HeapPeak.reset()
      val t = System.nanoTime()
      try {
        val r = run
        val dt = Bench.secondsSince(t)
        val heapMb = HeapPeak.sampleMb()
        Bench.log(f"job ${o.attempted}: $dt%.3f s")
        val tc = System.nanoTime()
        def sum = Checks.graphChecksum(spark, outDir, Seq("nodes", "edges"))
        val errs = reference match {
          case None =>
            val (s, e) = Checks.both(sum, Checks.graph(spark, r, outDir))
            val all = e ++ Bench.sameAsEarlierRuns(a, s) ++ prGate
            reference = Some((s, all))
            all
          case Some((ref, refErrs)) =>
            val s = sum
            (if (s == ref) Nil else Seq(s"graph checksum $s differs from the checked graph's $ref")) ++
              refErrs
        }
        Bench.log(f"checks ${Bench.secondsSince(tc)}%.3f s")
        if (errs.nonEmpty) { o.failed += 1; o.failures ++= errs; None }
        else Some((dt, heapMb, r))
      } catch {
        case NonFatal(e) =>
          o.failed += 1
          o.failures += s"job failed: $e"
          None
      }
    }

    if (!a.trace) {
      val jobS, heap = ArrayBuffer.empty[Double]
      var last: Option[KGPipeline.Result] = None
      while (jobS.sum < a.seconds && o.attempted < 1000 && o.failed < 3) {
        timedJob(job(spark, pagesDir, stageDir, outDir)).foreach { case (dt, heapMb, r) =>
          jobS += dt
          heap += heapMb
          last = Some(r)
        }
      }
      last.foreach { r =>
        val triples = r.triples.count()
        val graphMb = Bench.sizeMb(s"$outDir/nodes") + Bench.sizeMb(s"$outDir/edges")
        val js = Bench.median(jobS)
        o.put("setup_s", setupS, "s")
        o.put("job_s", js, "s")
        o.put("triples_per_s", triples / js, "1/s")
        o.put("graph_bytes_per_page", graphMb * 1024 * 1024 / shape.pages, "B")
        o.put("live_heap_peak_mb", Bench.median(heap), "MB")
        // all pages of a job are due when it starts and committed when it ends
        o.put("ingest_latency_p50_s", js, "s")
        o.put("ingest_latency_p75_s", Bench.quantile(jobS, 0.75), "s")
      }
    } else {
      val untraced = timedJob(job(spark, pagesDir, stageDir, outDir)).map(_._1)
      val tracer = new Tracer(spark.sparkContext)
      counters.drain(spark.sparkContext)
      counters.reset()
      val tw0 = System.currentTimeMillis()
      var gcS = 0.0
      var forced: Option[(Front, KGPipeline.Result)] = None
      var tw1 = 0L
      val traced = timedJob {
        val gc0 = Layers.gcSeconds()
        val fr = tracer.span("job")(tracedJob(spark, tracer, pagesDir, stageDir, outDir))
        tw1 = System.currentTimeMillis()
        gcS = Layers.gcSeconds() - gc0
        forced = Some(fr)
        fr._2
      }.map(_._1)
      counters.drain(spark.sparkContext)
      val sc = counters.summary(tw0, tw1, a.cores)
      tracer.write(Bench.spansPath(a, "job"))
      forced.foreach { case (f, r) =>
        Layers.frontEnd(o, tracer, f, stageDir)
        Layers.canonAndSink(o, spark, tracer, sc, r.nameMap.count(), r.entities.count(),
          outDir, Seq("nodes", "edges"))
        f.unpersist()
      }
      Layers.streamingAbsent(o)
      Layers.spark(o, sc, gcS)
      Layers.traceOverhead(o, traced, untraced)
    }
    spark.stop()
    o
  }

  /** The front end of a traced job, forced and persisted. */
  final case class Front(texts: Dataset[Page], chunks: Dataset[KGPipeline.ChunkRow],
      raw: DataFrame, ex: KGPipeline.Extraction, eventEdges: DataFrame,
      persisted: Seq[Dataset[_]]) {
    def unpersist(): Unit = persisted.foreach(_.unpersist())
  }

  private def force[T <: Dataset[_]](keep: ArrayBuffer[Dataset[_]])(d: T): T = {
    d.persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    keep += d
    d
  }

  /** html, chunk and extract, each forced on its own persisted input
    * inside its own span, so each layer's time and Spark jobs can be told
    * apart. Extraction repeats KGPipeline.extract's per-partition
    * first-sighting filter and compact extraction, forced before
    * `consolidate`. */
  def tracedFront(spark: SparkSession, tr: Tracer, pagesDir: String, stageDir: String): Front = {
    import spark.implicits._
    val keep = ArrayBuffer.empty[Dataset[_]]
    val pages = spark.read.parquet(pagesDir).as[Page]
    val texts = tr.span("html") {
      force(keep)(pages.map(p => p.copy(text = HtmlToMarkdown(new String(p.html, StandardCharsets.UTF_8)))))
    }
    val chunks = tr.span("chunk")(force(keep)(KGPipeline.chunk(texts, fromHtml = false)))
    tr.span("extract") {
      val bc = spark.sparkContext.broadcast(TripleExtractor.default)
      val raw = force(keep)(chunks.mapPartitions { it =>
        val extractor = bc.value
        val seen = scala.collection.mutable.HashSet.empty[String]
        it.filter(c => seen.add(c.content_hash)).map { c =>
          val (ms, ts, es, rs) = extractor.extractAllCompact(c.content)
          (c.chunk_id, c.content_hash, ms, ts, es, rs)
        }
      }.toDF("chunk_id", "content_hash", "mentions", "triples", "events", "event_rels"))
      val ex = tr.span("extract.consolidate")(KGPipeline.consolidate(raw, Some(stageDir), Some(bc)))
      val evEdges = force(keep)(KGPipeline.eventEdges(ex.events, ex.eventRels))
      Front(texts, chunks, raw, ex, evEdges, keep.toSeq)
    }
  }

  /** The traced job: [[tracedFront]], then canon and sink the same way.
    * Returns the front and the graph it wrote. */
  def tracedJob(spark: SparkSession, tr: Tracer, pagesDir: String,
      stageDir: String, outDir: String): (Front, KGPipeline.Result) = {
    val f = tracedFront(spark, tr, pagesDir, stageDir)
    val keep = ArrayBuffer.empty[Dataset[_]]
    val ex = f.ex
    val (entities, nameMap, edges, participates, similar) = tr.span("canon") {
      val (e0, nm0) = Canonicalizer.canonicalize(ex.mentions.withColumnRenamed("chunk_id", "chunkId"))
      val nameMap = nm0.localCheckpoint(true)
      val entities = force(keep)(e0)
      val edges = tr.span("canon.rewrite")(force(keep)(
        Canonicalizer.rewriteTriples(ex.triples.withColumnRenamed("chunk_id", "chunkId"), nameMap)))
      // PARTICIPATES_IN: event participants resolved through the name map,
      // as KGPipeline.runOnPages builds it
      val participates = force(keep)(ex.events
        .select(col("event_id"), explode(col("participants")).as("entity_name"))
        .join(nameMap, "entity_name")
        .select(col("canonical_id"), col("event_id"))
        .distinct())
      val similar = tr.span("canon.event_knn")(force(keep)(Canonicalizer.eventKnn(ex.events)))
      (entities, nameMap, edges, participates, similar)
    }
    val r = KGPipeline.Result(f.texts, f.chunks, ex.mentions, ex.triples, ex.events, entities,
      nameMap, edges, participates, similar, f.eventEdges, ex.eventRels)
    tr.span("sink")(GraphSink.write(r, outDir))
    (f.copy(persisted = f.persisted ++ keep), r)
  }
}
