package perfbench

import graft.pipeline.KGPipeline
import graft.sink.GraphSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. None of them runs inside a timed section. Each returns
  * the failures it found, as messages; an empty list means it passed. */
object Checks {

  /** Order-independent checksum of a committed table: row count plus the
    * exact sum of a 64-bit hash of every row, all columns included. */
  def checksum(spark: SparkSession, dir: String): String = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** Checksum of every table under `outDir`, one entry per table. */
  def graphChecksum(spark: SparkSession, outDir: String, tables: Seq[String]): String =
    tables.map(t => s"$t=${checksum(spark, s"$outDir/$t")}").mkString(";")

  /** The fixture precision/recall gate (P and R >= 0.95). */
  def prGate(spark: SparkSession): Seq[String] =
    violations(graft.SparkEntry.kgPrFixture(spark)
      .filter(col("check_name").endsWith("_below_gate")))
      .map(v => s"P/R fixture gate: $v")

  /** `GraphSink.integrity` all-zero, and the committed node/edge row
    * counts per class equal to `GraphSink.stats`. */
  def graph(spark: SparkSession, r: KGPipeline.Result, outDir: String): Seq[String] = {
    val (integrity, (expected, committed)) = both(
      violations(GraphSink.integrity(r)).map(v => s"integrity: $v"),
      both(
        GraphSink.stats(r).collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap,
        committedCounts(spark, outDir)))
    val countErrs = (expected.keySet ++ committed.keySet).toSeq.sorted.flatMap { k =>
      val (e, c) = (expected.getOrElse(k, 0L), committed.getOrElse(k, 0L))
      if (e == c) None else Some(s"committed ${k._1} ${k._2}: $c rows, stats say $e")
    }
    integrity ++ countErrs
  }

  /** Runs `a` and `b` at once. Each check is a chain of small Spark jobs
    * that leaves most cores idle, so side by side they take about half
    * the wall time. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def task[T](t: => T) = pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t })
    try {
      val (fa, fb) = (task(a), task(b))
      (fa.get(), fb.get())
    } finally pool.shutdown()
  }

  /** Row counts of the committed tables per (kind, class). */
  def committedCounts(spark: SparkSession, outDir: String): Map[(String, String), Long] = {
    def per(kind: String, table: String, part: String) =
      spark.read.parquet(s"$outDir/$table").groupBy(part).count().collect()
        .map(x => (kind, x.getString(0)) -> x.getLong(1))
    (per("node", "nodes", "label") ++ per("edge", "edges", "edge_type")).toMap
  }

  /** Every edge endpoint of a refreshed (entities, edges) graph resolves
    * to an entity, and the committed row counts equal the frames'. */
  def refreshedGraph(spark: SparkSession, outDir: String,
      entities: DataFrame, edges: DataFrame): Seq[String] = {
    val ents = spark.read.parquet(s"$outDir/entities").select("canonical_id")
    val eds = spark.read.parquet(s"$outDir/edges")
    val dangling = Seq("subj_id", "obj_id").flatMap { c =>
      val n = eds.join(ents, eds(c) === ents("canonical_id"), "left_anti").count()
      if (n == 0) None else Some(s"edges with dangling $c: $n")
    }
    val counts = Seq("entities" -> entities, "edges" -> edges).flatMap { case (t, df) =>
      val (e, c) = (df.count(), spark.read.parquet(s"$outDir/$t").count())
      if (e == c) None else Some(s"committed $t: $c rows, frame has $e")
    }
    dangling ++ counts
  }

  private def violations(df: DataFrame): Seq[String] =
    df.collect().toSeq.collect {
      case r if r.getLong(1) != 0L => s"${r.getString(0)}=${r.getLong(1)}"
    }
}
