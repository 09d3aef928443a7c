package perfbench

import graft.embed.HashingEmbedder.mix64
import graft.html.HtmlToMarkdown
import graft.pages.{Page, PagesGenerator}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

/** Seeded inputs of the three workloads. The program only ever sees the
  * generated pages; the seed picks which pages are generated. */
object Workloads {

  /** Batch workload shape: pages per job, pages of the warm-up job. */
  final case class BatchShape(pages: Int, warmPages: Int)

  val CrawlDistinct = BatchShape(pages = 2000, warmPages = 500)
  val EntityDense = BatchShape(pages = 3000, warmPages = 750)

  /** Stream workload shape: `batches` arrivals of `newPerBatch` unseen
    * pages plus `recrawlPerBatch` pages re-fetched from earlier batches;
    * the graph is refreshed after every `refreshEvery` batches and after
    * the last. */
  final case class StreamShape(batches: Int, newPerBatch: Int,
      recrawlPerBatch: Int, refreshEvery: Int)

  val StreamIngest = StreamShape(batches = 40, newPerBatch = 40,
    recrawlPerBatch = 16, refreshEvery = 40)

  /** Batches of the stream warm-up pass. */
  val StreamWarmBatches = 1

  /** Page-id window of a seed: disjoint windows of a million ids for
    * seeds 0..99999 (larger seeds wrap), far from the small ids the
    * library's own tests and fixtures use. */
  def idOffset(seed: Long): Long = 10000000L + java.lang.Math.floorMod(seed, 100000L) * 1000000L

  /** Ids of the warm-up pages: a window no measured seed draws from, so
    * warm-up never pre-computes a measured page. */
  def warmOffset(seed: Long): Long = 5000000L + java.lang.Math.floorMod(seed, 4L) * 100000L

  /** A crawl page: the generator's own page `id`; the seed only moves
    * the id window. */
  def crawlPage(seed: Long, id: Long): Page = PagesGenerator.page(id)

  /** Code lines per entity-dense page. */
  val DenseLines = 24

  private val navWords = Vector("首页", "部件目录", "技术标准", "关于我们", "联系方式")

  /** One short, one-section catalogue page: many `部件型号：X，属于Y。` lines
    * drawn Zipf-style from the generator's open code vocabulary, inside
    * the same nav/main/footer shell the crawl pages use. Every draw is a
    * hash of (seed, page id, slot). */
  def denseHtml(seed: Long, id: Long): String = {
    val key = mix64(mix64(seed) ^ id)
    val sb = new StringBuilder
    val title = s"部件清单第${id}号"
    sb ++= "<html><head><title>" ++= title ++= "</title></head><body>"
    sb ++= "<div class=\"nav\">"
    navWords.foreach(w => sb ++= s"""<a href="/parts/$w">$w</a> """)
    sb ++= "</div><div class=\"main\">"
    sb ++= s"<h1>$title</h1>"
    var slot = 0
    while (slot < DenseLines) {
      val idx = PagesGenerator.zipfCode(key, slot)
      val surface = PagesGenerator.codeSurface(idx, key, 1000 + slot)
      val cat = PagesGenerator.CodeCategories(
        (idx % PagesGenerator.CodeCategories.length).toInt)
      sb ++= s"<p>部件型号：$surface，属于$cat。</p>"
      slot += 1
    }
    sb ++= "</div><div class=\"footer\">"
    navWords.foreach(w => sb ++= s"""<a href="/f/$w">$w</a> """)
    sb ++= s"<a href=\"/beian\">备案信息</a>©${2020 + (id % 6)}</div>"
    sb ++= "</body></html>"
    sb.toString
  }

  def densePage(seed: Long, id: Long): Page = {
    val html = denseHtml(seed, id)
    Page(
      url = f"https://synth.test/parts/$id%09d",
      warc_ts = new Timestamp(1700000000000L + id * 977L),
      html = html.getBytes(StandardCharsets.UTF_8),
      text = HtmlToMarkdown(html),
      lang = "zh")
  }

  /** Page ids (relative to the seed's window) arriving in stream batch
    * `b`: the batch's unseen pages, then re-fetches of earlier pages
    * drawn by hash from everything already delivered. */
  def streamBatchIds(shape: StreamShape, seed: Long, b: Int): Seq[Long] = {
    val fresh = (0 until shape.newPerBatch).map(k => b.toLong * shape.newPerBatch + k)
    val seen = b.toLong * shape.newPerBatch
    val recrawl =
      if (seen == 0) Seq.empty
      else (0 until shape.recrawlPerBatch).map { k =>
        java.lang.Math.floorMod(mix64(mix64(seed ^ 0x5eedL) ^ (b.toLong << 20 | k)), seen)
      }
    fresh ++ recrawl
  }
}
