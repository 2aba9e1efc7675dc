package graft.perfbench

import graft.extract.Extractor
import graft.frontier.Outlinks
import graft.html.HtmlDom
import graft.url.Urls

/** Single-thread kernels of the per-page layers (`extract`, `html`,
  * `outlinks`, `url`) over the workload's own pages, each the median of
  * several passes after one warm pass.
  */
object Kernels {
  import PerfBench._

  private val Passes = 5
  @volatile private var sink = 0L

  private def perItem(n: Int)(body: => Unit): Double = {
    body
    median((0 until Passes).map(_ => secs(body)._2)) / math.max(n, 1)
  }

  def run(run: PerfBench.Run, universe: Map[String, String]): Unit = {
    val pages = universe.toVector.sortBy(_._1)
    val details = pages.filter(_._2.startsWith("<")).take(2000)
    val listings = pages.filter(_._2.startsWith("{")).take(500)
    val urls = pages.map(_._1).take(5000)
    val canonical = urls.map(Urls.canonicalize)

    val extractS = perItem(details.size) {
      details.foreach { case (u, h) => sink += Extractor.extract(u, "x", h).content.length }
    }
    val bytesPerPage = details.map(_._2.getBytes("UTF-8").length.toLong).sum.toDouble /
      math.max(details.size, 1)
    run.layers("extract.us_per_page") = extractS * 1e6
    run.layers("extract.mb_per_s") = bytesPerPage / extractS / (1024.0 * 1024.0)
    run.layers("html.parse_us_per_page") = perItem(details.size) {
      details.foreach { case (_, h) => sink += HtmlDom.parse(h).size }
    } * 1e6
    run.layers("outlinks.us_per_page") = perItem(listings.size) {
      listings.foreach { case (u, b) => sink += Outlinks.extract(u, b).size }
    } * 1e6
    run.layers("url.canonicalize_ns") = perItem(urls.size) {
      urls.foreach(u => sink += Urls.canonicalize(u).length)
    } * 1e9
    run.layers("url.sha256_ns") = perItem(canonical.size) {
      canonical.foreach(u => sink += Urls.sha256Hex(u).length)
    } * 1e9
  }
}
