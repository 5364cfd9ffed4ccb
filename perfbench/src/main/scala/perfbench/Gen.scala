package perfbench

import scala.collection.mutable
import graft.core.{Hashing, UrlUtil}
import graft.local.Graphs

/** Seeded input generators. Every generator is a pure function of its
  * seed; the engine only ever sees the rows or pages they produce. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for item `i` of stream `seed`. */
  def unit(seed: Long, i: Long): Double =
    (mix64(mix64(seed) ^ i) >>> 11) / 9007199254740992.0

  /** A synthetic web: page url -> outlinks, plus the crawl's seeds. */
  final case class Web(pages: Vector[(String, Vector[String])],
      seeds: Vector[String]) {
    private lazy val links: Map[String, Vector[String]] = pages.toMap
    /** Every URL reachable from the seeds (the seeds included). */
    lazy val reachable: Set[String] = {
      val seen = mutable.HashSet.empty[String] ++= seeds
      var next = seeds.toList
      while (next.nonEmpty)
        next = next.flatMap(u => links.getOrElse(u, Vector.empty).filter(seen.add))
      seen.toSet
    }
    /** Outlinks on reachable pages: the link rows a full crawl feeds the
      * link pipeline. */
    lazy val reachableLinks: Long =
      pages.iterator.filter(p => reachable(p._1)).map(_._2.length.toLong).sum
    /** Share of those links that point at a URL the crawl already knows.
      * Each reachable non-seed URL is discovered by exactly one link, so
      * the share does not depend on crawl order. */
    lazy val seenShare: Double =
      if (reachableLinks == 0) 0.0
      else 1.0 - (reachable -- seeds).size.toDouble / reachableLinks
    def asMap: Map[String, Seq[String]] = links
  }

  /** `n` seed-named hosts, at most ceil(n / partitions) of them in each
    * of the frontier's host partitions (the engine's crc32 host
    * partitioner): the seed changes names, fingerprints and links, never
    * how the load splits over partitions, which would change how many
    * epochs a crawl takes. */
  def balancedHosts(prefix: String, seed: Long, n: Int, partitions: Int): Vector[String] = {
    val cap = (n + partitions - 1) / partitions
    val perPartition = Array.fill(partitions)(0)
    Iterator.from(0).map(k => s"$prefix$seed-h$k.example")
      .filter { h =>
        val p = Hashing.crc32Partition(UrlUtil.slotKey(s"http://$h/"), partitions)
        perPartition(p) < cap && { perPartition(p) += 1; true }
      }
      .take(n).toVector
  }

  /** `crawl` web: per host a `fanout`-ary tree of `pagesPerHost` pages
    * (page i links to pages fanout*i+1 .. fanout*i+fanout, so every page
    * is reachable from the host's root seed) plus `extraLinks` links per page to uniformly
    * chosen pages, a `crossHost` share of them on another host. Nearly
    * every extra link hits a URL the crawl already knows, so the seen
    * share is about extraLinks / (extraLinks + 1). */
  def crawlWeb(seed: Long, hosts: Int, partitions: Int, pagesPerHost: Int,
      fanout: Int, extraLinks: Int, crossHost: Double): Web = {
    val names = balancedHosts("w", seed, hosts, partitions)
    def url(h: Int, i: Int) = s"http://${names(h)}/p$i"
    var draw = 0L
    def next(): Double = { draw += 1; unit(seed, draw) }
    val pages = for (h <- 0 until hosts; i <- 0 until pagesPerHost) yield {
      val tree = (1 to fanout).map(fanout * i + _).filter(_ < pagesPerHost).map(url(h, _))
      val extra = (0 until extraLinks).map { _ =>
        val th = if (next() < crossHost) (next() * hosts).toInt else h
        url(th, (next() * pagesPerHost).toInt)
      }
      url(h, i) -> (tree ++ extra).distinct.toVector
    }
    Web(pages.toVector, (0 until hosts).map(url(_, 0)).toVector)
  }

  /** `bus` web: the engine's own bench tree (`Graphs.benchGraph`), with
    * seed-named hosts balanced over `partitions`. A tree has no seen
    * links. */
  def busWeb(seed: Long, hosts: Int, partitions: Int, depth: Int, fanout: Int): Web = {
    val g = Graphs.benchGraph(hosts, depth, fanout)
    val names = balancedHosts("b", seed, hosts, partitions)
    val HostUrl = "http://host([0-9]+)\\.example/(.*)".r
    def rename(u: String) = u match {
      case HostUrl(h, rest) => s"http://${names(h.toInt)}/$rest"
    }
    Web(g.pages.map { case (u, ls) => rename(u) -> ls.map(rename) },
      g.seeds.map(rename))
  }

}
