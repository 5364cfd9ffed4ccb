package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own code: generators reach the properties the
  * workloads are chosen for, and the percentile helper reports the tail
  * it can support. */
class GenSpec extends AnyFunSuite {

  test("generators are pure functions of the seed") {
    assert(Gen.crawlWeb(3, 4, 2, 30, 4, 3, 0.2) == Gen.crawlWeb(3, 4, 2, 30, 4, 3, 0.2))
    assert(Gen.crawlWeb(3, 4, 2, 30, 4, 3, 0.2) != Gen.crawlWeb(4, 4, 2, 30, 4, 3, 0.2))
  }

  test("crawl web: about three quarters of the links are seen, some cross-host") {
    val w = Gen.crawlWeb(seed = 9, hosts = 16, partitions = 4, pagesPerHost = 120, fanout = 4, extraLinks = 3, crossHost = 0.2)
    assert(w.reachable.size == 16 * 120, "every page is reachable from its host's seed")
    assert(math.abs(w.seenShare - 0.75) < 0.03, s"seen share ${w.seenShare}")
    def host(u: String) = u.substring(0, u.indexOf(".example"))
    val links = w.pages.flatMap { case (u, ls) => ls.map(l => host(u) != host(l)) }
    val cross = links.count(identity).toDouble / links.size
    assert(cross > 0.08 && cross < 0.2, s"cross-host share $cross")
  }

  test("bus web is a tree: no seen links, every node reachable") {
    val w = Gen.busWeb(seed = 2, hosts = 4, partitions = 2, depth = 4, fanout = 3)
    assert(w.seenShare == 0.0)
    assert(w.reachable.size == 4 * (1 + 3 + 9 + 27))
    assert(w.reachableLinks == w.reachable.size - w.seeds.size)
  }

  test("hosts split evenly over the frontier's partitions") {
    val hosts = Gen.balancedHosts("w", 5, 24, 4)
    assert(hosts.distinct.size == 24)
    val parts = hosts.groupBy(h => graft.core.Hashing.crc32Partition(h, 4)).values.map(_.size)
    assert(parts.toSet == Set(6))
    val w = Gen.crawlWeb(5, 8, 4, 10, 4, 3, 0.2)
    val byPartition = w.pages.groupBy { case (u, _) =>
      graft.core.Hashing.crc32Partition(graft.core.UrlUtil.slotKey(u), 4) }.values.map(_.size)
    assert(byPartition.toSet == Set(20))
  }

  test("tail: highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble).reverse
    assert(Stats.tail(xs(100)) == Stats.Tail(90.0, 90.0, 100))
    assert(Stats.tail(xs(99)) == Stats.Tail(50.0, 50.0, 99))
    assert(Stats.tail(xs(1000)) == Stats.Tail(99.0, 990.0, 1000))
    assert(Stats.tail(xs(10000)) == Stats.Tail(99.9, 9990.0, 10000))
    assert(Stats.tail(xs(20)) == Stats.Tail(50.0, 10.0, 20))
    assert(Stats.tail(xs(7)).samples == 7, "too few samples: the median, with its count")
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
