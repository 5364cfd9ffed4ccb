package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import graft.bus.{BusCodec, BusSpider, LogBus, SparkBusWorker}
import graft.core.Hashing
import graft.local.States
import graft.spark.{ScoreStrategy, SparkCrawler, SparkFrontier}

object Workload {
  /** Epochs of the untimed warm-up round. */
  val warmEpochs = 2
}

/** A workload: an untimed warm-up, then rounds of (set-up, timed closed
  * loop, correctness gates). Rounds repeat identical inputs so that
  * set-up can be reported as a median. */
abstract class Workload(val ctx: Ctx) {
  import ctx._
  /** Generator properties the workload depends on (reported, not gated). */
  val properties = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** One round: set-up, closed loop and, when `record`, the gates and
    * measurements. An unrecorded round is the warm-up: its first
    * `Workload.warmEpochs` epochs run every plan of the timed rounds, so
    * Spark's code caches and the JIT are warm when timing starts. */
  def round(record: Boolean): Unit
  /** One more set-up, measured and then discarded. */
  def setupOnly(): Unit

  protected def frontier(root: Path): SparkFrontier =
    new SparkFrontier(spark, root.toString, partitions = slots,
      stateBuckets = slots, strategy = ScoreStrategy.BFS, globalOrder = false,
      asyncDequeueCommit = true)

  private def stores(f: SparkFrontier) = Seq(f.queue, f.states, f.metadata, f.domainMeta)

  /** Delete a store that is done with. `frontier.epoch` first joins the
    * asynchronous dequeue commit, which otherwise may still be writing
    * under `root` while it is deleted. */
  protected def discard(f: SparkFrontier, root: Path): Unit = {
    f.epoch
    Ctx.deleteRec(root)
  }

  /** Commit count over the frontier's four stores (manifest versions). */
  protected def versions(f: SparkFrontier): Long =
    stores(f).map(s => math.max(0L, s.currentVersion)).sum

  protected def leafFiles(f: SparkFrontier): Long =
    stores(f).map(_.readManifest().bucketPaths.valuesIterator.map(_.size.toLong).sum).sum

  /** `frontier.epoch` joins the asynchronous dequeue commit; only then
    * is `lastScan` this epoch's (it races the commit thread before). */
  protected def joinAndScan(f: SparkFrontier): Unit = {
    tracer.span("commit_wait")(f.epoch)
    val s = f.lastScan
    if (s.totalPaths > 0) acc.scanFracs += s.scannedPaths.toDouble / s.totalPaths
    acc.add("spark.dequeue.tries", s.tries)
  }

  /** Store and link-pipeline counts common to both workloads, taken
    * after the round's closed loop. */
  protected def storeAndLinks(f: SparkFrontier, w: Gen.Web, commits0: Long,
      states: Int): Unit = {
    acc.add("spark.store.commits", versions(f) - commits0)
    acc.add("spark.store.leaf_files", leafFiles(f))
    acc.add("spark.links.rows_in", w.reachableLinks)
    acc.add("spark.links.scheduled", states - w.seeds.size)
  }
}

/** `crawl`: the full pipeline through `SparkCrawler` (payload verify
  * off) over a generated web where about three quarters of the outlinks
  * point at URLs the crawl already knows, some across hosts. The link
  * pipeline dominates: URL-seen filter, Bloom prefilter, anti-join,
  * appends, states merge. */
final class Crawl(c: Ctx) extends Workload(c) {
  import ctx._
  import spark.implicits._
  val hosts = 24
  val pagesPerHost = 48
  val treeFanout = 8
  val extraLinks = 3
  val crossHost = 0.2
  val perPartition = 96

  private def web() =
    Gen.crawlWeb(seed, hosts, slots, pagesPerHost, treeFanout, extraLinks, crossHost)

  /** Set-up: generate the web, load it as the table fetches join against,
    * open a store and seed it. */
  private def prepare(root: Path): (Gen.Web, SparkFrontier, DataFrame) = {
    val w = web()
    val webDF = w.pages.toDF("url", "outlinks").cache()
    webDF.count()
    val f = frontier(root)
    f.addSeeds(w.seeds)
    (w, f, webDF)
  }

  def round(record: Boolean): Unit = {
    val root = freshDir("crawl")
    val (w, f, webDF) = setup(record)(prepare(root))
    val crawler = new SparkCrawler(f, webDF, perPartition,
      collectSequence = false, verifyPayloadOnFetch = false)
    val v0 = versions(f)
    val e0 = f.epoch
    var e = e0
    var more = true
    while (more) {
      val (ran, sec, cpu) = acc.timed(record) {
        tracer.epoch = e + 1
        tracer.span("epoch")(tracer.labeled(sc, "crawl")(crawler.crawlOnce(e + 1)))
      }
      if (ran) e += 1
      more = ran && (record || e - e0 < Workload.warmEpochs)
      if (ran && record) {
        acc.epochSecs += sec
        acc.epochCpuSecs += cpu
        acc.add("spark.dequeue.call_s", crawler.lastFetchSec)
        acc.add("spark.links.call_s", crawler.lastProcessSec)
        joinAndScan(f)
      }
    }
    webDF.unpersist(blocking = true)
    if (!record) { discard(f, root); return }
    acc.urls += crawler.urlsCrawled
    acc.attempted += crawler.urlsCrawled
    acc.add("spark.dequeue.rows_out", crawler.urlsCrawled)
    // exact URL-seen check: CRAWLED states == the reachable set, each URL
    // crawled exactly once (one metadata record per fingerprint)
    val states = f.stateSnapshot()
    val want = w.reachable.map(Hashing.urlFingerprint)
    val crawled = states.collect { case (fp, s) if s == States.Crawled => fp }.toSet
    acc.check(crawled == want, s"crawl: ${crawled.size} CRAWLED states, " +
      s"${want.size} reachable URLs, ${(want -- crawled).size} missing, ${(crawled -- want).size} extra")
    acc.check(states.size == want.size, s"crawl: ${states.size - crawled.size} states not CRAWLED")
    acc.check(crawler.urlsCrawled == want.size,
      s"crawl: crawled ${crawler.urlsCrawled} URLs for ${want.size} reachable")
    val dup = f.metadata.read(spark).groupBy($"fingerprint").count().filter($"count" > 1).count()
    acc.check(dup == 0, s"crawl: $dup URLs crawled more than once")
    storeAndLinks(f, w, v0, states.size)
    endRound(root, states.size)
  }

  def setupOnly(): Unit = {
    val root = freshDir("crawl")
    val (_, _, webDF) = setup(record = true)(prepare(root))
    webDF.unpersist(blocking = true)
    Ctx.deleteRec(root)
  }

  locally {
    val w = web()
    properties("seen_share") = w.seenShare
    properties("reachable_urls") = w.reachable.size
  }
}

object Bus {
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

  /** One round's bus, store, spiders and worker. */
  private final case class Rig(w: Gen.Web, f: SparkFrontier, tap: BusTap,
      fetchers: Seq[BusSpider], threads: Seq[Thread], worker: SparkBusWorker) {
    def spiderCpuS: Double = threads.map(t => threadMx.getThreadCpuTime(t.getId)).sum / 1e9
    def stop(): Unit = {
      fetchers.foreach(_.stopping = true)
      threads.foreach(_.join(30000))
    }
  }
}

/** `bus`: the distributed topology. `SparkBusWorker` runs against
  * `BusSpider` threads over `LogBus` with the msgpack codec, on the
  * engine's bench tree (no seen links); the spiders verify payloads.
  * Spark task slots plus spider threads equal the core count. The only
  * workload through the bus, the codecs and the spider-log replay. */
final class Bus(c: Ctx, val spiders: Int) extends Workload(c) {
  import ctx._
  val hosts = 10
  val depth = 3
  val fanout = 8
  val perPartition = 192
  val codec: BusCodec = BusCodec.Msgpack
  import Bus.Rig

  /** Set-up: generate the web, open the bus, a store seeded with the
    * web's seeds, the spider threads and the worker. */
  private def prepare(root: Path, busDir: Path): Rig = {
    val w = Gen.busWeb(seed, hosts, slots, depth, fanout)
    val bus = new LogBus(busDir.toString, spiderLogPartitions = 2,
      spiderFeedPartitions = spiders, maxNextRequests = perPartition * slots)
    val tap = new BusTap(bus, codec)
    val f = frontier(root)
    f.addSeeds(w.seeds)
    val web = w.asMap
    val ss = (0 until spiders).map(p => new BusSpider(tap, p, web, codec, verifyPayload = true))
    val ts = ss.map(s => new Thread(s, s"perfbench-spider-${s.partitionId}"))
    ts.foreach(_.start())
    Rig(w, f, tap, ss, ts, new SparkBusWorker(f, tap, codec, perPartition))
  }

  def round(record: Boolean): Unit = {
    val root = freshDir("bus-store")
    val busDir = freshDir("bus-log")
    val rig = setup(record)(prepare(root, busDir))
    import rig._
    val cpu0 = spiderCpuS
    val v0 = versions(f)
    // spider CPU is read while the threads live (a dead thread has none)
    val spiderCpu = try {
      acc.timed(record) {
        // the clock of the first epoch starts with the worker
        tap.stats.add(BusTap.Stat(System.nanoTime(), RunAcc.workCpuSec(), 0))
        tracer.span("worker")(tracer.labeled(sc, "bus worker")(
          if (record) worker.run() else worker.run(maxEpochs = Workload.warmEpochs)))
      }
      spiderCpuS - cpu0
    } finally stop()
    val fetched = fetchers.flatMap { s =>
      val it = s.fetchedUrls.iterator()
      val b = Vector.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val payloadFailures = fetchers.map(_.payloadFailures).sum
    val errors = fetchers.flatMap(s => Option(s.error))
    Ctx.deleteRec(busDir)
    if (!record) { discard(f, root); return }
    // the worker's epochs: intervals between its start and consecutive
    // `st` messages that advanced its epoch count
    tap.stats.toArray(Array.empty[BusTap.Stat]).sliding(2).foreach {
      case Array(a, b) if b.epochs > a.epochs =>
        acc.epochSecs += (b.nanos - a.nanos) / 1e9
        acc.epochCpuSecs += b.cpuSec - a.cpuSec
      case _ =>
    }
    acc.urls += worker.urlsProcessed
    acc.attempted += worker.urlsProcessed
    acc.failed += payloadFailures + errors.size
    acc.add("spark.dequeue.rows_out", worker.urlsScheduledToFeed)
    acc.add("images.verify.urls", fetched.size)
    acc.add("images.verify.failures", payloadFailures)
    acc.add("images.verify.busy_cpu_s", spiderCpu)
    acc.add("bus.feed_frames", tap.feedFrames.get)
    acc.add("bus.feed_bytes", tap.feedBytes.get)
    acc.add("bus.log_frames", tap.logFrames.get)
    acc.add("bus.log_bytes", tap.logBytes.get)
    acc.add("bus.send_s", tap.sendNs.get / 1e9)
    acc.add("bus.poll_s", tap.pollNs.get / 1e9)
    acc.layer("bus.feed_lag_max") = math.max(acc.layer("bus.feed_lag_max"), tap.feedLagMax.get)
    acc.add("bus.worker_epochs", worker.epochsRun)
    joinAndScan(f)
    errors.foreach(t => acc.check(ok = false, s"bus: spider error: $t"))
    acc.check(payloadFailures == 0, s"bus: $payloadFailures payload verify failures")
    acc.check(fetched.toSet == w.reachable,
      s"bus: spiders fetched ${fetched.toSet.size} distinct URLs, ${w.reachable.size} reachable")
    acc.check(fetched.size == w.reachable.size,
      s"bus: ${fetched.size - fetched.toSet.size} URLs fetched more than once")
    val states = f.stateSnapshot().size
    storeAndLinks(f, w, v0, states)
    endRound(root, states)
  }

  def setupOnly(): Unit = {
    val root = freshDir("bus-store")
    val busDir = freshDir("bus-log")
    setup(record = true)(prepare(root, busDir)).stop()
    Ctx.deleteRec(busDir)
    Ctx.deleteRec(root)
  }

  locally {
    val w = Gen.busWeb(seed, hosts, slots, depth, fanout)
    properties("seen_share") = w.seenShare
    properties("reachable_urls") = w.reachable.size
  }
}
