package perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.bus._
import graft.codecs.{BusMessage, CValue}

/** A `MessageBus` wrapper that counts what crosses the transport seam:
  * frames and bytes per stream, time spent sending and polling, the
  * largest spider-feed lag seen, and when the worker published each `st`
  * stats message (the bus workload's epoch clock).
  *
  * It also makes the bus workload a closed loop: the worker's (`db`)
  * spider-log consumer sees nothing until every request sent to the feed
  * has its fetch completion flushed to the spider log, so the worker
  * applies each batch whole, in one epoch, before it dequeues the next.
  * Left to thread timing, the worker applied a batch in one or two
  * epochs, and the epoch count of the same crawl moved between 5 and 7,
  * with CPU time and store size per URL by 15–20% between runs. */
final class BusTap(inner: MessageBus, codec: BusCodec) extends MessageBus {
  val feedFrames, feedBytes, logFrames, logBytes = new AtomicLong
  val sendNs, pollNs, feedLagMax = new AtomicLong
  /** Fetch completions (`pc`, `re`) the spiders flushed to the spider
    * log; one per request they took from the feed. */
  private val completions = new AtomicLong
  /** When each stats message was published, in publish order. */
  val stats = new java.util.concurrent.ConcurrentLinkedQueue[BusTap.Stat]()

  private def timed[T](acc: AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally acc.addAndGet(System.nanoTime() - t0)
  }

  /** `countCompletions`: count the fetch completions sent, and add them
    * to `completions` once flushed (a producer is used by one thread). */
  private final class Producer(p: StreamProducer, frames: AtomicLong,
      bytes: AtomicLong, onSend: Array[Byte] => Unit = _ => (),
      countCompletions: Boolean = false) extends StreamProducer {
    private var unflushed = 0L
    private def count(ms: Seq[Array[Byte]]): Unit = {
      frames.addAndGet(ms.length)
      bytes.addAndGet(ms.iterator.map(_.length.toLong).sum)
      ms.foreach(onSend)
      if (countCompletions)
        unflushed += ms.count { m => val k = codec.kindOf(m); k == "pc" || k == "re" }
    }
    private def flushed(): Unit = { completions.addAndGet(unflushed); unflushed = 0 }
    def send(key: String, messages: Array[Byte]*): Unit =
      timed(sendNs) { count(messages); p.send(key, messages: _*) }
    def sendTo(partition: Int, messages: Array[Byte]*): Unit =
      timed(sendNs) { count(messages); p.sendTo(partition, messages: _*) }
    def flush(): Unit = timed(sendNs) { p.flush(); flushed() }
    def getOffset(partitionId: Int): Long = p.getOffset(partitionId)
    def close(): Unit = timed(sendNs) { p.close(); flushed() }
  }

  /** `gated`: return nothing until the spiders have completed every
    * request sent to the feed. */
  private final class Consumer(c: StreamConsumer, gated: Boolean = false)
      extends StreamConsumer {
    def getMessages(count: Int): Vector[Array[Byte]] = timed(pollNs) {
      if (gated && completions.get < feedFrames.get) Vector.empty
      else c.getMessages(count)
    }
    def getOffset(partitionId: Int): Long = c.getOffset(partitionId)
  }

  private val uncounted = new AtomicLong

  private def recordStats(frame: Array[Byte]): Unit = codec.decode(frame) match {
    case BusMessage.Stats(d) =>
      val epochs = d.items.collectFirst {
        case (CValue.CStr("epochs_run"), CValue.CLong(v)) => v
      }.getOrElse(-1L)
      stats.add(BusTap.Stat(System.nanoTime(), RunAcc.workCpuSec(), epochs))
    case _ =>
  }

  val spiderLog: SpiderLogStream = new SpiderLogStream {
    def partitions: Int = inner.spiderLog.partitions
    def producer(): StreamProducer =
      new Producer(inner.spiderLog.producer(), logFrames, logBytes, countCompletions = true)
    def consumer(partitionId: Int, consumerType: String): StreamConsumer =
      new Consumer(inner.spiderLog.consumer(partitionId, consumerType),
        gated = consumerType == "db")
  }

  val scoringLog: ScoringLogStream = new ScoringLogStream {
    def producer(): StreamProducer =
      new Producer(inner.scoringLog.producer(), uncounted, uncounted)
    def consumer(): StreamConsumer = new Consumer(inner.scoringLog.consumer())
  }

  val statsLog: StatsLogStream = new StatsLogStream {
    def producer(): StreamProducer =
      new Producer(inner.statsLog.producer(), uncounted, uncounted, recordStats)
    def consumer(group: String): StreamConsumer =
      new Consumer(inner.statsLog.consumer(group))
  }

  val spiderFeed: SpiderFeedStream = new SpiderFeedStream {
    private val f = inner.spiderFeed
    def partitions: Int = f.partitions
    def producer(): StreamProducer = new Producer(f.producer(), feedFrames, feedBytes)
    def consumer(partitionId: Int): StreamConsumer = new Consumer(f.consumer(partitionId))
    def availablePartitions(): Set[Int] = f.availablePartitions()
    def lag(p: Int): Long = {
      val l = f.lag(p)
      feedLagMax.accumulateAndGet(l, math.max)
      l
    }
    def reportConsumerOffset(partitionId: Int, offset: Long): Unit =
      f.reportConsumerOffset(partitionId, offset)
    def markReady(partitionId: Int): Unit = f.markReady(partitionId)
    def markBusy(partitionId: Int): Unit = f.markBusy(partitionId)
  }
}

object BusTap {
  /** A stats message: wall clock, work CPU seconds, the worker's
    * `epochs_run` counter. */
  final case class Stat(nanos: Long, cpuSec: Double, epochs: Long)
}
