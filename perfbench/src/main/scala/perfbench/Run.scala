package perfbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything one run measures, filled in by the workload's rounds. */
final class RunAcc {
  val epochSecs = mutable.ArrayBuffer.empty[Double]
  val setupSecs = mutable.ArrayBuffer.empty[Double]
  /** Wall-clock [start, end) of each timed interval, in ms: the listener
    * keeps only the jobs that start inside one. */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  var timedSec = 0.0
  var urls = 0L
  var attempted = 0L
  var failed = 0L
  val gateFailures = mutable.ArrayBuffer.empty[String]
  var storeBytesPerUrl = 0.0
  var heapPeakMb = 0.0
  var gcMs = 0L
  /** CPU seconds of the JIT compiler threads inside the timed windows. */
  var jitSec = 0.0
  /** Benchmark-side per-layer counters, summed over the timed rounds. */
  val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = layer(key) += v
  val scanFracs = mutable.ArrayBuffer.empty[Double]

  /** A correctness gate, checked outside the timed window. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; gateFailures += what; System.err.println(s"[perfbench] FAILED: $what") }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcTotalMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Work CPU seconds (`RunAcc.workCpuSec`) and host steal seconds
    * inside the timed windows, and work CPU seconds per epoch. */
  var cpuSec = 0.0
  var stealSec = 0.0
  val epochCpuSecs = mutable.ArrayBuffer.empty[Double]

  /** Time `body`; when `record`, as part of the measured window. Returns
    * its wall and work CPU seconds. */
  def timed[T](record: Boolean)(body: => T): (T, Double, Double) = {
    val w0 = System.currentTimeMillis()
    val gc0 = gcTotalMs
    val c0 = RunAcc.processCpuSec()
    val j0 = RunAcc.jitCpuSec()
    val s0 = RunAcc.stealSec()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    val jit = RunAcc.jitCpuSec() - j0
    val cpu = RunAcc.processCpuSec() - c0 - jit
    if (record) {
      cpuSec += cpu
      jitSec += jit
      stealSec += RunAcc.stealSec() - s0
      gcMs += gcTotalMs - gc0
      windows += ((w0, System.currentTimeMillis() + 1))
      timedSec += sec
    }
    (r, sec, cpu)
  }
}

object RunAcc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads (JIT and GC included). */
  def processCpuSec(): Double = os.getProcessCpuTime / 1e9

  /** CPU time of the live JIT compiler threads (Linux `/proc`, in
    * 1/100 s). The launcher turns off HotSpot's dynamic compiler threads,
    * so no compiler thread exits and takes its time out of this sum. */
  def jitCpuSec(): Double = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      // a thread may exit between the listing and the read
      val stat = try new String(Files.readAllBytes(t.resolve("stat"))) catch {
        case _: java.nio.file.NoSuchFileException => ""
      }
      val name = stat.indexOf('(')
      val end = stat.lastIndexOf(')')
      if (name < 0 || !stat.substring(name + 1, end).contains("CompilerThre")) 0.0
      else {
        // fields after the name: state is the first, utime the 12th
        val f = stat.substring(end + 2).split(' ')
        (f(11).toDouble + f(12).toDouble) / 100.0
      }
    }.sum finally tasks.close()
  }

  /** The work CPU time the metrics count: process CPU time less the JIT
    * compiler threads'. A crawl frontier runs for hours and compiles its
    * code once; a run of this benchmark lasts under a minute, in which
    * compiling Spark's generated code takes about half the CPU and
    * varies most from run to run. */
  def workCpuSec(): Double = processCpuSec() - jitCpuSec()

  /** Time the host ran other guests on this machine's CPUs, summed over
    * CPUs (Linux `/proc/stat` steal, in 1/100 s); 0 where unavailable. */
  def stealSec(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Exception => 0.0 }
}

/** Shared context of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val acc: RunAcc,
    val seed: Long, val slots: Int, val work: Path) {
  def sc = spark.sparkContext

  private var nextDir = 0
  def freshDir(name: String): Path = {
    nextDir += 1
    Files.createDirectories(work.resolve(s"$name-$nextDir"))
  }

  /** Measure set-up (store, prefill or graph build) of one round. */
  def setup[T](record: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span("setup")(body)
    if (record) acc.setupSecs += (System.nanoTime() - t0) / 1e9
    r
  }

  /** After a round: bytes under the store per URL in the frontier, and
    * the live old-generation heap. Spark frees unpersisted blocks and
    * unreferenced shuffles asynchronously after a collection, so the live
    * size is the least of a few full collections a moment apart. */
  def endRound(storeRoot: Path, frontierUrls: Long): Unit = {
    acc.storeBytesPerUrl = Ctx.dirBytes(storeRoot).toDouble / math.max(1L, frontierUrls)
    val old = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum
    }.min
    acc.heapPeakMb = math.max(acc.heapPeakMb, old / 1048576.0)
    Ctx.deleteRec(storeRoot)
  }
}

object Ctx {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally s.close()
  }
}
