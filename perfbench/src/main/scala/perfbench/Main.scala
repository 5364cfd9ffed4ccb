package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `run.py`):
  * `perfbench.Main --workload <crawl|bus> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>`.
  * Prints progress on stderr and, as the last stdout line, one JSON
  * object: `correct`, `attempted`, `failed` and the end-to-end metrics
  * (untraced) or the per-layer metrics (traced). Exits 1 when a
  * correctness gate failed. */
object Main {
  val workloads = Seq("crawl", "bus")
  /** Spider threads of the bus workload; its Spark session gets the
    * remaining cores so slots plus spiders equal the core count. */
  val busSpiders = 2
  /** Set-ups per run: set-up time is reported as their median. */
  val setups = 7

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    // `--workload train`: run every workload's warm-up once and exit; the
    // launcher runs this at build time to record a class-data archive
    val train = workload == "train"
    require(train || workloads.contains(workload),
      s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(kv("work")).toAbsolutePath)

    val cores = Runtime.getRuntime.availableProcessors
    val slots = if (workload == "crawl") cores else math.max(1, cores - busSpiders)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots * 3)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    mark("session started")
    val tracer = new Tracer(trace)
    val jobLog = if (trace) Some(new JobLog(tracer)) else None
    jobLog.foreach(spark.sparkContext.addSparkListener)
    val acc = new RunAcc
    val ctx = new Ctx(spark, tracer, acc, seed, slots, work)
    def make(name: String): Workload = name match {
      case "crawl" => new Crawl(ctx)
      case "bus" => new Bus(ctx, busSpiders)
    }
    def measure(w: Workload): Int = {
      w.properties.foreach { case (k, v) => System.err.println(s"[perfbench] $workload $k = $v") }
      tracer.span("warmup")(w.round(record = false))
      mark("warm-up done")
      // timed rounds until the window is filled, then set-up-only
      // repeats so that set-up is always a median of `setups`
      while (acc.windows.isEmpty || acc.timedSec < seconds) {
        val (cpu0, jit0, urls0) = (acc.cpuSec, acc.jitSec, acc.urls)
        tracer.span("round")(w.round(record = true))
        System.err.println(f"[perfbench] round: setup ${acc.setupSecs.last}%.2f s, " +
          f"${(acc.cpuSec - cpu0) * 1000 / (acc.urls - urls0)}%.2f work CPU ms/URL, " +
          f"JIT ${acc.jitSec - jit0}%.2f CPU s, " +
          f"timed ${acc.timedSec}%.2f s total, ${acc.urls} URLs, ${acc.epochSecs.size} epochs")
      }
      while (acc.setupSecs.size < setups) w.setupOnly()
      mark("set-ups done")
      System.err.println(f"[perfbench] wall clock: ${acc.urls / acc.timedSec}%.2f URLs/s, " +
        f"epoch p50 ${Stats.median(acc.epochSecs.toSeq)}%.3f s, " +
        f"steal ${acc.stealSec / (acc.timedSec * cores)}%.3f of the CPUs")
      val jobs = jobLog.map { l => l.sync(spark.sparkContext); l }
      val metrics =
        if (trace) Metrics.perLayer(ctx, w, jobs.get, sessionS)
        else Metrics.endToEnd(acc)
      metrics.foreach { case (k, (v, u)) =>
        System.err.println(f"[perfbench] $workload%-6s $k%-34s ${Json.num(v)}%s $u") }
      jobs.foreach(l => tracer.write(
        work.getParent.resolve(s"spans-$workload-seed$seed.jsonl"), l.jobs.asScala.toSeq))
      val correct = acc.gateFailures.isEmpty && acc.failed == 0
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> math.max(1L, acc.attempted).toString,
        "failed" -> acc.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      if (correct) 0 else 1
    }
    val code =
      try {
        if (train) { workloads.foreach(make(_).round(record = false)); 0 }
        else measure(make(workload))
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      } finally { spark.stop(); mark("session stopped") }
    System.out.flush()
    sys.exit(code)
  }
}
