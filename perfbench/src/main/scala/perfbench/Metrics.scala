package perfbench

import scala.jdk.CollectionConverters._

/** Turns what a run recorded into the named metrics it prints. */
object Metrics {
  type Out = Seq[(String, (Double, String))]

  /** The end-to-end metrics. The cost of a URL is taken in work CPU
    * time (`RunAcc.workCpuSec`: process CPU less the JIT compiler
    * threads): on a shared host the wall clock of the same run moves by a
    * fifth with the time other guests take from the CPUs
    * (`wall.steal_frac`), the CPU time by a few percent. The wall-clock
    * figures are printed on stderr and are per-layer metrics. */
  def endToEnd(acc: RunAcc): Out = Seq(
    "cpu_ms_per_url" -> (acc.cpuSec * 1000.0 / acc.urls, "ms"),
    "setup_s" -> (Stats.median(acc.setupSecs.toSeq), "s"),
    "store_bytes_per_url" -> (acc.storeBytesPerUrl, "bytes"),
    "heap_after_gc_peak_mb" -> (acc.heapPeakMb, "MB"))

  /** Spark phase label -> the layer it belongs to. Engine phases are
    * labeled `graft: <phase>`; the engine's unlabeled jobs carry the
    * `bench: <call>` label of the benchmark call they ran in and count
    * as "other". */
  def layerOf(desc: String): String = desc match {
    case d if d.startsWith("graft: dequeue") => "spark.dequeue"
    case "graft: links pipeline + state-update stats" => "spark.links.pipeline"
    case "graft: queue append" => "spark.links.queue_append"
    case "graft: metadata append" => "spark.links.metadata_append"
    case "graft: domain-metadata append" => "spark.links.domain_meta_append"
    case "graft: bloom delta keys" => "spark.links.bloom_delta"
    case "graft: states merge" => "spark.links.states_merge"
    case _ => "other"
  }

  private final case class Agg(jobs: Int, stages: Int, wallS: Double,
      taskS: Double, shuffle: Long, input: Long, output: Long)

  def perLayer(ctx: Ctx, w: Workload, log: JobLog, sessionS: Double): Out = {
    val acc = ctx.acc
    val wall = acc.timedSec
    val slots = ctx.slots
    val jobs = log.jobs.asScala.toSeq.filter(j =>
      acc.windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b })
    def agg(js: Seq[JobRec]): Agg = {
      val st = js.flatMap(_.stages).distinct.flatMap(s => Option(log.stages.get(s)))
      Agg(js.size, st.size, js.map(j => (j.endMs - j.startMs) / 1000.0).sum,
        st.map(_.taskMs).sum / 1000.0, st.map(_.shuffleBytes).sum,
        st.map(_.inputBytes).sum, st.map(_.outputBytes).sum)
    }
    val byLayer = jobs.groupBy(j => layerOf(j.desc)).view.mapValues(agg).toMap
    val none = Agg(0, 0, 0, 0, 0, 0, 0)
    def layer(l: String) = byLayer.getOrElse(l, none)
    val links = agg(jobs.filter(j => layerOf(j.desc).startsWith("spark.links")))
    val all = agg(jobs)
    val deq = layer("spark.dequeue")
    val l = acc.layer
    val epochs = math.max(1, acc.epochSecs.size)
    val tail = Stats.tail(acc.epochSecs.toSeq)
    val rowsIn = l("spark.links.rows_in")
    def frac(s: Double) = s / wall
    Seq(
      "spark.dequeue.job_s" -> (deq.wallS, "s"),
      "spark.dequeue.task_s" -> (deq.taskS, "s"),
      "spark.dequeue.jobs" -> (deq.jobs.toDouble, "count"),
      "spark.dequeue.stages" -> (deq.stages.toDouble, "count"),
      "spark.dequeue.shuffle_bytes" -> (deq.shuffle.toDouble, "bytes"),
      "spark.dequeue.input_bytes" -> (deq.input.toDouble, "bytes"),
      "spark.dequeue.rows_out" -> (l("spark.dequeue.rows_out"), "count"),
      "spark.dequeue.scan_frac" -> (
        if (acc.scanFracs.isEmpty) 0.0 else acc.scanFracs.sum / acc.scanFracs.size, "frac"),
      "spark.dequeue.tries" -> (l("spark.dequeue.tries"), "count"),
      "spark.dequeue.call_frac" -> (frac(l("spark.dequeue.call_s")), "frac"),
      "images.verify.busy_frac" -> (l("images.verify.busy_cpu_s") / Main.busSpiders / wall, "frac"),
      "images.verify.urls" -> (l("images.verify.urls"), "count"),
      "images.verify.failures" -> (l("images.verify.failures"), "count"),
      "spark.links.call_frac" -> (frac(l("spark.links.call_s")), "frac"),
      "spark.links.jobs" -> (links.jobs.toDouble, "count"),
      "spark.links.stages" -> (links.stages.toDouble, "count"),
      "spark.links.task_frac" -> (links.taskS / (wall * slots), "frac"),
      "spark.links.shuffle_bytes" -> (links.shuffle.toDouble, "bytes"),
      "spark.links.rows_in" -> (rowsIn, "count"),
      "spark.links.scheduled" -> (l("spark.links.scheduled"), "count"),
      "spark.links.seen_frac" -> (
        if (rowsIn == 0) 0.0 else 1.0 - l("spark.links.scheduled") / rowsIn, "frac"),
      "spark.links.pipeline_frac" -> (frac(layer("spark.links.pipeline").wallS), "frac"),
      "spark.links.queue_append_frac" -> (frac(layer("spark.links.queue_append").wallS), "frac"),
      "spark.links.metadata_append_frac" -> (frac(layer("spark.links.metadata_append").wallS), "frac"),
      "spark.links.bloom_delta_frac" -> (frac(layer("spark.links.bloom_delta").wallS), "frac"),
      "spark.links.states_merge_frac" -> (frac(layer("spark.links.states_merge").wallS), "frac"),
      "spark.store.commits" -> (l("spark.store.commits"), "count"),
      "spark.store.leaf_files" -> (l("spark.store.leaf_files"), "count"),
      "spark.store.bytes_written" -> (all.output.toDouble, "bytes"),
      "bus.feed_frames" -> (l("bus.feed_frames"), "count"),
      "bus.feed_bytes" -> (l("bus.feed_bytes"), "bytes"),
      "bus.log_frames" -> (l("bus.log_frames"), "count"),
      "bus.log_bytes" -> (l("bus.log_bytes"), "bytes"),
      "bus.send_frac" -> (frac(l("bus.send_s")), "frac"),
      "bus.poll_frac" -> (frac(l("bus.poll_s")), "frac"),
      "bus.feed_lag_max" -> (l("bus.feed_lag_max"), "count"),
      "bus.worker_epochs" -> (l("bus.worker_epochs"), "count"),
      "sparkcore.jobs_per_epoch" -> (all.jobs.toDouble / epochs, "count"),
      "sparkcore.stages_per_epoch" -> (all.stages.toDouble / epochs, "count"),
      "sparkcore.core_util" -> (all.taskS / (wall * slots), "frac"),
      "sparkcore.session_start_s" -> (sessionS, "s"),
      "jvm.gc_s" -> (acc.gcMs / 1000.0, "s"),
      "jvm.jit_cpu_s" -> (acc.jitSec, "s"),
      "epoch.samples" -> (tail.samples.toDouble, "count"),
      "epoch.tail_pct" -> (tail.pct, "pct"),
      "epoch.tail_s" -> (tail.value, "s"),
      "epoch.cpu_p50_s" -> (Stats.median(acc.epochCpuSecs.toSeq), "s"),
      "wall.urls_per_s" -> (acc.urls / wall, "1/s"),
      "wall.epoch_p50_s" -> (Stats.median(acc.epochSecs.toSeq), "s"),
      "wall.steal_frac" -> (acc.stealSec / (wall * Runtime.getRuntime.availableProcessors), "frac"),
      "trace.cpu_ms_per_url" -> (acc.cpuSec * 1000.0 / acc.urls, "ms"),
      "workload.seen_share" -> (w.properties.getOrElse("seen_share", 0.0), "frac"),
    )
  }
}
