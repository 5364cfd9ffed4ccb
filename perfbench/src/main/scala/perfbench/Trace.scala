package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `desc` is the job description:
  * the engine labels its phases `graft: <phase>`; the benchmark labels
  * the calls it makes itself `bench: <layer>`, which also names the
  * engine's unlabeled jobs inside those calls. */
final case class JobRec(id: Int, desc: String, startMs: Long, endMs: Long,
    stages: Seq[Int], parentSpan: Int, epoch: Long)

/** Aggregated task metrics of one completed stage. */
final case class StageAgg(taskMs: Long, shuffleBytes: Long, inputBytes: Long,
    outputBytes: Long)

/** Records every job and completed stage in memory (traced runs only). */
final class JobLog(tracer: Tracer) extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (String, Long, Seq[Int], Int, Long)]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobDescription)))
      .getOrElse("")
    starts.put(e.jobId, (desc, e.time, e.stageIds, tracer.current, tracer.epoch))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (d, t0, st, parent, ep) =>
      jobs.add(JobRec(e.jobId, d, t0, e.time, st, parent, ep))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.put(e.stageInfo.stageId, StageAgg(
      m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Block until every job submitted so far has reached this listener:
    * the listener bus is FIFO, so once a marker job's end arrives, all
    * earlier events have too. */
  def sync(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(Tracer.JobDescription)
    sc.setJobDescription("bench: marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!jobs.asScala.exists(_.desc == "bench: marker") &&
        System.nanoTime() < deadline) Thread.sleep(5)
    jobs.removeIf(_.desc == "bench: marker")
  }
}

/** A span: a named interval on the benchmark's thread, its parent span
  * (-1 for none) and the epoch it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, epoch: Long)

/** In-memory span recorder for the benchmark's main thread; spans are
  * written out once, when the run ends. Off (the untraced run), it only
  * runs the bodies. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Innermost open span (read by the listener thread). */
  @volatile var current: Int = -1
  /** Epoch the benchmark is in (read by the listener thread). */
  @volatile var epoch: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, epoch)
        stack = stack.tail
        current = stack.headOption.getOrElse(-1)
      }
    }

  /** Run `body` with its Spark jobs described as `bench: <layer>` (an
    * engine phase label inside it takes precedence for its own jobs). */
  def labeled[T](sc: SparkContext, layer: String)(body: => T): T =
    if (!on) body
    else {
      val prev = sc.getLocalProperty(Tracer.JobDescription)
      sc.setJobDescription(s"bench: $layer")
      try body finally sc.setJobDescription(prev)
    }

  /** Write the spans and the listener's jobs (as spans named
    * `job: <description>`) as JSON lines; wall clocks are converted to
    * the span clock. */
  def write(path: java.nio.file.Path, jobs: Seq[JobRec]): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def line(name: String, t0: Long, t1: Long, parent: Int, ep: Long, id: Int) =
      Json.obj(Seq("id" -> id.toString, "name" -> Json.str(name),
        "start_ns" -> t0.toString, "end_ns" -> t1.toString,
        "parent" -> parent.toString, "epoch" -> ep.toString))
    val lines = spans.map(s => line(s.name, s.startNs, s.endNs, s.parent, s.epoch, s.id)) ++
      jobs.map(j => line(s"job: ${j.desc}", j.startMs * 1000000L + offsetNs,
        j.endMs * 1000000L + offsetNs, j.parentSpan, j.epoch, nextId + j.id))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}
