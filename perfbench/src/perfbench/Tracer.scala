package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.etl.Warehouse

/** A finished span: times are `System.nanoTime` values. `parent` is -1 for
  * a top-level span.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** Spans kept in memory, opened around calls into graft's public entry
  * points. While a span is open on a thread, the Spark local property
  * [[Tracer.LayerProp]] names it, so every job submitted from that thread
  * (and from threads it starts: AQE stage jobs, `Concurrency.inParallel`
  * workers) is attributed to the span's layer by [[LayerListener]].
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final case class Handle(id: Int, name: String, parent: Int, start: Long, prevLayer: String)

  private val ids = new AtomicInteger(0)
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** Parent for spans opened on a thread with no open span of its own. */
  @volatile var root: Int = -1

  def open(name: String): Handle = {
    val st = stack.get()
    val h = Handle(ids.incrementAndGet(), name, st.headOption.getOrElse(root),
      System.nanoTime(), sc.getLocalProperty(LayerProp))
    stack.set(h.id :: st)
    sc.setLocalProperty(LayerProp, name)
    h
  }

  def close(h: Handle): Span = {
    val s = Span(h.id, h.name, h.parent, h.start, System.nanoTime())
    stack.set(stack.get().filterNot(_ == h.id))
    sc.setLocalProperty(LayerProp, h.prevLayer)
    finished.add(s)
    s
  }

  def span[T](name: String)(body: => T): T = {
    val h = open(name)
    try body finally close(h)
  }

  /** All spans finished since the last call. */
  def drain(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var s = finished.poll()
    while (s != null) { out += s; s = finished.poll() }
    out.toSeq.sortBy(_.start)
  }
}

object Tracer {
  val LayerProp = "perfbench.layer"
  val Unattributed = "unattributed"

  /** Disjoint sorted union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def measure(iv: Seq[(Long, Long)]): Long = union(iv).map(i => i._2 - i._1).sum

  /** Length of the overlap of two interval sets. */
  def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = {
    val (ua, ub) = (union(a), union(b))
    ua.flatMap { case (s, e) => ub.map { case (s2, e2) => math.max(0L, math.min(e, e2) - math.max(s, s2)) } }.sum
  }

  /** (wall, self) seconds of every span name: wall is the union of that
    * name's spans, self is wall minus the part of it that their child spans
    * cover.
    */
  def layerTimes(spans: Seq[Span]): Map[String, (Double, Double)] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.groupBy(_.name).map { case (name, own) =>
      val ownIv = own.map(s => (s.start, s.end))
      val ids = own.map(_.id).toSet
      val childIv = spans.filter(s => ids.contains(s.parent) && byId.contains(s.parent))
        .map(s => (s.start, s.end))
      val wall = measure(ownIv)
      name -> (wall / 1e9, (wall - overlap(ownIv, childIv)) / 1e9)
    }
  }
}

/** Per-layer Spark counters, attributed through the job's layer property. */
final case class LayerCounts(jobs: Int = 0, cpuNs: Long = 0, shuffleWriteBytes: Long = 0,
                             spillBytes: Long = 0, inputBytes: Long = 0) {
  def +(o: LayerCounts): LayerCounts = LayerCounts(jobs + o.jobs, cpuNs + o.cpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes)
}

/** Job intervals (ms since epoch, as Spark reports them) and per-layer
  * counters since the last [[take]].
  */
final case class JobWindow(jobs: Seq[(String, Long, Long)], layers: Map[String, LayerCounts],
                           taskFailures: Int)

final class LayerListener extends SparkListener {
  private val lock = new Object
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnded = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val layers = mutable.Map.empty[String, LayerCounts]
  private var taskFailures = 0

  private def add(layer: String, c: LayerCounts): Unit =
    layers(layer) = layers.getOrElse(layer, LayerCounts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
      .getOrElse(Tracer.Unattributed)
    jobLayer(e.jobId) = layer
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    add(layer, LayerCounts(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobEnded += ((jobLayer.getOrElse(e.jobId, Tracer.Unattributed),
      jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null) {
      val layer = stageJob.get(info.stageId).flatMap(jobLayer.get).getOrElse(Tracer.Unattributed)
      add(layer, LayerCounts(
        cpuNs = m.executorCpuTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (e.reason != Success) taskFailures += 1
  }

  def take(): JobWindow = lock.synchronized {
    val w = JobWindow(jobEnded.toSeq, layers.toMap, taskFailures)
    jobEnded.clear(); layers.clear(); taskFailures = 0
    w
  }
}

/** Timing decorator over graft's public [[Warehouse]] trait, handed to
  * `SriPipeline.runRaw`. The pipeline's calls on it mark its phases:
  * dim writes (`etl.dims`, on the parallel fan-out's threads), dim
  * read-backs (`etl.readback`), then everything up to the fact write
  * (`etl.fact_build`: `FactRegistro.build`, surrogate keys and the fact
  * layout run jobs eagerly), the fact write (`etl.fact_write`), its
  * read-back, and from there to the end of `runRaw` (`etl.validation`,
  * closed by the caller through [[finish]]).
  */
final class TracedWarehouse(inner: Warehouse, tracer: Tracer, lastDim: String,
                            fact: String) extends Warehouse {
  @volatile private var phase: Option[tracer.Handle] = None

  private def startPhase(name: String): Unit = { finish(); phase = Some(tracer.open(name)) }

  def finish(): Unit = { phase.foreach(tracer.close); phase = None }

  override def write(name: String, df: DataFrame): Unit =
    if (name == fact) {
      finish()
      tracer.span("etl.fact_write")(inner.write(name, df))
    } else tracer.span("etl.dims")(inner.write(name, df))

  override def read(name: String): DataFrame = {
    if (name == fact) finish()
    val df = tracer.span("etl.readback")(inner.read(name))
    if (name == lastDim) startPhase("etl.fact_build")
    else if (name == fact) startPhase("etl.validation")
    df
  }
}
