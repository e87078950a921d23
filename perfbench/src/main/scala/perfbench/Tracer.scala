package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One interval of a layer: span `name` inside closed-loop operation `op`,
  * on the epoch-millisecond clock Spark's listener events carry. A span may
  * be recorded several times per operation; its per-layer figures are the
  * per-operation sums. `tagged` spans ran their body on a thread carrying
  * their id as a Spark local property; the others were measured elsewhere
  * (the streaming engine's phase hook) and own what runs in their interval. */
final case class Span(id: Int, name: String, op: Int, startMs: Long, endMs: Long,
    wallS: Double, tagged: Boolean)

/** Per-layer figures of one span name, each the median over traced ops. */
final case class LayerFigures(s: Double, jobs: Double, tasks: Double,
    execCpuS: Double, shuffleMb: Double, driverOnlyS: Double, fsMetaOps: Double)

/** Span recorder plus the SparkListener that supplies each span's jobs,
  * tasks, executor CPU and shuffle bytes. Spans stay in memory and are only
  * attributed and written when the run ends. A span's body runs with the
  * span's id as a Spark local property, which every job it submits (also
  * from threads it starts) and every task of those jobs inherit, so spans
  * may overlap in time. Jobs and file-system calls without the property
  * belong to the untagged span whose interval contains their start. Spans
  * do not nest. */
final class Tracer(sc: SparkContext) {
  import Tracer.{JobRec, SpanKey}

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val spans = ArrayBuffer.empty[Span]
  private var attached = false
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      jobs.put(e.jobId, JobRec(tag, e.time, e.time, 0L, 0L, 0L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId)) {
        val m = Option(e.taskMetrics)
        val cpu = m.map(_.executorCpuTime).getOrElse(0L)
        val shuffle = m.map(t => t.shuffleReadMetrics.totalBytesRead +
          t.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        jobs.computeIfPresent(stageJob.get(e.stageId), (_, j) =>
          j.copy(tasks = j.tasks + 1, cpuNs = j.cpuNs + cpu,
            shuffleBytes = j.shuffleBytes + shuffle))
      }
  }

  /** Whether the next spans are recorded. Switching off detaches the
    * listener and stops file-system stamps, so an untraced op in a traced
    * run pays none of the tracing costs; the difference between traced and
    * untraced ops is the reported tracing overhead. */
  def setActive(on: Boolean): Unit = if (on != attached) {
    PerfbenchBus.drain(sc)
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    CountingLocalFileSystem.context = if (on) sc else null
    attached = on
  }

  def span[A](name: String, op: Int)(body: => A): A =
    if (!attached) body
    else {
      val id = nextId.getAndIncrement()
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        sc.setLocalProperty(SpanKey, outer)
        add(Span(id, name, op, s0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9, tagged = true))
      }
    }

  /** An untagged span measured elsewhere. */
  def record(name: String, op: Int, startMs: Long, endMs: Long, wallS: Double): Unit =
    if (attached) add(Span(nextId.getAndIncrement(), name, op, startMs, endMs, wallS, tagged = false))

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)

  /** Attributes every recorded job and file-system call to its span and
    * returns, per span name in `names`, the median over ops of the per-op
    * sums (zeros for a span the workload never records). */
  def figures(names: Seq[String]): Map[String, LayerFigures] = {
    PerfbenchBus.drain(sc)
    val all = recorded.sortBy(_.startMs)
    val windows = all.filterNot(_.tagged)
    def owner(tag: Option[String], t: Long): Int = tag.map(_.toInt).getOrElse(
      windows.find(s => t >= s.startMs && t <= s.endMs).map(_.id).getOrElse(-1))
    val jobsOf = jobs.values.asScala.toSeq.groupBy(j => owner(j.tag, j.startMs))
    val fsOf = CountingLocalFileSystem.snapshot().groupBy(c => owner(Option(c.tag), c.ms))
      .map { case (k, v) => k -> v.size }
    val perSpan = all.map { s =>
      val i = s.id
      val mine = jobsOf.getOrElse(i, Nil)
      val busyMs = unionMs(mine.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      s -> Array(s.wallS, mine.size.toDouble, mine.map(_.tasks).sum.toDouble,
        mine.map(_.cpuNs).sum / 1e9, mine.map(_.shuffleBytes).sum / 1048576.0,
        math.max(0.0, s.wallS - busyMs / 1000.0), fsOf.getOrElse(i, 0).toDouble)
    }
    names.map { n =>
      val perOp = perSpan.filter(_._1.name == n).groupBy(_._1.op).values
        .map(_.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => x + y })).toSeq
      val med = (0 until 7).map(k => if (perOp.isEmpty) 0.0 else Stats.median(perOp.map(_(k))))
      n -> LayerFigures(med(0), med(1), med(2), med(3), med(4), med(5), med(6))
    }.toMap
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = recorded.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  /** The Spark local property carrying the id of the span a thread is in. */
  val SpanKey = "perfbench.span"

  private final case class JobRec(tag: Option[String], startMs: Long, endMs: Long, tasks: Long,
      cpuNs: Long, shuffleBytes: Long)
}
