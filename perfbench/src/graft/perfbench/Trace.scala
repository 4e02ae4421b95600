package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `name` is `<layer>.<call>`; `parent` is the
  * enclosing span on the same thread (0 = root); `req` groups the spans of
  * one request.
  */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    thread: Long, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def nanos: Long = end - start
}

/** Spark work attributed to a span: the span id travels to the scheduler as
  * a job-group-like local property, so jobs, tasks, shuffle and spill land
  * on the span that launched them.
  */
final class SparkCounts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** stageId -> task run times (ms), for max/median skew. */
  val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
}

/** Records spans only around the benchmark's own calls into the layers; the
  * program under test is not instrumented. Disabled, `span` is a direct
  * call. Spans stay in memory and are written out when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val windows = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val counts = new ConcurrentHashMap[Long, SparkCounts]

  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!enabled) body else timed(name, req, spans)(body)

  /** A timed window of one thread: the share of it no span covers is the
    * benchmark's own overhead between calls.
    */
  def window[A](body: => A): A =
    if (!enabled) body else timed("window", 0L, windows)(body)

  private def timed[A](name: String, req: Long,
      sink: ConcurrentLinkedQueue[Span])(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    stack.set(id :: outer)
    val sc = org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext)
    val prevProp = sc.map(_.getLocalProperty(Tracer.Prop)).orNull
    sc.foreach(_.setLocalProperty(Tracer.Prop, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sink.add(Span(id, outer.headOption.getOrElse(0L), name, req,
        Thread.currentThread().getId, t0, t1))
      sc.foreach(_.setLocalProperty(Tracer.Prop, prevProp))
      stack.set(outer)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def countsOf(id: Long): SparkCounts =
    counts.computeIfAbsent(id, _ => new SparkCounts)

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals.
    */
  def selfNanosByLayer: Map[String, Long] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.nanos - Tracer.union(
        byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum
    }
  }

  /** Share of window time, summed over threads, that no span covers. */
  def uncoveredFrac: Double = {
    val ws = windows.asScala.toSeq
    val total = ws.map(_.nanos).sum
    if (total == 0) return 0.0
    val byThread = all.groupBy(_.thread)
    val covered = ws.map { w =>
      Tracer.union(byThread.getOrElse(w.thread, Nil)
        .map(s => (math.max(s.start, w.start), math.min(s.end, w.end)))
        .filter { case (a, b) => b > a })
    }.sum
    (total - covered).toDouble / total
  }

  /** Writes every span as one JSON line, with the Spark counts attached. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val c = Option(counts.get(s.id))
      val sparkPart = c.fold("") { c =>
        s""","jobs":${c.jobs.get},"tasks":${c.tasks.get},""" +
          s""""shuffle_write_bytes":${c.shuffleWriteBytes.get},"spill_bytes":${c.spillBytes.get}"""
      }
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""thread":${s.thread},"start_ns":${s.start},"end_ns":${s.end}$sparkPart}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Scheduler listener that attributes Spark work to the launching span. */
  def listener(tracer: Tracer): SparkListener = new SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]
    private def spanOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        tracer.countsOf(id).jobs.incrementAndGet()
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = tracer.countsOf(id)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        c.stageTaskMs.computeIfAbsent(e.stageId,
          _ => new ConcurrentLinkedQueue[Long]).add(e.taskInfo.duration)
      }
  }
}
