package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval on the epoch-nanosecond clock. `layer` is a module of
  * the program (`corpus`, `core`, `index`, `query`, `streaming`) or "" for
  * the benchmark's own phases. A Spark job becomes a span too (`job` >= 0),
  * the child of the benchmark span that launched it. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long, request: Long = -1L, job: Int = -1) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled (the untraced runs), `span` is a plain
  * call. Enabled, it records one span per call and tags the calling
  * thread's Spark local property with the span id, so the [[JobRecorder]]
  * can make every job the child of the span that launched it. */
final class Tracer(enabled: Boolean) {
  private val nextId = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Off during the untraced half of a traced run's measure phase. */
  @volatile var active: Boolean = enabled
  @volatile var sc: Option[SparkContext] = None

  def now(): Long = System.nanoTime() + offset
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String, layer: String, request: Long = -1L,
              parent: Long = -1L)(f: => T): T =
    if (!active) f
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get
      val p = if (parent >= 0) parent else outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(Trace.SpanProperty, id.toString))
      val t0 = now()
      try f
      finally {
        val t1 = now()
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Trace.SpanProperty,
          outer.headOption.map(_.toString).orNull))
        done.add(Span(id, p, name, layer, t0, t1, request))
      }
    }

  /** Run `f` on this thread as if inside span `parent` (worker threads). */
  def within[T](parent: Long)(f: => T): T = {
    val outer = stack.get
    stack.set(parent :: outer)
    try f finally stack.set(outer)
  }

  /** Record a span built by the caller (the untraced window of a run). */
  def add(s: Span): Unit = done.add(s)

  def spans: Seq[Span] = done.asScala.toSeq
}

/** Task metrics of one Spark job, and the span that launched it. */
final class JobRec(val id: Int, val span: Long, val site: String, val start: Long) {
  var end: Long = start
  var runMs, cpuNs, shuffleWrite, spill, inputBytes, inputRecords, outputBytes = 0L
}

/** SparkListener recording every job's call site, launching span, wall
  * interval and summed task metrics, plus the output path and end time of
  * every SQL write execution (how build jobs are attributed to the stage
  * whose directory they write). All times are epoch nanoseconds. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val writePath = mutable.HashMap.empty[Long, String]
  private val execEnd = mutable.HashMap.empty[Long, Long]
  // the write node's details in the formatted plan: "(n) Execute
  // InsertIntoHadoopFsRelationCommand / Input: [...] / Arguments: <path>, ..."
  private val WriteRe =
    "Execute InsertIntoHadoopFsRelationCommand\\s*\\n(?:Input[^\\n]*\\n)?Arguments: ([^,\\s]+)".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRec(e.jobId, prop(Trace.SpanProperty).map(_.toLong).getOrElse(0L), site,
      e.time * 1000000L)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      WriteRe.findFirstMatchIn(s.physicalPlanDescription).foreach { m =>
        synchronized { writePath(s.executionId) = m.group(1) }
      }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { execEnd(s.executionId) = s.time * 1000000L }
    case _ => ()
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** (output path, end time) of every finished SQL write execution. */
  def writes: Seq[(String, Long)] = synchronized {
    writePath.toSeq.flatMap { case (id, p) => execEnd.get(id).map(p -> _) }.sortBy(_._2)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val Layers: Seq[String] = Seq("corpus", "core", "index", "query", "streaming")
  private val SiteRe = "at ([A-Za-z0-9_$]+)\\.scala:".r

  /** (layer, module) of the program file a job's call site names — found
    * by asking which of the program's packages holds a class of that name —
    * or None for a file outside those packages (the benchmark's own). */
  def moduleOf(site: String): Option[(String, String)] =
    SiteRe.findFirstMatchIn(site).map(_.group(1)).flatMap { file =>
      Layers.find { l =>
        Seq("", "$").exists { suffix =>
          try { Class.forName(s"graft.$l.$file$suffix", false, getClass.getClassLoader); true }
          catch { case _: ClassNotFoundException => false }
        }
      }.map(_ -> file)
    }

  /** Job spans: each job is a child of its launching span, clipped to that
    * span's interval (listener times have millisecond resolution), and
    * takes the layer of its call-site file, else its parent's layer. */
  def jobSpans(spans: Seq[Span], jobs: Seq[JobRec]): Seq[Span] = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    jobs.flatMap { j =>
      byId.get(j.span).map { p =>
        val s = math.min(math.max(j.start, p.start), p.end)
        val e = math.max(math.min(j.end, p.end), s)
        Span(-1L - j.id, p.id, j.site, moduleOf(j.site).map(_._1).getOrElse(p.layer),
          s, e, p.request, j.id)
      }
    }
  }

  /** Exclusive wall time per layer inside `root`: at every instant the time
    * goes to the layer of the deepest open span (split evenly when
    * concurrent spans tie), so the layers plus the unattributed remainder
    * (benchmark code between calls) sum to the root's wall time exactly. */
  def layerSelfTimes(root: Span, spans: Seq[Span]): (Map[String, Double], Double) = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val depthMemo = mutable.HashMap.empty[Long, Int]
    def depth(s: Span): Int = depthMemo.get(s.id) match {
      case Some(d) => d
      case None =>
        val d = if (s.id == root.id) 0 else byId.get(s.parent).map(depth(_) + 1).getOrElse(1)
        depthMemo(s.id) = d
        d
    }
    // events: (time, +1/-1, depth, layer)
    val evs = spans.filter(s => s.id != root.id && s.end > s.start).flatMap { s =>
      val st = math.max(s.start, root.start)
      val en = math.min(s.end, root.end)
      if (en > st) Seq((st, 1, depth(s), s.layer), (en, -1, depth(s), s.layer)) else Nil
    }.sortBy(e => (e._1, e._2))
    val open = new java.util.TreeMap[Int, mutable.HashMap[String, Int]]()
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var t = root.start
    evs.foreach { case (time, delta, d, layer) =>
      if (time > t) {
        val sec = (time - t) / 1e9
        if (open.isEmpty) acc("") += sec
        else {
          val top = open.lastEntry().getValue
          val n = top.values.sum.toDouble
          top.foreach { case (l, c) => acc(l) += sec * c / n }
        }
        t = time
      }
      val m = open.computeIfAbsent(d, _ => mutable.HashMap.empty[String, Int])
      m(layer) = m.getOrElse(layer, 0) + delta
      if (m(layer) == 0) m.remove(layer)
      if (m.isEmpty) open.remove(d)
    }
    if (root.end > t) acc("") += (root.end - t) / 1e9
    (acc.view.filterKeys(_.nonEmpty).toMap, acc(""))
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Spans as JSON lines with their self time (duration minus the union of
    * their children), kept in memory until the run ends. */
  def write(path: java.nio.file.Path, spans: Seq[Span], limit: Int): Unit = {
    val kids = spans.groupBy(_.parent)
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try spans.sortBy(_.start).take(limit).foreach { s =>
      val self = s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":$self,"request":${s.request},"job":${s.job}}""")
    }
    finally out.close()
  }
}
