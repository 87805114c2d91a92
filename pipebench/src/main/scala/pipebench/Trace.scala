package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's own calls into each layer, kept
  * in memory and written out when the run ends. Disabled, `span` is a
  * plain call. Enabled, each span also tags the Spark jobs its thread
  * submits (local property [[Tracer.Tag]]) so engine counts can be
  * attributed to it. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(1)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var sc: Option[SparkContext] = None

  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = current
      stack.set(id :: stack.get)
      sc.foreach(_.setLocalProperty(Tracer.Tag, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Tracer.Tag,
          if (parent == 0) null else parent.toString))
      }
    }

  /** A span observed rather than wrapped (a streaming micro-batch). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.getAndIncrement(), parent, name, startNs, endNs, runId))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** The latest span called `name`. */
  def last(name: String): Option[Span] = all.filter(_.name == name).lastOption

  /** Every span below `root`. */
  def descendants(root: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = byParent.getOrElse(s.id, Nil).flatMap(k => k +: walk(k))
    walk(root)
  }

  /** Self time per span name inside the tree under `root`, plus the
    * root's own uncovered remainder. Layer self times + remainder equal
    * the root's wall time exactly when no two spans run at once; the
    * excess (`overlap`) is the concurrent part. */
  def accounting(root: Span): Tracer.Accounting = {
    val byParent = all.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
    val self = descendants(root)
      .map(s => s.name -> Stats.selfTime(s.startNs, s.endNs, kids(s)) / 1e9)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val remainder = Stats.selfTime(root.startNs, root.endNs, kids(root)) / 1e9
    Tracer.Accounting(root.seconds, self, remainder)
  }

  /** One JSON object per span; `extra(span)` adds fields (engine counts). */
  def toJsonLines(extra: Span => String): Seq[String] = all.map { s =>
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}${extra(s)}}"""
  }
}

object Tracer {
  val Tag = "pipebench.span"

  final case class Accounting(wallS: Double, selfS: Map[String, Double], remainderS: Double) {
    def overlapS: Double = selfS.values.sum + remainderS - wallS
  }
}

/** Engine counts from a SparkListener the benchmark registers: jobs,
  * tasks, shuffle bytes written, executor CPU and GC, and files read by
  * scans (the driver-side "number of files read" metric). Totals are
  * kept, and per span tag, so a span's own engine work can be read off. */
final class EngineCounters extends SparkListener {
  final class Counts {
    @volatile var jobs, tasks, shuffleWriteBytes, cpuNs, gcMs = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
      cpuNs += o.cpuNs; gcMs += o.gcMs
    }
    def json: String =
      s""""spark":{"jobs":$jobs,"tasks":$tasks,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""executor_cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3}}"""
  }

  private val byTag = TrieMap.empty[String, Counts]
  private val stageTag = TrieMap.empty[Int, String]
  private val execTag = TrieMap.empty[Long, String]
  private val fileAccums = TrieMap.empty[Long, Unit]
  private val execFiles = TrieMap.empty[Long, Long]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Tag))).getOrElse("-")
  private def counts(tag: String) = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    counts(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execTag(id.toLong) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrElse(e.stageId, "-"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
    }
  }

  private def noteFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of files read").foreach(m => fileAccums(m.accumulatorId) = ())
    p.children.foreach(noteFileMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => noteFileMetrics(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => noteFileMetrics(a.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val n = d.accumUpdates.collect { case (id, v) if fileAccums.contains(id) => v }.sum
        if (n > 0) execFiles(d.executionId) = execFiles.getOrElse(d.executionId, 0L) + n
      case _ =>
    }
  }

  /** Snapshot of the totals over every tag. */
  def total: Counts = synchronized {
    val t = new Counts
    byTag.values.foreach(t.add)
    t
  }

  /** Engine counts of the jobs a span submitted itself (not its children's). */
  def ofSpan(id: Int): Counts = synchronized(byTag.getOrElse(id.toString, new Counts))

  /** Files read by scans of executions tagged by any of `spanIds`. */
  def filesRead(spanIds: Set[Int]): Long = synchronized {
    val tags = spanIds.map(_.toString)
    execFiles.collect { case (ex, n) if execTag.get(ex).exists(tags) => n }.sum
  }
}
