package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkAccess
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job: its call site, its SQL execution (or
  * -1) and the span that was open when it was submitted. */
final class JobWork(val site: String, val span: Int, val execution: Long) {
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
}

/** A query execution the QueryExecutionListener saw: planning time,
  * execution time, and the path it wrote, if any. The SQL execution-end
  * event that carried it gives its execution id, which its jobs carry
  * too; that ties it to a span. */
final case class QueryWork(qe: QueryExecution, planNs: Long, execNs: Long,
                           writePath: Option[String])

/** Spans around every public call the benchmark makes, plus a
  * SparkListener and a QueryExecutionListener, both registered here.
  * Everything stays in memory; [[BenchMain]] writes it out at exit.
  *
  * With tracing off, `span` only runs its body: no listener is
  * registered and nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var sc: org.apache.spark.SparkContext = _

  val jobs = new ConcurrentHashMap[Int, JobWork]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryWork]()
  // SQL execution id -> call site ("parquet at StateStore.scala:44"); the
  // jobs of one execution may run on other threads, whose own call site
  // names no program file
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val executionOf = new java.util.IdentityHashMap[QueryExecution, Long]()

  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1), System.nanoTime())
      spans += s
      stack = s :: stack
      // jobs capture the submitting thread's local properties when they
      // are submitted, so each job names its span exactly even though
      // listener events arrive later on another thread
      setCurrent(s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        setCurrent(stack.headOption.map(_.id).getOrElse(-1))
      }
    }

  private def setCurrent(id: Int): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.SpanKey, id.toString)

  def install(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // the result stage is named after the job's call site,
        // e.g. "parquet at StateStore.scala:44"
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobs.put(e.jobId, new JobWork(site,
          prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
          prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        workOf(e.stageInfo.stageId).foreach(w => w.synchronized(w.stages += 1))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.description)
        case end: SparkListenerSQLExecutionEnd =>
          val qe = SparkAccess.queryOf(end)
          if (qe != null) executionOf.synchronized(executionOf.put(qe, end.executionId))
        case _ =>
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (w <- workOf(e.stageId); m <- Option(e.taskMetrics)) w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.output += m.outputMetrics.bytesWritten
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
        record(qe, 0L)
    })
  }

  private def workOf(stage: Int): Option[JobWork] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val planNs = qe.tracker.phases.values.map(_.durationMs * 1000000L).sum
    val path = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    queries.add(QueryWork(qe, planNs, durationNs, path))
  }

  /** Listener events arrive asynchronously: wait until every posted event
    * has been delivered. */
  def drain(spark: SparkSession): Unit = if (enabled)
    SparkAccess.waitUntilEmpty(spark.sparkContext)

  /** Span self time: duration minus the part of it its children cover
    * (children of one span never overlap: the client is single-threaded). */
  def selfSeconds: Map[Int, Double] = {
    val childCover = mutable.Map.empty[Int, Double].withDefaultValue(0d)
    spans.foreach(s => if (s.parent >= 0) childCover(s.parent) += s.seconds)
    spans.map(s => s.id -> (s.seconds - childCover(s.id))).toMap
  }

  /** Spans under (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  def jobsIn(spanIds: Set[Int]): Seq[JobWork] =
    jobs.values.asScala.filter(w => spanIds.contains(w.span)).toSeq

  def executionOf(q: QueryWork): Long =
    executionOf.synchronized(Option(executionOf.get(q.qe)).getOrElse(-1L))

  /** Queries with a job inside one of the spans `ids`. */
  def queriesIn(ids: Set[Int]): Seq[QueryWork] = {
    val execs = jobsIn(ids).map(_.execution).toSet
    queries.asScala.filter(q => execs.contains(executionOf(q))).toSeq
  }

  /** Source file (without `.scala`) at a job's call site: its SQL
    * execution's call site, else its result stage's. */
  def fileOf(j: JobWork): String = {
    val viaExecution = Option(executionSite.get(j.execution)).map(Layers.fileOf).getOrElse("")
    if (Layers.known(viaExecution)) viaExecution else Layers.fileOf(j.site)
  }

  def layerOf(j: JobWork): String = Layers.ofFile(fileOf(j))

  def tasksOf(ws: Seq[JobWork]): Map[String, Double] = Map(
    "spark.jobs" -> ws.size.toDouble,
    "spark.stages" -> ws.map(_.stages).sum.toDouble,
    "spark.tasks" -> ws.map(_.tasks).sum.toDouble,
    "spark.task_cpu_s" -> ws.map(_.cpuNs).sum / 1e9,
    "spark.gc_s" -> ws.map(_.gcMs).sum / 1e3,
    "spark.shuffle_write_bytes" -> ws.map(_.shuffleWrite).sum.toDouble,
    "spark.spill_bytes" -> ws.map(_.spill).sum.toDouble,
    "spark.output_bytes" -> ws.map(_.output).sum.toDouble)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Layer of a Spark job: the module of the source file at the job's call
  * site. Jobs the benchmark's own code submits (the collect of an
  * operator's result) form the `bench` layer; the span that was open
  * still ties them to the operation. */
object Layers {
  private val modules: Map[String, String] = Map(
    "CrawlPipeline" -> "server", "ServerMain" -> "server",
    "FsScrape" -> "sources", "HashSource" -> "sources",
    "StateStore" -> "core", "PinnedViews" -> "core",
    "TransientPins" -> "core", "BucketedState" -> "core",
    "SearchOps" -> "operators", "Views" -> "operators",
    "MergeOps" -> "operators", "ScheduleOps" -> "operators")
  // per-layer metrics; `sources` has none: FsScrape and HashSource return
  // lazy Datasets whose jobs run at the pipeline's call sites
  val names: Seq[String] = Seq("server", "core", "operators", "bench")
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  /** Source file (without `.scala`) named by a call site such as a stage
    * name or an SQL execution's description ("parquet at StateStore.scala:44"). */
  def fileOf(site: String): String = site match {
    case SiteFile(file) => file
    case _ => ""
  }

  def known(file: String): Boolean = modules.contains(file) || file == "BenchMain"

  def ofFile(file: String): String =
    modules.getOrElse(file, if (file == "BenchMain") "bench" else "other")
}
