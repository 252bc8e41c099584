package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-layer numbers of a traced run, computed from its spans and
  * listener counts, plus the full trace written out at exit.
  *
  * Scope: the measured phase, with `check` spans (output dumps for the
  * correctness checks) left out. The crawl/hash/state-write numbers come
  * from the run's catalogue updates: the refresh steps on `refresh`, and
  * on `search`, whose measured phase writes nothing, the set-up build. */
object TraceReport {
  val searchOps: Seq[String] = Seq("name", "name_dir", "hash", "full_path",
    "duplicate_file", "duplicate_dir", "dir_detail", "descendants")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0d else xs.sum / xs.size

  /** Per-layer numbers into `out`; the jobs of each crawl and hash round,
    * in round order, into `roundJobs` (run.py pairs them with the rounds'
    * own records to leave out the empty fixpoint checks). */
  def write(t: Tracer, workload: String, stateRoot: String, out: ObjectNode,
            roundJobs: ObjectNode, path: String): Unit = {
    def top(name: String): Span = t.spans.find(_.name == name).get
    def scope(root: Span): Seq[Span] = {
      val checks = t.spans.filter(_.name == "check").flatMap(t.subtree).map(_.id).toSet
      t.subtree(root).filterNot(s => checks.contains(s.id))
    }
    val measure = scope(top("measure"))
    val updates = if (workload == "refresh") measure else scope(top("setup"))
    def ids(ss: Seq[Span]): Set[Int] = ss.map(_.id).toSet
    def jobsUnder(s: Span): Seq[JobWork] = t.jobsIn(ids(t.subtree(s)))
    def named(ss: Seq[Span], n: String): Seq[Span] = ss.filter(_.name == n)

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (kind <- Seq("crawl", "hash")) {
      val arr = roundJobs.putArray(kind)
      named(updates, s"server.${kind}Round").foreach(s => arr.add(jobsUnder(s).size))
    }

    // state writes: StateStore.write stages `<root>/.staging_<table>`,
    // StateStore.append writes `<root>/<archive table>`; the pipeline's own
    // `.stage_*` staging outputs are not state-store writes
    val writes = t.queriesIn(ids(updates)).filter(_.writePath.exists { p =>
      p.contains(stateRoot) && !p.contains("/.stage_")
    })
    val writeExecs = writes.map(t.executionOf).toSet
    m("core.state_writes") = writes.size.toDouble
    m("core.state_write_s") = writes.map(_.execNs).sum / 1e9
    m("core.state_bytes_written") = t.jobsIn(ids(updates))
      .filter(j => writeExecs.contains(j.execution)).map(_.output).sum.toDouble

    val measureJobs = t.jobsIn(ids(measure))
    // one pin build runs several jobs, all inside one operation's span
    m("core.pin_builds") = measureJobs.filter(t.fileOf(_) == "PinnedViews")
      .map(_.span).distinct.size.toDouble

    for (op <- searchOps) {
      val ss = named(measure, "search." + op)
      m(s"search.${op}_ms") = median(ss.map(_.seconds * 1e3))
      m(s"search.${op}_jobs") = mean(ss.map(jobsUnder(_).size.toDouble))
    }

    m ++= t.tasksOf(measureJobs)
    val queries = t.queriesIn(ids(measure))
    val planS = queries.map(_.planNs).sum / 1e9
    val execS = queries.map(_.execNs).sum / 1e9
    m("spark.plan_s") = planS
    m("spark.exec_s") = execS
    val root = top("measure")
    val opSpans = t.spans.filter(s => s.parent == root.id &&
      (s.name.startsWith("search.") || s.name == "refresh.step"))
    m("driver.construct_s") = opSpans.map(_.seconds).sum - planS - execS
    for (layer <- Layers.names) {
      val js = measureJobs.filter(t.layerOf(_) == layer)
      m(s"layer.$layer.jobs") = js.size.toDouble
      m(s"layer.$layer.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
    }
    val children = t.spans.filter(_.parent == root.id).map(_.seconds).sum
    m("trace.unaccounted_frac") = (root.seconds - children) / root.seconds

    m.foreach { case (k, v) => out.put(k, v) }
    writeTrace(t, new File(path))
  }

  private def writeTrace(t: Tracer, file: File): Unit = {
    val mapper = new ObjectMapper()
    val o = mapper.createObjectNode()
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    val self = t.selfSeconds
    val spans = o.putArray("spans")
    t.spans.foreach { s =>
      val js = t.jobsIn(Set(s.id))
      spans.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op).put("start_s", (s.startNs - t0) / 1e9)
        .put("end_s", (s.endNs - t0) / 1e9).put("self_s", self(s.id))
        .put("jobs", js.size).put("task_cpu_s", js.map(_.cpuNs).sum / 1e9)
    }
    val layers = o.putObject("layers")
    t.jobs.values.asScala.groupBy(t.layerOf).foreach { case (layer, ws) =>
      val l = layers.putObject(layer)
      t.tasksOf(ws.toSeq).foreach { case (k, v) => l.put(k.stripPrefix("spark."), v) }
    }
    val jobs = o.putArray("jobs")
    t.jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, w) =>
      jobs.addObject().put("job", id).put("file", t.fileOf(w)).put("layer", t.layerOf(w))
        .put("span", w.span).put("execution", w.execution).put("tasks", w.tasks)
        .put("task_cpu_s", w.cpuNs / 1e9)
    }
    val qs = o.putArray("queries")
    t.queries.asScala.foreach { q =>
      qs.addObject().put("execution", t.executionOf(q)).put("plan_s", q.planNs / 1e9)
        .put("exec_s", q.execNs / 1e9).put("write_path", q.writePath.orNull)
    }
    file.getParentFile.mkdirs()
    mapper.writeValue(file, o)
  }
}
