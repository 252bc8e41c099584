package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PinnedViews, StateStore}
import graft.functions.PathFunctions
import graft.operators.{ScheduleOps, SearchOps, Views}
import graft.server.CrawlPipeline
import graft.sources.{FsScrape, HashSource}

/** Runs one benchmark workload against the program's public API and
  * writes raw timings and raw results as JSON. `run.py` prepares the
  * input, checks the results against the generated tree's manifest and
  * turns the timings into metrics.
  *
  * Usage: `perfbench.BenchMain <work dir> <cores>`
  *
  * The session starts while `run.py` is still generating the tree; the
  * run begins once `<work dir>/input.json` appears, and the result goes to
  * `<work dir>/output.json`. Set-up time counts the session start and the
  * catalogue build, not the wait for the input.
  *
  * One client thread calls the API and waits for each reply (a closed
  * loop); the session runs `local[cores]` and nothing else generates
  * load. Pipeline calls use the defaults `graft.server.ServerMain` uses.
  */
object BenchMain {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val work = args(0)
    val cores = args(1).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - started) / 1e9
    val input = new File(work, "input.json")
    val giveUp = System.nanoTime() + 120L * 1000000000L // run.py died first
    while (!input.exists()) {
      if (System.nanoTime() > giveUp) { spark.stop(); sys.exit(3) }
      Thread.sleep(20)
    }
    val in = mapper.readTree(input)
    val out = mapper.createObjectNode().put("session_s", sessionS)
    val tracer = new Tracer(in.get("trace").asBoolean)
    tracer.install(spark)
    try new Workloads(spark, tracer, in, out, work).run()
    finally {
      mapper.writeValue(new File(work, "output.json"), out)
      spark.stop()
    }
  }
}

final class Workloads(spark: SparkSession, tracer: Tracer, in: JsonNode, out: ObjectNode,
                      work: String) {
  private val mapper = new ObjectMapper()
  private val workload = in.get("workload").asText
  private val tree = in.get("tree").asText
  private val stateRoot = in.get("state").asText
  private val state = new StateStore(spark, stateRoot)
  private val seconds = in.get("seconds").asDouble

  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9
  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** Output dumps for run.py's checks run outside every timed window, in a
    * span of their own that the per-layer numbers leave out. */
  private def check[T](body: => T): T = tracer.span("check")(body)

  def run(): Unit = {
    val rounds = out.putArray("rounds")
    val t0 = System.nanoTime()
    tracer.span("setup") {
      catalogue(rounds)
      // the search workload times warm reads: its session pays the duplicate
      // search's pin once, in set-up (refresh pays it after every step)
      if (workload == "search") execute("duplicate_file", in.get("warm_probe").asText)
    }
    var setupS = out.get("session_s").asDouble + since(t0)
    check {
      // written out at once, so the benchmark's own copy of the catalogue
      // is not in the heap it measures
      val catalogue = mapper.createObjectNode()
      dumpCatalogue(catalogue)
      mapper.writeValue(new File(work, "catalogue.json"), catalogue)
    }
    val steps = if (workload == "refresh") out.putArray("steps") else null
    if (workload == "refresh") {
      // the first refresh step is the session's first change-only upsert
      // and archiving, 20-40% slower than the next; it warms them up untimed
      val t1 = System.nanoTime()
      tracer.span("warmup")(refreshStep(0, "warmup", rounds, steps.addObject()))
      setupS += since(t1)
    }
    out.put("setup_s", setupS)
    val gen0 = PinnedViews.generation(spark)
    tracer.span("measure") {
      workload match {
        case "search" => search(out.putArray("ops"))
        case "refresh" => refresh(rounds, steps)
      }
      probeOps(out.putArray("probe"))
    }
    out.put("pin_invalidations", PinnedViews.generation(spark) - gen0)
    out.put("state_bytes", dirBytes(Paths.get(stateRoot)))
    // a run only adds to the catalogue, its archives and the session's
    // caches, so its heap peaks here; sampled once
    out.put("heap_mb", heapMb())
    // every step refreshes its own drive, so the final catalogue shows what
    // each step merged
    if (workload == "refresh") check {
      val refreshed = mapper.createObjectNode()
      dumpRefreshed(refreshed)
      mapper.writeValue(new File(work, "refreshed.json"), refreshed)
    }
    if (tracer.enabled) {
      sourceProbes(out.putObject("sources"))
      tracer.drain(spark)
      TraceReport.write(tracer, workload, stateRoot, out.putObject("layers"),
        out.putObject("round_jobs"), in.get("trace_out").asText)
    }
  }

  // ---- catalogue build: seed -> crawl to fixpoint -> hash until drained ----

  private def catalogue(rounds: ArrayNode): Unit = {
    val asOf = now()
    val roots = in.get("roots").elements().asScala.map(_.asText).toSeq
    // seeding runs the session's first jobs, so its time is mostly a cold
    // JVM's; it counts in set-up time but not in the crawl time
    tracer.span("server.seedDrives")(CrawlPipeline.seedDrives(state, roots, asOf))
    val t0 = System.nanoTime()
    crawlToFixpoint(asOf, "build", rounds)
    out.put("crawl_s", since(t0))
    val t1 = System.nanoTime()
    hashUntilDrained(asOf, "build", rounds)
    out.put("hash_s", since(t1))
  }

  private def crawlToFixpoint(asOf: Timestamp, phase: String, rounds: ArrayNode): Unit = {
    var due = 1L
    while (due > 0) {
      val t = System.nanoTime()
      val st = tracer.span("server.crawlRound")(CrawlPipeline.crawlRound(state, asOf))
      due = st.dueDirs
      rounds.addObject().put("kind", "crawl").put("phase", phase).put("s", since(t))
        .put("due", st.dueDirs).put("staged_files", st.stagedFiles)
        .put("removed_files", st.removedFiles)
    }
  }

  private def hashUntilDrained(asOf: Timestamp, phase: String, rounds: ArrayNode): Unit = {
    var n = 1L
    while (n > 0) {
      val t = System.nanoTime()
      n = tracer.span("server.hashRound")(CrawlPipeline.hashRound(state, asOf))
      rounds.addObject().put("kind", "hash").put("phase", phase).put("s", since(t))
        .put("hashed", n)
    }
  }

  // ---- search: a seeded read-only mix, as the Shell's search commands ----

  private def vwLl: DataFrame =
    Views.vwLl(state.read("directory"), state.read("file"), state.read("hash"))

  /** One search operation: the API call plus a collect of its complete
    * result. Returns the rows; formatting happens outside the timing. */
  private def execute(kind: String, arg: String): Array[Row] = kind match {
    case "name" =>
      SearchOps.searchName(vwLl, PathFunctions.parseWildcardSearch(arg)).collect()
    case "name_dir" =>
      SearchOps.searchNameDir(state.read("directory"),
        PathFunctions.parseWildcardSearch(arg)).collect()
    case "hash" => SearchOps.searchHash(vwLl, arg).collect()
    case "full_path" =>
      SearchOps.searchFullPath(vwLl, Seq(PathFunctions.parseExactSearch(arg))).collect()
    case "duplicate_file" =>
      SearchOps.searchDuplicateFile(vwLl, PathFunctions.parseExactSearch(arg)).collect()
    case "duplicate_dir" =>
      SearchOps.searchDuplicateDir(vwLl, PathFunctions.parseExactSearch(arg)).collect()
    case "dir_detail" =>
      Views.dirDetail(state.read("directory"), state.read("file"))
        .filter(col("dir_path") === arg).collect()
    case "descendants" =>
      SearchOps.descendantDirs(state.read("directory"), Seq(arg)).collect()
  }

  private def format(kind: String, rows: Array[Row]): Seq[String] = kind match {
    case "name_dir" | "descendants" => rows.map(_.getAs[String]("dir_path")).toSeq
    case "dir_detail" => rows.map { r =>
      f"${r.getAs[Long]("subdirs")}|${r.getAs[Long]("files")}|" +
        f"${r.getAs[Double]("total_size")}%.6f"
    }.toSeq
    case _ => rows.map(r =>
      s"${r.getAs[String]("type")}|${r.getAs[String]("full_path")}").toSeq
  }

  /** Run one operation inside its span; record time, result or error. */
  private def timedOp(kind: String, arg: String, rec: ObjectNode): Unit = {
    val t = System.nanoTime()
    try {
      val rows = tracer.span("search." + kind, tracer.newOp())(execute(kind, arg))
      rec.put("ms", since(t) * 1e3)
      val res = rec.putArray("result")
      format(kind, rows).sorted.foreach(res.add)
    } catch {
      case e: Exception => rec.put("error", e.toString)
    }
  }

  private def search(ops: ArrayNode): Unit = {
    // whole blocks of the mix, so every run times the same composition
    val list = in.get("ops")
    val block = in.get("block").asInt
    val minOps = block * in.get("min_blocks").asInt
    val t0 = System.nanoTime()
    var i = 0
    while (i < list.size && (i % block != 0 || i < minOps || since(t0) < seconds)) {
      val op = list.get(i)
      val rec = ops.addObject().put("id", op.get("id").asInt)
        .put("op", op.get("op").asText)
      timedOp(op.get("op").asText, op.get("arg").asText, rec)
      i += 1
    }
  }

  /** A few reads after the workload's own phase (one per operation kind
    * on refresh, where they are the first reads after writes). */
  private def probeOps(probe: ArrayNode): Unit =
    in.get("probe_ops").elements().asScala.foreach { op =>
      val rec = probe.addObject().put("id", op.get("id").asInt)
        .put("op", op.get("op").asText)
      timedOp(op.get("op").asText, op.get("arg").asText, rec)
    }

  // ---- refresh: mutate one subtree, make it due, crawl + hash, search ----

  private def refresh(rounds: ArrayNode, steps: ArrayNode): Unit = {
    val plan = in.get("plan")
    val minSteps = in.get("min_steps").asInt
    val t0 = System.nanoTime()
    var k = 1 // step 0 is the warm-up
    while (k < plan.size && (k <= minSteps || since(t0) < seconds)) {
      refreshStep(k, "refresh", rounds, steps.addObject())
      k += 1
    }
  }

  /** One refresh step: apply the mutation batch, then make its subtree due
    * as the Shell's `scrape` does (one reschedule, one state write), crawl
    * to fixpoint and hash until drained; then the flagship duplicate
    * search on the file the batch planted, which pays the pin the writes
    * invalidated. */
  private def refreshStep(k: Int, phase: String, rounds: ArrayNode, rec: ObjectNode): Unit = {
    val step = in.get("plan").get(k)
    val sub = step.get("subtree").asText
    rec.put("step", k).put("phase", phase)
    tracer.span("fs.mutate")(applyOps(step.get("ops")))
    val asOf = now()
    rec.put("as_of", asOf.getTime)
    val t = System.nanoTime()
    try {
      tracer.span("refresh.step", tracer.newOp()) {
        tracer.span("core.reschedule")(state.write("directory_control",
          ScheduleOps.rescheduleDir(state.read("directory_control"), sub + "*", lit(asOf))))
        crawlToFixpoint(asOf, phase, rounds)
        hashUntilDrained(asOf, phase, rounds)
      }
      rec.put("refresh_s", since(t))
      timedOp("duplicate_file", step.get("dup_probe").asText,
        rec.putObject("dup_search").put("op", "duplicate_file"))
    } catch {
      case e: Exception => rec.put("error", e.toString)
    }
  }

  private def applyOps(ops: JsonNode): Unit = ops.elements().asScala.foreach { op =>
    val p = Paths.get(op.get("path").asText)
    op.get("op").asText match {
      case "add" | "modify" =>
        Files.write(p, Files.readAllBytes(Paths.get(op.get("src").asText)),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
          StandardOpenOption.WRITE)
      case "delete" => Files.delete(p)
    }
  }

  // ---- output dumps for run.py's checks (outside every timed window) ----

  private def catalogueRows(): DataFrame = {
    val d = state.read("directory").select(col("id").as("d_id"), col("dir_path"))
    state.read("file").join(d, col("dir_id") === col("d_id"))
      .join(state.read("hash").select("file_id", "md5_hash", "sha1_hash"),
        col("id") === col("file_id"), "left")
      .select(concat(col("dir_path"), lit("/"), col("name")).as("path"),
        col("size").cast("string").as("size"), col("md5_hash"), col("sha1_hash"))
  }

  private def putFiles(arr: ArrayNode, rows: Array[Row]): Unit = rows.foreach { r =>
    val a = arr.addArray()
    (0 until 4).foreach(i => a.add(r.getString(i)))
  }

  private def dumpCatalogue(o: ObjectNode): Unit = {
    putFiles(o.putArray("files"), catalogueRows().collect())
    val dirs = o.putArray("dirs")
    state.read("directory").select("dir_path").collect().foreach(r => dirs.add(r.getString(0)))
  }

  /** The catalogue after the refresh steps, plus the archive rows with the
    * time they were archived at (each step archives at its own `as_of`). */
  private def dumpRefreshed(o: ObjectNode): Unit = {
    dumpCatalogue(o)
    val dirPaths = state.read("directory").select(col("id"), col("dir_path"))
      .unionByName(state.read("directory_archive").select(col("id"), col("dir_path")))
      .dropDuplicates("id")
    val archived = o.putArray("archived_files")
    state.read("file_archive").join(dirPaths, col("dir_id") === dirPaths("id"))
      .select(col("deleted_on"), concat(col("dir_path"), lit("/"), col("name")))
      .collect().foreach(r => archived.addArray().add(r.getTimestamp(0).getTime).add(r.getString(1)))
    val archivedDirs = o.putArray("archived_dirs")
    state.read("directory_archive").select("deleted_on", "dir_path").collect()
      .foreach(r => archivedDirs.addArray().add(r.getTimestamp(0).getTime).add(r.getString(1)))
  }

  // ---- traced run only: standalone, read-only calls into the sources ----

  private def sourceProbes(o: ObjectNode): Unit = {
    import spark.implicits._
    val dirs = mutable.ArrayBuffer.empty[String]
    val files = mutable.ArrayBuffer.empty[(Long, String)]
    var bytes = 0L
    val walk = Files.walk(Paths.get(tree))
    try walk.iterator().asScala.foreach { p =>
      if (Files.isDirectory(p)) dirs += p.toString
      else { files += ((files.size.toLong, p.toString)); bytes += Files.size(p) }
    } finally walk.close()
    val t0 = System.nanoTime()
    val entries = tracer.span("sources.scrapeBatch")(
      FsScrape.scrapeBatch(spark, dirs.toSeq.toDF("dir_path")).count())
    o.put("scrape_s", since(t0)).put("scrape_entries", entries)
    val t1 = System.nanoTime()
    val hashed = tracer.span("sources.hashBatch")(
      HashSource.hashBatch(spark, files.toSeq.toDF("file_id", "full_path"), now()).collect())
    o.put("hash_s", since(t1)).put("hash_bytes", bytes)
      .put("hash_errors", hashed.count(_.error != null)).put("hashed", hashed.length)
  }

  /** Spark driver heap in use after full collections, repeated until two
    * intervals pass without the heap shrinking: Spark's cleaner releases
    * unreachable broadcasts and checkpoints (the pins refresh steps
    * invalidate) only after a collection has found them, and the release
    * can outlast one interval, so a sample taken too soon depends on
    * timing. */
  private def heapMb(): Double = {
    def used(): Long = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val seen = mutable.ArrayBuffer(used(), used(), used())
    while (seen(seen.size - 3) - seen.last > (1L << 19) && seen.size < 12) seen += used()
    seen.last / 1048576d
  }

  private def dirBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}
