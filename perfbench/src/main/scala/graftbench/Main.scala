package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.crawl.CrawlEngine
import graft.gen.CorpusGen
import graft.model.PageRow

/** One benchmark run of one workload in a fresh JVM: set the input up,
  * then run crawl operations one after another (a closed loop with one
  * client) for the given number of seconds, checking every output outside
  * the timed region.
  *
  * Without `--trace` it reports the end-to-end metrics. With `--trace 1`
  * it alternates untraced and traced operations; a traced one installs a
  * Spark listener and timestamps the engine's `log` lines, and the run
  * reports per-layer metrics from those spans.
  *
  * Prints `RESULT <json>` as its last line. */
object Main {
  private val SetupReps = 3
  private val WriteSites = Seq("parquet at", "save at", "json at", "csv at", "text at", "orc at")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, tiny: Boolean, expectDigest: Option[String],
                        injectFailure: Boolean, record: Boolean)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cores").toInt, m.get("size").contains("tiny"),
      m.get("expect-digest").filter(_.nonEmpty), m.get("inject-failure").contains("1"),
      m.get("record").contains("1"))
  }

  /** One timed operation; `layer` and `waveSecs` are set on traced ones. */
  final case class Op(index: Int, secs: Double, pages: Long, traced: Boolean,
                      failures: Seq[String], layer: Map[String, Double], waveSecs: Seq[Double],
                      absentPhases: Seq[String])

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val w = Workloads(args.workload, args.seed, args.tiny)
    Files.createDirectories(args.work)

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // first job: executor and codegen start-up belong to the session
    val sessionSecs = (System.nanoTime() - tSession) / 1e9

    // -- set-up, repeated; the last copy is the one the operations crawl --
    val setups = mutable.ArrayBuffer.empty[Double]
    var input: Dataset[PageRow] = null
    (0 until SetupReps).foreach { k =>
      if (input != null && w.persistInput) input.unpersist(blocking = true)
      val t0 = System.nanoTime()
      input = setUp(spark, w, args.work.resolve(s"corpus-$k").toString, args.cores)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val setupSecs = sessionSecs + Stats.median(setups.toSeq)

    val ledger = if (args.trace) Some(new JobLedger) else None
    val rec = new SpanRecorder
    val ops = mutable.ArrayBuffer.empty[Op]
    val recorded = mutable.LinkedHashMap.empty[String, String]
    // Operation 0 is the cold one (crawl.first_op_s); the warm ones then run
    // for the given seconds, at least the workload's minOps of them. The JIT
    // is still warming up over the first few warm operations, so the median
    // moves with their count: minOps is set so that it, not the window, fixes
    // the count. A traced run measures at least four, in the order traced,
    // untraced, untraced, traced, so that both kinds take an early and a
    // late slot.
    ops += runOp(spark, w, input, args, 0, traced = false, ledger, rec, recorded)
    val windowEnd = System.nanoTime() + (args.seconds * 1e9).toLong
    def measured = ops.drop(1)
    var i = 0
    val minMeasured = if (args.trace) math.max(4, w.minOps) else w.minOps
    while (measured.size < minMeasured || System.nanoTime() < windowEnd) {
      val traced = args.trace && i % 4 % 3 == 0
      ops += runOp(spark, w, input, args, 1 + i, traced, ledger, rec, recorded)
      i += 1
    }

    val failed = ops.count(_.failures.nonEmpty)
    ops.filter(_.failures.nonEmpty).foreach(o =>
      println(s"CHECK-FAILED op=${o.index}: ${o.failures.mkString("; ")}"))
    val warm = measured.filter(_.failures.isEmpty).toList
    def pps(xs: Seq[Op]) = Stats.median(xs.map(o => o.pages / o.secs))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("pages_per_s", pps(warm), "pages/s"),
        ("setup_s", setupSecs, "s"))
      else {
        val tr = warm.filter(_.traced)
        val untr = warm.filter(!_.traced)
        def med(k: String) = Stats.median(tr.flatMap(_.layer.get(k)))
        val layerKeys = tr.headOption.map(_.layer.keys.toSeq).getOrElse(Nil)
        layerKeys.filterNot(_ == "crawl.phase_coverage").map(k => (k, med(k), Units.of(k))) ++ Seq(
          ("crawl.phase_coverage", if (tr.isEmpty) Double.NaN else tr.map(_.layer("crawl.phase_coverage")).min, "ratio"),
          ("crawl.wave_s", Stats.median(tr.flatMap(_.waveSecs)), "s"),
          ("crawl.first_op_s", ops.head.secs, "s"),
          ("trace.overhead", pps(untr) / pps(tr) - 1.0, "ratio"))
      }

    val context = Json.obj(
      "workload" -> w.name, "seed" -> args.seed, "cores" -> args.cores,
      "session_s" -> sessionSecs, "setup_reps_s" -> setups.toSeq,
      "op_s" -> ops.map(_.secs).toSeq, "op_traced" -> ops.map(_.traced).toSeq,
      "pages_per_op" -> w.expectedPages,
      "absent_phases" -> ops.flatMap(_.absentPhases).distinct.toList,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "recorded" -> recorded)
    if (args.trace) rec.writeJsonl(args.work.resolve("spans.jsonl"))
    spark.stop()

    println("CONTEXT " + context)
    val metricJson = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
    println("RESULT " + Json.obj(
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metricJson: _*)))
    System.out.flush()
    // no thread a crawl or Spark left behind may keep the JVM alive
    sys.exit(0)
  }

  def setUp(spark: SparkSession, w: Workload, path: String, cores: Int): Dataset[PageRow] = {
    import spark.implicits._
    CorpusGen.writeParquet(spark, w.spec, path, partitions = cores * 2)
    val ds = spark.read.parquet(path).as[PageRow]
    if (w.persistInput) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
    }
    ds
  }

  /** Runs, times and checks one operation. A throw or a failed check marks
    * the operation failed; the run goes on. */
  def runOp(spark: SparkSession, w: Workload, input: Dataset[PageRow], args: Args,
            index: Int, traced: Boolean,
            ledger: Option[JobLedger], rec: SpanRecorder,
            recorded: mutable.Map[String, String]): Op = {
    val stateDir = args.work.resolve(s"state-$index").toString
    val opId = rec.nextId()
    if (traced) ledger.foreach(spark.sparkContext.addSparkListener)
    val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    var pages = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    val tap = new Phases.LogTap
    val t0 = System.nanoTime()
    val summary: Option[CrawlEngine.CrawlSummary] =
      try {
        Some(CrawlEngine.run(spark, input, w.config, stateDir,
          writeOutputs = w.writeOutputs, prePartitionPages = w.prePartitionPages,
          log = if (traced) tap.callback else (_: String) => ()))
      } catch { case e: Throwable =>
        failures += s"engine threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    val t1 = System.nanoTime()
    val opSpan = rec.add(Span(opId, "op", opId, -1, t0, t1))
    if (traced && tap.unknown.nonEmpty) println(s"PHASE-UNKNOWN ${tap.unknown.mkString(" | ")}")
    val secs = opSpan.ns / 1e9

    // -- outside the timed region: traced figures, then output checks ----
    if (traced) ledger.foreach { l =>
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    summary.foreach { s =>
      pages = s.fetchedTotal
      failures ++= Checks.crawl(spark, w, s, stateDir, args, recorded)
    }
    val (layer, waveSecs) =
      if (traced && summary.isDefined && failures.isEmpty)
        layerMetrics(w, args.cores, rec, opSpan, tap.events, ledger.get, clockOffsetNs, stateDir, pages)
      else (Map.empty[String, Double], Nil)
    Checks.deleteTree(Paths.get(stateDir))
    println(f"op=$index traced=$traced secs=$secs%.3f pages=$pages failures=${failures.size}")
    val absent = if (!traced) Nil
      else ("crawl.prep" +: Phases.WavePhases).filterNot(p => tap.events.exists(_.phase == p))
    Op(index, secs, pages, traced, failures.toSeq, layer, waveSecs, absent)
  }

  /** Per-layer figures of one traced operation. Phases come from the
    * tapped log lines; each Spark job belongs to the phase its start falls
    * in, except that an output write starting during the frontier chain
    * is a concurrent sink and counts as sink work. */
  def layerMetrics(w: Workload, cores: Int, rec: SpanRecorder, op: Span,
                   events: Seq[Phases.Event], ledger: JobLedger, clockOffsetNs: Long,
                   stateDir: String, pages: Long): (Map[String, Double], Seq[Double]) = {
    Phases.record(rec, op, events)
    val spans = rec.spans.filter(_.op == op.op)
    val leaves = spans.filter(s => s.name != "op" && !s.name.startsWith("crawl.wave"))
    def sumS(name: String) = spans.filter(_.name == name).map(_.ns).sum / 1e9
    val jobs = ledger.jobsBetween((op.startNs - clockOffsetNs) / 1000000L,
      (op.endNs - clockOffsetNs) / 1000000L)

    def phaseOf(j: JobRec): String = {
      val t = j.startMs * 1000000L + clockOffsetNs
      val p = leaves.find(s => t >= s.startNs && t < s.endNs).map(_.name).getOrElse("crawl.finish")
      if (p == "frontier.chain" && WriteSites.exists(j.callSite.startsWith)) "sinks.wait" else p
    }
    val byPhase = jobs.groupBy(phaseOf)
    def aggs(js: Seq[JobRec]) = js.flatMap(ledger.stagesOf)
    def taskS(js: Seq[JobRec]) = aggs(js).map(_.runMs).sum / 1e3

    val fetchJobs = byPhase.getOrElse("extract.fetch_extract", Nil)
    val chainJobs = byPhase.getOrElse("frontier.chain", Nil)
    val fetchS = sumS("extract.fetch_extract")
    val chainS = sumS("frontier.chain")
    val selected = events.filter(_.phase == "politeness.select").map(_.rows).sum
    val fetched = events.filter(_.phase == "extract.fetch_extract").map(_.rows).sum
    // frontier rows a wave selects from: the previous wave's written
    // frontier, or the seed list for wave 0
    val selectIn = events.filter(e => e.phase == "politeness.select" && e.rows > 0).map { e =>
      events.filter(x => x.phase == "state.frontier_write" && x.wave == e.wave - 1).lastOption
        .map(_.rows).getOrElse(w.config.seeds.size.toLong)
    }.sum
    val lastChain = spans.filter(_.name == "frontier.chain").lastOption
      .filter(_ => events.filter(_.phase == "state.frontier_write").lastOption.exists(_.rows == 0L))
      .map(_.ns / 1e9).getOrElse(0.0)
    val opNs = op.ns.toDouble
    val cutNs = leaves.filter(s => s.name != "crawl.finish").map(_.ns).sum
    val (stateBytes, stateFiles) = Checks.treeSize(Paths.get(stateDir), skip = "out")
    val all = aggs(jobs)
    val taskAll = all.map(_.runMs).sum / 1e3

    val m = mutable.LinkedHashMap[String, Double](
      "crawl.prep_s" -> sumS("crawl.prep"),
      "crawl.waves" -> spans.count(_.name == "crawl.wave").toDouble,
      "crawl.fetch_yield" -> fetched.toDouble / math.max(1L, selected),
      "crawl.phase_coverage" -> cutNs / opNs,
      "politeness.select_s" -> sumS("politeness.select"),
      "politeness.select_ratio" -> selected.toDouble / math.max(1L, selectIn),
      "extract.fetch_extract_s" -> fetchS,
      "extract.fetch_extract_share" -> fetchS * 1e9 / opNs,
      "extract.busy_share" -> taskS(fetchJobs) / math.max(1e-9, fetchS * cores),
      "extract.pages_per_task_s" -> fetched / math.max(1e-9, taskS(fetchJobs)),
      "frontier.chain_s" -> chainS,
      "frontier.chain_share" -> chainS * 1e9 / opNs,
      "frontier.chain_jobs" -> chainJobs.size.toDouble,
      "frontier.chain_shuffle_bytes" -> aggs(chainJobs).map(_.shuffleWriteBytes).sum.toDouble,
      "frontier.rows_out" -> events.filter(_.phase == "state.frontier_write").map(_.rows).sum.toDouble,
      "frontier.last_wave_chain_s" -> lastChain,
      "state.commit_s" -> (sumS("state.frontier_write") + sumS("state.commit")),
      "state.bytes_per_page" -> stateBytes.toDouble / math.max(1L, pages),
      "state.files" -> stateFiles.toDouble,
      "sinks.wait_s" -> sumS("sinks.wait"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> all.size.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskAll,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
      "spark.busy_share" -> taskAll / math.max(1e-9, op.ns / 1e9 * cores))
    (m.toMap, spans.filter(_.name == "crawl.wave").map(_.ns / 1e9))
  }
}

object Units {
  def of(metric: String): String =
    if (metric.endsWith("pages_per_task_s")) "pages/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("bytes_per_page")) "bytes/page"
    else if (metric.endsWith("_share") || metric.endsWith("_ratio") || metric.endsWith("_yield") ||
             metric.endsWith("coverage") || metric.endsWith("overhead")) "ratio"
    else "count"
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
