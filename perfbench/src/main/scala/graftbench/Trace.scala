package graftbench

import scala.collection.mutable

/** One timed interval of a traced run. `op` is the operation the span
  * belongs to; `parent` is the id of the enclosing span, -1 at the root. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spans of a traced run, kept in memory and written out when it ends. */
final class SpanRecorder {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def nextId(): Int = synchronized { next += 1; next }

  def add(s: Span): Span = synchronized { buf += s; s }

  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Span =
    add(Span(nextId(), name, op, parent, startNs, endNs))

  def spans: Seq[Span] = synchronized(buf.toList)

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children count once). */
  def selfNs: Map[Int, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.ns - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Task figures of one Spark stage, summed over its finished tasks. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One Spark job as the listener saw it; `startMs` is epoch milliseconds
  * as Spark stamps its events. */
final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int], callSite: String)

/** Records every job, stage and task of the session. Installed only in a
  * traced run; read after [[org.apache.spark.BusDrain]] has flushed the
  * listener bus. */
final class JobLedger extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val ranStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds, site)
    // a stage id is new when first listed; a later job lists it again only
    // as a skipped, already-computed dependency
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ranStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList
  }

  /** The stages a job computed (skipped stages excluded) with their figures. */
  def stagesOf(job: JobRec): Seq[StageAgg] = synchronized {
    job.stageIds.filter(s => stageJob.get(s).contains(job.id) && ranStages(s))
      .flatMap(stages.get)
  }
}

/** Cuts a crawl into phases from the engine's `log` lines. Each line ends
  * the phase it names, so the lines tile a wave; a line that is missing or
  * reworded leaves its interval to the next recognised line, and its phase
  * is reported absent. */
object Phases {
  final case class Event(tNs: Long, phase: String, wave: Int, rows: Long)

  private val Prep = """^prep done\b.*""".r
  private val Select = """^wave=(\d+) politeness-select done \((\d+) rows\).*""".r
  private val Fetch = """^wave=(\d+) fetch\+extract done \((\d+) rows\).*""".r
  private val Chain = """^wave=(\d+) frontier-checkpoint done\b.*""".r
  private val Barrier = """^wave=(\d+) sink barrier done\b.*""".r
  private val FWrite = """^wave=(\d+) frontier-write done \((\d+) rows\).*""".r
  private val Summary = """^wave=(\d+)\s+selected=(\d+)\s+fetched=\d+\b.*""".r

  /** Phase span names, in the order the lines appear within a wave. */
  val WavePhases: Seq[String] = Seq("politeness.select", "extract.fetch_extract",
    "frontier.chain", "sinks.wait", "state.frontier_write", "state.commit")

  def parse(tNs: Long, line: String): Option[Event] = line.trim match {
    case Prep() => Some(Event(tNs, "crawl.prep", -1, 0L))
    case Select(w, n) => Some(Event(tNs, "politeness.select", w.toInt, n.toLong))
    case Fetch(w, n) => Some(Event(tNs, "extract.fetch_extract", w.toInt, n.toLong))
    case Chain(w) => Some(Event(tNs, "frontier.chain", w.toInt, 0L))
    case Barrier(w) => Some(Event(tNs, "sinks.wait", w.toInt, 0L))
    case FWrite(w, n) => Some(Event(tNs, "state.frontier_write", w.toInt, n.toLong))
    case Summary(w, s) => Some(Event(tNs, "state.commit", w.toInt, s.toLong))
    case _ => None
  }

  /** Records one crawl call's `log` lines with their arrival times. */
  final class LogTap {
    private val buf = mutable.ArrayBuffer.empty[Event]
    val unknown = mutable.ArrayBuffer.empty[String]
    val callback: String => Unit = line => {
      val t = System.nanoTime()
      synchronized { parse(t, line) match { case Some(e) => buf += e; case None => unknown += line } }
    }
    def events: Seq[Event] = synchronized(buf.toList)
  }

  /** Adds the spans of one crawl call under its operation span `op`: a
    * wave span per wave with its phase spans beneath, the prep span, and
    * the tail after the last line as `crawl.finish`. */
  def record(rec: SpanRecorder, op: Span, events: Seq[Event]): Unit = {
    var prev = op.startNs
    var waveStart = -1L
    var waveNo = Int.MinValue
    var waveSpanId = -1
    var waveOpen = false
    // a wave without its summary line: the empty final selection, or a
    // missing or reworded line
    def closeOpenWave(): Unit = if (waveOpen) {
      rec.add(Span(waveSpanId, "crawl.wave_open", op.op, op.id, waveStart, prev))
      waveOpen = false
    }
    events.sortBy(_.tNs).foreach { e =>
      val inWave = e.wave >= 0 && WavePhases.contains(e.phase)
      if (inWave && e.wave != waveNo) {
        closeOpenWave()
        waveNo = e.wave
        waveStart = prev
        waveSpanId = rec.nextId()
        waveOpen = true
      }
      rec.add(e.phase, op.op, if (inWave) waveSpanId else op.id, prev, e.tNs)
      if (e.phase == "state.commit" && waveOpen) {
        rec.add(Span(waveSpanId, "crawl.wave", op.op, op.id, waveStart, e.tNs))
        waveOpen = false
      }
      prev = e.tNs
    }
    closeOpenWave()
    rec.add("crawl.finish", op.op, op.id, prev, op.endNs)
  }
}
