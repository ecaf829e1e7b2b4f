package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A traced interval. `run` groups the spans of one config (or one ingest
  * lifecycle); `parent` is the span that caused it (-1 for a root). Times
  * are epoch milliseconds. */
final case class Span(id: Int, run: Int, name: String, start: Double, end: Double,
    var parent: Int = -1) {
  def layer: String = name.takeWhile(_ != '.') match {
    case "config" | "lifecycle" => "client"
    case l                      => l
  }
  def ms: Double = end - start
}

/** In-memory span recorder. Spans opened with [[time]] on the client
  * thread nest by call; spans made from listener events find their parent
  * by time containment when the run is closed. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def time[A](run: Int, name: String)(f: => A): A = {
    val s = Span(spans.size, run, name, now, 0, open.headOption.map(_.id).getOrElse(-1))
    spans += s; open.push(s)
    try f finally { open.pop(); spans(s.id) = s.copy(end = now) }
  }

  /** Add a span from an event stream; its parent is resolved by [[close]]. */
  def add(run: Int, name: String, start: Double, end: Double): Span = {
    val s = Span(spans.size, run, name, start, end, parent = -2)
    spans += s; s
  }

  /** Give every unresolved span of `run` the innermost span that contains
    * it (2 ms slack for the millisecond clocks of Spark's events), then
    * rename jobs and stages by where they ran: under a sink-executing
    * compile or inside a stream they are sink writes; under validate
    * or a sink-free build they are compile-time jobs. */
  def close(run: Int): Unit = {
    val mine = spans.filter(_.run == run)
    val pending = mine.filter(_.parent == -2).sortBy(s => (s.start, -s.ms))
    pending.foreach { p =>
      val hosts = mine.filter(h => h.id != p.id && h.parent != -2 &&
        !h.name.startsWith("catalyst.") &&
        h.start - 2 <= p.start && p.end <= h.end + 2)
      p.parent = if (hosts.isEmpty) mine.find(_.parent == -1).map(_.id).getOrElse(-1)
                 else hosts.minBy(_.ms).id
    }
    def owner(s: Span): String = {
      var cur = s.parent
      while (cur >= 0) {
        val n = spans(cur).name
        if (n == "sink.compile" || n.startsWith("stream.")) return "sink"
        if (n.startsWith("compile.")) return "compile"
        if (n == "exec.action") return "exec"
        cur = spans(cur).parent
      }
      "exec"
    }
    pending.sortBy(_.start).foreach { p =>
      if (p.name.endsWith(".job") || p.name.endsWith(".stage")) {
        val kind = p.name.dropWhile(_ != '.')
        spans(p.id) = p.copy(name = owner(p) + kind)
      }
    }
  }

  /** Self time: a span's duration minus the union of its children's
    * intervals (clipped to the span). */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var hi = Double.MinValue
      iv.foreach { case (a, b) =>
        if (b > hi) { covered += b - math.max(a, hi); hi = b }
      }
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    f"""{"run": ${s.run}, "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
      f""""layer": "${s.layer}", "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}"""
  }
}

/** Per-stage task totals from [[JobProbe]]. */
final class StageTotals {
  var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L; var overheadMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var outBytes = 0L; var outRecords = 0L
}

/** A `SparkListener` that keeps each job's interval and stages and each
  * stage's task totals. Events arrive on the listener bus thread;
  * [[drain]] waits until everything posted before it has arrived. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      sentinel: Boolean)
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stageTimes = mutable.Map[Int, (Long, Long)]()
  val stages = mutable.Map[Int, StageTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sentinel = e.properties != null && e.properties.getProperty(JobProbe.Sentinel) != null
    jobs(e.jobId) = Job(e.jobId, e.time, -1, e.stageIds, sentinel)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    notifyAll()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageTimes(i.stageId) =
      (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1; t.taskMs += e.taskInfo.duration
      t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
      t.overheadMs += m.executorDeserializeTime + m.resultSerializationTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
      t.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Run a one-task sentinel job and wait for its end event: the shared
    * listener queue delivers in order, so every event posted before it has
    * then arrived. The sentinel is forgotten afterwards. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobProbe.Sentinel, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobProbe.Sentinel, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 10000
      def ended = jobs.values.filter(j => j.sentinel && j.end >= 0).toSeq
      while (ended.isEmpty && System.currentTimeMillis() < deadline) wait(20)
      jobs.values.filter(_.sentinel).toSeq.foreach { j =>
        jobs.remove(j.id)
        j.stages.foreach { s => stages.remove(s); stageTimes.remove(s) }
      }
    }
  }

  /** Remove and return the jobs recorded so far, each with its stages'
    * (submitted, completed) times and task totals. */
  def take(): Seq[(Job, Seq[((Long, Long), StageTotals)])] = synchronized {
    val out = jobs.values.toSeq.map { j =>
      j -> j.stages.flatMap(s => stageTimes.get(s).map(_ -> stages.getOrElse(s, new StageTotals)))
    }
    jobs.clear(); stages.clear(); stageTimes.clear()
    out
  }
}

object JobProbe { val Sentinel = "perfbench.sentinel" }

/** A `QueryExecutionListener` that keeps each finished query's Catalyst
  * phase intervals (analysis, optimization, planning). */
final class PlanProbe extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs, p.endTimeMs))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[(String, Long, Long)] = synchronized {
    val out = phases.toList; phases.clear(); out
  }
}
