package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a pass root); Spark jobs are spans too, parented
  * to the harness span whose job group submitted them.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      group: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Per job-group totals of the tasks Spark ran for it. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

/** In-memory tracer for the harness: spans around the calls it makes into
  * each layer, plus Spark job spans and task metrics from a listener,
  * keyed by job group. Nothing is written until [[dump]].
  *
  * Disabled (the default), every call is a plain pass-through and no
  * listener is registered, so untraced runs measure the program alone.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Double)]
  // group -> id of the harness span that owns it, for parenting job spans
  private val groupOwner = mutable.HashMap.empty[String, Int]
  private var nextId = 0
  private var registered = false
  @volatile private var lastEventMs = 0.0
  var totalStages = 0L
  var totalTasks = 0L
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()

  /** Turn tracing on or off between passes. */
  def enable(flag: Boolean): Unit = synchronized {
    if (flag && !registered) { sc.addSparkListener(this); registered = true }
    on = flag
  }

  def nowMs: Double = (System.nanoTime() - origin) / 1e6

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  /** Time `body` as a span; `group` links it to the Spark jobs it submits. */
  def span[T](name: String, layer: String, parent: Int = -1, group: String = "")
             (body: Int => T): T = {
    if (!on) return body(-1)
    val id = synchronized { nextId += 1; if (group.nonEmpty) groupOwner(group) = nextId; nextId }
    val t0 = nowMs
    try body(id)
    finally synchronized { spans += Span(id, name, layer, parent, group, t0, nowMs) }
  }

  /** Record an already-measured interval (e.g. a service evaluation timed
    * from its submitting thread).
    */
  def record(name: String, layer: String, parent: Int, group: String,
             t0Ms: Double, t1Ms: Double): Unit = if (on) synchronized {
    nextId += 1
    if (group.nonEmpty) groupOwner(group) = nextId
    spans += Span(nextId, name, layer, parent, group, t0Ms, t1Ms)
  }

  /** Wait (at most 3 s) until every started job has ended and the
    * listener bus has been quiet for 100 ms, so a pass's events are
    * counted before tracing is switched off.
    */
  def settle(): Unit = {
    val deadline = nowMs + 3000
    while (nowMs < deadline && (synchronized(jobStart.nonEmpty) || nowMs - lastEventMs < 100))
      Thread.sleep(10)
  }

  /** Summed stats of every group whose name satisfies `p`. */
  def statsWhere(p: String => Boolean): GroupStats = synchronized {
    val t = new GroupStats
    groups.foreach { case (g, s) if p(g) =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks; t.taskMs += s.taskMs
      t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes; t.recordsRead += s.recordsRead
    case _ => ()
    }
    t
  }

  /** All spans recorded so far (a copy). */
  def allSpans: Seq[Span] = synchronized(spans.toVector)

  // ---- SparkListener: events arrive on the listener bus thread ----

  private def msOf(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    lastEventMs = nowMs
    val g = groupOf(e.properties)
    val start = msOf(e.time)
    jobStart(e.jobId) = (g, start)
    e.stageIds.foreach(stageGroup(_) = g)
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    lastEventMs = nowMs
    jobStart.remove(e.jobId).foreach { case (g, start) =>
      nextId += 1
      spans += Span(nextId, s"job ${e.jobId}", "spark", groupOwner.getOrElse(g, -1), g,
        start, msOf(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    lastEventMs = nowMs
    totalStages += 1
    stageGroup.get(e.stageInfo.stageId).foreach(g =>
      groups.getOrElseUpdate(g, new GroupStats).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    lastEventMs = nowMs
    totalTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}","parent":${s.parent},"group":${Json.str(s.group)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Self time: a span's duration minus the part of it its children cover. */
object SelfTime {
  def of(span: Span, children: Seq[Span]): Double = {
    val ivs = children.map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- ivs) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    span.durMs - covered
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
