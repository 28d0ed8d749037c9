package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one job group. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L // memory + disk
  var inputBytes = 0L
  var outputBytes = 0L
  /** Call site of each job's final stage, e.g. "head at Foo.scala:12". */
  val callSites = mutable.ArrayBuffer.empty[String]
  /** [launch, finish] of every task, epoch millis. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    callSites ++= o.callSites; taskSpans ++= o.taskSpans
  }

  /** Millis within [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    for ((s0, e0) <- taskSpans.sortBy(_._1)) {
      val s = math.max(s0, end)
      val e = math.min(e0, to)
      if (e > s) { busy += e - s; end = e }
    }
    busy
  }
}

/** Attributes job, task and byte counts to the job group that was set
  * on the driver thread when each job was submitted. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, Counts]

  def counts(group: String): Counts = synchronized {
    val c = new Counts
    groups.get(group).foreach(c.add)
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = groups.getOrElseUpdate(group, new Counts)
      c.jobs += 1
      if (e.stageInfos.nonEmpty) c.callSites += e.stageInfos.maxBy(_.stageId).name
      e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val c = groups(group)
      c.tasks += 1
      c.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** One timed call. `counts` is empty unless the call was traced. */
final case class Span(
    id: Int, parent: Int, name: String, op: Int,
    startMs: Long, startNs: Long, endNs: Long, counts: Option[Counts]) {
  def secs: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Times calls; while tracing is on it also records a span per call,
  * tags the call's Spark jobs with a job group of its own and reads the
  * listener counts for that group when the call returns. Spans stay in
  * memory until [[write]]. */
final class Tracer(sc: SparkContext) {
  private val listener = new GroupListener
  private var attached = false
  private var nextId = 0
  private var parents: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def on: Boolean = attached

  /** Switch tracing on or off; the listener is detached while off. */
  def enable(flag: Boolean): Unit = if (flag != attached) {
    if (flag) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = flag
  }

  /** Run `body` as a span named `name` of operation `op`. */
  def span[A](name: String, op: Int)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parentId = parents.headOption.map(_.id).getOrElse(-1)
    val group = s"span-$id"
    val placeholder = Span(id, parentId, name, op, 0L, 0L, 0L, None)
    if (attached) sc.setJobGroup(group, name, interruptOnCancel = false)
    parents = placeholder :: parents
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try body
      finally {
        parents = parents.tail
        if (attached) parents.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    val t1 = System.nanoTime()
    val counts =
      if (attached) { org.apache.spark.BusDrain.drain(sc); Some(listener.counts(group)) }
      else None
    val s = Span(id, parentId, name, op, startMs, t0, t1, counts)
    if (attached) spans += s
    (out, s)
  }

  /** Write the recorded spans as JSON lines. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = s.counts.getOrElse(new Counts)
      w.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "dur_s" -> s.secs,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "executor_run_s" -> c.runMs / 1000.0,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
        "call_sites" -> c.callSites.toSeq)))
    } finally w.close()
  }
}

/** Per-op Spark execution of the spans that make up one user-visible
  * operation: the `chain.*` metrics. */
object Chain {
  def of(spans: Seq[Span]): Map[String, Double] = {
    val c = new Counts
    spans.flatMap(_.counts).foreach(c.add)
    val wallMs = spans.map(s => s.endMs - s.startMs).sum
    val busyMs = spans.map(s => s.counts.map(_.busyMs(s.startMs, s.endMs)).getOrElse(0L)).sum
    Map(
      "chain.jobs_per_op" -> c.jobs.toDouble,
      "chain.tasks_per_op" -> c.tasks.toDouble,
      "chain.executor_run_s" -> c.runMs / 1000.0,
      "chain.driver_gap_s" -> (wallMs - busyMs) / 1000.0,
      "chain.shuffle_bytes" -> c.shuffleBytes.toDouble,
      "chain.spill_bytes" -> c.spillBytes.toDouble,
      "chain.gc_s" -> c.gcMs / 1000.0)
  }
}
