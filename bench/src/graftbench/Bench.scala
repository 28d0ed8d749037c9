package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable

/** What one invocation runs. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace, need("work"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** State shared by a workload's operations in one run. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val conf: graft.GraftConf = graft.GraftConf.default
  val sc = spark.sparkContext
  private var attempted = 0
  private var failed = 0
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val runChecks = mutable.ArrayBuffer.empty[(String, Boolean)]

  def dir(name: String): String = {
    val d = new java.io.File(args.work, name)
    d.getParentFile.mkdirs()
    d.getPath
  }

  def log(msg: String): Unit =
    System.err.println(s"[bench] ${java.time.LocalTime.now()} $msg")

  /** Run one measured operation; `body` returns whether its checks held.
    * A thrown exception or a failed check counts the op as failed. The
    * op is one span, the parent of the spans of the calls it makes. */
  def attempt(label: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try tracer.span(label, attempted - 1)(body)._1
      catch {
        case e: Exception =>
          log(s"$label threw: $e")
          false
      }
    if (!ok) failed += 1
    ok
  }

  /** A whole-run check (not tied to one operation). */
  def check(name: String, ok: Boolean): Unit = {
    if (!ok) log(s"check failed: $name")
    runChecks += name -> ok
  }

  def attemptedOps: Int = attempted
  def failedOps: Int = failed
  def correct: Boolean = failed == 0 && runChecks.forall(_._2)

  /** In a traced run, every second measured op is traced; the others
    * give the untraced baseline for `trace.overhead_frac`. */
  def traceOp(i: Int): Boolean = args.trace && i % 2 == 1

  private val opSecs = Map(true -> mutable.ArrayBuffer.empty[Double],
    false -> mutable.ArrayBuffer.empty[Double])

  /** Note a measured op's latency, split by whether it was traced. */
  def opTimed(secs: Double): Unit = {
    opSecs(tracer.on) += secs
    log(f"op ${opSecs(true).length + opSecs(false).length}: $secs%.3f s")
  }

  /** Median traced op latency over median untraced op latency, minus 1. */
  def traceOverhead: Option[Double] =
    if (opSecs(true).isEmpty || opSecs(false).isEmpty) None
    else Some(Stats.median(opSecs(true).toSeq) / Stats.median(opSecs(false).toSeq) - 1)

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def recordAll(m: Map[String, Double]): Unit = m.foreach { case (k, v) => record(k, v) }

  def layerMedians: Map[String, Double] =
    layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap ++
      traceOverhead.map("trace.overhead_frac" -> _)

  /** Materialize `df` and pin its rows, cutting its lineage. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Build `df` inside a cache scope, checkpoint it, then release the
    * operator's internal pins. */
  def materialize(df: => DataFrame): DataFrame =
    graft.CacheScope.materializeAndRelease(df)(checkpoint)

  /** Release the blocks of a frame made by [[checkpoint]]. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case _ => ()
  }

  def persistedRdds: Int = sc.getPersistentRDDs.size

  /** Parquet data files and their bytes under `dir`. */
  def files(dir: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    if (!fs.exists(p)) (0, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
      }
      (n, bytes)
    }
  }
}

/** A metric of one workload only, printed by name beside the result. */
final case class Detail(name: String, value: Double, unit: String, note: String = "")

/** The outcome of one workload run: the end-to-end metrics every
  * workload reports, under their common names, and the workload's own
  * metrics. */
final case class Report(workPerS: Double, opP50S: Double, recall: Double, details: Seq[Detail])

trait Workload {
  /** Build the inputs. Called [[Main.SetupReps]] times; the last build
    * is the one the operations use. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Warm up, run the measured operations and check them. */
  def run(ctx: Ctx): Report
}
