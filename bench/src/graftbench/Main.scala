package graftbench

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints, as its last stdout line, one JSON object with the run's
  * checks and its metric values by name. */
object Main {

  /** Input builds per run; `setup_s` reports their median. */
  val SetupReps = 3

  /** Worker threads: the machine's cores, at most 4. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-bench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String): Workload = name match {
    case "search" => new SearchWorkload
    case "ingest" => new IngestWorkload
    case "curate" => new CurateWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    // End without stopping the SparkContext: the result is printed and
    // the spans are written, and a context stop took from 1 s to over
    // 30 s, which only stretched the run. Scratch files live under the
    // work directory, which the caller removes.
    Runtime.getRuntime.halt(code)
  }

  private def run(argv: Array[String]): Unit = {
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    val wl = workload(args.workload)
    val spark = session(args.work)
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, args, tracer)
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(ctx, rep)
      val secs = (System.nanoTime() - t0) / 1e9
      ctx.log(f"setup $rep: $secs%.2f s")
      secs
    }
    ctx.log(f"session start: $sessionS%.2f s")
    val report = wl.run(ctx)
    ctx.log("workload done")
    tracer.enable(false)
    report.details.foreach { d =>
      println(s"metric ${d.name} ${d.value} ${d.unit}" + (if (d.note.isEmpty) "" else s" (${d.note})"))
    }
    val metrics =
      if (args.trace) ctx.layerMedians
      else Map(
        "setup_s" -> (sessionS + Stats.median(setupS)),
        "ok_frac" -> Stats.okFrac(ctx.attemptedOps, ctx.failedOps),
        "work_per_s" -> report.workPerS,
        "op_p50_s" -> report.opP50S,
        "recall" -> report.recall)
    if (args.trace)
      tracer.write(new java.io.File(args.work, s"trace-${args.workload}-${args.seed}.jsonl").getPath)
    println(Json.obj(Seq(
      "correct" -> ctx.correct,
      "attempted" -> ctx.attemptedOps,
      "failed" -> ctx.failedOps,
      "metrics" -> metrics)))
  }
}
