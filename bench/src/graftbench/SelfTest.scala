package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own machinery: the tail rule, failure
  * counting and job-group attribution of listener counts. Run by
  * `bench/tests/test_bench.py`; exits non-zero on the first failure. */
object SelfTest {

  private var failures = 0

  private def expect(name: String, ok: => Boolean): Unit = {
    val passed =
      try ok
      catch { case e: Exception => println(s"  ($e)"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def throws(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def tailRule(): Unit = {
    val xs = (1 to 40).map(_.toDouble).reverse
    expect("tail of 40 samples has exactly 10 above it", {
      val t = Stats.tail(xs)
      t == 30.0 && xs.count(_ > t) == 10
    })
    expect("tail of 40 samples is p75", Stats.tailPercentile(40) == 75.0)
    expect("tail of 11 samples is the smallest", Stats.tail((1 to 11).map(_.toDouble)) == 1.0)
    expect("no tail below 11 samples", throws(Stats.tail((1 to 10).map(_.toDouble))))
    expect("median of even count averages the middle pair", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def failureCounting(ctx: Ctx): Unit = {
    ctx.attempt("passes")(true)
    ctx.attempt("fails a check")(false)
    ctx.attempt("throws")(throw new IllegalStateException("boom"))
    ctx.attempt("passes again")(true)
    expect("attempted counts every op", ctx.attemptedOps == 4)
    expect("failed counts failed checks and exceptions", ctx.failedOps == 2)
    expect("ok_frac is the passing share", Stats.okFrac(ctx.attemptedOps, ctx.failedOps) == 0.5)
    expect("a failed op makes the run incorrect", !ctx.correct)
    expect("ok_frac rejects more failures than attempts", throws(Stats.okFrac(1, 2)))
  }

  def jobGroups(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    spark.range(1000).count() // before tracing: attributed to no span
    tracer.enable(true)
    val (_, one) = tracer.span("one job", 0)(spark.range(1000).selectExpr("sum(id)").collect())
    val (inner, outer) = tracer.span("outer", 0) {
      spark.range(100).count()
      val (_, inner) = tracer.span("inner", 0) {
        spark.range(10).collect()
        spark.range(20).collect()
      }
      spark.range(100).count()
      inner
    }
    val (_, joined) = tracer.span("broadcast join", 0) {
      val small = spark.range(10).withColumn("k", col("id") % 5)
      spark.range(10000).withColumn("k", col("id") % 5)
        .join(broadcast(small), "k").agg(count(lit(1))).collect()
    }
    tracer.enable(false)
    val (_, untraced) = tracer.span("untraced", 0)(spark.range(10).collect())

    def jobs(s: Span) = s.counts.map(_.jobs).getOrElse(-1L)
    def statusJobs(s: Span) = sc.statusTracker.getJobIdsForGroup(s"span-${s.id}").length.toLong
    expect("a span's jobs are counted under its group", jobs(one) >= 1 && jobs(one) == statusJobs(one))
    expect("a nested span's jobs stay out of its parent",
      jobs(inner) >= 2 && jobs(inner) == statusJobs(inner) &&
        jobs(outer) >= 2 && jobs(outer) == statusJobs(outer))
    expect("jobs from other threads (broadcast) are attributed",
      jobs(joined) >= 2 && jobs(joined) == statusJobs(joined))
    expect("tasks and executor time are attributed",
      one.counts.exists(c => c.tasks >= 1 && c.taskSpans.length == c.tasks))
    expect("an untraced span records no counts", untraced.counts.isEmpty)
    expect("spans are kept only while tracing", tracer.spans.map(_.name) ==
      Seq("one job", "inner", "outer", "broadcast join"))
    val chain = Chain.of(Seq(joined))
    expect("driver gap is within the span's wall time",
      chain("chain.driver_gap_s") >= 0 && chain("chain.driver_gap_s") <= joined.secs + 1e-3)
  }

  /** `SelfTest --work DIR` */
  def main(argv: Array[String]): Unit = {
    require(argv.length == 2 && argv(0) == "--work", "usage: SelfTest --work DIR")
    val work = argv(1)
    val spark = Main.session(work)
    try {
      tailRule()
      failureCounting(new Ctx(spark, Args("selftest", 0L, 1, trace = false, work), new Tracer(spark.sparkContext)))
      jobGroups(spark)
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
