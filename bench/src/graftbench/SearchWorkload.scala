package graftbench

import graft.operators.{GraphExpand, Pipelines, Retrieval}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** `search`: one query vector per request through `Pipelines.search`
  * with the default `Retrieval.Auto()` over a static, compacted store.
  * Read-only: Knn, GraphExpand and the store scan; no Embed, Ann or
  * writes. */
final class SearchWorkload extends Workload {
  import SearchWorkload._

  private var docs: Array[Gen.Doc] = _
  private var docsDir: String = _
  private var edgesDir: String = _
  private var queries: Array[(String, String, Array[Float])] = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    val seed = ctx.args.seed
    val (ds, centers) = Gen.store(seed, Docs, Dim, Clusters, Spread, "search")
    val root = ctx.dir(s"search/rep$rep")
    docsDir = s"$root/docs"
    edgesDir = s"$root/edges"
    Gen.frame(ctx.spark, Gen.docRows(ds), Gen.DocSchema, Main.Cores)
      .write.parquet(docsDir)
    Gen.frame(ctx.spark, Gen.edges(seed, ds, EdgesPerDoc, "search"), Gen.EdgeSchema, 1)
      .write.parquet(edgesDir)
    val r = Gen.rng(seed, "search/queries")
    queries = Array.tabulate(Warmup + measuredOps(ctx.args.seconds)) { i =>
      val mtype = if (r.nextInt(2) == 0) "text" else "image"
      (s"q$i", mtype, Gen.around(r, centers(r.nextInt(Clusters)), Spread))
    }
    docs = ds
  }

  def run(ctx: Ctx): Report = {
    val ids = docs.iterator.map(_.id).toSet
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val recall = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (i <- queries.indices) {
      val measured = i >= Warmup
      val j = i - Warmup
      if (i == Warmup) ctx.log("warm-up done")
      ctx.tracer.enable(measured && ctx.traceOp(j))
      def body(): Array[Row] = {
        val q = queryFrame(ctx, queries(i))
        val store = ctx.spark.read.parquet(docsDir)
        val edges = ctx.spark.read.parquet(edgesDir)
        val persistedBefore = ctx.persistedRdds
        val (rows, span) = ctx.tracer.span("Pipelines.search", j) {
          graft.CacheScope.materializeAndRelease(
            Pipelines.search(store, q, edges, ctx.conf))(_.collect())
        }
        if (measured) {
          lat += span.secs
          ctx.opTimed(span.secs)
          if (ctx.tracer.on) {
            ctx.recordAll(Chain.of(Seq(span)))
            ctx.record("CacheScope.blocks_leaked", (ctx.persistedRdds - persistedBefore).toDouble)
            ctx.record("store.input_bytes_per_query", span.counts.get.inputBytes.toDouble)
            ctx.record("store.files", (ctx.files(docsDir)._1 + ctx.files(edgesDir)._1).toDouble)
          }
          // a traced run re-runs the layers after every op, traced or
          // not, so both kinds of op start from the same state
          if (ctx.args.trace) traceLayers(ctx, j, store, q, edges, docs.length.toLong)
        }
        rows
      }
      // recall counts warm-up queries too: their hits are results all the same
      def checked(): Boolean = {
        val rows = body().sortBy(_.getAs[Int]("rnk"))
        val hitIds = rows.map(_.getAs[String]("id"))
        val scores = rows.map(_.getAs[Double]("score"))
        val exact = exactTopK(queries(i)._3, K).toSet
        recall += hitIds.count(exact.contains).toDouble / K
        rows.length == K &&
          hitIds.forall(ids.contains) &&
          scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
      }
      if (!measured) require(checked(), s"warm-up query $i failed its checks")
      else ctx.attempt(s"query $j")(checked())
    }
    ctx.tracer.enable(false)
    val recallAt20 = if (recall.isEmpty) 0.0 else recall.sum / recall.length
    ctx.check(s"recall_at_20 $recallAt20 >= floor $RecallFloor", recallAt20 >= RecallFloor)
    val n = lat.length
    Report(n / lat.sum, Stats.median(lat.toSeq), recallAt20, Seq(
      Detail("queries_per_s", n / lat.sum, "1/s"),
      Detail("search_p50_s", Stats.median(lat.toSeq), "s", s"$n queries"),
      Detail("search_tail_s", Stats.tail(lat.toSeq), "s",
        f"p${Stats.tailPercentile(n)}%.0f of $n queries"),
      Detail("recall_at_20", recallAt20, "fraction", s"${recall.length} queries")))
  }

  /** Exact cosine top-k over the generated vectors (score desc, id asc). */
  private def exactTopK(q: Array[Float], k: Int): Seq[String] = {
    val byRank = Ordering.by[(Double, String), (Double, String)] { case (s, id) => (-s, id) }
    val best = scala.collection.mutable.PriorityQueue.empty[(Double, String)](byRank)
    docs.foreach { d =>
      best += ((Gen.dot(q, d.vec), d.id))
      if (best.size > k) best.dequeue()
    }
    best.toSeq.sorted(byRank).map(_._2)
  }
}

object SearchWorkload {
  val Docs = 20000
  val Dim = 512
  val Clusters = 64
  val Spread = 0.9
  val EdgesPerDoc = 3
  val K = 20
  val Warmup = 25
  /** Queries per second of `--seconds` the benchmark schedules. */
  val OpsPerSecond = 1.5
  /** Lowest acceptable mean recall@20 of the final hit list. */
  val RecallFloor = 0.5

  def measuredOps(seconds: Int): Int = math.max(Stats.TailBeyond + 1, math.round(seconds * OpsPerSecond).toInt)

  val QuerySchema: StructType = StructType.fromDDL("qid STRING, qtype STRING, qvec ARRAY<FLOAT>")

  def queryFrame(ctx: Ctx, q: (String, String, Array[Float])): DataFrame =
    ctx.spark.createDataFrame(Seq(Row(q._1, q._2, q._3)).asJava, QuerySchema)

  /** Time the layers `Pipelines.search` is made of, each on this op's
    * own inputs with its output collected; record them when tracing is on. */
  def traceLayers(ctx: Ctx, op: Int, store: DataFrame, q: DataFrame, edges: DataFrame,
      storeRows: Long): Unit = {
    val auto = Retrieval.Auto()
    val (knn, knnSpan) = ctx.tracer.span("Knn", op) {
      auto.topK(store, q, ctx.conf.searchK, ctx.conf).select("qid", "id", "sim", "rank").collect()
    }
    val seeds = ctx.spark.createDataFrame(knn.toSeq.asJava,
      StructType.fromDDL("qid STRING, id STRING, sim DOUBLE, rank INT"))
    val (expanded, expSpan) = ctx.tracer.span("GraphExpand", op) {
      GraphExpand.expandFaithful(seeds, edges, ctx.conf.searchK, ctx.conf).collect()
    }
    if (!ctx.tracer.on) return
    val pairs = if (auto.escalates(store, ctx.conf)) knn.length.toLong else storeRows
    val knnCounts = knnSpan.counts.get
    ctx.record("Knn.s", knnSpan.secs)
    ctx.record("Knn.jobs", knnCounts.jobs.toDouble)
    ctx.record("Knn.pairs_scored", pairs.toDouble)
    ctx.record("Knn.pairs_per_core_s", pairs / math.max(knnCounts.runMs / 1000.0, 1e-3))
    ctx.record("GraphExpand.s", expSpan.secs)
    ctx.record("GraphExpand.jobs", expSpan.counts.get.jobs.toDouble)
    ctx.record("GraphExpand.rows_out", expanded.length.toDouble)
  }
}
