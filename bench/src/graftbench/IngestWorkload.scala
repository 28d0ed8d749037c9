package graftbench

import graft.operators.{Ann, GraphBuild, Ingest, Pipelines, Retrieval}
import graft.operators.Embed
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`: each op submits one micro-batch through
  * `StreamingIngest.processBatch` with `Retrieval.MultiTableLsh(512)`
  * into a store pre-seeded with generated vectors, compacts the edge log
  * every [[IngestWorkload.CompactEvery]] batches like
  * `ingestWriterCompacting`, then searches for a doc the batch just
  * submitted. */
final class IngestWorkload extends Workload {
  import IngestWorkload._

  private var docsDir: String = _
  private var edgesDir: String = _
  private var batches: Array[Array[Row]] = _
  /** Store rows once batch i has landed. */
  private var rowsAfter: Array[Long] = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    val seed = ctx.args.seed
    val (ds, _) = Gen.store(seed, SeedDocs, Dim, Clusters, Spread, "ingest")
    val root = ctx.dir(s"ingest/rep$rep")
    docsDir = s"$root/docs"
    edgesDir = s"$root/edges"
    Gen.frame(ctx.spark, Gen.docRows(ds), Gen.DocSchema, Main.Cores).write.parquet(docsDir)
    Gen.frame(ctx.spark, Gen.edges(seed, ds, EdgesPerDoc, "ingest"), Gen.EdgeSchema, 1)
      .write.parquet(edgesDir)

    val r = Gen.rng(seed, "ingest/batches")
    val vocab = Gen.vocabulary(r, 400)
    val known = mutable.ArrayBuffer.from(ds.map(d => (d.mtype, d.data)))
    var seq = 1000000L
    val n = Warmup + measuredOps(ctx.args.seconds)
    batches = Array.tabulate(n) { b =>
      val fresh = (0 until BatchSize - Repeats).map { k =>
        if (r.nextInt(2) == 0) ("text", s"text b$b i$k ${Gen.sentence(r, vocab, 10)}")
        else ("image", s"image b$b i$k " + Array.fill(32)(f"${r.nextInt(256)}%02x").mkString)
      }
      val repeats = (0 until Repeats).map(_ => known(r.nextInt(known.length)))
      known ++= fresh
      // fresh items first: the probe searches for the batch's first item
      (fresh ++ repeats).map { case (m, d) => seq += 1; Row(m, d, seq) }.toArray
    }
    rowsAfter = Array.tabulate(n)(b => SeedDocs + (b + 1).toLong * (BatchSize - Repeats))
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val submit = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[Double]
    var found = 0
    var inputBytes = 0L
    var diskBefore = 0L
    for (b <- batches.indices) {
      val measured = b >= Warmup
      val j = b - Warmup
      if (b == Warmup) {
        ctx.log("warm-up done")
        diskBefore = ctx.files(docsDir)._2 + ctx.files(edgesDir)._2
      }
      ctx.tracer.enable(measured && ctx.traceOp(j))
      val rows = batches(b)
      val batchBytes = rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
      def body(): Boolean = {
        val batch = Gen.frame(spark, rows.toSeq, Gen.BatchSchema, Main.Cores)
        // the store as it stands before this batch (its file list is
        // fixed here), for the traced layer calls after the batch
        val existing = if (ctx.args.trace) spark.read.parquet(docsDir) else null
        val persistedBefore = ctx.persistedRdds
        val filesBefore = ctx.files(docsDir)._1 + ctx.files(edgesDir)._1
        val (_, batchSpan) = ctx.tracer.span("StreamingIngest.processBatch", j) {
          StreamingIngest.processBatch(spark, batch, b.toLong, docsDir, edgesDir, ctx.conf,
            Retrieval.MultiTableLsh(Dim))
        }
        val filesAfter = ctx.files(docsDir)._1 + ctx.files(edgesDir)._1
        var spans = Seq(batchSpan)
        var compactionOk = true
        if ((b + 1) % CompactEvery == 0) {
          val before = edgeDigest(ctx)
          val (_, compactSpan) = ctx.tracer.span("GraphBuild.compactEdges", j) {
            GraphBuild.compactEdges(spark, edgesDir)
          }
          compactionOk = edgeDigest(ctx) == before
          if (!compactionOk) ctx.log(s"batch $b: latest-wins edges changed by compaction")
          spans :+= compactSpan
          if (measured) {
            ctx.record("GraphBuild.compact_s", compactSpan.secs)
            // compaction rewrites the whole edge store
            ctx.record("GraphBuild.compact_bytes_rewritten", ctx.files(edgesDir)._2.toDouble)
          }
        }
        val (mtype, data) = (rows(0).getString(0), rows(0).getString(1))
        val (hits, probeSpan) = ctx.tracer.span("probe: Pipelines.search", j) {
          graft.CacheScope.materializeAndRelease(Pipelines.search(
            spark.read.parquet(docsDir), probeFrame(ctx, b, mtype, data), edgeView(ctx), ctx.conf))(_.collect())
        }
        val top = hits.find(_.getAs[Int]("rnk") == 1).map(_.getAs[String]("id"))
        val probeOk = top.contains(Gen.docId(data))
        if (!probeOk) ctx.log(s"batch $b: probe rank 1 is $top, want ${Gen.docId(data)}")
        if (measured) {
          val submitS = spans.map(_.secs).sum
          submit += submitS
          ctx.opTimed(submitS)
          probes += probeSpan.secs
          inputBytes += batchBytes
          if (probeOk) found += 1
        }
        if (measured && ctx.args.trace) {
          // a traced run re-runs the layers after every op, traced or
          // not, so both kinds of op start from the same state
          val layersS = traceSubmitLayers(ctx, j, batch, existing, rows.length)
          val store = spark.read.parquet(docsDir)
          SearchWorkload.traceLayers(ctx, j, store, probeFrame(ctx, b, mtype, data),
            edgeView(ctx), store.count())
          if (ctx.tracer.on) {
            ctx.recordAll(Chain.of(spans))
            ctx.record("CacheScope.blocks_leaked", (ctx.persistedRdds - persistedBefore).toDouble)
            ctx.record("StreamingIngest.batch_s", batchSpan.secs)
            ctx.record("StreamingIngest.unattributed_s", batchSpan.secs - layersS)
            ctx.record("store.bytes_written_per_input_byte",
              batchSpan.counts.get.outputBytes.toDouble / batchBytes)
            ctx.record("store.files_written", (filesAfter - filesBefore).toDouble)
            ctx.record("store.input_bytes_per_query", probeSpan.counts.get.inputBytes.toDouble)
            ctx.record("store.files", filesAfter.toDouble)
          }
        }
        probeOk && compactionOk
      }
      if (!measured) require(body(), s"warm-up batch $b failed its checks")
      else ctx.attempt(s"batch $j")(body())
    }
    ctx.tracer.enable(false)
    val diskAfter = ctx.files(docsDir)._2 + ctx.files(edgesDir)._2
    val (nRows, nIds) = {
      val r = spark.read.parquet(docsDir).agg(count(lit(1)), countDistinct(col("id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    ctx.check(s"store ids unique ($nIds ids, $nRows rows)", nIds == nRows)
    ctx.check(s"store rows $nRows == seed + distinct new payloads ${rowsAfter.last}",
      nRows == rowsAfter.last)
    val n = submit.length
    val items = batches.drop(Warmup).map(_.length).sum
    val tail =
      if (n > Stats.TailBeyond)
        Seq(Detail("submit_tail_s", Stats.tail(submit.toSeq), "s",
          f"p${Stats.tailPercentile(n)}%.0f of $n batches"))
      else Nil
    Report(items / submit.sum, Stats.median(submit.toSeq), found.toDouble / n, Seq(
      Detail("items_per_s", items / submit.sum, "1/s"),
      Detail("submit_p50_s", Stats.median(submit.toSeq), "s", s"$n batches")) ++ tail ++ Seq(
      Detail("fresh_search_p50_s", Stats.median(probes.toSeq), "s", s"${probes.length} probes"),
      Detail("disk_bytes_per_input_byte", (diskAfter - diskBefore).toDouble / inputBytes, "B/B")))
  }

  /** A query for a payload as the user would send it: embedded by the
    * engine's embedder. */
  private def probeFrame(ctx: Ctx, b: Int, mtype: String, data: String): DataFrame =
    ctx.spark.createDataFrame(Seq(Row(s"probe$b", mtype, data)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL("qid STRING, qtype STRING, data STRING"))
      .select(col("qid"), col("qtype"), Embed.embedText(col("data"), Dim).as("qvec"))

  /** The edge store as readers see it: latest row per (src, dst). */
  private def edgeView(ctx: Ctx): DataFrame =
    GraphBuild.latestWins(ctx.spark.read.parquet(edgesDir))

  /** Order-free digest of the latest-wins edge view: (rows, xor of row hashes). */
  private def edgeDigest(ctx: Ctx): (Long, Long) = {
    val r = edgeView(ctx)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("src"), col("dst"), col("score"), col("seq"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Time the layers `processBatch` is made of, each on this batch and
    * the store as it stood before the batch, forcing every column.
    * Records them when tracing is on; returns their summed seconds. */
  private def traceSubmitLayers(ctx: Ctx, op: Int, batch: DataFrame, existing: DataFrame,
      items: Int): Double = {
    val spark = ctx.spark
    val mb = ctx.conf.copy(rddFramesAreMicroBatches = true)
    val (prepared, embedSpan) = ctx.tracer.span("Embed", op) {
      ctx.checkpoint(Ingest.prepare(batch, ctx.conf))
    }
    val (delta, dedupSpan) = ctx.tracer.span("Ingest.dedupDelta", op) {
      ctx.checkpoint(Ingest.dedupDelta(prepared, existing)
        .select("id", "mtype", "data", "embedding", "seq"))
    }
    val docs = existing.select("id", "mtype", "data", "embedding").unionByName(delta.drop("seq"))
    val queries = delta.select(col("id").as("qid"), col("mtype").as("qtype"),
      col("embedding").as("qvec"), col("seq"))
    val (knn, annSpan) = ctx.tracer.span("Ann", op) {
      ctx.checkpoint(Retrieval.MultiTableLsh(Dim).topK(docs, queries.drop("seq"), ctx.conf.submitK, mb)
        .join(broadcast(queries.select("qid", "qtype", "seq")), Seq("qid")))
    }
    val (edgeRows, edgeSpan) = ctx.tracer.span("GraphBuild.edgeDelta", op) {
      GraphBuild.edgeDelta(knn, ctx.conf).collect()
    }
    val layersS = embedSpan.secs + dedupSpan.secs + annSpan.secs + edgeSpan.secs
    if (ctx.tracer.on) recordSubmitLayers(ctx, items, docs, delta, queries, mb,
      embedSpan, dedupSpan, annSpan, edgeRows.length)
    Seq(prepared, delta, knn).foreach(ctx.free)
    layersS
  }

  private def recordSubmitLayers(ctx: Ctx, items: Int, docs: DataFrame, delta: DataFrame,
      queries: DataFrame, mb: graft.GraftConf, embedSpan: Span, dedupSpan: Span,
      annSpan: Span, edges: Int): Unit = {
    val nQueries = delta.count()
    val candidates = Ann.multiTableCandidates(docs.select("id", "embedding"),
      queries.select("qid", "qvec"), Dim, Planes, Tables, mb).count()
    val rawCandidates = rawCandidatePairs(docs, queries)
    val embedCounts = embedSpan.counts.get
    ctx.record("Embed.s", embedSpan.secs)
    ctx.record("Embed.rows_per_core_s", items / math.max(embedCounts.runMs / 1000.0, 1e-3))
    ctx.record("Ingest.dedup_s", dedupSpan.secs)
    ctx.record("Ingest.dup_frac", 1.0 - nQueries.toDouble / items)
    ctx.record("Ann.s", annSpan.secs)
    ctx.record("Ann.jobs", annSpan.counts.get.jobs.toDouble)
    ctx.record("Ann.shuffle_bytes", annSpan.counts.get.shuffleBytes.toDouble)
    ctx.record("Ann.candidates_per_query", candidates.toDouble / math.max(nQueries, 1L))
    ctx.record("Ann.dup_candidate_frac",
      if (rawCandidates == 0) 0.0 else 1.0 - candidates.toDouble / rawCandidates)
    ctx.record("GraphBuild.edges_appended", edges.toDouble)
  }

  /** (query, doc) bucket matches summed over the LSH tables, before the
    * per-pair dedup. */
  private def rawCandidatePairs(docs: DataFrame, queries: DataFrame): Long = {
    def buckets(v: org.apache.spark.sql.Column) =
      array((0 until Tables).map(t => Ann.lshBucketT(v, Dim, Planes, t)): _*)
    val d = docs.select(posexplode(buckets(col("embedding"))).as(Seq("tbl", "bucket")))
    val q = queries.select(posexplode(buckets(col("qvec"))).as(Seq("tbl", "bucket")))
    d.join(broadcast(q), Seq("tbl", "bucket")).count()
  }
}

object IngestWorkload {
  val SeedDocs = 4000
  val Dim = 512
  val Clusters = 32
  val Spread = 0.9
  val EdgesPerDoc = 3
  val BatchSize = 32
  /** Items per batch that repeat an earlier payload (20 %). */
  val Repeats = 6
  val CompactEvery = 8
  val Planes = 4
  val Tables = 8
  val Warmup = 3
  /** Batches per second of `--seconds` the benchmark schedules. */
  val OpsPerSecond = 0.32

  def measuredOps(seconds: Int): Int = math.max(2, math.round(seconds * OpsPerSecond).toInt)
}
