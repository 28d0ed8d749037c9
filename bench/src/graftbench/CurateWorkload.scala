package graftbench

import graft.operators.{Dedup, GraphAlgos, KMeansTrain, SubstringDedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `curate`: each op is one full curation pass over a fixed corpus with
  * planted near-duplicates and repeated spans: quality analysis, MinHash
  * near-dup pairs, dedup clusters, repeated-span removal, k-means. Each
  * stage's output is materialized before the next stage reads it, the
  * way a batch pipeline hands stages over. No store, Knn or Ann. */
final class CurateWorkload extends Workload {
  import CurateWorkload._

  private var corpusDir: String = _
  /** Ids of the planted near-duplicate copies. */
  private var planted: Set[String] = _
  private var workCounted = false

  def setup(ctx: Ctx, rep: Int): Unit = {
    val (rows, copies) = corpus(ctx.args.seed)
    corpusDir = ctx.dir(s"curate/rep$rep/corpus")
    Gen.frame(ctx.spark, rows, CorpusSchema, Main.Cores).write.parquet(corpusDir)
    planted = copies
  }

  def run(ctx: Ctx): Report = {
    val passS = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[String]
    var recall = 0.0
    for (i <- 0 until Warmup + measuredOps(ctx.args.seconds)) {
      val measured = i >= Warmup
      val j = i - Warmup
      ctx.tracer.enable(measured && ctx.traceOp(j))
      def body(): Boolean = {
        val persistedBefore = ctx.persistedRdds
        val (out, spans) = pass(ctx, j)
        val digest = digestOf(out)
        ctx.free(out.rows)
        val secs = spans.map(_.secs).sum
        recall = planted.count(out.dropped.contains).toDouble / planted.size
        digests += digest
        if (measured) {
          passS += secs
          ctx.opTimed(secs)
          if (ctx.tracer.on) {
            ctx.recordAll(Chain.of(spans))
            ctx.record("CacheScope.blocks_leaked", (ctx.persistedRdds - persistedBefore).toDouble)
            recordLayers(ctx, spans)
          }
        }
        ctx.log(f"pass $i: $secs%.2f s, digest $digest")
        // the planted structure must be found: near-duplicate copies are
        // dropped and repeated spans are cut
        recall >= RecallFloor && out.cut > 0 && digests.forall(_ == digest)
      }
      if (!measured) require(body(), s"warm-up pass $i failed its checks")
      else ctx.attempt(s"pass $j")(body())
    }
    ctx.tracer.enable(false)
    val n = passS.length
    println(s"curate digest ${digests.headOption.getOrElse("none")}")
    Report(Docs * n / passS.sum, Stats.median(passS.toSeq), recall, Seq(
      Detail("docs_per_s", Docs * n / passS.sum, "1/s"),
      Detail("pass_p50_s", Stats.median(passS.toSeq), "s", s"$n passes"),
      Detail("near_dup_recall", recall, "fraction", s"${planted.size} planted copies")))
  }

  /** One curation pass; returns its output and one span per stage. */
  private def pass(ctx: Ctx, op: Int): (PassOut, Seq[Span]) = {
    val spark = ctx.spark
    def stage(name: String)(df: => DataFrame): (DataFrame, Span) =
      ctx.tracer.span(name, op)(ctx.materialize(df))
    val docs = spark.read.parquet(corpusDir)
    val (quality, s1) = stage("TextAnalysis") {
      TextAnalysis.analyze(docs, "id", "text")
    }
    val kept = docs.join(quality.filter(col("n_tokens") >= MinTokens).select("id"), Seq("id"))
    val (pairs, s2) = stage("Dedup") {
      Dedup.nearDupMinhashLsh(kept, "id", "text", ShingleWidth, NumHashes, Bands, Threshold)
    }
    val (clusters, s3) = stage("GraphAlgos") {
      GraphAlgos.dedupClusters(pairs)
    }
    val deduped = kept.join(clusters.filter(!col("is_keeper")).select("id"), Seq("id"), "left_anti")
    val (cleaned, s4) = stage("SubstringDedup") {
      SubstringDedup.removeDuplicateSpansIterated(deduped.select("id", "text"), MinSpan)
    }
    val (centroids, s5) = ctx.tracer.span("KMeansTrain", op) {
      KMeansTrain.lloydGrid(cleaned.join(docs.select("id", "embedding"), Seq("id")),
        "id", "embedding", Clusters, Iterations)
    }
    val dropped = clusters.filter(!col("is_keeper")).select("id").collect().map(_.getString(0)).toSet
    val cut = cleaned.agg(coalesce(sum(col("n_cut")), lit(0L))).head().getLong(0)
    Seq(quality, pairs, clusters).foreach(ctx.free)
    (PassOut(cleaned, centroids, dropped, cut), Seq(s1, s2, s3, s4, s5))
  }

  private def recordLayers(ctx: Ctx, spans: Seq[Span]): Unit = {
    val byName = spans.map(s => s.name -> s).toMap
    def secs(n: String) = byName(n).secs
    def counts(n: String) = byName(n).counts.get
    ctx.record("TextAnalysis.s", secs("TextAnalysis"))
    ctx.record("TextAnalysis.rows_per_core_s",
      Docs / math.max(counts("TextAnalysis").runMs / 1000.0, 1e-3))
    ctx.record("Dedup.s", secs("Dedup"))
    ctx.record("GraphAlgos.s", secs("GraphAlgos"))
    ctx.record("GraphAlgos.jobs", counts("GraphAlgos").jobs.toDouble)
    ctx.record("SubstringDedup.s", secs("SubstringDedup"))
    ctx.record("SubstringDedup.jobs", counts("SubstringDedup").jobs.toDouble)
    ctx.record("KMeansTrain.s", secs("KMeansTrain"))
    ctx.record("KMeansTrain.jobs", counts("KMeansTrain").jobs.toDouble)
    if (!workCounted) { countWork(ctx); workCounted = true }
  }

  /** Work counts of the pass's inputs, measured outside the pass spans.
    * Every pass reads the same corpus, so one count serves the run. */
  private def countWork(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(corpusDir)
    val kept = docs.join(TextAnalysis.analyze(docs, "id", "text")
      .filter(col("n_tokens") >= MinTokens).select("id"), Seq("id"))
    val candidates = ctx.materialize(
      Dedup.nearDupMinhashLsh(kept, "id", "text", ShingleWidth, NumHashes, Bands, 0.0))
    val verified = candidates.filter(col("jaccard") >= Threshold).count()
    val nCandidates = candidates.count()
    ctx.record("Dedup.candidate_pairs", nCandidates.toDouble)
    ctx.record("Dedup.verified_frac", if (nCandidates == 0) 0.0 else verified.toDouble / nCandidates)
    val cc = GraphAlgos.connectedComponentsWithStats(
      candidates.filter(col("jaccard") >= Threshold).select(col("id_a").as("src"), col("id_b").as("dst")))
    ctx.record("GraphAlgos.supersteps", cc.iterations.toDouble)
    ctx.free(candidates)
    // passes that changed the text: the fewest iterations whose output
    // equals the converged output
    val input = kept.join(cc.labels.filter(col("id") =!= col("component")).select("id"),
      Seq("id"), "left_anti").select("id", "text")
    def spans(maxIter: Int) = graft.CacheScope.materializeAndRelease(
      SubstringDedup.removeDuplicateSpansIterated(input, MinSpan, maxIter))(rowsDigest)
    val converged = spans(MaxSpanPasses)
    val passes = (1 to MaxSpanPasses).find(m => spans(m) == converged).get
    ctx.record("SubstringDedup.passes", passes.toDouble)
  }

  private def rowsDigest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Order-free digest of the pass output: rows, xor of row hashes and
    * the centroid grid. */
  private def digestOf(out: PassOut): String = {
    val (rows, hash) = rowsDigest(out.rows)
    val grid = java.util.Arrays.deepHashCode(out.centroids.asInstanceOf[Array[AnyRef]])
    f"$rows%d-$hash%016x-$grid%08x"
  }
}

object CurateWorkload {
  val Docs = 3000
  val Dim = 512
  val Clusters = 8
  val Iterations = 5
  val MinTokens = 8
  val ShingleWidth = 3
  val NumHashes = 12
  val Bands = 4
  val Threshold = 0.5
  /** Shortest repeated span (chars) the span removal cuts. */
  val MinSpan = 64
  /** The span-removal fixpoint's default pass limit. */
  val MaxSpanPasses = 5
  /** Lowest acceptable share of planted near-duplicate copies dropped. */
  val RecallFloor = 0.5
  val Warmup = 1
  /** Passes per second of `--seconds` the benchmark schedules. */
  val OpsPerSecond = 0.18
  /** Leading docs that are always originals. */
  val Originals = 10

  def measuredOps(seconds: Int): Int = math.max(2, math.round(seconds * OpsPerSecond).toInt)

  val CorpusSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, text STRING, embedding ARRAY<FLOAT>")

  final case class PassOut(rows: DataFrame, centroids: Array[Array[Long]], dropped: Set[String], cut: Long)

  /** The corpus: sentences over a seeded vocabulary with planted
    * near-duplicates (an earlier original with a few words changed),
    * shared boilerplate spans and a few too-short docs. The share of
    * each kind is exact, so every seed asks for the same work. Returns
    * the rows and the ids of the near-duplicate copies. */
  def corpus(seed: Long): (Seq[Row], Set[String]) = {
    val r = Gen.rng(seed, "curate/corpus")
    val vocab = Gen.vocabulary(r, 2000)
    val boiler = Array.fill(20)(Gen.sentence(r, vocab, 18))
    val centers = Gen.centers(r, Clusters * 2, Dim)
    val nShort = Docs * 3 / 100
    val nCopies = Docs * 12 / 100
    val nBoiler = Docs / 4
    val nPlain = Docs - nShort - nCopies - nBoiler
    // the first docs are originals, so every copy has one to copy
    val lead = Seq.fill(Originals)('p')
    val rest = Seq.fill(nShort)('s') ++ Seq.fill(nCopies)('c') ++
      Seq.fill(nBoiler)('b') ++ Seq.fill(nPlain - Originals)('p')
    val kinds = lead ++ shuffle(r, rest)
    val originals = mutable.ArrayBuffer.empty[String]
    val copies = mutable.Set.empty[String]
    val rows = kinds.zipWithIndex.map { case (kind, i) =>
      val id = f"d$i%05d"
      def body() = Gen.sentence(r, vocab, 40 + r.nextInt(40))
      val text = kind match {
        case 's' => Gen.sentence(r, vocab, 3)
        case 'c' =>
          val words = originals(r.nextInt(originals.length)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length)))
          copies += id
          words.mkString(" ")
        case 'b' => s"${body()} ${boiler(r.nextInt(boiler.length))}"
        case _ => body()
      }
      if (kind == 'b' || kind == 'p') originals += text
      Row(id, text, Gen.around(r, centers(r.nextInt(centers.length)), 0.9))
    }
    (rows, copies.toSet)
  }

  private def shuffle[A](r: java.util.SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
