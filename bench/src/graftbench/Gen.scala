package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.util.SplittableRandom

/** Deterministic input generators: the same seed gives the same inputs. */
object Gen {

  val DocSchema: StructType = StructType.fromDDL(
    "id STRING, mtype STRING, data STRING, embedding ARRAY<FLOAT>")
  val EdgeSchema: StructType = StructType.fromDDL(
    "src STRING, dst STRING, score DOUBLE, seq LONG")
  val BatchSchema: StructType = StructType.fromDDL(
    "mtype STRING, data STRING, seq LONG")

  /** An independent stream for each purpose of each seed. */
  def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Unit vectors scattered around `centers`: each point is its center
    * plus isotropic noise of total norm about `spread`. */
  def around(r: SplittableRandom, center: Array[Float], spread: Double): Array[Float] = {
    val sigma = spread / math.sqrt(center.length.toDouble)
    unit(center.map(c => c + sigma * gaussian(r)))
  }

  def centers(r: SplittableRandom, n: Int, dim: Int): Array[Array[Float]] =
    Array.fill(n)(unit(Array.fill(dim)(gaussian(r))))

  /** The engine's document identity: "doc:" + hex sha256 of the payload. */
  def docId(data: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    "doc:" + md.digest(data.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ze", "pa", "do", "gu", "he", "ji", "be", "fo", "ly", "qu", "wi", "xe")

  /** A vocabulary of pseudo-words, fixed by the seed. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n) {
      (0 until 2 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }.distinct

  def sentence(r: SplittableRandom, vocab: Array[String], words: Int): String =
    (0 until words).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")

  final case class Doc(id: String, mtype: String, data: String, vec: Array[Float], cluster: Int)

  /** A store of `n` documents whose embeddings cluster around `nClusters`
    * centers; payloads are short sentences unique within the store. */
  def store(seed: Long, n: Int, dim: Int, nClusters: Int, spread: Double,
      tag: String): (Array[Doc], Array[Array[Float]]) = {
    val r = rng(seed, s"$tag/store")
    val cs = centers(r, nClusters, dim)
    val vocab = vocabulary(r, 400)
    val docs = Array.tabulate(n) { i =>
      val c = r.nextInt(nClusters)
      val mtype = if (r.nextInt(2) == 0) "text" else "image"
      val data = s"$tag $i ${sentence(r, vocab, 8)}"
      Doc(docId(data), mtype, data, around(r, cs(c), spread), c)
    }
    (docs, cs)
  }

  /** Canonical undirected edges: each document links to `perDoc` others
    * of its cluster, scored by their cosine; one row per (src, dst). */
  def edges(seed: Long, docs: Array[Doc], perDoc: Int, tag: String): Seq[Row] = {
    val r = rng(seed, s"$tag/edges")
    val byCluster = docs.indices.groupBy(docs(_).cluster).view.mapValues(_.toArray).toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[(String, String), Row]
    for (i <- docs.indices; _ <- 0 until perDoc) {
      val peers = byCluster(docs(i).cluster)
      val j = peers(r.nextInt(peers.length))
      if (j != i) {
        val (a, b) = (docs(i), docs(j))
        val key = if (a.id < b.id) (a.id, b.id) else (b.id, a.id)
        out(key) = Row(key._1, key._2, dot(a.vec, b.vec), i.toLong)
      }
    }
    out.values.toSeq
  }

  def docRows(docs: Seq[Doc]): Seq[Row] =
    docs.map(d => Row(d.id, d.mtype, d.data, d.vec))

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
}
