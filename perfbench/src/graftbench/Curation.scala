package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.operators.Curation
import graft.similarity.Ann

/** A seeded document corpus with planted exact and near duplicates, and
  * seeded labelled embeddings clustered around per-label centres. */
final case class Corpus(docs: Seq[(Long, String, String, String)], vectors: Seq[(Long, Array[Float], Int)]) {
  def docsDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (id, text, lang, src) =>
      Row(id, text, lang, src, text.length.toLong) }: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))))
  def vectorsDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vectors.map { case (id, v, l) =>
      Row(id, v.toSeq, l) }: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
}

object Corpus {
  private val Langs = Vector("en", "en", "en", "de", "fr", "es")
  private val Sources = Vector("web", "books", "news")
  val Dim = 32

  def gen(seed: Long, nDocs: Int, nVectors: Int): Corpus = {
    val rng = new java.util.Random(seed)
    // a Zipf-like vocabulary: low word ids are far more frequent
    def word(): String = "w" + (math.pow(rng.nextDouble(), 2.5) * 3000).toInt
    val docs = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    (0 until nDocs).foreach { i =>
      val id = 1000L + i
      val r = rng.nextInt(100)
      if (r < 5 && docs.nonEmpty) {
        val (_, t, l, s) = docs(rng.nextInt(docs.size))
        docs += ((id, t, l, s)) // exact duplicate
      } else if (r < 20 && docs.nonEmpty) {
        val (_, t, l, s) = docs(rng.nextInt(docs.size))
        // near duplicate: a few words replaced, one dropped
        val ws = t.split(' ').toBuffer
        (0 until 1 + ws.size / 15).foreach(_ => ws(rng.nextInt(ws.size)) = word())
        if (ws.size > 10) ws.remove(rng.nextInt(ws.size))
        docs += ((id, ws.mkString(" "), l, s))
      } else
        docs += ((id, Seq.fill(30 + rng.nextInt(60))(word()).mkString(" "),
          Langs(rng.nextInt(Langs.size)), Sources(rng.nextInt(Sources.size))))
    }
    val centres = Array.fill(10, Dim)(rng.nextGaussian().toFloat)
    val vectors = (0 until nVectors).map { i =>
      val l = rng.nextInt(10)
      (i.toLong, Array.tabulate(Dim)(d => centres(l)(d) + 0.6f * rng.nextGaussian().toFloat), l)
    }
    Corpus(docs.toSeq, vectors)
  }
}

/** Curation: a fixed operator sequence over a seeded corpus — exact
  * dedup, MinHash LSH, n-gram Jaccard, dedup families, text classifier
  * training and IVF top-k. Clusters are left out to keep a run within
  * the benchmark's time budget; families already covers the Jaccard pair
  * path. No store. Each pass's results must repeat on every later pass,
  * exact dedup must match a plain in-memory grouping, and a fixed small
  * corpus must reproduce recorded digests. */
final class CurationRun(spark: SparkSession, seed: Long, expectFile: Option[java.nio.file.Path])
    extends Workload {
  val headline = Set("curate")
  val minRounds = 3
  val unitsName = "docs"
  val Docs = 1000
  val Vectors = 1000
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var centroids: Seq[Seq[Double]] = _
  private val firstPass = mutable.Map.empty[String, String]

  def prepare(): Unit = {
    corpus = Corpus.gen(seed, Docs, Vectors)
    docs = corpus.docsDf(spark)
    vecs = corpus.vectorsDf(spark)
  }

  /** The IVF quantizer is trained once per corpus, like an index build. */
  def setup(i: Int): Unit = centroids = Ann.trainIvfCentroids(vecs, 16, 5)

  /** The operator sequence; each entry names its layer and operator. */
  private def operators(d: DataFrame, v: DataFrame, cents: Seq[Seq[Double]]): Seq[(String, () => DataFrame)] = Seq(
    "dedup.exact" -> (() => Dedup.exact(d)),
    "dedup.minhash_lsh" -> (() => Dedup.minhashLshPairs(d)),
    "dedup.ngram_jaccard" -> (() => Dedup.ngramJaccardPairs(d)),
    "dedup.families" -> (() => Dedup.familiesPairs(d)),
    "text.classifier_train" -> (() => Curation.trainClassifier(d, col("lang") === "en", nBuckets = 64, iters = 2)),
    "similarity.topk" -> (() => Ann.topKIvf(v, v.filter(col("vec_id") % 50 === 0), centroids = Some(cents))))

  private def digest(rows: Array[Row]): String = Orders.digest(rows.toSeq.map(_.toSeq.map {
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|"))) + s"/${rows.length}"

  /** Whole passes of the sequence. */
  def run(deadlineNs: Long, rec: Recorder): Unit =
    rounds(deadlineNs) {
      operators(docs, vecs, centroids).foreach { case (name, build) =>
        rec.op("curate", Docs, name)(rec.span("operator.build")(build()).collect()).foreach { rows =>
          val d = digest(rows)
          val want = firstPass.getOrElseUpdate(name, d)
          rec.verify(s"$name repeats its first pass", d == want)
          if (name == "dedup.exact") rec.verify("exact dedup equals an in-memory grouping", d == exactReference)
        }
        graft.Graft.clearOperatorCaches()
      }
    }

  private lazy val exactReference: String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val rows = corpus.docs.groupBy(_._2).toSeq.map { case (text, ds) =>
      val h = md5.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"$h|${ds.map(_._1).min}|${ds.size}"
    }
    Orders.digest(rows) + s"/${rows.size}"
  }

  /** The fixed-seed corpus whose digests are recorded in the expectation file. */
  def fixedDigests(): Seq[(String, String)] = {
    val c = Corpus.gen(0L, 100, 100)
    val (d, v) = (c.docsDf(spark), c.vectorsDf(spark))
    val cents = Ann.trainIvfCentroids(v, 16, 5)
    val out = operators(d, v, cents).map { case (name, build) => name -> digest(build().collect()) }
    graft.Graft.clearOperatorCaches()
    out
  }

  def finish(rec: Recorder): Unit =
    rec.subLatency.foreach { case (k, xs) =>
      rec.note(s"${k.stripPrefix("curate.").replaceFirst("\\.", ".call_ms.")}", Stats.median(xs.toSeq), "ms", xs.size)
    }

  /** The fixed-corpus pass: every operator's output must match the
    * recorded expectation. */
  def precheck(rec: Recorder): Unit =
    expectFile.foreach { f =>
      val want = if (!java.nio.file.Files.exists(f)) Map.empty[String, String]
        else java.nio.file.Files.readAllLines(f).asScala.filter(l => !l.startsWith("#") && l.contains("\t"))
          .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
      fixedDigests().foreach { case (name, d) =>
        rec.check(s"$name on the fixed corpus matches the recorded digest", want.get(name).contains(d))
      }
    }
}
