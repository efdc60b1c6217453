package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's input corpus, generated in-process so a run needs no
  * external fixture. Its shape follows the sf0.1 `documents` and
  * `embeddings` tables the engine's gates are written for: bag-of-words
  * texts of 10-100 words over a 30-word vocabulary, five languages, 20
  * sources, one document in 20 a copy of an earlier one with " dup"
  * appended; 64-dim unit vectors with ten labels.
  *
  * The corpus is fixed (generator seed [[CorpusSeed]]): the workload seed
  * picks prompts, mutations and gate order, never the documents, so every
  * seed runs against the same store and the curation gates' recorded
  * outputs stay valid. */
object Corpus {
  val CorpusSeed = 42L
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(' ').toIndexedSeq
  private val Langs = IndexedSeq("en", "zh", "es", "fr", "de")
  private val LangCdf = IndexedSeq(0.41, 0.56, 0.71, 0.86, 1.0)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A fresh bag-of-words text (10-100 words). */
  def text(rng: SplittableRandom): String =
    Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  def documents(n: Int): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(CorpusSeed)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      val lang = Langs(LangCdf.indexWhere(u < _))
      val t =
        if (i > 0 && rng.nextInt(20) == 0) out(rng.nextInt(i)).text + " dup"
        else text(rng)
      out += Doc(i.toLong, t, lang, s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  def embeddings(n: Int, dim: Int = 64): IndexedSeq[(Long, Array[Float], Int)] = {
    val rng = new SplittableRandom(CorpusSeed + 1)
    (0 until n).map { i =>
      val v = Array.fill(dim)(gaussian(rng))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian before JDK 17's
    // RandomGenerator default, and its stream must not depend on the JDK
    val u1 = math.max(rng.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  def path(docId: Long): String = s"doc_$docId"

  /** (document_path, text) frame, the shape `GraftVectorStore.addDocuments`
    * ingests. */
  def docFrame(spark: SparkSession, docs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("document_path", "text")
  }

  /** The fixture directory the curation gates read (`documents.parquet`,
    * `embeddings.parquet`), written once per run. */
  def writeFixture(spark: SparkSession, dir: String, nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    documents(nDocs).map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    embeddings(nVecs).map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  /** A prompt: the first 12 words of a corpus document (the reference's
    * users ask about the documents they uploaded). */
  def prompt(d: Doc): String = d.text.split(' ').take(12).mkString(" ")

  /** Seeded Fisher-Yates shuffle of `xs`. */
  def shuffle[A: scala.reflect.ClassTag](xs: Seq[A], rng: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toIndexedSeq
  }

  /** Seeded Zipf(1.0) draw of an index into a pool of `n`, so the few
    * highest-ranked prompts repeat often and the tail rarely. */
  final class Zipf(n: Int, rng: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = cdf.indexWhere(u < _)
      if (i < 0) n - 1 else i
    }
  }
}
