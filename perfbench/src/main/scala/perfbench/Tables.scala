package perfbench

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

final case class Document(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** The query workload's tables, made from the run's seed: the tables its
  * queries read (documents, embeddings), with the schema and value shapes
  * of the engine's test tables.
  */
object Tables {
  private val langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh", "de", "es", "fr", "zh")
  private val vocab = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(' ')

  private def words(seed: Long, id: Long): String = {
    val n = 10 + Rand.int(seed, id, 1, 91)
    (0 until n).map(k => vocab(Rand.int(seed, id, 100 + k, vocab.length))).mkString(" ")
  }

  /** One in twenty documents repeats an earlier one with a `dup` suffix
    * (a near duplicate); one in six hundred repeats it exactly.
    */
  def documentText(seed: Long, id: Long): String = {
    val r = Rand.int(seed, id, 2, 600)
    if (id > 0 && r < 30) {
      val src = Rand.int(seed, id, 3, id.toInt)
      words(seed, src) + (if (r == 0) "" else " dup")
    } else words(seed, id)
  }

  def write(spark: SparkSession, seed: Long, dir: String, docs: Int, vectors: Int): Unit = {
    import spark.implicits._
    def rows(n: Long): Dataset[Long] = spark.range(0L, n, 1L, 4).as[Long]
    def save[T](name: String, ds: Dataset[T]): Unit =
      ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val s = seed
    save("documents", rows(docs.toLong).map { i =>
      val text = documentText(s, i)
      Document(i, text, langs(Rand.int(s, i, 71, langs.length)), s"src${i % 20}",
        text.length.toLong)
    })
    save("embeddings", rows(vectors.toLong).map { i =>
      val label = Rand.int(s, i, 81, 10)
      val v = Array.tabulate(64) { k =>
        val center = if (Rand.int(s, label.toLong, 1000 + k, 2) == 0) 0.05 else -0.05
        val r = new java.util.SplittableRandom(Rand.mix(Rand.mix(s, i), k.toLong))
        (center + 0.12 * r.nextGaussian()).toFloat
      }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Embedding(i, v.map(_ / norm), label)
    })
  }
}
