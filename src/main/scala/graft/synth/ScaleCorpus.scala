package graft.synth

import org.apache.spark.sql.{Dataset, SparkSession}

/** One synthetic scale-corpus row. `cluster = -1` marks a unique document;
  * otherwise the doc is a (possibly perturbed) copy of its cluster template.
  */
final case class ScaleDoc(
    doc_id: Long,
    host: Int,
    cluster: Long,
    n_edits: Int,
    text: String,
    embedding: Array[Double]
)

/** Deterministic web-scale dedup corpus for the DEDUP_SCALE evidence run
  * (`graft.tools.DedupScale`): every row is a pure function of its id,
  * so the corpus is identical across partition counts and reruns.
  *
  * Structure mirrors what makes web dedup hard (reference analogue: the
  * 54M-doc corpus carries `minhash_cluster_size` up to 10^5,
  * `fineweb/fineweb2_download.py:22,49`):
  *
  *  - **Zipf duplicate-cluster sizes.** 30% of docs belong to one of 10^5
  *    clusters drawn zipf(s=1.0): at n = 2M the head cluster holds ~50k
  *    members (a boilerplate mega-template), the tail is millions of
  *    2-5-member clusters. One draw, no special cases — the head IS the
  *    skew.
  *  - **Near-dups, not just exact dups.** Each member perturbs 0-2 tokens
  *    of its cluster template at deterministic positions (1/3 pristine):
  *    word-set J ≥ (L−2)/(L+2) ≈ 0.96, 3-gram-shingle J ≳ 0.88 — above the
  *    0.8 verify bar, below 1.0.
  *  - **Zipf vocabulary + per-doc/per-cluster rare tokens.** ~70% of tokens
  *    draw from a 50k-word zipf(s=1.05) head vocabulary (shared across the
  *    corpus — the stopword mass that makes hash-ordered prefix joins
  *    explode); ~30% are rare tokens unique to the doc (`u<id>x<k>`) or the
  *    cluster (`c<cluster>x<k>`), which is what the rare-first frequency
  *    order keys candidates on.
  *  - **Zipf hosts** (reusing [[SynthPages.zipfHost]], s=1.2 over 1000) for
  *    the AQE skew-join evidence.
  *  - **Embeddings**: 64-dim; cluster members share their template's vector
  *    plus ≤0.01 per-member noise (cosine ≳ 0.999 within a cluster), unique
  *    docs draw independent vectors — structure for the ANN/IVF phase.
  */
object ScaleCorpus {
  val NClusters = 100000
  val ClusterFrac = 0.30
  val Vocab = 50000
  val EmbDim = 64
  private final val Seed = 7L

  // zipf CDFs, built once per JVM
  private lazy val clusterCdf = Det.zipfCdf(NClusters, 1.0)
  private lazy val vocabCdf = Det.zipfCdf(Vocab, 1.05)

  /** Template token list for a cluster (or a unique doc when cluster < 0):
    * zipf-head words mixed with rare tokens owned by the template.
    */
  private def templateTokens(key: Long, rareTag: String,
      nTok: Int): Array[String] = {
    val out = new Array[String](nTok)
    var k = 0
    while (k < nTok) {
      out(k) =
        if (Det.streamInt(Seed, key, rareTag + "_mix", k, 100) < 70)
          "w" + Det.zipfRank(vocabCdf,
            (Det.streamInt(Seed, key, rareTag + "_w", k, 1 << 30).toDouble
              / (1 << 30)))
        else rareTag + key + "x" + k
      k += 1
    }
    out
  }

  private def embeddingFor(key: Long, tag: String,
      noiseKey: Long): Array[Double] = {
    val v = new Array[Double](EmbDim)
    var d = 0
    while (d < EmbDim) {
      val base = (Det.mix64(Det.hash(Seed, key, tag) ^ d.toLong)
        % 1000L).toDouble / 1000.0
      val noise =
        if (noiseKey < 0) 0.0
        else ((Det.mix64(Det.hash(Seed, noiseKey, "emb_noise") ^ d.toLong)
          % 100L).toDouble / 100.0) * 0.01
      v(d) = base + noise
      d += 1
    }
    v
  }

  /** The full deterministic row for a doc id. */
  def gen(id: Long): ScaleDoc = {
    val clustered = Det.nextDouble(Seed, id, "clustered") < ClusterFrac
    val cluster =
      if (!clustered) -1L
      else Det.zipfRank(clusterCdf, Det.nextDouble(Seed, id, "cluster")).toLong
    val host = SynthPages.zipfHost(Det.nextDouble(Seed, id, "host"))
    if (cluster < 0) {
      val nTok = 60 + Det.nextInt(Seed, id, "len", 60)
      ScaleDoc(id, host, -1L, 0,
        templateTokens(id, "u", nTok).mkString(" "),
        embeddingFor(id, "emb_u", -1L))
    } else {
      // template is a pure function of the CLUSTER id: every member sees
      // the same base text without any cross-row communication. Templates
      // are ≥ 120 tokens so a worst-case member pair (2 edits each, 3
      // shingles killed per edit) still has 3-gram-shingle
      // J ≥ (118−12)/(118+12) ≈ 0.815 — every planted pair genuinely
      // clears the 0.8 verify bar, and recovery shortfall measures the
      // LSH S-curve alone, not fixture noise
      val nTok = 120 + Det.nextInt(Seed, cluster, "clen", 60)
      val toks = templateTokens(cluster, "c", nTok)
      val nEdits = Det.nextInt(Seed, id, "edits", 3) // 0..2, 1/3 pristine
      var e = 0
      while (e < nEdits) {
        val pos = Det.streamInt(Seed, id, "editpos", e, nTok)
        toks(pos) = "e" + id + "x" + e
        e += 1
      }
      ScaleDoc(id, host, cluster, nEdits, toks.mkString(" "),
        embeddingFor(cluster, "emb_c", id))
    }
  }

  /** Distributed deterministic corpus of n docs. */
  def docs(spark: SparkSession, n: Long,
      partitions: Int = 0): Dataset[ScaleDoc] = {
    import spark.implicits._
    val rng = if (partitions > 0) spark.range(0, n, 1, partitions)
      else spark.range(n)
    rng.as[Long].map(id => gen(id))
  }
}
