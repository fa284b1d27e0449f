package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosine_sim, hyperplane_bucket}
import graft.synth.Det

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - brute-force cosine top-k: exact baseline — broadcast the (small) query
  *    set against the corpus, one scan, per-query top-k window
  *  - LSH-bucketed top-k: random-hyperplane sign buckets bound the candidate
  *    set; the scale path for corpus×corpus search (probes the query's
  *    bucket; recall grows with fewer planes / multi-probe)
  *
  * Cosine and the sign bucket are the native `cosine_sim` and
  * `hyperplane_bucket` functions (no UDF, no interpreted HOF); every top-k
  * operator builds its own candidate join and ends in [[rankTopK]].
  */
object Ann {

  /** Deterministic random hyperplanes (components from splitmix64, ±1). */
  private[graft] def planeVec(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d =>
      if ((Det.mix64(p.toLong * 7919L + d * 104729L) & 1L) == 0L) 1.0 else -1.0)

  /** Exact top-k cosine neighbors for each query row (brute force baseline).
    * The query set must be small (it is broadcast); the corpus side streams.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String,
      cId: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"))
    rankTopK(c.crossJoin(broadcast(q)), k)
  }

  // ---- IVF (inverted-file) ANN — the second scale path -------------------
  /** Vectors [[trainIvfCentroids]] samples, and its Lloyd iterations. */
  private val IvfSampleSize = 4096
  private val IvfIters = 8

  /** Deterministic IVF coarse quantizer: Lloyd's k-means on a BOUNDED,
    * deterministically-ordered corpus sample, trained driver-side (the
    * Faiss pattern — train on a sample, assign at scale). Cosine metric:
    * vectors and centroids are L2-normalized so nearest-by-dot ≡
    * nearest-by-cosine. Empty clusters keep their previous centroid.
    * Returns `nlist` unit-norm centroids.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int): Array[Array[Double]] = {
    // cast defensively: an array<float> embedding column (the documented
    // input type) would otherwise surface boxed Floats through getSeq and
    // ClassCastException on .toArray
    val raw: Array[Array[Double]] = corpus
      .filter(col(embCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        col(embCol).cast("array<double>").as("emb"))
      .orderBy("id").limit(IvfSampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // a ragged corpus (one malformed longer/shorter embedding) must be
    // DROPPED from training like every other malformed-input path, not
    // ArrayIndexOutOfBounds the accumulation loop below: train on the
    // sample's modal length only (ties break to the longer dimension —
    // deterministic)
    // maxBy over the (count, length) pairs directly: building a Map keyed
    // by count would collapse equal-count lengths to one arbitrary entry
    // and the documented longer-dimension tie-break would depend on
    // HashMap iteration order
    val dim: Int =
      if (raw.isEmpty) 0
      else raw.groupBy(_.length).maxBy { case (l, g) => (g.length, l) }._1
    val sample: Array[Array[Double]] = raw
      .filter(_.length == dim)
      .map(normalize)
      .filter(v => v.exists(_ != 0.0))
    require(sample.length >= nlist,
      s"IVF training needs >= nlist=$nlist non-zero sample vectors, " +
        s"got ${sample.length}")
    var centroids = Array.tabulate(nlist)(i =>
      sample(i * (sample.length / nlist)).clone())
    for (_ <- 0 until IvfIters) {
      val sums = Array.fill(nlist)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < v.length) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else normalize(sums(c).map(_ / counts(c)))
      }.toArray
    }
    centroids
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  private[similarity] def nearestCentroid(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var dot = 0.0
      var d = 0
      val n = math.min(v.length, ct.length)
      while (d < n) { dot += v(d) * ct(d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** `nprobe` nearest centroid ids for a query vector, by descending dot
    * (ties by centroid id).
    */
  private[similarity] def probeLists(v: Array[Double],
      cents: Array[Array[Double]], nprobe: Int): Array[Int] = {
    val nv = normalize(v)
    cents.indices
      .map(c => (c, nv.zip(cents(c)).map { case (x, y) => x * y }.sum))
      .sortBy { case (c, dot) => (-dot, c) }
      .take(nprobe).map(_._1).toArray
  }

  /** IVF-bucketed approximate top-k (the inverted-file scale path, the
    * second ANN family next to [[lshTopK]]): the corpus is assigned to its
    * nearest coarse centroid ONCE (one row per vector — batched
    * mapPartitions over the broadcast centroid matrix, no shuffle on the
    * corpus side beyond the list join), each query probes its `nprobe`
    * nearest lists, and exact cosine ranks the candidates. Recall/cost
    * dial: nprobe/nlist is the scanned corpus fraction for uniform lists;
    * nprobe = nlist degenerates to exact brute force.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      embCol: String, k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    // NULL embeddings drop out (as they do from the LSH/brute paths via
    // null propagation) instead of NPE-ing the map below. The id columns
    // keep the CALLER's type (Row-encoded mapPartitions, schema = input +
    // list_id) — the LSH/brute paths preserve native id types and under
    // ANSI mode a numeric cast here would make only the IVF path throw on
    // string ids.
    val cBase = corpus
      .filter(col(embCol).isNotNull)
      .select(col(cId).as("neighbor_id"),
        col(embCol).cast("array<double>").as("c_emb"))
    val c = cBase.mapPartitions { it =>
      val cents = bc.value
      it.map { r =>
        Row.fromSeq(r.toSeq :+
          nearestCentroid(normalize(r.getSeq[Double](1).toArray), cents))
      }
    }(Encoders.row(cBase.schema.add(
      StructField("list_id", IntegerType, nullable = false))))
    val qBase = queries
      .filter(col(embCol).isNotNull)
      .select(col(qId).as("query_id"),
        col(embCol).cast("array<double>").as("q_emb"))
    val q = qBase.mapPartitions { it =>
      val cents = bc.value
      it.flatMap { r =>
        probeLists(r.getSeq[Double](1).toArray, cents, nprobe)
          .map(l => Row.fromSeq(r.toSeq :+ l))
      }
    }(Encoders.row(qBase.schema.add(
      StructField("list_id", IntegerType, nullable = false))))
    // no dedup needed: each corpus vector sits in exactly ONE list and a
    // query's nprobe probe keys are distinct, so a (query, neighbor) pair
    // can match at most once — a dropDuplicates here would be a no-op
    // costing a full extra hash exchange over every scored candidate
    // (AnnSpec's exactly-once test is the regression guard)
    rankTopK(c.join(q, "list_id"), k)
  }

  /** LSH-bucketed approximate top-k: candidates share one of the query's
    * probed hyperplane buckets; exact cosine ranks within candidates. Scale
    * path — bucket join instead of cross join.
    *
    * Multi-probe (probeRadius ≥ 1, default 1): each query probes its own
    * bucket PLUS every bucket within Hamming distance `probeRadius` (sign
    * bits flipped — the buckets a true neighbor most likely lands in),
    * fixing the sparse-bucket recall hole of single-probe LSH. Only the
    * small QUERY side is replicated ×(Σ C(planes,r)); the corpus keeps one
    * row per vector, so the join stays linear in the corpus at 100 TB.
    * Recall/cost dial: radius 1 ≈ cheap recall boost, radius 2 for
    * recall-critical small query sets; `probeRadius = 0` is single-probe.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      embCol: String, k: Int, planes: Int = 8, dim: Int = 64,
      probeRadius: Int = 1): DataFrame = {
    require(planes <= 24, "probe-mask fan-out over <= 24 planes")
    // enumerate the kept masks directly — O(Σ C(planes,r)), never 2^planes
    val masks: Seq[Column] = (0 to math.min(probeRadius, planes))
      .flatMap(r => (0 until planes).combinations(r)
        .map(bits => bits.foldLeft(0L)((m, b) => m | (1L << b))))
      .map(lit)
    val q = queries
      .select(col(qId).as("query_id"), col(embCol).as("q_emb"),
        hyperplane_bucket(col(embCol), planes, dim).as("qbucket"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("qbucket").bitwiseXOR(m)): _*)))
      .drop("qbucket")
    val c = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"),
      hyperplane_bucket(col(embCol), planes, dim).as("bucket"))
    // no dedup needed: the corpus row carries ONE bucket and the probe
    // buckets are distinct (distinct masks XOR one fixed qbucket), so a
    // (query, neighbor) pair matches at most one probe — dropDuplicates
    // here was a no-op costing a full hash exchange of all candidates
    // (AnnSpec's exactly-once test is the regression guard)
    rankTopK(c.join(q, "bucket"), k)
  }

  /** The exact re-rank every top-k operator ends with: drop self pairs,
    * exact cosine over the candidate (`query_id`, `q_emb`, `neighbor_id`,
    * `c_emb`) rows, rank by (cosine desc, neighbor_id) per query, keep
    * rank ≤ k, round the cosine to 6 places.
    */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rk"))
  }
}
