package graft.similarity

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ANN: brute-force exactness vs a scalar oracle; LSH recall vs brute force. */
class AnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions.{cosine_sim, hyperplane_bucket}

  private val dim = 16
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dim)(d =>
      (graft.synth.Det.mix64(id * 31L + d) % 1000L).toDouble / 1000.0)

  private def corpus(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")
  }

  private def scalarCosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("brute-force top-k matches scalar oracle exactly") {
    val n = 200
    val df = corpus(n)
    val got = Ann.bruteForceTopK(df.filter(col("vec_id") < 3), df,
      "vec_id", "vec_id", "embedding", 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    (0L until 3L).foreach { q =>
      val expect = (0L until n.toLong).filter(_ != q)
        .map(c => (c, scalarCosine(vec(q), vec(c))))
        .sortBy { case (c, cos) => (-cos, c) }.take(5).map(_._1)
      assert(got(q) == expect, s"query $q: got ${got(q)} expect $expect")
    }
  }

  test("multi-probe LSH top-k achieves recall ≥ 0.8 vs brute force") {
    val n = 400
    val df = corpus(n)
    val q = df.filter(col("vec_id") < 20)
    val bf = Ann.bruteForceTopK(q, df, "vec_id", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAt = (radius: Int) => {
      val lsh = Ann.lshTopK(q, df, "vec_id", "vec_id", "embedding", 3,
        planes = 4, dim = dim, probeRadius = radius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.intersect(lsh).size.toDouble / bf.size
    }
    val r0 = recallAt(0)
    val r1 = recallAt(1)
    val r2 = recallAt(2)
    info(f"LSH recall@3: radius0=$r0%.3f radius1=$r1%.3f radius2=$r2%.3f")
    assert(r2 >= 0.8, s"radius-2 multi-probe recall $r2 below 0.8")
    // deeper probing dominates (each radius probes a superset of buckets)
    assert(r1 >= r0 && r2 >= r1)
  }

  test("multi-probe ranking counts each candidate exactly once") {
    val n = 100
    val df = corpus(n)
    val out = Ann.lshTopK(df.filter(col("vec_id") < 10), df,
      "vec_id", "vec_id", "embedding", 5, planes = 3, dim = dim).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "duplicate candidate pair")
    // ranks are 1..k dense per query
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length), s"q=$q")
    }
  }

  test("IVF top-k: recall grows with nprobe; nprobe = nlist is exact") {
    val n = 400
    val df = corpus(n)
    val q = df.filter(col("vec_id") < 20)
    val bf = Ann.bruteForceTopK(q, df, "vec_id", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nlist = 8
    val cents = Ann.trainIvfCentroids(df, "vec_id", "embedding", nlist)
    assert(cents.length == nlist)
    // centroids are unit-norm (cosine metric contract)
    cents.foreach { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
    val recallAt = (nprobe: Int) => {
      val got = Ann.ivfTopK(q, df, "vec_id", "vec_id", "embedding", 3,
        cents, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val r1 = recallAt(1)
    val r3 = recallAt(3)
    val rAll = recallAt(nlist)
    info(f"IVF recall@3: nprobe1=$r1%.3f nprobe3=$r3%.3f nprobe$nlist=$rAll%.3f")
    assert(r3 >= r1, "recall must not shrink with more probes")
    assert(r3 >= 0.6, s"nprobe=3 recall $r3 unreasonably low")
    assert(rAll == 1.0, "probing every list must be exact brute force")
    // ranks dense 1..k per query, no duplicate candidates
    val out = Ann.ivfTopK(q, df, "vec_id", "vec_id", "embedding", 3, cents, 3)
      .collect()
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length),
        s"q=$qid")
    }
    // training is deterministic: same inputs → identical centroids
    val again = Ann.trainIvfCentroids(df, "vec_id", "embedding", nlist)
    assert(cents.zip(again).forall { case (a, b) => a.sameElements(b) })
  }

  test("native cosine/bucket Expressions are bit-identical to the HOF forms") {
    val df = corpus(300)
    val cos = df.as("a").crossJoin(df.limit(5).as("b"))
      .select(
        cosine_sim(col("a.embedding"), col("b.embedding")).as("native"),
        AnnRef.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .collect()
    assert(cos.length == 1500)
    cos.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"cosine diverges: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    val buckets = df.select(
        hyperplane_bucket(col("embedding"), 8, dim).as("native"),
        AnnRef.hyperplaneBucketHof(col("embedding"), 8, dim).as("hof"))
      .collect()
    buckets.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("length mismatch → null (HOF parity), never a prefix-garbage value") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)), // equal: finite
      (2L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)),      // mismatch: null
      (3L, Seq(1.0), Seq(1.0, 2.0, 3.0))).toDF("id", "a", "b")
    val rows = df.select(col("id"),
        cosine_sim(col("a"), col("b")).as("native"),
        AnnRef.cosineHof(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    assert(!rows(0).isNullAt(1) && rows(0).getDouble(1) == rows(0).getDouble(2))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2), "mismatch must be null")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
    // bucket: null unless the embedding is exactly dim-long (the HOF's
    // when(null ≥ 0) collapses to bit 0 — a spurious bucket; null keeps
    // malformed rows out of every bucket join)
    val b = Seq((1L, Seq(1.0, -2.0, 0.5)), (2L, Seq(1.0, -2.0)))
      .toDF("id", "emb")
      .select(col("id"), hyperplane_bucket(col("emb"), 4, 3).as("bk"))
      .orderBy("id").collect()
    assert(!b(0).isNullAt(1))
    assert(b(1).isNullAt(1), "short embedding must not land in a bucket")
  }

  test("wrong element type is rejected at analysis, not silently misread") {
    import spark.implicits._
    val ints = Seq((1L, Seq(1, 2, 3))).toDF("id", "emb")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(cosine_sim(col("emb"), col("emb"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<double>")
      || e.getMessage.contains("cosine_sim"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(hyperplane_bucket(col("emb"), 4, 3)).collect()
    }
    assert(e2.getMessage.contains("hyperplane_bucket")
      || e2.getMessage.toLowerCase.contains("array<double>"))
  }

  test("plane count past the 64-bit sign word fails loudly at build time " +
      "(1L << 64 wraps — plane 64 would silently alias plane 0's bit)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, -2.0, 0.5))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      df.select(hyperplane_bucket(col("emb"), 65, 3))
    }
    assert(e.getMessage.contains("[1, 64]"), e.getMessage)
    intercept[IllegalArgumentException] {
      df.select(hyperplane_bucket(col("emb"), 0, 3))
    }
    // 64 is the full word and legal: bit 63 is the sign bit, no wrap
    df.select(hyperplane_bucket(typedLit(Seq.fill(64)(1.0)), 64, 64))
      .head().getLong(0): Unit
  }

  test("IVF drops NULL embeddings instead of failing the job (parity with " +
      "the null-propagating LSH/brute paths)") {
    import spark.implicits._
    val withNull = corpus(40).unionByName(
      Seq((999L, null.asInstanceOf[Seq[Double]]))
        .toDF("vec_id", "embedding"))
    val cents = Ann.trainIvfCentroids(withNull, "vec_id", "embedding", 4)
    val out = Ann.ivfTopK(withNull.filter(col("vec_id") < 3), withNull,
      "vec_id", "vec_id", "embedding", 3, cents, nprobe = 4).collect()
    assert(out.nonEmpty)
    assert(!out.exists(r => r.getLong(0) == 999L || r.getLong(1) == 999L),
      "null-embedding row leaked into IVF results")
  }

  test("IVF preserves the caller's id type: string ids work and " +
      "nprobe = nlist matches brute force (no numeric-cast asymmetry)") {
    // zero-padded string ids so the tie-break order is consistent across
    // the brute-force and IVF paths
    val df = corpus(60).select(
      format_string("d%03d", col("vec_id")).as("sid"), col("embedding"))
    val q = df.filter(col("sid") < "d003")
    val nlist = 4
    val cents = Ann.trainIvfCentroids(df, "sid", "embedding", nlist)
    val ivf = Ann.ivfTopK(q, df, "sid", "sid", "embedding", 5, cents,
      nprobe = nlist)
    // schema keeps StringType end to end (the old long cast threw under
    // ANSI for any non-numeric id — an API asymmetry vs LSH/brute)
    assert(ivf.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(ivf.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val got = ivf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
    val bf = Ann.bruteForceTopK(q, df, "sid", "sid", "embedding", 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
    assert(got == bf, s"ivf full-probe ≠ brute force: ${got.diff(bf)}")
  }

  test("ragged corpus: IVF training drops odd-length vectors instead of " +
      "ArrayIndexOutOfBounds, and assignment still runs") {
    import spark.implicits._
    val ragged = corpus(40).unionByName(Seq(
        (990L, Seq.fill(dim + 4)(0.5)), // longer — the old AIOOBE trigger
        (991L, Seq(1.0, 2.0))) // shorter
      .toDF("vec_id", "embedding"))
    val cents = Ann.trainIvfCentroids(ragged, "vec_id", "embedding", 4)
    assert(cents.length == 4)
    assert(cents.forall(_.length == dim),
      "centroid dimension must follow the sample's modal length")
    // the ragged rows may still be ASSIGNED (truncated dot) — the contract
    // is only that training never throws and clean queries rank correctly
    val out = Ann.ivfTopK(corpus(40).filter(col("vec_id") < 2), ragged,
      "vec_id", "vec_id", "embedding", 3, cents, nprobe = 4).collect()
    assert(out.nonEmpty)
  }

  test("ragged corpus with an exact modal-length TIE trains on the LONGER " +
      "dimension (the documented tie-break, not HashMap iteration order)") {
    import spark.implicits._
    // 6 vectors of length 4, 6 of length 7: counts tie exactly — the old
    // Map-keyed-by-count selection silently dropped one entry and could
    // pick either; the contract says the longer dimension wins
    val tied = ((0L to 5L).map(i => (i, Seq.fill(4)(0.1 * (i + 1)))) ++
        (6L to 11L).map(i => (i, Seq.fill(7)(0.2 * (i + 1)))))
      .toDF("vec_id", "embedding")
    val cents = Ann.trainIvfCentroids(tied, "vec_id", "embedding", nlist = 2)
    assert(cents.forall(_.length == 7),
      s"tie must break to the longer dimension, got ${cents.head.length}")
  }

  test("hyperplane bucket is deterministic and balanced enough") {
    val df = corpus(500)
    val buckets = df.select(
      hyperplane_bucket(col("embedding"), 6, dim).as("b"))
      .groupBy("b").count().collect()
    assert(buckets.length > 4, "all vectors in one bucket — LSH degenerate")
    val again = df.select(hyperplane_bucket(col("embedding"), 6, dim).as("b"))
      .groupBy("b").count().collect()
    assert(buckets.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }
}
