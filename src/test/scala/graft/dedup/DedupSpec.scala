package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{NativeRef, TextFunctions, Tokenize}

/** Dedup operators against scalar oracles on planted fixtures. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup finds planted duplicate groups, keeper = min id") {
    val df = docs(1L -> "a b c", 2L -> "x y", 3L -> "a b c", 4L -> "a b c",
      5L -> "unique text")
    val groups = Dedup.exactDupGroups(df, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_dups") == 3)
    assert(groups(0).getAs[Long]("keeper_id") == 1L)
    val survivors = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.sameElements(Array(1L, 2L, 5L)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val near = base.replace("cinci", "chiar") // small perturbation
    val other = "complet diferit text despre altceva cu totul alte cuvinte " * 5
    val df = docs(1L -> base, 2L -> base, 3L -> near, 4L -> other)
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", minJaccard = 0.5)
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc matched: $pairs")
    // exact duplicate verifies at jaccard 1.0
    val j12 = Dedup.minhashNearDups(df, "doc_id", "text", minJaccard = 0.5)
      .pairs.filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").head().getDouble(0)
    assert(j12 == 1.0)
  }

  test("verified jaccard matches scalar-set word-3-gram jaccard") {
    // scalar oracle: word-3-gram set jaccard computed in plain Scala
    def shingleSet(t: String): Set[Seq[String]] = {
      val tok = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      tok.sliding(3).toSet
    }
    val a = "ana are mere și pere și struguri din grădina bunicii sale"
    val b = "ana are mere și pere și prune din grădina bunicii sale"
    val expect = {
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    // deterministic path (no LSH recall involved): the score expression
    // of the minhash verify join, evaluated on the one pair
    import spark.implicits._
    def shingleSetCol(c: String) = array_distinct(
      TextFunctions.shingle_hashes(Tokenize.norm_tokens(col(c)), 3))
    val got = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.ArrayMath.jaccard_sets(
        shingleSetCol("a"), shingleSetCol("b")))
      .head().getDouble(0)
    assert(math.abs(got - expect) < 1e-6, s"got $got expect $expect")
  }

  test("jaccardPrefixJoin ≡ brute-force word-set jaccard (filter is lossless)") {
    // docs straddling the threshold from several directions, two groups
    val base = (1 to 20).map(i => s"cuvânt$i").mkString(" ")
    val drop2 = (3 to 20).map(i => s"cuvânt$i").mkString(" ")        // J=18/20
    val drop6 = (7 to 20).map(i => s"cuvânt$i").mkString(" ")        // J=14/20
    val swap3 = ((1 to 17).map(i => s"cuvânt$i") ++
      Seq("altul1", "altul2", "altul3")).mkString(" ")               // J=17/23
    val other = (1 to 20).map(i => s"diferit$i").mkString(" ")       // J=0
    val rows = Seq(1L -> base, 2L -> base, 3L -> drop2, 4L -> drop6,
      5L -> swap3, 6L -> other, 7L -> base /* other group */)
    import spark.implicits._
    val df = rows.toDF("doc_id", "text")
      .withColumn("grp", when(col("doc_id") === 7, "g2").otherwise("g1"))
    val t = 0.7
    val got = Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", t)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // scalar brute force over word sets
    val sets = rows.map { case (id, tx) =>
      id -> tx.split(" ").filter(_.nonEmpty).toSet }.toMap
    val grpOf = (id: Long) => if (id == 7L) "g2" else "g1"
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && grpOf(a) == grpOf(b)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= t
    } yield (grpOf(a), a, b, math.rint(j * 1e6) / 1e6)).toSet
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("jaccardPrefixJoin positional filter is lossless on a randomized " +
      "deterministic corpus at several thresholds (r6 PPJoin bound)") {
    // 60 docs over a small shared vocab so pairwise overlaps densely
    // sample the J spectrum, including exact-threshold pairs; compare the
    // prefix+positional pipeline against scalar brute force at three
    // thresholds under BOTH token orders
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      val words = (0 until 24).flatMap { k =>
        val h = graft.synth.Det.mix64(i.toLong * 131 + k * 7)
        if ((h & 3L) != 0L) Some(s"w${(h % 37 + 37) % 37}") else None
      }
      i.toLong -> words.mkString(" ")
    }
    val df = rows.toDF("doc_id", "text").withColumn("grp", lit("g"))
    val sets = rows.map { case (id, tx) =>
      id -> tx.split(" ").filter(_.nonEmpty).toSet }.toMap
    for (t <- Seq(0.5, 0.75, 0.9); freq <- Seq(false, true)) {
      val got = Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", t,
          freqOrder = freq, assumeUniqueIds = true)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a < b && sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (a, b)).toSet
      assert(got == expect,
        s"t=$t freq=$freq: missing=${expect.diff(got)} extra=${got.diff(expect)}")
    }
  }

  test("jaccardPrefixJoin freq order: duplicate-id rows merge to the token " +
      "UNION (no repeated tokens inflating sz or skewing jaccard)") {
    import spark.implicits._
    // id=1 appears twice; collect_list would build sh=[a,a,b,c] (sz 4),
    // fail the 2 >= 0.6*4 size bound and silently drop the pair — the set
    // semantics are union {a,b,c} vs {a,b}: jaccard 2/3 ≥ 0.6
    val df = Seq((1L, "a b"), (1L, "a c"), (2L, "a b"))
      .toDF("doc_id", "text").withColumn("grp", lit("g"))
    val out = Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", 0.6,
      freqOrder = true)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet == Set((1L, 2L, 0.666667)),
      s"expected the merged-union pair, got: ${out.toSeq}")
  }

  test("jaccardPrefixJoin: frequency order ≡ hash order ≡ brute force") {
    // any shared total order is lossless — both orders must produce the
    // IDENTICAL verified pair set (only the candidate superset differs)
    import spark.implicits._
    val rows = (1L to 40L).map { i =>
      // overlapping vocab so frequency ordering actually reorders: common
      // tokens t1..t5 everywhere, rare tokens vary per doc
      val common = (1 to 5).map(j => s"t$j")
      val rare = (0 to 12).map(j => s"r${(i + j) % 23}")
      i -> (common ++ rare).mkString(" ")
    }
    val df = rows.toDF("doc_id", "text").withColumn("grp", lit("g"))
    def run(freq: Boolean) =
      Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", 0.6,
        freqOrder = freq)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val hashOrdered = run(false)
    val freqOrdered = run(true)
    assert(hashOrdered == freqOrdered,
      s"orders disagree: ${hashOrdered.diff(freqOrdered)} / ${freqOrdered.diff(hashOrdered)}")
    // scalar brute force
    val sets = rows.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.6
    } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
    assert(hashOrdered == expect)
  }

  test("jaccardPrefixJoin keeps pairs EXACTLY at the threshold (float guard)") {
    // |A| = 20, B ⊂ A with |B| = 18 → J = 18/20 = 0.9 = t exactly.
    // A binary-float prefix length (floor(20·(1−0.9))+1 = 2 instead of 3)
    // silently dropped this pair; the integer-robust ceil keeps it.
    import spark.implicits._
    val aTokens = (1 to 20).map(i => s"tok$i")
    for (dropA <- Seq(Seq(1, 2), Seq(19, 20), Seq(7, 13))) {
      val b = aTokens.zipWithIndex
        .collect { case (t, i) if !dropA.contains(i + 1) => t }
      val df = Seq(1L -> aTokens.mkString(" "), 2L -> b.mkString(" "))
        .toDF("doc_id", "text").withColumn("grp", lit("g"))
      val got = Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", 0.9)
        .collect()
      assert(got.length == 1, s"boundary pair lost (drop=$dropA)")
      assert(got.head.getDouble(3) == 0.9)
    }
  }

  test("jaccardPrefixJoin: duplicate ids across groups never cross-verify") {
    import spark.implicits._
    val x = (1 to 20).map(i => s"cuv$i").mkString(" ")
    val y = (1 to 20).map(i => s"alt$i").mkString(" ")
    val df = Seq(("a", 1L, x), ("b", 1L, y), ("a", 2L, x))
      .toDF("grp", "doc_id", "text")
    val got = Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // exactly ONE row: (a, 1, 2, 1.0); id 1 of group b must not leak in
    assert(got.toSeq == Seq(("a", 1L, 2L, 1.0)), got.toSeq.toString)
  }

  test("simhash: identical docs hamming 0; perturbed docs near; unrelated far") {
    import spark.implicits._
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 8
    val near = base.replaceFirst("cinci", "chiar")
    val other = "cu totul alte cuvinte despre subiecte complet diferite aici " * 8
    val sigs = Seq(base, base, near, other).toDF("text")
      .select(TextFunctions.simhash64(Tokenize.norm_tokens(col("text")))
        .as("s")).collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    assert(NativeRef.hammingDistance(sigs(0), sigs(2)) <= 8)
    assert(NativeRef.hammingDistance(sigs(0), sigs(3)) > 12)
  }

  test("simhashNearDups bucket join finds planted pairs") {
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 8
    val df = docs(1L -> base, 2L -> base, 3L -> ("x " + base))
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text")
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash 4×16 bands (pigeonhole): pairs ≡ brute force at " +
      "hamming ≤ 3, incl. pairs whose bits differ in three quarters") {
    import spark.implicits._
    // seeded near-dup pool: one base text and single-token substitutions
    // at every position × several replacement tokens — deterministic
    // signatures, pairwise hammings spanning the near-dup range
    val baseWords = (1 to 40).map(i => s"cuvânt$i")
    val rows: Seq[(Long, String)] =
      Seq(0L -> baseWords.mkString(" "), 1L -> baseWords.mkString(" ")) ++
        (for (p <- 0 until 40; k <- 0 until 7) yield {
          val id = 2L + p * 7 + k
          id -> baseWords.updated(p, s"alt${k}x$p").mkString(" ")
        })
    val df = rows.toDF("doc_id", "text")
    // driver-side signatures for the brute-force oracle (same expression)
    val sigs = df.select(col("doc_id"), TextFunctions.simhash64(
        Tokenize.norm_tokens(col("text"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    def ham(a: Long, b: Long): Int =
      NativeRef.hammingDistance(sigs(a), sigs(b))
    val want = (for (a <- ids; b <- ids if a < b && ham(a, b) <= 3)
      yield (a, b)).toSet
    val got = Dedup.simhashNearDups(df, "doc_id", "text")
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} spurious=${(got -- want).take(5)}")
    // the pool must exercise every radius up to 3, and the hardest shape
    // the pigeonhole covers: differing bits in three of the four quarters
    val dists = want.toSeq.map { case (a, b) => ham(a, b) }
    assert(Set(1, 2, 3).subsetOf(dists.toSet),
      s"fixture regression: hamming distances ${dists.toSet} — reseed edits")
    val threeQuarter = want.filter { case (a, b) =>
      val x = sigs(a) ^ sigs(b)
      (0 until 4).count(q => ((x >>> (q * 16)) & 0xffffL) != 0L) == 3
    }
    info(s"${want.size} pairs at hamming ≤ 3 (" +
      (0 to 3).map(d => s"$d: ${dists.count(_ == d)}").mkString(", ") +
      s"), ${threeQuarter.size} spanning three quarters")
    assert(threeQuarter.nonEmpty,
      "fixture regression: no three-quarter hamming≤3 pair — reseed edits")
  }

  test("simhash mega-bucket cap: pairs stay linear, the template cluster " +
      "stays ONE component, and the census observes the truncation") {
    // 600 byte-identical docs: every band bucket holds all of them —
    // uncapped would emit C(600,2) ≈ 180k pairs; capped emits ~2(s−1)
    val template = "pagina șablon identică pe toate gazdele acestui site " * 6
    val rows = (1L to 600L).map(i => i -> template) ++ Seq(
      2001L -> ("conținut complet diferit despre altceva " * 6))
    val nd = Dedup.simhashNearDups(
      docs(rows: _*), "doc_id", "text", bucketCap = 100)
    val (pairsDf, stats) = (nd.pairs, nd.stats)
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 5000, s"pair explosion: ${pairs.length}")
    assert(pairs.length >= 599, s"cluster under-connected: ${pairs.length}")
    assert(!pairs.exists(p => p._1 == 2001L || p._2 == 2001L))
    assert(stats.cappedBuckets >= 4, s"census silent: $stats")
    assert(stats.skippedPairs > 0)
    val cl = Dedup.dupClusters(pairsDf.select("id_a", "id_b")).labels.collect()
    assert(cl.length == 600)
    assert(cl.forall(_.getLong(1) == 1L), "template cluster split by cap")
    // uncapped census on the same corpus: silent
    val uncapped = Dedup.simhashNearDups(
      docs(rows: _*), "doc_id", "text").stats
    assert(uncapped.cappedBuckets == 0L && uncapped.skippedPairs == 0L)
  }

  test("embedding mega-bucket cap: pairs stay linear, cluster connected, " +
      "census fires; default cap reproduces the uncapped output") {
    import spark.implicits._
    val tpl = Array.tabulate(8)(i => 0.1 * (i + 1))
    val rows = (1L to 400L).map(i => (i, tpl.toSeq)) ++ Seq(
      (2001L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -0.7)))
    val df = rows.toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDups(df, "vec_id",
      "embedding", minCosine = 0.999, planes = 6, dim = 8, bucketCap = 50)
    val (pairsDf, stats) = (nd.pairs, nd.stats)
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 3000, s"pair explosion: ${pairs.length}")
    assert(pairs.length >= 399, s"cluster under-connected: ${pairs.length}")
    assert(!pairs.exists(p => p._1 == 2001L || p._2 == 2001L))
    assert(stats.cappedBuckets == 1L, s"census: $stats")
    val cl = Dedup.dupClusters(pairsDf.select("id_a", "id_b")).labels.collect()
    assert(cl.length == 400 && cl.forall(_.getLong(1) == 1L))
    // small corpus, default cap ≡ pre-cap operator output
    val smallRows = Seq((1L, tpl.toSeq), (2L, tpl.toSeq),
      (3L, Seq.tabulate(8)(i => if (i == 0) 1.0 else -0.3 * i)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(smallRows, "vec_id", "embedding",
      minCosine = 0.999, planes = 6, dim = 8).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("banded embedding near-dup: strict candidate superset of the " +
      "single band (band 0 IS the single-band planes), exact verify, " +
      "recall strictly improves on moderate-cosine planted pairs") {
    import spark.implicits._
    // 40 planted pairs at cosine ~0.92-0.98 (seeded noise): single band
    // at 8 planes catches ~r^8 of them, 4 bands ~1-(1-r^8)^4 — the seed
    // pins which, so the strict improvement is deterministic
    val rnd = new scala.util.Random(42)
    val dim = 16
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      val noisy = base.map(_ + 0.28 * rnd.nextGaussian())
      Seq((i * 2L, unit(base)), (i * 2L + 1L, unit(noisy)))
    }
    val df = rows.toDF("vec_id", "embedding")
    def run(bands: Int) =
      Dedup.embeddingNearDups(df, "vec_id", "embedding", minCosine = 0.9,
        planes = 8, dim = dim, bands = bands).pairs
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val single = run(1)
    val banded = run(4)
    val sp = single.map(p => (p._1, p._2)).toSet
    val bp = banded.map(p => (p._1, p._2)).toSet
    assert(sp.subsetOf(bp),
      s"banded lost single-band pairs: ${sp.diff(bp)}")
    assert(bp.size > sp.size,
      s"banding added no pairs (single ${sp.size}, banded ${bp.size})")
    // exact verification: every emitted cosine matches a scala recompute
    // and clears the threshold — banding may only ADD candidates, never
    // weaken the verify
    val byId = rows.toMap
    banded.foreach { case (a, b, c) =>
      val (va, vb) = (byId(a), byId(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val exact = dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(c >= 0.9 && math.abs(exact - c) < 1e-5, s"($a,$b): $c vs $exact")
    }
    // no pair may cross planted-pair boundaries at this noise level unless
    // genuinely similar — trust the verify, but pin the planted recall
    val planted = bp.count { case (a, b) => b == a + 1 && a % 2 == 0 }
    assert(planted > sp.count { case (a, b) => b == a + 1 && a % 2 == 0 })
  }

  test("embedding near-dup rejects bands/planes < 1 loudly (bands = 0 " +
      "would explode an empty band array — every row silently dropped, " +
      "zero pairs, an all-zero census)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    for (bad <- Seq(0, -1)) {
      intercept[IllegalArgumentException](
        Dedup.embeddingNearDups(df, "vec_id", "embedding", dim = 2,
          bands = bad))
      intercept[IllegalArgumentException](
        Dedup.embeddingNearDups(df, "vec_id", "embedding", dim = 2,
          planes = bad))
      intercept[IllegalArgumentException](
        Dedup.embeddingNearDups(df, "vec_id", "embedding", dim = 2,
          bands = bad).stats)
    }
  }

  test("banded embedding mega-bucket cap: identical-vector cluster capped " +
      "in EVERY band yet stays connected; census counts per-band buckets") {
    import spark.implicits._
    val tpl = Array.tabulate(8)(i => 0.1 * (i + 1))
    val rows = (1L to 400L).map(i => (i, tpl.toSeq)) ++ Seq(
      (2001L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -0.7)))
    val df = rows.toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDups(df, "vec_id",
      "embedding", minCosine = 0.999, planes = 6, dim = 8, bucketCap = 50,
      bands = 3)
    val (pairsDf, stats) = (nd.pairs, nd.stats)
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 3000, s"pair explosion: ${pairs.length}")
    assert(pairs.length >= 399, s"cluster under-connected: ${pairs.length}")
    assert(!pairs.exists(p => p._1 == 2001L || p._2 == 2001L))
    // the identical-vector cluster lands in ONE bucket per band
    assert(stats.cappedBuckets == 3L, s"census: $stats")
    assert(stats.skippedPairs > 0L)
    val cl = Dedup.dupClusters(pairsDf.select("id_a", "id_b")).labels.collect()
    assert(cl.length == 400 && cl.forall(_.getLong(1) == 1L),
      "cluster split by the per-band cap")
  }

  test("banded embedding pairing consumes ONE materialized banded frame: " +
      "no Generate, at most one bucket-key exchange (the chain re-key)") {
    import spark.implicits._
    val emb = Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)),
      (3L, (1 to 8).map(_.toDouble))).toDF("vec_id", "embedding")
    for (cap <- Seq(Int.MaxValue, 1)) {
      val plan = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        minCosine = 0.9, planes = 4, dim = 8, bucketCap = cap, bands = 3)
        .pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate "),
        s"banded pairing re-derives its frame (cap=$cap):\n$plan")
      val exch =
        "Exchange hashpartitioning\\([^\\n]*bucket#".r.findAllIn(plan).size
      assert(exch <= 1,
        s"$exch bucket-key exchanges in the banded plan (cap=$cap)")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    }
  }

  test("mega-bucket skew: planted 1k-duplicate cluster stays linear, connected") {
    // 1000 identical template pages (one LSH bucket per band holds all of
    // them) + a few unique docs. Uncapped all-pairs would emit C(1000,2) ≈
    // 500k candidate pairs; the star cap bounds it near s−1 per bucket.
    val template = "pagina șablon identică pe toate gazdele acestui site " * 6
    val uniq = Seq(
      2001L -> ("conținut complet diferit despre altceva " * 6),
      2002L -> ("alte cuvinte fără nicio legătură cu șablonul " * 6))
    val rows = (1L to 1000L).map(i => i -> template) ++ uniq
    val df = docs(rows: _*)
    val pairsDf = Dedup.minhashNearDups(df, "doc_id", "text",
      minJaccard = 0.9, bucketCap = 100).pairs
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 5000, s"pair explosion: ${pairs.length} pairs")
    assert(pairs.length >= 999, s"cluster under-connected: ${pairs.length}")
    assert(!pairs.exists(p => p._1 > 2000L || p._2 > 2000L),
      "unique docs must not pair")
    // the thinned edge list must still form ONE component over all 1000
    val cl = Dedup.dupClusters(pairsDf).labels.collect()
    assert(cl.length == 1000)
    assert(cl.forall(_.getLong(1) == 1L), "cluster split by the cap")
  }

  test("mixed-family mega buckets: no false merge, no split, bounded pairs") {
    // two LARGE template families whose texts are near (J ≈ 0.8 < 0.9):
    // they share band buckets with high probability, so capped buckets mix
    // families — the verified star/chain edges must keep each family
    // connected and must NOT merge the families
    val tA = "unu doi trei patru cinci șase șapte opt nouă zece " * 6
    val tB = tA.replace("cinci", "chiar").replace("opt", "alt")
      .replace("doi", "roi")
    val rows = (1L to 200L).map(i => i -> tA) ++
      (201L to 400L).map(i => i -> tB)
    val pairsDf = Dedup.minhashNearDups(docs(rows: _*), "doc_id", "text",
      minJaccard = 0.9, bucketCap = 50).pairs
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 20000, s"pair explosion: ${pairs.length}")
    assert(!pairs.exists(p => p._1 <= 200L && p._2 > 200L),
      "families must not cross-pair below the jaccard threshold")
    val cl = Dedup.withClusterSizes(Dedup.dupClusters(pairsDf).labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cl.length == 400)
    assert(cl.filter(_._1 <= 200L).forall(c => c._2 == 1L && c._3 == 200L),
      "family A split")
    assert(cl.filter(_._1 > 200L).forall(c => c._2 == 201L && c._3 == 200L),
      "family B split")
  }

  test("bucket-cap truncation is OBSERVED: census fires on capped fixture, zero on clean") {
    val template = "pagina șablon identică pe toate gazdele acestui site " * 6
    val rows = (1L to 1000L).map(i => i -> template) ++ Seq(
      2001L -> ("conținut complet diferit despre altceva " * 6))
    val df = docs(rows: _*)
    // capped run: the 1000-doc template bucket exceeds cap=100 in every band
    val nd = Dedup.minhashNearDups(df, "doc_id", "text",
      minJaccard = 0.9, bucketCap = 100)
    val (pairs, stats) = (nd.pairs, nd.stats)
    assert(stats.cappedBuckets > 0, "capped fixture must report truncation")
    assert(stats.skippedPairs > 0)
    // skipped ≥ C(1000,2) − 2·999 for at least one band's bucket
    assert(stats.skippedPairs >= 1000L * 999 / 2 - 2 * 999)
    assert(pairs.count() >= 999) // still connected via star+chain
    // clean corpus under the same cap: census must be silent
    val clean = docs((1L to 50L).map(i =>
      i -> (1 to 25).map(j => s"cuvânt${i}_$j").mkString(" ")): _*)
    val cleanStats = Dedup.minhashNearDups(clean, "doc_id",
      "text", minJaccard = 0.9, bucketCap = 100).stats
    assert(cleanStats.cappedBuckets == 0L)
    assert(cleanStats.skippedPairs == 0L)
    assert(cleanStats.nBuckets > 0L)
    // default cap is OPT-IN (Int.MaxValue): an uncapped census never trips
    val uncapped = Dedup.minhashNearDups(df, "doc_id", "text",
      minJaccard = 0.9).stats
    assert(uncapped.cappedBuckets == 0L)
  }

  test("the census runs on demand: reading only pairs runs no census job; " +
      "reading stats twice runs one census aggregate and warns once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val template = "pagina șablon identică pe toate gazdele acestui site " * 6
    val rows = (1L to 300L).map(i => i -> template) ++ Seq(
      2001L -> ("conținut complet diferit despre altceva " * 6))
    val sc = spark.sparkContext
    val group = "dedup-census-on-demand"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val censusRuns = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    // a census query is the one whose output is the three census columns
    val sqlListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) ==
            Seq("n_buckets", "capped_buckets", "skipped_pairs"))
          censusRuns.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    def settled[T](body: => T): T = {
      val out = body
      org.apache.spark.graftshim.Bus.drain(sc)
      out
    }
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    sc.setJobGroup(group, "census on demand")
    try {
      val nd = Dedup.minhashNearDups(docs(rows: _*), "doc_id", "text",
        minJaccard = 0.9, bucketCap = 100)
      val nPairs = settled(nd.pairs.count())
      assert(nPairs >= 299)
      assert(censusRuns.get == 0, "reading pairs ran the census")
      val beforeStats = jobs.get
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val first = settled(nd.stats)
      val afterFirst = jobs.get
      val second = settled(nd.stats)
      System.setErr(stderr)
      assert(censusRuns.get == 1, s"${censusRuns.get} census queries")
      assert(afterFirst > beforeStats, "the first stats read ran no job")
      assert(jobs.get == afterFirst, "the second stats read ran a job")
      assert(second == first && first.cappedBuckets > 0)
      val logged = err.toString("UTF-8")
      val warnings = "\\[dedup\\] minhashNearDups bucketCap=100 truncated".r
        .findAllIn(logged).size
      assert(warnings == 1, s"$warnings truncation warnings")
      // ASCII only: a forked JVM under the POSIX locale prints any other
      // char as '?'
      assert(logged.forall(_ < 128), s"non-ASCII in the warning: $logged")
    } finally {
      System.setErr(stderr)
      sc.clearJobGroup()
      spark.listenerManager.unregister(sqlListener)
      sc.removeSparkListener(jobListener)
    }
  }

  test("dupClusters fails loudly when maxIter is too small (no silent wrong labels)") {
    import spark.implicits._
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, maxIter = 1).labels.collect()
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("dupClusters converges on a long path graph (pointer jumping)") {
    import spark.implicits._
    // a 2000-node chain has diameter 1999: plain min-label propagation
    // needs ~2000 rounds; the pointer-jump step must close it within 25
    val pairs = (1L until 2000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cl = Dedup.withClusterSizes(Dedup.dupClusters(pairs).labels).collect()
    assert(cl.length == 2000)
    assert(cl.forall(_.getLong(1) == 1L))
    assert(cl.forall(_.getLong(2) == 2000L))
  }

  test("dupClusters: 10^4-node chain converges in O(log n) iterations") {
    import spark.implicits._
    // diameter 9999; plain propagation needs ~10^4 rounds. Pointer jumping
    // halves remaining label distance per iteration → ≾ 2·log₂(10^4) ≈ 27,
    // observed well under 20. The assertion pins the COMPLEXITY CLASS, not
    // a lucky constant: 20 « 9999.
    val n = 10000L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cl = Dedup.dupClusters(pairs)
    val (rows, iters) = (cl.labels.collect(), cl.iterations)
    assert(rows.length == n)
    assert(rows.forall(_.getLong(1) == 1L), "chain must form one cluster")
    assert(iters <= 20, s"pointer jumping degraded: $iters iterations")
  }

  test("bucket census on an empty/degenerate corpus returns zeros, " +
      "never NULL-NPEs") {
    val nd = Dedup.minhashNearDups(
      docs(), "doc_id", "text", bucketCap = 4)
    val (out, stats) = (nd.pairs, nd.stats)
    assert(out.collect().isEmpty)
    assert(stats == Dedup.BucketStats(0L, 0L, 0L))
    // all-empty texts: every row drops at the shingle filter, same shape
    val nd2 = Dedup.minhashNearDups(
      docs(1L -> "", 2L -> ""), "doc_id", "text", bucketCap = 4)
    val (out2, stats2) = (nd2.pairs, nd2.stats)
    assert(out2.collect().isEmpty && stats2 == Dedup.BucketStats(0L, 0L, 0L))
  }

  test("reliable-materialization conf routes signature frames to checkpoint files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.analytics.Materialize.ReliableConfKey, "true")
    try {
      val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
      val df = docs(1L -> base, 2L -> base, 3L -> ("x " + base))
      val pairs = Dedup.minhashNearDups(df, "doc_id", "text", minJaccard = 0.5)
        .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)))
      def anyFile(p: java.io.File): Boolean =
        p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(dir)),
        "reliable conf set but no checkpoint files written")
    } finally spark.conf.unset(graft.analytics.Materialize.ReliableConfKey)
  }

  test("dupClusters with a reliable checkpoint dir matches the in-memory path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
      .toString
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val local = Dedup.dupClusters(pairs).labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reliable mode is the Materialize policy: the conf plus the context's
    // checkpoint dir
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.analytics.Materialize.ReliableConfKey, "true")
    val reliable =
      try Dedup.dupClusters(pairs).labels
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset(graft.analytics.Materialize.ReliableConfKey)
    assert(reliable == local)
    assert(reliable == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the reliable path must actually have written checkpoint files
    def anyFile(p: java.io.File): Boolean =
      p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), "no reliable checkpoint written")
  }

  test("dupClusters: components, sizes, and multi-hop chains resolve") {
    import spark.implicits._
    // two components: a 4-chain (1-2-3-4) and a pair (10-11); plus a
    // star (20 ← 21,22,23) — min-label must travel the chain's diameter
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (21L, 20L), (22L, 20L), (23L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.withClusterSizes(Dedup.dupClusters(pairs).labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = Set(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L))
    assert(got == expect)
  }

  test("dupClusters over star-capped mega-bucket pairs yields ONE cluster") {
    val template = "pagina șablon identică pe toate gazdele acestui site " * 6
    val rows = (1L to 300L).map(i => i -> template)
    val df = docs(rows: _*)
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
      minJaccard = 0.9, bucketCap = 50).pairs
    val cl = Dedup.withClusterSizes(Dedup.dupClusters(pairs).labels).collect()
    assert(cl.length == 300)
    assert(cl.forall(_.getLong(1) == 1L), "single cluster rooted at min id")
    assert(cl.forall(_.getLong(2) == 300L), "cluster_size must be 300")
  }

  test("doc_fingerprint is reflow-stable and content-sensitive") {
    import spark.implicits._
    val fps = Seq("Ana are  mere", "ana\nare mere", "ana are pere")
      .toDF("text")
      .select(TextFunctions.doc_fingerprint(col("text"))).collect()
      .map(_.getLong(0))
    assert(fps(0) == fps(1)) // whitespace reflow + case don't matter
    assert(fps(0) != fps(2)) // content does
  }

  test("jaccardPrefixJoin duplicate-id guard: hash order ≡ freq order ≡ " +
      "pre-merged input (token-set UNION) on an input WITH duplicate ids") {
    import spark.implicits._
    // id=1 appears twice with different texts; both orders must see the
    // union {a,b,c} and agree with running on the pre-merged input
    val dup = Seq((1L, "a b"), (1L, "a c"), (2L, "a b"))
      .toDF("doc_id", "text").withColumn("grp", lit("g"))
    val merged = Seq((1L, "a b c"), (2L, "a b"))
      .toDF("doc_id", "text").withColumn("grp", lit("g"))
    def run(df: org.apache.spark.sql.DataFrame, freq: Boolean) =
      Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp", 0.6,
        freqOrder = freq)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val expect = Set((1L, 2L, 0.666667))
    assert(run(dup, freq = false) == expect, "hash order on duplicate ids")
    assert(run(dup, freq = true) == expect, "freq order on duplicate ids")
    assert(run(merged, freq = false) == expect)
    assert(run(merged, freq = true) == expect)
    // assumeUniqueIds skips the merge aggregate; on genuinely-unique input
    // it must equal the guard path under both orders
    for (freq <- Seq(false, true)) {
      val fast = Dedup.jaccardPrefixJoin(merged, "doc_id", "text", "grp",
          0.6, freqOrder = freq, assumeUniqueIds = true)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(fast == expect, s"assumeUniqueIds diverges (freq=$freq)")
    }
  }

  test("census skipped_pairs = C(s,2) − max(s−1, 2s−4) per capped bucket " +
      "(a true upper bound on unexamined pairs)") {
    // 10 identical docs → identical signatures → each of the 8 bands is one
    // bucket of size 10; cap=5 trips all 8. Star (9 edges) + chain (9) share
    // the chain edges at the representative, so distinct examined can be as
    // few as 2·10−4 = 16 → skipped = 45 − 16 = 29 per bucket, 232 total.
    val tpl = "pagina șablon identică repetată pe fiecare gazdă din corpus " * 4
    val stats = Dedup.minhashNearDups(
      docs((1L to 10L).map(_ -> tpl): _*), "doc_id", "text",
      minJaccard = 0.9, bucketCap = 5).stats
    assert(stats == Dedup.BucketStats(8L, 8L, 8L * 29L),
      s"got $stats")
    // in THIS fixture identical sigs chain in id order with bmin=1 at the
    // chain end, so distinct examined is actually 2s−3 = 17 and the TRUE
    // unexamined count is 45−17 = 28 per bucket. The reported 29 dominates
    // it (a real upper bound); the old C(s,2)−2(s−1) formula reported 27,
    // UNDERSTATING the truth — exactly the round-3 advice finding
    assert(stats.skippedPairs >= 8L * (45L - 17L),
      "reported skips must dominate the true unexamined count")
  }

  test("empty and whitespace-only texts never reach a verify join: no NaN " +
      "score, no empty-text id in any shingle-set operator's output") {
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val empties = Set(10L, 11L, 12L, 13L)
    val df = docs(1L -> base, 2L -> base, 3L -> base.replace("cinci", "x"),
        10L -> "", 11L -> "", 12L -> "   ", 13L -> "\n\t  \n")
      .withColumn("grp", lit("g"))
    // (id_a, id_b, score) of every output row; the score is the last column
    def rows(out: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      out.select("id_a", "id_b", out.columns.last).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // two empty shingle sets would score NaN, which passes any `>=`
    // threshold
    val got = rows(Dedup.minhashNearDups(df, "doc_id", "text",
      minJaccard = 0.5).pairs)
    assert(got.contains((1L, 2L, 1.0)), s"minhash lost the real pair: $got")
    assert(!got.exists(_._3.isNaN), s"minhash emitted a NaN score: $got")
    assert(!got.exists(p => empties(p._1) || empties(p._2)),
      s"minhash emitted an empty-text id: $got")
    // jaccardPrefixJoin's token contract is `split(text, ' ')`, shared with
    // its DuckDB oracle (`string_split`): "" and "   " are the one-token set
    // {""}, never an empty set, so they score 1.0 with each other (never
    // NaN) and pair with no document that has words
    val prefix = rows(Dedup.jaccardPrefixJoin(df, "doc_id", "text", "grp",
      minJaccard = 0.5))
    assert(prefix.contains((1L, 2L, 1.0)),
      s"prefix lost the real pair: $prefix")
    assert(!prefix.exists(_._3.isNaN), s"prefix emitted a NaN score: $prefix")
    assert(prefix.filter(p => empties(p._1) || empties(p._2)) ==
      Set((10L, 11L, 1.0), (10L, 12L, 1.0), (11L, 12L, 1.0)),
      s"prefix empty-text rows: $prefix")
  }

  test("no dedup join ever plans a broadcast: corpus-scale frames behind " +
      "materialization carry pre-execution size estimates that undercount " +
      "by orders of magnitude (DEDUP_SCALE 2M: a 1.6 GB broadcast of the " +
      "shingle-set frame killed the driver)") {
    import spark.implicits._
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val df = docs(1L -> base, 2L -> base, 3L -> ("x " + base),
      4L -> ("complet diferit text despre altceva aici acum " * 5))
    val grouped = df.withColumn("grp", lit("g"))
    def noBroadcast(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val d = mk
      val initial = d.queryExecution.executedPlan.toString
      assert(!initial.contains("BroadcastExchange"),
        s"$name plans a broadcast join:\n$initial")
      d.collect() // and the AQE-finalized plan must respect the hints too
      val fin = d.queryExecution.executedPlan.toString
      assert(!fin.contains("BroadcastExchange"),
        s"$name re-planned to broadcast at runtime:\n$fin")
    }
    noBroadcast("minhashNearDups")(
      Dedup.minhashNearDups(df, "doc_id", "text", minJaccard = 0.5).pairs)
    noBroadcast("minhashNearDups capped")(
      Dedup.minhashNearDups(df, "doc_id", "text", minJaccard = 0.5,
        bucketCap = 2).pairs)
    noBroadcast("jaccardPrefixJoin hash")(
      Dedup.jaccardPrefixJoin(grouped, "doc_id", "text", "grp", 0.5))
    noBroadcast("jaccardPrefixJoin freq")(
      Dedup.jaccardPrefixJoin(grouped, "doc_id", "text", "grp", 0.5,
        freqOrder = true))
    noBroadcast("simhashNearDups")(
      Dedup.simhashNearDups(df, "doc_id", "text").pairs)
    noBroadcast("simhashNearDups capped")(
      Dedup.simhashNearDups(df, "doc_id", "text", bucketCap = 2).pairs)
    noBroadcast("dupClusters")(
      Dedup.withClusterSizes(Dedup.dupClusters(
        Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")).labels))
    noBroadcast("embeddingNearDups")(
      Dedup.embeddingNearDups(
        Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.9, planes = 4, dim = 8).pairs)
    noBroadcast("embeddingNearDups capped")(
      Dedup.embeddingNearDups(
        Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.9, planes = 4, dim = 8,
        bucketCap = 1).pairs)
    noBroadcast("embeddingNearDups banded")(
      Dedup.embeddingNearDups(
        Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.9, planes = 4, dim = 8,
        bands = 3).pairs)
    noBroadcast("embeddingNearDups banded capped")(
      Dedup.embeddingNearDups(
        Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.9, planes = 4, dim = 8,
        bucketCap = 1, bands = 3).pairs)
  }

  test("minhash pairing runs ONE band-key shuffle: the banded frame is " +
      "materialized partition-preserving, so no pairing branch re-derives " +
      "it (r4 plan: five Generate+Exchange(band_key)+Window chains) and " +
      "the small-bucket self-join plans no exchange at all") {
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val rows = (1L to 60L).map(i => i -> base) ++
      Seq(61L -> ("complet diferit text despre altceva aici " * 5))
    for (cap <- Seq(Int.MaxValue, 20)) {
      val plan = Dedup.minhashNearDups(docs(rows: _*), "doc_id", "text",
        minJaccard = 0.9, bucketCap = cap).pairs
        .queryExecution.executedPlan.toString
      // zero Generate: the band explode ran once, inside the checkpoint job
      assert(!plan.contains("Generate "),
        s"pairing re-derives the banded frame (cap=$cap):\n$plan")
      // at most one band-key exchange (the chain branch re-keys its
      // big-bucket rows after the minhash join-back; nothing else may)
      val bandExch =
        "Exchange hashpartitioning\\(band_key".r.findAllIn(plan).size
      assert(bandExch <= 1,
        s"$bandExch band-key exchanges in the pairing plan (cap=$cap)")
      // AQE must be back on after the partition-preserving materialization
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    }
  }

  test("bucketed self-joins consume ONE materialized banded frame: " +
      "simhash, embedding, within-group LSH, and the prefix-token join " +
      "plan no Generate and no exchange on their bucket keys") {
    import spark.implicits._
    val base = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val df = docs(1L -> base, 2L -> base, 3L -> ("x " + base),
      4L -> ("complet diferit text despre altceva aici acum " * 5))
    val grouped = df.withColumn("grp", lit("g"))
    val emb = Seq((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(0.5)),
      (3L, (1 to 8).map(_.toDouble))).toDF("vec_id", "embedding")
    def pin(name: String, keyPat: String)(
        mk: => org.apache.spark.sql.DataFrame): Unit = {
      val plan = mk.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate "),
        s"$name re-derives its banded frame per branch:\n$plan")
      val re = ("Exchange hashpartitioning\\([^\\n]*" + keyPat + "#").r
      assert(re.findAllIn(plan).isEmpty,
        s"$name re-exchanges on its bucket key ($keyPat):\n$plan")
    }
    pin("simhashNearDups", "bits")(
      Dedup.simhashNearDups(df, "doc_id", "text").pairs)
    pin("embeddingNearDups", "bucket")(
      Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        minCosine = 0.9, planes = 4, dim = 8).pairs)
    pin("jaccardPrefixJoin hash", "tok")(
      Dedup.jaccardPrefixJoin(grouped, "doc_id", "text", "grp", 0.5))
    pin("jaccardPrefixJoin freq", "tok")(
      Dedup.jaccardPrefixJoin(grouped, "doc_id", "text", "grp", 0.5,
        freqOrder = true))
  }

  test("embedding near-dups finds planted duplicate vectors") {
    import spark.implicits._
    val v1 = Array.tabulate(8)(i => 0.1 * (i + 1))
    val v2 = v1.clone()
    val v3 = Array.tabulate(8)(i => if (i == 0) 1.0 else -0.3 * i)
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      minCosine = 0.999, planes = 6, dim = 8).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding near-dups at planes = 64 (one band: the sign word fills " +
      "the long) finds planted identical vectors, one bucket per vector") {
    import spark.implicits._
    val v1 = Array.tabulate(8)(i => 0.1 * (i + 1))
    val v3 = Array.tabulate(8)(i => if (i == 0) 1.0 else -0.3 * i)
    val v5 = v1.map(-_)
    val df = Seq((1L, v1.toSeq), (2L, v1.toSeq), (3L, v3.toSeq),
      (4L, v3.toSeq), (5L, v5.toSeq)).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      minCosine = 0.999, planes = 64, dim = 8)
    val pairs = nd.pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (3L, 4L)))
    // a zero band mask would put every vector in ONE bucket
    assert(nd.stats.nBuckets == 3L, s"census: ${nd.stats}")
  }
}
