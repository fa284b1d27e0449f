package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.graftshim.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Materialize
import graft.dedup.{Decontaminate, Dedup}
import graft.similarity.Ann
import graft.synth.ScaleCorpus

/** DEDUP_SCALE evidence run: the dedup/similarity family executed end-to-end
  * on a 10^6-scale synthetic corpus with planted zipf skew
  * ([[graft.synth.ScaleCorpus]]) — the volume the sf0.1 driver fixtures
  * (~7k rows) never reach. Emits `DEDUP_SCALE.json` at the repo root with
  * per-phase wall times, shuffle-write telemetry (total + peak stage),
  * census counts, CC iterations, recovery rates, and the AQE skew-join plan
  * excerpt. Run: `sbt "runMain graft.tools.DedupScale [nDocs]"`.
  *
  * Everything heavy stays on /dev/shm (the sandbox disk is cgroup-throttled
  * to ~56 MB/s — it would measure the disk, not the engine); a cluster
  * writes to distributed storage instead.
  */
object DedupScale {

  /** Aggregates shuffle-write bytes per completed stage. Listener events
    * are delivered asynchronously; each phase drains the listener bus
    * before reading, so the figures count every stage the phase ran.
    */
  private final class ShuffleTally extends SparkListener {
    val total = new java.util.concurrent.atomic.AtomicLong
    val peak = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val w = s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      total.addAndGet(w)
      peak.accumulateAndGet(w, (a, b) => math.max(a, b))
    }
  }

  /** Σ C(k, 2) over clusters with ≥ 2 members in `m` (columns `cluster`,
    * one row per member) — the planted-pair denominator shared by the
    * simhash and embedding recovery oracles. Double arithmetic (Column `/`
    * divides in double; ANSI would throw on a long overflow).
    */
  private def plantedPairs(m: DataFrame): Long =
    m.groupBy("cluster").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2)
      .agg(coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0.0)))
      .head().getDouble(0).toLong

  /** `df` materialized, and its row count. */
  private def counted(df: DataFrame): (DataFrame, Long) = {
    val m = Materialize(df)
    (m, m.count())
  }

  /** The `pairs` (`id_a`, `id_b`) whose two endpoints share a planted
    * cluster, each tagged with both endpoints' `meta` columns: `doc_id`
    * becomes `id_a`/`id_b`, every other column `c` becomes `c_a`/`c_b`.
    */
  private def sameCluster(pairs: DataFrame, meta: DataFrame): DataFrame = {
    def end(s: String) = meta.select(meta.columns.toSeq.map(c =>
      col(c).as(if (c == "doc_id") s"id_$s" else s"${c}_$s")): _*)
    pairs.join(end("a").hint("merge"), Seq("id_a"))
      .join(end("b").hint("merge"), Seq("id_b"))
      .filter(col("cluster_a") === col("cluster_b"))
  }

  /** The truncation census of a capped near-dup operator. */
  private def census(s: Dedup.BucketStats): Seq[(String, Any)] = Seq(
    "n_buckets" -> s.nBuckets,
    "capped_buckets" -> s.cappedBuckets,
    "skipped_pairs_upper_bound" -> s.skippedPairs)

  /** `num / den` to 4 decimals; 0.0 when `den` is 0 (`NaN` is not JSON). */
  private def frac(num: Long, den: Long): Double =
    if (den == 0L) 0.0 else math.rint(num.toDouble / den * 1e4) / 1e4

  private def renderJson(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    case d: Double =>
      // Locale.ROOT: the f interpolator follows the default locale, and a
      // comma-decimal locale would emit invalid JSON
      String.format(java.util.Locale.ROOT,
        if (d == d.floor && d.abs < 1e15) "%.1f" else "%.4f",
        java.lang.Double.valueOf(d))
    case m: Seq[_] if m.nonEmpty && m.head.isInstanceOf[(_, _)] =>
      m.asInstanceOf[Seq[(String, Any)]]
        .map { case (k, x) => "\"" + k + "\":" + renderJson(x) }
        .mkString("{", ",", "}")
    case m: Seq[_] => m.map(renderJson).mkString("[", ",", "]")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val bucketCap = 512
    val minJ = 0.8
    val base = "/dev/shm/graft_scale"
    ToolFs.rmTree(new java.io.File(base))
    Files.createDirectories(Paths.get(base))

    // shuffle parallelism ∝ input (what a cluster deployment sizes by
    // data volume): 64 partitions carried 2M–5M docs, but at 10M the
    // per-partition SMJ sorts of shingle-array rows exhausted execution
    // memory across 32 concurrent tasks (observed SparkOutOfMemoryError);
    // ~50k docs per partition keeps each sort buffer modest and AQE
    // coalesces the small stages back down
    val shufflePartitions = math.max(64L, nDocs / 50000L)
    val cpus = ToolFs.cpus
    val spark = ToolFs.session(cpus, shufflePartitions)
    val sc = spark.sparkContext

    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    def phase(name: String)(body: => Seq[(String, Any)]): Unit = {
      sc.setJobDescription(s"dedup-scale:$name")
      val tally = new ShuffleTally
      sc.addSparkListener(tally)
      val t0 = System.nanoTime()
      val stats = body
      val sec = (System.nanoTime() - t0) / 1e9
      Bus.drain(sc)
      sc.removeSparkListener(tally)
      phases += name -> (Seq(
        "wall_sec" -> math.rint(sec * 100) / 100,
        "shuffle_write_mb" -> math.rint(tally.total.get / 1e6 * 10) / 10,
        "peak_stage_shuffle_mb" -> math.rint(tally.peak.get / 1e6 * 10) / 10
      ) ++ stats)
      System.err.println(f"[scale] $name done in $sec%.1f s " +
        f"(shuffle ${tally.total.get / 1e6}%.0f MB)")
    }

    // the bounded-cluster slice: unique docs + clusters of ≤ ~25 members
    val bounded = col("cluster") === -1L || col("cluster") >= 2000L

    // ---- corpus ----------------------------------------------------------
    var corpus: DataFrame = null
    var topClusters: Array[(Long, Long)] = null
    phase("corpus_build") {
      corpus = Materialize(
        ScaleCorpus.docs(spark, nDocs, partitions = 128).toDF())
      val n = corpus.count()
      topClusters = corpus.filter(col("cluster") >= 0)
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .orderBy(col("sz").desc).limit(5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nClustered = corpus.filter(col("cluster") >= 0).count()
      Seq("docs" -> n, "clustered_docs" -> nClustered,
        "top_cluster_sizes" -> topClusters.map(_._2).toSeq)
    }

    // a mega-including slice through a capped near-dup operator: the
    // census of what the cap truncated, and how many members of the zipf
    // head cluster still land in some pair
    def cappedMega(slice: DataFrame)(
        nearDups: DataFrame => Dedup.NearDups): Seq[(String, Any)] = {
      val sliceN = slice.count()
      val nd = nearDups(slice)
      val stats = nd.stats
      val (pairs, n) = counted(nd.pairs)
      val megaIds = slice.filter(col("cluster") === topClusters(0)._1)
        .select(col("doc_id").as("id"))
      val megaN = megaIds.count()
      val inPair = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct()
      val covered = megaIds.join(inPair.hint("merge"), Seq("id"),
        "left_semi").count()
      Seq("slice_docs" -> sliceN, "bucket_cap" -> bucketCap, "pairs" -> n) ++
        census(stats) ++ Seq("mega_docs" -> megaN,
          "mega_docs_in_a_pair" -> covered,
          "mega_pair_coverage" -> frac(covered, megaN))
    }

    // ---- minhash LSH near-dup with census --------------------------------
    var pairs: DataFrame = null
    phase("minhash_lsh_capped") {
      val nd = Dedup.minhashNearDups(
        corpus, "doc_id", "text", minJaccard = minJ, bucketCap = bucketCap)
      val stats = nd.stats
      pairs = Materialize(nd.pairs)
      Seq("bucket_cap" -> bucketCap, "min_jaccard" -> minJ,
        "verified_pairs" -> pairs.count()) ++ census(stats)
    }

    // ---- connected components (reliable checkpoint dir) ------------------
    phase("dup_clusters_reliable") {
      // reliable mode for this phase only: the labels checkpoint to
      // cc_ckpt, every other phase keeps the in-memory default
      sc.setCheckpointDir(s"$base/cc_ckpt")
      spark.conf.set(Materialize.ReliableConfKey, "true")
      val clusters =
        try Dedup.dupClusters(pairs, maxIter = 30)
        finally spark.conf.unset(Materialize.ReliableConfKey)
      val labels = clusters.labels
      val nComponents = labels.select("cluster_id").distinct().count()
      // recovery vs planted: a planted cluster (≥2 members) is INTACT iff
      // every member carries one shared label (absent members = LSH miss)
      val planted = corpus.filter(col("cluster") >= 0)
        .select(col("doc_id").as("id"), col("cluster"))
        .join(labels, Seq("id"), "left")
      val rec = planted.groupBy("cluster")
        .agg(count(lit(1)).as("members"),
          count(col("cluster_id")).as("labeled"),
          countDistinct(col("cluster_id")).as("labels"))
        .filter(col("members") >= 2)
        .agg(count(lit(1)).as("clusters_ge2"),
          coalesce(sum(when(col("labels") === 1 &&
            col("labeled") === col("members"), 1L).otherwise(0L)), lit(0L))
            .as("intact"))
        .head()
      val (ge2, intact) = (rec.getLong(0), rec.getLong(1))
      val megaIntact = planted.filter(col("cluster") === topClusters(0)._1)
        .agg(countDistinct(col("cluster_id")).as("l"),
          coalesce(sum(when(col("cluster_id").isNull, 1L).otherwise(0L)),
            lit(0L)).as("unlabeled")).head()
      Seq("cc_iterations" -> clusters.iterations,
        "components" -> nComponents,
        "planted_clusters_ge2" -> ge2,
        "planted_recovered_intact" -> intact,
        "intact_frac" -> frac(intact, ge2),
        "mega_cluster_labels" -> megaIntact.getLong(0),
        "mega_cluster_unlabeled_members" -> megaIntact.getLong(1))
    }

    // ---- exact prefix-filter jaccard join, rare-first order --------------
    phase("jaccard_prefix_freq") {
      // the exact pairwise join runs on the BOUNDED-cluster slice (unique
      // docs + clusters of ≤ ~25 members): emitting every pair of a 50k-
      // member mega-template is quadratic BY DEFINITION (C(50k,2) ≈ 1.2e9
      // rows) — at any scale the mega mass goes through the capped LSH path
      // first, and the exact join covers the long tail. Under the rare-
      // first frequency order the candidate join keys only on per-doc /
      // per-cluster rare tokens (df ≤ cluster size); the zipf HEAD vocab —
      // which under a hash order lands in ~20% of prefixes and would
      // produce ~C(0.2·n, 2) ≈ 5e10 candidates from the top token alone —
      // never enters a prefix.
      val slice = corpus.filter(bounded).withColumn("grp", lit("all"))
      val (_, n) = counted(Dedup.jaccardPrefixJoin(slice, "doc_id", "text",
        "grp", minJ, freqOrder = true, assumeUniqueIds = true))
      val sliceN = slice.count()
      Seq("slice_docs" -> sliceN, "exact_pairs" -> n,
        "note" -> ("mega clusters excluded: exact all-pairs output over a " +
          "50k-member template is quadratic by definition; the capped LSH " +
          "path owns that mass"))
    }

    // ---- benchmark decontamination over the full corpus ------------------
    phase("decontaminate") {
      // eval set = every 1009th doc (~0.1% — the realistic benchmark:corpus
      // asymmetry: the eval grams are a broadcast dim, the corpus 13-gram
      // explode feeds a map-side join and NEVER shuffles). Planted oracle:
      // a PRISTINE corpus member of a cluster with a pristine eval member
      // is an exact copy of the eval text — every one of its 13-grams hits,
      // so recall over that slice must be exactly 1.0.
      val bench = corpus.filter(col("doc_id") % 1009 === 0)
      val docs = corpus.filter(col("doc_id") % 1009 =!= 0)
      val (hits, nHits) = counted(
        Decontaminate.gramHits(docs, bench, "doc_id", "text", n = 13))
      val benchN = bench.count()
      val corpusN = docs.count()
      val benchGrams = Decontaminate.benchGrams(bench, "text", 13).count()
      val evalPristineClusters = bench
        .filter(col("cluster") >= 0 && col("n_edits") === 0)
        .select("cluster").distinct()
      val expected = docs.filter(col("n_edits") === 0)
        .join(broadcast(evalPristineClusters), Seq("cluster"))
        .select(col("doc_id").as("id"))
      val expN = expected.count()
      val flaggedN = expected.join(hits, Seq("id"), "left_semi").count()
      // the real anti-join removal path at volume, then the ledger check:
      // survivors + contaminated must tile the corpus exactly
      val survivors = Decontaminate.decontaminate(
        docs, bench, "doc_id", "text", n = 13, minHits = 1).count()
      Seq("bench_docs" -> benchN, "bench_distinct_13grams" -> benchGrams,
        "corpus_docs" -> corpusN,
        "contaminated_docs" -> nHits,
        "survivors" -> survivors,
        "survivors_tile_corpus" -> (survivors + nHits == corpusN),
        "pristine_sibling_expected" -> expN,
        "pristine_sibling_flagged" -> flaggedN,
        "pristine_sibling_recall" -> frac(flaggedN, expN))
    }

    // ---- SimHash near-dup over the bounded-cluster slice -----------------
    phase("simhash_near_dup") {
      // uncapped here: a mega template cluster sharing one 16-bit band
      // value is all-pairs BY CONSTRUCTION, so (same
      // rationale as the exact jaccard phase) the mega mass belongs to the
      // capped LSH path and this phase runs the bounded-cluster slice.
      // 16-bit bands are the 64-bit/hamming≤3 pigeonhole split.
      val slice = corpus
        .filter(bounded && col("doc_id") < math.min(nDocs, 1000000L))
      val sliceN = slice.count()
      val (pairs, nPairsSim) = counted(
        Dedup.simhashNearDups(slice, "doc_id", "text").pairs)
      // recovery oracle: pristine members (n_edits = 0) of one cluster are
      // byte-identical texts → identical simhash → hamming 0 → guaranteed
      // band collision. Every planted pristine pair MUST be recovered;
      // edited members (1-2 token edits) land wherever the simhash bit
      // flips put them — their observed rate is the hamming≤3 S-curve,
      // reported, not asserted.
      val meta = slice.filter(col("cluster") >= 0)
        .select(col("doc_id"), col("cluster"), col("n_edits"))
      val plantedPristine = plantedPairs(meta.filter(col("n_edits") === 0))
      val plantedAll = plantedPairs(meta)
      val tagged = sameCluster(pairs, meta)
      val recSame = tagged.count()
      val recPristine = tagged
        .filter(col("n_edits_a") === 0 && col("n_edits_b") === 0).count()
      Seq("slice_docs" -> sliceN, "max_hamming" -> Dedup.SimhashMaxHamming,
        "pairs" -> nPairsSim,
        "planted_pristine_pairs" -> plantedPristine,
        "recovered_pristine_pairs" -> recPristine,
        "pristine_recall" -> frac(recPristine, plantedPristine),
        "planted_cluster_pairs_any_edits" -> plantedAll,
        "recovered_same_cluster_pairs" -> recSame)
    }

    // ---- SimHash capped path over the mega-including slice ----------------
    phase("simhash_capped_mega") {
      // the shape the bounded-cluster phase above cannot exercise: mega
      // template clusters INCLUDED, bounded by the bucketCap star/chain
      // guard (r5) — a 16-bit band holding the zipf head cluster is
      // C(s,2) candidates uncapped, and the checkpoint-rooted self-join
      // is not AQE-skew-splittable, so the cap is the structural bound
      cappedMega(corpus.filter(col("doc_id") < math.min(nDocs, 1000000L)))(
        Dedup.simhashNearDups(_, "doc_id", "text", bucketCap = bucketCap))
    }

    // ---- embedding near-dup over the bounded-cluster slice ----------------
    phase("embedding_near_dup") {
      // same slice rationale; additionally capped at 400k ids — candidate
      // rows carry BOTH 64-dim vectors through the verify join, so volume
      // is budgeted by candidate count, and single-band hyperplane LSH at
      // 12 planes is the measured recall point (cluster vectors sit at
      // cosine ≳ 0.999; P[all 12 signs agree] ≈ (1 − θ/π)^12 ≈ 0.9)
      val slice = corpus
        .filter(bounded && col("doc_id") < math.min(nDocs, 400000L))
        .select(col("doc_id"), col("cluster"), col("embedding"))
      val sliceN = slice.count()
      def bandedPairs(bands: Int) = counted(Dedup.embeddingNearDups(slice,
        "doc_id", "embedding", minCosine = 0.95, planes = 12, dim = 64,
        bands = bands).pairs)
      val (pairs, nPairsEmb) = bandedPairs(1)
      val meta = slice.filter(col("cluster") >= 0)
        .select(col("doc_id"), col("cluster"))
      val planted = plantedPairs(meta)
      val recovered = sameCluster(pairs, meta).count()
      // bucket census: the quadratic budget is Σ C(bucket, 2)
      val buckets = Materialize(slice.select(
          graft.functions.VectorFunctions.hyperplane_bucket(
            col("embedding"), 12, 64).as("b"))
        .groupBy("b").agg(count(lit(1)).as("sz")))
      val bRow = buckets.agg(count(lit(1)), max("sz"),
        coalesce(sum(col("sz") * (col("sz") - 1) / 2), lit(0.0))).head()
      // the banded recall dial (r5) on the SAME slice: 4 bands of the
      // same 12 planes — 1−(1−r^12)^4 predicts ≈0.999 at the cluster
      // vectors' cos θ from the 0.949 single-band draw; band 0 ≡ the
      // single-band planes, so banded pairs ⊇ the single-band set
      val (pairsB, nPairsB) = bandedPairs(4)
      val recoveredB = sameCluster(pairsB, meta).count()
      Seq("slice_docs" -> sliceN, "min_cosine" -> 0.95, "planes" -> 12,
        "pairs" -> nPairsEmb,
        "planted_cluster_pairs" -> planted,
        "recovered_cluster_pairs" -> recovered,
        "single_band_recall" -> frac(recovered, planted),
        "n_buckets" -> bRow.getLong(0), "max_bucket" -> bRow.getLong(1),
        "candidate_pairs_budget" -> bRow.getDouble(2).toLong,
        "bands" -> 4, "banded_pairs" -> nPairsB,
        "banded_recovered_cluster_pairs" -> recoveredB,
        "banded_recall" -> frac(recoveredB, planted))
    }

    // ---- embedding capped path over the mega-including slice --------------
    phase("embedding_capped_mega") {
      // mega template clusters INCLUDED: their members share near-identical
      // embeddings (cosine ≳ 0.999), so the whole cluster lands in ONE sign
      // bucket and the uncapped self-join is C(s,2) candidate rows each
      // carrying two 64-dim vectors — the bucketCap star/chain guard (r5)
      // is the structural bound, same as the simhash phase above. 400k-id
      // budget matches the bounded-slice embedding phase.
      cappedMega(corpus.filter(col("doc_id") < math.min(nDocs, 400000L))
          .select(col("doc_id"), col("cluster"), col("embedding")))(
        Dedup.embeddingNearDups(_, "doc_id", "embedding", minCosine = 0.95,
          planes = 12, dim = 64, bucketCap = bucketCap))
    }

    // ---- IVF ANN over the full corpus ------------------------------------
    phase("ivf_topk") {
      val emb = corpus.select(col("doc_id"), col("embedding"))
      val queries = emb.filter(col("doc_id") < 64)
      val nlist = 128
      val cents = Ann.trainIvfCentroids(emb, "doc_id", "embedding", nlist)
      def ivfAt(nprobe: Int) = counted(Ann.ivfTopK(
        queries, emb, "doc_id", "doc_id", "embedding", 10, cents, nprobe))
      val (ivf, nIvf) = ivfAt(8)
      val (bf, nBf) = counted(
        Ann.bruteForceTopK(queries, emb, "doc_id", "doc_id", "embedding", 10))
      // recall@10 vs exact brute force over all nDocs vectors, at two
      // nprobe settings — the recall/cost dial is the evidence (the corpus
      // mixes tight planted clusters with near-uniform unique vectors; the
      // uniform mass is IVF's documented hard case)
      def recall(df: DataFrame): Double =
        frac(df.select("query_id", "neighbor_id")
          .intersect(bf.select("query_id", "neighbor_id")).count(), nBf)
      // time ONLY the nprobe=32 query execution (materialize then count);
      // the recall intersect against the brute-force frame runs untimed,
      // symmetric with how the nprobe=8 figure is produced
      val t32 = System.nanoTime()
      val (ivf32, _) = ivfAt(32)
      val sec32 = (System.nanoTime() - t32) / 1e9
      val recall32 = recall(ivf32)
      Seq("nlist" -> nlist, "queries" -> 64, "k" -> 10,
        "ivf_rows" -> nIvf,
        "recall_at_10_nprobe8" -> recall(ivf),
        "recall_at_10_nprobe32" -> recall32,
        "nprobe32_wall_sec" -> math.rint(sec32 * 100) / 100)
    }

    // ---- lineage kill + resume at volume ---------------------------------
    phase("lineage_resume") {
      import graft.lineage.{ResumableRunner, SimulatedFailure}
      import spark.implicits._
      val docs = math.min(nDocs / 2, 1000000L)
      // written once: every wave of the three runs below filters its input,
      // and a generated, uncached Dataset would be generated again per wave
      graft.synth.SynthPages.pages(spark, docs, partitions = 64)
        .write.parquet(s"$base/lin_pages")
      val pages = spark.read.parquet(s"$base/lin_pages").as[graft.model.Page]
      def checksum(dir: String): (Long, Long) = {
        val df = spark.read.parquet(dir)
        val r = df.agg(count(lit(1)),
          coalesce(sum(pmod(xxhash64(col("url"), col("keep").cast("string"),
            col("crawl_snapshot")), lit(1000000007L))), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      // interrupted: the runner dies after 2 waves (8 of 16 chunks)
      def run1(fail: Option[Int]) = ResumableRunner.run(pages,
        s"$base/lin_out", s"$base/lin_led", "run1", failAfterWaves = fail)
      val killed =
        try { run1(Some(2)); -1 } catch { case _: SimulatedFailure => 2 }
      // resume from the lineage table: only the remaining chunks run
      val resumed = run1(None)
      // uninterrupted reference run
      ResumableRunner.run(pages, s"$base/lin_ref", s"$base/lin_led2", "ref")
      val (cN, cH) = checksum(s"$base/lin_out")
      val (rN, rH) = checksum(s"$base/lin_ref")
      Seq("docs" -> docs, "waves_before_kill" -> killed,
        "chunks_resumed" -> resumed.length,
        "rows_resumed_vs_uninterrupted" -> s"$cN/$rN",
        "checksum_equal" -> (cN == rN && cH == rH))
    }

    // ---- AQE skew-join split on the zipf host key -------------------------
    phase("aqe_skew_join") {
      // dimension-style host join with broadcast disabled: the zipf head
      // host (~18% of all rows) lands in one shuffle partition that AQE
      // must split (AQE's skew-join split is on by default in Spark 4). Band-key skew inside the LSH join is handled
      // STRUCTURALLY (bucketCap star+chain, phase minhash_lsh_capped);
      // this validates the runtime path for joins we don't pre-shape.
      // broadcast disabled on BOTH the static and the AQE-runtime knobs:
      // a 1000-row dim would otherwise (correctly) broadcast and the skew
      // path would never run — this phase validates the skew machinery,
      // not the best plan for this join. The skew threshold and the
      // advisory split size scale with the corpus (32 MB and 16 MB at 2M
      // docs), so the head host's partition crosses them at every size.
      def scaledBytes(mb: Long): String = math.max(1L, (mb << 20) * nDocs / 2000000L).toString
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> scaledBytes(32),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> scaledBytes(16))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val big = corpus.select(col("doc_id"), col("host"), col("text"))
        // dim MATERIALIZED first: OptimizeSkewedJoin only rewrites
        // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — an aggregate
        // between the shuffle stage and the sort defeats the pattern (the
        // run-1 artifact recorded skew_fired=false for exactly that shape)
        val dim = Materialize(
          corpus.groupBy("host").agg(count(lit(1)).as("host_docs")))
        val joined = big.join(dim, "host")
        // run THIS Dataset's own query execution so the adaptive plan we
        // stringify is the finalized one (a write would execute a separate
        // QueryExecution and leave this plan un-adapted)
        val qe = joined.queryExecution
        qe.toRdd.count(): Unit
        // ids renumbered over the WHOLE plan, before the line filter
        // below, so the excerpt does not depend on what earlier phases
        // planned
        val plan = ToolFs.normalizePlan(qe.executedPlan.toString)
        // Spark marks the rewritten join "skew=true" and the split-reader
        // nodes "AQEShuffleRead ... skewed"
        val skewNodes = "skew=true".r.findAllIn(plan).length +
          "skewed".r.findAllIn(plan).length
        val excerpt = plan.linesIterator
          .filter(l => l.contains("skew") || l.contains("SortMergeJoin"))
          .take(5).map(_.trim.take(180)).mkString(" | ")
        Seq("rows" -> nDocs, "skew_split_nodes" -> skewNodes,
          "skew_fired" -> (skewNodes > 0), "plan_excerpt" -> excerpt)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

    val out: Seq[(String, Any)] = Seq(
      "generated_by" -> "graft.tools.DedupScale",
      "docs" -> nDocs,
      "cores" -> cpus,
      "heap" -> s"${Runtime.getRuntime.maxMemory / (1 << 20)}MB",
      "phases" -> phases.toSeq)
    val json = renderJson(out)
    // non-default scales get their own artifact file — a 5M/10M regen must
    // never clobber the committed 2M evidence
    val outFile =
      if (nDocs == 2000000L) "DEDUP_SCALE.json"
      else if (nDocs % 1000000L == 0L) s"DEDUP_SCALE_${nDocs / 1000000L}M.json"
      else s"DEDUP_SCALE_$nDocs.json"
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
  }
}
