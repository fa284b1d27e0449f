package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.Tokenize.norm_tokens
import graft.functions.VectorFunctions.{cosine_sim, hyperplane_bucket}

/** Deduplication operators for the training-data pipeline, each designed so
  * the candidate-pair set is bounded by bucketing (no all-pairs cross join):
  *
  *  - exact: hash-groupBy (one shuffle on the digest)
  *  - MinHash+LSH: shingle → k minhashes → b bands → bucket self-join →
  *    exact-Jaccard verification of candidates only
  *  - SimHash: 64-bit fingerprint → (t+1) pigeonhole band buckets →
  *    Hamming ≤ t
  *  - embedding near-dup: random-hyperplane signs → bucket join → exact
  *    cosine on candidates (see graft.similarity.Ann for top-k search)
  *
  * At 10^12-doc scale every step is shuffle-on-key with AQE-coalesced
  * partitions; the only quadratic work is within a bucket, which band width
  * (r) / bucket granularity controls.
  *
  * JOIN STRATEGY: every join in this file carries an explicit `merge`
  * (sort-merge) hint. Both sides of every join here are corpus-scale or
  * candidate-scale BY CONSTRUCTION — signature/set frames are one row per
  * document, candidate frames can exceed the corpus — so a broadcast plan
  * is never correct at scale. Catalyst would still pick one: the frames
  * are eagerly materialized ([[graft.analytics.Materialize]], the 7×→1×
  * signature-compute fix), and a checkpointed Dataset's `LogicalRDD`
  * carries the PRE-execution size estimate of its origin plan — for
  * `spark.range`-rooted synthetic inputs (and generally for plans whose
  * array columns Catalyst prices at a fixed few bytes) that estimate
  * undercounts by orders of magnitude. The DEDUP_SCALE run caught this
  * live: at 2M docs the planner broadcast the 2M-row shingle-set frame
  * (~1.6 GB serialized) into the verify join and died on
  * `spark.driver.maxResultSize`; at sf0.01 the same plan looks fine.
  * DedupSpec pins the no-broadcast shape.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------
  /** Exact duplicate groups by content digest; keeper = min(id). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_dups") > 1)

  /** Exact-dedup survivors: one row per distinct text (the min-id row).
    * r6: a `min_by` aggregate on the digest — the former
    * `row_number() OVER (PARTITION BY md5 ORDER BY id)` window exchanged
    * AND per-partition sorted every row; the aggregate partial-combines
    * map-side (co-located duplicates collapse before the shuffle) and
    * never sorts. Survivor identical: the min-id row per digest (the
    * id is the total order in both shapes).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(textCol)).as("__md5"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c").as(c)): _*)
  }

  // ---- MinHash + LSH ----------------------------------------------------
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = NumHashes / Bands // r = 4

  /** SimHash near-dup radius: four 16-bit bands over the 64-bit signature. */
  val SimhashMaxHamming = 3
  private final val SimhashBands = SimhashMaxHamming + 1

  /** Words per shingle. */
  private final val ShingleN = 3

  /** LSH band key: hash of the band's r signature values + band index. */
  private def bandKey(b: Int): Column =
    xxhash64(lit(b) +: (0 until RowsPerBand).map(r =>
      col("minhash").getItem(b * RowsPerBand + r)): _*)

  /** Candidate near-dup pairs (id_a < id_b) from LSH bucketing, each verified
    * with exact Jaccard over the shingle sets; `minJaccard` filters the
    * verified similarity. Shuffles: ONE band-key shuffle total (the
    * [[sizedBands]] explode+window, materialized so every pairing branch
    * and the census read it) plus the candidate join-back.
    *
    * Skew guard: a band bucket larger than `bucketCap` (boilerplate/template
    * mega-clusters — the one place bucketed LSH still goes quadratic) is NOT
    * expanded all-pairs. Its candidates are (a) the bucket's members CHAINED
    * in minhash-signature order — identical and near-identical signatures
    * sort adjacent, so every run of true duplicates stays connected through
    * verified edges even when the bucket mixes content families — plus (b) a
    * star to the bucket's min-id member, which keeps component diameters
    * small in the common one-template case. 2(s−1) edges instead of C(s,2);
    * every emitted edge is still exact-Jaccard-verified, so a star/chain
    * edge between dissimilar docs is dropped, never a false merge. The one
    * honest recall caveat: NEAR-dups (J < 1) inside an oversized mixed
    * bucket connect only if they sort adjacent or share the representative;
    * lowering `bucketCap` restores the all-pairs guarantee bucket by bucket.
    *
    * The cap is OPT-IN (default `Int.MaxValue` = exact all-pairs in every
    * bucket): trading recall for boundedness is a deployment decision, not a
    * default. When a cap is set, read the result's [[NearDups.stats]] so
    * the truncation is OBSERVED, not assumed absent — a 100-TB operator
    * can't read scaladoc at runtime.
    *
    * UNCAPPED-DEFAULT exposure (shared by the simhash and embedding
    * operators): the pairing self-join roots at the checkpointed
    * pre-partitioned banded frame, so it has no shuffle stage for AQE's
    * OptimizeSkewedJoin to split — with the default cap, a mega bucket's
    * C(s,2) expansion runs in the one task that owns its bucket key (pre-r5,
    * each side re-exchanged and AQE could at least split the straggler). A
    * corpus that can contain template mega-clusters should set `bucketCap`;
    * that is the structural bound, and the C(s,2) OUTPUT volume — not the
    * task placement — is the real quadratic term either way.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.8,
      bucketCap: Int = Int.MaxValue): NearDups = {
    // The signature frame feeds the banded build plus the two verify
    // joins; Catalyst plans each branch separately (the subtrees differ
    // after pruning, so ReusedExchange never fires) and would recompute
    // tokenization + shingle + minhash per branch. Materializing sigs
    // once (eager localCheckpoint) replaces the per-branch signature
    // compute with one pass + block reads — the 100-TB term, where
    // tokenize+shingle+hash dominates the job.
    val sigs = graft.analytics.Materialize(
      buildSigs(df, idCol, textCol))
    // The banded frame is materialized AGAIN, partition-preserving
    // ([[graft.analytics.Materialize.partitioned]]): the band explode +
    // window — the operator's one band-key shuffle — runs ONCE, and all
    // four pairing branches (both sides of the small-bucket self-join, the
    // mega-bucket star, and the mega-bucket chain) plus the census read
    // it; the checkpointed frame still ADVERTISES its hash partitioning and
    // sort order on `band_key`, so the self-join and the census plan no
    // re-exchange and no re-sort of their own. (Before round 5 each branch
    // re-derived the banded frame — five separate
    // Generate+Exchange(band_key)+Window chains in the committed plan; the
    // dominant DEDUP_SCALE phase carried a ~5× avoidable shuffle factor on
    // exactly its hottest key.) `minhash` is deliberately NOT carried into
    // the banded frame: ×Bands duplication of the 32-long signature would
    // make the one shuffle ~10× wider per row; only the chain branch needs
    // it, only for capped-bucket rows, and joins it back from the already-
    // materialized sigs.
    val sized = graft.analytics.Materialize.partitioned(sizedBands(sigs))
    // verification: exact Jaccard over shingle SETS of the candidates only
    // (one intersection per pair; union size derived)
    new NearDups(
      verifyJoin(cappedCandidates(sized, "band_key", sigs, "minhash",
          bucketCap),
        sigs.select(col("id"), array_distinct(col("shingles")).as("sh")),
        Nil, "sh", graft.functions.ArrayMath.jaccard_sets, "jaccard",
        minJaccard),
      "minhashNearDups", bucketCap, sized)
  }

  /** `(id, shingles, minhash)` signature frame the pairing and the census
    * read: hashed word [[ShingleN]]-grams and their NumHashes-long MinHash
    * signature, pure expressions with no shuffle (empty shingle sets
    * dropped — they can't near-dup).
    */
  private def buildSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("shingles",
        shingle_hashes(norm_tokens(col(textCol)), ShingleN))
      .withColumn("minhash", minhash_signature(col("shingles"), NumHashes))
      .filter(size(col("shingles")) > 0)
      .select(col(idCol).as("id"), col("shingles"), col("minhash"))

  /** Distinct `(id_a < id_b)` candidates from a sized bucket frame (`id`,
    * `key`, `bsz`, `bmin` — see [[withBucketStats]]): buckets within
    * `bucketCap` pair all-pairs through a self-join on `key`; each bucket
    * over the cap emits a STAR to its min-id member plus a CHAIN of its
    * members in (`orderCol`, id) order — identical and near-identical
    * signatures sort adjacent, so duplicate runs stay connected even if
    * the star edge to the representative fails verification (mixed-content
    * mega bucket). The chain reads `orderCol` in place when `sized` carries
    * it (no join and no re-key on `key`); otherwise it joins `orderCol`
    * back from `orderFrom` (one row per id) for the capped rows only, and
    * re-keys them. `distinct` collapses multi-band hits. The one
    * capped-bucket pairing shared by the minhash and embedding operators.
    */
  private def cappedCandidates(sized: DataFrame, key: String,
      orderFrom: DataFrame, orderCol: String, bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val smallSide = sized.filter(col("bsz") <= bucketCap)
      .select("id", key)
    val allPairs = smallSide.as("x").join(smallSide.as("y").hint("merge"),
        col(s"x.$key") === col(s"y.$key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val big = sized.filter(col("bsz") > bucketCap)
    val starPairs = big.filter(col("id") =!= col("bmin"))
      .select(col("bmin").as("id_a"), col("id").as("id_b"))
    val wOrd = Window.partitionBy(key).orderBy(col(orderCol), col("id"))
    val ordered =
      if (sized.columns.contains(orderCol)) big
      else big.join(orderFrom.select(col("id"), col(orderCol)).hint("merge"),
        "id")
    val chainPairs = ordered
      .withColumn("prev", lag("id", 1).over(wOrd))
      .filter(col("prev").isNotNull)
      .select(least(col("prev"), col("id")).as("id_a"),
        greatest(col("prev"), col("id")).as("id_b"))
    allPairs.unionByName(starPairs).unionByName(chainPairs).distinct()
  }

  /** Exact verification of candidate pairs: joins `side` (one row per
    * `keys :+ id`, merge-hinted — see the object doc) back onto `pairs`
    * twice, on `keys :+ id_a` then `keys :+ id_b`, scores the two
    * `valueCol` copies (`<valueCol>_a`, `<valueCol>_b`) with `score`, keeps
    * `score >= minScore` and returns `keys, id_a, id_b, round(score, 6)` with
    * the score named `name`. The one verify join of every set/vector
    * operator here.
    *
    * PRECONDITION for `jaccard_sets` scoring: both sets are non-empty.
    * Two empty sets score NaN (0/0), and Spark orders NaN above every
    * double, so a NaN score would PASS `>= minScore`. Every jaccard caller
    * filters `size > 0` when it builds `side`.
    */
  private def verifyJoin(pairs: DataFrame, side: DataFrame,
      keys: Seq[String], valueCol: String, score: (Column, Column) => Column,
      name: String, minScore: Double): DataFrame = {
    val hinted = side.hint("merge")
    def copy(suffix: String): DataFrame =
      hinted.withColumnRenamed("id", s"id_$suffix")
        .withColumnRenamed(valueCol, s"${valueCol}_$suffix")
    pairs
      .join(copy("a"), keys :+ "id_a")
      .join(copy("b"), keys :+ "id_b")
      .withColumn(name, score(col(s"${valueCol}_a"), col(s"${valueCol}_b")))
      .filter(col(name) >= minScore)
      .select((keys ++ Seq("id_a", "id_b")).map(col) :+
        round(col(name), 6).as(name): _*)
  }

  /** Adds the bucket's size `bsz` and min id `bmin` over a window on
    * `keys` — the per-bucket stats every capped pairing and the census
    * read.
    */
  private def withBucketStats(df: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min("id").over(w))
  }

  /** Size-ratio pruning (similarity-join standard): J(A,B) ≤ min/max of the
    * set sizes, so J ≥ t requires min ≥ t·max — evaluated in the join
    * condition before the expensive intersection. 1e-9 slack: binary-float
    * products of integer sizes can misround above the exact boundary, and
    * |B| = t·|A| exactly must survive.
    */
  private def sizeRatioOk(a: Column, b: Column, t: Double): Column =
    a.cast("double") >= lit(t) * b - 1e-9 &&
      b.cast("double") >= lit(t) * a - 1e-9

  /** One row per (id, band_key) with the bucket's size and min id — the
    * operator's ONE shuffle on band_key, materialized partition-preserving
    * by the callers so the census and every pairing branch read the same
    * frame without re-exchanging it.
    */
  private def sizedBands(sigs: DataFrame): DataFrame =
    withBucketStats(sigs.select(col("id"),
      explode(array((0 until Bands).map(bandKey): _*)).as("band_key")),
      "band_key")

  /** Totals of one operator's truncation census (see [[censusStats]]). */
  final case class BucketStats(nBuckets: Long, cappedBuckets: Long,
    skippedPairs: Long)

  /** A bucketed near-dup operator's result: the verified `pairs` and the
    * truncation census over the SAME materialized bucket frame the pairs
    * are built from. The operator materializes its signatures and bucket
    * frame when called, so the census never repeats the signature or the
    * banding work; the census itself is one aggregate job, run on the
    * first read of `stats` and never again — a caller that reads only
    * `pairs` runs none. A capped run that truncated logs a warning on that
    * first read, so a caller that asks is never silently short of recall.
    */
  final class NearDups private[dedup] (val pairs: DataFrame, opName: String,
      bucketCap: Int, sized: DataFrame) {
    lazy val stats: BucketStats = censusStats(opName, bucketCap, sized)
  }

  /** Truncation census of a capped pairing over a sized bucket frame (one
    * row per (id, bucket) with the bucket's `bsz` and `bmin`):
    * `(n_buckets, capped_buckets, skipped_pairs)` where `skipped_pairs` is
    * the per-bucket `C(s,2) − max(s−1, 2s−4)` — a true UPPER bound on the
    * candidate pairs the star+chain expansion does not examine (and hence
    * on lost NEAR-dup pairs; exact dups still connect through the chain).
    * The star emits s−1 edges and the chain s−1, but they overlap on the
    * chain edges incident to the bucket representative `bmin` (one if bmin
    * sorts to a chain end, two if interior), so the DISTINCT examined pairs
    * can be as few as max(s−1, 2s−4) — subtracting the naive 2(s−1) would
    * understate the skips by up to 2 per capped bucket and break the bound.
    * Zero capped buckets ⇒ the capped run was exhaustive and its recall
    * caveat is vacuous. Logs the one capped-run warning all three operators
    * share (a wording or field change lands once, not per operator).
    */
  private def censusStats(opName: String, bucketCap: Int,
      sized: DataFrame): BucketStats = {
    // `id === bmin` picks exactly one census row per bucket. Per-bucket
    // skipped pairs are clamped at 0: a just-over-cap bucket of size 2–3
    // emits MORE star+chain edges than C(s,2) and must not offset real
    // skips from larger buckets (or drive the total negative). C(s,2) is
    // computed in DOUBLE and the total saturates below Long.MaxValue: a
    // mega-bucket past ~4.3e9 members overflows s·(s−1) in long (ANSI
    // throws; non-ANSI wraps negative and would report 0 skips on the
    // worst bucket), and telemetry may be approximate but must never
    // fail the job or lie low. coalesce: zero buckets ⇒ 0s, not NULLs.
    val bszD = col("bsz").cast("double")
    val row = sized
      .filter(col("id") === col("bmin"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("bsz") > bucketCap, 1L).otherwise(0L)),
          lit(0L)).as("capped_buckets"),
        least(lit(9.0e18),
          coalesce(sum(when(col("bsz") > bucketCap,
            greatest(lit(0.0), bszD * (bszD - 1) / 2 -
              greatest(bszD - 1, bszD * 2 - 4)))
            .otherwise(0.0)), lit(0.0)))
          .cast("long").as("skipped_pairs"))
      .collect()(0)
    val stats = BucketStats(row.getLong(0), row.getLong(1), row.getLong(2))
    if (stats.cappedBuckets > 0)
      System.err.println(
        s"[dedup] $opName bucketCap=$bucketCap truncated " +
          s"${stats.cappedBuckets} bucket(s); up to ${stats.skippedPairs} " +
          "candidate pair(s) not examined - near-dup recall inside those " +
          "buckets is adjacency/representative only")
    stats
  }

  // ---- SimHash ----------------------------------------------------------
  /** SimHash near-dup pairs within Hamming distance [[SimhashMaxHamming]]
    * (the 64-bit, Hamming-3 setting of Manku et al., WWW 2007): four
    * 16-bit band buckets over the signature, then exact Hamming
    * verification via bit_count. Pigeonhole: three differing bits leave at
    * least one of the four 16-bit bands equal, so every such pair shares a
    * bucket.
    *
    * `bucketCap` is the same OPT-IN mega-bucket skew guard as
    * [[minhashNearDups]]: a band bucket larger than the cap is not
    * expanded all-pairs — its members CHAIN in (sim, id) order (identical
    * signatures sort adjacent, so byte-identical duplicate runs stay
    * connected) plus a STAR to the bucket's min-id member; every edge is
    * still exact-Hamming-verified, so a star/chain edge between
    * dissimilar docs is dropped, never a false merge; read the result's
    * [[NearDups.stats]] so a capped run's truncation is OBSERVED.
    * (Rationale: the checkpoint-rooted self-join below is not
    * AQE-skew-splittable, and a 16-bit band holding a 50k-doc template
    * cluster is C(50k,2) candidate pairs with or without AQE — the cap is
    * the structural fix, exactly as for minhash.)
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      bucketCap: Int = Int.MaxValue): NearDups = {
    import org.apache.spark.sql.expressions.Window
    val banded = simhashBanded(df, idCol, textCol)
    val small = banded.filter(col("bsz") <= bucketCap)
    val allPairs = small.as("x").join(small.as("y").hint("merge"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hamming(col("x.sim"), col("y.sim")).as("hamming"))
    val big = banded.filter(col("bsz") > bucketCap)
    // bmin < id always, so the star pair is already (id_a < id_b)
    val starPairs = big.filter(col("id") =!= col("bmin"))
      .select(col("bmin").as("id_a"), col("id").as("id_b"),
        hamming(col("bsim"), col("sim")).as("hamming"))
    val wOrd = Window.partitionBy("band", "bits")
      .orderBy(col("sim"), col("id"))
    val chainPairs = big
      .withColumn("prev_id", lag("id", 1).over(wOrd))
      .withColumn("prev_sim", lag("sim", 1).over(wOrd))
      .filter(col("prev_id").isNotNull)
      .select(least(col("prev_id"), col("id")).as("id_a"),
        greatest(col("prev_id"), col("id")).as("id_b"),
        hamming(col("prev_sim"), col("sim")).as("hamming"))
    new NearDups(allPairs.unionByName(starPairs).unionByName(chainPairs)
        .distinct() // hamming is deterministic per pair — multi-band safe
        .filter(col("hamming") <= SimhashMaxHamming),
      "simhashNearDups", bucketCap, banded)
  }

  /** The banded SimHash frame, materialized once, partitioned+sorted on
    * the join keys: tokenize+SimHash runs a single pass (the self-join's
    * two pruned subtrees would otherwise each recompute it — and each
    * re-exchange its side), and every pairing branch plus the census read
    * the checkpointed frame with no further exchange. Carries the
    * bucket's size, min id, and the min-id member's signature (`bsim`,
    * 8 B/row — lets the star branch verify inline without a join back).
    */
  private def simhashBanded(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.analytics.Materialize.partitioned(withBucketStats(
      df.select(col(idCol).as("id"),
          simhash64(norm_tokens(col(textCol))).as("sim"))
        .select(col("id"), col("sim"),
          explode(array((0 until SimhashBands).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("sim"), 16 * b).bitwiseAND(lit(0xffffL))
                .as("bits"))
          ): _*)).as("bk"))
        .select(col("id"), col("sim"), col("bk.band"), col("bk.bits"))
        .repartition(col("band"), col("bits")),
      "band", "bits")
      .withColumn("bsim", min_by(col("sim"), col("id"))
        .over(Window.partitionBy("band", "bits"))))
  }

  // ---- n-gram Jaccard ------------------------------------------------------
  /** Exact Jaccard similarity join via PREFIX FILTERING (PPJoin-style):
    * candidate pairs come from an equi-join on (group, prefix-token)
    * instead of a group-quadratic theta-join, so cost is driven by token
    * co-occurrence, not group size — with EXACT results (prefix filtering
    * is lossless).
    *
    * Soundness: order every set by one total order (token hash, tie-broken
    * by the token — a deterministic proxy for the classic rare-first
    * frequency order, spreading stopwords out of the prefix). For
    * J(A,B) ≥ t the required overlap is ≥ ⌈t·max(|A|,|B|)⌉, and two sets
    * with that much overlap must share a token within their first
    * |X| − ⌈t·|X|⌉ + 1 = ⌊(1−t)·|X|⌋ + 1 tokens under any common order
    * (Chaudhuri/Xiao prefix-filter lemma) — so the token join produces a
    * candidate superset; exact verification then keeps exactly J ≥ t.
    *
    * Token order for the prefix filter. Correctness needs ANY one total
    * order shared by all sets (the prefix-filter lemma); cost does not:
    * prefixes drawn under a RARE-FIRST order contain the corpus's rare
    * tokens, so the (grp, token) candidate join fans out on tokens few
    * documents share — the classic PPJoin frequency order. `freqOrder =
    * true` computes the exact document-frequency dictionary in one
    * aggregate and orders by (df, token); `false` uses the hash-of-token
    * proxy (no extra pass — fine when token frequencies are near-uniform).
    * Measured on the synthetic sf0.1 corpus (uniform vocab, no stopword
    * skew): hash 2.3–2.8 s vs freq 3.2–3.9 s — the dictionary passes don't
    * pay there, so hash stays the default; on real web text the frequency
    * order is the 100-TB choice, since stopword-led prefixes otherwise
    * create quadratic hot keys in the candidate join. DedupSpec pins that
    * both orders produce the identical verified pair set.
    *
    * DUPLICATE-ID CONTRACT: rows sharing (grp, id) merge to their token-set
    * UNION before any pairing, so both token orders compute the same
    * per-(grp, id) sets and one output row per pair, never one per
    * input-row combination.
    *
    * @param assumeUniqueIds caller contract that (groupCol, idCol) is
    *   unique — skips the duplicate-id merge aggregate (one exchange of
    *   the token arrays; real money at volume when the caller has just
    *   deduplicated, e.g. output of [[exactDedup]] or a table with a unique
    *   key). If the contract is violated, duplicate-id inputs are undefined
    *   behavior (ghost rows, inflated sizes, and the two token orders may
    *   disagree), exactly like any violated uniqueness contract.
    */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, minJaccard: Double,
      freqOrder: Boolean = false,
      assumeUniqueIds: Boolean = false): DataFrame = {
    // duplicate-id guard: rows sharing (grp, id) merge to their token-set
    // UNION up front, so BOTH token orders see identical per-(grp, id) sets.
    // (Previously the hash order kept duplicate-id rows as separate prefix
    // sources — ghost self-pairs filtered only by `id < id` — while the
    // freq order's re-group merged them: a documented but easy-to-trip
    // semantic divergence, now closed; DedupSpec pins order agreement ON a
    // duplicate-id input.) collect_list arrival order is nondeterministic
    // but the flattened DISTINCT set is order-free, and both orders re-sort
    // it. Cost: one aggregate exchange on (grp, id) — partial-aggregated
    // map-side; skippable via `assumeUniqueIds` when the caller owns the
    // uniqueness contract.
    val perRow = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      array_distinct(split(col(textCol), " ")).as("toks0"))
    val base =
      if (assumeUniqueIds) perRow.withColumnRenamed("toks0", "toks")
      else perRow.groupBy("grp", "id")
        .agg(array_distinct(flatten(collect_list(col("toks0")))).as("toks"))
    val orderedSets =
      if (!freqOrder)
        // r6: native (xxhash64, token)-ascending sort — one codegen'd call
        // per row; the transform∘array_sort∘transform HOF chain it
        // replaces ran CodegenFallback-interpreted with one xxhash64 eval
        // per token per lambda pass (same hash kernel, same tie order, so
        // the ordered arrays are identical — ArrayMathParitySpec)
        base.withColumn("sh",
          graft.functions.ArrayMath.sort_by_xxhash(col("toks")))
      else {
        // exact document frequency per token: a COUNT window over the
        // exploded token frame (r6 — the former groupBy(tok) + merge
        // self-join computed the same counts but exchanged the full
        // exploded frame TWICE, once into the aggregate and once into the
        // join probe; the window needs the tok exchange once and the
        // downstream (grp, id) re-group is unchanged). base is
        // materialized so the tokenize+merge aggregate runs ONCE
        // (it otherwise re-evaluates under every consumer branch).
        // collect_set on the re-group: (grp, id) is unique after the
        // guard above, so this is a plain reassembly.
        val matBase = graft.analytics.Materialize(base)
        val tok = matBase.select(col("grp"), col("id"),
          explode(col("toks")).as("tok"))
        val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
        tok.withColumn("df", count(lit(1)).over(wTok))
          .groupBy("grp", "id")
          .agg(transform(
            array_sort(collect_set(struct(col("df"), col("tok")))),
            s => s.getField("tok")).as("sh"))
      }
    // prefix length sz − ⌈t·sz⌉ + 1 with a 1e-9 slack inside the ceil:
    // pure binary-float arithmetic misrounds integer products (0.9·20 and
    // 1.0−0.9 both land off-integer), which would shorten the prefix by one
    // exactly at threshold boundaries and silently drop J = t pairs. The
    // slack can only LENGTHEN a prefix (recall-safe), never shorten it.
    // materialized ONCE: the ordered-set construction (split + distinct +
    // sort + prefix slice) otherwise re-evaluates in every consuming
    // branch — both sides of the token self-join and both verify joins
    // (the plan showed array_sort ×24 before this)
    val sets = orderedSets.select(col("grp"), col("id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")))
      .withColumn("prefix", slice(col("sh"), lit(1),
        (col("sz") - ceil(col("sz") * minJaccard - lit(1e-9)) + 1)
          .cast("int")))
      .transform(graft.analytics.Materialize.apply)
    // prefix-token candidates materialized partitioned+sorted on the join
    // keys: the self-join's two sides read ONE exploded, once-shuffled
    // frame (≈ (1−t)·|set|+1 narrow rows per doc) instead of each
    // re-exploding `sets` and re-exchanging on (grp, tok). `pos` is the
    // token's 0-based position in the ORDERED set (= its posexplode index
    // in the prefix, which is the set's head slice) — carried for the
    // positional filter below.
    val toks = graft.analytics.Materialize.partitionedBy(
      sets.select(col("grp"), col("id"), col("sz"),
        posexplode(col("prefix")).as(Seq("pos", "tok"))),
      col("grp"), col("tok"))
    val sizeOk = sizeRatioOk(col("x.sz"), col("y.sz"), minJaccard)
    // PPJoin POSITIONAL filter (r6, lossless): for a shared token at
    // 0-based positions (pA, pB), overlap(a, b) ≤ (shared strictly before
    // it) + 1 + (tokens strictly after it in the shorter remainder)
    //   ≤ 0 + 1 + min(szA − pA − 1, szB − pB − 1) = min(szA − pA, szB − pB)
    // where "shared before = 0" holds for the pair's SMALLEST shared
    // token under the common order (any earlier shared token would be a
    // smaller one inside both prefixes — contradiction), so every true
    // pair survives through that minimal row even when its other
    // candidate rows are pruned. J ≥ t needs overlap ≥ t·(szA+szB)/(1+t);
    // the 1e-9 slack again only ADMITS extra candidates, never drops one.
    // Candidate rows failing the bound die BEFORE the distinct and the
    // two verify joins — on zipf text the early (rare) prefix slots carry
    // the surviving pairs and the deep slots of long sets stop generating
    // work.
    val posOk =
      least(col("x.sz") - col("x.pos"), col("y.sz") - col("y.pos"))
        .cast("double") >=
        lit(minJaccard / (1.0 + minJaccard)) * (col("x.sz") + col("y.sz")) -
          1e-9
    val cand = toks.as("x").join(toks.as("y").hint("merge"),
        col("x.grp") === col("y.grp") && col("x.tok") === col("y.tok") &&
          col("x.id") < col("y.id") && sizeOk && posOk)
      .select(col("x.grp").as("grp"), col("x.id").as("id_a"),
        col("y.id").as("id_b"))
      .distinct()
    // verify joins on (grp, id): ids may repeat across groups
    verifyJoin(cand, sets.select(col("grp"), col("id"), col("sh")), Seq("grp"),
      "sh", graft.functions.ArrayMath.jaccard_sets, "jaccard", minJaccard)
  }

  // ---- duplicate-cluster formation ----------------------------------------
  /** Connected components over near-dup candidate pairs — the step that
    * turns pairwise edges into the reference's duplicate clusters (its
    * corpus carries the result as `minhash_cluster_size`,
    * `fineweb/fineweb2_download.py:22`). Distributed min-label propagation:
    * every node adopts the minimum label among itself and its neighbors
    * until a fixpoint; `cluster_id` = min member id of the component.
    *
    * Scale shape: each iteration is a neighbor-min propagation (keyed join
    * + groupBy on node id — AQE coalesces) followed by a POINTER JUMP
    * (label := label(label), one self-join), which halves remaining label
    * distances — convergence in O(log component-diameter) iterations, so a
    * chain of 10^6 drifting duplicates resolves within ~20 rounds where
    * plain propagation would need 10^6. Lineage is cut with an eager
    * [[graft.analytics.Materialize]] per iteration (the plan does not grow
    * with the iteration count); superseded per-iteration checkpoints become
    * unreachable on reassignment and Spark's ContextCleaner unpersists
    * their blocks on GC, bounding resident copies.
    *
    * Throws IllegalStateException instead of returning a silent non-fixpoint
    * if `maxIter` is hit while labels are still moving.
    *
    * Per-iteration lineage cuts follow the [[graft.analytics.Materialize]]
    * policy: in-memory `localCheckpoint` by default, or RELIABLE
    * checkpoints in the context's checkpoint directory under
    * `spark.graft.checkpoint.reliable=true` — at 100-TB scale the labels
    * don't fit (and must survive) executor memory.
    *
    * The per-iteration changed-label count is a count of the `__chg` rows
    * of the iteration's materialized frame: one extra job over the
    * checkpointed blocks, exact under task retries.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25): Clusters = {
    import graft.analytics.Materialize
    def edges(a: String, b: String) =
      pairs.select(col(a).as("src"), col(b).as("dst"))
    val bi = Materialize(
      edges("id_a", "id_b").unionByName(edges("id_b", "id_a")))
    var labels = Materialize(bi.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // (1) adopt the minimum label among self and neighbors
      val nbr = bi.join(labels.withColumnRenamed("id", "src").hint("merge"),
          "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr_label"))
      val propagated = Materialize(
        labels.join(nbr.hint("merge"), Seq("id"), "left")
          .select(col("id"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nbr_label"), col("label")))
              .as("mid_label"))) // materialize once: feeds both join sides
      // (2) pointer jump: label := label(label). Every label IS a node id
      // (labels start as ids and only ever take other nodes' labels) and
      // label(x) ≤ x, so the inner self-join is total and monotone.
      val parents = propagated
        .select(col("id").as("pid"), col("mid_label").as("plabel"))
      val updated = Materialize(propagated.join(parents.hint("merge"),
          propagated("mid_label") === parents("pid"))
        .select(col("id"), col("plabel").as("new_label"),
          (col("plabel") < col("old_label")).as("__chg")))
      changed = updated.filter(col("__chg")).count()
      labels = updated.select(col("id"), col("new_label").as("label"))
      it += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters did not reach a fixpoint in $maxIter iterations " +
        s"($changed labels still moving) - raise maxIter")
    Clusters(labels.select(col("id"), col("label").as("cluster_id")), it)
  }

  /** [[dupClusters]]' result: the `labels` (`id`, `cluster_id`) and the
    * number of propagate+jump `iterations` it took to converge — the
    * O(log diameter) bound made assertable (DedupSpec pins a 10^4-node
    * chain to ≲ 2·log₂ n iterations).
    */
  final case class Clusters(labels: DataFrame, iterations: Int)

  /** [[dupClusters]]' `labels` + per-cluster size (the
    * `minhash_cluster_size` column shape) via one groupBy-join on
    * cluster_id.
    */
  def withClusterSizes(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes.hint("merge"), "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  // ---- embedding cosine near-dup ------------------------------------------
  /** Near-duplicate embedding pairs: random-hyperplane sign buckets (LSH for
    * cosine), exact cosine verification of the candidates.
    *
    * `bucketCap` is the same OPT-IN mega-bucket skew guard as
    * [[minhashNearDups]]/[[simhashNearDups]]: an oversized sign bucket
    * (one template embedding replicated corpus-wide) is not expanded
    * all-pairs — members CHAIN in (emb, id) order (lexicographic array
    * order sorts near-identical vectors adjacent) plus a STAR to the
    * bucket's min-id member; every edge is exact-cosine-verified, so no
    * false merge is possible. Read the result's [[NearDups.stats]] so
    * truncation is OBSERVED.
    *
    * `bands` is the recall dial (same amplification as minhash's banding):
    * `bands` independent sign bands of `planes` hyperplanes each — a pair
    * is a candidate if ANY band agrees on every plane, so recall at
    * per-plane agreement r = 1 − θ/π rises from r^planes to
    * 1 − (1 − r^planes)^bands, at the cost of a ×bands candidate budget
    * on uniform vectors. Band 0's planes are BY CONSTRUCTION the
    * single-band planes ([[graft.similarity.Ann.planeVec]] indexes one
    * global plane sequence, so the (bands·planes)-plane matrix's first
    * `planes` rows equal the single-band matrix), hence the banded
    * candidate set is a strict superset of the single-band one and
    * verification is identical — `bands > 1` can only add true pairs,
    * never lose one (DedupSpec pins the superset). Every band count runs
    * the minhash pairing shape: one materialized `(id, bucket, bsz, bmin)`
    * frame carries the operator's single bucket-key shuffle (embeddings
    * deliberately NOT exploded ×bands — the verify joins read them back
    * from the one-row-per-vector sigs frame; only the one-band frame,
    * already one row per vector, carries them), [[cappedCandidates]] applies
    * `bucketCap` per band with the star/chain guard and yields DISTINCT
    * candidate ids, and ONE exact cosine verify join prices the work at
    * the deduped candidate count rather than once per band hit.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double = 0.95, planes: Int = 12, dim: Int = 64,
      bucketCap: Int = Int.MaxValue, bands: Int = 1): NearDups = {
    // `bands`/`planes` must be ≥ 1: `bands = 0` would explode over an
    // EMPTY band array — every row silently dropped, zero pairs, an
    // all-zero census — and `planes = 0` buckets the whole corpus into one
    // all-pairs cell. Both are dial typos; fail loudly. One band is the
    // plain sign word (hyperplane_bucket allows up to 64 planes); more
    // bands tag each key with its band index ABOVE the sign bits, so their
    // sign words must leave tag room in one long.
    require(bands >= 1, s"bands = $bands must be >= 1")
    require(planes >= 1, s"planes = $planes must be >= 1")
    require(bands == 1 || bands * planes <= 63,
      s"bands*planes = ${bands * planes} sign bits must fit one long")
    // One MATERIALIZED row per vector with the full (bands·planes)-bit sign
    // word — the single hyperplane pass shared by the banded explode and
    // both verify joins (one pass over the embedding matrix total; the
    // banded frame then carries ids and bucket keys, plus the vector at
    // one band).
    val sigs = graft.analytics.Materialize(df.select(col(idCol).as("id"),
      col(embCol).as("emb"),
      hyperplane_bucket(col(embCol), bands * planes, dim).as("full")))
    // One row per (id, band bucket) with the bucket's size and min id —
    // the operator's ONE shuffle on the bucket key (the [[sizedBands]]
    // shape). Band b's key is its `planes` sign bits tagged with b in the
    // bits above them, so bands never collide; band 0's key is exactly
    // hyperplane_bucket(emb, planes, dim). One band is one row per vector,
    // so carrying `emb` adds no rows and lets the capped chain read it in
    // place (no join-back, no re-key on `bucket`); more bands leave it out
    // (it would be copied ×bands) and the chain joins it back.
    val (key, carried): (Int => Column, Seq[Column]) =
      if (bands == 1) (_ => col("full"), Seq(col("emb")))
      else (b => shiftright(col("full"), b * planes)
        .bitwiseAND(lit((1L << planes) - 1L))
        .bitwiseOR(lit(b.toLong << planes)), Nil)
    val sized = graft.analytics.Materialize.partitioned(withBucketStats(
      sigs.select(col("id") +: carried :+
        explode(array((0 until bands).map(key): _*)).as("bucket"): _*),
      "bucket"))
    new NearDups(
      verifyJoin(cappedCandidates(sized, "bucket", sigs, "emb", bucketCap),
        sigs.select(col("id"), col("emb")), Nil, "emb",
        cosine_sim, "cosine", minCosine),
      "embeddingNearDups", bucketCap, sized)
  }
}
