package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming MinHash near-dup detection with bounded state.
  *
  * The reference is incremental-batch (poll-for-next-shard, SURVEY §2.10):
  * ingest and resume run through the per-chunk lineage table of
  * [[graft.lineage.ResumableRunner]], and every quality stage runs through
  * [[graft.pipeline.QualityPipeline.annotate]]. What stays here is the one
  * operator whose state bound needs Structured Streaming: [[nearDupStream]],
  * the streaming form of [[graft.dedup.Dedup.minhashNearDups]], which the
  * DedupScale `stream_*` phases and PlanEvidence's streaming section run.
  */
object StreamOps {

  /** One stored signature inside a band bucket's state. */
  final case class BandedSig(band_key: Long, id: Long, sig: Array[Long],
      event_ts: java.sql.Timestamp)
  /** Per-bucket state: parallel (id, signature) arrays, FIFO-capped, plus
    * the newest event time seen — the expiry anchor (a late row must not
    * move the bucket's timeout BACKWARDS).
    */
  final case class BucketState(ids: Array[Long], sigs: Array[Array[Long]],
      newestTsMs: Long)
  /** An emitted near-dup candidate pair (id_a < id_b). */
  final case class NearDupHit(id_a: Long, id_b: Long, est_jaccard: Double,
      event_ts: java.sql.Timestamp)

  /** Streaming MinHash near-dup detection — the streaming twin of
    * [[graft.dedup.Dedup.minhashNearDups]], with BOUNDED state.
    *
    * Same signatures and band keys as the batch operator (the native
    * one-pass `minhash_signature` expression, 8 bands × 4 rows), so the
    * candidate S-curve matches. Each band bucket is a
    * `flatMapGroupsWithState` group holding at most `bucketCap` recent
    * (id, 32-long signature) entries — ~0.3 KiB per doc per band, evicted
    * FIFO (hot template buckets degrade to a sliding window, the streaming
    * analogue of the batch `bucketCap` skew guard) and dropped wholesale
    * once the event-time watermark passes `lateness` beyond the bucket's
    * newest entry.
    *
    * One honest divergence from batch: state cannot hold shingle SETS
    * (unbounded per doc), so verification uses the signature-agreement
    * ESTIMATE of Jaccard — unbiased, se ≈ √(J(1−J)/32) ≈ 0.07 at J = 0.8 —
    * not the exact intersection the batch verify join computes. Exact dups
    * still verify at exactly 1.0. Route hits needing exactness through a
    * batch re-verify over the pair's stored texts.
    *
    * A pair colliding in several bands (or re-arriving under at-least-once
    * replay) is emitted per collision; dedup downstream with
    * `.withWatermark("event_ts", lateness)
    * .dropDuplicatesWithinWatermark("id_a", "id_b")` — the watermark must
    * be RE-APPLIED on the emitted `event_ts` because stateful-operator
    * output columns don't inherit the input's event-time metadata.
    */
  def nearDupStream(pages: DataFrame, idCol: String, textCol: String,
      tsCol: String, minEstJaccard: Double = 0.8, shingleN: Int = 3,
      lateness: String = "1 hour", bucketCap: Int = 256)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.dedup.Dedup
    // lateness in ms, parsed once at build time: the timeout clamp below
    // needs the ABSOLUTE-timestamp setTimeoutTimestamp overload (the
    // duration-string overload re-adds lateness to an already-clamped
    // anchor, overshooting the earliest legal expiry by a full window)
    val latenessMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(
          org.apache.spark.unsafe.types.UTF8String.fromString(lateness))
      require(iv.months == 0,
        s"lateness '$lateness' must be a fixed duration (no months)")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    val banded = Dedup.withMinHash(pages, textCol, shingleN)
      .filter(size(col("shingles")) > 0)
      .select(col(idCol).as("id"), col("minhash"),
        col(tsCol).as("event_ts"))
      .withColumn("band_key",
        explode(array((0 until Dedup.Bands).map(Dedup.bandKey): _*)))
      .withWatermark("event_ts", lateness)
      .select(col("band_key"), col("id"), col("minhash").as("sig"),
        col("event_ts"))
      .as[BandedSig]
    def estJaccard(a: Array[Long], b: Array[Long]): Double = {
      var eq = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / a.length
    }
    banded.groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[BandedSig],
         state: org.apache.spark.sql.streaming.GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val entries = state.getOption
              .map(s => scala.collection.mutable.ArrayBuffer(
                s.ids.zip(s.sigs): _*))
              .getOrElse(scala.collection.mutable.ArrayBuffer
                .empty[(Long, Array[Long])])
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            // expiry anchors on the NEWEST entry ever seen, not this
            // batch's max: a late-but-valid row must not pull the bucket's
            // timeout backwards and evict in-window neighbors early
            var maxTs = state.getOption.map(_.newestTsMs)
              .getOrElse(Long.MinValue)
            rows.foreach { r =>
              maxTs = math.max(maxTs, r.event_ts.getTime)
              entries.foreach { case (eid, esig) =>
                if (eid != r.id) {
                  val est = estJaccard(esig, r.sig)
                  if (est >= minEstJaccard)
                    out += NearDupHit(math.min(eid, r.id),
                      math.max(eid, r.id),
                      math.rint(est * 1e6) / 1e6, r.event_ts)
                }
              }
              // at-least-once replay of the same id must not self-pair
              if (!entries.exists(_._1 == r.id)) {
                entries += ((r.id, r.sig))
                if (entries.size > bucketCap)
                  entries.remove(0, entries.size - bucketCap)
              }
            }
            state.update(
              BucketState(entries.map(_._1).toArray,
                entries.map(_._2).toArray, maxTs))
            // Spark's late filter for this operator uses the PREVIOUS
            // micro-batch's watermark while timeout validation uses the
            // CURRENT one (SPARK-39931 semantics): an out-of-order replay
            // can deliver rows that pass the (lagged) late filter yet sit
            // more than `lateness` below the eviction watermark, and the
            // natural expiry maxTs + lateness would then be in the past —
            // Spark fails the whole query (observed live on a
            // shuffled-file replay). Clamp to the earliest LEGAL instant,
            // watermark + 1: such a bucket expires at the very next
            // watermark advance instead of killing the stream (and
            // instead of surviving a whole extra lateness window, which
            // re-anchoring a duration-based timeout would grant), while
            // its entries still pair within their arrival batch — late
            // pairing only ADDS recall.
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(maxTs + latenessMs,
                  state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }
}
