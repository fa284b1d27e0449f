package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming MinHash near-dup: batch parity, late rows, bucket cap. */
class StreamOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming minhash near-dup ≡ batch pair set, state carries across " +
      "micro-batches, exact dups verify at est_jaccard 1.0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_sneardup").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").withColumn("ts", lit(t0))
    val g1 = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val g2 = "cu totul alte cuvinte despre altceva complet diferit aici " * 5
    val solo = "text unic fără nicio pereche în corpus " * 5
    // wave 1: one doc of each group; wave 2 (separate micro-batch): the
    // duplicates — pairs MUST come from bucket state, not the same batch
    val wave1 = docs(1L -> g1, 2L -> g2, 3L -> solo)
    val wave2 = docs(11L -> g1, 12L -> g2)
    wave1.write.parquet(s"$base/landing")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(s"$base/landing")
    val q = StreamOps.nearDupStream(stream, "doc_id", "text", "ts",
        minEstJaccard = 0.9)
      .writeStream.format("memory").queryName("sneardup")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("sneardup").isEmpty, "no dups landed yet")
    wave2.write.mode("append").parquet(s"$base/landing")
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("sneardup").as[StreamOps.NearDupHit].collect()
    val streamPairs = hits.map(h => (h.id_a, h.id_b)).toSet
    val batchPairs = graft.dedup.Dedup.minhashNearDups(
        wave1.unionByName(wave2), "doc_id", "text", minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs,
      s"stream $streamPairs ≠ batch $batchPairs")
    assert(streamPairs == Set((1L, 11L), (2L, 12L)))
    assert(hits.forall(_.est_jaccard == 1.0),
      s"exact dup estimated below 1.0: ${hits.toSeq}")
  }

  test("late rows far below the watermark don't kill the stream (timeout " +
      "clamp) and still pair — batch-recall semantics for late data") {
    // flatMapGroupsWithState does NOT pre-filter late input: a bucket fed
    // ONLY by rows older than watermark − lateness used to compute a
    // timeout in the past and fail the whole query
    // ([FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR] ... cannot be earlier
    // than the current watermark — first hit by the DedupScale
    // state-bound phase replaying shuffled file order). The clamp expires
    // such buckets at the earliest legal instant instead.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_latebkt").toString
    def docs(ts: String, rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf(ts)))
    val g1 = "unu doi trei patru cinci șase șapte opt nouă zece " * 5
    val old = "cuvinte sosite târziu din altă zi cu totul " * 5
    // BOTH files land before the stream starts and maxFilesPerTrigger=1,
    // so the two batches run back-to-back with NO no-data batch between:
    // batch 1's late-events filter then still carries batch 0's watermark
    // (unset — the late filter lags one batch, SPARK-39931) while its
    // EVICTION watermark has advanced to 09:00 — exactly the out-of-order
    // replay shape. The 01:00 exact-dup pair passes the late filter, and
    // its bucket's natural timeout (02:00) is below the eviction
    // watermark; pre-clamp, setTimeoutTimestamp threw and killed the
    // whole query. coalesce(1): both late rows must share the ONE file =
    // one batch (split across batches, the second would fall to the
    // caught-up late filter and the pair could never form).
    docs("2026-01-01 10:00:00", 1L -> g1).coalesce(1)
      .write.parquet(s"$base/landing")
    Thread.sleep(50) // distinct mtimes: the source replays oldest-first
    docs("2026-01-01 01:00:00", 20L -> old, 21L -> old).coalesce(1)
      .write.mode("append").parquet(s"$base/landing")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/landing")
    val q = StreamOps.nearDupStream(stream, "doc_id", "text", "ts",
        minEstJaccard = 0.9, lateness = "1 hour")
      .writeStream.format("memory").queryName("latebkt")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty,
      s"late bucket killed the stream: ${q.exception}")
    val pairs = spark.table("latebkt").as[StreamOps.NearDupHit].collect()
      .map(h => (h.id_a, h.id_b)).toSet
    assert(pairs == Set((20L, 21L)),
      s"late exact dups must still pair: $pairs")
  }

  test("streaming hits ∘ batch re-verify ≡ batch exact pairs: the estimate " +
      "path composes back to exactness through Dedup.reverifyPairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_sreverify").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").withColumn("ts", lit(t0))
    // an exact-dup pair, a NEAR-dup pair (middle token replaced → 3 of 38
    // 3-gram shingles change: J = 35/41 ≈ 0.854, above the 0.8 batch bar
    // but below 1.0, so the estimate genuinely differs from the exact
    // value), and an unrelated solo
    val tA = (1 to 40).map(i => s"cuv$i").mkString(" ")
    val tAnear = (1 to 40).map(i => if (i == 20) "alt20" else s"cuv$i")
      .mkString(" ")
    val tB = (1 to 30).map(i => s"alte$i").mkString(" ")
    val solo = (1 to 30).map(i => s"unic$i").mkString(" ")
    val wave1 = docs(1L -> tA, 3L -> tB, 5L -> solo)
    val wave2 = docs(2L -> tAnear, 4L -> tB)
    wave1.write.parquet(s"$base/landing")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(s"$base/landing")
    // stream at a LOWER estimate threshold (0.5) than the batch target
    // (0.8): the estimate's se ≈ 0.07 at J = 0.8, so the lowered bar makes
    // the hit set a superset of the exact answer; re-verify tightens it
    val q = StreamOps.nearDupStream(stream, "doc_id", "text", "ts",
        minEstJaccard = 0.5)
      .writeStream.format("memory").queryName("sreverify")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    wave2.write.mode("append").parquet(s"$base/landing")
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("sreverify")
    assert(hits.count() > 0, "stream produced no candidate hits")
    val corpus = wave1.unionByName(wave2)
    val reverified = graft.dedup.Dedup.reverifyPairs(
        hits.toDF(), corpus, "doc_id", "text", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.dedup.Dedup.minhashNearDups(
        corpus, "doc_id", "text", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(reverified == batch,
      s"stream∘reverify $reverified ≠ batch $batch")
    assert(reverified.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
    // the near pair carries the EXACT jaccard (35/41), not the estimate
    val nearJ = reverified.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(nearJ == math.rint(35.0 / 41 * 1e6) / 1e6, s"nearJ=$nearJ")
  }

  test("streaming near-dup bucket state is FIFO-capped, planted cluster " +
      "stays connected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_sneardup_cap").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val tpl = "același șablon de pagină repetat la nesfârșit pe site " * 5
    // 40 identical docs into the same buckets with bucketCap=8: state
    // stays bounded; each arrival still pairs with the retained window
    (1L to 40L).map(i => (i, tpl)).toDF("doc_id", "text")
      .withColumn("ts", lit(t0)).write.parquet(s"$base/landing")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(s"$base/landing")
    val q = StreamOps.nearDupStream(stream, "doc_id", "text", "ts",
        minEstJaccard = 0.9, bucketCap = 8)
      .writeStream.format("memory").queryName("sneardup_cap")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("sneardup_cap")
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    // rows reach a bucket in shuffle order, not id order, so the pinned
    // guarantee is the batch mega-bucket one: every arrival pairs with at
    // least its most recent predecessor in the window, so the planted
    // cluster stays CONNECTED (and far from all-pairs) under the cap
    assert(pairs.size < 40 * 39 / 2, "cap did not bound the expansion")
    val parent = scala.collection.mutable.Map((1L to 40L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val roots = (1L to 40L).map(find).toSet
    assert(roots.size == 1,
      s"planted duplicate cluster split into ${roots.size} components")
  }
}
