package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Page
import graft.pipeline.QualityPipeline

/** C1/C5 — partition-granular checkpoint/resume with a lineage table.
  *
  * The reference's protocol is "processed ⇔ output file exists; poll & skip"
  * (`small_model_inference/small_model_inference.py:106-114`,
  * `fineweb/big_inference.py:296-309`, `shard_manager.py:19-26`). Here the
  * protocol is a lineage table of `(run_id, chunk_id, num_chunks, status,
  * metrics, completed_at_ms)` rows: on restart the input chunk manifest is
  * anti-joined against completed lineage rows and only the remainder runs;
  * every chunk write is an idempotent overwrite of its own partition
  * directory, so a crash mid-chunk re-runs that chunk with no duplicates.
  *
  * A "chunk" is the resume granule. The synthetic corpus chunks by
  * `pmod(xxhash64(url), n)`; on a real Iceberg deployment the chunk is the
  * crawl-snapshot partition (or a shard range within it) so each chunk job
  * prunes to its own files instead of re-scanning the input. A chunk id
  * names different pages under a different chunk count, so each row records
  * the `num_chunks` it was cut under and a run resumes only under that count.
  */
final case class LineageRecord(
    run_id: String,
    chunk_id: Int,
    num_chunks: Int,
    status: String,
    docs_in: Long,
    docs_kept: Long,
    completed_at_ms: Long
)

final class LineageStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** Done chunk ids of a run cut into `numChunks` chunks. Throws
    * IllegalArgumentException if a done row was cut under another count:
    * its chunk ids name other pages, and resuming on them would skip pages.
    */
  private[lineage] def completedChunks(runId: String,
      numChunks: Int): Set[Int] = {
    if (!ResumableRunner.exists(spark, path)) return Set.empty
    val done = spark.read.parquet(path)
      .filter(col("run_id") === runId && col("status") === "done")
      .select("chunk_id", "num_chunks").as[(Int, Int)].collect().toMap
    val counts = done.values.toSet - numChunks
    require(counts.isEmpty, s"run $runId was cut into " +
      s"${counts.mkString("/")} chunks; it cannot resume with $numChunks")
    done.keySet
  }

  def append(records: Seq[LineageRecord]): Unit =
    records.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(path)

  def all(): Dataset[LineageRecord] =
    spark.read.parquet(path).as[LineageRecord]
}

/** Injected mid-run failure for the resume test (reference pattern: a killed
  * worker leaves unprocessed shards behind).
  */
final class SimulatedFailure(msg: String) extends RuntimeException(msg)

object ResumableRunner {
  /** Whether `path` (a plain path or any Hadoop URI: `file:`, `hdfs://`, …)
    * exists, asked of its own Hadoop `FileSystem`.
    */
  private[lineage] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Runs the quality pipeline chunk-wave by chunk-wave with lineage
    * checkpointing. Returns the chunk ids processed in THIS invocation.
    * Throws IllegalArgumentException, before any wave, if `numChunks` or
    * `waveSize` is below 1, or if `runId` already has done chunks cut under
    * a different `numChunks`.
    *
    * @param failAfterWaves if set, throws [[SimulatedFailure]] after that
    *                       many completed waves (test hook).
    */
  def run(
      pages: Dataset[Page],
      outDir: String,
      lineageDir: String,
      runId: String,
      numChunks: Int = 16,
      waveSize: Int = 4,
      failAfterWaves: Option[Int] = None): Seq[Int] = {
    require(numChunks >= 1 && waveSize >= 1,
      s"numChunks = $numChunks and waveSize = $waveSize must be >= 1")
    val spark = pages.sparkSession
    val store = new LineageStore(spark, lineageDir)

    // anti-join of the chunk manifest against completed lineage (manifest is
    // tiny — numChunks rows — so this is a driver-side set difference; at
    // Iceberg scale the same thing is a metadata-table anti-join)
    val done = store.completedChunks(runId, numChunks)
    val remaining = (0 until numChunks).filterNot(done)

    // chunk_id is a pure function of url, so the wave filter is applied to
    // the RAW pages, BELOW annotate: each wave scores only its own chunks
    // (scoring the full corpus per wave would be O(waves × corpus) — the
    // 100 TB killer). On a real Iceberg deployment chunk_id is the physical
    // partition and this filter prunes files instead of rows.
    def chunkId = pmod(xxhash64(col("url")), lit(numChunks)).cast("int")

    val processed = scala.collection.mutable.ArrayBuffer.empty[Int]
    remaining.grouped(waveSize).zipWithIndex.foreach { case (wave, waveIdx) =>
      failAfterWaves.foreach { k =>
        if (waveIdx >= k) throw new SimulatedFailure(
          s"injected failure before wave $waveIdx (processed ${processed.size} chunks)")
      }
      val wavePages = pages.filter(chunkId.isin(wave: _*))
      // idempotent per-chunk overwrite: re-running a chunk replaces exactly
      // its own partition directories, never duplicates
      QualityPipeline.annotate(wavePages)
        .withColumn("chunk_id", chunkId)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk_id")
        .parquet(outDir)
      // metrics read back from exactly the wave's partition directories
      // (reading the whole output tree would be O(waves²) I/O over a run);
      // basePath keeps the chunk_id partition column in scope. An empty
      // chunk writes no directory — skip missing paths.
      val wavePaths = wave.map(c => s"$outDir/chunk_id=$c")
        .filter(exists(spark, _))
      val counts =
        if (wavePaths.isEmpty) Map.empty[Int, (Long, Long)]
        else spark.read.option("basePath", outDir).parquet(wavePaths: _*)
          .groupBy("chunk_id")
          .agg(count(lit(1)).as("docs_in"),
            sum(col("keep").cast("long")).as("docs_kept"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val now = System.currentTimeMillis()
      store.append(wave.map { c =>
        val (in, kept) = counts.getOrElse(c, (0L, 0L))
        LineageRecord(runId, c, numChunks, "done", in, kept, now)
      })
      processed ++= wave
    }
    processed.toSeq
  }
}
