package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Distributed global row numbering ≡ the naive single-partition window. */
class AlignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  /** A session whose shuffle partition count — the count Align ranges
    * into — is `parts`; frames built on it number with that count.
    */
  private def withParts(parts: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
    s
  }

  /** One-tag numbering: a constant tag makes the tagged operator number
    * the whole frame.
    */
  private def globalRowNumber(df: DataFrame): DataFrame =
    Align.withGlobalRowNumberByTag(df.withColumn("tag", lit("all")), "tag",
      Seq(col("k")), "rn").drop("tag")

  test("one-tag numbering equals the unpartitioned window, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 5000)
      .map(i => ((i * 2654435761L) % 100003L, s"v$i"))
    val df = spark.createDataFrame(rows).toDF("k", "v")
    val naive = df.withColumn("rn",
        row_number().over(Window.orderBy("k")).cast("long"))
      .select("k", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = globalRowNumber(
          withParts(parts).createDataFrame(rows).toDF("k", "v").repartition(7))
        .select("k", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == naive.size)
      assert(got == naive, s"numbering diverges at $parts shuffle partitions")
    }
  }

  test("reliable-materialization conf matches the in-memory numbering") {
    val s = withParts(8)
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-align-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    s.conf.set(Materialize.ReliableConfKey, "true")
    val df = (0 until 2000)
      .map(i => ((i * 40503L) % 65521L, s"v$i")).toDF("k", "v")
    val got = globalRowNumber(df.repartition(5))
      .select("k", "rn").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val expect = df.orderBy("k").collect().map(_.getLong(0))
      .zipWithIndex.map { case (k, i) => k -> (i + 1).toLong }.toMap
    assert(got == expect)
  }

  test("numbering is contiguous 1..n and no stage sees all rows") {
    val s = withParts(8)
    import s.implicits._
    val ks: Seq[Int] = (1 to 997).map(i => i * 13)
    val df = ks.toDF("k")
    val out = globalRowNumber(df)
    val rns = out.select("rn").collect().map(_.getLong(0)).sorted
    val expect: Array[Long] = Array.tabulate(997)(i => (i + 1).toLong)
    assert(rns.sameElements(expect))
    // plan evidence: no empty-partition-spec window (the single-task shape)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [row_number()") ||
      plan.contains("__pid"), "window must be keyed by partition id")
  }

  test("census and ranking read ONE materialized range exchange (plan shape)") {
    val s = withParts(8)
    import s.implicits._
    // The scale hazard: two independently-planned range exchanges can
    // sample different partition boundaries, so offsets computed against
    // one partitioning get added to ranks computed against another. The
    // fix materializes the ranged frame once (eager localCheckpoint); the
    // ranking plan must read the checkpointed RDD (Scan ExistingRDD) and
    // contain NO range exchange of its own — the one boundary sample
    // happened before the checkpoint and is frozen in the blocks — with
    // the offsets coming from a driver-computed LocalTableScan broadcast.
    val df = (0 until 2000).map(i => ((i * 48271) % 65537, i)).toDF("k", "v")
    val out = globalRowNumber(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      "ranked side must read the one materialized range partitioning")
    assert(!plan.contains("REPARTITION_BY_NUM") &&
      !plan.contains("rangepartitioning"),
      "an independently-sampled range exchange appears in the numbering " +
        "plan — census and ranking may see different boundaries")
    assert(plan.contains("LocalTableScan"),
      "offsets must be the driver-computed manifest, not a re-aggregation")
  }

  test("withGlobalRowNumberByTag ≡ row_number() partitioned by tag " +
      "(r6 one-pass)") {
    import org.apache.spark.sql.expressions.Window
    // 3 tags, interleaved keys, skewed tag sizes, a tag missing from some
    // key ranges — the numbering must equal numbering each tag's slice
    // independently
    val rows = (0 until 3000).map { i =>
      val tag = if (i % 7 == 0) "C" else if (i % 2 == 0) "A" else "B"
      (((i * 48271) % 65537).toLong, tag, i)
    }
    val df = spark.createDataFrame(rows).toDF("k", "tag", "v")
    val want = df.withColumn("rn", row_number()
        .over(Window.partitionBy("tag").orderBy("k")).cast("long"))
      .select("tag", "k", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 4, 16)) {
      val got = Align.withGlobalRowNumberByTag(
          withParts(parts).createDataFrame(rows).toDF("k", "tag", "v"),
          "tag", Seq(col("k")), "rn")
        .select("tag", "k", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"tagged numbering diverges at parts=$parts")
    }
  }

  test("withGlobalRowNumberByTag numbers null-tag rows and adds only `out`") {
    import org.apache.spark.sql.expressions.Window
    val s = withParts(4)
    import s.implicits._
    // every third row has a null tag: the nulls are one more tag
    val df = (1 to 20).map { k =>
      (k.toLong, if (k % 3 == 0) null else if (k % 2 == 0) "x" else "y")
    }.toDF("k", "tag")
    def rows(f: DataFrame) = f.select("tag", "k", "rn").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val want = rows(df.withColumn("rn", row_number()
      .over(Window.partitionBy("tag").orderBy("k")).cast("long")))
    val out = Align.withGlobalRowNumberByTag(df, "tag", Seq(col("k")), "rn")
    assert(rows(out) == want)
    assert(want.size == 20)
    assert(out.columns.toSeq == df.columns.toSeq :+ "rn")
  }

  test("withGlobalRowNumberByTag plans ONE materialized range exchange " +
      "and a driver-manifest offsets join") {
    val s = withParts(4)
    import s.implicits._
    val df = (0 until 500).map(i => (i.toLong, if (i % 2 == 0) "x" else "y"))
      .toDF("k", "tag")
    val out = Align.withGlobalRowNumberByTag(df, "tag", Seq(col("k")), "rn")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      "ranked side must read the one materialized range partitioning")
    assert(!plan.contains("rangepartitioning"),
      "numbering plan must not re-sample a range exchange")
    assert(plan.contains("LocalTableScan"),
      "offsets must be the driver-computed manifest")
  }
}
