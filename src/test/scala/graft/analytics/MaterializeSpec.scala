package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared materialization policy: conf parsing and failure modes.
  * (The reliable path writing real checkpoint files is covered end-to-end
  * in DedupSpec's "reliable-materialization conf" case.)
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def anyFile(p: java.io.File): Boolean =
    p.isFile || Option(p.listFiles).exists(_.exists(anyFile))

  test("reliable conf is case-insensitive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-ci").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Materialize.ReliableConfKey, "True")
    try {
      val out = Materialize(Seq(1, 2, 3).toDF("x"))
      assert(out.count() == 3)
      assert(anyFile(new java.io.File(dir)),
        "conf value 'True' fell back to localCheckpoint (no files written)")
    } finally spark.conf.unset(Materialize.ReliableConfKey)
  }

  test("reliable conf without a checkpoint dir fails loudly, not silently " +
      "non-fault-tolerant") {
    import spark.implicits._
    // the checkpoint dir is per-CONTEXT (shared by all sessions and
    // suites) — clear it for this test and restore after, so the case is
    // deterministic regardless of suite order
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    val setter = sc.getClass.getMethods
      .find(_.getName == "checkpointDir_$eq").get
    setter.invoke(sc, None)
    spark.conf.set(Materialize.ReliableConfKey, "true")
    try {
      val e = intercept[IllegalStateException](Materialize(Seq(1).toDF("x")))
      assert(e.getMessage.contains("checkpoint directory"))
    } finally {
      spark.conf.unset(Materialize.ReliableConfKey)
      saved.foreach(sc.setCheckpointDir)
    }
  }

  test("partitioned: checkpointed frame advertises its hash partitioning " +
      "(downstream join on the key plans no re-exchange) and restores the " +
      "AQE flag — including when the materialization throws") {
    import org.apache.spark.sql.functions._
    val grouped = spark.range(1000)
      .select(col("id"), pmod(col("id"), lit(7)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val m = Materialize.partitioned(grouped)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE flag not restored after partitioned materialization")
    val joined = m.as("x").join(m.as("y").hint("merge"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(k"),
      s"partitioned frame lost its partitioning metadata:\n$plan")
    assert(joined.count() == 7)
    // (No plain-Materialize contrast here: whether the DEFAULT path loses
    // the metadata depends on AQE's runtime coalescing — a single-partition
    // outcome needs no exchange either way. The operator-level proof that
    // partitioned() removes real exchanges is DedupSpec's one-band-key-
    // shuffle plan pin.)
    // failure path restores the flag too
    intercept[Exception] {
      Materialize.partitioned(spark.range(10)
        .select((col("id") / (col("id") - col("id"))).cast("long").as("x"),
          assert_true(lit(false)).as("boom")))
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE flag leaked false after a failed partitioned materialization")
  }

  test("withAqeDisabled is reentrant: overlapping scopes on one session " +
      "restore the prior AQE flag (a naive save/restore interleaves to a " +
      "permanent session-wide AQE-off leak)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // LIFO nesting: the inner exit must not restore while the outer scope
    // is open, and the outer exit restores the ORIGINAL value
    Materialize.withAqeDisabled(spark) {
      Materialize.withAqeDisabled(spark) {
        assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
      }
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false",
        "inner exit restored early — outer scope still open")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE flag not restored after nested withAqeDisabled scopes")
    // NON-LIFO overlap — the interleave that leaks under a naive
    // save/set/restore (B saves A's already-set "false" and writes it
    // back last): B enters and HOLDS, A enters and exits fully, B exits.
    // Latches make the order deterministic, no scheduler luck involved.
    val bEntered = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.CountDownLatch(1)
    val tB = new Thread(() => Materialize.withAqeDisabled(spark) {
      bEntered.countDown()
      aDone.await()
    })
    tB.start()
    bEntered.await()
    Materialize.withAqeDisabled(spark) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
    }
    aDone.countDown()
    tB.join()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE flag leaked false after non-LIFO overlapping scopes")
  }

  test("SparkContext still generates the checkpointDir_$eq setter the " +
      "no-checkpoint-dir test clears the dir through (Spark-upgrade guard: " +
      "a rename fails here by name, not as a bare None.get there)") {
    val sc = spark.sparkContext
    val setter = sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq")
    assert(setter.isDefined,
      "SparkContext.checkpointDir_$eq disappeared — update how \"reliable " +
        "conf without a checkpoint dir fails loudly\" clears the dir")
    assert(setter.get.getParameterTypes.toSeq == Seq(classOf[Option[_]]),
      s"checkpointDir setter signature changed: ${setter.get}")
  }

  test("default path is the in-memory localCheckpoint (no files written)") {
    import spark.implicits._
    assert(spark.conf.getOption(Materialize.ReliableConfKey).isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-def").toString
    spark.sparkContext.setCheckpointDir(dir)
    val out = Materialize(Seq(1, 2).toDF("x"))
    assert(out.count() == 2)
    assert(!anyFile(new java.io.File(dir)),
      "default Materialize wrote reliable checkpoint files")
  }
}
