package graft.tools

import java.nio.file.{Files, LinkOption}

import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ToolFsSpec extends AnyFunSuite {

  test("normalizePlan: one query planned twice reads the same, whatever " +
    "was planned in between") {
    val spark = TestSpark.spark
    def plan(): String = spark.range(1000).toDF("id")
      .withColumn("k", col("id") % 7)
      .groupBy("k").agg(sum("id").as("s"))
      .filter(col("s") > 10)
      .queryExecution.explainString(SimpleMode)
    val first = plan()
    // unrelated frames draw expression ids from the same JVM-global counter
    (1 to 3).foreach { i =>
      spark.range(10).select((col("id") * i).as(s"x$i"))
        .groupBy(s"x$i").count().queryExecution.executedPlan
    }
    val second = plan()
    def ids(plan: String) = "#\\d+".r.findAllIn(plan).toSet
    assert(ids(first) != ids(second), "the raw plans should differ in #N")
    val norm = ToolFs.normalizePlan(first)
    assert(norm == ToolFs.normalizePlan(second))
    assert(norm.contains("#0"))
  }

  test("rmTree deletes a symlink to a directory, not the files behind it") {
    val root = Files.createTempDirectory("toolfs")
    try {
      val target = Files.createDirectories(root.resolve("target"))
      val kept = Files.writeString(target.resolve("kept.txt"), "kept")
      val tree = Files.createDirectories(root.resolve("tree"))
      Files.writeString(tree.resolve("own.txt"), "own")
      Files.createSymbolicLink(tree.resolve("link"), target)
      ToolFs.rmTree(tree.toFile)
      assert(!Files.exists(tree, LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(kept) == "kept")
    } finally ToolFs.rmTree(root.toFile)
  }
}
