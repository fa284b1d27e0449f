package graft.analytics

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every registered query runs on sf0.001 and returns rows, on a fresh
  * session that it leaves as it found it (no temp view, no function, no
  * conf change); every oracle key exists in queries.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val missing = Queries.oracle.keySet -- Queries.all.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  /** What a query builder could leave behind on the session it is given. */
  private def footprint(s: SparkSession): Set[String] =
    s.sessionState.catalog.getTempViewNames().map("view " + _).toSet ++
      s.sessionState.functionRegistry.listFunction().map("function " + _) ++
      s.conf.getAll.map { case (k, v) => s"conf $k=$v" }

  Queries.all.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 and returns rows") {
      val fresh = spark.newSession()
      val before = footprint(fresh)
      val df = fn(fresh, sfDir)
      assert(df.count() > 0, s"$name returned 0 rows")
      val after = footprint(fresh)
      val changed = (after -- before) ++ (before -- after)
      assert(changed.isEmpty, s"$name changed its session: $changed")
    }
  }
}
