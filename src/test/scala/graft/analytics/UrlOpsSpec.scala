package graft.analytics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** URL canonicalization rules pinned one by one, plus the keep-latest
  * recrawl dedup semantics and its one-exchange plan shape.
  */
class UrlOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def canon(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("c"))
      .head().getString(0)
  }

  test("scheme and authority lowercase; path case preserved") {
    assert(canon("HTTPS://Example.RO/Path/File") ==
      "https://example.ro/Path/File")
  }

  test("www, default ports, fragments") {
    assert(canon("https://www.example.ro:443/a#sect") == "https://example.ro/a")
    assert(canon("http://www.example.ro:80/a") == "http://example.ro/a")
    // non-default port preserved; :443 on http preserved
    assert(canon("https://example.ro:8443/a") == "https://example.ro:8443/a")
    assert(canon("http://example.ro:443/a") == "http://example.ro:443/a")
  }

  test("tracking params removed, real params kept, delimiters collapsed") {
    assert(canon("https://x.ro/a?utm_source=f&id=3") == "https://x.ro/a?id=3")
    assert(canon("https://x.ro/a?id=3&utm_source=f") == "https://x.ro/a?id=3")
    assert(canon("https://x.ro/a?utm_a=1&utm_b=2") == "https://x.ro/a")
    assert(canon("https://x.ro/a?UTM_SOURCE=f&fbclid=z&gclid=q&k=v") ==
      "https://x.ro/a?k=v")
    // middle removal leaves && → collapsed
    assert(canon("https://x.ro/a?k=1&utm_x=9&j=2") == "https://x.ro/a?k=1&j=2")
  }

  test("trailing slashes stripped; root becomes bare authority") {
    assert(canon("https://x.ro/articol/") == "https://x.ro/articol")
    assert(canon("https://x.ro///") == "https://x.ro")
    assert(canon("https://x.ro/") == "https://x.ro")
    // a slash before a kept query is untouched
    assert(canon("https://x.ro/a/?id=1") == "https://x.ro/a/?id=1")
    // a slash ENDING a query value is byte-significant — never stripped
    assert(canon("https://x.ro/a?file=/docs/") == "https://x.ro/a?file=/docs/")
    assert(canon("x.ro/a?file=/docs/") == "x.ro/a?file=/docs/")
  }

  test("scheme-less strings pass through with only frag/track/slash rules") {
    assert(canon("example.ro/a/?utm_s=1#f") == "example.ro/a")
    assert(canon("Example.RO/Case/") == "Example.RO/Case")
  }

  test("canonicalizeUrl is idempotent on every fixture") {
    import spark.implicits._
    val fixtures = Seq(
      "HTTPS://Example.RO/Path/File",
      "https://www.example.ro:443/a#sect",
      "http://www.example.ro:80/a",
      "https://example.ro:8443/a",
      "http://example.ro:443/a",
      "https://x.ro/a?utm_source=f&id=3",
      "https://x.ro/a?id=3&utm_source=f",
      "https://x.ro/a?utm_a=1&utm_b=2",
      "https://x.ro/a?UTM_SOURCE=f&fbclid=z&gclid=q&k=v",
      "https://x.ro/a?k=1&utm_x=9&j=2",
      "https://x.ro/articol/",
      "https://x.ro///",
      "https://x.ro/",
      "https://x.ro/a/?id=1",
      "https://x.ro/a?file=/docs/",
      "example.ro/a/?utm_s=1#f",
      "Example.RO/Case/",
      "x.ro/a?file=/docs/")
    val rows = fixtures.toDF("url")
      .select(
        UrlOps.canonicalizeUrl(col("url")).as("once"),
        UrlOps.canonicalizeUrl(UrlOps.canonicalizeUrl(col("url"))).as("twice"))
      .collect()
    val broken = rows.filter(r => r.getString(0) != r.getString(1))
      .map(r => s"${r.getString(0)} -> ${r.getString(1)}")
    assert(broken.isEmpty, s"not idempotent: ${broken.mkString("; ")}")
  }

  test("keepLatestPerUrl: newest row per canonical URL survives") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://WWW.X.ro/a?utm_s=1", "old"),
      (2L, "https://x.ro/a#frag", "new"),
      (3L, "https://x.ro/b", "only"))
      .toDF("ts", "url", "tag")
    val out = UrlOps.keepLatestPerUrl(df, "url", "ts")
      .select("canon_url", "tag").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("https://x.ro/a" -> "new", "https://x.ro/b" -> "only"))
  }

  test("keepLatestPerUrl plans one exchange on the canonical url") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"https://x.ro/${i % 7}"))
      .toDF("ts", "url")
    val plan = UrlOps.keepLatestPerUrl(df, "url", "ts")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1 &&
      plan.contains("Exchange hashpartitioning(_canon_url"),
      s"expected one canon-url exchange, got:\n$plan")
  }
}
