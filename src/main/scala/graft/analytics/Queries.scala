package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operator-coverage query surface (SURVEY.md §2), each over the
  * driver's TPC-H-ish parquet tables so the DuckDB oracle sees identical
  * input bytes. Registered in [[graft.SparkEntry]].
  *
  * Column names are aliased identically in the Spark plan and the oracle SQL
  * (the driver's compare sorts columns by name before hashing).
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // Spark `queries` and DuckDB `oracle` are built together so they can't
  // drift: each register() call adds both sides.
  private val qs = scala.collection.mutable.LinkedHashMap
    .empty[String, (SparkSession, String) => DataFrame]
  private val osql = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def register(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Unit = {
    qs(name) = fn
    if (sql != null) osql(name) = sql
  }

  // --- P1: column-whitelist projection (fineweb2_download.py:50) ----------
  register("q_p1_projection",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber""".stripMargin) {
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
  }

  // --- F1: single-threshold score filter (filter.py:22) -------------------
  register("q_f1_score_filter",
    """SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 450
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .filter(col("n_chars") >= 450)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  // --- F2: conjunctive multi-threshold filter (filter_jql.py:27) ----------
  // three derived scores per order, ALL must clear their thresholds
  register("q_f2_conjunctive",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice >= 1000.0 AND o_custkey % 7 >= 2
      |  AND length(o_orderpriority) >= 8
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_totalprice") >= 1000.0 &&
        col("o_custkey") % 7 >= 2 && length(col("o_orderpriority")) >= 8)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // --- F3: compound predicate (adult.py:8,19) ------------------------------
  register("q_f3_compound",
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE lang = 'es' AND n_chars >= 300 ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      t(s, dir, "documents")
        .filter(col("lang") === "es" && col("n_chars") >= 300)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
  }

  // --- F4: label-validity filter (all_tasks_bert.py:556-566) ---------------
  register("q_f4_validity",
    """SELECT count(*) AS n_valid FROM lineitem
      |WHERE l_linenumber BETWEEN 1 AND 5
      |  AND l_returnflag IN ('A','R')
      |  AND l_linestatus IN ('F','O')""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_linenumber").between(1, 5) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_linestatus").isin("F", "O"))
      .agg(count(lit(1)).as("n_valid"))
  }

  // --- F5: default-0 threshold via coalesce (topic_format_stats_gen.py:35) -
  register("q_f5_coalesce_threshold",
    """SELECT event_id, event_type FROM events
      |WHERE coalesce(value, 0.0) >= 50.0 ORDER BY event_id""".stripMargin) {
    (s, dir) =>
      t(s, dir, "events")
        .filter(coalesce(col("value"), lit(0.0)) >= 50.0)
        .select("event_id", "event_type")
        .orderBy("event_id")
  }

  // --- J1: keyed equi join + A8-style match metrics (test.py:18-45) --------
  register("q_j1_equijoin",
    """SELECT c.c_mktsegment AS mktsegment, count(*) AS n_orders,
      |       round(sum(o.o_totalprice), 2) AS total_price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment ORDER BY mktsegment""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    // dimension side is small ⇒ explicit broadcast (no shuffle of orders)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("mktsegment")
  }

  // --- J2: row_number alignment join (comparison.py:119-131) ---------------
  register("q_j2_rownumber_align",
    """WITH a AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn,
      |                  o_totalprice FROM orders WHERE o_orderstatus = 'F'),
      |     b AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS rn,
      |                  o_totalprice FROM orders WHERE o_orderstatus = 'O')
      |SELECT a.rn AS rn, round(a.o_totalprice - b.o_totalprice, 2) AS price_diff
      |FROM a JOIN b ON a.rn = b.rn WHERE a.rn <= 100 ORDER BY rn""".stripMargin) {
    (s, dir) =>
      // distributed numbering (Align): range partition + per-partition rank
      // + broadcast offsets — identical values to the naive unpartitioned
      // window, without its all-rows-to-one-task collapse. r6: both sides
      // are status-filters of ONE table, so they are numbered in a single
      // tagged pass (one scan, one range exchange, one materialization,
      // one census — the per-side Align shape paid each twice).
      val both = t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val numbered = Align.withGlobalRowNumberByTag(
        both, "o_orderstatus", Seq(col("o_orderkey")), "rn")
      def side(status: String) = numbered
        .filter(col("o_orderstatus") === status)
        .select("rn", "o_totalprice")
      side("F").alias("a").join(side("O").alias("b"), "rn")
        .filter(col("rn") <= 100)
        .select(col("rn"),
          round(col("a.o_totalprice") - col("b.o_totalprice"), 2).as("price_diff"))
        .orderBy("rn")
  }

  // --- J3: anti-membership split (shard_loader.py:8-10,24-42) --------------
  register("q_j3_anti_membership",
    """SELECT l_suppkey, count(*) AS n_lines FROM lineitem
      |WHERE l_suppkey NOT IN (1, 2, 3, 4)
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(!col("l_suppkey").isin(1, 2, 3, 4))
      .groupBy("l_suppkey").agg(count(lit(1)).as("n_lines"))
      .orderBy("l_suppkey")
  }

  // --- U1: UNION ALL of sources (json_joiner.py:14-22) ----------------------
  register("q_u1_union_all",
    """SELECT lang, count(*) AS n FROM (
      |  SELECT lang FROM documents WHERE source = 'src1'
      |  UNION ALL
      |  SELECT lang FROM documents WHERE n_chars < 200
      |) GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    // r6: ONE corpus scan — a row contributes 1 per union branch it
    // satisfies, so n = Σ (I[src1] + I[n_chars<200]) over rows matching
    // either; rows matching both still count twice (UNION ALL semantics)
    // and langs with no matching row still emit no group. The former
    // two-filtered-scans + union shape read the table twice.
    t(s, dir, "documents")
      .filter(col("source") === "src1" || col("n_chars") < 200)
      .groupBy("lang")
      .agg(sum(when(col("source") === "src1", 1).otherwise(0) +
        when(col("n_chars") < 200, 1).otherwise(0)).as("n"))
      .orderBy("lang")
  }

  // --- U2: INTERSECT disjointness check (shard_loader.py:72-78) ------------
  register("q_u2_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")
  }

  // --- A1: group-count by key (full_dataset_analysis/main.py:18-39) --------
  register("q_a1_group_count",
    "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang") {
    (s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs")).orderBy("lang")
  }

  // --- A2: score histogram (main.py:19) — fixed-width bins ------------------
  register("q_a2_histogram",
    """SELECT cast(floor(value / 10.0) AS bigint) AS bucket, count(*) AS n
      |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n")).orderBy("bucket")
  }

  // --- A2 reference-bin fidelity: the reference bins score distributions by
  //     round(score, 2) (full_dataset_analysis/main.py:19) — same operator
  //     as q_a2_histogram with the reference's exact bin function ------------
  register("q_a2_histogram_round",
    """SELECT round(value, 2) AS bucket, count(*) AS n
      |FROM events WHERE value IS NOT NULL
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(round(col("value"), 2).as("bucket"))
      .agg(count(lit(1)).as("n")).orderBy("bucket")
  }

  // --- A3: min/max (main.py:52) ---------------------------------------------
  register("q_a3_minmax",
    """SELECT round(min(l_extendedprice), 2) AS min_price,
      |       round(max(l_extendedprice), 2) AS max_price,
      |       count(*) AS n FROM lineitem""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").agg(
      round(min("l_extendedprice"), 2).as("min_price"),
      round(max("l_extendedprice"), 2).as("max_price"),
      count(lit(1)).as("n"))
  }

  // --- A5: capped sum / token budget (token_analysis.py:16-21) -------------
  // DuckDB sum(INTEGER/BIGINT) returns HUGEINT, which pandas renders as
  // float64 and breaks the driver's value hash — CAST every integer sum
  // back to BIGINT in the oracle SQL (Spark's sum(long) is already long).
  register("q_a5_capped_sum",
    """SELECT CAST(sum(least(n_chars, 400)) AS BIGINT) AS capped_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents""".stripMargin) {
    (s, dir) =>
      t(s, dir, "documents").agg(
        sum(least(col("n_chars"), lit(400))).as("capped_chars"),
        sum("n_chars").as("total_chars"))
  }

  // --- A7: fraction over threshold (token_count_eda.py:72-76) --------------
  register("q_a7_frac_over_threshold",
    """SELECT round(avg(CASE WHEN n_chars >= 400 THEN 1.0 ELSE 0.0 END), 6)
      |       AS frac_long FROM documents""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").agg(
      round(avg(when(col("n_chars") >= 400, 1.0).otherwise(0.0)), 6)
        .as("frac_long"))
  }

  // --- A8/A9: match rate + RMSE/MAE over a join (test.py:24-45) ------------
  register("q_a8_a9_match_metrics",
    """SELECT round(avg(CASE WHEN l.l_returnflag = substr(o.o_orderpriority, 1, 1)
      |                 THEN 1.0 ELSE 0.0 END), 6) AS match_rate,
      |       round(sqrt(avg((l.l_quantity - l.l_linenumber) *
      |                      (l.l_quantity - l.l_linenumber))), 6) AS rmse,
      |       round(avg(abs(l.l_quantity - l.l_linenumber)), 6) AS mae
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin) {
    (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .agg(
          round(avg(when(col("l_returnflag") ===
            substring(col("o_orderpriority"), 1, 1), 1.0).otherwise(0.0)), 6)
            .as("match_rate"),
          round(sqrt(avg((col("l_quantity") - col("l_linenumber")) *
            (col("l_quantity") - col("l_linenumber")))), 6).as("rmse"),
          round(avg(abs(col("l_quantity") - col("l_linenumber"))), 6).as("mae"))
  }

  // --- A9b: Pearson + Spearman score correlation (small_model_inference/
  //     results.ipynb cell 6: pearsonr/spearmanr over reference-vs-model
  //     int scores; recorded 0.8668/0.8584). ref is the golden score, out a
  //     clipped planted perturbation of it — the reference's eval pair
  //     shape. Spearman uses TIE-AVERAGED ranks (scipy semantics): scores
  //     live in a small closed domain, so average ranks come from a tiny
  //     per-value count aggregate + broadcast join back — never a global
  //     ORDER BY window over the corpus (the single-task collapse Align
  //     exists to avoid). The oracle derives the identical average ranks
  //     with rank()+(cnt−1)/2 window algebra.
  register("q_a9_correlation",
    """WITH s AS (
      |  SELECT CAST(n_chars % 6 AS INT) AS ref,
      |         least(greatest(CAST(n_chars % 6 AS INT) +
      |           CASE WHEN doc_id % 11 = 0 THEN 1
      |                WHEN doc_id % 13 = 0 THEN -1 ELSE 0 END, 0), 5) AS out
      |  FROM documents),
      |r AS (
      |  SELECT ref, out,
      |         rank() OVER (ORDER BY ref)
      |           + (count(*) OVER (PARTITION BY ref) - 1) / 2.0 AS ref_rank,
      |         rank() OVER (ORDER BY out)
      |           + (count(*) OVER (PARTITION BY out) - 1) / 2.0 AS out_rank
      |  FROM s)
      |SELECT round(corr(ref, out), 6) AS pearson,
      |       round(corr(ref_rank, out_rank), 6) AS spearman,
      |       count(*) AS n_docs
      |FROM r""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val scored = t(s, dir, "documents").select(
      (col("n_chars") % 6).cast("int").as("ref"),
      least(greatest((col("n_chars") % 6).cast("int") +
          when(col("doc_id") % 11 === 0, 1)
            .when(col("doc_id") % 13 === 0, -1).otherwise(0),
        lit(0)), lit(5)).as("out"))
    // ONE corpus scan total: the (ref, out) contingency table (≤ 36 cells
    // over the 0–5 score domain) carries everything — both marginals
    // (hence both tie-averaged rank maps) and both correlations as
    // w-weighted sums. Joining rank maps back to the raw rows and calling
    // corr() would re-scan the corpus (and each un-materialized rank map
    // would re-run the groupBy over it); all math below runs on the
    // materialized tiny frame. The two-pass weighted formula differs from
    // the streaming corr() built-in by ~1 ulp — ranks reach n, so the
    // sums reach n³, but the covariance term is the same n³/12 order
    // (rank variance is n²/12): cancellation costs ~4 bits against a
    // 1e-6 rounding target.
    val cells = graft.analytics.Materialize(
      scored.groupBy("ref", "out").agg(count(lit(1)).as("w")))
    // tie-averaged rank of each distinct value: cnt_below + (cnt+1)/2,
    // from the per-value counts (≤ 6 rows — the unpartitioned running-sum
    // window is over that tiny frame, not the corpus)
    def avgRanks(c: String): DataFrame = {
      val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy(col(c)).agg(sum("w").as("cnt"))
        .withColumn(s"${c}_rank",
          coalesce(sum("cnt").over(w), lit(0L)) + (col("cnt") + 1) / 2.0)
        .select(col(c), col(s"${c}_rank"))
    }
    import org.apache.spark.sql.Column
    val wD = col("w").cast("double")
    def ws(e: Column): Column = sum(wD * e)
    val x = col("ref").cast("double")
    val y = col("out").cast("double")
    val rx = col("ref_rank")
    val ry = col("out_rank")
    def corrOf(sx: Column, sy: Column, sxy: Column, sxx: Column,
        syy: Column): Column =
      (sxy - sx * sy / col("n")) /
        sqrt((sxx - sx * sx / col("n")) * (syy - sy * sy / col("n")))
    cells
      .join(broadcast(avgRanks("ref")), Seq("ref"))
      .join(broadcast(avgRanks("out")), Seq("out"))
      .agg(sum(wD).as("n"),
        ws(x).as("sx"), ws(y).as("sy"), ws(x * y).as("sxy"),
        ws(x * x).as("sxx"), ws(y * y).as("syy"),
        ws(rx).as("srx"), ws(ry).as("sry"), ws(rx * ry).as("srxy"),
        ws(rx * rx).as("srxx"), ws(ry * ry).as("sryy"))
      .select(
        round(corrOf(col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("syy")), 6).as("pearson"),
        round(corrOf(col("srx"), col("sry"), col("srxy"), col("srxx"),
          col("sryy")), 6).as("spearman"),
        col("n").cast("long").as("n_docs"))
  }

  // --- A10: confusion-matrix counts (comparison.py:136) --------------------
  register("q_a10_confusion",
    """SELECT lang, source, count(*) AS n FROM documents
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("n")).orderBy("lang", "source")
  }

  // --- A10 wide form: label×pred pivoted confusion matrix (comparison.py:136,
  //     results.ipynb cells 6-11) — groupBy(label).pivot(pred).count() --------
  // the testdata contract's source domain — ONE definition feeds both the
  // Spark pivot's value list and the oracle's FILTER columns
  private val pivotSources: Seq[String] = graft.model.TestTables.documentSources
  register("q_a10_confusion_pivot",
    s"""SELECT lang,
       |${pivotSources.map(s =>
            s"  count(*) FILTER (WHERE source = '$s') AS $s").mkString(",\n")}
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val pivoted = t(s, dir, "documents")
      .groupBy("lang").pivot("source", pivotSources).count()
    // Spark pivot yields NULL for absent (label, pred) cells; the oracle's
    // FILTER count yields 0 — normalize to 0
    pivoted.select(col("lang") +:
      pivotSources.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("lang")
  }

  // --- A10 derived: per-class precision/recall/F1 from the label×pred
  //     confusion counts (results.ipynb cells 7-11 report keep/drop and
  //     per-task class metrics). pred = label with planted confusion ------
  register("q_class_metrics",
    """WITH t AS (
      |  SELECT lang AS label,
      |         CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS pred
      |  FROM documents),
      |m AS (SELECT label, pred, count(*) AS n FROM t GROUP BY label, pred),
      |diag AS (SELECT label AS c, sum(n) AS tp FROM m
      |         WHERE label = pred GROUP BY label),
      |predt AS (SELECT pred AS c, sum(n) AS predn FROM m GROUP BY pred),
      |labt AS (SELECT label AS c, sum(n) AS labn FROM m GROUP BY label)
      |SELECT labt.c AS lang,
      |       round(coalesce(diag.tp, 0) * 1.0 / predt.predn, 6) AS precision,
      |       round(coalesce(diag.tp, 0) * 1.0 / labt.labn, 6) AS recall,
      |       round(2.0 * coalesce(diag.tp, 0) /
      |             (predt.predn + labt.labn), 6) AS f1
      |FROM labt JOIN predt ON labt.c = predt.c
      |LEFT JOIN diag ON diag.c = labt.c
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val t0 = t(s, dir, "documents").select(col("lang").as("label"),
      when(col("doc_id") % 7 === 0, "en").otherwise(col("lang")).as("pred"))
    // r6: the confusion-count frame feeds THREE aggregate branches
    // (diag/predt/labt) whose pruned subtrees defeat ReusedExchange —
    // unmaterialized, each branch re-scanned and re-aggregated the whole
    // corpus (3 scans). Materializing the ≤ |labels|·|preds| cell frame
    // makes it ONE corpus scan + tiny-frame math, the q_a9_correlation
    // contingency-table shape.
    val m = graft.analytics.Materialize(
      t0.groupBy("label", "pred").agg(count(lit(1)).as("n")))
    val diag = m.filter(col("label") === col("pred"))
      .groupBy(col("label").as("c")).agg(sum("n").as("tp"))
    val predt = m.groupBy(col("pred").as("c")).agg(sum("n").as("predn"))
    val labt = m.groupBy(col("label").as("c")).agg(sum("n").as("labn"))
    // F1 = 2·tp / (predn + labn) — algebraically 2PR/(P+R), no 0/0 risk
    labt.join(predt, "c").join(diag, Seq("c"), "left")
      .select(col("c").as("lang"),
        round(coalesce(col("tp"), lit(0L)) * 1.0 / col("predn"), 6)
          .as("precision"),
        round(coalesce(col("tp"), lit(0L)) * 1.0 / col("labn"), 6)
          .as("recall"),
        round(lit(2.0) * coalesce(col("tp"), lit(0L)) /
          (col("predn") + col("labn")), 6).as("f1"))
      .orderBy("lang")
  }

  // --- A11: distribution normalize (ro_vs_eng/main.ipynb cell 4) -----------
  register("q_a11_normalize",
    """SELECT lang, round(count(*) * 1.0 /
      |       (SELECT count(*) FROM documents), 6) AS frac
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("cnt"))
      .select(col("lang"),
        round(col("cnt") * 1.0 / sum("cnt").over(Window.partitionBy()), 6)
          .as("frac"))
      .orderBy("lang")
  }

  // --- W1: top-k per group (small_model_inference.py:86-93 shape) ----------
  register("q_w1_topk_per_group",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin) {
    (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3).orderBy("o_custkey", "rk")
  }

  // --- W2: argmax per group (inference_dataset.py:130-131) ------------------
  register("q_w2_argmax",
    """SELECT lang, min(doc_id) AS argmax_doc FROM documents d
      |WHERE n_chars = (SELECT max(n_chars) FROM documents d2
      |                 WHERE d2.lang = d.lang)
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    // r6: one partial-aggregating groupBy instead of a full-corpus window
    // sort — the former rk=1 row per lang is exactly the (max n_chars,
    // min doc_id) argmax, i.e. max_by over the total order
    // (n_chars, −doc_id); map-side combine shrinks the one exchange to
    // ≤ one row per (task, lang) where the window shape shuffled and
    // sorted every corpus row
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
        .as("argmax_doc"))
      .orderBy("lang")
  }

  // --- W4/S8: deterministic limit (small_dataset_gen.py:24,58) -------------
  register("q_w4_limit",
    """SELECT doc_id, n_chars FROM documents
      |ORDER BY n_chars DESC, doc_id LIMIT 25""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").select("doc_id", "n_chars")
      .orderBy(col("n_chars").desc, col("doc_id")).limit(25)
  }

  // --- X3/X4/X5: round / clip / cast projections (comparison.py:133-134,
  //     all_tasks_bert.py:347-348) -------------------------------------------
  register("q_x4_clip_round_cast",
    """SELECT l_orderkey, l_linenumber,
      |       cast(least(greatest(round(l_quantity / 10.0), 0), 5) AS int)
      |         AS clipped_score,
      |       cast(trunc(l_discount * 10) AS int) AS trunc_disc
      |FROM lineitem WHERE l_orderkey <= 50
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") <= 50)
      .select(col("l_orderkey"), col("l_linenumber"),
        least(greatest(round(col("l_quantity") / 10.0), lit(0)), lit(5))
          .cast("int").as("clipped_score"),
        (col("l_discount") * 10).cast("int").as("trunc_disc"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // --- X9: isdigit guard (big_inference.py:102-103) -------------------------
  register("q_x9_isdigit",
    """SELECT p_partkey, regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num
      |FROM part
      |WHERE regexp_matches(regexp_extract(p_brand, '([0-9]+)$', 1), '^[0-9]+$')
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_brand"), "([0-9]+)$", 1).as("brand_num"))
      .filter(col("brand_num").rlike("^[0-9]+$"))
      .orderBy("p_partkey")
  }

  // --- A4: exact percentile grid — the reference's FULL 10-point grid
  //     90.5…95.0 step 0.5 (quantiles_fetcher.py:56-65, grid :61), generated
  //     from the one DerivedThresholds.ReferenceGrid definition on both the
  //     Spark and oracle sides --------------------------------------------
  private def gridName(q: Double): String = s"p${math.round(q * 1000)}"
  register("q_a4_percentile_grid",
    s"""SELECT ${DerivedThresholds.ReferenceGrid.map(q =>
         s"round(quantile_cont(value, $q), 6) AS ${gridName(q)}")
         .mkString(",\n       ")}
       |FROM events""".stripMargin) { (s, dir) =>
    // r6: one percentile(value, array(grid)) aggregate — the former
    // 10-aggregate spelling built 10 identical exact-percentile count
    // buffers; the array form interpolates all 10 points from one buffer
    // (identical doubles)
    val grid = DerivedThresholds.ReferenceGrid
    t(s, dir, "events")
      .agg(percentile(col("value"), typedlit(grid)).as("_ps"))
      .select(grid.zipWithIndex.map { case (q, i) =>
        round(element_at(col("_ps"), i + 1), 6).as(gridName(q))
      }: _*)
  }

  // --- A6: mean / exact median (tokenize_fineweb2.py:33-34) ----------------
  register("q_a6_mean_median",
    """SELECT round(avg(value), 6) AS mean_value,
      |       round(median(value), 6) AS median_value FROM events""".stripMargin) {
    (s, dir) =>
      t(s, dir, "events").agg(
        round(avg("value"), 6).as("mean_value"),
        round(median(col("value")), 6).as("median_value"))
  }

  // --- F6: nested-field predicate (ground.py:49) — JSON props --------------
  register("q_f6_nested_field",
    """SELECT event_type, count(*) AS n FROM events
      |WHERE CAST(json_extract(props, '$.k') AS INT) >= 50
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .withColumn("k",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k"))
      .filter(col("k") >= 50)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // --- X7: token counting over text (token_stats.py:11-13) -----------------
  register("q_x7_token_stats",
    """SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
      |       max(len(string_split(text, ' '))) AS max_tokens
      |FROM documents""".stripMargin) { (s, dir) =>
    val nTok = size(split(col("text"), " "))
    t(s, dir, "documents").agg(
      sum(nTok).as("total_tokens"),
      round(avg(nTok), 6).as("avg_tokens"),
      max(nTok).as("max_tokens"))
  }

  // --- X7 BPE-ish variant: pretokenizer-regex token counting (the budget
  //     proxy for the reference's HF tokenizer, token_stats.py:11-13) — the
  //     same GPT-2-style pattern on both engines (restricted to the
  //     java.regex ∩ RE2 feature set, so counts agree exactly) -------------
  register("q_x7_token_bpe", {
    // DuckDB standard string literals keep backslashes verbatim — only the
    // single quotes in the pattern need doubling
    val p = graft.functions.TextFunctions.BpeIshPattern.replace("'", "''")
    s"""SELECT CAST(sum(len(regexp_extract_all(text, '$p'))) AS BIGINT)
       |         AS total_bpe_tokens,
       |       round(avg(len(regexp_extract_all(text, '$p'))), 6)
       |         AS avg_bpe_tokens,
       |       max(len(regexp_extract_all(text, '$p'))) AS max_bpe_tokens
       |FROM documents""".stripMargin
  }) { (s, dir) =>
    val n = graft.functions.TextFunctions.tokenCountBpe(col("text"))
    t(s, dir, "documents").agg(
      sum(n).cast("long").as("total_bpe_tokens"),
      round(avg(n), 6).as("avg_bpe_tokens"),
      max(n).as("max_bpe_tokens"))
  }

  // --- dedup 1: exact hash-groupBy over a corpus with planted duplicates ---
  register("q_dedup_exact",
    """SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keeper_id
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL
      |      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |      WHERE doc_id % 3 = 0)
      |GROUP BY md5(text) HAVING count(*) > 1 ORDER BY text_md5""".stripMargin) {
    (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val planted = d.unionByName(
        d.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.dedup.Dedup.exactDupGroups(planted, "doc_id", "text")
        .orderBy("text_md5")
  }

  // --- dedup 2: word-set Jaccard within a bounded group ---------------------
  // size-ratio pruning on both engines: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
  // so J ≥ 0.9 requires the set sizes to be within 10% — checked BEFORE the
  // expensive intersect/union (standard similarity-join prefix/size filter)
  // Exact Jaccard similarity join via PREFIX FILTERING (Dedup
  // .jaccardPrefixJoin): candidates come from an equi-join on
  // (grp, prefix-token) — never a group-quadratic theta-join. Both engines
  // apply their own prefix filter (the candidate SUPERSETS may differ — the
  // hash orders differ — but prefix filtering is lossless, so the verified
  // J ≥ 0.9 output is identical). jaccard = i / (|A| + |B| − i): one
  // intersection per surviving pair.
  private val jaccardGroupOracle =
    """WITH sets AS (
      |  SELECT source AS grp, doc_id,
      |    list_transform(
      |      list_sort(list_transform(list_distinct(string_split(text, ' ')),
      |        w -> {'h': hash(w), 'tok': w})),
      |      s -> s.tok) AS sh
      |  FROM documents),
      |ss AS (
      |  SELECT grp, doc_id, sh, len(sh) AS sz,
      |         sh[1 : CAST(len(sh)
      |           - ceil(len(sh) * 0.9 - 0.000000001) + 1 AS INT)] AS prefix
      |  FROM sets WHERE len(sh) > 0),
      |tok AS (SELECT grp, doc_id, sz, unnest(prefix) AS tok FROM ss),
      |cand AS (
      |  SELECT DISTINCT x.grp AS grp, x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM tok x JOIN tok y
      |    ON x.grp = y.grp AND x.tok = y.tok AND x.doc_id < y.doc_id
      |   AND x.sz >= 0.9 * y.sz - 0.000000001
      |   AND y.sz >= 0.9 * x.sz - 0.000000001),
      |v AS (
      |  SELECT c.grp, c.id_a, c.id_b,
      |         len(list_intersect(a.sh, b.sh)) * 1.0 /
      |           (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM cand c JOIN ss a ON a.doc_id = c.id_a AND a.grp = c.grp
      |              JOIN ss b ON b.doc_id = c.id_b AND b.grp = c.grp)
      |SELECT grp, id_a, id_b, round(jaccard, 6) AS jaccard
      |FROM v WHERE jaccard >= 0.9
      |ORDER BY grp, id_a, id_b""".stripMargin

  register("q_dedup_jaccard_group", jaccardGroupOracle) { (s, dir) =>
    // doc_id is unique in the documents table → the duplicate-id merge
    // aggregate is skipped by contract (the guard path is spec-pinned in
    // DedupSpec on an input WITH duplicate ids)
    graft.dedup.Dedup.jaccardPrefixJoin(
        t(s, dir, "documents"), "doc_id", "text", "source", minJaccard = 0.9,
        assumeUniqueIds = true)
      .orderBy("grp", "id_a", "id_b")
  }

  // Same oracle, Spark side under the RARE-FIRST frequency order — the
  // 100-TB token ordering (stopword-led prefixes otherwise hot-key the
  // candidate join). Prefix filtering is lossless under ANY shared total
  // order, so the verified output is identical; the driver artifact now
  // checks the production ordering, not just the hash default.
  register("q_dedup_jaccard_freq", jaccardGroupOracle) { (s, dir) =>
    graft.dedup.Dedup.jaccardPrefixJoin(
        t(s, dir, "documents"), "doc_id", "text", "source", minJaccard = 0.9,
        freqOrder = true, assumeUniqueIds = true)
      .orderBy("grp", "id_a", "id_b")
  }

  // --- dedup: duplicate-cluster formation (connected components over
  //     candidate edges — the reference corpus carries the result as
  //     minhash_cluster_size, fineweb2_download.py:22). Edges are a
  //     deterministic arithmetic graph (5-node stars, every 5th pair of
  //     stars bridged) so DuckDB reproduces them; the oracle computes the
  //     components with a recursive CTE while Spark runs distributed
  //     min-label propagation ---------------------------------------------
  register("q_dedup_clusters",
    """WITH RECURSIVE
      |edges AS (
      |  SELECT doc_id AS a, doc_id - (doc_id % 5) AS b FROM documents
      |  WHERE doc_id % 5 <> 0
      |  UNION ALL
      |  SELECT doc_id AS a, doc_id + 5 AS b FROM documents
      |  WHERE doc_id % 25 = 0),
      |bi AS (SELECT a AS src, b AS dst FROM edges
      |       UNION SELECT b, a FROM edges),
      |reach(id, label) AS (
      |  SELECT DISTINCT src, src FROM bi
      |  UNION
      |  SELECT b.dst, r.label FROM reach r JOIN bi b ON r.id = b.src),
      |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
      |SELECT cc.id AS id, cc.cluster_id AS cluster_id, s.cluster_size
      |FROM cc JOIN (SELECT cluster_id, count(*) AS cluster_size FROM cc
      |              GROUP BY cluster_id) s USING (cluster_id)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents").select("doc_id")
    val star = d.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") - col("doc_id") % 5).as("id_b"))
    val chain = d.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 5).as("id_b"))
    graft.dedup.Dedup.withClusterSizes(
      graft.dedup.Dedup.dupClusters(star.unionByName(chain)).labels)
      .orderBy("id")
  }

  // --- dedup 3: MinHash+LSH near-dups on planted duplicates (not SQL-
  //     expressible — verified in DedupSpec against a scalar oracle) --------
  register("q_dedup_minhash_lsh", null) { (s, dir) =>
    val d = t(s, dir, "documents").select("doc_id", "text")
    val planted = d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.dedup.Dedup.minhashNearDups(planted, "doc_id", "text",
      minJaccard = 0.9).pairs.orderBy("id_a", "id_b")
  }

  // --- dedup 4: SimHash signatures + fingerprints (expressions; rows-only) -
  register("q_dedup_simhash_fingerprint", null) { (s, dir) =>
    import graft.functions.TextFunctions._
    t(s, dir, "documents")
      .select(col("doc_id"),
        simhash64(graft.functions.Tokenize.norm_tokens(col("text")))
          .as("simhash"),
        doc_fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  // --- dedup 5: SimHash near-dups on planted duplicates (rows-only) --------
  register("q_dedup_simhash_pairs", null) { (s, dir) =>
    val d = t(s, dir, "documents").select("doc_id", "text")
    val planted = d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.dedup.Dedup.simhashNearDups(planted, "doc_id", "text")
      .pairs.orderBy("id_a", "id_b")
  }

  // --- dedup 6: benchmark decontamination (GPT-3 appendix C n-gram rule) ---
  // eval set = every 97th doc, corpus = the rest; a corpus doc is
  // contaminated when it shares word n-grams with ANY eval doc. n = 3 here
  // because the synthetic docs are ~50 words (the production default is the
  // GPT-3 13); gram identity is the shared 64-bit shingle hash on the Spark
  // side vs gram STRINGS in DuckDB — equal strings hash equal, so the
  // distinct-overlap counts agree (64-bit token and gram hashes: a
  // collision is a ~k²/2⁶⁵ event on k distinct grams).
  private val decontamGramCtes =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |dg AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, array_to_string(ws[u : u + 2], ' ') AS g
      |    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS u
      |          FROM toks WHERE len(ws) >= 3))),
      |bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0),
      |corpus AS (SELECT doc_id, g FROM dg WHERE doc_id % 97 <> 0),
      |hits AS (SELECT c.doc_id, count(*) AS n_hit_grams
      |         FROM corpus c JOIN bench b USING (g) GROUP BY c.doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus
      |        GROUP BY doc_id)""".stripMargin

  register("q_decontam_hits",
    s"""$decontamGramCtes
       |SELECT h.doc_id AS id, t.n_grams, h.n_hit_grams,
       |       round(h.n_hit_grams * 1.0 / t.n_grams, 6) AS hit_frac
       |FROM hits h JOIN tot t USING (doc_id)
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents")
    graft.dedup.Decontaminate.gramHits(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3)
      .withColumn("n_grams", col("n_grams").cast("long"))
      .orderBy("id")
  }

  register("q_decontam_survivors",
    s"""$decontamGramCtes
       |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
       |WHERE d.doc_id % 97 <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM hits WHERE n_hit_grams >= 2)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents")
    graft.dedup.Decontaminate.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        n = 3, minHits = 2)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** The embeddings table with `embedding` as array<double>: the codegen'd
    * array Cast (the per-element transform(...) HOF lambda it replaces is
    * CodegenFallback; values are the identical float→double widening).
    */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))

  // --- similarity 1: brute-force cosine top-k (exact baseline) -------------
  register("q_ann_cosine_topk",
    """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6)
      |         AS cosine,
      |       row_number() OVER (PARTITION BY q.vec_id
      |         ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
      |                  c.vec_id) AS rk
      |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |WHERE q.vec_id < 5
      |QUALIFY rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, dir) =>
    val emb = embeddings(s, dir)
    graft.similarity.Ann.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "vec_id", "embedding", 3)
      .orderBy("query_id", "rk")
  }

  // --- similarity 2: LSH-bucketed ANN (scale path; rows-only) --------------
  register("q_ann_lsh_topk", null) { (s, dir) =>
    val emb = embeddings(s, dir)
    graft.similarity.Ann.lshTopK(emb.filter(col("vec_id") < 50), emb,
      "vec_id", "vec_id", "embedding", 3, planes = 6).orderBy("query_id", "rk")
  }

  // --- similarity 2b: IVF-bucketed ANN (the inverted-file scale path;
  //     deterministic sample-trained coarse quantizer; rows-only) ----------
  register("q_ann_ivf_topk", null) { (s, dir) =>
    val emb = embeddings(s, dir)
    val cents = graft.similarity.Ann.trainIvfCentroids(
      emb, "vec_id", "embedding", nlist = 8)
    graft.similarity.Ann.ivfTopK(emb.filter(col("vec_id") < 50), emb,
      "vec_id", "vec_id", "embedding", 3, cents, nprobe = 3)
      .orderBy("query_id", "rk")
  }

  /** The embeddings table (as array<double>) plus a planted exact copy of
    * every 9th vector under id + 1,000,000 — the near-dup input shared by
    * both embedding near-dup queries.
    */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    emb.select("vec_id", "embedding").unionByName(
      emb.filter(col("vec_id") % 9 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .select("vec_id", "embedding"))
  }

  // --- similarity 3: embedding near-dup pairs (rows-only; planted dups) ----
  register("q_ann_near_dups", null) { (s, dir) =>
    graft.dedup.Dedup.embeddingNearDups(plantedEmbeddings(s, dir), "vec_id",
      "embedding", minCosine = 0.999).pairs.orderBy("id_a", "id_b")
  }

  // --- similarity 3b: banded embedding near-dup (the recall dial — 4 sign
  //     bands of 12 planes; candidates on ANY band agreement, one exact
  //     verify join; rows-only, superset-of-single-band spec-pinned) -------
  register("q_ann_near_dups_banded", null) { (s, dir) =>
    graft.dedup.Dedup.embeddingNearDups(plantedEmbeddings(s, dir), "vec_id",
      "embedding", minCosine = 0.999, bands = 4).pairs.orderBy("id_a", "id_b")
  }

  // --- text analysis: per-doc quality metrics (C4-ish, oracle-checked) -----
  register("q_text_quality",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_words,
      |       round(n_chars * 1.0 / len(string_split(text, ' ')), 6)
      |         AS chars_per_word,
      |       CASE WHEN n_chars >= 200 AND len(string_split(text, ' ')) >= 30
      |            THEN 1 ELSE 0 END AS quality_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val nWords = size(split(col("text"), " "))
    t(s, dir, "documents").select(col("doc_id"),
      nWords.as("n_words"),
      round(col("n_chars") * 1.0 / nWords, 6).as("chars_per_word"),
      when(col("n_chars") >= 200 && nWords >= 30, 1).otherwise(0)
        .as("quality_ok"))
      .orderBy("doc_id")
  }

  // --- X1: declarative annotation-field extraction (oracle-checked subset;
  //     full *-stripping/ERROR parser is the parse_annotation UDF, tested in
  //     AnnotationsSpec) ----------------------------------------------------
  register("q_x1_parse_extract",
    """WITH ann AS (
      |  SELECT doc_id,
      |         'Topic: ' || lang || chr(10) ||
      |         'Valoare educațională: ' || CAST(n_chars % 6 AS VARCHAR)
      |           AS output FROM documents)
      |SELECT doc_id,
      |       regexp_extract(output, 'Topic: ([^\n]*)', 1) AS topic,
      |       CAST(regexp_extract(output, 'Valoare educațională: ([0-9]+)', 1)
      |            AS INT) AS int_score
      |FROM ann ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("output",
        concat(lit("Topic: "), col("lang"), lit("\n"),
          lit("Valoare educațională: "), (col("n_chars") % 6).cast("string")))
      .select(col("doc_id"),
        regexp_extract(col("output"), "Topic: ([^\n]*)", 1).as("topic"),
        regexp_extract(col("output"), "Valoare educațională: ([0-9]+)", 1)
          .cast("int").as("int_score"))
      .orderBy("doc_id")
  }

  // --- X1 full parser over constructed noisy outputs (rows-only) -----------
  register("q_x1_parse_full", null) { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("output",
        concat(lit("** Topic: "), col("lang"), lit("\n"),
          lit("Subtopic: "), col("source"), lit("\n"),
          lit("* Valoare educațională: "), (col("n_chars") % 6).cast("string")))
      .select(col("doc_id"),
        graft.functions.Annotations.parse_annotation(col("output")).as("ann"))
      .select(col("doc_id"), col("ann.topic"), col("ann.int_score"),
        col("ann.problem"))
      .orderBy("doc_id")
  }

  // --- N5 pipeline over the synthetic page corpus (rows-only; the full
  //     golden check is PipelineGoldenSpec) ---------------------------------
  register("q_n5_pipeline_keep", null) { (s, _) =>
    graft.pipeline.QualityPipeline
      .annotate(graft.synth.SynthPages.pages(s, 4000L))
      .groupBy("lang_pred", "keep")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("ppl"), 2).as("avg_ppl"),
        sum(col("n_emails") + col("n_phones") + col("n_cnps")).as("n_pii"))
      .orderBy("lang_pred", "keep")
  }

  // --- multimodal: binary payload metadata + per-partition feature extraction.
  //     Images (hash%3==0: synthetic PNG) decode FOR REAL via javax.imageio
  //     → width/height/channel stats; WAV audio (hash%3==1: synthetic PCM)
  //     decodes FOR REAL via javax.sound.sampled → rate/channels/duration/
  //     RMS; remaining mimes fall back to the labeled stub (rows-only;
  //     fixture-pinned in MultimodalSpec). avg_feat1/avg_feat2 are the
  //     per-mime means of feature slots 1–2 (width/height for images,
  //     sample-rate/channels for audio) -----------------------------------
  register("q_multimodal_media", null) { (s, _) =>
    val feats = graft.multimodal.Multimodal.extractFeatures(
      mediaPayloads(s, 500L))
    feats.toDF().groupBy("mime")
      .agg(count(lit(1)).as("n"), sum("n_bytes").as("total_bytes"),
        sum(col("decoded").cast("long")).as("n_decoded"),
        round(avg(element_at(col("features"), 1)), 2).as("avg_feat1"),
        round(avg(element_at(col("features"), 2)), 2).as("avg_feat2"))
      .orderBy("mime")
  }

  /** Deterministic media payloads over the synthetic corpus: a third PNG
    * (real decode), a third WAV (real decode), a third raw html bytes
    * (stub path) — shared by both multimodal queries so their goldens
    * derive from one corpus definition.
    */
  private def mediaPayloads(s: SparkSession, n: Long)
      : org.apache.spark.sql.Dataset[(String, Array[Byte])] = {
    import s.implicits._
    graft.synth.SynthPages.pages(s, n).map { p =>
      val m = math.floorMod(p.url.hashCode, 3)
      val seed = p.url.length.toLong * 2654435761L + p.url.hashCode
      (p.url,
        if (m == 0) graft.multimodal.Multimodal.synthPng(seed)
        else if (m == 1) graft.multimodal.Multimodal.synthWav(seed)
        else p.html)
    }
  }

  // --- multimodal 2: resize + frame/window sampling (rows-only; golden-
  //     pinned). One row per op: resize emits orig/output dims + the md5 of
  //     the re-encoded PNG; frame emits the window index, its time offset
  //     (ms, exact — sample-rate multiples) and the md5 of the raw PCM
  //     window. Binary payloads surface as md5 so the golden is stable and
  //     readable. ------------------------------------------------------------
  register("q_multimodal_transform", null) { (s, _) =>
    // materialized once: the resize and frame branches of the union are
    // planned independently, which would re-synthesize every payload
    val payloads = Materialize(mediaPayloads(s, 200L))
    val resized = graft.multimodal.Multimodal.resizeImages(payloads, maxDim = 6)
      .toDF().select(col("url"), lit("resize").as("op"),
        lit(0).as("idx"), col("mime"),
        col("orig_w").as("a"), col("orig_h").as("b"),
        col("width").as("c"), col("height").as("d"),
        md5(col("png")).as("payload_md5"), col("decoded"))
    val frames = graft.multimodal.Multimodal.sampleFrames(payloads, n = 3)
      .toDF().select(col("url"), lit("frame").as("op"),
        col("frame_idx").as("idx"), col("mime"),
        round(col("t_offset_sec") * 1000).cast("int").as("a"),
        length(col("frame")).as("b").cast("int"),
        lit(0).as("c"), lit(0).as("d"),
        md5(col("frame")).as("payload_md5"), col("decoded"))
    resized.unionByName(frames).orderBy("url", "op", "idx")
  }

  // --- W1: per-row top-k over an array column (small_model_inference.py:
  //     86-93 — torch.topk(probs, 3) per doc; no shuffle) --------------------
  register("q_w1_row_topk",
    """SELECT vec_id,
      |  round(list_reverse_sort(CAST(embedding AS DOUBLE[]))[1], 6) AS t1,
      |  round(list_reverse_sort(CAST(embedding AS DOUBLE[]))[2], 6) AS t2,
      |  round(list_reverse_sort(CAST(embedding AS DOUBLE[]))[3], 6) AS t3
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val sorted = reverse(array_sort(col("embedding").cast("array<double>")))
    t(s, dir, "embeddings").select(col("vec_id"),
      round(element_at(sorted, 1), 6).as("t1"),
      round(element_at(sorted, 2), 6).as("t2"),
      round(element_at(sorted, 3), 6).as("t3"))
      .orderBy("vec_id")
  }

  // --- X8: per-row softmax via higher-order functions (small_model_
  //     inference.py:70-72) --------------------------------------------------
  register("q_x8_softmax",
    """SELECT vec_id,
      |  round(exp(embedding[1] - list_max(CAST(embedding AS DOUBLE[]))) /
      |    list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> exp(x - list_max(CAST(embedding AS DOUBLE[]))))), 6) AS p0
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    // native softmax_arr (one codegen'd pass) — p0 is element 1 of the
    // softmax array; the HOF spelling (array_max + 2 transform + aggregate,
    // all CodegenFallback) computed exp(e[1]-m)/Σexp(e[i]-m) with the same
    // IEEE ops in the same order, so the doubles are bit-identical
    // (ArrayMathParitySpec pins it; the DuckDB oracle is unchanged)
    val emb = col("embedding").cast("array<double>")
    t(s, dir, "embeddings").select(col("vec_id"),
      round(element_at(graft.functions.ArrayMath.softmax_arr(emb), 1), 6)
        .as("p0"))
      .orderBy("vec_id")
  }

  // --- A1 one-shuffle variant: GROUPING SETS over both keys (SURVEY §2.4
  //     note — the reference's three parallel key-counts in one pass) -------
  register("q_a1_grouping_sets",
    """SELECT coalesce(lang, 'ALL') AS lang_g, coalesce(source, 'ALL') AS source_g,
      |       count(*) AS n
      |FROM documents GROUP BY GROUPING SETS ((lang), (source))
      |ORDER BY lang_g, source_g""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source"))),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
        coalesce(col("source"), lit("ALL")).as("source_g"), col("n"))
      .orderBy("lang_g", "source_g")
  }

  // --- X2: prompt assembly (big_inference.py:131-137,171-207) — one common
  //     template split at the first %s, per-doc token-budget truncation,
  //     before ∥ text ∥ after; md5 pins the assembled bytes on both engines -
  private val PromptTemplate =
    "Analizează pagina web de mai jos.\n%s\nRăspunde cu Topic, Subtopic și Valoare educațională (0-5)."
  register("q_x2_prompt_assembly", {
    val (before, after) = graft.functions.Prompts.splitTemplate(PromptTemplate)
    s"""SELECT doc_id,
       |  length('$before' || array_to_string(string_split(text, ' ')[1:32], ' ')
       |    || '$after') AS n_prompt_chars,
       |  md5('$before' || array_to_string(string_split(text, ' ')[1:32], ' ')
       |    || '$after') AS prompt_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    val prompt = graft.functions.Prompts.assemble(col("text"), PromptTemplate, 32)
    t(s, dir, "documents")
      .select(col("doc_id"),
        length(prompt).as("n_prompt_chars"),
        md5(prompt.cast("binary")).as("prompt_md5"))
      .orderBy("doc_id")
  }

  // --- A4∘F1 composition: percentile grid → pick 92nd → threshold filter ---
  // (quantiles_fetcher.py:56-65 grid; run.sh:4-6 picks the 92nd; the derived
  // threshold feeds filter_jql.py:27). One plan: grid agg → broadcast 1-row
  // threshold → filter; the corpus is never collected.
  register("q_pct_threshold_filter",
    """WITH th AS (SELECT quantile_cont(value, 0.92) AS threshold FROM events)
      |SELECT round((SELECT threshold FROM th), 6) AS threshold,
      |       count(*) AS n_kept,
      |       round(avg(value), 6) AS avg_kept,
      |       round(min(value), 6) AS min_kept
      |FROM events WHERE value >= (SELECT threshold FROM th)""".stripMargin) {
    (s, dir) =>
      DerivedThresholds.filterByDerivedPercentile(
          t(s, dir, "events"), "value", DerivedThresholds.ReferenceGrid, 0.92)
        .agg(round(first(col("threshold")), 6).as("threshold"),
          count(lit(1)).as("n_kept"),
          round(avg("value"), 6).as("avg_kept"),
          round(min("value"), 6).as("min_kept"))
  }

  // --- small-model record schema (c): per-task top-3 (class, prob) ---------
  // (small_model_inference.py:77-93). Split across three queries:
  //  1. q_smallmodel_topk — the softmax→top-3→columns EXTRACTION, oracle-
  //     checked: logits are a deterministic SQL-expressible function of
  //     doc_id so DuckDB reproduces them, labels are the REAL age_group
  //     taxonomy, and both engines run softmax + (prob desc, idx) top-3.
  private def ageLabelsSqlList: String =
    graft.model.Taxonomy.ageGroups.map(l => s"'$l'").mkString("[", ",", "]")
  register("q_smallmodel_topk",
    s"""WITH e AS (
       |  SELECT doc_id, CAST(i AS INT) AS i,
       |         ((doc_id * 31 + i * 17) % 97) / 10.0 AS logit
       |  FROM documents, range(6) t(i)),
       |m AS (
       |  SELECT doc_id, i,
       |         exp(logit - max(logit) OVER (PARTITION BY doc_id)) AS u
       |  FROM e),
       |p AS (
       |  SELECT doc_id, i, u / sum(u) OVER (PARTITION BY doc_id) AS prob
       |  FROM m),
       |r AS (
       |  SELECT doc_id, i, prob,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY prob DESC, i) AS rk
       |  FROM p)
       |SELECT doc_id,
       |${(1 to 3).map(j =>
           s"""  max(CASE WHEN rk=$j THEN $ageLabelsSqlList[i+1] END)
              |    AS age_group_class_$j,
              |  round(max(CASE WHEN rk=$j THEN prob END), 6)
              |    AS age_group_prob_$j""".stripMargin).mkString(",\n")}
       |FROM r WHERE rk <= 3 GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      import graft.functions.{ArrayMath, TopK}
      // literal 6-slot array of codegen expressions — the former
      // transform(sequence(0,5), ...) HOF evaluated the lambda interpreted
      // per element; the arithmetic (long*31 + int, % 97, /10.0) and hence
      // every logit value is identical
      val logits = array((0 to 5).map(i =>
        ((col("doc_id") * 31 + lit(i * 17)) % 97) / 10.0): _*)
      t(s, dir, "documents")
        .select(col("doc_id") +:
          TopK.topKClassColumns(ArrayMath.softmax_arr(logits),
            graft.model.Taxonomy.ageGroups, 3, "age_group"): _*)
        .orderBy("doc_id")
  }

  //  2. q_f4_taxonomy — the validity filter on the REAL closed taxonomies
  //     (training/all_tasks_bert.py:556-566): label ∈ taxonomy for all three
  //     tasks AND 0 ≤ int_score ≤ 5, over annotation-shaped rows with
  //     planted invalid labels/scores.
  register("q_f4_taxonomy", {
    val tx = graft.model.Taxonomy
    def lst(xs: Seq[String]) = xs.map(l => s"'$l'").mkString("[", ",", "]")
    def inList(xs: Seq[String]) = xs.map(l => s"'$l'").mkString("(", ",", ")")
    s"""WITH ann AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN 'INVALID_TOPIC'
       |         ELSE ${lst(tx.topics)}[CAST(doc_id % 24 AS INT) + 1] END AS topic,
       |    CASE WHEN doc_id % 13 = 0 THEN 'Eseu'
       |         ELSE ${lst(tx.formats)}[CAST(doc_id % 24 AS INT) + 1] END AS format,
       |    CASE WHEN doc_id % 17 = 0 THEN 'Adult'
       |         ELSE ${lst(tx.ageGroups)}[CAST(doc_id % 6 AS INT) + 1] END AS age_group,
       |    CAST(n_chars % 8 AS INT) - 1 AS int_score
       |  FROM documents)
       |SELECT doc_id, topic, format, age_group, int_score FROM ann
       |WHERE topic IN ${inList(tx.topics)}
       |  AND format IN ${inList(tx.formats)}
       |  AND age_group IN ${inList(tx.ageGroups)}
       |  AND int_score BETWEEN 0 AND 5
       |ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    val tx = graft.model.Taxonomy
    def pick(xs: Seq[String], m: Int) =
      element_at(typedlit(xs), (col("doc_id") % m).cast("int") + 1)
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, "INVALID_TOPIC")
          .otherwise(pick(tx.topics, 24)).as("topic"),
        when(col("doc_id") % 13 === 0, "Eseu")
          .otherwise(pick(tx.formats, 24)).as("format"),
        when(col("doc_id") % 17 === 0, "Adult")
          .otherwise(pick(tx.ageGroups, 6)).as("age_group"),
        ((col("n_chars") % 8).cast("int") - 1).as("int_score"))
      .filter(col("topic").isin(tx.topics: _*) &&
        col("format").isin(tx.formats: _*) &&
        col("age_group").isin(tx.ageGroups: _*) &&
        col("int_score").between(0, 5))
      .orderBy("doc_id")
  }

  // --- per-field benchmark accuracy (benchmark/benchmark_llms.py:71-88):
  //     a small golden set (every 4th doc) joined to the full annotation
  //     stream on doc_id, emitting accuracy for each task field — topic,
  //     format, age_group, int_score — in ONE aggregation pass. Labels are
  //     deterministic functions of doc_id/n_chars over the REAL taxonomies
  //     so DuckDB reproduces them; predictions carry planted disagreement.
  register("q_benchmark_field_accuracy", {
    val tx = graft.model.Taxonomy
    def lst(xs: Seq[String]) = xs.map(l => s"'$l'").mkString("[", ",", "]")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    ${lst(tx.topics)}[CAST(doc_id % 24 AS INT) + 1] AS topic,
       |    ${lst(tx.formats)}[CAST(doc_id % 24 AS INT) + 1] AS format,
       |    ${lst(tx.ageGroups)}[CAST(doc_id % 6 AS INT) + 1] AS age_group,
       |    CAST(n_chars % 6 AS INT) AS int_score
       |  FROM documents WHERE doc_id % 4 = 0),
       |p AS (
       |  SELECT doc_id,
       |    ${lst(tx.topics)}[CAST((doc_id + CASE WHEN doc_id % 7 = 0
       |      THEN 1 ELSE 0 END) % 24 AS INT) + 1] AS topic,
       |    ${lst(tx.formats)}[CAST((doc_id + CASE WHEN doc_id % 5 = 0
       |      THEN 2 ELSE 0 END) % 24 AS INT) + 1] AS format,
       |    ${lst(tx.ageGroups)}[CAST((doc_id + CASE WHEN doc_id % 3 = 0
       |      THEN 1 ELSE 0 END) % 6 AS INT) + 1] AS age_group,
       |    CAST((n_chars + CASE WHEN doc_id % 11 = 0
       |      THEN 1 ELSE 0 END) % 6 AS INT) AS int_score
       |  FROM documents)
       |SELECT
       |  round(avg(CASE WHEN g.topic = p.topic THEN 1.0 ELSE 0.0 END), 6)
       |    AS acc_topic,
       |  round(avg(CASE WHEN g.format = p.format THEN 1.0 ELSE 0.0 END), 6)
       |    AS acc_format,
       |  round(avg(CASE WHEN g.age_group = p.age_group THEN 1.0 ELSE 0.0 END), 6)
       |    AS acc_age_group,
       |  round(avg(CASE WHEN g.int_score = p.int_score THEN 1.0 ELSE 0.0 END), 6)
       |    AS acc_int_score,
       |  count(*) AS n_docs
       |FROM g JOIN p USING (doc_id)""".stripMargin
  }) { (s, dir) =>
    val tx = graft.model.Taxonomy
    def pick(xs: Seq[String], ix: org.apache.spark.sql.Column, m: Int) =
      element_at(typedlit(xs), (ix % m).cast("int") + 1)
    val d = t(s, dir, "documents")
    val golden = d.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"),
        pick(tx.topics, col("doc_id"), 24).as("topic_g"),
        pick(tx.formats, col("doc_id"), 24).as("format_g"),
        pick(tx.ageGroups, col("doc_id"), 6).as("age_g"),
        (col("n_chars") % 6).cast("int").as("score_g"))
    val pred = d.select(col("doc_id"),
      pick(tx.topics,
        col("doc_id") + when(col("doc_id") % 7 === 0, 1).otherwise(0), 24)
        .as("topic_p"),
      pick(tx.formats,
        col("doc_id") + when(col("doc_id") % 5 === 0, 2).otherwise(0), 24)
        .as("format_p"),
      pick(tx.ageGroups,
        col("doc_id") + when(col("doc_id") % 3 === 0, 1).otherwise(0), 6)
        .as("age_p"),
      ((col("n_chars") + when(col("doc_id") % 11 === 0, 1).otherwise(0)) % 6)
        .cast("int").as("score_p"))
    // golden set is small by construction → broadcast; annotations stream
    pred.join(broadcast(golden), "doc_id")
      .agg(
        round(avg(when(col("topic_g") === col("topic_p"), 1.0)
          .otherwise(0.0)), 6).as("acc_topic"),
        round(avg(when(col("format_g") === col("format_p"), 1.0)
          .otherwise(0.0)), 6).as("acc_format"),
        round(avg(when(col("age_g") === col("age_p"), 1.0)
          .otherwise(0.0)), 6).as("acc_age_group"),
        round(avg(when(col("score_g") === col("score_p"), 1.0)
          .otherwise(0.0)), 6).as("acc_int_score"),
        count(lit(1)).as("n_docs"))
  }

  // --- N1 multi-language: fineweb2-style top_langs map (fineweb2_download
  //     .py:23, dataset_upload.py:31 — a JSON string of per-language scores;
  //     one gram pass advances ALL language accumulators). Rows-only →
  //     golden-pinned; language correctness asserted in LangIdSpec ----------
  register("q_langid_top_langs", null) { (s, _) =>
    import s.implicits._
    val pages = graft.synth.SynthPages.pages(s, 500L)
    val bw = s.sparkContext.broadcast(graft.stages.LangIdModel.multiWeights)
    pages.mapPartitions { it =>
      val w = bw.value
      it.map { p =>
        val tl = graft.stages.LangIdModel.topLangs(p.text, w)
        (p.url, tl.head._1, graft.stages.LangIdModel.topLangsJson(tl))
      }
    }.toDF("url", "lang_top1", "top_langs").orderBy("url")
  }

  //  3. q_smallmodel_records — the REAL deterministic multi-task scorer
  //     (hashed-ngram heads, mapPartitions inference) emitting the
  //     full record schema; not SQL-expressible → golden-fixture pinned
  //     (TaskScorerSpec) and rows-only here.
  register("q_smallmodel_records", null) { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val rec = graft.stages.TaskScorer.annotateRecords(docs).toDF()
    val probCols = rec.columns.filter(c => c.contains("_prob_") || c == "score")
    rec.select(rec.columns.map {
      case c if probCols.contains(c) => round(col(c), 6).as(c)
      case c => col(c)
    }.toSeq: _*).orderBy("doc_id")
  }

  // --- repetition signals (Gopher A1.1): shared oracle scaffolding --------
  // Tokenization is \s+ split with empties dropped on BOTH engines; char
  // counts are code points (DuckDB len()); gram char length = len(gram) -
  // (n-1) because grams are chr(0)-joined (one separator char per boundary).
  // `tot` is list-level (not unnest+GROUP BY) so a zero-token doc KEEPS its
  // row and lands in the CASE tot=0 branch, matching the Spark side's 0.0;
  // text is null-coalesced identically in both engines.
  private def repToks =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
      |                     w -> len(w) > 0) AS ws
      |  FROM documents),
      |tot AS (
      |  SELECT doc_id,
      |         coalesce(list_aggregate(list_transform(ws, w -> len(w)),
      |                                 'sum'), 0) AS tot
      |  FROM toks)""".stripMargin

  // --- repetition 1: top-2-gram char fraction (Gopher n ∈ 2..4 family) ----
  register("q_rep_topgram",
    s"""$repToks,
       |g AS (
       |  SELECT doc_id, u, array_to_string(ws[u : u + 1], chr(0)) AS gram
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS u
       |        FROM toks WHERE len(ws) >= 2)),
       |cnt AS (
       |  SELECT doc_id, gram, len(gram) - 1 AS gl, count(*) AS cnt, min(u) AS fu
       |  FROM g GROUP BY doc_id, gram),
       |top AS (
       |  SELECT doc_id, cnt * gl AS cov,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY cnt DESC, gl DESC, fu ASC) AS rn
       |  FROM cnt)
       |SELECT t.doc_id,
       |       CASE WHEN t.tot = 0 THEN 0.0
       |            ELSE round(coalesce(p.cov, 0) * 1.0 / t.tot, 6) END AS top2_frac
       |FROM tot t LEFT JOIN (SELECT doc_id, cov FROM top WHERE rn = 1) p
       |  USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val words =
      graft.functions.Tokenize.words_ws(coalesce(col("text"), lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        round(graft.functions.Repetition.top_ngram_char_frac(words, 2), 6)
          .as("top2_frac"))
      .orderBy("doc_id")
  }

  // --- repetition 2: duplicate-3-gram coverage fraction (Gopher n ∈ 5..10
  //     family; n = 3 here because the synthetic docs are ~50 words).
  //     Overlap-careful: each word's chars count once however many
  //     duplicated grams cover it. -----------------------------------------
  register("q_rep_dupgram",
    s"""$repToks,
       |g AS (
       |  SELECT doc_id, u, array_to_string(ws[u : u + 2], chr(0)) AS gram
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS u
       |        FROM toks WHERE len(ws) >= 3)),
       |dup AS (
       |  SELECT doc_id, gram FROM g GROUP BY doc_id, gram HAVING count(*) > 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT g.doc_id, g.u + unnest(generate_series(0, 2)) AS p
       |    FROM g JOIN dup USING (doc_id, gram))),
       |covchars AS (
       |  SELECT c.doc_id, sum(len(tk.ws[c.p])) AS cc
       |  FROM cov c JOIN toks tk USING (doc_id) GROUP BY c.doc_id)
       |SELECT t.doc_id,
       |       CASE WHEN t.tot = 0 THEN 0.0
       |            ELSE round(coalesce(c.cc, 0) * 1.0 / t.tot, 6) END AS dup3_frac
       |FROM tot t LEFT JOIN covchars c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val words =
      graft.functions.Tokenize.words_ws(coalesce(col("text"), lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        round(graft.functions.Repetition.dup_ngram_char_frac(words, 3), 6)
          .as("dup3_frac"))
      .orderBy("doc_id")
  }

  // --- deterministic stratified sampling (data mixing): hash-gated per-
  //     source rates, zero shuffle, zero RNG — same rows selected on every
  //     run/retry/backfill. Thresholds come from ONE Scala computation
  //     inlined into both engines (Sampling.thresholdHex). ----------------
  private val sampleRates =
    Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0)

  register("q_sample_stratified",
    s"""SELECT doc_id, source FROM documents
       |WHERE ${Sampling.whereSql("source", Seq("doc_id"), sampleRates, 0.1, "graft-r5")}
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.stratifiedSample(t(s, dir, "documents"),
        "source", Seq("doc_id"), sampleRates, 0.1, "graft-r5")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  // --- per-stratum token-budget selection (data mixing): fill each
  //     source's char budget with its largest docs; ONE exchange on the
  //     stratum key, per-stratum sort, deterministic cut. ------------------
  register("q_budget_select",
    """SELECT doc_id, source, n_chars FROM documents
      |QUALIFY sum(n_chars) OVER (PARTITION BY source
      |          ORDER BY n_chars DESC, doc_id
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        <= CASE source WHEN 'src0' THEN 1200 WHEN 'src1' THEN 0
      |                       ELSE 2500 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.budgetSelect(t(s, dir, "documents"),
        "source", "n_chars",
        budgets = Map("src0" -> 1200L, "src1" -> 0L),
        defaultBudget = 2500L,
        orderCols = Seq(col("n_chars").desc, col("doc_id")))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  // --- URL canonicalization + per-URL recrawl dedup: both engines build
  //     the SAME messy synthetic URLs (uppercase scheme/host, www, :443,
  //     utm params, fragments, trailing slashes) from the documents table,
  //     canonicalize with the same rule chain, and keep the newest doc per
  //     canonical URL. DuckDB regexp_replace needs 'g' (first-match-only
  //     by default, unlike Spark); replacement backrefs are \1 vs $1. -----
  register("q_url_canonical_dedup",
    """WITH u AS (
      |  SELECT doc_id,
      |         'HTTPS://WWW.' || upper(source) || '.RO:443/Articol/' ||
      |         (doc_id % 50) ||
      |         CASE doc_id % 3
      |           WHEN 0 THEN '?utm_source=feed&ref=' || (doc_id % 5)
      |           WHEN 1 THEN '/?utm_campaign=x' ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END AS url
      |  FROM documents),
      |c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS s FROM u),
      |c2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
      |         regexp_replace(s,
      |           '(?i)([?&])(utm_[a-z0-9_]*|fbclid|gclid)=[^&#]*', '\1', 'g'),
      |         '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g') AS s
      |       FROM c1),
      |c3 AS (SELECT doc_id, s,
      |         lower(regexp_extract(s, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
      |           AS scheme,
      |         regexp_replace(
      |           lower(regexp_extract(s, '^[^:/?#]+://([^/?#]*)', 1)),
      |           '^www\.', '', 'g') AS auth1,
      |         regexp_replace(s, '^[^:/?#]+://[^/?#]*', '', 'g') AS rest
      |       FROM c2),
      |c AS (SELECT doc_id,
      |        CASE WHEN scheme = ''
      |             THEN regexp_replace(s, '^([^?]*?)/+$', '\1', 'g')
      |             ELSE scheme || '://' ||
      |                  CASE scheme
      |                    WHEN 'http' THEN regexp_replace(auth1, ':80$', '', 'g')
      |                    WHEN 'https' THEN regexp_replace(auth1, ':443$', '', 'g')
      |                    ELSE auth1 END ||
      |                  regexp_replace(rest, '^([^?]*?)/+$', '\1', 'g')
      |             END AS canon_url
      |      FROM c3)
      |SELECT canon_url, doc_id FROM c
      |QUALIFY row_number() OVER (PARTITION BY canon_url
      |                           ORDER BY doc_id DESC) = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val url = concat(
      lit("HTTPS://WWW."), upper(col("source")), lit(".RO:443/Articol/"),
      (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&ref="), (col("doc_id") % 5).cast("string")))
        .when(col("doc_id") % 3 === 1, lit("/?utm_campaign=x"))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("#sec")).otherwise(lit("")))
    UrlOps.keepLatestPerUrl(
        t(s, dir, "documents").withColumn("url", url),
        "url", "doc_id")
      .select("canon_url", "doc_id")
      .orderBy("doc_id")
  }

  // --- corpus-wide vocabulary stats: top-k most frequent word bigrams
  //     (the derivation step behind stopword/marker-gram constants);
  //     plans as partial agg → one gram exchange → TakeOrderedAndProject.
  register("q_vocab_top2grams",
    """WITH toks AS (
      |  SELECT list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
      |                     w -> len(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT array_to_string(ws[u : u + 1], ' ') AS gram
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS u
      |        FROM toks WHERE len(ws) >= 2))
      |SELECT gram, count(*) AS cnt FROM g GROUP BY gram
      |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) { (s, dir) =>
    Vocab.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 20)
  }

  // --- Gopher line-shape heuristics over a DERIVED multi-line text --------
  // The synthetic documents carry no newlines, so the oracle would be
  // trivially 0; both engines first apply the SAME literal replace chain
  // (introducing bullet lines, ellipsis line-ends and numeric words) and
  // then compute the metrics — parity is on the metric algebra, honestly.
  register("q_line_quality",
    """WITH lt AS (
      |  SELECT doc_id, replace(replace(replace(text,
      |           ' table ', chr(10) || '- table '),
      |           ' fast ', '...' || chr(10) || ' fast '),
      |           ' key ', ' 42 ') AS lt
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id, list_filter(string_split(lt, chr(10)),
      |                             l -> len(trim(l)) > 0) AS ls
      |  FROM lt),
      |lstats AS (
      |  SELECT doc_id, len(ls) AS n_lines,
      |         len(list_filter(ls, l -> substr(ltrim(l), 1, 1)
      |                                  IN ('•', '‣', '▪', '-', '*'))) AS n_bullet,
      |         len(list_filter(ls, l -> rtrim(l) LIKE '%...'
      |                                  OR rtrim(l) LIKE '%…')) AS n_ellipsis
      |  FROM lines),
      |wstats AS (
      |  SELECT doc_id, len(ws) AS n_words,
      |         len(list_filter(ws, w -> regexp_matches(w, '\p{L}'))) AS n_alpha
      |  FROM (SELECT doc_id,
      |               list_filter(regexp_split_to_array(lt, '\s+'),
      |                           w -> len(w) > 0) AS ws FROM lt))
      |SELECT l.doc_id,
      |       CASE WHEN n_lines = 0 THEN 0.0
      |            ELSE round(n_bullet * 1.0 / n_lines, 6) END AS bullet_line_frac,
      |       CASE WHEN n_lines = 0 THEN 0.0
      |            ELSE round(n_ellipsis * 1.0 / n_lines, 6) END AS ellipsis_line_frac,
      |       CASE WHEN n_words = 0 THEN 0.0
      |            ELSE round(n_alpha * 1.0 / n_words, 6) END AS alpha_word_frac
      |FROM lstats l JOIN wstats USING (doc_id)
      |ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
    import graft.functions.LineShape._
    import graft.functions.Tokenize.words_ws
    val lt = replace(replace(replace(col("text"),
      lit(" table "), lit("\n- table ")),
      lit(" fast "), lit("...\n fast ")),
      lit(" key "), lit(" 42 "))
    t(s, dir, "documents")
      .withColumn("lt", lt)
      .select(col("doc_id"),
        round(bullet_line_frac(col("lt")), 6).as("bullet_line_frac"),
        round(ellipsis_line_frac(col("lt")), 6).as("ellipsis_line_frac"),
        round(alpha_word_frac(words_ws(col("lt"))), 6).as("alpha_word_frac"))
      .orderBy("doc_id")
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = qs.toMap
  def oracle: Map[String, String] = osql.toMap
}
