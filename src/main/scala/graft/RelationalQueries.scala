package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Det._

/** SURVEY.md §2.1–2.3, §2.5–2.8: scans, filters, joins, aggregations,
  * windows, sorts, set ops — each over the TPC-H-ish testdata with a DuckDB
  * oracle. Every query ends in a total ORDER BY (tiebreakers included) so the
  * driver's hash compare is order-stable.
  *
  * Scale notes (100 TB): every query filters/projects before its first
  * shuffle (pushdown + pruning reach the scan); dimension joins broadcast
  * (customer/orders dims ≪ fact); fact-fact joins shuffle on the join key
  * once and reuse that partitioning for the downstream groupBy where
  * possible (same key ⇒ no second Exchange).
  */
object RelationalQueries {
  import Tables._

  // ---- §2.1 scans ----------------------------------------------------------

  /** S1/S8 `scan_parquet`: projection + selective predicate; both reach the
    * Parquet reader (PushedFilters + 4-column ReadSchema, not 11). */
  private def scanParquet(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity") >= 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private val scanParquetSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity >= 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S3 `page_count_estimate`: the reference's ceil(total/60) page estimate
    * (pracuj_scraper.py:264-272) as an aggregate over orders. */
  private def pageCount(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      count(lit(1)).as("total_results"),
      ceil(count(lit(1)) / lit(60.0)).cast("long").as("est_pages"))

  private val pageCountSql =
    """SELECT count(*) AS total_results,
      |       CAST(ceil(count(*) / 60.0) AS BIGINT) AS est_pages
      |FROM orders""".stripMargin

  // ---- §2.2 projections / filters -----------------------------------------

  /** P1 `project_rename`: the reference's 16-column projection shape —
    * renames, lit() constants, computed strings (pracuj_scraper.py:316-356). */
  private def projectRename(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey").as("job_id"),
        lit("pracuj.pl").as("source"),
        concat(lit("order-"), col("o_orderkey").cast("string")).as("title"),
        upper(col("o_orderpriority")).as("priority_u"),
        lit("Active").as("listing_status"))
      .orderBy("job_id")

  private val projectRenameSql =
    """SELECT o_orderkey AS job_id, 'pracuj.pl' AS source,
      |       concat('order-', CAST(o_orderkey AS VARCHAR)) AS title,
      |       upper(o_orderpriority) AS priority_u, 'Active' AS listing_status
      |FROM orders ORDER BY job_id""".stripMargin

  /** P2 `filter_pushdown`: conjunctive predicates incl. a timestamp bound —
    * all pushed to the scan (reference's URL-side pre-filter,
    * pracuj_scraper.py:21-23). */
  private def filterPushdown(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus") === "O" &&
        col("o_totalprice") > 150000 &&
        col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  private val filterPushdownSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'O' AND o_totalprice > 150000
      |  AND o_orderdate >= TIMESTAMP '1998-01-01'
      |ORDER BY o_orderkey""".stripMargin

  /** P4 `null_guard_filter`: the reference's empty-guard pattern
    * (pracuj_scraper.py:46-47) — classify then filter nulls out. */
  private def nullGuard(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .withColumn("bal_class",
        when(col("c_acctbal") < 0, lit("negative"))
          .when(col("c_acctbal") > 5000, lit("high"))
          .otherwise(lit(null).cast("string")))
      .filter(col("bal_class").isNotNull)
      .select("c_custkey", "bal_class")
      .orderBy("c_custkey")

  private val nullGuardSql =
    """SELECT c_custkey,
      |       CASE WHEN c_acctbal < 0 THEN 'negative'
      |            WHEN c_acctbal > 5000 THEN 'high' END AS bal_class
      |FROM customer
      |WHERE c_acctbal < 0 OR c_acctbal > 5000
      |ORDER BY c_custkey""".stripMargin

  /** P5 `coalesce_fallback`: office-else-remote-else-default cascade
    * (pracuj_scraper.py:105-110). */
  private def coalesceFallback(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .withColumn("primary", when(col("c_acctbal") > 7000, col("c_mktsegment")))
      .withColumn("fallback", when(col("c_acctbal") > 2000, lower(col("c_name"))))
      .select(col("c_custkey"),
        coalesce(col("primary"), col("fallback"), lit("Unknown")).as("resolved"))
      .orderBy("c_custkey")

  private val coalesceFallbackSql =
    """SELECT c_custkey,
      |       coalesce(CASE WHEN c_acctbal > 7000 THEN c_mktsegment END,
      |                CASE WHEN c_acctbal > 2000 THEN lower(c_name) END,
      |                'Unknown') AS resolved
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- §2.3 joins ----------------------------------------------------------

  /** J1 `join_left_anti`: the upsert existence probe (database.py:116-123)
    * batchwise — customers with no orders. Broadcast of neither side is
    * assumed; at scale this is a shuffled anti-join on the key. */
  private def leftAnti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  private val leftAntiSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** J3 `join_inner_equi`: parent↔child FK join (JobListing↔Skill,
    * models.py:25-32) — orders↔lineitem, aggregated per parent so the
    * join's shuffle partitioning (l_orderkey) is reused by the groupBy. */
  private def innerEqui(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("order_value"))
      .orderBy("o_orderkey")

  private val innerEquiSql =
    s"""SELECT o_orderkey, count(*) AS n_lines,
       |       ${sqlDsum("l_extendedprice")} AS order_value
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** J4 `join_sort_merge_3way`: fact⋈fact⋈dim. lineitem⋈orders shuffles on
    * orderkey (sort-merge at scale); customer is dim-sized → broadcast. */
  private def threeWay(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("c_mktsegment")

  private val threeWaySql =
    s"""SELECT c_mktsegment, count(*) AS n_items,
       |       ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J5 `join_left_outer`: jobs-without-skills survive (scraper.py:65) —
    * order count per customer including zero. */
  private def leftOuter(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  private val leftOuterSql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** J6 `join_left_semi`: "customers having an urgent order". */
  private def leftSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  private val leftSemiSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** J7b `join_range_binned`: the interval join at SCALE — 125 overlapping
    * price bands (too many to nested-loop against every fact row at 100 TB)
    * joined to orders through [[graft.ops.RangeJoinOps.binnedRangeJoin]]:
    * intervals explode to their covering bins, facts map to one bin, ONE
    * equi shuffle on the bin id + exact re-check. The oracle is the plain
    * inequality join, proving the binning rewrite is lossless; the plan
    * audit proves no nested loop survives. */
  private def rangeBinned(s: SparkSession, d: String): DataFrame = {
    val intervals = s.range(125).select(col("id").as("band_id"),
      (col("id") * 4000).cast("double").as("lo"),
      (col("id") * 4000 + 8000).cast("double").as("hi"))
    graft.ops.RangeJoinOps.binnedRangeJoin(
        orders(s, d), col("o_totalprice"), intervals,
        col("lo"), col("hi"), binWidth = 4000L)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_value"))
      .orderBy("band_id")
  }

  private val rangeBinnedSql =
    """WITH intervals AS (
      |  SELECT i AS band_id, CAST(i * 4000 AS DOUBLE) AS lo,
      |         CAST(i * 4000 + 8000 AS DOUBLE) AS hi
      |  FROM range(0, 125) t(i))
      |SELECT band_id, count(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS band_value
      |FROM orders JOIN intervals
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  /** J7c `join_range_auto`: the SAME plain inequality join a user would
    * write naively — no manual binning — rewritten to the binned equi plan
    * by the [[graft.plans.RewriteBinnedRangeJoin]] optimizer rule
    * (enabled by the binWidth conf; fires only on hint-less pure band
    * joins). Same oracle as `join_range_binned`: the rewrite is invisible
    * to results, visible only in the plan (audited: no nested loop). */
  private def rangeAuto(s: SparkSession, d: String): DataFrame = {
    // Arm the rewrite for THIS build only: the rule reads the conf at
    // optimization time, so force the plan while armed, then unset in a
    // finally — a leaked conf would silently re-plan every later hint-less
    // band join in the session (bench/verify run all queries through one
    // session). The forced QueryExecution is cached inside the returned
    // Dataset, so execution after the unset still runs the rewritten plan.
    s.conf.set("spark.graft.rangeJoin.binWidth", "4000")
    try {
      val intervals = s.range(125).select(col("id").as("band_id"),
        (col("id") * 4000).cast("double").as("lo"),
        (col("id") * 4000 + 8000).cast("double").as("hi"))
      val df = orders(s, d)
        .join(intervals,
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_value"))
        .orderBy("band_id")
      df.queryExecution.executedPlan
      df
    } finally s.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  /** J7 `join_range_bands`: salary-band theta join (database.py:61-62 bands).
    * Bands are a tiny literal dim → broadcast nested-loop, the right plan;
    * at scale the fact side still streams through without a shuffle. */
  private def rangeBands(s: SparkSession, d: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      ("B1_low", 0.0, 50000.0),
      ("B2_mid", 50000.0, 150000.0),
      ("B3_high", 150000.0, 100000000.0)
    )).toDF("band", "lo", "hi")
    orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_value"))
      .orderBy("band")
  }

  private val rangeBandsSql =
    s"""WITH bands(band, lo, hi) AS (VALUES
       |  ('B1_low', 0.0, 50000.0),
       |  ('B2_mid', 50000.0, 150000.0),
       |  ('B3_high', 150000.0, 100000000.0))
       |SELECT band, count(*) AS n_orders, ${sqlDsum("o_totalprice")} AS band_value
       |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band ORDER BY band""".stripMargin

  /** J7d `join_interval_overlap`: interval × interval overlap join — both
    * sides LARGE (probe windows × every order's 7-day activity window), the
    * shape point-in-interval binning can't express. Both sides explode to
    * their covered bins and equi-join on the bin id; a pair sharing k bins
    * would surface k times, so the join keeps each pair only in its
    * CANONICAL bin (the bin of `greatest(a_lo, b_lo)` — where the overlap
    * starts, which every overlapping pair has exactly one of). The
    * emit-once invariant is algebraic — NO pair-volume distinct shuffle,
    * the thing that kills naive interval joins at 100 TB. Intervals are
    * exact epoch-day integers; oracle is the direct theta join. */
  private def intervalOverlap(s: SparkSession, d: String): DataFrame =
    intervalOverlapOf(orders(s, d))

  private[graft] def intervalOverlapOf(o: DataFrame): DataFrame = {
    def ivals(keyName: String, loName: String, hiName: String) = o
      .select(col("o_orderkey").as(keyName),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as(loName))
      .withColumn(hiName, col(loName) + 7)
    val a = ivals("a_key", "a_lo", "a_hi").filter(col("a_key") % 97 === 0)
    val b = ivals("b_key", "b_lo", "b_hi")
    graft.ops.RangeJoinOps.binnedIntervalOverlapJoin(
        a, col("a_lo"), col("a_hi"), b, col("b_lo"), col("b_hi"), 7L)
      .filter(col("a_key") =!= col("b_key"))
      .groupBy("a_key")
      .agg(count(lit(1)).as("n_overlaps"), sum(col("b_key")).as("key_sum"))
      .orderBy("a_key")
  }

  private val intervalOverlapSql =
    """WITH iv AS (
      |  SELECT o_orderkey AS k,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo
      |  FROM orders),
      |a AS (SELECT k AS a_key, lo AS a_lo, lo + 7 AS a_hi FROM iv WHERE k % 97 = 0),
      |b AS (SELECT k AS b_key, lo AS b_lo, lo + 7 AS b_hi FROM iv)
      |SELECT a_key, count(*) AS n_overlaps, CAST(sum(b_key) AS BIGINT) AS key_sum
      |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi AND a_key <> b_key
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** J8 `join_asof_latest`: latest status per key over time
    * (database.py:69-70) — latest event per user via window dedup. */
  private def asofLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"))
      .orderBy("user_id")
  }

  private val asofLatestSql =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_type
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** J8 native: a TRUE two-table as-of join via the custom Catalyst operator
    * (graft.plans.AsOfJoin — LogicalPlan + Rule + Strategy + SparkPlan):
    * each purchase pairs with the user's latest click at-or-before it. The
    * right side pre-aggregates to one row per (user, ts) so "latest" is
    * unique; the oracle is DuckDB's native ASOF JOIN, so two independent
    * as-of implementations must agree row-for-row. */
  private def asofNative(s: SparkSession, d: String): DataFrame = {
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = events(s, d)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(dsum(col("value")).as("click_value"))
    graft.plans.AsOfJoinOps.asofJoin(
        purchases, clicks, Seq("user_id"), Seq("c_user"), "ts", "c_ts")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("c_ts")).as("click_us"), col("click_value"))
      .orderBy("event_id")
  }

  private val asofNativeSql =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id AS c_user, ts AS c_ts,
       |         ${sqlDsum("value")} AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT p.user_id, p.event_id, epoch_us(c.c_ts) AS click_us, c.click_value
       |FROM purchases p ASOF JOIN clicks c
       |  ON p.user_id = c.c_user AND c.c_ts <= p.ts
       |ORDER BY event_id""".stripMargin

  /** J8 native, outer flavor: purchases with no prior click survive with
    * null click columns (DuckDB ASOF LEFT JOIN oracle). Counting both
    * matched and unmatched keeps the compared output small but pins the
    * outer semantics corpus-wide. */
  private def asofOuter(s: SparkSession, d: String): DataFrame = {
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = events(s, d)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(dsum(col("value")).as("click_value"))
    graft.plans.AsOfJoinOps.asofJoin(
        purchases, clicks, Seq("user_id"), Seq("c_user"), "ts", "c_ts",
        leftOuter = true)
      .agg(count(lit(1)).as("n_purchases"),
        count(col("c_ts")).as("n_matched"),
        dsum(col("click_value")).as("sum_click_value"))
  }

  private val asofOuterSql =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id AS c_user, ts AS c_ts,
       |         ${sqlDsum("value")} AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT count(*) AS n_purchases,
       |       count(c.c_ts) AS n_matched,
       |       ${Det.sqlDsum("c.click_value")} AS sum_click_value
       |FROM purchases p ASOF LEFT JOIN clicks c
       |  ON p.user_id = c.c_user AND c.c_ts <= p.ts""".stripMargin

  /** J8 tolerance flavor: as-of with a max staleness — each purchase takes
    * the user's latest click at-or-before it ONLY if that click is within
    * 1 hour (the pandas merge_asof `tolerance` semantics; in a training
    * pipeline this is the point-in-time feature-staleness guard: a feature
    * older than the budget is no feature; the 36-hour budget here keeps a
    * realistic matched/stale mix on the event stream). Implementation is the native
    * [[graft.plans.AsOfJoin]] outer form + post-filter, which IS exact
    * tolerance semantics: the as-of match is the LATEST candidate, so if it
    * falls outside the window every earlier candidate does too. Staleness
    * compares exact integer microseconds — no float time arithmetic. */
  private def asofTolerance(s: SparkSession, d: String): DataFrame = {
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = events(s, d)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(dsum(col("value")).as("click_value"))
    val within = col("c_ts").isNotNull &&
      unix_micros(col("ts")) - unix_micros(col("c_ts")) <= lit(36L * 3600L * 1000000L)
    graft.plans.AsOfJoinOps.asofJoin(
        purchases, clicks, Seq("user_id"), Seq("c_user"), "ts", "c_ts",
        leftOuter = true)
      .select(col("user_id"), col("event_id"),
        when(within, unix_micros(col("c_ts"))).as("click_us"),
        when(within, col("click_value")).as("click_value"))
      .orderBy("event_id")
  }

  private val asofToleranceSql =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id AS c_user, ts AS c_ts,
       |         ${sqlDsum("value")} AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT p.user_id, p.event_id,
       |  CASE WHEN c.c_ts IS NOT NULL
       |        AND epoch_us(p.ts) - epoch_us(c.c_ts) <= 129600000000
       |       THEN epoch_us(c.c_ts) END AS click_us,
       |  CASE WHEN c.c_ts IS NOT NULL
       |        AND epoch_us(p.ts) - epoch_us(c.c_ts) <= 129600000000
       |       THEN c.click_value END AS click_value
       |FROM purchases p ASOF LEFT JOIN clicks c
       |  ON p.user_id = c.c_user AND c.c_ts <= p.ts
       |ORDER BY event_id""".stripMargin

  /** J8 nearest flavor: each purchase takes the user's NEAREST click in
    * TIME — before or after — preferring the earlier side on an exact tie
    * (pandas merge_asof direction='nearest'). Implemented as ONE window
    * pass over the unioned per-user timeline instead of two as-of joins:
    * clicks sort before purchases at equal timestamps ((us, type-rank)
    * total order), so a backward `last(ignoreNulls)` over the preceding
    * frame yields the latest click ≤ ts and a forward `first(ignoreNulls)`
    * the earliest click strictly > ts — the tie-break is encoded in the
    * sort, not in per-row conditionals. One shuffle on user_id, microsecond
    * integer deltas, no float time math. The oracle replays it as DuckDB's
    * native double ASOF (≤ backward, > forward) + CASE pick — two
    * independent formulations, one hash. */
  private def asofNearest(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "click", unix_micros(col("ts"))).as("click_us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), when(col("event_type") === "click", 0).otherwise(1))
    val wb = w.rowsBetween(Window.unboundedPreceding, -1)
    val wf = w.rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("prev_us", last(col("click_us"), ignoreNulls = true).over(wb))
      .withColumn("next_us", first(col("click_us"), ignoreNulls = true).over(wf))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_us",
        when(col("prev_us").isNull, col("next_us"))
          .when(col("next_us").isNull, col("prev_us"))
          .when(col("us") - col("prev_us") <= col("next_us") - col("us"),
            col("prev_us"))
          .otherwise(col("next_us")))
      .select(col("event_id"), col("user_id"), col("nearest_us"),
        (col("nearest_us") - col("us")).as("delta_us"))
      .orderBy("event_id")
  }

  private val asofNearestSql =
    """WITH purchases AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT DISTINCT user_id AS c_user, ts AS c_ts
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id,
      |  CASE WHEN b.c_ts IS NULL THEN epoch_us(f.f_ts)
      |       WHEN f.f_ts IS NULL THEN epoch_us(b.c_ts)
      |       WHEN epoch_us(p.ts) - epoch_us(b.c_ts)
      |            <= epoch_us(f.f_ts) - epoch_us(p.ts) THEN epoch_us(b.c_ts)
      |       ELSE epoch_us(f.f_ts) END AS nearest_us,
      |  CASE WHEN b.c_ts IS NULL THEN epoch_us(f.f_ts)
      |       WHEN f.f_ts IS NULL THEN epoch_us(b.c_ts)
      |       WHEN epoch_us(p.ts) - epoch_us(b.c_ts)
      |            <= epoch_us(f.f_ts) - epoch_us(p.ts) THEN epoch_us(b.c_ts)
      |       ELSE epoch_us(f.f_ts) END - epoch_us(p.ts) AS delta_us
      |FROM purchases p
      |ASOF LEFT JOIN clicks b ON p.user_id = b.c_user AND b.c_ts <= p.ts
      |ASOF LEFT JOIN (SELECT c_user AS f_user, c_ts AS f_ts FROM clicks) f
      |  ON p.user_id = f.f_user AND f.f_ts > p.ts
      |ORDER BY event_id""".stripMargin

  /** J8f `join_asof_forward` (r09): the FORWARD as-of direction — each
    * purchase pairs with the user's EARLIEST click AT-OR-AFTER it ("next
    * event after": next quote after an order, next session after a push).
    * Completes the as-of matrix (backward / nearest / tolerance / forward).
    * Same merge-scan recipe as `join_asof_nearest`: one union, one user_id
    * shuffle, one ordered window pass — clicks sort AFTER purchases at
    * equal ts ((us, kind) with purchase=0) so the (1, unbounded-following)
    * frame's first non-null click IS the inclusive at-or-after match.
    * Oracle: DuckDB's native forward ASOF LEFT JOIN (`c_ts >= ts`) — two
    * independent as-of implementations must agree. */
  private def asofForward(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), lit(0).as("kind"),
        lit(null).cast("double").as("click_value"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(dsum(col("value")).as("click_value"))
      .select(col("user_id"), lit(null).cast("long").as("event_id"),
        col("us"), lit(1).as("kind"), col("click_value"))
    val w = Window.partitionBy("user_id").orderBy("us", "kind")
      .rowsBetween(1, Window.unboundedFollowing)
    purchases.unionByName(clicks)
      .select(col("user_id"), col("event_id"), col("kind"),
        first(when(col("kind") === 1, col("us")), ignoreNulls = true)
          .over(w).as("next_click_us"),
        first(when(col("kind") === 1, col("click_value")), ignoreNulls = true)
          .over(w).as("next_click_value"))
      .filter(col("kind") === 0)
      .select("user_id", "event_id", "next_click_us", "next_click_value")
      .orderBy("event_id")
  }

  private val asofForwardSql =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id AS c_user, ts AS c_ts,
       |         ${sqlDsum("value")} AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT p.user_id, p.event_id, epoch_us(c.c_ts) AS next_click_us,
       |       c.click_value AS next_click_value
       |FROM purchases p ASOF LEFT JOIN clicks c
       |  ON p.user_id = c.c_user AND c.c_ts >= p.ts
       |ORDER BY event_id""".stripMargin

  /** J13 `join_pit_scd2` (r09): the point-in-time join that CONSUMES W7's
    * SCD2 intervals — each click resolves the dimension version valid at
    * its timestamp (`valid_from ≤ ts < valid_to`, open current interval).
    * This is a backward as-of join against version starts, so it runs as
    * the same merge-scan window (union + one user_id shuffle + one ordered
    * pass) instead of an interval join's band fan-out — at 100 TB the
    * interval form pays candidates × versions, this pays one sort. At
    * equal ts the version row sorts first ((us, kind, version_id)), so a
    * click exactly at valid_from picks the NEW version and a same-ts
    * version pair resolves to the higher event_id — byte-identical to the
    * oracle's half-open interval semantics incl. zero-length intervals.
    * Clicks before any version drop (inner PIT semantics). */
  private def joinPitScd2(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).filter(col("user_id") < 50)
    val versions = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id").as("version_id"), lit(0).as("kind"),
        lit(null).cast("long").as("click_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        lit(null).cast("long").as("version_id"), lit(1).as("kind"),
        col("event_id").as("click_id"))
    val w = Window.partitionBy("user_id")
      .orderBy("us", "kind", "version_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(clicks)
      .select(col("kind"), col("click_id"), col("user_id"),
        last(col("version_id"), ignoreNulls = true).over(w).as("version_id2"),
        last(when(col("kind") === 0, col("us")), ignoreNulls = true)
          .over(w).as("valid_from_us"))
      .filter(col("kind") === 1 && col("version_id2").isNotNull)
      .select(col("click_id"), col("user_id"),
        col("version_id2").as("version_id"), col("valid_from_us"))
      .orderBy("click_id")
  }

  private val joinPitScd2Sql =
    """WITH v AS (
      |  SELECT user_id, event_id AS version_id, epoch_us(ts) AS valid_from_us,
      |         epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
      |                                    ORDER BY ts, event_id)) AS valid_to_us
      |  FROM events WHERE event_type = 'purchase' AND user_id < 50),
      |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'click' AND user_id < 50)
      |SELECT c.click_id, c.user_id, v.version_id, v.valid_from_us
      |FROM c JOIN v ON c.user_id = v.user_id
      | AND c.us >= v.valid_from_us
      | AND (v.valid_to_us IS NULL OR c.us < v.valid_to_us)
      |ORDER BY click_id""".stripMargin

  /** J8 via pure SQL: the same as-of join reached through `spark.sql` and the
    * `asof_match(left_ts, right_ts)` marker predicate, which
    * [[graft.plans.RewriteAsOfMarkerJoin]] rewrites into the whole-operator
    * [[graft.plans.AsOfJoin]] node. Same oracle as `join_asof_native`
    * (DuckDB native ASOF JOIN) — proves the SQL frontend plans the identical
    * operator, not a degraded fallback. */
  private def sqlAsOf(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("v_asof_events")
    s.sql(
      s"""WITH purchases AS (
         |  SELECT user_id, event_id, ts FROM v_asof_events
         |  WHERE event_type = 'purchase'),
         |clicks AS (
         |  SELECT user_id AS c_user, ts AS c_ts,
         |         ${sqlDsum("value")} AS click_value
         |  FROM v_asof_events WHERE event_type = 'click' GROUP BY 1, 2)
         |SELECT p.user_id, p.event_id, unix_micros(c.c_ts) AS click_us,
         |       c.click_value
         |FROM purchases p JOIN clicks c
         |  ON p.user_id = c.c_user AND asof_match(p.ts, c.c_ts)
         |ORDER BY event_id""".stripMargin)
  }

  // ---- §2.5 aggregations ---------------------------------------------------

  /** A1 `agg_counts`: the run counters (scraper.py:49-50). */
  private def aggCounts(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("total_rows"),
      dsum(col("l_quantity")).as("total_qty"))

  private val aggCountsSql =
    s"""SELECT count(*) AS total_rows, ${sqlDsum("l_quantity")} AS total_qty
       |FROM lineitem""".stripMargin

  /** A2 `agg_group_count`: skill-frequency shape (README.md:11). */
  private def aggGroupCount(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  private val aggGroupCountSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A4e `agg_bitmap_distinct`: EXACT distinct counting through Spark's
    * bitmap aggregate family — the segment-bitmap pattern (per key bucket,
    * a fixed 4 KB bitmap; `bitmap_construct_agg` ORs positions map-side
    * like any partial agg) that serving layers use when approx (HLL) isn't
    * acceptable but COUNT(DISTINCT)'s Expand rewrite is too heavy. Also
    * proves MERGEABILITY — the per-day bitmaps `bitmap_or_agg` into the
    * corpus total WITHOUT rescanning (the incremental-rollup contract:
    * union of days ≡ whole-table distinct). Oracle checks both numbers
    * against plain exact distincts. */
  private def aggBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val perDay = e
      .groupBy(col("day"), expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    val daily = perDay
      .groupBy("day")
      .agg(sum(expr("bitmap_count(bm)")).as("nd"))
      .agg(count(lit(1)).as("n_days"), sum("nd").as("daily_distinct_sum"))
    val total = perDay
      .groupBy("bucket")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("total_distinct"))
    daily.crossJoin(total)
  }

  private val aggBitmapDistinctSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS nd
      |  FROM events GROUP BY 1)
      |SELECT count(*) AS n_days,
      |       CAST(sum(nd) AS BIGINT) AS daily_distinct_sum,
      |       (SELECT count(DISTINCT user_id) FROM events) AS total_distinct
      |FROM daily""".stripMargin

  /** A11 `agg_gini`: Gini coefficient of per-customer spend — the
    * concentration number behind every domain-cap / anti-domination
    * decision (how unequal is the corpus across its contributors?). Spend
    * is exact integer cents; with ranks i over the total order (spend,
    * custkey) the estimator G = (2·Σi·x − (n+1)·Σx) / (n·Σx) is EXACT
    * integer arithmetic until one final division (tie order can't matter:
    * equal x under permuted i leaves Σi·x unchanged). The rank window runs
    * on the CUSTOMER aggregate, not the fact — one fact shuffle, one
    * aggregate-sized sort (range-partitioned + offsets at scale). */
  private def aggGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("x"), col("o_custkey"))
    orders(s, d)
      .groupBy("o_custkey")
      .agg((sum(Det.dec(col("o_totalprice"))) * 100).cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n"),
        round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
  }

  private val aggGiniSql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      |  FROM per),
      |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n,
      |       round(CAST(2 * six - (n + 1) * sx AS DOUBLE) /
      |             CAST(n * sx AS DOUBLE), 6) AS gini
      |FROM m""".stripMargin

  /** A9 `agg_skewness`: third-moment distribution shape per group, computed
    * ENTIRELY from exact power sums — the float-stddev trap (anomaly_zscore's
    * Scaladoc) applies twice as hard to the third moment, so the estimator
    * is algebraically rearranged to integer-cent sums:
    *   g1 = (n²·S3 − 3n·S1·S2 + 2·S1³) / (n·S2 − S1²)^{3/2}
    * with Sk = Σ cents^k accumulated in DECIMAL(38,0) (cents³ ≈ 10²¹ per
    * row — exact, order-independent). The exact sums then cast to double
    * ONCE and the rearranged estimator evaluates in IEEE with an
    * IDENTICAL left-associated expression tree on both engines (decimal
    * products of these widths would overflow 38 digits, and Spark/DuckDB
    * cap overflow differently — doubles from exact sums sidestep that
    * while keeping run-to-run determinism). Rounded 6 dp. One keyed agg;
    * map-side partials. */
  private def aggSkewness(s: SparkSession, d: String): DataFrame = {
    val c = (Det.dec(col("o_totalprice")) * 100).cast(DecimalType(12, 0))
    val big = (x: Column) => x.cast(DecimalType(38, 0))
    val dbl = (x: Column) => x.cast("double")
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(c).as("s1d"), sum(big(c * c)).as("s2d"), sum(big(big(c * c) * c)).as("s3d"))
      .select(col("o_orderstatus"), col("n"),
        dbl(col("s1d")).as("sd1"), dbl(col("s2d")).as("sd2"),
        dbl(col("s3d")).as("sd3"), dbl(col("n")).as("nd"))
      .select(col("o_orderstatus"), col("n"),
        round(
          (col("nd") * col("nd") * col("sd3") -
            lit(3.0d) * col("nd") * col("sd1") * col("sd2") +
            lit(2.0d) * col("sd1") * col("sd1") * col("sd1")) /
            (sqrt(col("nd") * col("sd2") - col("sd1") * col("sd1")) *
              (col("nd") * col("sd2") - col("sd1") * col("sd1"))), 6)
          .as("skewness"))
      .orderBy("o_orderstatus")
  }

  private val aggSkewnessSql =
    """WITH cents AS (
      |  SELECT o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS DECIMAL(12,0)) AS c
      |  FROM orders),
      |m AS (
      |  SELECT o_orderstatus, count(*) AS n,
      |    sum(c) AS s1d,
      |    sum(CAST(c * c AS DECIMAL(38,0))) AS s2d,
      |    sum(CAST(CAST(c * c AS DECIMAL(38,0)) * c AS DECIMAL(38,0))) AS s3d
      |  FROM cents GROUP BY o_orderstatus),
      |dd AS (
      |  SELECT o_orderstatus, n,
      |    CAST(s1d AS DOUBLE) AS sd1, CAST(s2d AS DOUBLE) AS sd2,
      |    CAST(s3d AS DOUBLE) AS sd3, CAST(n AS DOUBLE) AS nd
      |  FROM m)
      |SELECT o_orderstatus, n,
      |  round((nd * nd * sd3 - 3.0 * nd * sd1 * sd2 + 2.0 * sd1 * sd1 * sd1) /
      |        (sqrt(nd * sd2 - sd1 * sd1) * (nd * sd2 - sd1 * sd1)), 6)
      |  AS skewness
      |FROM dd ORDER BY o_orderstatus""".stripMargin

  /** A8 `rfm_segments`: RFM customer segmentation — recency (days since the
    * customer's last order, vs the corpus max date), frequency (order
    * count), monetary (exact decimal spend), each quartiled with ntile(4)
    * under a fully-deterministic order (metric, then custkey — ntile ties
    * are engine-defined without a total order). Output is the segment
    * cube: (r,f,m) → customer count + exact spend. The fact reduces to one
    * row per customer in one shuffle; the three ntile windows sort the
    * CUSTOMER aggregate globally — fine to ~10⁸ customers on one task, and
    * the documented 100 TB path replaces ntile with broadcast quantile cut
    * points (approx_percentile on the aggregate, exact thresholds applied
    * map-side, no global sort). */
  private def rfmSegments(s: SparkSession, d: String): DataFrame =
    rfmSegmentsOf(orders(s, d))

  private[graft] def rfmSegmentsOf(ordersDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxDay = ordersDf.agg(max("o_orderdate").as("d_max"))
    val per = ordersDf
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_day"),
        count(lit(1)).as("n_orders"),
        sum(Det.dec(col("o_totalprice"))).as("spend"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency", datediff(col("d_max"), col("last_day")))
    val seg = per
      .withColumn("r", ntile(4).over(Window.orderBy(col("recency"), col("o_custkey"))))
      .withColumn("f", ntile(4).over(Window.orderBy(col("n_orders").desc, col("o_custkey"))))
      .withColumn("m", ntile(4).over(Window.orderBy(col("spend").desc, col("o_custkey"))))
    seg.groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("segment_spend"))
      .orderBy("r", "f", "m")
  }

  /** `rfm_segments_scaled`: A8's result from the SCALE algorithm — the
    * three quartile assignments WITHOUT the three single-task
    * `ntile(4).over(Window.orderBy(...))` sorts. Each metric gets a
    * [[graft.ops.OrderedOps.globalRank]] pass over the per-customer
    * aggregate (range shuffle + pinned layout + broadcast offsets; desc
    * orders ride the SortOrder straight through the range partitioner), and
    * [[graft.ops.OrderedOps.ntileFromRank]] turns (rank, N) into the
    * identical ANSI quartile split arithmetically. Three range shuffles of
    * the customer aggregate buy unbounded parallelism — at 10⁹+ customers
    * the window form is three sequential one-task sorts of the whole
    * aggregate. Same oracle as `rfm_segments`: hash-proof of the rewrite. */
  private def rfmSegmentsScaled(s: SparkSession, d: String): DataFrame =
    rfmSegmentsScaledOf(orders(s, d))

  private[graft] def rfmSegmentsScaledOf(ordersDf: DataFrame): DataFrame = {
    import graft.ops.OrderedOps.{globalRank, ntileFromRank}
    val maxDay = ordersDf.agg(max("o_orderdate").as("d_max"))
    val per = ordersDf
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_day"),
        count(lit(1)).as("n_orders"),
        sum(Det.dec(col("o_totalprice"))).as("spend"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency", datediff(col("d_max"), col("last_day")))
      .select("o_custkey", "n_orders", "spend", "recency")
    val rR = globalRank(per, Seq(col("recency").asc, col("o_custkey").asc))
      .withColumnRenamed("g_rank", "rk_r")
    val rF = globalRank(rR, Seq(col("n_orders").desc, col("o_custkey").asc))
      .withColumnRenamed("g_rank", "rk_f")
    val rM = globalRank(rF, Seq(col("spend").desc, col("o_custkey").asc))
      .withColumnRenamed("g_rank", "rk_m")
    rM.crossJoin(broadcast(per.agg(count(lit(1)).as("n_total"))))
      .select(col("spend"),
        ntileFromRank(col("rk_r"), col("n_total"), 4).as("r"),
        ntileFromRank(col("rk_f"), col("n_total"), 4).as("f"),
        ntileFromRank(col("rk_m"), col("n_total"), 4).as("m"))
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("segment_spend"))
      .orderBy("r", "f", "m")
  }

  private val rfmSegmentsSql =
    """WITH per AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_day, count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |mx AS (SELECT max(o_orderdate) AS d_max FROM orders),
      |seg AS (
      |  SELECT o_custkey, n_orders, spend,
      |         ntile(4) OVER (ORDER BY date_diff('day', last_day, d_max), o_custkey) AS r,
      |         ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
      |         ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS m
      |  FROM per, mx)
      |SELECT r, f, m, count(*) AS n_customers,
      |       CAST(sum(spend) AS DOUBLE) AS segment_spend
      |FROM seg GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin

  /** A2b `agg_mode`: deterministic per-group MODE — the most frequent
    * o_orderpriority within each o_orderstatus, ties broken by the smaller
    * value (SQL's `mode()` leaves ties implementation-defined, so the
    * portable form is count-then-rank with an explicit tie order). Two
    * stages: one keyed count agg (map-side partials), then a rank over the
    * tiny (status, priority) aggregate — fact scans once, the window runs
    * on ≤ |statuses|×|priorities| rows. */
  private def aggMode(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    orders(s, d)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("cnt").as("mode_n"))
      .orderBy("o_orderstatus")
  }

  private val aggModeSql =
    """WITH c AS (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |r AS (
      |  SELECT o_orderstatus, o_orderpriority, cnt,
      |         row_number() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY cnt DESC, o_orderpriority) AS rk
      |  FROM c)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_n
      |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin

  /** A3 `agg_salary_stats`: the salary-dashboard multi-agg (README.md:10),
    * TPC-H Q1 shape. Partial (map-side) agg + final agg happen automatically;
    * the only shuffle carries 6 groups. Decimal sums keep the hash stable.
    * (r15 examined: a projected fanOut to parallelize the decimal partial
    * agg measured NEUTRAL — `Probe q` 1.30 med vs the 1.15 bench baseline; the
    * round-robin exchange's serial write costs what the cores-wide agg
    * saves at this size — declined, single-scan shape kept.) */
  private def aggSalaryStats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // round(…, 2) BEFORE the double cast: the raw DECIMAL(38,6) sums
        // exceed 2^53 × 1e-6 at sf1, where Spark's correctly-rounded
        // BigDecimal→double and DuckDB's int128-through-double division
        // disagree in the last ulp (sf1 rehearsal). At scale 2 the scaled
        // integer stays exactly representable to ~sf1000.
        round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))), 2)
          .cast("double").as("sum_disc_price"),
        round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          * (lit(1) + dec(col("l_tax")))), 2).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val aggSalaryStatsSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
       |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A4 `agg_count_distinct`: distinct companies/jobs per day analog. */
  private def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      countDistinct(col("o_custkey")).as("n_customers"),
      countDistinct(col("o_orderstatus")).as("n_statuses"),
      countDistinct(col("o_orderpriority")).as("n_priorities"))

  private val aggCountDistinctSql =
    """SELECT count(DISTINCT o_custkey) AS n_customers,
      |       count(DISTINCT o_orderstatus) AS n_statuses,
      |       count(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders""".stripMargin

  /** A4b `agg_approx_distinct`: HLL sketch — the scale path for distincts
    * (one pass, no shuffle of raw keys). NOT oracle-compared (estimator ≠
    * DuckDB's); rows-only check. */
  private def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      approx_count_distinct(col("o_custkey")).as("approx_customers"))

  /** A4b bound oracle (`agg_approx_distinct_bound`): shrink the rows-only
    * blind spot — the HLL++ estimate itself is engine-specific, but its
    * ERROR BOUND is checkable cross-engine: per group emit the exact
    * distinct plus a boolean |approx − exact| ≤ 3·rsd·exact (rsd 0.05,
    * 3σ). DuckDB reproduces the exact half and asserts TRUE for the bound;
    * a broken sketch (or a broken merge) flips the boolean and fails the
    * hash. Deterministic: HLL hashing has no RNG, so the flag is stable
    * for fixed data. */
  private def aggApproxDistinctBound(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.05).as("approx"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("approx") - col("exact_customers")) <=
          lit(0.15) * col("exact_customers")).as("within_bound"))
      .orderBy("o_orderpriority")

  private val aggApproxDistinctBoundSql =
    """SELECT o_orderpriority,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
      |       TRUE AS within_bound
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** A5 `agg_rollup`: subtotal matrices for dashboards. grouping_id
    * disambiguates subtotal rows from real NULL groups. */
  private def aggRollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val aggRollupSql =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       |       ${sqlDsum("o_totalprice")} AS total,
       |       GROUPING(o_orderstatus, o_orderpriority) AS gid
       |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** A5c `agg_grouping_sets`: explicit subtotal shapes — the dashboard
    * matrix that is neither a full rollup nor a cube ((status,priority),
    * (status), ()). Same grouping_id disambiguation as A5. */
  private def aggGroupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val aggGroupingSetsSql =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       |       ${sqlDsum("o_totalprice")} AS total,
       |       GROUPING(o_orderstatus, o_orderpriority) AS gid
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
       |                        (o_orderstatus), ())
       |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** A4c `agg_hll_mergeable`: the MERGEABLE-sketch rollup — per-month
    * DataSketches HLL of the customer set, then a lossless sketch union to
    * the period total (re-aggregation without re-scanning, the 100 TB
    * rollup-table pattern; A4b's approx_count_distinct yields only a
    * number, which cannot be re-aggregated). Rows-only by design: the
    * sketch estimator is engine-specific (property-tested instead — the
    * union of per-month sketches must equal the direct whole-column sketch
    * exactly, and land within HLL error of the exact distinct). */
  private def aggHllMergeable(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sketch"))
    monthly.agg(
      count(lit(1)).as("n_months"),
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_customers"))
  }

  /** A4c bound oracle (`agg_hll_mergeable_bound`): the mergeable-rollup
    * claim made hash-checkable — per-month DataSketches HLLs union to a
    * period estimate whose error vs the EXACT whole-column distinct must
    * sit within 5% (lgK 12 ⇒ rsd ≈ 1.6%, 3σ). The oracle computes months
    * + exact distinct and asserts the bound TRUE; a lossy union (the
    * failure mode re-aggregation exists to avoid) flips it. */
  private def aggHllMergeableBound(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val est = o
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sketch"))
      .agg(count(lit(1)).as("n_months"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
    val exact = o.agg(countDistinct(col("o_custkey")).as("exact_customers"))
    est.crossJoin(exact)
      .select(col("n_months"), col("exact_customers"),
        (abs(col("est") - col("exact_customers")) <=
          lit(0.05) * col("exact_customers")).as("within_bound"))
  }

  private val aggHllMergeableBoundSql =
    """SELECT (SELECT CAST(count(DISTINCT date_trunc('month', o_orderdate))
      |               AS BIGINT) FROM orders) AS n_months,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
      |       TRUE AS within_bound
      |FROM orders""".stripMargin

  /** A4d `sketch_count_min`: the mergeable FREQUENCY sketch beside A4c's
    * distinct sketch — a Count-Min over the fact's part key (eps 0.1%,
    * conf 99%, fixed seed), probed for the 20 hottest exact keys. CMS
    * counters are commutative sums, so the distributed merge is
    * order-independent and the estimates fully deterministic — but
    * engine-specific, so rows-only by design (SketchSpec property-tests
    * the CMS guarantee: est ≥ exact, overshoot ≤ eps·N). At 100 TB the
    * sketch is the heavy-hitter path: a few KB summarize the key-frequency
    * shape of the whole table and merge across any partitioning. */
  private def sketchCountMin(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val bytes = li.select(expr(
      "count_min_sketch(l_partkey, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)")
      .as("cms")).collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val top = li.groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_partkey")).limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1), cms.estimateCount(r.getLong(0))))
    import s.implicits._
    top.toSeq.toDF("l_partkey", "exact_cnt", "est_cnt")
      .orderBy("l_partkey")
  }

  /** A4d bound oracle (`sketch_count_min_bound`): the Count-Min guarantee
    * hash-checked — per probed hot key, est ≥ exact (CMS never
    * undercounts: every counter the key hashes to holds its full count
    * plus collisions) and overshoot ≤ ε·N with ε = 0.001 (the sketch's
    * own width parameter; the 99%-confidence bound is deterministic here:
    * fixed seed + fixed data = fixed collisions). DuckDB reproduces the
    * exact top-20 and asserts both bounds TRUE. */
  private def sketchCountMinBound(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val n = li.count()
    val bytes = li.select(expr(
      "count_min_sketch(l_partkey, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)")
      .as("cms")).collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val eps = math.ceil(0.001 * n).toLong
    val top = li.groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_partkey")).limit(20).collect()
      .map { r =>
        val est = cms.estimateCount(r.getLong(0))
        (r.getLong(0), r.getLong(1), est >= r.getLong(1),
          est - r.getLong(1) <= eps)
      }
    import s.implicits._
    top.toSeq.toDF("l_partkey", "exact_cnt", "ge_exact", "within_eps")
      .orderBy("l_partkey")
  }

  private val sketchCountMinBoundSql =
    """WITH top AS (
      |  SELECT l_partkey, count(*) AS exact_cnt FROM lineitem
      |  GROUP BY 1 ORDER BY exact_cnt DESC, l_partkey LIMIT 20)
      |SELECT l_partkey, exact_cnt, TRUE AS ge_exact, TRUE AS within_eps
      |FROM top ORDER BY l_partkey""".stripMargin

  /** A4f `join_size_cms`: join-cardinality estimation by Count-Min INNER
    * PRODUCT (Cormode & Muthukrishnan 2005 §4.2) — the planning query an
    * engineer runs BEFORE a 100 TB join to size shuffle partitions and
    * pick a strategy: |A ⋈ B| = Σ_k cA(k)·cB(k) exactly, and the CMS
    * estimate min_d Σ_w A_d[w]·B_d[w] needs only two 4×8192-cell
    * summaries where the exact form needs full keyed aggs on both sides.
    * Unlike `sketch_count_min` (engine-private hashes, rows-only), the
    * sketch here is built IN-PLAN from the portable md5 bucket hash, so
    * the estimate itself is cross-engine deterministic and the WHOLE op
    * hash-verifies: exact size, estimate, the one-sided guarantee
    * est ≥ exact (collisions only ADD mass), and the measured bound
    * est − exact ≤ ⌈ε·N_A·N_B⌉ with ε = e/width (width 8192 keeps the
    * cross-collision mass ~N_A·N_B/w well under the signal). Shape: per
    * side ONE fact scan into a (key, count) map-side-combined pre-reduce
    * that feeds all three consumers (sketch, exact join, row totals) —
    * by CMS linearity (counters are plain sums) the count-weighted sketch
    * is IDENTICAL to the per-row build while the md5 cost drops from fact
    * rows to distinct keys; then a 4-way posexplode into a
    * (depth,bucket)-keyed agg (32 K cells), a cell-aligned join of two
    * 32 K-row tables, and a 4-row rollup — the fact scans never meet. */
  private def joinSizeCms(s: SparkSession, d: String): DataFrame = {
    val depths = 4
    val width = 8192L
    // (key, count) pre-reduce, localCheckpointed once per side for its
    // three consumers (r09 verdict #4: the per-row build paid 4 portable
    // md5s per FACT row — scan-bound 14.0x at the 20x probe)
    def keyCounts(df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("kcnt"))
        .localCheckpoint(false)
    // ONE md5 per key: its 32 hex chars split into four disjoint 8-char
    // slices = four independent 32-bit hashes (row 1.10 of the md5 layout)
    // — 4x less hashing than salting the key per depth, same estimate
    // guarantees. Production would use xxhash64 seeds; md5 is the portable
    // hash the oracle can replay.
    def cms(kc: DataFrame): DataFrame = {
      val h = md5(col("k").cast("string"))
      val buckets = array((0 until depths).map { dep =>
        conv(substring(h, 1 + 8 * dep, 8), 16, 10).cast("long") % width
      }: _*)
      kc.select(col("kcnt"), posexplode(buckets).as(Seq("depth", "b")))
        .groupBy("depth", "b").agg(sum(col("kcnt")).as("cnt"))
    }
    val ka = keyCounts(lineitem(s, d), "l_orderkey")
    val kb = keyCounts(orders(s, d), "o_orderkey")
    val est = cms(ka).withColumnRenamed("cnt", "ca")
      .join(cms(kb).withColumnRenamed("cnt", "cb"), Seq("depth", "b"))
      .groupBy("depth").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_size"))
    val exact = ka.select(col("k"), col("kcnt").as("ca"))
      .join(kb.select(col("k"), col("kcnt").as("cb")), "k")
      .agg(sum(col("ca") * col("cb")).as("exact_size"))
    val ns = ka.agg(sum(col("kcnt")).as("na"))
      .crossJoin(kb.agg(sum(col("kcnt")).as("nb")))
    exact.crossJoin(broadcast(est)).crossJoin(broadcast(ns))
      .select(col("exact_size"), col("est_size"),
        (col("est_size") >= col("exact_size")).as("ge_exact"),
        (col("est_size") - col("exact_size") <=
          ceil(lit(math.E / 8192.0) * col("na") * col("nb")).cast("long"))
          .as("within_eps"),
        round((col("est_size") - col("exact_size")).cast("double") /
          col("exact_size").cast("double"), 6).as("rel_overshoot"))
  }

  private val joinSizeCmsSql =
    """WITH ca_ AS (
      |  SELECT depth,
      |    CAST('0x' || substring(md5(k), CAST(1 + 8 * depth AS INTEGER), 8)
      |         AS BIGINT) % 8192 AS b, count(*) AS cnt
      |  FROM (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
      |       range(0, 4) t(depth)
      |  GROUP BY 1, 2),
      |cb_ AS (
      |  SELECT depth,
      |    CAST('0x' || substring(md5(k), CAST(1 + 8 * depth AS INTEGER), 8)
      |         AS BIGINT) % 8192 AS b, count(*) AS cnt
      |  FROM (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
      |       range(0, 4) t(depth)
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT CAST(min(ip) AS BIGINT) AS est_size FROM (
      |    SELECT a.depth, SUM(a.cnt * b.cnt) AS ip
      |    FROM ca_ a JOIN cb_ b ON a.depth = b.depth AND a.b = b.b
      |    GROUP BY 1)),
      |exact AS (
      |  SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_size FROM
      |    (SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1) a
      |    JOIN
      |    (SELECT o_orderkey AS k, count(*) AS cnt FROM orders GROUP BY 1) b
      |    ON a.k = b.k),
      |ns AS (SELECT (SELECT count(*) FROM lineitem) AS na,
      |              (SELECT count(*) FROM orders) AS nb)
      |SELECT exact_size, est_size,
      |  est_size >= exact_size AS ge_exact,
      |  est_size - exact_size <=
      |    CAST(ceil(CAST(2.718281828459045 AS DOUBLE) / 8192.0 * na * nb)
      |         AS BIGINT)
      |    AS within_eps,
      |  round(CAST(est_size - exact_size AS DOUBLE)
      |        / CAST(exact_size AS DOUBLE), 6) AS rel_overshoot
      |FROM exact, est, ns""".stripMargin

  /** A5b `agg_cube`: full cube over two low-cardinality dims. */
  private def aggCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val aggCubeSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |       GROUPING(l_returnflag, l_linestatus) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---- §2.1 S5/S6 upsert-as-batch ------------------------------------------

  /** A6d `median_two_pass`: the EXACT global median without a global sort —
    * the third leg beside A6b (exact percentile: buffers and sorts every
    * group member) and A6c (mergeable sketch: approximate). Pass 1 is one
    * $1000-integer-bucket keyed agg (map-side combined; ~100 cells reach
    * the driver); the driver locates which bucket(s) hold the two median
    * positions by pure integer cumulative arithmetic. Pass 2 scans again
    * with the bucket predicate PUSHED (a ~1/100 slice), global-ranks just
    * that slice through [[graft.ops.OrderedOps.globalRank]] (range
    * partitions + broadcast offsets — no one-task sort even inside the
    * slice), and reads the two order statistics; ties need no tiebreak
    * because any row at a tied position carries the same value.
    * Interpolation mirrors both engines' percentile: v1 + (v2−v1)·0.5,
    * rounded 4 dp. Emits the pass-2 row count so the hash itself proves
    * the second scan touched a slice, not the table. At 100 TB this is
    * the textbook two-pass selection: the data is never globally sorted,
    * and both passes are scan+keyed-agg shaped. */
  private def medianTwoPass(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(dec(col("l_extendedprice")).as("v"))
    val bucketCol = expr("CAST(v * 100 AS BIGINT) div 100000")
    val counts = base.groupBy(bucketCol.as("bk")).agg(count(lit(1)).as("c"))
      .orderBy("bk").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = counts.map(_._2).sum
    val h = (n - 1).toDouble * 0.5 + 1.0
    val p1 = math.floor(h).toLong
    val p2 = math.ceil(h).toLong
    // buckets whose [cumBefore+1, cum] range intersects [p1, p2]
    var cum = 0L
    val picked = counts.flatMap { case (bk, c) =>
      val before = cum; cum += c
      if (before < p2 && cum >= p1) Some((bk, before, c)) else None
    }
    val pass2Rows = picked.map(_._3).sum
    val cumBefore = picked.head._2
    val bks = picked.map(_._1)
    val slice = base.filter(bucketCol.isin(bks: _*))
    val ranked = graft.ops.OrderedOps.globalRank(slice, Seq(col("v").asc))
    ranked
      .filter(col("g_rank").isin(p1 - cumBefore, p2 - cumBefore))
      .agg(min(col("v")).as("v1"), max(col("v")).as("v2"))
      .select(lit(n).as("n_rows"), lit(pass2Rows).as("pass2_rows"),
        round(col("v1").cast("double") +
          (col("v2").cast("double") - col("v1").cast("double")) * 0.5, 4)
          .as("median"))
  }

  private val medianTwoPassSql =
    """WITH src AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS v FROM lineitem),
      |b AS (SELECT CAST(v * 100 AS BIGINT) // 100000 AS bk, count(*) AS c
      |      FROM src GROUP BY 1),
      |cum AS (SELECT bk, c, sum(c) OVER (ORDER BY bk) AS cum FROM b),
      |par AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
      |pos AS (SELECT n,
      |          CAST(floor((n - 1) * 0.5 + 1) AS BIGINT) AS p1,
      |          CAST(ceil((n - 1) * 0.5 + 1) AS BIGINT) AS p2 FROM par),
      |sel AS (SELECT CAST(SUM(c) AS BIGINT) AS pass2_rows
      |        FROM cum, pos WHERE cum - c < p2 AND cum >= p1),
      |vals AS (
      |  SELECT min(v) AS v1, max(v) AS v2 FROM (
      |    SELECT v, row_number() OVER (ORDER BY v) AS rn FROM src), pos
      |  WHERE rn IN (p1, p2))
      |SELECT pos.n AS n_rows, sel.pass2_rows,
      |  round(CAST(v1 AS DOUBLE)
      |        + (CAST(v2 AS DOUBLE) - CAST(v1 AS DOUBLE)) * 0.5, 4) AS median
      |FROM vals, pos, sel""".stripMargin

  /** A6e `agg_weighted_percentile`: exact WEIGHTED quantiles (median and
    * p90 of price, weighted by quantity) — the quantile a revenue or
    * token-budget question actually asks ("half the UNITS sold below what
    * price?"), which A6b's unweighted form cannot answer. Definition: the
    * lower weighted quantile — smallest v with cumW(v) ≥ q·W — evaluated
    * as pure cross-multiplied integers (2·cum ≥ W, 10·cum ≥ 9·W: no float
    * threshold can flip a boundary). The cumulative weights run through
    * [[graft.ops.OrderedOps.cumSumsByKey]] on the cent-scaled value domain
    * (range-partitioned prefix sums — zero Window nodes at any domain
    * size); the fact reduces map-side to the distinct-value domain first,
    * so the prefix pass never sees corpus-sized input. */
  private def aggWeightedPercentile(s: SparkSession, d: String): DataFrame = {
    val rows = lineitem(s, d).select(
      (dec(col("l_extendedprice")) * 100).cast("long").as("vc"),
      (dec(col("l_quantity")) * 100).cast("long").as("w"))
    val dom = rows.groupBy("vc").agg(sum(col("w")).as("w"))
    val cum = graft.ops.OrderedOps.cumSumsByKey(dom, "vc", Seq("w"))
    val tot = dom.agg(sum(col("w")).as("tw"))
    cum.crossJoin(broadcast(tot))
      .agg(
        min(when(col("cum_w") * 2 >= col("tw"), col("vc"))).as("v50"),
        min(when(col("cum_w") * 10 >= col("tw") * 9, col("vc"))).as("v90"),
        max(col("tw")).as("tw"))
      .select(col("tw").as("total_weight"),
        (col("v50").cast("double") / 100.0).as("wp50"),
        (col("v90").cast("double") / 100.0).as("wp90"))
  }

  private val aggWeightedPercentileSql =
    """WITH rows_c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |           AS vc,
      |         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
      |  FROM lineitem),
      |dom AS (SELECT vc, CAST(SUM(w) AS BIGINT) AS w FROM rows_c GROUP BY 1),
      |cum AS (SELECT vc, sum(w) OVER (ORDER BY vc) AS cum_w FROM dom),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM dom)
      |SELECT tot.tw AS total_weight,
      |  CAST(min(CASE WHEN cum_w * 2 >= tw THEN vc END) AS DOUBLE) / 100.0
      |    AS wp50,
      |  CAST(min(CASE WHEN cum_w * 10 >= tw * 9 THEN vc END) AS DOUBLE)
      |    / 100.0 AS wp90
      |FROM cum, tot GROUP BY tot.tw""".stripMargin

  /** A6b `agg_percentiles`: exact interpolated percentiles per group — the
    * salary-dashboard median/p90/p99 (README.md:10). Exact (sort-based)
    * here; at 100 TB the approx_percentile sketch is the first fallback.
    * One array-form percentile call: three scalar calls each buffer the
    * whole group (3× the memory and three sorts); the array form buffers
    * and sorts once (measured 3.5s → 1.4s at sf0.1). */
  private def aggPercentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ps"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        round(col("ps")(0), 4).as("p50"), round(col("ps")(1), 4).as("p90"),
        round(col("ps")(2), 4).as("p99"), col("cnt"))
      .orderBy("l_returnflag")

  /** A6c `sketch_percentiles`: the 100 TB percentile path realized — the
    * Greenwald-Khanna sketch (`approx_percentile`, accuracy 10000 ⇒ rank
    * error ≤ 1/10000) per group. Mergeable partial sketches, bounded
    * memory, one pass — vs A6b's exact sort-based form whose per-group
    * buffer is O(group). Rows-only by design (the sketch's picked sample
    * is engine-specific); EdgeCasesSpec property-tests the rank-error
    * guarantee against the exact percentiles. */
  private def sketchPercentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
          .as("approx"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        col("approx")(0).as("p50"), col("approx")(1).as("p90"),
        col("approx")(2).as("p99"), col("cnt"))
      .orderBy("l_returnflag")

  /** A6c bound oracle (`sketch_percentiles_bound`): the Greenwald-Khanna
    * guarantee made hash-checkable — the sketch's picked values are
    * engine-specific, but GK promises |rank(q̂_p) − p·n| ≤ ε·n. Per group:
    * the approx percentiles compute once, their EXACT ranks come from one
    * conditional re-count over the same scan, and the output is the exact
    * row count + three booleans at a 10× slack of the nominal ε = 1/10000
    * (sketch merges across partials stack error; 0.1% rank slack still
    * proves the sketch, a broken one is off by whole percents). The oracle
    * reproduces the counts and asserts TRUE. */
  private def sketchPercentilesBound(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val ap = li.groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
          .as("a"),
        count(lit(1)).as("cnt"))
    def rnk(i: Int) = sum(
      when(col("l_extendedprice") <= col("a")(i), 1L).otherwise(0L))
    def ok(r: Column, p: Double) =
      abs(r - lit(p) * col("cnt")) <= col("cnt") / 1000 + 1
    li.join(broadcast(ap), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(first(col("cnt")).as("cnt"), rnk(0).as("r50"), rnk(1).as("r90"),
        rnk(2).as("r99"))
      .select(col("l_returnflag"), col("cnt"),
        ok(col("r50"), 0.5).as("p50_ok"), ok(col("r90"), 0.9).as("p90_ok"),
        ok(col("r99"), 0.99).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  private val sketchPercentilesBoundSql =
    """SELECT l_returnflag, count(*) AS cnt,
      |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  private val aggPercentilesSql =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
      |       count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** S5 `upsert_dedup`: the reference's probe+insert upsert
    * (database.py:106-158) batchwise: dedup incoming on the business key,
    * anti-join against "existing", keep survivors. Existing = orders before
    * 1998; incoming = orders from 1997 (overlap year ⇒ real dedup work). */
  private def upsertDedup(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val existing = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val incoming = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
    incoming
      .dropDuplicates("o_orderkey")
      .join(existing.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  private val upsertDedupSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus
      |FROM orders i
      |WHERE i.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND NOT EXISTS (SELECT 1 FROM orders e
      |                  WHERE e.o_orderkey = i.o_orderkey
      |                    AND e.o_orderdate < TIMESTAMP '1998-01-01')
      |ORDER BY o_orderkey""".stripMargin

  /** S6 `append_dedup_skills`: unique-constraint-as-set-semantics
    * (database.py:87): drop duplicate (parent, child-name) pairs. */
  private def appendDedup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_partkey")
      .dropDuplicates("l_orderkey", "l_partkey")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_distinct_parts"))
      .orderBy("l_orderkey")

  private val appendDedupSql =
    """SELECT l_orderkey, count(*) AS n_distinct_parts
      |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // ---- §2.6 windows --------------------------------------------------------

  /** W1 `window_rank_topn`: top-3 parts by revenue within each brand. */
  private def rankTopN(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_partkey")
      .agg(dsum(col("l_extendedprice")).as("revenue"))
    val w = Window.partitionBy("p_brand")
      .orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("p_brand", "p_partkey", "revenue", "rnk")
      .orderBy("p_brand", "rnk", "p_partkey")
  }

  private val rankTopNSql =
    s"""WITH rev AS (
       |  SELECT p_brand, p_partkey, ${sqlDsum("l_extendedprice")} AS revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand, p_partkey)
       |SELECT p_brand, p_partkey, revenue, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY p_brand
       |            ORDER BY revenue DESC, p_partkey) AS rnk FROM rev)
       |WHERE rnk <= 3 ORDER BY p_brand, rnk, p_partkey""".stripMargin

  /** window_rank_topn's result computed WITHOUT a window: bounded top-k
    * per key via the [[graft.ops.TopKOps]] typed Aggregator. Same oracle as
    * the window form — same rows is the whole point; the plans differ
    * exactly where it matters at 100 TB (map-side k-bounded partials vs
    * shuffling and sorting every group in full; PlanAuditSpec asserts the
    * partial aggregation and the absence of a window sort). */
  private def rankTopNAgg(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_partkey")
      .agg(dsum(col("l_extendedprice")).as("revenue"))
    rev.groupBy("p_brand")
      .agg(graft.ops.TopKOps.topK(3, col("revenue"), col("p_partkey")).as("top"))
      .select(col("p_brand"), posexplode(col("top")))
      .select(col("p_brand"), col("col._2").as("p_partkey"),
        col("col._1").as("revenue"), (col("pos") + 1).cast("int").as("rnk"))
      .orderBy("p_brand", "rnk", "p_partkey")
  }

  /** W2 `window_lag_delta`: day-over-day change in order counts. */
  private def lagDelta(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("month")
    daily
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
      .withColumn("delta", col("cnt") - coalesce(col("prev_cnt"), lit(0L)))
      .orderBy("month")
  }

  private val lagDeltaSql =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1)
      |SELECT month, cnt, lag(cnt, 1) OVER (ORDER BY month) AS prev_cnt,
      |       cnt - coalesce(lag(cnt, 1) OVER (ORDER BY month), 0) AS delta
      |FROM daily ORDER BY month""".stripMargin

  /** W3 `window_moving_avg`: 3-month moving average of monthly revenue
    * (row frame). Counts (exact ints) averaged in double — both engines
    * compute the same small-int sums, so the doubles agree. */
  private def movingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("month").rowsBetween(-2, 0)
    daily
      .withColumn("ma3",
        (sum(col("cnt")).over(w).cast("double") /
          count(col("cnt")).over(w)).as("ma3"))
      .orderBy("month")
  }

  private val movingAvgSql =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1)
      |SELECT month, cnt,
      |       CAST(sum(cnt) OVER w AS DOUBLE) / count(cnt) OVER w AS ma3
      |FROM daily
      |WINDOW w AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY month""".stripMargin

  /** W3b `window_range_frame`: a true TIME-interval frame — per event type,
    * events and exact-decimal value in the trailing 6 HOURS (RANGE frame on
    * epoch micros; W3's rows-frame counts a fixed number of ROWS, which is
    * wrong the moment event spacing varies — the sliding-window question is
    * about time). RANGE makes ties well-defined: all ts peers share one
    * frame, so the result is deterministic whatever order peers arrive in —
    * a rows-frame over a tied sort is NOT. Both engines order by the exact
    * integer epoch-micros with an integer bound, sidestepping interval-
    * arithmetic differences. 100 TB: partitions by event_type; within a hot
    * type the same frame runs per (type, day-bucket) with a boundary-carry
    * pass — the window input stays partition-local either way. */
  private def windowRangeFrame(s: SparkSession, d: String): DataFrame =
    windowRangeFrameOf(events(s, d))

  private[graft] def windowRangeFrameOf(ev: DataFrame): DataFrame = {
    val sixH = 6L * 3600L * 1000000L
    val w = Window.partitionBy("event_type").orderBy(col("tsu"))
      .rangeBetween(-sixH, 0)
    ev.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .withColumn("n_6h", count(lit(1)).over(w))
      .withColumn("val_6h", sum(dec(col("value"))).over(w).cast("double"))
      .select("event_id", "event_type", "n_6h", "val_6h")
      .orderBy("event_id")
  }

  private val windowRangeFrameSql =
    """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tsu, value
      |           FROM events)
      |SELECT event_id, event_type,
      |       count(*) OVER w AS n_6h,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS val_6h
      |FROM e
      |WINDOW w AS (PARTITION BY event_type ORDER BY tsu
      |             RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** `window_range_frame_bucketed`: W3b's result from the SCALE algorithm —
    * the partition-by-type window bounds parallelism at the type count (5
    * here, still 5 at 100 TB, where one type's events don't fit a task).
    * Pick a bucket width ≥ the frame (24 h here, frame 6 h): a row's frame
    * then spans AT MOST its own bucket and the one before, and the only
    * prior-bucket rows any frame can reach are those in the LAST frame-
    * length of that bucket — so carry exactly those (tsu mod width ≥
    * width − frame) into the next bucket, window per (type, bucket) with
    * the SAME RANGE frame arithmetic, and emit only the non-carry rows.
    * Carried rows outside a row's true frame sit in the partition but
    * outside every frame, contributing nothing. Same oracle as
    * `window_range_frame`: hash equality IS the rewrite proof. Duplication
    * is frame/width (25% here; the r10 form used width = frame = 2× rows —
    * the width knob trades carry volume against per-bucket partition size,
    * parallelism stays types × buckets and grows with the time span). */
  private def windowRangeFrameBucketed(s: SparkSession, d: String): DataFrame =
    windowRangeFrameBucketedOf(events(s, d))

  private[graft] def windowRangeFrameBucketedOf(ev: DataFrame): DataFrame = {
    val sixH = 6L * 3600L * 1000000L
    val bucketW = 4L * sixH // 24 h; any width ≥ the frame preserves the rewrite
    val base = ev.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("tsu"), col("value"))
    val tagged = base
      .select(col("event_id"), col("event_type"), col("tsu"), col("value"),
        expr(s"tsu div ${bucketW}L").as("bucket"), lit(false).as("carry"))
      .unionAll(base
        .filter(expr(s"tsu % ${bucketW}L >= ${bucketW - sixH}L"))
        .select(col("event_id"), col("event_type"), col("tsu"),
          col("value"), (expr(s"tsu div ${bucketW}L") + 1).as("bucket"),
          lit(true).as("carry")))
    val w = Window.partitionBy("event_type", "bucket").orderBy(col("tsu"))
      .rangeBetween(-sixH, 0)
    // Both window aggregates in ONE projection → one Window node (two
    // chained withColumn calls left two stacked Window operators over the
    // same frame in the physical plan — a second full pass over every
    // partition for no semantic reason).
    tagged
      .select(col("event_id"), col("event_type"), col("carry"),
        count(lit(1)).over(w).as("n_6h"),
        sum(dec(col("value"))).over(w).cast("double").as("val_6h"))
      .filter(!col("carry"))
      .select("event_id", "event_type", "n_6h", "val_6h")
      .orderBy("event_id")
  }

  /** W6 `window_ntile`: equal-frequency decile assignment over account
    * balance (the feature-binning shape). The ntile ORDER BY carries the
    * unique key so bucket boundaries are a total order in both engines. */
  private def windowNtile(s: SparkSession, d: String): DataFrame =
    windowNtileOf(customer(s, d))

  private[graft] def windowNtileOf(customerDf: DataFrame): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    customerDf
      .withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
      .orderBy("decile")
  }

  private val windowNtileSql =
    """SELECT decile, count(*) AS n, min(c_acctbal) AS lo, max(c_acctbal) AS hi
      |FROM (SELECT c_acctbal,
      |             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      |      FROM customer)
      |GROUP BY 1 ORDER BY decile""".stripMargin

  /** `window_ntile_scaled`: W6's result from the SCALE algorithm. The
    * ntile form's `Window.orderBy` with no partition spec coalesces the
    * whole input into ONE task (the `WindowExec: No Partition Defined`
    * warning in every test log was this query) — harmless when customers
    * are dimension-sized, fatal when the binned column is a fact. The
    * scalable plan: [[graft.ops.OrderedOps.globalRank]] (range-partition on
    * the total order, pinned layout, P partition counts to the driver,
    * broadcast prefix offsets, one local numbering pass) + ntile's
    * first-buckets-get-the-remainder split as pure integer arithmetic on
    * (rank, N) — parallelism stays at the partition count end to end.
    * Same oracle as `window_ntile`: hash equality IS the rewrite proof,
    * same pattern as `corr_spearman_scaled` / `drift_ks_scaled`. */
  private def windowNtileScaled(s: SparkSession, d: String): DataFrame =
    windowNtileScaledOf(customer(s, d))

  private[graft] def windowNtileScaledOf(customerDf: DataFrame): DataFrame = {
    val base = customerDf.select(col("c_custkey"), col("c_acctbal"))
    val ranked = graft.ops.OrderedOps.globalRank(
      base, Seq(col("c_acctbal").asc, col("c_custkey").asc))
    ranked
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_total"))))
      .withColumn("decile", graft.ops.OrderedOps.ntileFromRank(
        col("g_rank"), col("n_total"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
      .orderBy("decile")
  }

  /** W7b `window_rank_family`: the remaining ANSI rank-family functions —
    * percent_rank, cume_dist, nth_value — per priority over a UNIQUE
    * ordering (totalprice desc, orderkey), so rank peers can't make the
    * relative ranks engine-dependent. percent_rank = (rank-1)/(n-1) and
    * cume_dist = seen/n are integer-over-integer double divisions: both
    * engines produce the identical IEEE double, no rounding needed.
    * nth_value(·, 2) under the default running frame is NULL at the frame
    * head — the null row survives the oracle hash, pinning the ANSI frame
    * semantics too. Scale: one shuffle on the partition key; per-key frames
    * stream (no whole-partition buffering for these functions). */
  private def windowRankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("o_totalprice"), 2).over(w).as("runner_up"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  private val windowRankFamilySql =
    """SELECT o_orderpriority, o_orderkey,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd,
      |       nth_value(o_totalprice, 2) OVER w AS runner_up
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** P6 `unpivot_metrics`: wide-to-long reshaping (the inverse of A3's
    * pivot) — per-flag metric columns melted to (flag, metric, value) rows
    * via Dataset.unpivot; oracle is the portable UNION ALL formulation. */
  private def unpivotMetrics(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("qty"),
        dsum(col("l_extendedprice")).as("price"))
      .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  private val unpivotMetricsSql =
    s"""WITH wide AS (
       |  SELECT l_returnflag, ${sqlDsum("l_quantity")} AS qty,
       |         ${sqlDsum("l_extendedprice")} AS price
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, metric, value FROM (
       |  SELECT l_returnflag, 'qty' AS metric, qty AS value FROM wide
       |  UNION ALL
       |  SELECT l_returnflag, 'price' AS metric, price AS value FROM wide)
       |ORDER BY l_returnflag, metric""".stripMargin

  /** P7 `pivot_wide`: long-to-wide reshaping (the inverse of P6's unpivot) —
    * per-nation order counts pivoted into one column per priority class via
    * `RelationalGroupedDataset.pivot`. The pivot VALUES are declared
    * explicitly: without them Spark runs an eager distinct job over the
    * fact to discover the columns — at 100 TB that is a full extra scan
    * before planning even starts, so a production pivot always ships its
    * column list. One keyed agg (pivot compiles to per-group conditional
    * counts with map-side partials, same cost as A2), both dims broadcast;
    * missing (nation, priority) combos surface as null from the pivot and
    * are coalesced to 0 to match the oracle's FILTER counts. */
  private def pivotWide(s: SparkSession, d: String): DataFrame = {
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val names = Seq("n_urgent", "n_high", "n_medium", "n_notspec", "n_low")
    val piv = orders(s, d).select("o_custkey", "o_orderpriority")
      .join(broadcast(customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("o_orderpriority", prio)
      .agg(count(lit(1)))
    val ren = prio.lazyZip(names).foldLeft(piv) {
      case (df, (p, r)) => df.withColumnRenamed(p, r)
    }
    val cnt = names.map(r => coalesce(col(r), lit(0L)))
    ren.select((col("n_name") +: cnt.lazyZip(names).map(_.as(_))) :+
        cnt.reduce(_ + _).as("n_total"): _*)
      .orderBy("n_name")
  }

  private val pivotWideSql =
    """SELECT n_name,
      |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
      |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
      |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
      |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low,
      |  count(*) AS n_total
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY n_name""".stripMargin

  /** W7 `scd2_intervals`: build slowly-changing-dimension validity windows
    * from a change feed — each purchase event becomes a version valid from
    * its timestamp until the user's next purchase (lead), open-ended for
    * the current row. The write-side twin of the as-of join: J8 probes
    * these intervals point-in-time. */
  private def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .filter(col("event_type") === "purchase" && col("user_id") < 50)
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(w)))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "event_id", "valid_from_us", "valid_to_us", "is_current")
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  private val scd2IntervalsSql =
    """SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
      |       epoch_us(lead(ts, 1) OVER w) AS valid_to_us,
      |       lead(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WHERE event_type = 'purchase' AND user_id < 50
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  /** W8 `ts_gap_fill`: regularize an irregular per-user time series — build
    * each user's daily spine (sequence/explode between their first and last
    * active day), left-join the observed daily totals, forward-fill with
    * last-ignore-nulls. The feature-pipeline resample shape: spine
    * generation is per-key map-side row generation (no shuffle beyond the
    * daily agg), the fill is one bounded window. */
  private def tsGapFill(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .filter(col("event_type") === "purchase" && col("user_id") < 10)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(dsum(col("value")).as("day_value"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_value",
        last(col("day_value"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("day_value").isNotNull)
      .select("user_id", "day", "filled_value", "is_observed")
      .orderBy("user_id", "day")
  }

  private val tsGapFillSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
      |  FROM events WHERE event_type = 'purchase' AND user_id < 10
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1,
      |           INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
      |        FROM daily GROUP BY 1))
      |SELECT s.user_id, s.day,
      |       last_value(d.day_value IGNORE NULLS) OVER (
      |         PARTITION BY s.user_id ORDER BY s.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      |       d.day_value IS NOT NULL AS is_observed
      |FROM spine s LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, day""".stripMargin

  /** W4 `window_dedup_latest`: the upsert as a window (database.py:116-123):
    * keep the latest order per customer. */
  private def dedupLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .orderBy("o_custkey")
  }

  private val dedupLatestSql =
    """SELECT o_custkey, o_orderkey, o_orderdate
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** W5 `window_cumsum`: cumulative order count over months. */
  private def cumSum(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("running_cnt", sum(col("cnt")).over(w)).orderBy("month")
  }

  private val cumSumSql =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1)
      |SELECT month, cnt,
      |       CAST(sum(cnt) OVER (ORDER BY month
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cnt
      |FROM daily ORDER BY month""".stripMargin

  // ---- §2.7 sorts / limits -------------------------------------------------

  /** O1 `sort_multi_key`: multi-key mixed-direction total sort. */
  private def sortMultiKey(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity") === 50)
      .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
      .orderBy(col("l_returnflag").desc, col("l_linestatus").asc,
        col("l_orderkey").asc, col("l_linenumber").asc)

  private val sortMultiKeySql =
    """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber
      |FROM lineitem WHERE l_quantity = 50
      |ORDER BY l_returnflag DESC, l_linestatus, l_orderkey, l_linenumber""".stripMargin

  /** O2 `topk_limit`: top-10 orders by value — planned as
    * TakeOrderedAndProject (no global sort materialization). */
  private def topkLimit(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private val topkLimitSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** J10 `join_null_safe`: the `<=>` (null-safe equality) join — NULL keys
    * match each other, unlike plain `=` which drops them silently. The
    * plan property that matters: Spark keeps EqualNullSafe HASHABLE (the
    * key is effectively (isnull, coalesced-value)), so the join plans as a
    * broadcast/sort-merge EQUI join, never a nested loop — plan-audited.
    * One nulled key value per side keeps the null bucket bounded (at real
    * scale a fat null bucket is a skew key like any other — salt it). */
  private def joinNullSafe(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).select(nullif(col("o_custkey"), lit(7)).as("k"),
      col("o_totalprice"))
    val b = customer(s, d).select(nullif(col("c_custkey"), lit(7)).as("ck"))
    a.join(b, col("k") <=> col("ck"))
      .groupBy(col("k").isNull.as("null_key"))
      .agg(count(lit(1)).as("n_pairs"), dsum(col("o_totalprice")).as("total"))
      .orderBy("null_key")
  }

  private val joinNullSafeSql =
    s"""WITH a AS (SELECT nullif(o_custkey, 7) AS k, o_totalprice FROM orders),
       |b AS (SELECT nullif(c_custkey, 7) AS ck FROM customer)
       |SELECT (a.k IS NULL) AS null_key, count(*) AS n_pairs,
       |       ${sqlDsum("o_totalprice")} AS total
       |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.ck
       |GROUP BY 1 ORDER BY null_key""".stripMargin

  /** O5 `global_rownum`: stable global row numbers over a total order —
    * the sharding/pagination primitive. The naive form,
    * `row_number().over(Window.orderBy(...))`, has an EMPTY partition spec:
    * Spark coalesces the whole table into ONE task (it even warns) — the
    * classic at-scale trap. The scalable plan: range-repartition on the
    * sort key (each partition owns a disjoint key range, in order), sort
    * within partitions, count rows per partition (32 longs to the driver —
    * cluster-sized, not data-sized), broadcast the prefix offsets back, and
    * number each partition locally with one iterator pass. Unique sort key
    * (orderkey, linenumber) ⇒ a deterministic total order, so the result is
    * engine-exact against the oracle's window form. PlanAuditSpec asserts
    * no single-partition Window appears anywhere in the plan.
    *
    * The sorted layout is pinned with localCheckpoint BEFORE the count
    * pass: counting and numbering are two jobs, and each job otherwise
    * re-plans the range shuffle (bound re-sampling, AQE) — the r06 verify
    * caught the two layouts disagreeing at sf0.01, which silently corrupts
    * every offset. Pinning makes both passes read the same partitions
    * (exactly what RDD.zipWithIndex does internally). */
  /** The range-sorted stage of [[globalRownum]], exposed (pre-checkpoint)
    * so PlanAuditSpec can audit the exchange the checkpoint hides. */
  def rangeSortedPairs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"))
      .repartitionByRange(32, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")

  private def globalRownum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sorted = rangeSortedPairs(s, d)
      .as[(Long, Int)]
      .localCheckpoint(false)
    val counts = sorted.mapPartitions { it =>
      // count in a Long, not Iterator.size (an Int): a >2³¹-row partition —
      // plausible at the 100 TB scale this two-pass recipe exists for —
      // would wrap negative and silently corrupt every downstream offset
      // (the OrderedOps.globalRank counts pass guards the same hazard).
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(org.apache.spark.TaskContext.getPartitionId() -> c)
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bc = s.sparkContext.broadcast(offsets)
    sorted.mapPartitions { it =>
      var rn = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (k, ln) => rn += 1; (k, ln, rn) }
    }.toDF("l_orderkey", "l_linenumber", "rn")
      .orderBy("rn")
  }

  private val globalRownumSql =
    """SELECT l_orderkey, l_linenumber,
      |       row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
      |FROM lineitem ORDER BY rn""".stripMargin

  /** O4 `zorder_cluster`: Morton-code clustering key over two join/filter
    * dimensions — the multi-dimensional file-layout sort (LayoutOps). The
    * query materializes the curve itself (z plus its inputs, first 100 curve
    * positions) so the oracle pins the exact interleave arithmetic both
    * engines compute; the LAYOUT effect (fewer files touched per predicate
    * box) is spec-tested in LayoutSpec, not oracle-testable. */
  private def zorderCluster(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.ops.LayoutOps.zvalue(
          Seq(col("l_partkey"), col("l_suppkey")), 16).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  private val zorderClusterSql =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${graft.ops.LayoutOps.zvalueSql(Seq("l_partkey", "l_suppkey"), 16)} AS z
       |FROM lineitem
       |ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  /** O5 `data_skipping_prune`: FILE-level min/max skipping — the
    * Delta/Iceberg stats-manifest shape with plain Spark + parquet footers.
    * lineitem is written range-clustered on l_shipdate (each file owns a
    * narrow date band), the skipping index is built from FOOTER statistics
    * only ([[graft.ops.LayoutOps.footerRangeIndex]] — O(files) footer
    * reads, zero data pages, exactly what an Iceberg manifest stores), and
    * the Jun–Aug 1995 predicate reads ONLY the files whose [min,max]
    * intersects the box. The oracle runs the same aggregate over the full
    * table: equality proves skipping is lossless (files without stats are
    * kept unbounded, so nothing provable-nonempty is ever dropped).
    * StorageSpec asserts the candidate set is a strict subset of the
    * layout. At 100 TB this is the difference between reading ~1/24 of the
    * table and all of it — and composes with zorderWrite for
    * multi-dimensional boxes. */
  private def dataSkippingPrune(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft-skipidx-${s.sparkContext.applicationId}-${new java.io.File(d).getName}"
    lineitem(s, d)
      .repartitionByRange(16, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    val files = skipIndexCandidates(s, dir)
    s.read.parquet(files: _*)
      .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-09-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Candidate files for the Jun–Aug 1995 box, from footer stats alone
    * (micros epoch bounds — TIMESTAMP_MICROS physical encoding). */
  private[graft] def skipIndexCandidates(s: SparkSession,
      dir: String): Seq[String] = {
    def micros(iso: String): Long =
      java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli * 1000L
    graft.ops.LayoutOps.pruneByRange(
      graft.ops.LayoutOps.footerRangeIndex(s, dir, "l_shipdate"),
      micros("1995-06-01"), micros("1995-09-01") - 1L)
  }

  private val dataSkippingPruneSql =
    s"""SELECT l_returnflag, count(*) AS cnt,
       |       ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
       |  AND l_shipdate < TIMESTAMP '1995-09-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- TPC-H flagship shapes (macro-benchmark surface) ---------------------

  /** `tpch_q1`: the TPC-H pricing-summary flagship verbatim over the
    * testdata — scan-shaped single agg whose every money expression runs in
    * exact decimals (Det) so the hash is aggregation-order-free. The
    * benchmark's showcase of map-side combine: 6 aggregates, one exchange
    * on a 4-group key. */
  private def tpchQ1(s: SparkSession, d: String): DataFrame = {
    val discPrice = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // round(…, 2) before the cast — the agg_salary_stats 2^53 rule
        round(sum(discPrice), 2).cast("double").as("sum_disc_price"),
        round(sum(discPrice * (lit(1) + dec(col("l_tax")))), 2)
          .cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val tpchQ1Sql = {
    val discPrice =
      "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(round(SUM($discPrice), 2) AS DOUBLE) AS sum_disc_price,
       |  CAST(round(SUM($discPrice * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2)
       |    AS DOUBLE) AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** `tpch_q6`: the forecast-revenue flagship — three conjunctive
    * predicates ALL pushed to the parquet scan (the pushdown showcase;
    * plan-audited), one global exact-decimal agg. */
  private def tpchQ6(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        dec(col("l_discount")).between(
          new java.math.BigDecimal("0.05"), new java.math.BigDecimal("0.07")) &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))

  private val tpchQ6Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |               * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** `tpch_q3`: the shipping-priority flagship — the canonical
    * dim→fact→fact join funnel (customer ⋈ orders ⋈ lineitem) with
    * opposing date predicates and a top-10 by revenue. Adapted to the
    * testdata's columns (no o_shippriority; o_orderpriority carried
    * instead). 100 TB shape: both dim filters cut BEFORE their joins and
    * push to the scans; customer broadcasts; the one big shuffle is
    * lineitem⋈orders on orderkey, whose partitioning the groupBy reuses
    * (group key starts with l_orderkey ⇒ no second Exchange). Revenue sums
    * in exact decimals; ties broken by orderkey so the top-10 is total. */
  private def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1998-06-15").cast("timestamp")
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, d).filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = lineitem(s, d).filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  private val tpchQ3Sql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-15'
      |  AND l_shipdate > TIMESTAMP '1998-06-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** `tpch_q10`: the returned-item-report flagship — revenue lost to
    * returns per customer in a date quarter, top-20. Adapted to the
    * testdata's columns (nation attached by c_nationkey; no
    * phone/acctbal). 100 TB shape: the date + RETURNFLAG predicates push
    * to both fact scans, lineitem⋈orders shuffles once on orderkey, the
    * customer rollup shuffles the JOINED fact once on custkey, and both
    * dims broadcast. Revenue in exact decimals; top-20 is a total order
    * (revenue desc, custkey). */
  private def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1998-03-01").cast("timestamp")
    val hi = lit("1998-06-01").cast("timestamp")
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val l = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d).select("c_custkey", "c_name", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val tpchQ10Sql =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1998-03-01'
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** `tpch_q18`: the large-volume-customer flagship — a HAVING subquery
    * over the biggest fact table (which orders exceed 300 total units),
    * semi-joined back and re-aggregated with the customer dim attached.
    * The classic "aggregate, filter on the aggregate, join the survivors"
    * funnel every analytics stack runs.
    *
    * 100 TB shape: the qualifying-keys subquery is ONE keyed agg on
    * l_orderkey with map-side partials (the HAVING cut happens on the
    * agg output — order-count-sized, not lineitem-sized); it semi-joins
    * lineitem on the SAME key, so the agg's partitioning is reused and
    * the second aggregation adds no Exchange; orders attaches by the same
    * orderkey; only customer (smallest rel) broadcasts. Quantity sums in
    * exact decimals; the top-100 ties break on o_orderkey so the limit is
    * a total order. */
  private def tpchQ18(s: SparkSession, d: String): DataFrame =
    tpchQ18Of(lineitem(s, d), orders(s, d), customer(s, d))

  private[graft] def tpchQ18Of(liSrc: DataFrame, oSrc: DataFrame,
      cSrc: DataFrame): DataFrame = {
    val l = liSrc.select("l_orderkey", "l_quantity")
    val big = l.groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("sq"))
      .filter(col("sq") > 300)
      .select("l_orderkey")
    l.join(big, Seq("l_orderkey"), "left_semi")
      .join(oSrc.select("o_orderkey", "o_custkey", "o_orderdate",
          "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cSrc.select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
      .agg(max(dec(col("o_totalprice"))).cast("double").as("o_price"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("o_price").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  private val tpchQ18Sql =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS o_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
      |GROUP BY 1, 2, 3, 4
      |ORDER BY o_price DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** `tpch_q14`: the promo-revenue flagship — conditional aggregation as a
    * RATIO metric: 100 · Σ(promo revenue) / Σ(revenue) over one month of
    * shipments. The month predicate pushes to the lineitem scan; part is
    * the broadcast dim; both sums accumulate EXACT (decimal extprice ×
    * decimal (1−discount) — no float until the final division, one
    * correctly-rounded IEEE op, rounded to 6 dp). The conditional branch is
    * a CASE inside the same agg, so promo and total ride ONE scan and ONE
    * scalar aggregate — the shape a 100 TB metric query must keep (two
    * scans, or a join of two aggs, doubles the dominant cost for nothing). */
  private def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .join(broadcast(part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(25,4)")))
          .as("promo"),
        sum(rev).as("total"))
      .select(round((lit(100.0) * col("promo").cast("double")) /
        col("total").cast("double"), 6).as("promo_revenue_pct"))
  }

  private val tpchQ14Sql =
    """SELECT round((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
      |         * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |    ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE))
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |         * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |     AS DOUBLE), 6) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin

  /** `tpch_q21`: the suppliers-who-kept-orders-waiting flagship — the
    * hardest classic TPC-H shape: a fact self-correlation (EXISTS another
    * supplier on the order / NOT EXISTS another LATE supplier) counted per
    * supplier. Adapted to the testdata's columns (no commit/receipt dates:
    * "late" = shipped more than 90 days after the order date; no nation
    * filter — full per-supplier leaderboard, nation attached).
    *
    * The oracle states the textbook form — two correlated subqueries over
    * lineitem. The Spark plan deliberately does NOT translate them: both
    * correlations collapse into ONE keyed aggregate per order (distinct
    * suppliers, distinct LATE suppliers, the single late supplier when
    * unique, its late row count) — a hash-match between the two forms
    * proves the rewrite. 100 TB shape: lineitem⋈orders shuffles once on
    * orderkey and the per-order agg REUSES that partitioning (no second
    * Exchange over the fact); the survivor set is order-count sized, its
    * supplier rollup is a dim-sized shuffle; supplier+nation broadcast.
    * Self-joining lineitem twice (the literal EXISTS plan) would triple
    * fact shuffle volume instead. */
  private def tpchQ21(s: SparkSession, d: String): DataFrame = {
    val f = orders(s, d).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
    // Two-stage distinct: a straight double-countDistinct would compile to
    // an Expand (2x fact rows) feeding the shuffle; aggregating per
    // (orderkey, suppkey) first keeps the fact shuffle at 1x with map-side
    // partials, and the per-order roll-up runs on pair-reduced rows.
    val perSupp = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(f, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(late, 1L).otherwise(0L)).as("n_late_rows"))
    val per = perSupp
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("n_late_rows") > 0, 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("n_late_rows") > 0, col("l_suppkey"))).as("late_supp"),
        sum(col("n_late_rows")).as("n_late_rows"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
    per.groupBy("late_supp")
      .agg(sum(col("n_late_rows")).as("numwait"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name", "s_nationkey")),
        col("late_supp") === col("s_suppkey"))
      .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private val tpchQ21Sql =
    """SELECT s_name, n_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1, 2
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** `tpch_q13`: the customer order-count distribution flagship — how many
    * customers placed exactly k (non-urgent) orders, including k = 0. The
    * textbook shape (the oracle) is a LEFT OUTER join customer→orders with
    * the predicate IN the join condition, then a two-level aggregate. The
    * Spark plan rewrites it: aggregate orders per custkey FIRST (fact
    * reduces to ≤ one row per customer map-side before any join), then
    * LEFT-join the customer spine and coalesce absent counts to 0 —
    * hash-equal to the outer-join form. 100 TB shape: the textbook plan
    * shuffles every surviving order row into the join and carries them to
    * the agg; the pre-agg plan shuffles order COUNTS (customer-cardinality)
    * and the histogram re-agg is domain-sized (max orders per customer).
    * Neither agg needs a second Exchange: the per-custkey agg's
    * partitioning feeds the join on the same key. */
  private[graft] def tpchQ13Of(c: DataFrame, o: DataFrame): DataFrame = {
    val perCust = o
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"))
    c.select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** The textbook Q13 plan (ScaleProbe contrast only — not registered):
    * outer-join RAW order rows to the customer spine, then aggregate twice.
    * Same result; at scale the join moves every surviving order row where
    * [[tpchQ13Of]] moves one count per customer. */
  private[graft] def tpchQ13TextbookOf(c: DataFrame, o: DataFrame): DataFrame =
    c.select("c_custkey")
      .join(o.filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  private def tpchQ13(s: SparkSession, d: String): DataFrame =
    tpchQ13Of(customer(s, d), orders(s, d))

  private val tpchQ13Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** `tpch_q19`: the disjunctive-predicate flagship — revenue from three
    * OR'd (brand, size-range, quantity-range) branches. The danger shape at
    * 100 TB is an OR that defeats scan pushdown and forces the full fact
    * through the join. Two moves keep it cheap: (1) the disjunction's HULL
    * on fact-local columns (`l_quantity` ∈ [1,30] — implied by every
    * branch) is stated explicitly as a conjunct, so it reaches the Parquet
    * scan as a pushed filter + row-group stat prune even when the planner
    * won't derive it from the OR itself; (2) part is broadcast and the
    * per-branch residual (brand × size × quantity) evaluates post-join in
    * one codegen stage — no branch-per-scan UNION, which would read the
    * fact three times. Exact decimal revenue, one scalar agg. */
  private def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val branch =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    lineitem(s, d)
      .filter(col("l_quantity").between(1, 30)) // disjunction hull → scan
      .join(broadcast(part(s, d).select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(count(lit(1)).as("n_lines"), sum(rev).cast("double").as("revenue"))
  }

  private val tpchQ19Sql =
    """SELECT count(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** `tpch_q15`: the top-supplier flagship — revenue per supplier over one
    * quarter, returning the max-revenue supplier(s), ties included (the
    * reason LIMIT 1 is wrong and the textbook uses a scalar subquery). The
    * Spark plan: one fact agg to supplier cardinality (shipdate predicate
    * pushed to the scan), a single-row max over that agg, broadcast back as
    * an equality join — the fact is scanned ONCE and the "subquery" costs a
    * supplier-sized scalar agg, not a re-scan. The revenue agg is
    * localCheckpointed (supplier-cardinality rows — cheap): referencing it
    * twice would otherwise plan two fact scans, because the max branch and
    * the join branch differ by a join-key null filter and AQE's
    * ReusedExchange only matches canonically-identical subtrees. Revenue is
    * an exact decimal sum cast to double at the end, so the max-equality
    * compares bit-identical float64 on both engines. */
  private def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val revenue = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(rev).cast("double").as("total_rev"))
      .localCheckpoint(false)
    val mx = revenue.agg(max(col("total_rev")).as("mx"))
    revenue
      .join(broadcast(mx), col("total_rev") === col("mx"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  private val tpchQ15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |      AS DOUBLE) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_rev
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** `tpch_q7`: the volume-shipping flagship — revenue between two trading
    * nations by (supplier nation, customer nation, year), both directions.
    * The oracle states the textbook 6-join form with the nation-pair OR in
    * the WHERE. The Spark plan pushes the pair predicate INTO the dims
    * before the fact moves: nation filters to 2 rows, broadcast-joins cut
    * supplier and customer to the two nations' members, the shrunken
    * supplier dim broadcast-semi-reduces lineitem (~2/25 of the fact
    * survives its FIRST shuffle), and only then does the orderkey shuffle
    * join to orders and the custkey join to the shrunken customer run.
    * The asymmetric-pair residual (supp ≠ cust nation) is one codegen
    * filter. Exact decimal revenue per (nation, nation, year) group. */
  private def tpchQ7(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val pair = Seq("NATION_3", "NATION_7")
    val suppN = supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val custN = customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  private val tpchQ7Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |    AS DOUBLE) AS revenue
      |FROM supplier
      |JOIN lineitem ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** `tpch_q5`: the local-supplier-volume flagship — revenue per nation for
    * orders where the customer and the shipping supplier share a nation,
    * restricted to one region and one order-year. The 100 TB plan order:
    * region→nation filters to the region's member nations (a handful of
    * rows) and broadcasts into BOTH supplier and customer, so each dim
    * shrinks to ~1/|regions| before any fact movement; the shrunken
    * supplier broadcast-reduces lineitem map-side, the date predicate on
    * orders is pushed to its scan, and only then do the two fact-sized
    * shuffles (orderkey, custkey) run. The co-nation requirement
    * (`c_nationkey = s_nationkey`) is a one-codegen-stage residual after
    * the customer join — NOT a join key, so no extra Exchange. Revenue is
    * the exact-decimal sum cast to double (Det discipline). */
  private[graft] def tpchQ5Of(li: DataFrame, o: DataFrame, c: DataFrame,
      su: DataFrame, na: DataFrame, re: DataFrame): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val regionNations = na
      .join(broadcast(re.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val suppN = su.select("s_suppkey", "s_nationkey")
      .join(broadcast(regionNations),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nationkey"),
        col("n_name"))
    val custN = c.select("c_custkey", "c_nationkey")
      .join(broadcast(regionNations.select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey")
    li
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(o
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("supp_nationkey"))
      .groupBy("n_name")
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private def tpchQ5(s: SparkSession, d: String): DataFrame =
    tpchQ5Of(lineitem(s, d), orders(s, d), customer(s, d), supplier(s, d),
      nation(s, d), region(s, d))

  private val tpchQ5Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |    AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** `tpch_q8`: the market-share flagship — of all ECONOMY-part revenue
    * sold to EUROPE customers over two years, the fraction supplied by one
    * nation, per order-year. The classic trap is computing numerator and
    * denominator as two scans; here both are conditional aggregates over
    * ONE joined stream (`sum(when(supp_nation = X))` / `sum(all)`), so the
    * fact is read and shuffled once. Dim reductions move first at 100 TB:
    * part filters on p_type and broadcast-reduces lineitem map-side (the
    * most selective cut, 1/6), the EUROPE customer set is dim-sized and
    * broadcast after the orderkey shuffle, and the supplier→nation name
    * lookup is a broadcast. Numerator and denominator are exact DECIMAL
    * sums; the share is ONE double division rounded 6 dp at output. */
  private def tpchQ8(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val euroCust = customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppN = supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
      .join(broadcast(part(s, d).filter(col("p_type") === "ECONOMY")
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(euroCust), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", rev)
          .otherwise(lit(new java.math.BigDecimal("0.00")).cast("decimal(12,2)")))
          .cast("double") /
        sum(rev).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  private val tpchQ8Sql =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |  ROUND(
      |    CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
      |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
      |        * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |      ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |      AS DOUBLE), 6) AS mkt_share
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region ON n1.n_regionkey = r_regionkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** `tpch_q9`: the product-profit flagship, adapted to the synthetic
    * schema — there is no `partsupp`, so unit cost is `p_retailprice`
    * (profit = revenue − retailprice·quantity; the reference grid has no
    * supply-cost column at all, and the SHAPE — a LIKE-filtered part dim
    * driving a 4-way join aggregated by (supplier nation, order year) — is
    * what the flagship exercises). At 100 TB: the `p_name LIKE '%widget%'`
    * cut broadcast-reduces lineitem FIRST (both engines push the contains
    * filter to the part scan), supplier→nation is a broadcast lookup, and
    * the only fact-sized shuffle is the orderkey join for the order year.
    * Profit terms are exact DECIMAL products (25,4) subtracted before the
    * sum, cast to double once at output. */
  private def tpchQ9(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val profit = dec(col("l_extendedprice")) *
      (lit(one).cast("decimal(12,2)") - dec(col("l_discount"))) -
      dec(col("p_retailprice")) * dec(col("l_quantity"))
    val suppN = supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(broadcast(part(s, d).filter(col("p_name").contains("widget"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  private val tpchQ9Sql =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2))
      |      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** `tpch_q12`: the late-shipment priority flagship, adapted — the
    * synthetic grid has no ship mode or commit/receipt dates, so "late" is
    * shipped > 60 days after the order date and the grouping attribute is
    * `l_returnflag` (Q12's SHAPE: a fact-fact join feeding two conditional
    * counts per group — critical-priority vs not). At 100 TB the join is
    * the only fact shuffle; the 1997 order-date cut is pushed to the
    * orders scan so the smaller (filtered) side builds, and the lateness
    * predicate is a post-join codegen residual (it references both sides,
    * so no engine can push it — stating it after the join keeps the scans
    * clean). Counts are exact longs; no decimal needed. */
  private def tpchQ12(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("l_returnflag")

  private val tpchQ12Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** `tpch_q11`: the important-stock flagship, adapted — no `partsupp`, so
    * the "value" of a part is its shipped revenue from ASIA-region
    * suppliers, and the query returns parts whose value exceeds a fixed
    * FRACTION of the group's total value (Q11's defining shape: an
    * aggregate compared against a scalar subquery over the SAME aggregate).
    * The Spark plan computes the per-part agg ONCE, `localCheckpoint`s it
    * (part-cardinality rows — cheap; same Q15 rationale: the scalar-sum
    * branch and the filter branch would otherwise each re-scan the fact
    * because ReusedExchange needs canonical identity), takes the
    * single-row total, and broadcasts it back as a cross-join threshold
    * filter. Fact cost: ONE scan, one partkey shuffle — the textbook form
    * pays two of each. Value sums ride exact DECIMAL(18,4) through BOTH
    * aggregation levels and the threshold compares CROSS-MULTIPLIED
    * (`1000 · part > total` ⟺ `part > total · 0.001` — the q17/q22
    * pattern), so no order-dependent float accumulation can flip a
    * boundary part between runs or engines; the double cast happens once
    * per row at output. Note the fixed 0.1% fraction thins as the catalog
    * grows (49 parts qualify at sf0.01, none at sf0.1) — faithful Q11
    * semantics: the TPC-H spec scales its fraction DOWN with SF
    * (0.0001/SF) for exactly this reason, and a production run would set
    * the fraction to taste; the hash-verified shape (agg compared against
    * a scalar subquery over the same agg) is SF-independent. */
  private def tpchQ11(s: SparkSession, d: String): DataFrame = {
    val one = new java.math.BigDecimal("1.00")
    val rev = dec(col("l_extendedprice")) * (lit(one).cast("decimal(12,2)") -
      dec(col("l_discount")))
    val asiaSupp = supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      // bounded (18,4) keeps the *1000 cross-multiply inside DECIMAL
      // headroom on both engines; the cast is exact (scale-4 sums)
      .agg(sum(rev).cast("decimal(18,4)").as("pv_dec"))
      .localCheckpoint(false)
    val total = perPart.agg(sum(col("pv_dec")).as("tv_dec"))
    perPart
      .join(broadcast(total))
      .filter(col("pv_dec") * lit(1000).cast("decimal(4,0)") > col("tv_dec"))
      .select(col("l_partkey").as("p_partkey"),
        col("pv_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  private val tpchQ11Sql =
    """WITH value AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1.00 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
      |      AS DECIMAL(18,4)) AS pv_dec
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY 1)
      |SELECT l_partkey AS p_partkey, CAST(pv_dec AS DOUBLE) AS part_value
      |FROM value
      |WHERE pv_dec * CAST(1000 AS DECIMAL(4,0)) > (SELECT SUM(pv_dec) FROM value)
      |ORDER BY part_value DESC, p_partkey""".stripMargin

  /** `tpch_q16`: the supplier-count-by-part-attributes flagship, adapted —
    * supplier/part association rides `lineitem` (no `partsupp`), and the
    * excluded-supplier predicate is a negative account balance (no comment
    * column for the complaints LIKE). The shape survives intact: an
    * anti-joined exclusion list, a DISTINCT (attrs, supplier) reduction,
    * and a per-attrs distinct count, ordered count-desc. At 100 TB: the
    * exclusion list is dim-sized → broadcast LEFT ANTI before the distinct
    * (cheaper than after — excluded suppliers' rows never shuffle); the
    * distinct pairs reduce map-side (partkey+suppkey combine) before the
    * attrs rollup, so the second shuffle moves pair-cardinality, not
    * fact-cardinality; part attrs join AFTER the pair reduction, dim
    * broadcast. Brand/type/size predicates push to the part scan. */
  private def tpchQ16(s: SparkSession, d: String): DataFrame = {
    val parts = part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_suppkey"))
    lineitem(s, d)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(badSupp), col("l_suppkey") === col("bad_suppkey"),
        "left_anti")
      .distinct()
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val tpchQ16Sql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** `tpch_q2`: the minimum-cost-supplier flagship, adapted — no
    * `partsupp`, so a supplier's "quote" for a part is the minimum
    * `l_extendedprice` it ever shipped that part at, and the query keeps,
    * per small LARGE-type part, the EUROPE supplier(s) whose quote equals the
    * part's minimum quote (ties kept — the reason the textbook uses a
    * correlated MIN subquery, not a rank-1 pick). Plan: the part filter
    * and the region→supplier reduction are both broadcast BEFORE the fact
    * moves; quotes aggregate per (part, supplier) map-side combine; the
    * per-part MIN is quote-cardinality work re-using the same partkey
    * partitioning; the min-equality join-back compares exact DECIMAL
    * (never a float). Fact cost: one scan, one shuffle — the correlated
    * form would re-scan per part. Output cost cast to double at the end. */
  private def tpchQ2(s: SparkSession, d: String): DataFrame = {
    val parts = part(s, d)
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
      .select("p_partkey", "p_name")
    val euroSupp = supplier(s, d).select("s_suppkey", "s_name", "s_acctbal",
        "s_nationkey")
      .join(broadcast(nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val quotes = lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(parts.select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(euroSupp.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(dec(col("l_extendedprice"))).as("quote"))
    val minQuote = quotes.groupBy(col("l_partkey").as("mq_partkey"))
      .agg(min(col("quote")).as("min_quote"))
    quotes
      .join(minQuote, col("l_partkey") === col("mq_partkey") &&
        col("quote") === col("min_quote"))
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"),
        col("quote").cast("double").as("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
  }

  private val tpchQ2Sql =
    """WITH quotes AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS quote
      |  FROM lineitem
      |  WHERE l_partkey IN (
      |      SELECT p_partkey FROM part WHERE p_size <= 10 AND p_type = 'LARGE')
      |    AND l_suppkey IN (
      |      SELECT s_suppkey FROM supplier
      |      JOIN nation ON s_nationkey = n_nationkey
      |      JOIN region ON n_regionkey = r_regionkey
      |      WHERE r_name = 'EUROPE')
      |  GROUP BY 1, 2)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  CAST(quote AS DOUBLE) AS min_cost
      |FROM quotes
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE quote = (SELECT MIN(q2.quote) FROM quotes q2
      |               WHERE q2.l_partkey = quotes.l_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin

  /** `tpch_q20`: the excess-volume supplier flagship, adapted — no
    * `partsupp.ps_availqty`, so the inner correlated comparison becomes:
    * suppliers (in one region) whose 1997 shipped quantity of `red*` parts
    * exceeds 17% of their ALL-TIME shipped quantity of those parts. The
    * shape survives: a name-LIKE part semi-reduction, a per-supplier
    * grouped HAVING comparing two aggregates of the same group, and a
    * final supplier semi-join (IN). At 100 TB: the part cut broadcasts
    * into the fact scan; BOTH sums (1997 and all-time) are conditional
    * aggregates over ONE pass — the textbook's correlated subquery
    * re-reads the fact per supplier; the qualifying-supplier set is
    * supplier-cardinality and broadcast-semi-joins the dim. Quantity sums
    * ride exact DECIMAL; the 17% threshold compares in float64 once. */
  private def tpchQ20(s: SparkSession, d: String): DataFrame = {
    val redParts = part(s, d).filter(col("p_name").startsWith("red"))
      .select("p_partkey")
    val qualifying = lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey")
      .agg(
        sum(when(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"),
          dec(col("l_quantity")))
          .otherwise(lit(new java.math.BigDecimal("0.00"))
            .cast("decimal(12,2)")))
          .cast("double").as("qty_1997"),
        sum(dec(col("l_quantity"))).cast("double").as("qty_total"))
      .filter(col("qty_1997") > col("qty_total") * lit(0.17))
      .select("l_suppkey")
    supplier(s, d)
      .join(broadcast(nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(qualifying), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  private val tpchQ20Sql =
    """SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey
      |    FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part
      |                        WHERE p_name LIKE 'red%')
      |    GROUP BY l_suppkey
      |    HAVING CAST(SUM(CASE
      |        WHEN l_shipdate >= TIMESTAMP '1997-01-01'
      |         AND l_shipdate < TIMESTAMP '1998-01-01'
      |        THEN CAST(l_quantity AS DECIMAL(12,2))
      |        ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE)
      |      > CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 0.17)
      |ORDER BY s_suppkey""".stripMargin

  /** `tpch_q4`: the order-priority-checking flagship, adapted — no
    * `l_commitdate`/`l_receiptdate` in this data, so "late" is the same
    * lateness Q21 uses: a line shipped more than 45 days after the order
    * date. Count one-quarter orders per priority that have AT LEAST ONE
    * late line. The Spark plan rewrites the EXISTS as algebra:
    * ∃ line with `l_shipdate > o_orderdate + 45d` ⟺
    * `max(l_shipdate) per order > o_orderdate + 45d`, so the fact reduces
    * to ORDER-cardinality map-side (partial max) before its only shuffle —
    * a semi-join would shuffle raw matching lines. And because every
    * qualifying order sits in [qstart, qend), no line at or before
    * `qstart + 45d` can ever witness the EXISTS: that hull conjunct is
    * stated on the fact scan, where it prunes row groups by footer stats.
    * The join keys carry order cardinality on both sides. */
  private def tpchQ4(s: SparkSession, d: String): DataFrame = {
    val lastShip = lineitem(s, d).select("l_orderkey", "l_shipdate")
      .filter(col("l_shipdate") > lit("1996-08-15").cast("timestamp"))
      .groupBy("l_orderkey")
      .agg(max(col("l_shipdate")).as("last_ship"))
    orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .filter(col("last_ship") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  private val tpchQ4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** `tpch_q17`: the small-quantity-order revenue flagship, adapted — no
    * `p_container`, so the part cut is brand + type-prefix. Average yearly
    * revenue lost if orders below 20% of a part's mean quantity stopped:
    * lines of the cut parts whose quantity is under a fifth of that part's
    * own average. The textbook correlates a per-part AVG subquery — a
    * second fact scan per part. The Spark plan scans the fact ONCE: the
    * ~1/150 part cut broadcasts into the scan, then ONE partkey shuffle
    * computes both per-part aggregates as window functions over the
    * reduced subset (group-bounded — lines per part, not corpus-sized),
    * and the comparison runs cross-multiplied in exact DECIMAL
    * (`5 · qty · cnt < Σqty` ⟺ `qty < 0.2 · avg`) so no division can
    * disagree between engines. The single `/7.0` happens once at output
    * on an exactly-agreed decimal sum. */
  private def tpchQ17(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cut = part(s, d)
      .filter(col("p_brand") === "Brand#23" && col("p_type").startsWith("MEDIUM"))
      .select("p_partkey")
    val w = Window.partitionBy("l_partkey")
    lineitem(s, d).select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(cut), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), dec(col("l_quantity")).as("qty"),
        dec(col("l_extendedprice")).as("price"))
      .withColumn("part_lines", count(lit(1)).over(w))
      .withColumn("part_qty_sum", sum(col("qty")).over(w))
      .filter(col("qty") * lit(5) * col("part_lines") < col("part_qty_sum"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("price")).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  private val tpchQ17Sql =
    """SELECT count(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
      |    AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23' AND p_type LIKE 'MEDIUM%'
      |  AND CAST(l_quantity AS DECIMAL(12,2)) * 5 *
      |      (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      |    < (SELECT SUM(CAST(l_quantity AS DECIMAL(12,2))) FROM lineitem l3
      |       WHERE l3.l_partkey = p_partkey)""".stripMargin

  /** `tpch_q22`: the global-sales-opportunity flagship, adapted — no
    * `c_phone`, so the "country code" IS `c_nationkey` restricted to seven
    * nations; and since every customer here has SOME order, "never
    * ordered" becomes "dormant": no order since 2000-01-01. Customers of
    * those nations with above-average balance (average over
    * positive-balance customers of the same nations) and no recent order,
    * grouped per nation. Scale plan: the scalar threshold is a one-row
    * (Σ, n) aggregate cross-joined broadcast, compared cross-multiplied in
    * exact DECIMAL (`bal · n > Σ`) — no division, no float boundary flip;
    * the NOT EXISTS is a left ANTI join against recent-order custkeys
    * pre-reduced to DISTINCT map-side (order scan is date-pruned by the
    * pushed predicate); the final agg is nation-cardinality. */
  private def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9, 11, 13)
    val cust = customer(s, d)
      .filter(col("c_nationkey").isin(codes: _*))
      .select(col("c_custkey"), col("c_nationkey"), dec(col("c_acctbal")).as("bal"))
    val thr = cust.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("bal_sum"), count(lit(1)).as("bal_cnt"))
    val active = orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").distinct()
    cust.crossJoin(broadcast(thr))
      .filter(col("bal") * col("bal_cnt") > col("bal_sum"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
      .orderBy("cntrycode")
  }

  private val tpchQ22Sql =
    """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      |  AND CAST(c_acctbal AS DECIMAL(12,2)) *
      |      (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0
      |       AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer c3
      |       WHERE c3.c_acctbal > 0
      |       AND c3.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey
      |ORDER BY cntrycode""".stripMargin

  /** `join_bloom_prefilter`: explicit Bloom semi-join reduction
    * ([[graft.ops.BloomOps]]) — the build side (selective dim: urgent
    * half-million-dollar orders) folds into a distributed Bloom filter,
    * and the fact scan drops non-candidate rows MAP-SIDE through
    * `might_contain` before the join shuffle. The join is hinted
    * shuffle-merge to model the 100 TB regime where the dim outgrows
    * broadcast: there the prefilter cuts fact shuffle volume by the dim's
    * selectivity (here ~2% survives), which is the whole point — Spark's
    * own InjectRuntimeFilter makes the same move only when its size
    * thresholds fire. False positives are re-checked by the exact join,
    * so the result is oracle-identical to the plain join. */
  private def joinBloomPrefilter(s: SparkSession, d: String): DataFrame =
    joinBloomPrefilterOf(lineitem(s, d), orders(s, d))

  private[graft] def joinBloomPrefilterOf(fact: DataFrame, ordersSrc: DataFrame): DataFrame = {
    val dim = ordersSrc
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000)
      .select("o_orderkey", "o_orderpriority")
    val bloom = graft.ops.BloomOps.build(dim, col("o_orderkey"), expectedItems = 4096)
    fact
      .filter(graft.ops.BloomOps.mightContain(bloom, col("l_orderkey")))
      .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  private val joinBloomPrefilterSql =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
       |  ${sqlDsum("l_extendedprice")} AS total_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- §2.8 set ops --------------------------------------------------------

  /** U1 `set_union_sources`: the two-scraper union (README.md:5). */
  private def unionSources(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("k"), lit("src_open").as("src"))
    val b = orders(s, d).filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey").as("k"), lit("src_big").as("src"))
    a.unionByName(b).groupBy("src").agg(count(lit(1)).as("cnt")).orderBy("src")
  }

  private val unionSourcesSql =
    """SELECT src, count(*) AS cnt FROM (
      |  SELECT o_orderkey AS k, 'src_open' AS src FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT o_orderkey AS k, 'src_big' AS src FROM orders WHERE o_totalprice > 200000)
      |GROUP BY src ORDER BY src""".stripMargin

  /** U2 `set_intersect`: part brands appearing in both halves of the size
    * range (set semantics — INTERSECT dedups). */
  private def setIntersect(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
    p.filter(col("p_size") <= 25).select("p_brand")
      .intersect(p.filter(col("p_size") > 25).select("p_brand"))
      .orderBy("p_brand")
  }

  private val setIntersectSql =
    """SELECT p_brand FROM part WHERE p_size <= 25
      |INTERSECT
      |SELECT p_brand FROM part WHERE p_size > 25
      |ORDER BY p_brand""".stripMargin

  /** U3 `set_except`: customers with finished orders but no open ones. */
  private def setExcept(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  private val setExceptSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  /** J4b `join_sixway_regions`: TPC-H Q5 shape — the full snowflake walk
    * (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region). The two
    * fact joins shuffle; all four dimension joins broadcast, so the fact
    * stream crosses the cluster exactly twice regardless of corpus size. */
  private def sixWay(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("r_name", "n_name")

  private val sixWaySql =
    """SELECT r_name, n_name, count(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** J5b `join_full_outer`: customers-with-no-1995-orders and
    * 1995-orders-with-unknown-customers both survive. */
  private def fullOuter(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_acctbal") > 8000)
      .select("c_custkey", "c_name")
    val o = orders(s, d)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders_95"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("<no-customer-row>")).as("name"),
        coalesce(col("n_orders_95"), lit(0L)).as("n_orders_95"))
      .orderBy("custkey", "name")
  }

  private val fullOuterSql =
    """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000),
      |o AS (SELECT o_custkey, count(*) AS n_orders_95 FROM orders
      |      WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |       coalesce(c_name, '<no-customer-row>') AS name,
      |       coalesce(n_orders_95, 0) AS n_orders_95
      |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
      |ORDER BY custkey, name""".stripMargin

  /** A5c `agg_pivot`: event-type counts pivoted to columns per day —
    * the dashboard matrix shape. Explicit pivot values keep the output
    * schema deterministic. */
  private def aggPivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  private val aggPivotSql =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'view') AS view,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** U3b `set_except_all`: multiset difference — each F-order occurrence of
    * a priority cancels one O-order occurrence (vs set_except's set
    * semantics). */
  private def setExceptAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_orderpriority"))
      .exceptAll(o.filter(col("o_orderstatus") === "O").select(col("o_orderpriority")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("surplus"))
      .orderBy("o_orderpriority")
  }

  private val setExceptAllSql =
    """SELECT o_orderpriority, count(*) AS surplus FROM (
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** U1b `set_union_evolved`: union across a schema generation gap —
    * the in-flight twin of S8b's parquet footer merge. Era-1 rows lack
    * `o_orderpriority` entirely (the column did not exist yet);
    * `unionByName(_, allowMissingColumns = true)` aligns by NAME and
    * null-fills the missing column, where positional `union` would
    * silently misalign columns — the classic pipeline corruption when two
    * upstream jobs emit different schema versions. The aggregate groups on
    * the evolved column so the oracle (CASE over the same era split)
    * proves null backfill and row completeness across both branches. */
  private def setUnionEvolved(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cutoff = lit("1997-01-01").cast("timestamp")
    val v1 = o.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_totalprice")
    val v2 = o.filter(col("o_orderdate") >= cutoff)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val setUnionEvolvedSql =
    s"""SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN NULL
       |            ELSE o_orderpriority END AS o_orderpriority,
       |       count(*) AS cnt,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** U2b `set_intersect_all`: multiset intersection — per priority the
    * occurrence count shared by BOTH status populations, i.e. min(#F, #O)
    * per value (vs `set_intersect`'s set semantics, which would just say
    * "present in both"). Spark plans `intersectAll` as per-side counts
    * joined on the value with a min-replay generate — value-domain
    * cardinality through the shuffle, never row cardinality, which is the
    * property that holds at 100 TB. */
  private def setIntersectAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_orderpriority"))
      .intersectAll(
        o.filter(col("o_orderstatus") === "O").select(col("o_orderpriority")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_common"))
      .orderBy("o_orderpriority")
  }

  private val setIntersectAllSql =
    """SELECT o_orderpriority, count(*) AS n_common FROM (
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT ALL
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- skew-salted aggregation (SURVEY §4.3) --------------------------------

  /** Two-phase salted sum/count over a hot grouping key — the skewed-groupBy
    * mitigation ([[graft.ops.SkewOps]]) registered as a first-class query:
    * results are IDENTICAL to the direct groupBy (sum/count are commutative
    * monoids), which is exactly what the oracle checks. Exact decimal sums
    * keep the double comparison order-independent across the two phases. */
  private def skewSaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.ops.SkewOps.saltedSumCount(
      lineitem(s, d), col("l_returnflag"), salts = 8, dec(col("l_quantity")))
      .select(col("k").as("l_returnflag"),
        col("total").cast("double").as("total_qty"), col("cnt"))
      .orderBy("l_returnflag")

  private val skewSaltedAggSql =
    """SELECT l_returnflag,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
      |       count(*) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** J12 `join_skew_salted`: the salted-JOIN counterpart of
    * `skew_salted_agg` ([[graft.ops.SkewOps.saltedJoin]]) — the manual
    * mitigation for a hot join key when neither side is broadcastable and
    * AQE's skew split can't see the skew (e.g. it's introduced by an
    * upstream stage). Orders salt on a row-content hash; customer rows
    * replicate ×8; joining on (custkey, salt) lands every matched pair
    * exactly once, so the aggregate is identical to the plain equi join —
    * the oracle's contract. Exact decimal sums keep the double total
    * order-independent across the 8-way spread. */
  private def joinSkewSalted(s: SparkSession, d: String): DataFrame =
    graft.ops.SkewOps.saltedJoin(
      orders(s, d), col("o_custkey"), customer(s, d), col("c_custkey"), salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("c_mktsegment")

  private val joinSkewSaltedSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- incremental aggregate maintenance (SURVEY §3.1) ----------------------

  /** The append-then-dashboard flow kept incrementally: yesterday's
    * aggregate state merged with today's delta via [[graft.ops.UpsertOps
    * .mergeCountSum]] — cost ∝ |delta| + |keys|, not history. The oracle
    * recomputes the SAME aggregate over the full table, which is the
    * correctness contract of incremental maintenance. */
  private def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cutoff = lit("1997-01-01")
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("total"))
    val existing = aggOf(o.filter(col("o_orderdate") < cutoff))
    val delta = aggOf(o.filter(col("o_orderdate") >= cutoff))
    graft.ops.UpsertOps.mergeCountSum(
      existing, delta, Seq("o_orderstatus"), "cnt", "total")
      .select(col("o_orderstatus"), col("cnt"),
        col("total").cast("double").as("total_price"))
      .orderBy("o_orderstatus")
  }

  private val incrementalAggSql =
    """SELECT o_orderstatus, count(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- partitioned write + pruned read (SURVEY §2.1 S7 / §2.7 O3) ----------

  /** The write-side storage layout as an oracle-checked query: orders
    * written partitioned by year (idempotent overwrite — the reference's
    * re-runnable daily load), then read back through the partition-PRUNED
    * path and aggregated for one year. The oracle computes the same
    * aggregate straight from the source table, so equality proves the
    * partitioned write is lossless and the pruned read complete. Partition
    * pruning itself is plan-asserted in StorageSpec. */
  private def partitionedWritePrune(s: SparkSession, d: String): DataFrame = {
    // applicationId in the path keeps concurrent runs (e.g. Bench and
    // Verify against the same sf dir) from racing overwrite-vs-pruned-read
    // on a shared directory
    val dir = s"/tmp/graft-partwrite-${s.sparkContext.applicationId}-${new java.io.File(d).getName}"
    orders(s, d).withColumn("order_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("order_year").parquet(dir)
    s.read.parquet(dir).filter(col("order_year") === 1996)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  private val partitionedWritePruneSql =
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders WHERE year(o_orderdate) = 1996
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** `schema_evolution_read`: the added-column migration every long-lived
    * dataset goes through — v1 files written WITHOUT o_orderpriority (the
    * pre-migration era), v2 files with it, read back as ONE table via
    * mergeSchema (v1 rows surface NULL for the new column — additive
    * evolution, no rewrite of old data). The aggregate groups by the
    * evolved column, so the oracle (which simulates the era split with a
    * CASE over the cutoff) proves both that v1 nulls backfill correctly
    * and that no row was lost across the file generations. At 100 TB this
    * is the only viable migration: new files carry the new schema, the
    * footer union resolves the read, old petabytes are never touched. */
  private def schemaEvolutionRead(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft-schemaevo-${s.sparkContext.applicationId}-${new java.io.File(d).getName}"
    val o = orders(s, d)
    val cutoff = lit("1997-01-01")
    o.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    o.filter(col("o_orderdate") >= cutoff)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val schemaEvolutionReadSql =
    s"""SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN NULL
       |            ELSE o_orderpriority END AS o_orderpriority,
       |       count(*) AS cnt,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** S8c `format_roundtrip`: CSV, JSONL, and ORC write→read fidelity over the
    * documents table — the interchange formats every corpus pipeline must
    * emit and re-ingest losslessly. The corpus text is augmented with an
    * ADVERSARIAL column (embedded delimiter, quote, and newline) so the CSV
    * leg actually exercises RFC-4180 quoting (`escape="` = doubled quotes)
    * and the multiLine reader, not just happy-path tokens; JSONL exercises
    * string escaping. Both read-backs state the schema EXPLICITLY — at
    * 100 TB schema inference is a full extra pass over the data before the
    * real job starts (CSV) or a sampled guess that can mistype columns
    * (JSON), so production reads always ship their schema. The result is an
    * order-independent content checksum (audit_checksum's md5-prefix-sum
    * recipe) per format; the oracle computes the same checksum straight
    * from the parquet source, so ANY mangled byte in either round trip
    * breaks the hash match. Scale note: `multiLine` CSV makes files
    * non-splittable (a quoted newline can sit on any byte boundary), so
    * read parallelism = file count — the writer's natural many-part output
    * is the sharding, never one giant CSV. */
  private def formatRoundtrip(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft-fmt-${s.sparkContext.applicationId}-${new java.io.File(d).getName}"
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"),
      concat(lit("x,\"y\"\nz|"), col("lang")).as("adv"))
    docs.write.mode("overwrite").option("header", true).option("escape", "\"")
      .csv(s"$root/csv")
    docs.write.mode("overwrite").json(s"$root/jsonl")
    // ORC: the other columnar interchange format Spark bundles natively —
    // binary-safe (no quoting/escaping layer to get wrong), schema in the
    // footer, splittable; the round trip proves the writer/reader pair and
    // the type mapping, and the same checksum catches any divergence.
    docs.write.mode("overwrite").orc(s"$root/orc")
    val csvBack = s.read.schema(docs.schema).option("header", true)
      .option("multiLine", true).option("escape", "\"").csv(s"$root/csv")
    val jsonBack = s.read.schema(docs.schema).json(s"$root/jsonl")
    val orcBack = s.read.schema(docs.schema).orc(s"$root/orc")
    def sig(df: DataFrame, fmt: String) =
      df.select(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"),
          col("lang"), col("source"), col("adv"))), 1, 8), 16, 10)
          .cast("long").as("h"), col("n_chars"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          sum(col("h")).as("checksum"))
        .select(lit(fmt).as("fmt"), col("n_docs"), col("total_chars"),
          col("checksum"))
    sig(csvBack, "csv").unionByName(sig(jsonBack, "jsonl"))
      .unionByName(sig(orcBack, "orc")).orderBy("fmt")
  }

  private val formatRoundtripSql =
    """WITH sig AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    CAST(sum(CAST('0x' || substring(md5(
      |      doc_id || '|' || text || '|' || lang || '|' || source || '|' ||
      |      'x,"y"' || chr(10) || 'z|' || lang), 1, 8) AS BIGINT)) AS BIGINT)
      |      AS checksum
      |  FROM documents)
      |SELECT 'csv' AS fmt, n_docs, total_chars, checksum FROM sig
      |UNION ALL
      |SELECT 'jsonl' AS fmt, n_docs, total_chars, checksum FROM sig
      |UNION ALL
      |SELECT 'orc' AS fmt, n_docs, total_chars, checksum FROM sig
      |ORDER BY fmt""".stripMargin

  // ---- bucketed repeated join (shuffle-free fact⋈dim) -----------------------

  /** J9 `join_bucketed`: the daily-dashboard repeated join (the reference's
    * star schema exists to serve fixed-key fact⋈dim joins every run,
    * JobScraper/database.py:56-57,82-84) over BUCKETED tables. Both sides
    * are written once with `bucketBy(8, custkey).sortBy(custkey)`; every
    * subsequent join then reads bucket-aligned files and plans with ZERO
    * shuffle exchange on either join input — at 100 TB this turns each
    * daily dashboard join from two full-corpus shuffles into a file-local
    * merge, which is the standard answer for a join key hit repeatedly.
    * The `merge` hint pins the sort-merge path (at benchmark sf the dim
    * side is broadcastable, which would hide the bucketed read being
    * exercised); the remaining single exchange is the group-by on
    * `c_mktsegment`, audited in PlanAuditSpec.
    *
    * Oracle: the identical join/agg over the plain parquet — bucketing is
    * a physical layout choice and must be invisible to results. */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    // table names are session-catalog-scoped; the path carries the
    // applicationId so concurrent processes (Bench vs Verify on one sf
    // dir) never race on a shared directory
    val base = s"/tmp/graft-bucketed-${s.sparkContext.applicationId}-$tag"
    def ensure(tab: String, df: => DataFrame, key: String): Unit =
      if (!s.catalog.tableExists(tab)) {
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$tab").saveAsTable(tab)
      }
    val oTab = s"graft_bkt_orders_$tag"
    val cTab = s"graft_bkt_customer_$tag"
    ensure(oTab, orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey")
    ensure(cTab, customer(s, d).select("c_custkey", "c_mktsegment"), "c_custkey")
    s.table(oTab).hint("merge")
      .join(s.table(cTab), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("c_mktsegment")
  }

  private val bucketedJoinSql =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- registry ------------------------------------------------------------

  def all: Seq[(String, Q)] = Seq(
    "scan_parquet" -> Q(scanParquet, Some(scanParquetSql)),
    "page_count_estimate" -> Q(pageCount, Some(pageCountSql)),
    "project_rename" -> Q(projectRename, Some(projectRenameSql)),
    "filter_pushdown" -> Q(filterPushdown, Some(filterPushdownSql)),
    "null_guard_filter" -> Q(nullGuard, Some(nullGuardSql)),
    "coalesce_fallback" -> Q(coalesceFallback, Some(coalesceFallbackSql)),
    "join_left_anti" -> Q(leftAnti, Some(leftAntiSql)),
    "join_inner_equi" -> Q(innerEqui, Some(innerEquiSql)),
    "join_sort_merge_3way" -> Q(threeWay, Some(threeWaySql)),
    "join_left_outer" -> Q(leftOuter, Some(leftOuterSql)),
    "join_left_semi" -> Q(leftSemi, Some(leftSemiSql)),
    "join_range_bands" -> Q(rangeBands, Some(rangeBandsSql)),
    "join_range_binned" -> Q(rangeBinned, Some(rangeBinnedSql)),
    "join_range_auto" -> Q(rangeAuto, Some(rangeBinnedSql)),
    "join_asof_latest" -> Q(asofLatest, Some(asofLatestSql)),
    "join_asof_native" -> Q(asofNative, Some(asofNativeSql)),
    "join_asof_outer" -> Q(asofOuter, Some(asofOuterSql)),
    "join_asof_tolerance" -> Q(asofTolerance, Some(asofToleranceSql)),
    "join_asof_nearest" -> Q(asofNearest, Some(asofNearestSql)),
    "join_asof_forward" -> Q(asofForward, Some(asofForwardSql)),
    "join_pit_scd2" -> Q(joinPitScd2, Some(joinPitScd2Sql)),
    "join_interval_overlap" -> Q(intervalOverlap, Some(intervalOverlapSql)),
    "sql_asof" -> Q(sqlAsOf, Some(asofNativeSql)),
    "zorder_cluster" -> Q(zorderCluster, Some(zorderClusterSql)),
    "data_skipping_prune" -> Q(dataSkippingPrune, Some(dataSkippingPruneSql)),
    "tpch_q1" -> Q(tpchQ1, Some(tpchQ1Sql)),
    "tpch_q3" -> Q(tpchQ3, Some(tpchQ3Sql)),
    "tpch_q6" -> Q(tpchQ6, Some(tpchQ6Sql)),
    "tpch_q18" -> Q(tpchQ18, Some(tpchQ18Sql)),
    "tpch_q10" -> Q(tpchQ10, Some(tpchQ10Sql)),
    "tpch_q14" -> Q(tpchQ14, Some(tpchQ14Sql)),
    "tpch_q21" -> Q(tpchQ21, Some(tpchQ21Sql)),
    "tpch_q13" -> Q(tpchQ13, Some(tpchQ13Sql)),
    "tpch_q19" -> Q(tpchQ19, Some(tpchQ19Sql)),
    "tpch_q15" -> Q(tpchQ15, Some(tpchQ15Sql)),
    "tpch_q7" -> Q(tpchQ7, Some(tpchQ7Sql)),
    "tpch_q5" -> Q(tpchQ5, Some(tpchQ5Sql)),
    "tpch_q8" -> Q(tpchQ8, Some(tpchQ8Sql)),
    "tpch_q9" -> Q(tpchQ9, Some(tpchQ9Sql)),
    "tpch_q12" -> Q(tpchQ12, Some(tpchQ12Sql)),
    "tpch_q11" -> Q(tpchQ11, Some(tpchQ11Sql)),
    "tpch_q16" -> Q(tpchQ16, Some(tpchQ16Sql)),
    "tpch_q2" -> Q(tpchQ2, Some(tpchQ2Sql)),
    "tpch_q20" -> Q(tpchQ20, Some(tpchQ20Sql)),
    "tpch_q4" -> Q(tpchQ4, Some(tpchQ4Sql)),
    "tpch_q17" -> Q(tpchQ17, Some(tpchQ17Sql)),
    "tpch_q22" -> Q(tpchQ22, Some(tpchQ22Sql)),
    "join_bloom_prefilter" -> Q(joinBloomPrefilter, Some(joinBloomPrefilterSql)),
    "agg_grouping_sets" -> Q(aggGroupingSets, Some(aggGroupingSetsSql)),
    "agg_hll_mergeable" -> Q(aggHllMergeable, None),
    "agg_hll_mergeable_bound" ->
      Q(aggHllMergeableBound, Some(aggHllMergeableBoundSql)),
    "sketch_count_min" -> Q(sketchCountMin, None),
    "join_size_cms" -> Q(joinSizeCms, Some(joinSizeCmsSql)),
    "sketch_count_min_bound" ->
      Q(sketchCountMinBound, Some(sketchCountMinBoundSql)),
    "window_ntile" -> Q(windowNtile, Some(windowNtileSql)),
    "window_ntile_scaled" -> Q(windowNtileScaled, Some(windowNtileSql)),
    "window_rank_family" -> Q(windowRankFamily, Some(windowRankFamilySql)),
    "unpivot_metrics" -> Q(unpivotMetrics, Some(unpivotMetricsSql)),
    "pivot_wide" -> Q(pivotWide, Some(pivotWideSql)),
    "scd2_intervals" -> Q(scd2Intervals, Some(scd2IntervalsSql)),
    "ts_gap_fill" -> Q(tsGapFill, Some(tsGapFillSql)),
    "agg_counts" -> Q(aggCounts, Some(aggCountsSql)),
    "agg_group_count" -> Q(aggGroupCount, Some(aggGroupCountSql)),
    "agg_mode" -> Q(aggMode, Some(aggModeSql)),
    "agg_skewness" -> Q(aggSkewness, Some(aggSkewnessSql)),
    "agg_gini" -> Q(aggGini, Some(aggGiniSql)),
    "agg_bitmap_distinct" -> Q(aggBitmapDistinct, Some(aggBitmapDistinctSql)),
    "rfm_segments" -> Q(rfmSegments, Some(rfmSegmentsSql)),
    "rfm_segments_scaled" -> Q(rfmSegmentsScaled, Some(rfmSegmentsSql)),
    "agg_salary_stats" -> Q(aggSalaryStats, Some(aggSalaryStatsSql)),
    "agg_count_distinct" -> Q(aggCountDistinct, Some(aggCountDistinctSql)),
    "agg_approx_distinct" -> Q(aggApproxDistinct, None),
    "agg_approx_distinct_bound" ->
      Q(aggApproxDistinctBound, Some(aggApproxDistinctBoundSql)),
    "agg_percentiles" -> Q(aggPercentiles, Some(aggPercentilesSql)),
    "median_two_pass" -> Q(medianTwoPass, Some(medianTwoPassSql)),
    "agg_weighted_percentile" ->
      Q(aggWeightedPercentile, Some(aggWeightedPercentileSql)),
    "sketch_percentiles" -> Q(sketchPercentiles, None),
    "sketch_percentiles_bound" ->
      Q(sketchPercentilesBound, Some(sketchPercentilesBoundSql)),
    "agg_rollup" -> Q(aggRollup, Some(aggRollupSql)),
    "agg_cube" -> Q(aggCube, Some(aggCubeSql)),
    "upsert_dedup" -> Q(upsertDedup, Some(upsertDedupSql)),
    "append_dedup_skills" -> Q(appendDedup, Some(appendDedupSql)),
    "window_rank_topn" -> Q(rankTopN, Some(rankTopNSql)),
    "window_rank_topn_agg" -> Q(rankTopNAgg, Some(rankTopNSql)),
    "window_lag_delta" -> Q(lagDelta, Some(lagDeltaSql)),
    "window_moving_avg" -> Q(movingAvg, Some(movingAvgSql)),
    "window_range_frame" -> Q(windowRangeFrame, Some(windowRangeFrameSql)),
    "window_range_frame_bucketed" -> Q(windowRangeFrameBucketed, Some(windowRangeFrameSql)),
    "window_dedup_latest" -> Q(dedupLatest, Some(dedupLatestSql)),
    "window_cumsum" -> Q(cumSum, Some(cumSumSql)),
    "sort_multi_key" -> Q(sortMultiKey, Some(sortMultiKeySql)),
    "topk_limit" -> Q(topkLimit, Some(topkLimitSql)),
    "global_rownum" -> Q(globalRownum, Some(globalRownumSql)),
    "set_union_sources" -> Q(unionSources, Some(unionSourcesSql)),
    "set_intersect" -> Q(setIntersect, Some(setIntersectSql)),
    "set_except" -> Q(setExcept, Some(setExceptSql)),
    "join_sixway_regions" -> Q(sixWay, Some(sixWaySql)),
    "join_full_outer" -> Q(fullOuter, Some(fullOuterSql)),
    "agg_pivot" -> Q(aggPivot, Some(aggPivotSql)),
    "set_except_all" -> Q(setExceptAll, Some(setExceptAllSql)),
    "set_intersect_all" -> Q(setIntersectAll, Some(setIntersectAllSql)),
    "set_union_evolved" -> Q(setUnionEvolved, Some(setUnionEvolvedSql)),
    "skew_salted_agg" -> Q(skewSaltedAgg, Some(skewSaltedAggSql)),
    "join_skew_salted" -> Q(joinSkewSalted, Some(joinSkewSaltedSql)),
    "agg_incremental_merge" -> Q(incrementalAgg, Some(incrementalAggSql)),
    "partitioned_write_prune" -> Q(partitionedWritePrune, Some(partitionedWritePruneSql)),
    "schema_evolution_read" -> Q(schemaEvolutionRead, Some(schemaEvolutionReadSql)),
    "format_roundtrip" -> Q(formatRoundtrip, Some(formatRoundtripSql)),
    "join_null_safe" -> Q(joinNullSafe, Some(joinNullSafeSql)),
    "join_bucketed" -> Q(bucketedJoin, Some(bucketedJoinSql)),
  )
}
