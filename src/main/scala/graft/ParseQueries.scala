package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ParseOps
import Det._

/** SURVEY.md §2.4 scalar-function pack (F1–F13, X3).
  *
  * The reference parses scraped strings; the testdata has no salary/URL text,
  * so each query SYNTHESIZES its input strings deterministically from numeric
  * columns, runs the real parse expressions on them, and the oracle computes
  * the expected output arithmetically from the same numerics — making the
  * oracle genuinely independent of the regex chain under test.
  *
  * All parse logic is built-in column expressions (ParseOps) — zero UDFs, so
  * the whole pipeline stays in whole-stage codegen at any scale.
  */
object ParseQueries {
  import Tables._

  // ---- F1 salary_parse -----------------------------------------------------

  /** Four deterministic salary-text shapes keyed on o_orderkey % 4:
    * 0: "12 000–17 000 zł" (range, space thousands)  → (a, a+5000)
    * 1: "9 500 zł" (single)                          → (a, a)
    * 2: "150,25-200,25 zł/h" (hourly, decimal comma) → ×160
    * 3: "Do negocjacji"                              → (null, null)
    * Cents are quarter-multiples so the ×160 double math is exact in both
    * engines (0.25 is binary-exact).
    */
  private def salaryParse(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val a = (col("o_orderkey") % 191).cast("int") * 100 + 1000
    val h = (col("o_orderkey") % 80).cast("int") + 100
    val q = (col("o_orderkey") % 4).cast("int") * 25
    def grp(c: org.apache.spark.sql.Column) =
      regexp_replace(format_number(c, 0), ",", " ")
    val text = when(col("o_orderkey") % 4 === 0,
        concat(grp(a), lit("–"), grp(a + 5000), lit(" zł")))
      .when(col("o_orderkey") % 4 === 1, concat(grp(a), lit(" zł")))
      .when(col("o_orderkey") % 4 === 2,
        concat(h.cast("string"), lit(","), lpad(q.cast("string"), 2, "0"),
          lit("-"), (h + 50).cast("string"), lit(","),
          lpad(q.cast("string"), 2, "0"), lit(" zł/h")))
      .otherwise(lit("Do negocjacji"))
    // r15 (guide §8 "decide with small rows" + §4): sort FIRST on the bare
    // key, parse ABOVE the exchange. The old shape (fanOut → parse →
    // orderBy) paid the whole regex chain TWICE — the final orderBy's
    // range exchange samples its child by executing it, so the sampling
    // pass evaluated the full projection (`Probe stages`: 7.8 s of executor
    // CPU in the sample stage vs 10.8 s in the sort stage at 32c). An
    // explicit repartitionByRange + sortWithinPartitions on the unique key
    // produces the identical total order (range ownership + local sort),
    // samples only the bare long column, AQE leaves the user-specified
    // partition count alone (the parse stays cores-wide parallel above
    // it — the fanOut job this replaces), and the staged parse
    // (ParseOps.withSalaryParsed) evaluates each intermediate once per
    // row instead of the 110-regexp_replace inlined tree.
    val keyed = o.select(col("o_orderkey"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    ParseOps.withSalaryParsed(keyed, text, "salary_min", "salary_max")
      .select("o_orderkey", "salary_min", "salary_max")
  }

  private val salaryParseSql =
    """SELECT o_orderkey,
      |  CASE o_orderkey % 4
      |    WHEN 0 THEN CAST((o_orderkey % 191) * 100 + 1000 AS INTEGER)
      |    WHEN 1 THEN CAST((o_orderkey % 191) * 100 + 1000 AS INTEGER)
      |    WHEN 2 THEN CAST(floor(((o_orderkey % 80) + 100 + (o_orderkey % 4) * 25 / 100.0) * 160) AS INTEGER)
      |  END AS salary_min,
      |  CASE o_orderkey % 4
      |    WHEN 0 THEN CAST((o_orderkey % 191) * 100 + 6000 AS INTEGER)
      |    WHEN 1 THEN CAST((o_orderkey % 191) * 100 + 1000 AS INTEGER)
      |    WHEN 2 THEN CAST(floor(((o_orderkey % 80) + 150 + (o_orderkey % 4) * 25 / 100.0) * 160) AS INTEGER)
      |  END AS salary_max
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- F2/S4 link_extract --------------------------------------------------

  /** Three URL shapes keyed on doc_id % 3: a real offer URL (id extracted),
    * an employer-profile URL (filtered out, pracuj_scraper.py:294-295), and a
    * malformed URL (stable md5-prefix fallback id). */
  private def linkExtract(s: SparkSession, d: String): DataFrame = {
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://www.pracuj.pl/praca/x,oferta,"),
          (col("doc_id") + 1000000).cast("string")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://pracodawcy.pracuj.pl/company,"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("https://www.pracuj.pl/praca/weird/"),
        col("doc_id").cast("string")))
    documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .filter(!ParseOps.isEmployerLink(col("url")))
      .select(col("doc_id"), ParseOps.jobIdFromUrl(col("url")).as("job_id"))
      .orderBy("doc_id")
  }

  private val linkExtractSql =
    """SELECT doc_id,
      |  CASE doc_id % 3
      |    WHEN 0 THEN CAST(doc_id + 1000000 AS VARCHAR)
      |    ELSE substring(md5('https://www.pracuj.pl/praca/weird/' || CAST(doc_id AS VARCHAR)), 1, 8)
      |  END AS job_id
      |FROM documents WHERE doc_id % 3 <> 1 ORDER BY doc_id""".stripMargin

  // ---- F3 yoe_extract ------------------------------------------------------

  private def yoeExtract(s: SparkSession, d: String): DataFrame = {
    val text = concat(lit("Wymagane "), (col("event_id") % 8).cast("string"),
      lit(" lat doświadczenia"))
    events(s, d)
      .select(col("event_id"), ParseOps.yoeExtract(text).as("yoe"))
      .orderBy("event_id")
  }

  private val yoeExtractSql =
    """SELECT event_id,
      |  CASE WHEN event_id % 8 BETWEEN 1 AND 5
      |       THEN CAST(event_id % 8 AS INTEGER) END AS yoe
      |FROM events ORDER BY event_id""".stripMargin

  // ---- F4 truncate_varchar -------------------------------------------------

  private def truncateVarchar(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        ParseOps.truncateVarchar(
          concat(col("p_name"), lit(" "), col("p_type")), 20).as("name20"),
        ParseOps.truncateVarchar(col("p_brand"), 5).as("brand5"))
      .orderBy("p_partkey")

  private val truncateVarcharSql =
    """SELECT p_partkey,
      |       substring(p_name || ' ' || p_type, 1, 20) AS name20,
      |       substring(p_brand, 1, 5) AS brand5
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- F9 date_trunc_daily -------------------------------------------------

  /** Trend-by-day grouping (README.md:5 dashboards). */
  private def dateTruncDaily(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy("day")

  private val dateTruncDailySql =
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |       count(*) AS n_events,
       |       count(DISTINCT user_id) AS n_users,
       |       ${sqlDsum("value")} AS total_value
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // ---- F11 json_props_extract ----------------------------------------------

  private def jsonProps(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    events(s, d)
      .select(col("event_id"), k.as("k"))
      .groupBy(floor(col("k") / 10).cast("int").as("k_band"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).cast("long").as("k_sum"))
      .orderBy("k_band")
  }

  private val jsonPropsSql =
    """SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS k_band,
      |       count(*) AS cnt,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
      |FROM events GROUP BY 1 ORDER BY k_band""".stripMargin

  /** F11b `json_variant_extract`: the same extraction through Spark 4's
    * VARIANT type — `parse_json` once into the binary variant encoding, then
    * typed `variant_get` path access. At 100 TB this is the
    * semi-structured-column answer: parse cost paid once per row (or at
    * ingest, with the variant stored), every downstream path access is a
    * binary offset lookup instead of a string re-parse (F11's
    * get_json_object re-parses per call). Oracle is DuckDB's JSON path
    * access — same values, engine-native encodings. */
  private def jsonVariant(s: SparkSession, d: String): DataFrame = {
    val v = parse_json(col("props"))
    events(s, d)
      .select(col("event_type"),
        variant_get(v, "$.k", "int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("k")).cast("long").as("k_sum"),
        max(col("k")).as("k_max"))
      .orderBy("event_type")
  }

  private val jsonVariantSql =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
      |       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- F12 array_dot_product -----------------------------------------------

  /** Squared L2 norm of each embedding via the native codegen vec_dot
    * expression — a sequential left fold in double, the same fold DuckDB's
    * list_reduce performs, so the doubles agree bitwise; rounded anyway for
    * defense. */
  private def arrayDot(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        round(graft.ops.VectorOps.sqNorm(col("embedding")), 6).as("sq_norm"))
      .orderBy("vec_id")

  private val arrayDotSql =
    """SELECT vec_id,
      |  round(list_reduce(
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |    (a, b) -> a + b), 6) AS sq_norm
      |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin

  // ---- F13 map_entries -----------------------------------------------------

  /** MapType round-trip: build a map from the JSON props, read back through
    * element_at; only the scalar result is oracle-compared (map wire formats
    * differ across engines). */
  private def mapEntries(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    events(s, d)
      .select(col("event_id"),
        map_from_arrays(array(lit("k"), lit("k2")), array(k, k * 2)).as("m"))
      .select(col("event_id"),
        element_at(col("m"), "k").as("k_val"),
        element_at(col("m"), "k2").as("k2_val"))
      .orderBy("event_id")
  }

  private val mapEntriesSql =
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
      |       CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k2_val
      |FROM events ORDER BY event_id""".stripMargin

  // ---- X3 explode_skills ---------------------------------------------------

  /** The listing→N-skills fan-out (scraper.py:54-69) as the built-in
    * generator: explode(split(text)). */
  private def explodeSkills(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin("spark", "join", "dup"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("token")

  private val explodeSkillsSql =
    """SELECT token, count(*) AS n_mentions, count(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |WHERE token IN ('spark', 'join', 'dup')
      |GROUP BY token ORDER BY token""".stripMargin

  // ---- P1 html_extract: detail-page projection end-to-end ------------------

  /** The reference's detail-page projection (pracuj_scraper.py:316-356)
    * end-to-end: synthesize an HTML detail page per order, extract the
    * fields back through the data-test selectors, parse the salary. The
    * oracle computes the expected projection arithmetically. */
  private def htmlExtract(s: SparkSession, d: String): DataFrame = {
    val a = (col("o_orderkey") % 191).cast("int") * 100 + 1000
    val html = concat(
      lit("<html><h1 data-test=\"text-positionName\">order-"),
      col("o_orderkey").cast("string"),
      lit("</h1><div data-test=\"text-earningAmount\">"),
      a.cast("string"), lit("–"), (a + 4000).cast("string"),
      lit(" zł</div></html>"))
    // r15: same restructure as salary_parse (see there) — sort first on the
    // bare key so the range exchange samples a long column instead of
    // re-running the synthesize+extract+parse chain, stage `html` as its
    // own column (it feeds both the title extract and the salary parse —
    // the old inlined form re-synthesized the page inside every regexp),
    // and evaluate the salary parse staged (41 regexp_extract + 44
    // regexp_replace nodes → ~8 per row, plans/r15/html_extract_before.txt).
    val keyed = orders(s, d).select(col("o_orderkey"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .withColumn("html", html)
    ParseOps.withSalaryParsed(keyed,
        graft.ops.HtmlOps.earningAmount(col("html")), "salary_min", "salary_max")
      .select(col("o_orderkey"),
        graft.ops.HtmlOps.positionName(col("html")).as("title"),
        col("salary_min"), col("salary_max"))
  }

  private val htmlExtractSql =
    """SELECT o_orderkey,
      |       'order-' || CAST(o_orderkey AS VARCHAR) AS title,
      |       CAST((o_orderkey % 191) * 100 + 1000 AS INTEGER) AS salary_min,
      |       CAST((o_orderkey % 191) * 100 + 5000 AS INTEGER) AS salary_max
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- X1 udf_slugify: the one demonstrative Scala UDF ---------------------

  /** SURVEY.md §2.10 X1: everything else in the engine is built-in
    * expressions (codegen-friendly); this is the single deliberate UDF demo —
    * note it's a black box to Catalyst (no pushdown through it), which is
    * exactly why the rest of the engine avoids UDFs. */
  private def udfSlugify(s: SparkSession, d: String): DataFrame = {
    val slug = udf((name: String) =>
      if (name == null) null else name.toLowerCase.replace(' ', '-'))
    part(s, d)
      .select(col("p_partkey"), slug(col("p_name")).as("slug"))
      .orderBy("p_partkey")
  }

  private val udfSlugifySql =
    """SELECT p_partkey, replace(lower(p_name), ' ', '-') AS slug
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- SQL frontend --------------------------------------------------------

  /** The engine's spark.sql surface: tables registered as temp views, the
    * query itself ANSI SQL (including the natively-registered vec_dot
    * function) — what a reference user migrating SQL dashboards would run. */
  private def sqlFrontend(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    customer(s, d).createOrReplaceTempView("v_customer")
    s.sql(
      """SELECT c_mktsegment,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  private val sqlFrontendSql =
    """SELECT c_mktsegment,
      |       count(DISTINCT o_orderkey) AS n_orders,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** vec_dot through the SQL surface (function registered by Tables.tune /
    * GraftExtensions): proves the native expression is SQL-addressable. */
  private def sqlVecDot(s: SparkSession, d: String): DataFrame = {
    embeddings(s, d).createOrReplaceTempView("v_embeddings")
    s.sql(
      """SELECT vec_id, round(vec_dot(embedding, embedding), 6) AS sq_norm
        |FROM v_embeddings WHERE vec_id BETWEEN 50 AND 99
        |ORDER BY vec_id""".stripMargin)
  }

  private val sqlVecDotSql =
    """SELECT vec_id,
      |  round(list_reduce(
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |    (a, b) -> a + b), 6) AS sq_norm
      |FROM embeddings WHERE vec_id BETWEEN 50 AND 99
      |ORDER BY vec_id""".stripMargin

  // ---- S1 source_paginated_scan --------------------------------------------

  /** The custom DataSource V2 paginated source feeding the real salary-parse
    * pipeline: scan (one partition per page) → parse → per-page stats. The
    * source content is deterministic arithmetic, so DuckDB reproduces the
    * expected output from generate_series without the source. */
  private def sourcePaginatedScan(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.format("graft.sources.PageSource")
      .option("pages", "10").load()
    val (mn, mx) = ParseOps.salaryParse(col("salary_text"))
    raw.select(col("page"), mn.as("salary_min"), mx.as("salary_max"))
      .groupBy("page")
      .agg(count(lit(1)).as("n_listings"),
        sum(col("salary_min")).cast("double").as("sum_min"),
        sum(col("salary_max")).cast("double").as("sum_max"))
      .orderBy("page")
  }

  private val sourcePaginatedScanSql =
    """WITH g AS (SELECT CAST(i AS INTEGER) AS i FROM range(0, 600) t(i)),
      |vals AS (
      |  SELECT CAST(floor(i / 60) AS INTEGER) AS page,
      |    CASE i % 3
      |      WHEN 0 THEN 3000 + (i % 170) * 100
      |      WHEN 1 THEN 3000 + (i % 170) * 100
      |      ELSE 160 * (100 + i % 50) + 80 END AS mn,
      |    CASE i % 3
      |      WHEN 0 THEN 3000 + (i % 170) * 100
      |      WHEN 1 THEN 5000 + (i % 170) * 100
      |      ELSE 160 * (120 + i % 50) + 80 END AS mx
      |  FROM g)
      |SELECT page, count(*) AS n_listings,
      |       CAST(sum(mn) AS DOUBLE) AS sum_min,
      |       CAST(sum(mx) AS DOUBLE) AS sum_max
      |FROM vals GROUP BY page ORDER BY page""".stripMargin

  // ---- registry ------------------------------------------------------------

  def all: Seq[(String, Q)] = Seq(
    "salary_parse" -> Q(salaryParse, Some(salaryParseSql)),
    "link_extract" -> Q(linkExtract, Some(linkExtractSql)),
    "yoe_extract" -> Q(yoeExtract, Some(yoeExtractSql)),
    "truncate_varchar" -> Q(truncateVarchar, Some(truncateVarcharSql)),
    "date_trunc_daily" -> Q(dateTruncDaily, Some(dateTruncDailySql)),
    "json_props_extract" -> Q(jsonProps, Some(jsonPropsSql)),
    "json_variant_extract" -> Q(jsonVariant, Some(jsonVariantSql)),
    "array_dot_product" -> Q(arrayDot, Some(arrayDotSql)),
    "map_entries" -> Q(mapEntries, Some(mapEntriesSql)),
    "explode_skills" -> Q(explodeSkills, Some(explodeSkillsSql)),
    "html_extract" -> Q(htmlExtract, Some(htmlExtractSql)),
    "udf_slugify" -> Q(udfSlugify, Some(udfSlugifySql)),
    "sql_frontend" -> Q(sqlFrontend, Some(sqlFrontendSql)),
    "sql_vec_dot" -> Q(sqlVecDot, Some(sqlVecDotSql)),
    "source_paginated_scan" -> Q(sourcePaginatedScan, Some(sourcePaginatedScanSql)),
  )
}
