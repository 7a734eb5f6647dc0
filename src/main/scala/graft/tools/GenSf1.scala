package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness

/** sf1 testdata amplifier (dev tool, not part of the query surface).
  *
  * The driver ships deterministic testdata at sf0.001/0.01/0.1 and marks it
  * read-only; the round-11 scale rehearsal needs an order of magnitude more.
  * This tool replicates the sf0.1 tables `factor`× with keys remapped per
  * replica (FK edges remapped with the SAME per-domain stride, so every
  * replica is an isolated join subgraph and per-key fan-outs stay exactly
  * what they are at sf0.1 — growth adds GROUPS, it never deepens them,
  * which is how real scale-up behaves for this schema).
  *
  * Two payload domains are additionally mutated for replicas ≥ 1 so the
  * amplified corpus scales like independent data instead of 10 verbatim
  * copies (10 identical copies would make every near-dup/LSH bucket 10×
  * denser — candidate pairs would grow quadratically in the factor, which
  * is an artifact of copying, not a property of scale):
  *   - documents.text: EVERY word gets a `~<rep>` suffix — a bijection on
  *     the vocabulary, so every within-replica token/shingle Jaccard,
  *     containment, and minhash statistic is preserved exactly while
  *     cross-replica token overlap is 0 (the minhash registry path filters
  *     at est ≥ 0.5, and unsalted copies sit at token Jaccard 0.51 — one
  *     verbatim-copy corpus would pair every replica with every other,
  *     growing candidates ~factor² instead of ~factor); n_chars is updated
  *     by the exact length delta. Word-pinned regex probes still hit:
  *     `\bdup\b` matches inside `dup~3` (`~` is a word boundary).
  *   - embeddings.embedding: a deterministic per-(vec_id, element, rep)
  *     jitter of amplitude 0.15 is added and the vector re-normalized to
  *     unit length (the source invariant) → cross-replica cosine ≈0.82,
  *     below near-dup thresholds and outside exact top-k neighborhoods.
  * Replica 0 is byte-identical to sf0.1 (keys, text, vectors), so probes
  * pinned to concrete values (vec_id < 20 query sets, needle texts) keep
  * their meaning.
  *
  * Timestamp columns are copied UNTOUCHED as TIMESTAMP_NTZ (read raw, never
  * through Tables.events' session-TZ conversion) so the written footer
  * encoding matches the driver generator's r07+ encoding and both engines
  * read identical instants.
  *
  * Every table is written as a SINGLE parquet file named `<table>.parquet`
  * (the DuckDB oracle view in tools/check.py reads a bare file path), with
  * 16 MB row groups so Spark's scan still splits it into parallel tasks.
  *
  * sbt "runMain graft.tools.GenSf1 [srcDir] [outDir] [factor] [tables]"
  *
  * `tables` (r14, optional): comma-separated subset to write — e.g.
  * `events` for the rolling-median crossover fixtures at sf3/sf10 event
  * volume, where amplifying lineitem 100× would be pure waste. Omitted =
  * all tables (the sf1 rehearsal default).
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/testdata-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session()

    def raw(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    // Per-domain strides from the data itself (keys are dense 0-based, so
    // stride = max+1 keeps every replica's key block dense and disjoint).
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val customer = raw("customer"); val supplier = raw("supplier")
    val part = raw("part"); val orders = raw("orders")
    val lineitem = raw("lineitem"); val events = raw("events")
    val documents = raw("documents"); val embeddings = raw("embeddings")

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val ordS = stride(orders, "o_orderkey")
    val evS = stride(events, "event_id")
    val userS = stride(events, "user_id")
    val docS = stride(documents, "doc_id")
    val vecS = stride(embeddings, "vec_id")

    val reps = spark.range(factor).select(col("id").as("__rep"))
    def amp(df: DataFrame, remap: Map[String, Long]): DataFrame = {
      val crossed = df.crossJoin(broadcast(reps))
      remap.foldLeft(crossed) { case (d, (k, s)) =>
        d.withColumn(k, col(k) + col("__rep") * s)
      }
    }

    def writeOne(df: DataFrame, name: String): Unit = {
      if (only.exists(!_.contains(name))) return
      val tmp = s"$outDir/_tmp_$name"
      df.drop("__rep").coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .option("compression", "snappy")
        .parquet(tmp)
      val dir = new java.io.File(tmp)
      val partFile = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val dest = new java.io.File(s"$outDir/$name.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(partFile.toPath, dest.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      // drop the _SUCCESS-style markers Spark leaves next to the dir
      new java.io.File(outDir).listFiles()
        .filter(f => f.getName.startsWith(".") && f.getName.contains(s"_tmp_$name"))
        .foreach(_.delete())
      println(s"[gensf1] $name -> ${dest.length() >> 20} MB")
    }

    new java.io.File(outDir).mkdirs()

    // fixed-size dimensions: verbatim copies
    writeOne(raw("region"), "region")
    writeOne(raw("nation"), "nation")

    writeOne(amp(customer, Map("c_custkey" -> custS)), "customer")
    writeOne(amp(supplier, Map("s_suppkey" -> suppS)), "supplier")
    writeOne(amp(part, Map("p_partkey" -> partS)), "part")
    writeOne(amp(orders, Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    writeOne(amp(lineitem, Map(
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")
    writeOne(amp(events, Map("event_id" -> evS, "user_id" -> userS)), "events")

    val docsAmp = amp(documents, Map("doc_id" -> docS))
      .withColumn("__newtext", when(col("__rep") > 0, expr(
        """array_join(transform(split(text, ' '),
          |  w -> concat(w, '~', __rep)), ' ')""".stripMargin))
        .otherwise(col("text")))
      .withColumn("n_chars",
        col("n_chars") + (length(col("__newtext")) - length(col("text"))))
      .withColumn("text", col("__newtext")).drop("__newtext")
      .select("doc_id", "text", "lang", "source", "n_chars")
    writeOne(docsAmp, "documents")

    val embAmp = amp(embeddings, Map("vec_id" -> vecS))
      .withColumn("__p", expr(
        """transform(embedding, (x, j) -> CASE WHEN __rep > 0
          |  THEN CAST(x AS DOUBLE) + 0.15 *
          |       ((pmod(vec_id * 2654435761 + j * 40503 + __rep * 69069, 2001) - 1000) / 1000.0)
          |  ELSE CAST(x AS DOUBLE) END)""".stripMargin))
      .withColumn("__n", expr(
        "sqrt(aggregate(__p, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"))
      .withColumn("embedding", when(col("__rep") > 0,
        expr("transform(__p, x -> CAST(x / __n AS FLOAT))"))
        .otherwise(col("embedding")))
      .drop("__p", "__n")
      .select("vec_id", "embedding", "label")
    writeOne(embAmp, "embeddings")

    println(s"[gensf1] done: $outDir factor=$factor")
    spark.stop()
  }
}
