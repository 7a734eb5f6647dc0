package graft

/** Driver-run benchmark: every registered query timed at the given scale
  * factor; one JSON line on stdout. A small untimed warmup first so JVM/
  * codegen/datasource initialization isn't attributed to whichever query
  * happens to run first.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // warmup: JVM + codegen + parquet reader/footer init for EVERY table
    // (untimed) — otherwise whichever query alphabetically touches a table
    // first is charged its cold-read cost and per-query numbers aren't
    // comparable across rounds. Each table warms independently so one bad
    // read can't silently skip the rest.
    try { spark.range(1000).selectExpr("sum(id)").collect() }
    catch { case _: Throwable => }
    Tables.names.foreach { n =>
      try Tables.table(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    // Protocol (since r04): an untimed warm pass per query first, so the
    // timed numbers are steady-state execution throughput, not one-shot
    // codegen-compile latency (measured 2-4x gap on expression-heavy
    // queries). r01-r03 history is single-run/cold.
    //
    // Since r05 the timed pass repeats REPS times (default 3) and the
    // reported number is the MEDIAN (min also recorded in the detail
    // file) — single-VM noise was ±20% with one rep, which made per-query
    // regressions undiagnosable across rounds (see BENCH_HISTORY.md).
    // The per-query protocol (reset, warm, JIT quiesce, timed reps,
    // contention extras) is Harness.measure.
    val reps = Harness.reps
    val queries = SparkEntry.queries
    def measure(name: String): Measurement = {
      val fn = queries(name)
      Harness.measure(spark, name, reps)(fn(spark, sfDir))
    }
    // Run order: SEEDED SHUFFLE, not alphabetical (r12 verdict #6). The r12
    // driver run showed 20 queries at >=1.5x driver-vs-builder minima, all
    // CONTIGUOUS in the alphabetical order (tpch_q1x/ts_*/u*) — co-located
    // load late in the suite integrates into whole-query wall time and
    // always lands on the same tail queries. Shuffling spreads any
    // time-localized external load across a different query subset per run
    // instead of pooling it; the seed is recorded in the detail JSON (and
    // overridable via SPARK_GRAFT_BENCH_SEED) so a run's order is exactly
    // reconstructible, and each entry records its run position as "ord".
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(System.nanoTime())
    val runOrder = new scala.util.Random(seed)
      .shuffle(queries.keys.toSeq.sorted)
    // Canary (r13 verdict #4): a FIXED cheap query (tpch_q6 — one scan +
    // filter + agg, ~0.1 s at sf0.1) timed once every CanaryEvery run
    // positions. Its series is a load thermometer sampled THROUGH the run:
    // a ≥1.5x flag whose ord window shows the canary inflated is machine
    // load (the r12 ord 31-36 / r13 ord 324-326 clusters), one with a flat
    // canary is code — decided by data already in the detail file instead
    // of a manual `Probe q` round-trip per flag. One timed rep per point:
    // the canary measures AMBIENT load, its own variance is the signal, and
    // plan/codegen caches make re-execution cheap after the one warm run.
    // A canary run that throws records no point.
    val CanaryEvery = 25
    val canaryName = "tpch_q6"
    val canary = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val canaryFn = queries.get(canaryName)
    canaryFn.foreach { f =>
      try { Harness.run(f(spark, sfDir)) } catch { case _: Throwable => }
    }
    def canaryPoint(ord: Int): Unit = canaryFn.foreach { f =>
      val t0 = System.nanoTime()
      try {
        Harness.run(f(spark, sfDir))
        canary += ((ord, (System.nanoTime() - t0) / 1e9))
      } catch { case _: Throwable => }
    }
    val firstPass = runOrder.zipWithIndex.map { case (n, ord) =>
      if (ord % CanaryEvery == 0) canaryPoint(ord)
      measure(n)
    }
    canaryPoint(runOrder.size)
    // Self-isolation rerun (r11 verdict #5; widened r12 verdict #6):
    // contention in a driver run is typically a CONCURRENT phase (the
    // gate's DuckDB compare) that has drained by the time the suite
    // finishes — so every flagged query gets a fresh measurement pass at
    // the end, and (r13) a SECOND isolated retry if the first rerun is
    // still contended (corr_spearman's 29 s spikes survived r12's single
    // pass). A clean fresh series (spread <= 1.5x) replaces the median and
    // clears the flag; a still-contended final series keeps the flag with
    // the median over ALL reps. Minima only ever refine, so the regression
    // gate's numbers are unchanged or better. reps_s keeps execution order
    // with rerun series appended; "med_from" records the reps_s index the
    // published median's series starts at (0 = all reps; absent = no rerun
    // happened), so the median is always recomputable from the detail file
    // (r12 ADVICE). A rerun that throws fails the query.
    val results = firstPass.map { r =>
      if (!r.contended) (r, -1)
      else {
        var acc = r
        var medSeries = r.repsS
        var medFrom = 0
        var attempts = 0
        while (attempts < 2 && acc.contended) {
          val fresh = measure(r.name)
          val from = acc.repsS.size
          val combined = acc.repsS ++ fresh.repsS
          if (fresh.contended || fresh.failed) { medSeries = combined; medFrom = 0 }
          else { medSeries = fresh.repsS; medFrom = from }
          // cc_mb is the PEAK across all series, not last-rerun (r13
          // ADVICE): it exists to catch code-cache pressure, which the
          // flagged query's FIRST contended series may have seen
          acc = acc.copy(
            min = if (fresh.repsS.isEmpty) acc.min else math.min(acc.min, fresh.min),
            repsS = combined, ccMb = math.max(acc.ccMb, fresh.ccMb),
            gcMs = acc.gcMs + fresh.gcMs, jitMs = acc.jitMs + fresh.jitMs,
            jitWaitMs = acc.jitWaitMs + fresh.jitWaitMs,
            contended = fresh.contended, error = fresh.error)
          attempts += 1
        }
        (acc.copy(med = Harness.median(medSeries)), medFrom)
      }
    }
    def fmt(v: Double): String = f"$v%.3f"
    val flat = results.map(_._1)
    // Failed queries carry no time: they are counted in n_failed, marked
    // "failed":true in the detail file, and left out of both totals.
    val timed = flat.filterNot(_.failed)
    val nFailed = flat.size - timed.size
    val total = timed.map(_.med).sum
    // Sum of per-query MINIMA: the contention-robust companion number. The
    // min over reps is the best estimate of intrinsic query cost when the
    // host is intermittently loaded (the r05 driver run measured 8-13x on
    // exactly the high-parallelism queries while the same commit ran 40.8s
    // locally — see BENCH_HISTORY.md); medians remain the headline.
    val totalMin = timed.map(_.min).sum
    // Full per-query detail goes to a file; the stdout line must stay well
    // under the harness's 2000-char output-tail capture or it is unparseable
    // (the r01/r02 89-entry line overflowed the tail and parsed as null).
    // The printed "queries" map carries the slowest queries that fit a
    // ~1200-char budget; "detail" points at the complete map.
    val nContended = flat.count(_.contended)
    val detailPath = "BENCH_DETAIL.json"
    val allQs = results.zipWithIndex.map { case ((m, medFrom), ord) =>
      "\"" + m.name + "\":{\"med\":" + fmt(m.med) + ",\"min\":" + fmt(m.min) +
        ",\"reps_s\":" + m.repsS.map(fmt).mkString("[", ",", "]") +
        ",\"ord\":" + ord +
        (if (medFrom >= 0) ",\"med_from\":" + medFrom else "") +
        ",\"cc_mb\":" + m.ccMb + ",\"gc_ms\":" + m.gcMs +
        ",\"jit_ms\":" + m.jitMs + ",\"jit_wait_ms\":" + m.jitWaitMs +
        (if (m.contended) ",\"contended\":true" else "") +
        (if (m.failed) ",\"failed\":true" else "") + "}"
    }.mkString("{", ",", "}")
    val (ccEnd, ccMax) = Harness.codeCache()
    val jvmJson = s"""{"cc_used_mb":${ccEnd >> 20},"cc_max_mb":${ccMax >> 20},"gc_s":${fmt(Harness.gcMillis() / 1000.0)},"jit_s":${fmt(JitQuiesce.jitMillis() / 1000.0)}}"""
    val canaryJson = "{\"q\":\"" + canaryName + "\",\"points\":" +
      canary.map { case (o, s) => s"""{"ord":$o,"s":${fmt(s)}}""" }
        .mkString("[", ",", "]") + "}"
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","mode":"warm","reps":$reps,"n_contended":$nContended,"n_failed":$nFailed,"bench_seed":$seed,"jvm":$jvmJson,"canary":$canaryJson,"queries":$allQs,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case _: Throwable => }
    val budget = 1200
    val picked = scala.collection.mutable.ArrayBuffer.empty[Measurement]
    var used = 0
    timed.sortBy(-_.med).foreach { m =>
      val entryLen = m.name.length + fmt(m.med).length + 4
      if (used + entryLen <= budget) { picked += m; used += entryLen }
    }
    val qs = picked.sortBy(_.name).map(m => "\"" + m.name + "\":" + fmt(m.med))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","mode":"warm","reps":$reps,"n_queries":${results.size},"n_contended":$nContended,"n_failed":$nFailed,"bench_seed":$seed,"jvm":$jvmJson,"queries":$qs,"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
