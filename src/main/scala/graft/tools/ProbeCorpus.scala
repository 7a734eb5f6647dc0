package graft.tools

import org.apache.spark.sql.functions._
import graft.{Harness, Tables}
import graft.ops.DedupOps

/** Dev probe: the dedup family's CANDIDATE ECONOMICS on a given corpus —
  * family size, token types, candidate counts per algorithm, emitted pairs,
  * and warm timings. Exists for the r11-verdict #1 measurement: SF1.md §3
  * attributed the document family's sf1 tail (containment 62x, prefix 41x,
  * ngram 16x for 10x data) to the 30-word synthetic vocabulary making every
  * token a stopword; this probe measures candidates/pairs on BOTH the
  * synthetic and the Zipf/Heaps fixture (tools/gen_testdata.py --zipf-docs)
  * so the claim is numbers, not narrative.
  *
  * Usage: runMain graft.tools.ProbeCorpus [--cuts-only|--prod-only] <sfDir> [sfDir ...]
  *
  * --cuts-only skips the df-unguarded n-gram legs (candidates = naive
  * family² BY CONSTRUCTION — at zipf sf10 that is ~288M pairs and exists
  * only as the measured contrast; the cut legs are the production story).
  * --prod-only (r14, for the sf100 decade) additionally skips the df-GUARD
  * n-gram legs: the 1% guard's candidates grew ~99×/decade (122k → 12.1M
  * at sf1 → sf10), so the fourth decade would be ~1.2B candidate rows —
  * the df guard is a heuristic contrast, not a production path (the
  * registry's production paths are the PPJoin prefix family + minhash),
  * and its fourth-decade count answers no open question.
  */
object ProbeCorpus {
  def main(rawArgs: Array[String]): Unit = {
    val prodOnly = rawArgs.contains("--prod-only")
    val cutsOnly = rawArgs.contains("--cuts-only") || prodOnly
    val args = rawArgs.filterNot(a => a == "--cuts-only" || a == "--prod-only")
    val spark = Harness.session()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    args.foreach { d =>
      val docs = Tables.documents(spark, d)
      val fam = Tables.fanOut(
        docs.filter(regexp_like(col("text"), lit("\\bdup\\b"))))
      val nDocs = docs.count()
      val nFam = fam.count()
      val toks = DedupOps.tokenSets(fam).localCheckpoint()
      val nToks = toks.count()
      val nTypes = toks.select("tok").distinct().count()
      println(f"[corpus] $d  docs=$nDocs%,d family=$nFam%,d " +
        f"family_tokens=$nToks%,d family_types=$nTypes%,d " +
        f"family_pairs_naive=${nFam * (nFam - 1) / 2}%,d")

      def report(name: String, cand: => Long, emit: => Long): Unit = {
        // warm once (codegen), then time — same reasoning as `Probe q`
        val (c, _) = timed(cand)
        val (_, tc) = timed(cand)
        val (e, _) = timed(emit)
        val (_, te) = timed(emit)
        println(f"[corpus]   $name%-22s candidates=$c%,12d (${tc}%6.2f s)  " +
          f"emitted=$e%,10d (${te}%6.2f s full)")
      }

      if (!cutsOnly) {
        report("ngram_jaccard(df=inf)",
          DedupOps.jaccardCandidates(toks, Long.MaxValue).count(),
          DedupOps.jaccardPairs(fam, Long.MaxValue, 0.8).count())
      }
      // the PRODUCTION form of the df guard: disabled in the registry query
      // because on the 30-word synthetic pool every token exceeds any
      // useful cut (10% leg skipped under --cuts-only: it is the weaker
      // guard kept for the guard-strength contrast)
      val guards =
        if (prodOnly) Seq.empty
        else if (cutsOnly) Seq(nFam / 100)
        else Seq(nFam / 10, nFam / 100)
      guards.map(math.max(2L, _)).distinct.foreach { g =>
        report(s"ngram_jaccard(df=$g)",
          DedupOps.jaccardCandidates(toks, g).count(),
          DedupOps.jaccardPairs(fam, g, 0.8).count())
      }
      // r14: before/after the PPJoin+ suffix filter, candidate counts AND
      // full-pipeline emit timings both ways IN ONE JVM — cross-window
      // `Probe q` comparisons on this box drift 1.5-2x, so the suffix
      // cost/benefit ledger (array build + probe joins vs saved verify
      // rows) is only honest measured back-to-back
      report("prefix(no-suffix)",
        DedupOps.prefixCandidates(toks, suffixFilter = false).count(),
        DedupOps.prefixJaccardPairs(fam, 0.8, suffixFilter = Some(false)).count())
      report("prefix_jaccard(0.8)",
        DedupOps.prefixCandidates(toks).count(),
        DedupOps.prefixJaccardPairs(fam, 0.8, suffixFilter = Some(true)).count())
      report("containment(no-suffix)",
        DedupOps.containmentCandidates(toks, suffixFilter = false).count(),
        DedupOps.containmentPairs(fam, 0.9, suffixFilter = Some(false)).count())
      report("containment(0.9)",
        DedupOps.containmentCandidates(toks).count(),
        DedupOps.containmentPairs(fam, 0.9, suffixFilter = Some(true)).count())
      // r14 (r13 verdict #5): minhash band-bucket economics at the registry
      // parameters (h=32, bands=8, 3-shingles). candidates = pre-dedup
      // band-collision pairs (Σ_buckets c·(c−1)/2 — what the bucket join
      // materializes before dropDuplicates); the bucket-size distribution
      // says whether collisions are density-driven (many small buckets) or
      // a hot-bucket artifact (one giant bucket going quadratic).
      locally {
        val keyed = DedupOps.minhashBandKeyed(fam, 32, 8, 3)
        val buckets = keyed.groupBy("bk").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).localCheckpoint()
        val stats = buckets.agg(
          sum(col("c") * (col("c") - 1) / 2).cast("long").as("cand"),
          count(lit(1)).as("n_buckets"),
          max(col("c")).as("max_bucket"),
          expr("approx_percentile(c, 0.99)").as("p99"),
          sum(when(col("c") > 100, col("c") * (col("c") - 1) / 2)
            .otherwise(lit(0))).cast("long").as("cand_from_gt100")).head()
        val (e, _) = timed(DedupOps.minhashPairs(fam, 32, 8).count())
        val (_, te) = timed(DedupOps.minhashPairs(fam, 32, 8).count())
        println(f"[corpus]   ${"minhash(32x8)"}%-22s candidates=${stats.getLong(0)}%,12d " +
          f"emitted=$e%,10d (${te}%6.2f s full)  " +
          f"buckets>1=${stats.getLong(1)}%,d max_bucket=${stats.getLong(2)}%,d " +
          f"p99=${stats.get(3)} cand_from_bk>100=${stats.getLong(4)}%,d")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
