package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Ordered prefix computations WITHOUT a single-partition window.
  *
  * `sum(x).over(Window.orderBy(key))` with an empty partition spec coalesces
  * the whole input into ONE task — fine when the input is a bounded value
  * domain at test scale, fatal when it isn't. This is the general form of
  * the `global_rownum` two-pass recipe (RelationalQueries): range-partition
  * on the key (each partition owns a disjoint, ordered key range), pin the
  * layout, send per-partition TOTALS to the driver (cluster-sized — P×k
  * longs, never data-sized), broadcast the exclusive prefix offsets back,
  * and finish each partition with one local running-sum pass.
  *
  * The distinct-domain prefix-sum family (corr_spearman, drift_ks,
  * winsorize_stats, agg_histogram_eqdepth) documents this as its 100 TB
  * path; `corr_spearman_scaled` runs against the SAME oracle as the window
  * form, so the rewrite is hash-proven equivalent.
  */
object OrderedOps {

  /** Cumulative sums of `valCols` over ascending `keyCol` order (inclusive
    * of the current row), returned as `cum_<col>` columns alongside the
    * originals. Requires a UNIQUE non-null numeric key (ties would make
    * per-partition ownership ambiguous) and non-null long-castable values.
    * The sorted layout is pinned with localCheckpoint between the count
    * pass and the sum pass — two jobs over an unpinned range shuffle can
    * sample different bounds and silently corrupt every offset (the r06
    * global_rownum lesson).
    *
    * r14 (guide §1.2 "per-task work"): both passes used `.rdd`, which
    * deserializes every row to external GenericRows and rebuilds them via
    * `Row.fromSeq(r.toSeq ++ ...)` — per-row allocations on both sides,
    * bypassing codegen. Now the totals pass iterates INTERNAL rows
    * (`queryExecution.toRdd.mapPartitionsWithIndex` — same shuffle-free
    * job, zero conversion; a `groupBy(spark_partition_id())` hash-agg was
    * measured SLOWER because it adds an exchange + AQE stage for P metadata
    * rows — see the inline note), and the running-sum pass is a typed
    * `mapPartitions` over tuple encoders (Tungsten ser/de, specialized
    * k = 1 and 2 — all callers) with the generic Row path kept as the
    * any-k fallback. Same two jobs, same layout pin, identical output. */
  def cumSumsByKey(df: DataFrame, keyCol: String, valCols: Seq[String],
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val n = valCols.length
    val prepared = df.select(
      (col(keyCol).cast("long").as(keyCol) +:
        valCols.map(c => col(c).cast("long").as(c))): _*)
    val sorted = prepared
      .repartitionByRange(partitions, col(keyCol))
      .sortWithinPartitions(keyCol)
      .localCheckpoint(false)
    // totals pass over INTERNAL rows (queryExecution.toRdd): one job, no
    // shuffle, no InternalRow→Row conversion — a groupBy(spark_partition_id)
    // agg was measured SLOWER than even the old .rdd pass here because it
    // adds an exchange + AQE stage for P metadata rows (r14 A/B, SF1.md §8)
    val totals = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = new Array[Long](n)
      it.foreach { r =>
        var i = 0; while (i < n) { acc(i) += r.getLong(i + 1); i += 1 }
      }
      Iterator.single(pid -> acc)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(new Array[Long](n)) { (a, b) =>
      Array.tabulate(n)(i => a(i) + b(i))
    }
    val bc = s.sparkContext.broadcast(offsets)
    import s.implicits._
    import org.apache.spark.TaskContext
    val outNames = (keyCol +: valCols) ++ valCols.map(v => s"cum_$v")
    n match {
      case 1 =>
        sorted.as[(Long, Long)].mapPartitions { it =>
          var run = bc.value(TaskContext.getPartitionId())(0)
          it.map { case (k, v) => run += v; (k, v, run) }
        }.toDF(outNames: _*)
      case 2 =>
        sorted.as[(Long, Long, Long)].mapPartitions { it =>
          val off = bc.value(TaskContext.getPartitionId())
          var r0 = off(0); var r1 = off(1)
          it.map { case (k, v0, v1) => r0 += v0; r1 += v1; (k, v0, v1, r0, r1) }
        }.toDF(outNames: _*)
      case _ =>
        val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
          val run = bc.value(pid).clone()
          it.map { r =>
            var i = 0; while (i < n) { run(i) += r.getLong(i + 1); i += 1 }
            Row.fromSeq(r.toSeq ++ run.toSeq)
          }
        }
        val schema = StructType(sorted.schema.fields ++
          valCols.map(v => StructField(s"cum_$v", LongType, nullable = false)))
        s.createDataFrame(rdd, schema)
    }
  }

  /** 1-based global rank of every row under `sortExprs` (which must define
    * a TOTAL order — include a unique tiebreak column, or per-row ranks are
    * engine-dependent), appended as `g_rank`, all payload columns kept.
    * Same two-pass recipe as `global_rownum`, generalized: range-partition
    * on the sort expressions (desc orders supported — SortOrder flows
    * through both the range partitioner and the local sort), pin the layout
    * (two jobs over an unpinned range shuffle can sample different bounds),
    * ship per-partition COUNTS to the driver (P longs), broadcast exclusive
    * prefix offsets back, number each partition in one local pass. No
    * single-partition Window anywhere — this is what replaces
    * `ntile(k).over(Window.orderBy(...))` at 100 TB: rank + pure bucket
    * arithmetic ([[ntileFromRank]]) instead of a one-task global sort. */
  def globalRank(df: DataFrame, sortExprs: Seq[Column],
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val sorted = df
      .repartitionByRange(partitions, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .localCheckpoint(false)
    // r14 (guide §1.2): both passes ran on `.rdd` — external-Row
    // deserialization plus a per-row `Row.fromSeq(r.toSeq :+ rn)` rebuild.
    // The counts pass now iterates INTERNAL rows (queryExecution.toRdd —
    // same single shuffle-free job, zero conversion); the numbering pass is
    // pure expressions: on the PINNED layout,
    // `monotonically_increasing_id()` is (pid << 33) + local row index in
    // partition iteration order — which after sortWithinPartitions IS the
    // sort order — so g_rank = offset(pid) + (mid & (2³³−1)) + 1, with the
    // exclusive offsets attached as a P-literal array indexed by
    // pid = mid >> 33. No deserialization anywhere; same two jobs, same
    // layout pin, identical ranks (OpProps: ≡ ntile().over(Window) twins).
    val counts = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      // count in a Long, not Iterator.size (an Int): a >2³¹-row partition
      // — plausible at the 100 TB scale this op exists for — would wrap
      // negative and silently corrupt every downstream prefix offset.
      // INTERNAL rows (toRdd): one job, no shuffle, no row conversion.
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(pid -> c)
    }.collect().sortBy(_._1).map(_._2)
    // The mid decomposition below keeps only 33 low bits of local row index
    // (monotonically_increasing_id's record field): a partition holding more
    // than 2³³ rows would silently overflow into the partition-id bits and
    // corrupt (or null, via out-of-bounds get()) every rank after it — the
    // same silent-corruption class the Long counter above exists to prevent.
    // Counts are already on the driver, so the guard is free; the fix for a
    // tripped guard is more `partitions`, which the caller controls.
    require(counts.forall(_ <= (1L << 33)),
      s"globalRank: a partition exceeds 2^33 rows (max ${counts.max}); " +
        "raise `partitions` so the mid-based numbering stays exact")
    val offsets = counts.scanLeft(0L)(_ + _)
    val offArr = array(counts.indices.map(p => lit(offsets(p))): _*)
    // mid is assigned in its OWN projection: it is nondeterministic-tagged,
    // so CollapseProject will not merge (and thereby duplicate) it into the
    // g_rank projection — one evaluation per row, then pure arithmetic
    sorted.withColumn("_mid", monotonically_increasing_id())
      .withColumn("g_rank",
        get(offArr, shiftright(col("_mid"), 33).cast("int")) +
          col("_mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
      .drop("_mid")
  }

  /** ANSI ntile(buckets) bucket from a 1-based rank and the total row count
    * — pure integer arithmetic, no window. With N rows the first N mod b
    * buckets hold ceil(N/b) rows, the rest floor(N/b) (exactly ntile's
    * split). Both inputs exact longs ⇒ engine-identical to the window
    * form's output on any total order. */
  def ntileFromRank(rank1: Column, nTotal: Column, buckets: Int): Column = {
    val r0 = rank1 - lit(1L)
    val q = nTotal.cast("long") / lit(buckets.toLong) // integer div below
    val qi = floor(q).cast("long")
    val rem = nTotal.cast("long") % lit(buckets.toLong)
    val cut = rem * (qi + lit(1L))
    when(r0 < cut, floor(r0 / (qi + lit(1L))).cast("long") + lit(1L))
      .otherwise(floor((r0 - cut) / qi).cast("long") + rem + lit(1L))
      .cast("int")
  }
}
