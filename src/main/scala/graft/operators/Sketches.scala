package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches as pure Catalyst plans.
  *
  * At 100 TB the exact answers these approximate (global COUNT DISTINCT,
  * per-item frequencies over an unbounded vocabulary) force a full shuffle
  * of every distinct value; the sketch versions shuffle only fixed-size
  * register/counter tables (KB per group), which is the entire point. Both
  * sketches here are *deterministic* functions of the input set under the
  * repo's md5 parity hash ([[Dedup.md5Hash32]]), and both aggregation
  * trees are order-independent (max for HLL registers, integer sum for CMS
  * counters; the HLL register fold sums exact powers of two, which is
  * associative in IEEE double at these sizes) — so unlike typical sketch
  * libraries the results are exactly reproducible by the DuckDB oracle.
  *
  * Extends the reference's exact-aggregation surface
  * (`/root/reference/diagnostics/spotcheck.py:105-133` counts per city;
  * `etl/er.py:214-231` exact group sizes) with the approximate versions a
  * web-scale corpus needs.
  *
  * HyperLogLog: Flajolet et al., "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm" (AofA 2007).
  * Count-Min: Cormode & Muthukrishnan, "An improved data stream summary:
  * the count-min sketch and its applications" (J. Algorithms 2005).
  */
object Sketches {

  /** Standard HLL bias-correction constant for m = 2^p registers. */
  def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** (register index, rank) of one value under the 32-bit parity hash:
    * index = top p bits, rank = 1 + leading-zero count of the remaining
    * (32-p)-bit suffix. The leading-zero count is computed from the
    * length of the suffix's binary string — integer-exact and expressible
    * identically in any SQL engine with a bin() function. */
  def hllRegister(value: Column, p: Int): (Column, Column) = {
    require(p >= 4 && p <= 18, s"p=$p out of the supported [4,18] range")
    val low = 32 - p
    val h = Dedup.md5Hash32(value, lit(0))
    val idx = shiftright(h, low) // h < 2^32, so arithmetic shift is logical
    val w = h.bitwiseAND(lit((1L << low) - 1))
    val rho = when(w === 0, lit(low + 1))
      .otherwise(lit(low) - (length(bin(w)) - lit(1)))
    (idx, rho)
  }

  /** Per-group HLL register table `(groupCols..., hll_idx, mj)` — the
    * PERSISTABLE sketch state. Build it per shard (per day, per source,
    * per ingest batch), write it out, and later [[hllMerge]] across
    * shards without ever re-scanning the data: registers merge by max,
    * so `estimate(merge(shards)) == estimate(direct)` EXACTLY (spec'd).
    * This is the 100 TB daily-rollup shape — the merge input is
    * KB-sized sketch tables, not the corpus. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   p: Int = 12): DataFrame = {
    val (idx, rho) = hllRegister(col(valueCol).cast("string"), p)
    df.select(groupCols.map(col) :+ idx.as("hll_idx") :+ rho.as("hll_rho"): _*)
      .groupBy((groupCols :+ "hll_idx").map(col): _*)
      .agg(max("hll_rho").as("mj"))
  }

  /** Max-merge register tables down to `groupCols` (dropping shard
    * columns the build grouped by). Output rows <= m per group. */
  def hllMerge(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy((groupCols :+ "hll_idx").map(col): _*)
      .agg(max("mj").as("mj"))

  /** The HLL small/large-range correction as ONE shared expression —
    * `raw` is the harmonic-mean raw estimate, `v` the empty-register
    * count: linear counting below 2.5m when registers remain empty,
    * the 32-bit saturation correction above 2^32/30, raw otherwise.
    * The SINGLE source of the correction thresholds/branches for both
    * the exploded-register [[hllEstimate]] and the packed HyperBall
    * fold ([[HyperBall.hyperBallPacked]]) — their documented bit-identity
    * contract means a threshold tweak must reach both or neither. */
  def hllCorrection(raw: Column, v: Column, m: Int): Column = {
    val two32 = 4294967296.0 // 2^32
    when(raw <= 2.5 * m && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v))
      .when(raw > two32 / 30.0,
        lit(-two32) * log(lit(1.0) - raw / two32))
      .otherwise(raw)
  }

  /** Estimate distinct counts from a register table (small-range linear
    * counting and 32-bit large-range corrections applied). */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String],
                  p: Int = 12): DataFrame = {
    val m = 1 << p
    regs
      .groupBy(groupCols.map(col): _*)
      .agg(sum(pow(lit(2.0), -col("mj"))).as("s_present"),
        count(lit(1)).as("present"))
      // empty registers contribute 2^-0 = 1 each; V = empty-register count
      .withColumn("s_all", col("s_present") + (lit(m) - col("present")))
      .withColumn("raw", lit(hllAlpha(m) * m.toDouble * m) / col("s_all"))
      .withColumn("v", (lit(m) - col("present")).cast("double"))
      .withColumn("hll_estimate", hllCorrection(col("raw"), col("v"), m))
      .select(groupCols.map(col) :+ col("hll_estimate"): _*)
  }

  /** Per-group HyperLogLog distinct-count estimate of `valueCol` (cast to
    * string before hashing so the parity hash sees stable bytes).
    *
    * Shape: one narrow projection, then two partial-aggregating shuffles —
    * (group, register) max-rank, then a group-level register fold. Map-side
    * combine bounds shuffle rows at m = 2^p per group per task regardless
    * of input size; no value list is ever collected. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  p: Int = 12): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol, p), groupCols, p)

  /** Sum-merge CMS counter tables built per shard ([[cmsBuild]] with the
    * shard column in a pre-select): integer counters are additive, so the
    * merged sketch equals the direct one EXACTLY (spec'd). */
  def cmsMerge(counters: DataFrame): DataFrame =
    counters.groupBy("seed", "bucket").agg(sum("cnt").as("cnt"))

  /** Fixed-range equi-width histogram `(bucket, cnt)` — the mergeable
    * QUANTILE sketch completing the trio (HLL cardinality, CMS
    * frequency): integer counts are additive across shards
    * ([[histMerge]]), so per-day histograms roll up without re-scanning
    * data, and unlike t-digest/KLL the result is a deterministic
    * function of the input multiset — reproducible by the oracle.
    * `[lo, hi)` comes from domain knowledge (price caps, score ranges),
    * NOT a data scan; out-of-range values clamp to the edge buckets.
    * Null and NaN values are EXCLUDED (they are not observations of the
    * distribution — counting them as bucket 0 would inflate n and the
    * low quantiles). The clamp runs in long arithmetic BEFORE the int
    * cast: a raw floor(...) is BIGINT, and a pre-clamp long->int cast
    * wraps for values ~2^31 bucket-widths outside [lo, hi), which would
    * send an extreme high value to bucket 0. Resolution is (hi-lo)/bins
    * per quantile — the documented accuracy contract. */
  def histogramCounts(df: DataFrame, valueCol: String, lo: Double,
                      hi: Double, bins: Int = 1024): DataFrame = {
    require(bins >= 2 && hi > lo, "need bins >= 2 and hi > lo")
    val v = col(valueCol).cast("double")
    df.where(v.isNotNull && !isnan(v))
      .select(least(lit((bins - 1).toLong), greatest(lit(0L),
        floor((v - lit(lo)) / lit(hi - lo) * lit(bins.toDouble))))
        .cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Sum-merge histogram tables built per shard. */
  def histMerge(hists: DataFrame): DataFrame =
    hists.groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** Quantiles over an UNKNOWN-range column: two-pass min/max +
    * histogram composition — the engine's documented alternative to a
    * KLL/t-digest one-pass sketch. Those buy single-pass operation with
    * randomized compaction, so the sketch depends on merge order and
    * breaks this repo's oracle-replay contract; two deterministic
    * passes keep the result a pure function of the input multiset AND
    * keep every stage mergeable (per-shard (min,max) merge by min/max;
    * per-shard histograms under the global domain merge by [[histMerge]]
    * exactly — spec'd). Pass 1 partial-aggregates to two doubles per
    * task, so at 100 TB its cost is the column scan; when the scan
    * itself dominates, persist the projected column once and both
    * passes read it. Accuracy is (max-min)/bins per quantile — the
    * histogram contract, now with the domain taken from the data
    * instead of a caller guess that silently clamps outliers.
    * Empty input yields an empty frame; a constant column yields the
    * constant for every q. */
  def autoRangeQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                         bins: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val clean = df.where(v.isNotNull && !isnan(v)).select(v.as("v"))
    val mm = clean.agg(min("v"), max("v")).collect().head
    if (mm.isNullAt(0))
      qs.toDF("q").where(lit(false))
        .select(col("q"), lit(0.0).as("value"))
    else {
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      if (hi == lo)
        qs.toDF("q").select(col("q"),
          (floor(lit(lo) * lit(1e4) + lit(0.5)) / lit(1e4)).as("value"))
      else
        histQuantiles(histogramCounts(clean, "v", lo, hi, bins),
          qs, lo, hi, bins)
    }
  }

  /** Interpolated quantiles from histogram counts. The cumulative walk
    * is a window over <= bins rows BY CONSTRUCTION (sketch-sized, like
    * the CMS broadcast) — never the data. Emitted values quantize with
    * `floor(v*1e4 + 0.5)/1e4` (bucket edges are often dyadic, so
    * decimal-round midpoints are REACHABLE here — same pitfall as
    * ts_interp) and the blend is evaluated in the documented order
    * `lo + width * (bucket + (q*n - (cum - cnt)) / cnt)` for oracle
    * reproducibility. */
  def histQuantiles(hist: DataFrame, qs: Seq[Double], lo: Double,
                    hi: Double, bins: Int = 1024): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val width = (hi - lo) / bins
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.select(col("bucket"), col("cnt").cast("double").as("cnt"),
      sum("cnt").over(w).cast("double").as("cum"))
    val n = hist.agg(sum("cnt").cast("double").as("n"))
    qs.toDF("q").crossJoin(broadcast(n)).crossJoin(broadcast(cum))
      .where(col("cum") >= col("q") * col("n"))
      .groupBy("q", "n")
      .agg(min(struct(col("bucket"), col("cnt"), col("cum"))).as("m"))
      .select(col("q"),
        (floor((lit(lo) + lit(width) * (col("m.bucket").cast("double") +
          (col("q") * col("n") - (col("m.cum") - col("m.cnt"))) /
            col("m.cnt"))) * lit(1e4) + lit(0.5)) / lit(1e4)).as("value"))
  }

  /** Count-min sketch counters over the multiset `itemCol`: `depth`
    * independent hash rows (seeds 1..depth) of `width` buckets each.
    *
    * The explode multiplies the *map-side* row count by `depth`, but
    * partial aggregation collapses every task's output to at most
    * depth*width counter rows before the (only) shuffle — the network
    * cost is the sketch size, not the data size. */
  def cmsBuild(df: DataFrame, itemCol: String, depth: Int = 4,
               width: Int = 1024): DataFrame = {
    val seeds = array((1 to depth).map(lit): _*)
    df.select(col(itemCol).cast("string").as("item"),
        explode(seeds).as("seed"))
      .select(col("seed"),
        pmod(Dedup.md5Hash32(col("item"), col("seed")), lit(width.toLong))
          .as("bucket"))
      .groupBy("seed", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for each probe item: min over the depth rows
    * of the addressed counters (0 when a row was never touched). The
    * counter table is at most depth*width rows BY CONSTRUCTION, so it is
    * broadcast — the classic CMS deployment shape (ship the sketch to the
    * probes), and the probe side streams with zero shuffle. (Broadcasting
    * the probes instead would be unsupported for the outer side of the
    * join and fall back to a shuffle.) */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, itemCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    val seeds = array((1 to depth).map(lit): _*)
    val addressed = probes
      .select(col(itemCol).cast("string").as("item"), explode(seeds).as("seed"))
      .withColumn("bucket",
        pmod(Dedup.md5Hash32(col("item"), col("seed")), lit(width.toLong)))
    addressed
      .join(broadcast(counters), Seq("seed", "bucket"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  /** EXACT heavy hitters by the two-phase sketch-then-verify pattern:
    * phase 1 builds the CMS (sketch-sized shuffle), collects it to a
    * model-sized array (depth x width longs — the kmeans-centroid
    * precedent), and filters rows MAP-SIDE by their item's CMS estimate;
    * phase 2 exact-counts only the survivors. CMS never underestimates,
    * so the prefilter has exact recall — the output is IDENTICAL to a
    * plain `GROUP BY item HAVING count >= minCount` (the oracle states
    * exactly that), but the exact-count shuffle moves only rows of
    * candidate items: at a heavy-tailed 100 TB the network cost is the
    * heavy items' rows, not the long tail's.
    *
    * NOTE (pin lifecycle): the returned frame is LAZY and this
    * operator pins multi-consumer intermediates until the caller
    * materializes it — Bench/Verify blanket-clear between
    * queries; a long-lived library session should wrap the call
    * in [[CacheScope.materialized]] (the prefixJaccardPairs
    * contract).
    *
    * @return (item, n) with n >= minCount, exact counts. */
  def heavyHitters(df: DataFrame, itemCol: String, minCount: Long,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    // the item frame feeds BOTH phases (the sketch build collected in
    // collectedCmsEstUdf, then the prefiltered exact count) — pinned, the
    // upstream scan (a corpus tokenize+explode in the registry rows) runs
    // once; the sketch collect fills the cache eagerly
    val items = CacheScope.pin(
      df.select(col(itemCol).cast("string").as("item")))
    val estUdf = collectedCmsEstUdf(items, "item", depth, width)
    items
      .where(estUdf(col("item")) >= minCount)
      .groupBy("item").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** The collected-sketch point-estimate UDF shared by [[heavyHitters]]
    * and [[heavyHittersAudit]]: builds the CMS, collects it model-sized
    * (depth x width longs) to the driver, returns a closure estimating
    * any item's count from the captured array. */
  private def collectedCmsEstUdf(df: DataFrame, itemCol: String,
                                 depth: Int, width: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val sketch = Array.ofDim[Long](depth, width)
    cmsBuild(df, itemCol, depth, width).collect().foreach { r =>
      sketch(r.getInt(0) - 1)(r.getLong(1).toInt) = r.getLong(2)
    }
    udf((item: String) => {
      var est = Long.MaxValue
      var s = 1
      while (s <= depth) {
        val b = (Dedup.md5Hash32Kernel(item, s) % width).toInt
        if (sketch(s - 1)(b) < est) est = sketch(s - 1)(b)
        s += 1
      }
      est
    })
  }

  /** Prefilter-selectivity audit for [[heavyHitters]] — the no-silent-caps
    * rule applied to the sketch itself. A CMS whose width is too small
    * for the vocabulary overestimates everything, so the map-side
    * prefilter passes nearly every row: recall stays exact (the output
    * never changes) but the two-phase network saving silently vanishes.
    * This companion frame makes that visible: ONE row
    * (total_rows, candidate_rows, selectivity) where candidate_rows is
    * the count of rows surviving the same prefilter heavyHitters would
    * apply. selectivity near (heavy rows / total) means the sketch is
    * doing its job; selectivity near 1.0 means "resize the width".
    * Cost: the sketch build plus one map-side single-row aggregation —
    * NOTE (pin lifecycle): the returned frame is LAZY and this
    * operator pins multi-consumer intermediates until the caller
    * materializes it — Bench/Verify blanket-clear between
    * queries; a long-lived library session should wrap the call
    * in [[CacheScope.materialized]] (the prefixJaccardPairs
    * contract).
    *
    * no extra shuffle over the items. */
  def heavyHittersAudit(df: DataFrame, itemCol: String, minCount: Long,
                        depth: Int = 4, width: Int = 1024): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    // same two-phase shape as heavyHitters — pin the item frame once
    val items = CacheScope.pin(
      df.select(col(itemCol).cast("string").as("item")))
    val estUdf = collectedCmsEstUdf(items, "item", depth, width)
    items
      .agg(count(lit(1)).as("total_rows"),
        sum(when(estUdf(col("item")) >= minCount, 1L).otherwise(0L))
          .as("candidate_rows"))
      .select(col("total_rows"), col("candidate_rows"),
        (floor(col("candidate_rows").cast("double") /
          col("total_rows").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("selectivity"))
  }

  // ------------------------------------------------------- KMV bottom-k

  /** Per-group KMV (k minimum values) sketch: the k smallest DISTINCT
    * 32-bit parity hashes of `valueCol`, as one sorted array column
    * `kmv`. The fourth mergeable sketch (HLL cardinality, CMS
    * frequency, histogram quantiles — KMV adds SET OPERATIONS:
    * union/intersection cardinalities, which HLL registers cannot give
    * without inclusion-exclusion error blowup). State is k longs per
    * group; the bounded-heap Aggregator keeps partial aggregation
    * k-bounded map-side, so only k-sized buffers cross the shuffle —
    * the sketch shape. Deterministic function of the input SET (bottom
    * k of distinct hashes), so merge(shards) == direct EXACTLY and the
    * oracle replays it with a row_number scan. */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Int = 64): DataFrame = {
    val agg = udaf(new BottomKDistinct(k))
    val h = Dedup.md5Hash32(col(valueCol).cast("string"), lit(0))
    df.select(groupCols.map(col) :+ h.as("kmv_h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(col("kmv_h")).as("kmv"))
  }

  /** Bottom-k merge of sketch arrays down to `groupCols` (dropping
    * shard columns): explode, re-bottom-k. Identity: merging per-shard
    * sketches equals the direct sketch (both are the k smallest
    * distinct hashes of the union) — spec'd. */
  def kmvMerge(sketches: DataFrame, groupCols: Seq[String],
               k: Int = 64): DataFrame = {
    val agg = udaf(new BottomKDistinct(k))
    sketches.select(groupCols.map(col) :+
        explode(col("kmv")).as("kmv_h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(col("kmv_h")).as("kmv"))
  }

  /** Distinct-count estimate from a sketch array: exact size when the
    * group never filled k slots (the sketch SAW every distinct value);
    * otherwise (k-1) * 2^32 / kth-smallest-hash — the classic KMV
    * estimator, a deterministic closed form of the array. */
  def kmvEstimate(kmv: Column, k: Int = 64): Column =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
        element_at(kmv, k).cast("double"))

  /** Union + intersection cardinality estimates for two sketch arrays
    * (the KMV set-operation estimator): K = bottom-k of the combined
    * hashes is a valid sketch of A UNION B; the share of K's members
    * present in BOTH input sketches estimates the Jaccard similarity;
    * intersection = jaccard * union. Returns (est_union, est_inter)
    * as a struct column; evaluation order is fixed for oracle parity. */
  def kmvSetEstimates(a: Column, b: Column, k: Int = 64): Column = {
    val union = slice(array_sort(array_distinct(concat(a, b))), 1, k)
    val inBoth = size(array_intersect(array_intersect(union, a), b))
    val estU = kmvEstimate(union, k)
    val j = inBoth.cast("double") / size(union).cast("double")
    struct(estU.as("est_union"), (j * estU).as("est_inter"))
  }
}

/** Bounded "k smallest DISTINCT longs" Aggregator — the [[SmallestK]]
  * partial-aggregation shape with set semantics (KMV needs distinct
  * hashes: a re-observed value must not occupy a second slot). State is
  * a sorted, deduplicated list capped at k; reduce/merge re-cap, both
  * associative and commutative on the bottom-k-set lattice, so Spark
  * map-side combines and only k-bounded buffers cross the shuffle. */
class BottomKDistinct(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, List[Long], Seq[Long]] {
  require(k > 0, s"k must be positive, got $k")
  private def keep(xs: List[Long]): List[Long] = xs.distinct.sorted.take(k)
  override def zero: List[Long] = Nil
  override def reduce(buf: List[Long], h: Long): List[Long] = keep(h :: buf)
  override def merge(a: List[Long], b: List[Long]): List[Long] = keep(a ++ b)
  override def finish(buf: List[Long]): Seq[Long] = keep(buf)
  override def bufferEncoder: org.apache.spark.sql.Encoder[List[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
