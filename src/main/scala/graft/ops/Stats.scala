package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus/stream statistics designed for EXACT cross-engine reproducibility:
  * every emitted number is either an integer or the result of an identical
  * IEEE operation sequence any engine computes bit-equal, so the DuckDB
  * oracle can hash-match them — no "approximately equal" escape hatches.
  */
object Stats {

  /** Ceiling on driver-side histogram/bin tables ([[pavCalibrate]],
    * [[f1Threshold]]): the bounded-bins contract says callers pass a
    * PRE-BINNED column (hundreds of bins, not raw scores); 100k rows ×
    * ~24 bytes ≈ 2.4 MB is far above any legitimate binning and far
    * below driver heap, so the guard only ever fires on misuse.
    */
  val MaxDriverBins = 100000

  /** Distinct-count knee for the histogram-window statistics
    * ([[ksTest]], [[aucBinned]]): returns the grouping expression over
    * `staged`'s long column `name` — the column itself when its distinct
    * count is at or below `maxBins` (the exact regime, bit-identical to
    * the unguarded computation), else an equal-width bucketing
    * `(x − min) DIV width` with width sized so the bucket count stays ≤
    * `maxBins` (the bounded regime: a near-unique long column — raw
    * scores, timestamps — coarsens instead of funneling ~N rows into one
    * single-partition window sort). One deciding aggregation (exact
    * distinct + min/max) runs at plan-build time; all operands are
    * non-negative after the shift, so DIV is floor and any engine
    * replays the bucket ids.
    *
    * `knownDistinctAtMost`: a caller that already KNOWS the column's
    * distinct count is ≤ `maxBins` (an enum code, a bounded bucket id, a
    * loop re-invoking ksTest over slices of one profiled column) passes
    * true to skip the deciding aggregation entirely — zero extra jobs,
    * and the exact regime is the guaranteed outcome. The caller owns the
    * claim: an underestimate resurrects the single-partition window sort
    * the knee exists to bound.
    */
  private[ops] def kneeBucketExpr(
      staged: DataFrame, name: String, maxBins: Int,
      knownDistinctAtMost: Boolean = false): Column = {
    if (knownDistinctAtMost) return col(name)
    val st = staged.agg(
      countDistinct(col(name)).as("nb"),
      min(col(name)).as("lo"), max(col(name)).as("hi")).first()
    val nb = st.getLong(0)
    if (nb <= maxBins || st.isNullAt(1)) col(name)
    else {
      val lo = st.getLong(1)
      val hi = st.getLong(2)
      // hi − lo (and x − lo per row) overflow Long when the column spans
      // more than half the long range — e.g. Long.MinValue sentinels mixed
      // with epoch-millis — flipping the width negative and scattering
      // bucket ids. Compute the width exactly in BigInt; if the span fits
      // a long the hot path stays pure int64, otherwise the shift runs in
      // DECIMAL(38,0) (bucket ids still fit BIGINT: ≤ maxBins by
      // construction).
      val span = BigInt(hi) - BigInt(lo)
      val width = span / maxBins + 1
      if (width.isValidLong && (BigInt(hi) - BigInt(lo)).isValidLong)
        expr(s"($name - ${lo}L) DIV ${width.toLong}L")
      else
        expr(s"CAST((CAST($name AS DECIMAL(38,0)) - ${lo}) DIV " +
          s"CAST($width AS DECIMAL(38,0)) AS BIGINT)")
    }
  }

  /** Volume-anomaly detection over a keyed event stream: bucket counts per
    * `(key, bucket)`, flagged when the count sits more than `z` standard
    * deviations from the key's mean bucket volume.
    *
    * The flag is computed in PURE INTEGER arithmetic — |x − μ| > zσ with
    * μ = S/n and σ² = (nQ − S²)/n² is equivalent to
    * `(n·x − S)² > z²·(nQ − S²)` (multiply through by n²) where S = Σx and
    * Q = Σx² are exact sums carried in DECIMAL(38,0) — so the verdict is
    * bit-identical across engines with no floating-point divergence, and
    * the old int64 cliff ((n·x − S)² wrapped at ~10⁶ buckets of 10⁶
    * events) is gone: decimal holds the squared deviation exactly to
    * n·x ≈ 10¹⁹ — beyond any log volume.
    *
    * Shape at scale: the raw stream collapses to one row per (key, bucket)
    * in the first partial-aggregating shuffle; the per-key moments table
    * (one row per key) is broadcast back by default. No window functions —
    * a low-cardinality key can't funnel the corpus into one partition.
    * `broadcastMoments = false` drops the hint for EXTREME key
    * cardinalities (tens of millions of keys blow the broadcast budget);
    * the fallback shuffle joins on the key, whose per-key volume is
    * already bounded by its bucket count.
    */
  def volumeAnomalies(
      df: DataFrame,
      keyCol: String,
      bucketCol: Column,
      z: Int = 2,
      broadcastMoments: Boolean = true): DataFrame = {
    val counts = df
      .groupBy(col(keyCol), bucketCol.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // Moments and the flag algebra in DECIMAL(38,0): the doc's old int64
    // envelope ((n·x − S)² wraps at ~10⁶ buckets of 10⁶ events) is gone —
    // decimal carries every product exactly at any log volume, and the
    // verdict stays bit-replayable (pure integer comparisons, no divide).
    val dec = "decimal(38,0)"
    val moments = counts.groupBy(col(keyCol)).agg(
      sum(col("cnt").cast(dec)).as("__s"),
      sum(col("cnt").cast(dec) * col("cnt")).as("__q"),
      count(lit(1)).as("__n"))
    val dev = col("__n").cast(dec) * col("cnt") - col("__s")
    val nVar = col("__n").cast(dec) * col("__q") - col("__s") * col("__s")
    counts.join(if (broadcastMoments) broadcast(moments) else moments, keyCol)
      .select(col(keyCol), col("bucket"), col("cnt"),
        (dev * dev > lit(z.toLong * z) * nVar).cast("int").as("is_anomaly"))
  }

  /** Grouped exact percentiles via Spark's `percentile` (the R-7 /
    * linear-interpolation estimator DuckDB's `quantile_cont` also uses).
    *
    * Percentiles are restricted to QUARTERS (0, 0.25, 0.5, 0.75, 1) over
    * integer-valued columns so the interpolation is bit-exact across
    * engines: the rank position p·(n−1) and its fractional part are exact
    * binary fractions, the two bracketing values are integers, and
    * int·quarter products are exactly representable — so ANY algebraically
    * equivalent interpolation formula (lower + (upper−lower)·d vs
    * (1−d)·lower + d·upper) yields the identical double. A 0.9 percentile
    * would NOT have that property (0.9·(n−1) rounds), and engines are free
    * to use either formula.
    *
    * One partial-aggregating shuffle; exact percentile holds a per-group
    * value-counts map, so it needs bounded DISTINCT values per group (true
    * for lengths/counts) — for unbounded domains at 100 TB use
    * `approx_percentile` and drop the oracle to a tolerance check.
    */
  def quarterPercentiles(
      df: DataFrame,
      keyCol: String,
      valCol: String,
      quarters: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(quarters.forall(q => q >= 0 && q <= 1 && (q * 4) == math.rint(q * 4)),
      s"only quarter percentiles are cross-engine exact, got $quarters")
    val aggs = quarters.map(q =>
      expr(s"percentile(`$valCol`, $q)").as(s"p${math.round(q * 100)}"))
    df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Grouped quartiles with a mergeable-sketch audit — the quantile member
    * of the sketch triad next to CMS (frequency) and HLL (cardinality):
    * the exact quartiles ship (oracle-able), plus a bit asserting Spark's
    * Greenwald–Khanna `approx_percentile` landed within its RANK
    * guarantee. GK promises rank error ≤ ε·n — a VALUE-distance check
    * would be wrong on skewed data — so the audit recounts each
    * estimate's true rank against the broadcast per-key estimates. On
    * tie-heavy data a single value occupies a rank INTERVAL
    * [count(v < est), count(v ≤ est)]: a valid estimate need only have
    * SOME rank in that interval within ε·n of q·n, so the audit passes
    * iff the interval intersects [q·n − ε·n − 1, q·n + ε·n + 1]
    * (checking the max rank alone would flip est_ok on a tied mass that
    * straddles the quantile).
    *
    * The sketch is what survives 100 TB: GK buffers merge across
    * partitions/days where exact `percentile`'s per-group value-counts
    * map needs bounded distinct values. Two aggregation passes + one
    * broadcast join; audit is deterministic (GK is, given a partitioning —
    * and the bit asserts the guarantee, which holds under ANY
    * partitioning).
    */
  def quartilesAudited(
      df: DataFrame,
      keyCol: String,
      valCol: String,
      eps: Double = 0.01): DataFrame = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    val accuracy = math.ceil(1.0 / eps).toInt
    val qs = Seq(0.25, 0.5, 0.75)
    val exact = quarterPercentiles(df, keyCol, valCol, qs)
    val est = df.groupBy(col(keyCol)).agg(
      expr(s"approx_percentile(`$valCol`, array(${qs.mkString(", ")}), $accuracy)")
        .as("__est"),
      count(lit(1)).as("__n"))
    val rankCols = qs.indices.flatMap(i => Seq(
      sum((col(valCol) < element_at(col("__est"), i + 1)).cast("long"))
        .as(s"__lo$i"),
      sum((col(valCol) <= element_at(col("__est"), i + 1)).cast("long"))
        .as(s"__hi$i")))
    val ranks = df
      .join(broadcast(est.select(col(keyCol), col("__est"))), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(rankCols.head, rankCols.tail: _*)
    val ok = qs.indices.map { i =>
      val slack = lit(eps) * col("__n") + lit(1.0)
      (col(s"__lo$i").cast("double") <= lit(qs(i)) * col("__n") + slack) &&
        (col(s"__hi$i").cast("double") >= lit(qs(i)) * col("__n") - slack)
    }.reduce(_ && _)
    exact.join(est.join(ranks, Seq(keyCol)), Seq(keyCol))
      .select(col(keyCol) +: qs.map(q => col(s"p${math.round(q * 100)}")) :+
        ok.cast("int").as("est_ok"): _*)
  }

  /** Robust per-key outlier census via MAD (median absolute deviation) —
    * the z-score family member that survives heavy tails: mean/stddev
    * flags explode when the outliers themselves inflate the scale, the
    * median/MAD pair does not (50% breakdown point).
    *
    * Exact integer algebra: Spark's `percentile(·, 0.5)` interpolates the
    * midpoint, so 2·median of longs is an integer (the
    * [[quarterPercentiles]] cross-engine convention); deviations live in
    * the ×2 domain (dev2 = |2v − med2|, a long), the MAD in ×4
    * (mad4 = 2·median(dev2)), and the flag dev > k·MAD cross-multiplies
    * (by 4·10⁶) to 2·dev2·10⁶ > kPpm·mad4 —
    * pure int64 for |v| to ~2·10¹². Same per-key distinct-value caveat
    * as [[quartilesAudited]]'s exact side (Spark's exact percentile
    * holds a per-group value-count map); lengths, scores, and latencies
    * — MAD's natural inputs — are exactly the bounded-distinct columns.
    *
    * @param kPpm flag threshold in ppm of the MAD (3 500 000 ≈ the
    *        classic 3.5σ-equivalent consistency cut).
    * @return one row per key: (key, n, med2, mad4, n_outliers, max_dev2)
    *         — med2 = 2·median, mad4 = 4·MAD, max_dev2 = 2·max|v−med|.
    */
  def madOutliers(
      df: DataFrame,
      keyCol: String,
      valCol: String,
      kPpm: Long = 3500000L): DataFrame = {
    val base = df
      .select(col(keyCol).cast("string").as("key"),
        col(valCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = base.groupBy("key").agg(
      (expr("percentile(v, 0.5D)") * 2).cast("long").as("med2"),
      count(lit(1)).as("n"))
    val dev = base.join(med, Seq("key"))
      .select(col("key"), abs(lit(2L) * col("v") - col("med2")).as("dev2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = dev.groupBy("key").agg(
      (expr("percentile(dev2, 0.5D)") * 2).cast("long").as("mad4"),
      max(col("dev2")).as("max_dev2"))
    val outliers = dev.join(mad.select("key", "mad4"), Seq("key"))
      .groupBy("key").agg(
        sum((col("dev2") * lit(2000000L) > lit(kPpm) * col("mad4"))
          .cast("long")).as("n_outliers"))
    val out = med.join(mad, Seq("key")).join(outliers, Seq("key"))
      .select(col("key"), col("n"), col("med2"), col("mad4"),
        col("n_outliers"), col("max_dev2"))
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    base.unpersist(blocking = false)
    dev.unpersist(blocking = false)
    out
  }

  /** Key-skew profile — the diagnostic a 100 TB job reads BEFORE choosing a
    * partitioning (salt or not, AQE skew thresholds, broadcast vs shuffle):
    * row/key totals, the heaviest key's count, and the EXACT Gini
    * coefficient of the per-key count distribution, scaled to an integer.
    *
    * Shape: one map-side-combined count per key, then a counts-of-COUNTS
    * rollup (bounded by the number of distinct frequencies — tiny), then
    * driver arithmetic. NO global sort: the rank-sum Σ i·xᵢ over
    * ascending counts is computed blockwise from (count, multiplicity) —
    * within a tie block the rank sum is m·p + m(m+1)/2 regardless of tie
    * order, so the result equals the sorted definition exactly. Driver
    * math runs in BigInt (Σ i·xᵢ can pass 2⁶³ at ~10⁹ rows × 10⁷ keys);
    * the emitted `gini_scaled = ⌊10⁶·(2S − (n+1)T) / (nT)⌋` is exact
    * integer floor division, replayable by any engine with wide-integer
    * aggregates (DuckDB's HUGEINT).
    */
  /** Poisson(1) inverse-CDF ladder: cumulative P(X ≤ k) for k = 0..8,
    * tail mass past 8 (≈ 1.1e-6) truncated into the last rung. Shared
    * verbatim with the DuckDB oracle — the weight is the NUMBER of
    * rungs at or below the uniform, so w = Σ_k 1[u ≥ cum_k].
    */
  val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402)

  /** Poisson bootstrap (Chamandy et al. 2012 — the massive-data
    * uncertainty method): classic bootstrap resampling is impossible at
    * corpus scale (every replicate would be its own full n-resample),
    * but Binomial(n, 1/n) → Poisson(1), so giving each row an
    * independent Poisson(1) WEIGHT per replicate makes every
    * replicate's weighted aggregate a valid bootstrap resample — and
    * all `replicates` of them compute in ONE corpus pass as parallel
    * aggregate columns. The spread of the per-replicate means IS the
    * sampling uncertainty of the corpus mean; no second pass, no
    * resample materialization.
    *
    * Determinism: each weight is an md5 uniform per (id, replicate,
    * salt) pushed through the shared [[PoissonCdf]] ladder (w = count
    * of rungs ≤ u — a codegen'd comparison sum, no HOF), so every
    * weight, count, and mean replays bit-for-bit cross-engine; the
    * per-replicate mean is one IEEE division of exact int64 sums.
    *
    * Output: one row per replicate — (replicate, n_eff, total, mean).
    */
  def poissonBootstrap(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      replicates: Int = 32,
      salt: String = "boot"): DataFrame = {
    require(replicates >= 2, s"replicates must be >= 2, got $replicates")
    // The per-replicate draw (`__u`) and ladder weight (`__w`) are STAGED
    // as projection columns rather than inlined into the aggregate
    // expressions: inlined, every `sum(w)`/`sum(w·v)` pair re-embeds the
    // 9-step CDF ladder and its md5 draw, an O(replicates × ladder ×
    // draw)-node tree (~6K nodes at 32 replicates) that cost ~1.3 s of
    // planning+codegen per run (driver-phase profile, r16). Staged, each draw and
    // ladder appears once, CollapseProject keeps the projections separate
    // (non-cheap exprs with >1 consumer), and the aggregate sums plain
    // attributes — map-side partial aggregation unchanged.
    def uCol(r: Int): Column =
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit(s"-$r-$salt")).cast("binary")), 1, 13), 16, 10)
        .cast("double") / lit(4503599627370496.0)
    def wCol(r: Int): Column =
      PoissonCdf.map(c => (col(s"__u$r") >= c).cast("long")).reduce(_ + _)
    val staged = df.select(col(idCol), col(valueCol).cast("long").as("__v"))
      .select(col(idCol) +: col("__v") +:
        (0 until replicates).map(r => uCol(r).as(s"__u$r")): _*)
      .select(col(idCol) +: col("__v") +:
        (0 until replicates).map(r => wCol(r).as(s"__w$r")): _*)
    val aggs = (0 until replicates).flatMap { r =>
      val w = col(s"__w$r")
      Seq(sum(w).as(s"__w$r"), sum(w * col("__v")).as(s"__t$r"))
    }
    staged.agg(aggs.head, aggs.tail: _*)
      .select(inline(array((0 until replicates).map(r =>
        struct(lit(r.toLong).as("replicate"),
          coalesce(col(s"__w$r"), lit(0L)).as("n_eff"),
          coalesce(col(s"__t$r"), lit(0L)).as("total"))): _*)))
      .select(col("replicate"), col("n_eff"), col("total"),
        when(col("n_eff") > 0,
          col("total").cast("double") / col("n_eff").cast("double"))
          .otherwise(lit(0.0)).as("mean"))
  }

  /** Generic two-way categorical independence test — the contingency χ²
    * between any two discrete columns (source × language, event type ×
    * user cohort), the corpus-composition audit behind "does attribute A
    * predict attribute B". With O the observed cell count, R/C the row/
    * column margins and N the total, the per-cell contribution
    *
    *   (O − E)²/E = (O·N − R·C)² / (N·R·C)
    *
    * is computed as the integer ⌊⌊|O·N − R·C|·10⁶ DIV (N·R)⌋·|O·N − R·C|
    * DIV C⌋ in DECIMAL(38,0) and SUMMED — chi2_scaled is 10⁶ × the χ²
    * statistic up to the per-cell floors (the sum-of-floors convention:
    * deterministic and engine-replayable). The divide-multiply-divide
    * ORDER is load-bearing: the single-numerator form squares
    * |O·N − R·C| ≤ N² first and overflows DECIMAL(38,0) past N ≈ 10⁸
    * rows, while every intermediate of this form is ≤ 10⁶·N²
    * (the centroidDrift lesson). Absent cells (O = 0
    * with nonzero margins) contribute ⌊10⁶·R·C DIV N⌋ via the same
    * formula, accounted exactly by iterating the DENSE margin cross, not
    * the observed cells — the margin cross join is |rows|×|cols|, bounded
    * by the categorical cardinalities, never the corpus.
    *
    * Output (one row): n, n_rows, n_cols, dof, chi2_scaled.
    *
    * Scale shape: one (a, b) combine for cells, two margin re-aggregates
    * of the CELL table, a broadcast 1-row total; everything after the
    * first combine is category-bounded.
    */
  def crosstabChi2(
      df: DataFrame,
      aCol: Column,
      bCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    // EAGER leaf: the margin/total consumers below include concurrent
    // broadcast builds, which race past a lazy cache and re-run the
    // corpus combine per consumer (the marginMine lesson). The cell table
    // is category-bounded — snapshotting it is cheap.
    val cells = df.select(aCol.cast("string").as("a"), bCol.cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val rowM = cells.groupBy("a").agg(sum(col("o")).as("r"))
    val colM = cells.groupBy("b").agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n_total"),
      countDistinct(col("a")).as("n_rows"), countDistinct(col("b")).as("n_cols"))
    val dense = rowM.crossJoin(colM)
      .join(cells, Seq("a", "b"), "left")
      .select(col("r"), col("c"), coalesce(col("o"), lit(0L)).as("o"))
    val out = dense.crossJoin(broadcast(tot))
      .select(expr(s"abs(CAST(o AS $dec) * n_total - CAST(r AS $dec) * c)").as("__d"),
        col("n_total"), col("n_rows"), col("n_cols"),
        expr(s"CAST(n_total AS $dec) * r").as("__nr"), col("c"))
      .select(col("n_total"), col("n_rows"), col("n_cols"),
        expr("CASE WHEN __nr = 0 OR c = 0 THEN 0L " +
          "ELSE ((__d * 1000000) DIV __nr) * __d DIV c END").as("__contrib"))
      .groupBy("n_total", "n_rows", "n_cols")
      // SATURATE instead of the silent null a non-ANSI decimal-to-long
      // cast produces when 1e6*chi2 tops int64 (strongest associations
      // at 1e12+ rows are exactly where the audit must not go blank).
      .agg(least(sum(col("__contrib")),
        lit(Long.MaxValue).cast("decimal(38,0)")).cast("long")
        .as("chi2_scaled"))
      .select(col("n_total").as("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2_scaled"))
    out
  }

  /** Cramér's V — [[crosstabChi2]]'s χ² normalized to the [0, 1] EFFECT
    * SIZE (χ² grows with N, so "is the association big" needs
    * V² = χ² / (N·min(r−1, c−1)); the standard contingency effect size
    * read next to the significance number): one integer divide over the
    * exact chi2_scaled, reported as signed-free v2_ppm = ⌊10⁶·V²⌋.
    * Degenerate tables (one row or one column — nothing to associate)
    * report 0. Scale shape: [[crosstabChi2]] verbatim plus one select.
    *
    * @return (n, n_rows, n_cols, v2_ppm).
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame =
    crosstabChi2(df, aCol, bCol)
      .select(col("n"), col("n_rows"), col("n_cols"),
        expr("""CAST(CASE WHEN n = 0 OR least(n_rows - 1, n_cols - 1) <= 0
          THEN 0
          ELSE chi2_scaled DIV (n * least(n_rows - 1, n_cols - 1))
          END AS BIGINT)""").as("v2_ppm"))

  /** Per-key Pearson correlation of two integer-valued columns, reported
    * as the SIGNED squared coefficient in ppm — the linear-association
    * audit between two corpus metrics (length vs quality score, hour vs
    * volume) with zero floating point:
    *
    *   cov_n  = n·Σxy − Σx·Σy      varx_n = n·Σx² − (Σx)²   (y alike)
    *   r2_ppm = sign(cov_n) · ⌊10⁶ · (|cov_n|/varx_n) · (|cov_n|/vary_n)⌋
    *
    * Inputs are CENTERED per key by their minimum before any product —
    * translation cancels EXACTLY in the integer moment identities (the
    * c·d terms vanish algebraically, so the result is bit-identical to
    * the uncentered algebra whenever both fit), and centering is what
    * keeps timestamp-magnitude columns inside the DECIMAL(38,0) moment
    * envelope (n·Σx² needs n·range² ≤ ~10³⁸ — raw epoch-millis break it
    * at corpus row counts, per-key ranges don't). The five moments are
    * exact int64-in-DECIMAL sums; the final ratio is ONE fixed IEEE
    * chain over them (two correctly-rounded divides, two multiplies,
    * floor — the [[abTest]] double convention: any engine replays the
    * identical bits), Cauchy–Schwarz-bounded in [−10⁶, 10⁶]. Keys with a
    * constant x or y report 0 (no linear association is measurable).
    *
    * Scale shape: one narrow combine for the per-key minima (broadcast
    * back — the table is key-cardinality-bounded), then ONE map-side-
    * combined aggregation per key — six longs on the wire per key, rows
    * never shuffle.
    */
  def pearsonCorr(
      df: DataFrame,
      keyCol: String,
      xCol: Column,
      yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val staged = df.select(col(keyCol).as("key"),
      xCol.cast("long").as("__x0"), yCol.cast("long").as("__y0"))
    val mins = staged.groupBy("key")
      .agg(min(col("__x0")).as("__mx"), min(col("__y0")).as("__my"))
    staged.join(broadcast(mins), "key")
      .select(col("key"), (col("__x0") - col("__mx")).as("__x"),
        (col("__y0") - col("__my")).as("__y"))
      .groupBy("key")
      // Moments accumulate in DECIMAL(38,0): x·x at timestamp magnitudes
      // (10¹²)² = 10²⁴ silently wraps an int64 partial sum.
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum(col("__x").cast(dec) * col("__x")).as("__sxx"),
        sum(col("__y").cast(dec) * col("__y")).as("__syy"),
        sum(col("__x").cast(dec) * col("__y")).as("__sxy"))
      .select(col("key"), col("n"),
        expr(s"""n * CAST(__sxy AS $dec) - CAST(__sx AS $dec) * __sy""").as("__cov"),
        expr(s"""n * CAST(__sxx AS $dec) - CAST(__sx AS $dec) * __sx""").as("__vx"),
        expr(s"""n * CAST(__syy AS $dec) - CAST(__sy AS $dec) * __sy""").as("__vy"))
      .select(col("key"), col("n"),
        expr("""CAST(CASE WHEN __vx = 0 OR __vy = 0 THEN 0
          ELSE (CASE WHEN __cov >= 0 THEN 1 ELSE -1 END) *
            CAST(FLOOR(1000000.0D *
              (CAST(abs(__cov) AS DOUBLE) / CAST(__vx AS DOUBLE)) *
              (CAST(abs(__cov) AS DOUBLE) / CAST(__vy AS DOUBLE))) AS BIGINT)
          END AS BIGINT)""").as("r2_ppm"))
  }

  /** Spearman rank correlation per key — the monotone-association
    * complement to [[pearsonCorr]] (which sees only LINEAR association):
    * ρ = Pearson over the per-key average ranks of x and y, the standard
    * robust choice when either axis is heavy-tailed or ordinal (quality
    * scores vs engagement, length vs loss, any curation metric pair).
    *
    * Exactness: average ranks are kept integer via the ×2 trick —
    * rank2(v) = 2·|{v' < v}| + count(v) + 1 (ties share the midrank
    * exactly) — computed over per-key VALUE HISTOGRAMS (the
    * histogram-window convention: the window orders distinct values per
    * key, never rows), then the doubled ranks feed [[pearsonCorr]]'s
    * DECIMAL(38,0) moment algebra verbatim. The common 6Σd²/(n(n²−1))
    * short form is WRONG under ties; the rank-Pearson form is the
    * tie-correct published definition, and reusing the Pearson kernel
    * means one audited numeric path instead of two.
    *
    * @return (key, n, rho2_ppm) — SIGNED ρ² in ppm (sign of ρ, magnitude
    *         ρ²·10⁶ floored), the [[pearsonCorr]] output convention.
    */
  def spearmanCorr(
      df: DataFrame,
      keyCol: String,
      xCol: Column,
      yCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val staged0 = df.select(col(keyCol).as("key"),
        xCol.cast("long").as("__x0"), yCol.cast("long").as("__y0"))
      .where(col("__x0").isNotNull && col("__y0").isNotNull)
    // The same [[kneeBucketExpr]] coarsening every sibling rank op runs:
    // near-unique value columns (raw scores — Spearman's natural input)
    // would otherwise funnel a key's full distinct set into ONE
    // partition's window sort below. Transparent while distinct ≤
    // maxHistBins (every test SF); beyond it, ranks coarsen to the
    // documented histogram regime.
    val base = staged0.select(col("key"),
        kneeBucketExpr(staged0, "__x0", maxHistBins, knownBinsAtMostMax)
          .as("__x"),
        kneeBucketExpr(staged0, "__y0", maxHistBins, knownBinsAtMostMax)
          .as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rank2(vc: String): DataFrame = {
      val w = Window.partitionBy("key").orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy("key", vc).agg(count(lit(1)).as("__c"))
        .select(col("key"), col(vc),
          (lit(2L) * coalesce(sum("__c").over(w), lit(0L)) +
            col("__c") + 1L).as(s"__r$vc"))
    }
    val ranked = base
      .join(rank2("__x"), Seq("key", "__x"))
      .join(rank2("__y"), Seq("key", "__y"))
    val out = pearsonCorr(ranked, "key", col("__r__x"), col("__r__y"))
      .withColumnRenamed("r2_ppm", "rho2_ppm")
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    base.unpersist(blocking = false)
    out
  }

  /** McNemar's test on paired binary outcomes — "did changing the filter /
    * model actually change what passes, beyond symmetric churn?": given
    * one row per item with two binary verdicts a and b (old vs new
    * classifier, two quality filters), only the DISCORDANT counts matter:
    * b₁₀ = a-only, b₀₁ = b-only, statistic χ² = (b₁₀−b₀₁)²/(b₁₀+b₀₁).
    * Exact integer emission: chi2_ppm = ⌊10⁶·(b₁₀−b₀₁)²/(b₁₀+b₀₁)⌋ in
    * DECIMAL(38,0) (the squared-numerator class law: (10⁸)²·10⁶ = 10²²
    * needs the lift), and the 95% verdict compares integer products
    * against the χ²₁ critical value as a ppm literal
    * (10⁶·(b₁₀−b₀₁)² > 3841459·(b₁₀+b₀₁)) — no floating point anywhere.
    * Zero discordance ⇒ chi2 0, not-significant (the degenerate-case
    * convention). ONE map-side-combined aggregation; single-row output.
    *
    * @return (n, n_both, n_a_only, n_b_only, n_neither, chi2_ppm,
    *         significant_95)
    */
  def mcnemarTest(
      df: DataFrame,
      aCol: Column,
      bCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val a = aCol.cast("boolean")
    val b = bCol.cast("boolean")
    df.agg(
      count(lit(1)).as("n"),
      sum((a && b).cast("long")).as("n_both"),
      sum((a && !b).cast("long")).as("n_a_only"),
      sum((!a && b).cast("long")).as("n_b_only"),
      sum((!a && !b).cast("long")).as("n_neither"))
      .select(col("n"), col("n_both"), col("n_a_only"), col("n_b_only"),
        col("n_neither"),
        expr(s"""CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0
          ELSE (CAST(n_a_only - n_b_only AS $dec) * (n_a_only - n_b_only)
            * 1000000) DIV (n_a_only + n_b_only) END AS BIGINT)""")
          .as("chi2_ppm"),
        expr(s"""CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0
          WHEN CAST(n_a_only - n_b_only AS $dec) * (n_a_only - n_b_only)
            * 1000000 > CAST(3841459 AS $dec) * (n_a_only + n_b_only)
          THEN 1 ELSE 0 END AS INT)""").as("significant_95"))
  }

  /** Two-proportion z-test on a unit-level experiment table — the A/B
    * readout every event pipeline ends in: given one row per unit with
    * its variant (0 = control, 1 = treatment) and converted flag,
    * emit the exact counts, both rates, the pooled-variance z statistic
    *
    *   z = (p₁ − p₀) / √( p̂(1−p̂)(1/n₀ + 1/n₁) ),  p̂ = (x₀+x₁)/(n₀+n₁)
    *
    * and the 95% verdict (|z| > 1.959964). Every emitted double is one
    * IEEE chain (divisions and a correctly-rounded sqrt) over the four
    * exact int64 counts, so an independent engine replays z and the
    * verdict bit-for-bit. ONE aggregation, map-side combined; output is
    * a single row.
    */
  def abTest(
      df: DataFrame,
      variantCol: String,
      convertedCol: String): DataFrame = {
    val v = col(variantCol)
    val c = col(convertedCol).cast("boolean")
    val g = df.agg(
      sum(when(v === 0, 1L).otherwise(0L)).as("n_0"),
      sum(when(v === 0 && c, 1L).otherwise(0L)).as("x_0"),
      sum(when(v === 1, 1L).otherwise(0L)).as("n_1"),
      sum(when(v === 1 && c, 1L).otherwise(0L)).as("x_1"))
    // An empty arm reports rate 0 and z 0 (se guard below) instead of a
    // NaN that no engine replays consistently.
    val p0 = when(col("n_0") > 0,
      col("x_0").cast("double") / col("n_0").cast("double")).otherwise(0.0)
    val p1 = when(col("n_1") > 0,
      col("x_1").cast("double") / col("n_1").cast("double")).otherwise(0.0)
    val pp = (col("x_0") + col("x_1")).cast("double") /
      (col("n_0") + col("n_1")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_0").cast("double") +
        lit(1.0) / col("n_1").cast("double")))
    val z = when(se > 0, (p1 - p0) / se).otherwise(lit(0.0))
    g.select(col("n_0"), col("x_0"), col("n_1"), col("x_1"),
      p0.as("p_0"), p1.as("p_1"), z.as("z"),
      (abs(z) > 1.959964).cast("int").as("significant"))
  }

  /** Wilcoxon signed-rank test — the PAIRED member of the rank family
    * ([[mannWhitneyU]] compares two independent slices; [[mcnemarTest]]
    * compares paired BINARY verdicts; this compares paired CONTINUOUS
    * scores — the same docs before/after a filter, two models' losses on
    * the same eval set): differences d = x − y, zeros dropped (the
    * standard treatment), |d| midranked, W⁺ = Σ ranks of positive d,
    * tie-corrected normal approximation
    *
    *   z² = 12·(2W⁺ − n(n+1)/2)² / (2n(n+1)(2n+1) − Σ_t(t³−t)).
    *
    * Exactness: 2W⁺ is the exact integer Σ rank2 over the per-|d|
    * histogram (the ×2 trick — midranks never materialize as
    * fractions); the variance polynomial and tie mass are exact
    * DECIMAL(38,0); z² is ONE fixed IEEE chain over the integer moments
    * (the [[mannWhitneyU]] precedent — the squared numerator leaves the
    * DECIMAL envelope past ~10⁹ pairs); `significant_95` vs the shared
    * 3841459 literal. All-zero differences (n = 0) report z² 0,
    * direction 0.
    *
    * Scale shape: pairs collapse to the per-|d| histogram in one
    * map-side combine; one window over that value-bounded histogram;
    * 1-row output. The [[kneeBucketExpr]] knee coarsens near-unique
    * |d| values into ties — tie-correct, hence valid and conservative.
    *
    * @return (n_nonzero, w_plus_x2, direction, z2_ppm, significant_95)
    *         — direction +1 when x stochastically exceeds y.
    */
  def wilcoxonSignedRank(df: DataFrame, xCol: Column, yCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df
      .select((xCol.cast("long") - yCol.cast("long")).as("__d"))
      .where(col("__d") =!= 0)
      .select(abs(col("__d")).as("v"), (col("__d") > 0).cast("int").as("__p"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged.groupBy(vEx.as("v"))
      .agg(sum(col("__p")).cast("long").as("__cp"),
        count(lit(1)).as("__ct"))
    val wBelow = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = h.select(col("__cp"), col("__ct"),
      (lit(2L) * coalesce(sum(col("__ct")).over(wBelow), lit(0L)) +
        col("__ct") + 1L).as("__r2"))
    ranked.agg(
        coalesce(sum(col("__ct")), lit(0L)).as("n_nonzero"),
        coalesce(sum(col("__cp").cast(dec) * col("__r2")),
          lit(0L).cast(dec)).as("__w2"),
        coalesce(sum(col("__ct").cast(dec) * col("__ct") * col("__ct") -
          col("__ct")), lit(0L).cast(dec)).as("__t"))
      .select(col("n_nonzero"),
        col("__w2").cast("long").as("w_plus_x2"),
        expr(s"""CAST(CASE
          WHEN __w2 * 2 > CAST(n_nonzero AS $dec) * (n_nonzero + 1) THEN 1
          WHEN __w2 * 2 < CAST(n_nonzero AS $dec) * (n_nonzero + 1) THEN -1
          ELSE 0 END AS INT)""").as("direction"),
        expr(s"""CAST(CASE WHEN n_nonzero = 0 OR
            2 * CAST(n_nonzero AS $dec) * (n_nonzero + 1)
              * (2 * n_nonzero + 1) - __t <= 0 THEN 0
          ELSE FLOOR(1000000.0D *
            ((CAST(abs(__w2 * 2 - CAST(n_nonzero AS $dec)
                * (n_nonzero + 1)) AS DOUBLE) /
              CAST(2 * CAST(n_nonzero AS $dec) * (n_nonzero + 1)
                * (2 * n_nonzero + 1) - __t AS DOUBLE)) *
             CAST(abs(__w2 * 2 - CAST(n_nonzero AS $dec)
                * (n_nonzero + 1)) AS DOUBLE)) * 3.0D)
          END AS BIGINT)""").as("z2_ppm"))
      .withColumn("significant_95", (col("z2_ppm") > 3841459L).cast("int"))
  }

  /** Hodges–Lehmann location estimate — the ROBUST "where is this
    * distribution centered" number that pairs with [[wilcoxonSignedRank]]
    * (it is that test's associated estimator): the median of all
    * pairwise Walsh averages (x_i + x_j)/2 over i ≤ j. 29% breakdown
    * like the median, but ~96% Gaussian efficiency (the median's is
    * 64%) — the published default for "central doc length / score"
    * when tails are dirty but precision still matters.
    *
    * The n² pair mass collapses onto the VALUE HISTOGRAM: with distinct
    * values v_i (count c_i), Walsh-average mass is c_i·c_j for i < j and
    * c_i·(c_i+1)/2 for i = j — a |V|² cell cross of the knee-capped
    * histogram ([[kneeBucketExpr]] bounds |V|, so the cross is
    * bins²-bounded, never row-bounded). The estimate is the LOWER
    * median over that weighted cell table, emitted ×2 (hl_x2 = v_i+v_j
    * — integer exactly; halves never materialize). Empty input yields
    * no row.
    *
    * Scale shape: one map-side-combined histogram, a broadcast
    * histogram self-join (≤ maxHistBins rows per side), one window over
    * the cell table, 1-row output.
    *
    * @return (n, n_pairs, hl_x2) — the estimate is hl_x2 / 2. UNIT
    *         caveat (mirrors [[wassersteinShift]]): when the knee cap
    *         ENGAGES (distinct values > maxHistBins and
    *         `knownBinsAtMostMax = false`), `v` is a BUCKET ID, so hl_x2
    *         is in bucket-id units — value ≈ bucket·width + lo, not the
    *         raw value scale. With `knownBinsAtMostMax = true` (the
    *         production call sites) or a sub-knee domain, hl_x2 is exact
    *         in value units.
    */
  def hodgesLehmann(df: DataFrame, valueCol: Column,
      maxHistBins: Int = 1 << 11,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(valueCol.cast("long").as("v"))
      .where(col("v").isNotNull)
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged.groupBy(vEx.as("v")).agg(count(lit(1)).as("__c"))
    val cells = h.toDF("v1", "c1")
      .join(broadcast(h.toDF("v2", "c2")), col("v1") <= col("v2"))
      .select((col("v1") + col("v2")).as("__w"),
        when(col("v1") === col("v2"),
          expr(s"(CAST(c1 AS $dec) * (c1 + 1)) DIV 2"))
          .otherwise(col("c1").cast(dec) * col("c2")).cast(dec).as("__m"))
      .groupBy("__w").agg(sum("__m").as("__m"))
    val wCum = Window.orderBy("__w")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.select(col("__w"),
      (sum(col("__m")).over(wCum) - col("__m")).as("__lo"),
      sum(col("__m")).over(wCum).as("__hi"))
    val tot = h.agg(sum(col("__c")).as("n"),
      expr(s"(CAST(sum(__c) AS $dec) * (sum(__c) + 1)) DIV 2").as("__np"))
    cum.crossJoin(broadcast(tot))
      .where(col("__lo") < expr(s"(__np + 1) DIV 2") &&
        expr(s"(__np + 1) DIV 2") <= col("__hi"))
      .select(col("n"), col("__np").cast("long").as("n_pairs"),
        col("__w").as("hl_x2"))
  }

  /** Cochran–Mantel–Haenszel test + Mantel–Haenszel odds ratio — the
    * STRATIFIED member of the experiment family next to [[abTest]]
    * (pooling strata with different base rates manufactures or hides an
    * effect — Simpson's paradox; CMH asks "does the treatment shift
    * conversion WITHIN strata, combined across them"). Per stratum s the
    * 2×2 table (a = treated-converted, b = treated-not, c =
    * control-converted, d = control-not, n = a+b+c+d):
    *
    *   χ²_CMH = (|Σa − ΣE| − ½)² / ΣV,  E = (a+b)(a+c)/n,
    *   V = (a+b)(c+d)(a+c)(b+d) / (n²(n−1));  OR_MH = Σ(ad/n) / Σ(bc/n).
    *
    * Exactness: every per-stratum rational is integerized at 10⁶ BEFORE
    * the cross-strata sum (the PMI policy): e6 = (a+b)(a+c)·10⁶ DIV n,
    * v6 in the BOUNDED nested order ((((a+b)(c+d)·10⁶) DIV n)·(a+c)
    * DIV n)·(b+d) DIV (n−1) (naive V·10⁶ needs n⁴·10⁶ — dead at ~10⁸
    * rows per stratum; nested floors hold to ~10¹² — the class law),
    * ad6/bc6 likewise. χ² and OR are then single integer divides over
    * exact DECIMAL(38,0) sums; `significant_95` vs the shared df=1
    * literal. Degenerate ΣV = 0 (a constant arm everywhere) reports
    * χ² = 0; Σbc6 = 0 reports OR null (infinite association).
    *
    * Scale shape: ONE map-side-combined aggregation keyed by stratum
    * collapses the corpus to |strata| rows of four longs; everything
    * after is stratum-bounded; single-row output.
    *
    * @return (n_strata, n, chi2_ppm, significant_95, or_mh_ppm).
    */
  def cmhTest(
      df: DataFrame,
      stratumCol: Column,
      variantCol: Column,
      convertedCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val v = variantCol.cast("int")
    val c = convertedCol.cast("boolean")
    val strata = df.groupBy(stratumCol.as("__s"))
      .agg(sum(when(v === 1 && c, 1L).otherwise(0L)).as("a"),
        sum(when(v === 1 && !c, 1L).otherwise(0L)).as("b"),
        sum(when(v === 0 && c, 1L).otherwise(0L)).as("c"),
        sum(when(v === 0 && !c, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .where(col("n") >= 2)
    val terms = strata.select(
      col("n"),
      col("a").cast(dec).as("__a6x"),
      expr(s"""(CAST(a + b AS $dec) * (a + c) * 1000000) DIV n""")
        .as("__e6"),
      expr(s"""((((CAST(a + b AS $dec) * (c + d) * 1000000) DIV n)
        * (a + c)) DIV n) * (b + d) DIV (n - 1)""").as("__v6"),
      expr(s"""(CAST(a AS $dec) * d * 1000000) DIV n""").as("__ad6"),
      expr(s"""(CAST(b AS $dec) * c * 1000000) DIV n""").as("__bc6"))
    terms.agg(
        count(lit(1)).as("n_strata"),
        coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("__a6x") * 1000000), lit(0L).cast(dec))
          .as("__sa6"),
        coalesce(sum(col("__e6")), lit(0L).cast(dec)).as("__se6"),
        coalesce(sum(col("__v6")), lit(0L).cast(dec)).as("__sv6"),
        coalesce(sum(col("__ad6")), lit(0L).cast(dec)).as("__sad"),
        coalesce(sum(col("__bc6")), lit(0L).cast(dec)).as("__sbc"))
      .select(col("n_strata"), col("n"),
        expr(s"""CAST(CASE WHEN __sv6 <= 0 THEN 0
          WHEN abs(__sa6 - __se6) <= 500000 THEN 0
          ELSE ((abs(__sa6 - __se6) - 500000)
            * (abs(__sa6 - __se6) - 500000)) DIV __sv6
          END AS BIGINT)""").as("chi2_ppm"),
        expr(s"""CAST(CASE WHEN __sbc = 0 THEN NULL
          ELSE (__sad * 1000000) DIV __sbc END AS BIGINT)""")
          .as("or_mh_ppm"))
      .withColumn("significant_95",
        (col("chi2_ppm") > 3841459L).cast("int"))
      .select(col("n_strata"), col("n"), col("chi2_ppm"),
        col("significant_95"), col("or_mh_ppm"))
  }

  /** Isotonic calibration via Pool-Adjacent-Violators (Ayer et al. 1955;
    * the standard post-hoc calibrator for quality-classifier scores): per
    * score BIN, the empirical label mean, pooled with neighbors until the
    * bin → mean map is monotone non-decreasing — the unique L2 isotonic
    * fit. Pooling compares means by CROSS-MULTIPLICATION of the exact
    * (Σy, n) integer pairs, so no division happens until the final ppm
    * emission and the fit replays bit-for-bit.
    *
    * Scale shape: ONE map-side-combined aggregation collapses the corpus
    * to a (bin, n, Σy) table; `binCol` is caller-binned and BOUNDED, so
    * the PAV stack runs driver-side on ≤ |bins| rows (the skewProfile /
    * doremiWeights driver-table precedent). Output per input bin:
    * (bin, n, sum_y, raw_ppm, cal_ppm) with cal_ppm monotone in bin.
    */
  def pavCalibrate(
      df: DataFrame,
      binCol: String,
      labelCol: String): DataFrame = {
    // The bounded-bins contract, ENFORCED: collect fetches at most
    // MaxDriverBins + 1 rows, so a mis-binned caller (raw scores instead
    // of bins) fails fast instead of OOMing the driver. The label sum is
    // coalesced — an all-null-label bin means zero positives, not an NPE.
    val agg = df.groupBy(col(binCol).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col(labelCol).cast("long")), lit(0L)).as("s"))
      .limit(MaxDriverBins + 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(agg.nonEmpty, "pavCalibrate: empty input")
    require(agg.length <= MaxDriverBins,
      s"pavCalibrate: more than $MaxDriverBins distinct bins - '$binCol' " +
        "must be a bounded pre-binned column, not a raw score")
    // PAV stack: blocks of (startBin, n, s); merge while the new block's
    // mean undercuts the previous block's (s_top/n_top < s_prev/n_prev).
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    agg.foreach { case (bin, n, s) =>
      var cur = (bin, n, s)
      while (stack.nonEmpty &&
          cur._3 * stack.last._2 < stack.last._3 * cur._2) {
        val p = stack.remove(stack.length - 1)
        cur = (p._1, p._2 + cur._2, p._3 + cur._3)
      }
      stack += cur
    }
    val spark = df.sparkSession
    import spark.implicits._
    val blocks = stack.toIndexedSeq
    agg.toIndexedSeq.map { case (bin, n, s) =>
      val b = blocks.takeWhile(_._1 <= bin).last
      (bin, n, s, s * 1000000L / math.max(1L, n),
        b._3 * 1000000L / math.max(1L, b._2))
    }.toDF("bin", "n", "sum_y", "raw_ppm", "cal_ppm")
  }

  /** Precision/recall curve + F1-optimal threshold over BINNED classifier
    * scores — how a filter's cut point is actually tuned: for every
    * candidate threshold t (keep rows with bin ≥ t), the confusion
    * counts against the labels, exact ppm precision/recall/F1, and the
    * elected best row (max f1_ppm, ties to the LOWEST threshold — the
    * ppm-rounded argmax IS the contract, so any engine replays the
    * election). `binCol` is caller-binned and bounded (the pavCalibrate
    * convention), so one map-side-combined aggregation collapses the
    * corpus and the curve builds driver-side over ≤ |bins| rows.
    * Output per threshold: (threshold, tp, fp, fn, precision_ppm,
    * recall_ppm, f1_ppm, is_best).
    */
  def f1Threshold(
      df: DataFrame,
      binCol: String,
      labelCol: String): DataFrame = {
    val agg = df.groupBy(col(binCol).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col(labelCol).cast("long")), lit(0L)).as("p"))
      .limit(MaxDriverBins + 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    require(agg.nonEmpty, "f1Threshold: empty input")
    require(agg.length <= MaxDriverBins,
      s"f1Threshold: more than $MaxDriverBins distinct bins - '$binCol' " +
        "must be a bounded pre-binned column, not a raw score")
    val totalPos = agg.map(_._3).sum
    var tp = 0L
    var keep = 0L
    val curve = agg.map { case (bin, n, p) =>
      tp += p; keep += n
      val fp = keep - tp
      val fn = totalPos - tp
      val prec = if (keep == 0) 0L else tp * 1000000L / keep
      val rec = if (totalPos == 0) 0L else tp * 1000000L / totalPos
      val f1 =
        if (2 * tp + fp + fn == 0) 0L
        else 2 * tp * 1000000L / (2 * tp + fp + fn)
      (bin, tp, fp, fn, prec, rec, f1)
    }
    val best = curve.maxBy(r => (r._7, -r._1))
    val spark = df.sparkSession
    import spark.implicits._
    curve.toIndexedSeq.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7,
      if (r._1 == best._1) 1 else 0))
      .toDF("threshold", "tp", "fp", "fn", "precision_ppm", "recall_ppm",
        "f1_ppm", "is_best")
  }

  /** Hill tail-index estimate of a frequency distribution (Hill 1975) —
    * the dataset-card power-law exponent: over the k most frequent keys,
    *
    *   1/α ≈ (1/k) · Σ_{i=1..k} ln(c_i / c_{k+1})
    *
    * — how heavy the head is (α ≈ 1 for Zipfian text, larger = thinner
    * tail), the number that sizes stopword cutoffs, salting plans, and
    * cache hit ceilings. Each ln term is `round(10⁶·ln(ratio))` of an
    * exact integer ratio — the q_pmi_collocations determinism policy
    * (one libm ln per term; boundary margins orders of magnitude above
    * ulp skew). Selection is a k-bounded TakeOrdered on (count desc,
    * key asc) — no window, no full sort.
    * Output: (k, n_keys, c_tail, hill_sum_scaled, alpha_inv_scaled).
    */
  def hillTailIndex(
      df: DataFrame,
      keyCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("c"))
    val nKeys = counts.count()
    require(nKeys > k, s"need more than k=$k distinct keys, got $nKeys")
    val top = counts.orderBy(col("c").desc, col("key"))
      .limit(k + 1).collect().map(_.getLong(1))
    val tail = top.last
    val sum = top.take(k)
      .map(c => math.round(1e6 * math.log(c.toDouble / tail))).sum
    val spark = df.sparkSession
    import spark.implicits._
    Seq((k, nKeys, tail, sum, sum / k))
      .toDF("k", "n_keys", "c_tail", "hill_sum_scaled", "alpha_inv_scaled")
  }

  /** 2-D Pareto frontier (skyline) over integer criteria — "which rows are
    * not strictly beaten on BOTH axes": row p is dominated iff some q has
    * x_q ≥ x_p ∧ y_q ≥ y_p with at least one strict; the frontier keeps
    * every non-dominated row (exact ties in both coordinates all survive —
    * neither dominates). The curation read: the docs trading off length
    * against diversity optimally, the candidate set a budgeted selector
    * sweeps.
    *
    * Shape at scale: the corpus collapses to one row per DISTINCT x in a
    * partial-aggregating max(y) shuffle; the running strict-max-above
    * window runs over that x-bounded table ONLY (token counts, score
    * buckets — never corpus rows, the vocabGrowth convention); membership
    * is a broadcast join of the (x, ymax) frontier — frontier size is
    * bounded by |distinct x|. A point is non-dominated iff y = max(y | x)
    * and that max strictly exceeds every max at higher x — the window
    * proves the second conjunct in one pass.
    */
  def paretoFront(df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    val pts = df.select(col(idCol),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val byX = pts.groupBy(col("__x")).agg(max(col("__y")).as("__ymax"))
    val w = Window.orderBy(col("__x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = byX.withColumn("__above", max(col("__ymax")).over(w))
      .where(col("__above").isNull || col("__ymax") > col("__above"))
      .select(col("__x").as("__fx"), col("__ymax").as("__fy"))
    pts.join(broadcast(frontier),
        col("__x") === col("__fx") && col("__y") === col("__fy"))
      .select(col(idCol), col("__x").as(xCol), col("__y").as(yCol))
  }

  /** Per-key OLS volume trend — "is this event type / domain growing or
    * dying, and how fast": least-squares slope of bucket counts over time,
    * reported as `slope_ppm` = sign·⌊10⁶·|nΣxy − ΣxΣy| / (nΣx² − (Σx)²)⌋
    * (events per bucket per bucket, ppm-scaled). The rational is evaluated
    * in DECIMAL(38,0) integer arithmetic with the sign factored out so the
    * truncating integral divide is engine-independent (truncation of a
    * non-negative quotient IS floor; DuckDB replays it with HUGEINT `//`).
    * Bucket indexes are re-based to the global minimum before squaring —
    * slope is shift-invariant and small x keeps Σx² tiny. Keys with a
    * single bucket (den = 0) report null slope.
    *
    * Scale shape: the raw stream collapses to one row per (key, bucket) in
    * the first partial-aggregating shuffle; the origin is a broadcast
    * 1-row frame; the moment sums are a second map-side-combined
    * aggregation with key-bounded output. No windows, nothing all-pairs.
    */
  def trendSlopes(df: DataFrame, keyCol: String, bucketCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(keyCol), bucketCol.as("__b"))
      .agg(count(lit(1)).as("__y"))
    val origin = counts.agg(min(col("__b")).as("__b0"))
    val pts = counts.crossJoin(broadcast(origin))
      .select(col(keyCol), (col("__b") - col("__b0")).cast(dec).as("__x"),
        col("__y").cast(dec).as("__yd"))
    val sums = pts.groupBy(col(keyCol)).agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("__x")).as("__sx"),
      sum(col("__yd")).as("__sy"),
      sum(col("__x") * col("__yd")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    sums.select(col(keyCol),
        col("__n").cast("long").as("n_buckets"),
        col("__sy").cast("long").as("total"),
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).as("__num"),
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")).as("__den"))
      .select(col(keyCol), col("n_buckets"), col("total"),
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(
            when(col("__num") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(abs(__num) * 1000000) DIV __den"))
          .as("slope_ppm"))
  }

  /** Robust per-key trend — the NONPARAMETRIC member of the trend family
    * next to [[trendSlopes]]'s OLS (one spike day wrecks a least-squares
    * slope; monitoring literature's standard robust pair is): the
    * Mann–Kendall test S = Σ_{i<j} sgn(y_j − y_i) with the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    * continuity-corrected z² = 18·(|S|−1)²/denom, plus the Theil–Sen
    * slope (median of pairwise slopes — 29% breakdown point vs OLS's 0).
    *
    * Exactness: S and the variance polynomial are exact integers in
    * DECIMAL(38,0); z² is the integer rational (|S|−1)²·18·10⁶ DIV denom
    * (inside the envelope to ~10⁷ buckets per key — bucket counts are
    * CALENDAR-bounded, not corpus-bounded, so the squared-numerator law
    * is satisfied by construction); `significant_95` vs the shared
    * 3841459 literal. Theil–Sen: each pairwise slope is integerized
    * sign·(|Δy|·10⁶ DIV Δb) FIRST, the key's slope is the LOWER MEDIAN
    * of those integers (both floors documented — engine-independent,
    * the per-term-integerize-then-aggregate PMI policy).
    *
    * Scale shape: the corpus collapses to one (key, bucket) count row in
    * a map-side-combined shuffle; the PAIR table is per-key
    * C(buckets, 2) — bounded by the time-bucket calendar squared (366
    * daily buckets = 67k pairs/key), never by corpus rows; the median
    * runs on the per-key slope histogram (window over distinct slope
    * values, the histogram-window convention).
    *
    * @return (key, n_buckets, s_stat, z2_ppm, theil_sen_ppm,
    *         significant_95); keys with one bucket report null slope and
    *         zero z² (no trend measurable).
    */
  def robustTrend(df: DataFrame, keyCol: String, bucketCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(keyCol).as("key"), bucketCol.as("__b"))
      .agg(count(lit(1)).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = counts.toDF("key", "b1", "y1")
      .join(counts.toDF("key", "b2", "y2"), Seq("key"))
      .where(col("b2") > col("b1"))
      .select(col("key"),
        signum(col("y2") - col("y1")).cast("long").as("__sgn"),
        (when(col("y2") >= col("y1"), lit(1L)).otherwise(lit(-1L)).cast(dec) *
          expr(s"(abs(y2 - y1) * CAST(1000000 AS $dec)) DIV (b2 - b1)"))
          .cast("long").as("__slope"))
    val sAgg = pairs.groupBy("key")
      .agg(sum("__sgn").as("s_stat"), count(lit(1)).as("__npairs"))
    // Lower median of the per-key slope histogram.
    val sh = pairs.groupBy("key", "__slope").agg(count(lit(1)).as("__c"))
    val wcum = Window.partitionBy("key").orderBy("__slope")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = sh
      .select(col("key"), col("__slope"),
        (sum(col("__c")).over(wcum) - col("__c")).as("__lo"),
        sum(col("__c")).over(wcum).as("__hi"))
      .join(sAgg.select(col("key"), col("__npairs")), Seq("key"))
      .where(col("__lo") < expr("(__npairs + 1) DIV 2") &&
        expr("(__npairs + 1) DIV 2") <= col("__hi"))
      .select(col("key"), col("__slope").as("theil_sen_ppm"))
    // Tie polynomial over the per-key VALUE histogram.
    val ties = counts.groupBy("key", "__y").agg(count(lit(1)).as("__t"))
      .groupBy("key")
      .agg(sum(col("__t").cast(dec) * (col("__t") - 1) *
        (lit(2L) * col("__t") + 5)).as("__tt"))
    val nb = counts.groupBy("key").agg(count(lit(1)).as("n_buckets"))
    val out = nb.join(sAgg.select(col("key"), col("s_stat")), Seq("key"), "left")
      .join(ties, Seq("key"))
      .join(med, Seq("key"), "left")
      .select(col("key"), col("n_buckets"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        expr(s"""CAST(CASE WHEN n_buckets < 2 OR s_stat IS NULL
            OR s_stat = 0 THEN 0
          WHEN CAST(n_buckets AS $dec) * (n_buckets - 1)
            * (2 * n_buckets + 5) - __tt <= 0 THEN 0
          ELSE ((abs(s_stat) - 1) * CAST(abs(s_stat) - 1 AS $dec)
              * 18 * 1000000)
            DIV (CAST(n_buckets AS $dec) * (n_buckets - 1)
              * (2 * n_buckets + 5) - __tt)
          END AS BIGINT)""").as("z2_ppm"),
        col("theil_sen_ppm"))
      .withColumn("significant_95", (col("z2_ppm") > 3841459L).cast("int"))
      .orderBy("key")
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    counts.unpersist(blocking = false)
    out
  }

  /** Corpus concentration profile — "how unequal is the mass across
    * sources / domains / shards": the Gini coefficient (the inequality
    * number mixture audits publish), the Herfindahl–Hirschman index
    * (Σ share² — the antitrust concentration measure, = expected share
    * of a random token's source), and the top-1 share, all over the
    * per-key row counts. High Gini/HHI on a crawl = a handful of
    * domains own the corpus and per-domain caps ([[Curation]] family)
    * are overdue.
    *
    * Exactness: with c_(1) ≤ … ≤ c_(n) (ties broken by key — total
    * order), Gini = (2Σ i·c_(i) − (n+1)·C) / (n·C), evaluated as exact
    * DECIMAL(38,0) integers with one sign-factored floor divide (the
    * near-uniform case can integerize slightly negative); HHI =
    * Σc²·10⁶ DIV C²; top share = max(c)·10⁶ DIV C. Empty input reports
    * a single all-zero row (the degenerate convention).
    *
    * Scale shape: one map-side-combined per-key count; the rank window
    * orders the KEY-bounded count table (sources/domains — never corpus
    * rows); single-row output.
    */
  def concentrationProfile(df: DataFrame, keyCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__c"), col("key"))
    val ranked = counts.select(col("__c"),
      row_number().over(w).cast("long").as("__i"))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        coalesce(sum(col("__c")), lit(0L)).as("total"),
        coalesce(max(col("__c")), lit(0L)).as("__mx"),
        coalesce(sum(col("__c").cast(dec) * col("__c")),
          lit(0L).cast(dec)).as("__ss"),
        coalesce(sum(col("__i").cast(dec) * col("__c")),
          lit(0L).cast(dec)).as("__ic"))
      .select(col("n_keys"), col("total"),
        expr(s"""CAST(CASE WHEN total = 0 THEN 0 ELSE
          (CASE WHEN 2 * __ic >= (CAST(n_keys AS $dec) + 1) * total
            THEN 1 ELSE -1 END) *
          (abs(2 * __ic - (CAST(n_keys AS $dec) + 1) * total) * 1000000)
            DIV (CAST(n_keys AS $dec) * total)
          END AS BIGINT)""").as("gini_ppm"),
        expr(s"""CAST(CASE WHEN total = 0 THEN 0 ELSE
          (__ss * 1000000) DIV (CAST(total AS $dec) * total)
          END AS BIGINT)""").as("hhi_ppm"),
        expr(s"""CAST(CASE WHEN total = 0 THEN 0 ELSE
          (CAST(__mx AS $dec) * 1000000) DIV total
          END AS BIGINT)""").as("top_share_ppm"))
  }

  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("x"))
    val hist = counts.groupBy("x").agg(count(lit(1)).as("m"))
      .orderBy("x").collect()
    require(hist.nonEmpty, "skewProfile: empty input")
    var p = BigInt(0); var s = BigInt(0); var t = BigInt(0); var n = BigInt(0)
    var mx = 0L
    hist.foreach { r =>
      val c = BigInt(r.getLong(0)); val m = BigInt(r.getLong(1))
      s += c * (m * p + m * (m + 1) / 2)
      p += m; t += c * m; n += m
      mx = r.getLong(0)
    }
    val gini = (BigInt(1000000) * (s * 2 - (n + 1) * t) / (n * t)).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((t.toLong, n.toLong, mx, gini))
      .toDF("n_rows", "n_keys", "max_count", "gini_scaled")
  }

  /** Exact trimmed mean per key over an integer column — the robust
    * location estimate a corpus report quotes when means are outlier-torn
    * (one 10 MB document shouldn't move a language's "typical length").
    * Per key with n values and trim fraction t ppm, k = (n·t) DIV 10⁶
    * values are dropped from EACH tail and the mean of the remainder is
    * reported as `trimmed_mean_x1e6` = (S_mid·10⁶) DIV (n − 2k).
    *
    * No sort: per-key VALUE HISTOGRAMS (the quarterPercentiles bounded-
    * distinct contract) carry ascending/descending running counts, and
    * each tail's dropped mass is the exact overlap
    * min(cnt, max(0, k − cumBefore))·v summed over classes — a value
    * class straddling the cut contributes exactly its overlap, so the
    * result equals the sorted definition bit-for-bit. Products ride
    * DECIMAL(38,0); keys where 2k ≥ n report null (nothing survives the
    * trim).
    *
    * Scale shape: one (key, value) map-side-combined histogram; the
    * running sums order each key's value classes only; one final per-key
    * aggregation. Nothing row-scale moves past the first combine.
    */
  def trimmedMean(
      df: DataFrame,
      keyCol: String,
      valueCol: Column,
      trimPpm: Long = 100000L): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      s"trimPpm must be in [0, 500000), got $trimPpm")
    val dec = "decimal(38,0)"
    val h = df.select(col(keyCol).as("k"), valueCol.cast("long").as("v"))
      .groupBy("k", "v").agg(count(lit(1)).as("__c"))
    val asc = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val desc = Window.partitionBy(col("k")).orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.select(col("k"), col("v"), col("__c"),
      coalesce(sum(col("__c")).over(asc), lit(0L)).as("__lo"),
      coalesce(sum(col("__c")).over(desc), lit(0L)).as("__hi"))
    val tot = h.groupBy("k").agg(sum(col("__c")).as("__n"),
      sum(col("v").cast(dec) * col("__c").cast(dec)).as("__s"))
    cum.join(tot, Seq("k"))
      .select(col("k"), col("__n"), col("__s"),
        expr(s"(__n * $trimPpm) DIV 1000000").as("__k"),
        col("v"), col("__c"), col("__lo"), col("__hi"))
      .select(col("k"), col("__n"), col("__s"), col("__k"),
        (least(col("__c"), greatest(col("__k") - col("__lo"), lit(0L)))
          .cast(dec) * col("v").cast(dec)).as("__bot"),
        (least(col("__c"), greatest(col("__k") - col("__hi"), lit(0L)))
          .cast(dec) * col("v").cast(dec)).as("__top"))
      .groupBy(col("k").as(keyCol), col("__n").as("n"), col("__k"), col("__s"))
      .agg(sum(col("__bot")).as("__b"), sum(col("__top")).as("__t"))
      .select(col(keyCol), col("n"), col("__k").as("n_trimmed_each"),
        when(col("n") - col("__k") * 2 <= 0, lit(null).cast("long"))
          .otherwise(expr("""CAST(((__s - __b - __t) * 1000000)
            DIV CAST(n - 2 * __k AS DECIMAL(38,0)) AS BIGINT)"""))
          .as("trimmed_mean_x1e6"))
      .orderBy(keyCol)
  }

  /** Clustering–label agreement: purity and normalized mutual information
    * between a cluster assignment and a reference labeling — the external
    * evaluation a k-means/LSH-bucket/topic run is judged by before anyone
    * trusts its slices. From the (cluster, label) contingency c_ij with
    * marginals a_i, b_j over n rows:
    *
    *   purity_ppm = (Σ_i max_j c_ij)·10⁶ DIV n
    *   NMI = 2·I/(H_C + H_L) with every ln integerized
    *         round(10⁶·ln(exact integer ratio)) BEFORE its weighted sum
    *         (the PMI policy), so nmi_ppm = (2·I_num·10⁶) DIV
    *         (HC_num + HL_num) is bit-replayable; near-independent
    *         labelings can integrate to a slightly NEGATIVE I_num, so the
    *         divide is sign-factored (the trendSlopes convention).
    *
    * Scale shape: ONE contingency aggregation bounded by
    * |clusters|×|labels|; marginals re-aggregate that table; weighted
    * sums ride DECIMAL(38,0); output is one row.
    */
  def clusteringAgreement(
      df: DataFrame,
      clusterCol: Column,
      labelCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cm = df.select(clusterCol.cast("long").as("__c"),
        labelCol.cast("string").as("__l"))
      .groupBy("__c", "__l").agg(count(lit(1)).as("__n"))
    val ac = cm.groupBy("__c")
      .agg(sum(col("__n")).as("__a"), max(col("__n")).as("__mx"))
    val bl = cm.groupBy("__l").agg(sum(col("__n")).as("__b"))
    val tot = cm.agg(sum(col("__n")).as("__t"))
    def lnw(weight: Column, p: Column, q: Column): Column =
      (weight.cast(dec) *
        round(lit(1e6) * log(p.cast("double") / q.cast("double")))
          .cast("long").cast(dec)).as("__w")
    val inum = cm.join(ac.select(col("__c"), col("__a")), Seq("__c"))
      .join(bl, Seq("__l")).crossJoin(broadcast(tot))
      // Products in DOUBLE: n*t and a*b wrap int64 past ~3e9-row
      // marginals (every sibling op lifts before multiplying); doubles
      // are exact below 2^53 so the ppm rounding is unchanged there.
      .select(lnw(col("__n"),
        col("__n").cast("double") * col("__t").cast("double"),
        col("__a").cast("double") * col("__b").cast("double")))
      .agg(sum(col("__w")).as("__inum"))
    val hc = ac.crossJoin(broadcast(tot))
      .select(lnw(col("__a"), col("__t"), col("__a")))
      .agg(sum(col("__w")).as("__hc"))
    val hl = bl.crossJoin(broadcast(tot))
      .select(lnw(col("__b"), col("__t"), col("__b")))
      .agg(sum(col("__w")).as("__hl"))
    val pur = ac.agg(sum(col("__mx")).as("__pm"))
    tot.crossJoin(broadcast(pur)).crossJoin(broadcast(inum))
      .crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .select(col("__t").as("n"),
        expr("CAST((__pm * 1000000) DIV __t AS BIGINT)").as("purity_ppm"),
        when(col("__hc") + col("__hl") === 0, lit(0L))
          .otherwise(
            when(col("__inum") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("""CAST((abs(__inum) * 2000000) DIV (__hc + __hl)
                      AS BIGINT)"""))
          .as("nmi_ppm"))
  }

  /** Calibration report over binned classifier scores — ECE plus the
    * Murphy (1973) Brier decomposition, the MEASUREMENT side of the
    * calibration family ([[pavCalibrate]] is the fixer). Bins are score
    * buckets 0..nBins−1 with midpoint confidence c_b = (2b+1)·10⁶ DIV
    * (2·nBins); with n_b items and p_b positives per bin, ȳ = P/N:
    *
    *   ece_ppm         = (Σ_b |p_b·10⁶ − c_b·n_b|) DIV N
    *   reliability_ppm = (Σ_b (p_b·10⁶ − c_b·n_b)² DIV (n_b·10⁶)) DIV N
    *   resolution_ppm  = (Σ_b (p_b·10⁶ − ȳ_ppm·n_b)² DIV (n_b·10⁶)) DIV N
    *   uncertainty_ppm = (P·(N−P)·10⁶) DIV (N·N)
    *
    * Every divide is a documented floor on non-negative integers (squares
    * in DECIMAL(38,0) — (p·10⁶)² alone passes int64 at ~3000 positives),
    * so each component is bit-replayable; the real-valued Brier identity
    * rel − res + unc holds up to those floors (each component is exact to
    * < 1 ppm of its own definition, which is the point of a ppm report —
    * the identity is NOT asserted in integers).
    *
    * Scale shape: ONE bin-bounded histogram aggregation; everything after
    * runs on nBins rows plus a broadcast 1-row total.
    */
  def calibrationReport(
      df: DataFrame,
      binCol: Column,
      labelCol: Column,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val dec = "decimal(38,0)"
    val h = df.select(binCol.cast("long").as("b"),
        labelCol.cast("int").as("__y"))
      .groupBy("b").agg(count(lit(1)).as("__n"),
        sum(col("__y")).cast("long").as("__p"))
    val tot = h.agg(sum(col("__n")).as("__nt"), sum(col("__p")).as("__pt"))
    val staged = h.crossJoin(broadcast(tot))
      .select(col("b"), col("__n"), col("__p"), col("__nt"), col("__pt"),
        expr(s"((2 * b + 1) * 1000000) DIV ${2L * nBins}").as("__c"),
        expr("(__pt * 1000000) DIV __nt").as("__ybar"))
      .select(col("__n"), col("__nt"), col("__pt"),
        (col("__p").cast(dec) * lit(1000000L).cast(dec) -
          col("__c").cast(dec) * col("__n").cast(dec)).as("__dc"),
        (col("__p").cast(dec) * lit(1000000L).cast(dec) -
          col("__ybar").cast(dec) * col("__n").cast(dec)).as("__dy"))
    staged
      .select(col("__n"), col("__nt"), col("__pt"),
        abs(col("__dc")).as("__adc"),
        expr("(__dc * __dc) DIV (CAST(__n AS DECIMAL(38,0)) * 1000000)")
          .as("__rel"),
        expr("(__dy * __dy) DIV (CAST(__n AS DECIMAL(38,0)) * 1000000)")
          .as("__res"))
      .groupBy("__nt", "__pt")
      .agg(sum(col("__adc")).as("__sad"), sum(col("__rel")).as("__srel"),
        sum(col("__res")).as("__sres"))
      .select(col("__nt").as("n"), col("__pt").as("n_pos"),
        expr("CAST(__sad DIV CAST(__nt AS DECIMAL(38,0)) AS BIGINT)")
          .as("ece_ppm"),
        expr("CAST(__srel DIV CAST(__nt AS DECIMAL(38,0)) AS BIGINT)")
          .as("reliability_ppm"),
        expr("CAST(__sres DIV CAST(__nt AS DECIMAL(38,0)) AS BIGINT)")
          .as("resolution_ppm"),
        expr("""CAST((CAST(__pt AS DECIMAL(38,0)) * (__nt - __pt) * 1000000)
                DIV (CAST(__nt AS DECIMAL(38,0)) * __nt) AS BIGINT)""")
          .as("uncertainty_ppm"))
  }

  /** Time-decayed freshness mass per key — the batch face of recency
    * weighting (the streaming EWMA's complement): each event contributes
    * 10⁶ halved once per `halfLifeDays` of age against the corpus
    * maximum day, i.e. weight = 10⁶ >> min(age/h, 62) — an INTEGER SHIFT,
    * so the decay curve is exact in any engine (no pow(), no doubles)
    * while staying a faithful 2^(−age/h) staircase. `freshness_ppm` =
    * decayed_mass DIV n_events reads as "what fraction of this key's
    * mass is recent" (10⁶ = everything arrived in the newest half-life;
    * → 0 = dead key). The number a crawl scheduler or mixture designer
    * ranks sources by.
    *
    * Scale shape: one narrow day projection, a broadcast 1-row max, one
    * map-side-combined aggregation per key. Nothing else.
    */
  def decayedFreshness(
      df: DataFrame,
      keyCol: String,
      dayCol: Column,
      halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    val staged = df.select(col(keyCol), dayCol.cast("long").as("__day"))
    val mx = staged.agg(max(col("__day")).as("__mx"))
    staged.crossJoin(broadcast(mx))
      .select(col(keyCol),
        expr(s"""shiftright(1000000L,
                 CAST(least((__mx - __day) DIV $halfLifeDays, 62) AS INT))""")
          .as("__w"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__w")).as("decayed_mass"))
      .select(col(keyCol), col("n_events"), col("decayed_mass"),
        expr("decayed_mass DIV n_events").as("freshness_ppm"))
      .orderBy(keyCol)
  }

  /** Exact AUC (ROC area) over binned classifier scores — the
    * threshold-free companion of [[f1Threshold]] (same bounded-bin
    * contract: scores arrive as integer bins, higher = more positive).
    * AUC is the Mann–Whitney rank statistic — P(random positive outranks
    * random negative, ties ½) — computed exactly from the bin histogram:
    *
    *   2·U = Σ_b pos_b · (2·negBelow_b + neg_b)
    *   auc_ppm = ⌊10⁶·2U / (2·N₊·N₋)⌋
    *
    * (the tie-half stays integral under the ×2; products run in
    * DECIMAL(38,0) so 10⁶·2U survives any corpus). Running negBelow
    * orders the BIN table only — bounded by the bin count, never rows.
    * Degenerate single-class inputs report auc_ppm = 0 with the counts
    * exposing why.
    *
    * Distinct-count knee (the [[graft.ops.Dedup]] autoRowsPerBand law —
    * below the knee bit-identical, above it bounded): at or below
    * `maxHistBins` distinct bins the histogram is per-bin exact; above it
    * (an adversarial caller passing raw scores — near-unique longs whose
    * "histogram" is the corpus) bins auto-coarsen to ≤ maxHistBins
    * equal-width buckets, which merges adjacent score ties — AUC becomes
    * the tie-coarsened estimate of the same rank statistic, and the
    * single-partition running sum stays bounded instead of sorting ~N
    * rows in one task. One cheap deciding aggregation runs at plan-build
    * time.
    */
  def aucBinned(df: DataFrame, binCol: Column, labelCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(binCol.cast("long").as("b"),
      labelCol.cast("int").as("__y"))
    val bEx = kneeBucketExpr(staged, "b", maxHistBins, knownBinsAtMostMax)
    val h = staged
      .groupBy(bEx.as("b")).agg(sum(col("__y")).cast("long").as("__p"),
        sum(lit(1) - col("__y")).cast("long").as("__n"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.select(col("b"), col("__p"), col("__n"),
      coalesce(sum(col("__n")).over(w), lit(0L)).as("__nb"))
    cum.agg(sum(col("__p")).as("n_pos"), sum(col("__n")).as("n_neg"),
        sum(col("__p").cast(dec) *
          (col("__nb").cast(dec) * 2 + col("__n").cast(dec))).as("__u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr("""CAST((__u2 * 1000000)
            DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"""))
          .as("auc_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test over an integer-valued
    * column — the DISTRIBUTIONAL member of the batch drift family (χ²
    * [[graft.ops.TextAnalysis.chiSquareTerms]] compares categories; KL
    * compares term mixes; KS compares an ordered quantity like document
    * length or score between two corpus slices, sensitive to shift and
    * shape with no binning choices). The statistic is the max ECDF gap,
    * computed EXACTLY by cross-multiplication:
    *
    *   D_num = max_v |cumA(v)·N_b − cumB(v)·N_a|,  D = D_num / (N_a·N_b)
    *
    * reported as `ks_ppm` = ⌊10⁶·D⌋, plus `reject_05` — the asymptotic
    * α = 0.05 verdict D > 1.358·√((N_a+N_b)/(N_a·N_b)) evaluated with
    * both sides squared AND pre-divided by N_a·N_b so it stays inside
    * DECIMAL(38,0) at any corpus size:
    * ⌊D_num·10⁶ DIV (N_a·N_b)⌋·D_num > 1844164·(N_a+N_b), with
    * 1844164 = ⌊10⁶·1.358²⌋ (the raw D_num²·10⁶ form overflows past
    * ~5·10⁷ rows per side; the floored left side only UNDERSTATES, so
    * the verdict stays conservative — the knee's own attitude).
    *
    * Scale shape: the corpus collapses to a per-VALUE histogram in one
    * map-side combine; the running sums order that value-bounded
    * histogram only (the vocabGrowth convention); totals are a broadcast
    * 1-row frame; output is one row.
    *
    * Distinct-count knee ([[kneeBucketExpr]]): at or below `maxHistBins`
    * distinct values the ECDF is evaluated at every value — bit-identical
    * to the unguarded statistic. Above it (near-unique longs, e.g.
    * timestamps) values auto-coarsen to ≤ maxHistBins equal-width
    * buckets; the max gap is then evaluated at bucket boundaries only —
    * a LOWER bound on the exact D (the ECDF gap at interior points is
    * unseen), so `reject_05` stays conservative: it fires only when even
    * the coarsened gap crosses the critical value.
    */
  def ksTest(df: DataFrame, valueCol: Column, isACol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(valueCol.cast("long").as("v"),
      isACol.cast("int").as("__a"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged
      .groupBy(vEx.as("v")).agg(sum(col("__a")).cast("long").as("__ca"),
        sum(lit(1) - col("__a")).cast("long").as("__cb"))
    val w = Window.orderBy("v")
    val cum = h.select(col("v"),
      sum(col("__ca")).over(w).as("__cumA"),
      sum(col("__cb")).over(w).as("__cumB"))
    val tot = h.agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("__cumA").cast(dec) * col("n_b").cast(dec) -
          col("__cumB").cast(dec) * col("n_a").cast(dec)).as("__d"))
      .groupBy("n_a", "n_b").agg(max(col("__d")).as("__dn"))
      .select(col("n_a"), col("n_b"),
        col("__dn").cast("long").as("d_num"),
        expr("""CAST((__dn * 1000000)
                DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
          .as("ks_ppm"),
        expr("""CAST(((__dn * 1000000)
                  DIV (CAST(n_a AS DECIMAL(38,0)) * n_b)) * __dn >
                1844164 * (CAST(n_a AS DECIMAL(38,0)) + n_b)
                  AS INT)""").as("reject_05"))
  }

  /** Wasserstein-1 (earth mover's) distance between two slices of an
    * integer-valued column — the INTEGRATED member of the two-sample
    * drift family ([[ksTest]] reports the worst single ECDF gap; W₁
    * integrates the gap over the value line, so a broad small shift and
    * a narrow large one are priced by how much mass moved how FAR — the
    * metric distribution-shift monitoring publishes when magnitude
    * matters, e.g. "mean doc length drifted 40 chars"):
    *
    *   W₁ = Σ_i (v_{i+1} − v_i) · |cumA_i/N_a − cumB_i/N_b|
    *
    * in VALUE UNITS. Exactness: the per-value term is the cross-
    * multiplied integer gap·|cumA·N_b − cumB·N_a| (the [[ksTest]]
    * trick), summed in DECIMAL(38,0), emitted as
    * w1_x1e6 = ⌊Σ·10⁶ DIV (N_a·N_b)⌋ — ×10⁶ of the value-unit
    * distance. A one-sided input reports 0; a single-distinct-value
    * input yields no row (no gap exists — nothing can move).
    *
    * Scale shape: identical to [[ksTest]] — one map-side-combined
    * per-value histogram, one window over the value-bounded histogram
    * (a `lead` for the gap), single-row output; the [[kneeBucketExpr]]
    * knee coarsens near-unique columns (W₁ of the bucketed variable —
    * a LOWER bound, mass inside one bucket moves for free).
    */
  def wassersteinShift(df: DataFrame, valueCol: Column, isACol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(valueCol.cast("long").as("v"),
      isACol.cast("int").as("__a"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged
      .groupBy(vEx.as("v")).agg(sum(col("__a")).cast("long").as("__ca"),
        sum(lit(1) - col("__a")).cast("long").as("__cb"))
    val w = Window.orderBy("v")
    val cum = h.select(col("v"),
      sum(col("__ca")).over(w).as("__cumA"),
      sum(col("__cb")).over(w).as("__cumB"),
      (lead(col("v"), 1).over(w) - col("v")).as("__gap"))
    val tot = h.agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    cum.where(col("__gap").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        (col("__gap").cast(dec) *
          abs(col("__cumA").cast(dec) * col("n_b") -
            col("__cumB").cast(dec) * col("n_a"))).as("__t"))
      .groupBy("n_a", "n_b").agg(coalesce(sum(col("__t")),
        lit(0L).cast(dec)).as("__s"))
      .select(col("n_a"), col("n_b"),
        expr(s"""CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
          ELSE (__s * 1000000) DIV (CAST(n_a AS $dec) * n_b)
          END AS BIGINT)""").as("w1_x1e6"))
  }

  /** Population Stability Index between two slices — the INDUSTRY drift
    * number (model monitoring's standard "has the population my filter
    * was tuned on moved" metric, with the published 0.10 / 0.25
    * watch/act thresholds): over value bins i,
    *
    *   PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)
    *
    * with add-one smoothing on the BIN COUNTS (the standard zero-bin
    * treatment — PSI is undefined on empty bins; smoothing keeps every
    * bin finite and the statistic deterministic). Each bin's ln ratio is
    * an exact integer-ratio argument ((ca+1)·(N_b+m) / ((cb+1)·(N_a+m)))
    * integerized round(10⁶·ln·) BEFORE the weighted sum (the PMI
    * policy); the mass weights are the exact smoothed-share difference
    * cross-multiplied to integers; one final floor divide. Output
    * psi_ppm ≥ 0 up to integerization (clamped), with `watch_01` /
    * `act_025` threshold bits.
    *
    * Scale shape: the [[ksTest]] histogram shape — one map-side combine
    * to the (knee-capped) per-bin table, one bounded reduction, one row.
    */
  def psiDrift(df: DataFrame, valueCol: Column, isACol: Column,
      maxHistBins: Int = 32,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(valueCol.cast("long").as("v"),
      isACol.cast("int").as("__a"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged
      .groupBy(vEx.as("v")).agg(sum(col("__a")).cast("long").as("__ca"),
        sum(lit(1) - col("__a")).cast("long").as("__cb"))
    val tot = h.agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
      count(lit(1)).as("__m"))
    // Smoothed shares: p = (ca+1)/(N_a+m), q = (cb+1)/(N_b+m); the
    // ln argument cross-multiplies to exact int64s (documented < 2⁵³
    // envelope, the sliceKlDivergence bound).
    val lnTerm = round(lit(1e6) *
      log(((col("__ca") + 1).cast("double") * (col("n_b") + col("__m"))) /
        ((col("__cb") + 1).cast("double") * (col("n_a") + col("__m")))))
      .cast("long")
    h.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("__m"),
        (((col("__ca") + 1).cast(dec) * (col("n_b") + col("__m")) -
          (col("__cb") + 1).cast(dec) * (col("n_a") + col("__m"))) *
          lnTerm).as("__t"))
      .groupBy("n_a", "n_b", "__m")
      .agg(sum(col("__t")).as("__s"))
      .select(col("n_a"), col("n_b"), col("__m").as("n_bins"),
        expr(s"""CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
          ELSE greatest(__s DIV ((CAST(n_a AS $dec) + n_bins)
            * (CAST(n_b AS $dec) + n_bins)), 0) END AS BIGINT)""")
          .as("psi_ppm"))
      .withColumn("watch_01", (col("psi_ppm") > 100000L).cast("int"))
      .withColumn("act_025", (col("psi_ppm") > 250000L).cast("int"))
  }

  /** Tie-corrected Mann–Whitney U test — the LOCATION member of the
    * two-sample drift family next to [[ksTest]] (KS asks "did the
    * distribution change anywhere"; MWU asks "does one slice
    * stochastically dominate the other", the question behind every
    * before/after quality-score or length comparison). [[aucRoc]] is the
    * same rank-sum as an EFFECT SIZE (U/(n_a·n_b)); this op adds the
    * significance machinery: the tie-corrected normal approximation
    *
    *   z² = (U_a − n_a·n_b/2)² / σ²,
    *   σ² = n_a·n_b·( n(n²−1) − Σ_v(t_v³−t_v) ) / (12·n(n−1))
    *
    * with t_v the combined tie count at value v — the published
    * tie-correct variance; the uncorrected form over-rejects on the
    * discrete columns this engine feeds it (lengths, scores, buckets).
    *
    * Exactness: U is kept integer via the ×2 trick — u_a_x2 = 2·U_a =
    * Σ_v ca·(2·cb_below + cb_at) (half-credit ties, the [[aucRoc]]
    * identity) — and the tie mass Σ(t³−t) accumulates in DECIMAL(38,0)
    * over the per-VALUE histogram (the histogram-window convention: the
    * running sum orders distinct values, never rows). z² then needs
    * (2U_a−n_a·n_b)², which breaks the DECIMAL envelope past ~10⁹ rows
    * (the squared-numerator class law), so the final ratio is ONE fixed
    * IEEE chain over the exact integer moments (the [[abTest]] double
    * convention — each cast/divide/multiply correctly rounded, any
    * engine replays the identical bits):
    * 10⁶·((|d|/n_a·n_b)·|d|)·(3n(n−1)/(n(n²−1)−T)), floored.
    * `significant_95` is z2_ppm > 3841459 (⌊10⁶·1.959964²⌋ — the same
    * critical literal as [[mcnemarTest]]'s χ²₁). Degenerate inputs (an
    * empty side, or every row tied ⇒ zero variance) report z² = 0,
    * not-significant, direction 0.
    *
    * Scale shape: the corpus collapses to a per-value histogram in one
    * map-side combine; one window over the value-bounded histogram; one
    * 1-row aggregate. Distinct-count knee ([[kneeBucketExpr]]): above
    * `maxHistBins` distinct values, values coarsen to equal-width
    * buckets — coarsening only MERGES ranks into ties, and the statistic
    * is tie-correct, so the coarsened z² is a valid (separation-
    * understating ⇒ conservative) MWU on the bucketed variable.
    *
    * @return (n_a, n_b, u_a_x2, direction, z2_ppm, significant_95) —
    *         direction +1 when slice A stochastically dominates.
    */
  def mannWhitneyU(df: DataFrame, valueCol: Column, isACol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(valueCol.cast("long").as("v"),
      isACol.cast("int").as("__a"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged
      .groupBy(vEx.as("v")).agg(sum(col("__a")).cast("long").as("__ca"),
        sum(lit(1) - col("__a")).cast("long").as("__cb"))
    val wBelow = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.select(col("__ca"), col("__cb"),
      coalesce(sum(col("__cb")).over(wBelow), lit(0L)).as("__nbb"))
    cum.agg(
        sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum(col("__ca").cast(dec) *
          (col("__nbb").cast(dec) * 2 + col("__cb"))).as("__u2a"),
        sum((col("__ca") + col("__cb")).cast(dec) *
          (col("__ca") + col("__cb")) * (col("__ca") + col("__cb")) -
          (col("__ca") + col("__cb"))).as("__t"))
      .select(col("n_a"), col("n_b"),
        col("__u2a").cast("long").as("u_a_x2"),
        expr(s"""CASE WHEN __u2a > CAST(n_a AS $dec) * n_b THEN 1
          WHEN __u2a < CAST(n_a AS $dec) * n_b THEN -1 ELSE 0 END""")
          .cast("int").as("direction"),
        expr(s"""CAST(CASE WHEN n_a = 0 OR n_b = 0 OR
            CAST(n_a + n_b AS $dec) *
              (CAST(n_a + n_b AS $dec) * (n_a + n_b) - 1) - __t = 0 THEN 0
          ELSE FLOOR(1000000.0D *
            ((CAST(abs(__u2a - CAST(n_a AS $dec) * n_b) AS DOUBLE) /
              CAST(CAST(n_a AS $dec) * n_b AS DOUBLE)) *
             CAST(abs(__u2a - CAST(n_a AS $dec) * n_b) AS DOUBLE)) *
            (CAST(CAST(3 AS $dec) * (n_a + n_b) * (n_a + n_b - 1)
                AS DOUBLE) /
             CAST(CAST(n_a + n_b AS $dec) *
               (CAST(n_a + n_b AS $dec) * (n_a + n_b) - 1) - __t
               AS DOUBLE)))
          END AS BIGINT)""").as("z2_ppm"))
      .withColumn("significant_95",
        (col("z2_ppm") > 3841459L).cast("int"))
  }

  /** Kruskal–Wallis H — the k-SAMPLE generalization of [[mannWhitneyU]]
    * (two slices → MWU; "is ANY of these k sources/shards/variants
    * shifted" → KW, the nonparametric one-way ANOVA): with midranks R_g
    * summed per group, H = (12/(N(N+1)))·Σ R_g²/n_g − 3(N+1), divided by
    * the tie correction 1 − ΣT/(N³−N), T = Σ_v(t_v³−t_v), and compared
    * against the χ²_{k−1} critical value.
    *
    * Exactness: midrank sums use the ×2 trick over the per-(group,
    * value) histogram (rank2 sums are exact integers in DECIMAL(38,0));
    * each group's H contribution is evaluated in the BOUNDED nested
    * order a_g = R2_g·10⁶ DIV (N+1), b_g = a_g·R2_g DIV (4·n_g·N)
    * (the squared-numerator class law: a·R2 ≤ 8·10⁶·N³ stays inside
    * DECIMAL(38,0) to N ≈ 2·10¹⁰ rows, where the naive R2² form dies at
    * ~10⁸; two floors per group, each understating < 1 h-ppm — the
    * conservative attitude), summed exactly; the tie correction is ONE
    * fixed IEEE multiply over the exact integer moments (the
    * [[mannWhitneyU]] precedent). `significant_95` compares against the
    * χ² critical literal for df = k−1 (df ≤ 10 supported — more groups
    * than 11 report the statistic with verdict NULL rather than a wrong
    * literal).
    *
    * Scale shape: one map-side-combined (group, value) histogram; rank
    * windows order the VALUE-bounded combined histogram; per-group
    * reduction is |groups| rows; single-row output per test. The
    * [[kneeBucketExpr]] knee coarsens near-unique values into ties —
    * tie-correct, hence a valid conservative KW on the bucketed column.
    *
    * @return (n, n_groups, h_ppm, significant_95).
    */
  def kruskalWallis(df: DataFrame, valueCol: Column, groupCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val staged = df.select(valueCol.cast("long").as("v"),
      groupCol.cast("string").as("g"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged.groupBy(vEx.as("v"), col("g"))
      .agg(count(lit(1)).as("__c"))
    kruskalWallisFromHist(h)
  }

  /** [[kruskalWallis]] core over a pre-aggregated (v, g, __c) histogram —
    * shared with [[rankLeveneTest]], whose input is already histogram-
    * shaped (deviation values carry counts).
    */
  private[ops] def kruskalWallisFromHist(h: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val chi2Crit = Seq(3841459L, 5991465L, 7814728L, 9487729L, 11070498L,
      12591587L, 14067140L, 15507313L, 16918978L, 18307038L)
    val hv = h.groupBy("v").agg(sum("__c").as("__cv"))
    val wBelow = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // rank2(v) = 2·(count below) + (count at) + 1, shared by the group's
    // occupants of v; R2_g = Σ_v c_gv · rank2(v).
    val ranked = hv.select(col("v"), col("__cv"),
      (lit(2L) * coalesce(sum(col("__cv")).over(wBelow), lit(0L)) +
        col("__cv") + 1L).as("__r2"))
    val grp = h.join(ranked, Seq("v"))
      .groupBy("g")
      .agg(sum(col("__c")).as("__ng"),
        sum(col("__c").cast(dec) * col("__r2")).as("__R2"))
    val tot = hv.agg(sum(col("__cv")).as("__N"),
      sum(col("__cv").cast(dec) * col("__cv") * col("__cv") -
        col("__cv")).as("__T"))
    val terms = grp.crossJoin(broadcast(tot))
      .select(col("__ng"), col("__N"), col("__T"),
        expr(s"""((__R2 * 1000000) DIV (__N + 1)) * __R2
          DIV (4 * CAST(__ng AS $dec) * __N)""").as("__bg"))
    val agg = terms.groupBy("__N", "__T")
      .agg(count(lit(1)).as("n_groups"), sum(col("__bg")).as("__sb"))
      .select(col("__N").cast("long").as("n"), col("n_groups"),
        expr(s"""CAST(CASE WHEN __N < 2 OR
            CAST(__N AS $dec) * __N * __N - __N - __T <= 0 THEN 0
          ELSE FLOOR(CAST(12 * __sb -
              3 * (CAST(__N AS $dec) + 1) * 1000000 AS DOUBLE) *
            (CAST(CAST(__N AS $dec) * __N * __N - __N AS DOUBLE) /
             CAST(CAST(__N AS $dec) * __N * __N - __N - __T AS DOUBLE)))
          END AS BIGINT)""").as("h_ppm"))
    val critExpr = chi2Crit.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (c, i)) =>
        when(col("n_groups") === (i + 2), lit(c)).otherwise(acc) }
    agg.select(col("n"), col("n_groups"),
      greatest(col("h_ppm"), lit(0L)).as("h_ppm"),
      when(critExpr.isNull, lit(null).cast("int"))
        .otherwise((greatest(col("h_ppm"), lit(0L)) > critExpr).cast("int"))
        .as("significant_95"))
  }

  /** Lag-k autocorrelation of per-key bucket volumes — the SEASONALITY
    * member of the monitoring family ([[trendSlopes]]/[[robustTrend]]
    * ask "is it drifting", [[pettittChangePoint]] asks "when did it
    * jump"; this asks "does it REPEAT" — a weekly cycle shows as a
    * lag-7 spike, and a pipeline that samples by day-of-week leaves
    * exactly this fingerprint): per key and lag ℓ, the Pearson
    * correlation of (y_t, y_{t+ℓ}) over the bucket series.
    *
    * Numerics are [[pearsonCorr]] VERBATIM (exact DECIMAL(38,0)
    * moments, min-centering, one fixed IEEE final chain, signed ppm
    * r²) on the lag-joined pairs — one audited numeric path, the
    * [[spearmanCorr]] reuse precedent. A key with NO overlapping
    * buckets at a lag reports no row for that lag; a single overlap
    * reports 0 (the zero-variance convention).
    *
    * Scale shape: the corpus collapses to (key, bucket) counts once
    * (map-side combined, calendar-bounded); each lag is one id-keyed
    * self-join of that bounded table plus the Pearson combine —
    * |lags|·|buckets| work total, independent of corpus rows.
    *
    * @return (key, lag, n, r2_ppm) ordered by (key, lag) — n = number
    *         of overlapping bucket pairs.
    */
  def autocorrelation(df: DataFrame, keyCol: String, bucketCol: Column,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags must be non-empty positive, got $lags")
    val counts = df.groupBy(col(keyCol).as("key"), bucketCol.as("__b"))
      .agg(count(lit(1)).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val perLag = lags.distinct.sorted.map { lag =>
      val pairs = counts.toDF("key", "b1", "y1")
        .join(counts.toDF("key", "b2", "y2"),
          Seq("key")).where(col("b2") === col("b1") + lag)
      pearsonCorr(pairs, "key", col("y1"), col("y2"))
        .withColumn("lag", lit(lag))
    }
    val out = perLag.reduce(_ unionByName _)
      .select(col("key"), col("lag"), col("n"), col("r2_ppm"))
      .orderBy("key", "lag")
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    counts.unpersist(blocking = false)
    out
  }

  /** Rank-based scale-shift test — "did the SPREAD change across slices"
    * (the missing axis after location ([[mannWhitneyU]]/[[kruskalWallis]]),
    * shape ([[ksTest]]), paired ([[wilcoxonSignedRank]]/[[mcnemarTest]])
    * and stratified ([[cmhTest]]) members: two corpora can share medians
    * while one's tail explodes — a length or score variance blow-up is a
    * pipeline defect none of the location tests see). The statistic is
    * the rank-transform Brown–Forsythe of the Conover family:
    * [[kruskalWallis]] applied to |x − median_g| with each group's own
    * LOWER MEDIAN (the robust center; means would re-import the very
    * outliers the test hunts). Same χ²_{k−1} verdict machinery.
    *
    * Everything is exact integers end-to-end: lower medians come off the
    * per-group value histogram (smallest v with cum ≥ ⌈n_g/2⌉),
    * deviations re-histogram WITHOUT touching corpus rows (the (g, v)
    * histogram maps to the (g, |v−med_g|) histogram by key algebra,
    * counts carried), and the KW core inherits its documented bounded
    * evaluation orders.
    *
    * Scale shape: identical to [[kruskalWallis]] plus one histogram-
    * bounded median window and one histogram re-key — nothing touches
    * corpus rows after the first map-side combine.
    *
    * @return (n, n_groups, h_ppm, significant_95) — H of the deviation
    *         ranks in ppm.
    */
  def rankLeveneTest(df: DataFrame, valueCol: Column, groupCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val staged = df.select(valueCol.cast("long").as("v"),
      groupCol.cast("string").as("g"))
    val vEx = kneeBucketExpr(staged, "v", maxHistBins, knownBinsAtMostMax)
    val h = staged.groupBy(vEx.as("v"), col("g"))
      .agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(col("g"), col("v"), col("__c"),
      sum(col("__c")).over(wg).as("__hi"))
      .withColumn("__lo", col("__hi") - col("__c"))
    val ng = h.groupBy("g").agg(sum("__c").as("__ng"))
    val med = cum.join(ng, Seq("g"))
      .where(col("__lo") < expr("(__ng + 1) DIV 2") &&
        expr("(__ng + 1) DIV 2") <= col("__hi"))
      .select(col("g"), col("v").as("__med"))
    val dev = h.join(med, Seq("g"))
      .groupBy(abs(col("v") - col("__med")).as("v"), col("g"))
      .agg(sum(col("__c")).as("__c"))
    kruskalWallisFromHist(dev)
  }

  /** Pettitt change-point test — "WHEN did this series shift": the
    * rank-based single change-point detector (Pettitt 1979, the standard
    * nonparametric monitoring tool next to [[robustTrend]]'s monotone
    * question): U_t = Σ_{i≤t<j} sgn(x_j − x_i); the candidate point is
    * argmax |U_t| and the approximate significance is
    * p ≈ 2·exp(−6K²/(n³+n²)), rejected at 0.05 exactly when
    * 6·K²·10⁶ > ln(40)·10⁶·(n³+n²) with ln40 as the ppm literal 3688879
    * — fully integer on both engines.
    *
    * The pair mass collapses by the DIFFERENCE-ARRAY identity: a pair
    * (i < j) contributes sgn to EVERY boundary t ∈ [i, j), so
    * U_t = prefix-sum of (Σ_j sgn at opens − Σ_i sgn at closes) — one
    * C(buckets, 2) pair table (calendar-bounded, the [[robustTrend]]
    * shape), two per-bucket reductions, one window — never a
    * buckets³ boundary × pair join.
    *
    * @return per key: (key, n_buckets, k_stat, change_bucket,
    *         sig_05) — change_bucket is the LAST bucket of the first
    *         segment (min bucket on |U| ties), null when n < 2.
    */
  def pettittChangePoint(df: DataFrame, keyCol: String,
      bucketCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(keyCol).as("key"), bucketCol.as("__b"))
      .agg(count(lit(1)).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = counts.toDF("key", "b1", "y1")
      .join(counts.toDF("key", "b2", "y2"), Seq("key"))
      .where(col("b2") > col("b1"))
      .select(col("key"), col("b1"), col("b2"),
        signum(col("y2") - col("y1")).cast("long").as("__sgn"))
    val opens = pairs.groupBy(col("key"), col("b1").as("__b"))
      .agg(sum("__sgn").as("__d"))
    val closes = pairs.groupBy(col("key"), col("b2").as("__b"))
      .agg((-sum("__sgn")).as("__d"))
    val wCum = Window.partitionBy("key").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = opens.unionByName(closes)
      .groupBy("key", "__b").agg(sum("__d").as("__d"))
      .select(col("key"), col("__b"),
        sum(col("__d")).over(wCum).as("__u"))
    val best = u.groupBy("key").agg(max(abs(col("__u"))).as("k_stat"))
    val pick = u.join(best, Seq("key"))
      .where(abs(col("__u")) === col("k_stat"))
      .groupBy("key").agg(min("__b").as("change_bucket"),
        first("k_stat").as("__k"))
    val nb = counts.groupBy("key").agg(count(lit(1)).as("n_buckets"))
    val out = nb.join(pick, Seq("key"), "left")
      .select(col("key"), col("n_buckets"),
        coalesce(col("__k"), lit(0L)).as("k_stat"),
        when(col("n_buckets") < 2, lit(null).cast("long"))
          .otherwise(col("change_bucket")).as("change_bucket"))
      .withColumn("sig_05",
        expr(s"""CAST(6 * CAST(k_stat AS $dec) * k_stat * 1000000 >
          3688879 * (CAST(n_buckets AS $dec) * n_buckets * n_buckets +
            CAST(n_buckets AS $dec) * n_buckets) AS INT)"""))
      .orderBy("key")
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    counts.unpersist(blocking = false)
    out
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation) — the ranking-quality member of the eval family next
    * to [[aucRoc]]: ROC-AUC is prevalence-blind, so on the imbalanced
    * labels every curation filter faces (tiny positive rates) it reads
    * deceptively high; AP weights precision AT the positive mass and is
    * the published metric for that regime. Computed at score-GROUP
    * granularity (one threshold per distinct score — the tie-correct
    * step form; scikit-learn's average_precision_score identity):
    *
    *   AP = Σ_groups (ΔTP_g / P) · ( TP_g / (TP_g + FP_g) )
    *
    * with TP/FP cumulative from the best score down and P = total
    * positives. Exactness: per-group terms are the integer rational
    * ΔTP·TP·10¹² DIV (TP+FP) in DECIMAL(38,0) (one floor per group —
    * deterministic, order-free, understating < |groups|·10⁻¹² each),
    * summed exactly, then ap_ppm = Σ DIV (P·10⁶). No floating point on
    * either engine. P = 0 reports 0 by the degenerate convention.
    *
    * Scale shape: one map-side-combined per-SCORE histogram; the
    * cumulative window orders that score-bounded histogram only (the
    * [[ksTest]] convention); single-row output. Distinct-score knee
    * ([[kneeBucketExpr]]): near-unique scores coarsen to ≤ maxHistBins
    * buckets — the result is then the exact AP of the BUCKETED scorer
    * (thresholds only at bucket edges), the same contract the histogram
    * family documents everywhere.
    *
    * @return (n, n_pos, ap_ppm).
    */
  def averagePrecision(df: DataFrame, scoreCol: Column, labelCol: Column,
      maxHistBins: Int = 1 << 17,
      knownBinsAtMostMax: Boolean = false): DataFrame = {
    require(maxHistBins >= 2, s"maxHistBins must be >= 2, got $maxHistBins")
    val dec = "decimal(38,0)"
    val staged = df.select(scoreCol.cast("long").as("s"),
      labelCol.cast("int").as("__y"))
    val sEx = kneeBucketExpr(staged, "s", maxHistBins, knownBinsAtMostMax)
    val h = staged.groupBy(sEx.as("s"))
      .agg(sum(col("__y")).cast("long").as("__p"),
        sum(lit(1) - col("__y")).cast("long").as("__n"))
    val w = Window.orderBy(desc("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(col("__p"), col("__n"),
      sum(col("__p")).over(w).as("__tp"),
      sum(col("__n")).over(w).as("__fp"))
    cum.agg(
        sum(col("__p") + col("__n")).as("n"),
        sum(col("__p")).as("n_pos"),
        sum(expr(s"""(CAST(__p AS $dec) * __tp * 1000000000000)
          DIV (__tp + __fp)""")).as("__ap"))
      .select(col("n"), col("n_pos"),
        expr(s"""CAST(CASE WHEN n_pos = 0 THEN 0
          ELSE __ap DIV (CAST(n_pos AS $dec) * 1000000)
          END AS BIGINT)""").as("ap_ppm"))
  }

  /** Cohen's κ inter-rater agreement — the labeled-data audit run before
    * trusting human (or model-as-judge) annotations: observed agreement
    * corrected for the agreement two raters would reach by chance given
    * their marginal label distributions. With N items, A = Σ_c cm(c,c)
    * agreements and P = Σ_c row_c·col_c the chance-cross mass,
    *
    *   κ = (A/N − P/N²) / (1 − P/N²) = (A·N − P) / (N² − P)
    *
    * reported with `po_ppm` = ⌊10⁶·A/N⌋, `pe_ppm` = ⌊10⁶·P/N²⌋ and
    * `kappa_ppm` sign-factored (κ < 0 when raters agree less than
    * chance; |numerator|·10⁶ DIV denominator, sign restored — the
    * trendSlopes convention, so the truncating divide is floor both
    * ways). P·10⁶ and the κ cross-products overflow int64 past ~3M
    * items; DECIMAL(38,0) carries them exactly. Degenerate N² = P
    * (both raters constant) reports κ = 0 by convention.
    *
    * Scale shape: ONE map-side-combined count keyed by the (a, b) label
    * pair — output bounded by |labels|², independent of N; everything
    * after runs on that matrix (row/col marginals are label-keyed
    * re-aggregations, the combine is a broadcast of 1-row frames).
    */
  def cohenKappa(
      df: DataFrame,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val cm = df
      .select(col(raterACol).cast("string").as("__a"),
        col(raterBCol).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val rowTot = cm.groupBy(col("__a").as("__l")).agg(sum("__c").as("__r"))
    val colTot = cm.groupBy(col("__b").as("__l")).agg(sum("__c").as("__s"))
    val dec = "decimal(38,0)"
    val p = rowTot.join(colTot, Seq("__l"))
      .agg(sum(col("__r").cast(dec) * col("__s").cast(dec)).as("__p"))
    val base = cm.agg(sum("__c").as("__n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(lit(0L)))
        .as("__agree"))
    base.crossJoin(broadcast(p))
      .select(col("__n"), col("__agree"),
        (col("__agree").cast(dec) * lit(1000000L).cast(dec)).as("__po_num"),
        (col("__p") * lit(1000000L).cast(dec)).as("__pe_num"),
        col("__n").cast(dec).as("__nd"),
        (col("__n").cast(dec) * col("__n").cast(dec)).as("__n2"),
        (col("__agree").cast(dec) * col("__n").cast(dec) - col("__p"))
          .as("__knum"),
        col("__p"))
      .select(col("__n").as("n"), col("__agree").as("n_agree"),
        expr("__po_num DIV __nd").cast("long").as("po_ppm"),
        expr("__pe_num DIV __n2").cast("long").as("pe_ppm"),
        when(col("__n2") === col("__p"), lit(0L))
          .otherwise(
            when(col("__knum") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(abs(__knum) * 1000000) DIV (__n2 - __p)").cast("long"))
          .as("kappa_ppm"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 2004 §11) — the
    * inter-rater statistic [[cohenKappa]] cannot give once the panel has
    * MORE than two raters or raters skip items: any number of raters,
    * any per-item subset, single-rated items excluded by the pairability
    * rule rather than by hand.
    *
    * Exact integer form. With per-item label counts c_ci and
    * n_i = Σ_c c_ci over pairable items (n_i ≥ 2):
    *
    *   Σ_{c≠k} o_ck = Σ_i (n_i² − Σ_c c_ci²) / (n_i − 1)   (coincidences)
    *   n_c = Σ_i c_ci,  n = Σ_i n_i,  M = n² − Σ_c n_c²
    *   α = 1 − (n − 1) · Σo / M
    *
    * The only non-integer is the per-item 1/(n_i − 1). The DISTINCT
    * rater-count profile is tiny by nature (how many different panel
    * sizes exist — not how many items), so the driver collects it
    * (bounded, loud `require` past [[MaxDriverBins]]), forms
    * D = lcm of the observed (n_i − 1) values, and the per-item term
    * scales by the exact integer D/(n_i − 1) via a chained-when lookup.
    * From there everything is one DECIMAL(38,0) aggregation over items +
    * one over the |labels|-bounded marginal table, combined with the
    * sign-factored truncating divide (α < 0 representable — systematic
    * disagreement). D is required ≤ 10⁶, which keeps the worst numerator
    * 10⁶·(n−1)·Σo·D under 10³⁷ for corpora to ~10¹¹ ratings; panels
    * whose size PROFILE is that irregular (lcm over distinct sizes past
    * 10⁶) are not a measurement design this statistic supports.
    *
    * @return one row: (n_items, n_pairable_items, n_values, n_labels,
    *         alpha_ppm) — n_values counts ratings on pairable items.
    */
  def krippendorffAlpha(
      df: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(labelCol).cast("string").as("__l"))
      .groupBy("__i", "__l").agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val items = cnt.groupBy("__i")
      .agg(sum("__c").as("__ni"),
        sum(col("__c") * col("__c")).as("__s2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Panel-size PROFILE in one job: (n_i → item count) is bounded by
    // construction (a rating design has a handful of panel sizes); loud
    // failure, not a silent spill, if an id-like column was passed as the
    // item by mistake. The total item count and the pairable size set both
    // fall out of the same collected histogram — no separate count job.
    val profile = items.groupBy("__ni").agg(count(lit(1)).as("__k"))
      .limit(MaxDriverBins + 1).collect()
    require(profile.length <= MaxDriverBins,
      s"krippendorffAlpha: > $MaxDriverBins distinct panel sizes — " +
        "is the rater/item mapping right?")
    val nItemsAll = profile.map(_.getLong(1)).sum
    val pairable = items.where(col("__ni") >= 2)
    val sizes = profile.map(_.getLong(0)).filter(_ >= 2L)
    if (sizes.isEmpty) {
      // No pairable items: alpha undefined -> the kappa convention (0).
      val spark = df.sparkSession
      import spark.implicits._
      cnt.unpersist(blocking = false)
      items.unpersist(blocking = false)
      return Seq((nItemsAll, 0L, 0L, 0L, 0L))
        .toDF("n_items", "n_pairable_items", "n_values", "n_labels",
          "alpha_ppm")
    }
    val lcmD = sizes.map(ni => BigInt(ni - 1))
      .reduce((a, b) => a / a.gcd(b) * b)
    require(lcmD <= BigInt(1000000L),
      s"krippendorffAlpha: lcm of panel-size denominators $lcmD exceeds " +
        "1e6 — overflow headroom for the DECIMAL(38,0) algebra is gone")
    val dL = lcmD.toLong
    val w = sizes.tail.foldLeft(
      when(col("__ni") === sizes.head, lit(dL / (sizes.head - 1)))) {
      (acc, ni) => acc.when(col("__ni") === ni, lit(dL / (ni - 1)))
    }
    // Σo scaled by D, plus n and Σn_i² — ONE aggregation over items.
    val disagg = pairable.agg(
      sum(((col("__ni") * col("__ni") - col("__s2")).cast(dec) *
        w.cast(dec))).as("__sdo"),
      sum(col("__ni")).as("__n"),
      count(lit(1)).as("__np"))
    // Marginals over pairable items only; the label table is bounded.
    val marg = cnt.join(pairable.select("__i"), Seq("__i"), "left_semi")
      .groupBy("__l").agg(sum("__c").as("__nc"))
      .agg(sum(col("__nc").cast(dec) * col("__nc").cast(dec)).as("__snc2"),
        count(lit(1)).as("__nlab"))
    val row = disagg.crossJoin(broadcast(marg))
      .select(col("__np"), col("__n"), col("__nlab"),
        (col("__n").cast(dec) * col("__n").cast(dec) - col("__snc2"))
          .as("__m"),
        (col("__n").cast(dec) - lit(1L).cast(dec)).as("__n1"),
        col("__sdo"))
      .select(col("__np"), col("__n"), col("__nlab"),
        when(col("__m") === 0, lit(0L)).otherwise {
          val num = col("__m") * lit(dL).cast(dec) - col("__n1") * col("__sdo")
          when(num < 0, lit(-1L)).otherwise(lit(1L)) *
            expr(s"(abs(__m * ${dL} - __n1 * __sdo) * 1000000) " +
              s"DIV (__m * ${dL})").cast("long")
        }.as("alpha_ppm"))
      .collect().head
    cnt.unpersist(blocking = false)
    items.unpersist(blocking = false)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nItemsAll, row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3)))
      .toDF("n_items", "n_pairable_items", "n_values", "n_labels",
        "alpha_ppm")
  }

  /** First-digit Benford expectations, ppm of round(10⁶·log₁₀(1 + 1/d))
    * — DRIVER LITERALS shared verbatim with any replaying engine (the
    * retrievalEval log₂-discount policy), so no cross-engine log10 call
    * ever participates.
    */
  val BenfordPpm: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(1e6 * math.log10(1.0 + 1.0 / d)))

  /** Benford first-significant-digit audit per key — the fabricated-data
    * / synthetic-spill detector: naturally occurring magnitudes follow
    * P(d) = log₁₀(1+1/d), hand-typed or generated values rarely do. Each
    * key gets all nine digit rows (zero-filled) with observed counts and
    * the Benford expectation, plus the key's total-variation distance in
    * EXACT integer form: tvd_ppm = (Σ_d |10⁶·o_d − n·e_d|) DIV (2n) —
    * counts and the ppm literals only, no floating point anywhere.
    *
    * Only strictly positive values participate (first digit of |x| is a
    * different statistic — sign conventions poison it); the digit is the
    * first character of the long's decimal rendering, exactly replayable
    * in SQL. One map-side-combined aggregation over (key, digit) + one
    * |keys|·9-bounded reshape — nothing heavier than the input scan.
    *
    * @return (key, n, digit, observed, expected_ppm, tvd_ppm) — tvd_ppm
    *         repeated on each of the key's nine rows.
    */
  def benfordAudit(
      df: DataFrame,
      keyCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val exp = BenfordPpm.toDF("digit", "e_ppm")
    val obs = df
      .where(col(valueCol).cast("long") > 0L)
      .select(col(keyCol).as("key"),
        substring(col(valueCol).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .groupBy("key", "digit").agg(count(lit(1)).as("o"))
    val keys = obs.groupBy("key").agg(sum("o").as("n"))
    val full = keys.crossJoin(broadcast(exp))
      .join(obs, Seq("key", "digit"), "left")
      .select(col("key"), col("n"), col("digit"),
        coalesce(col("o"), lit(0L)).as("observed"), col("e_ppm"))
    // DECIMAL(38,0): the per-digit gap is ≤ 10⁶·n and nine of them sum,
    // so the numerator passes int64 near n ≈ 10¹² — inside the corpus
    // sizes this engine budgets for.
    val dec = "decimal(38,0)"
    val tvd = full.groupBy("key")
      .agg(sum(abs(col("observed").cast(dec) * lit(1000000L).cast(dec) -
          col("n").cast(dec) * col("e_ppm").cast(dec))).as("__s"),
        first(col("n")).as("__n"))
      .select(col("key"),
        expr(s"CAST(__s DIV (2 * CAST(__n AS $dec)) AS BIGINT)")
          .as("__tvd"))
    full.join(tvd, Seq("key"))
      .select(col("key"), col("n"), col("digit"), col("observed"),
        col("e_ppm").as("expected_ppm"), col("__tvd").as("tvd_ppm"))
  }

  /** EXACT paired sign test per slice + Benjamini–Hochberg FDR step-up
    * across slices — the multiple-testing closer for the fleet's
    * per-slice comparisons: run m paired A-vs-B evaluations, get m
    * p-values, and BH bounds the expected false-discovery rate at `q`
    * where per-test α would not. Everything is integer-exact:
    *
    *   - per slice with pos + neg = n paired non-ties, the two-sided
    *     exact binomial p is min(2·Σ_{k ≤ min(pos,neg)} C(n,k), 2ⁿ) / 2ⁿ
    *     — Pascal-row BigInt arithmetic, emitted as
    *     `p_ppm = ⌊10⁶·p_num / 2ⁿ⌋` (an oracle replays the same Pascal
    *     recurrence in HUGEINT);
    *   - BH step-up on (p_ppm asc, slice asc) ranks: discovery ⇔
    *     rank ≤ max{ i : p_ppm(i)·m ≤ qPpm·i } — pure integer
    *     cross-multiplication, no division.
    *
    * Bounded-driver contract (the [[graft.engine.Reporting]] markov
    * convention): inputs are PRE-AGGREGATED per-slice counts — slice
    * cardinality rows, never observations — collected under `maxSlices`;
    * per-slice n must be ≤ 62 (the exact-tail regime where every
    * intermediate fits the replaying engine's 128-bit integers; larger n
    * belongs to [[mcNemar]]'s χ² normal-approximation path, which is the
    * documented escape).
    *
    * @param counts one row per slice: (sliceCol, posCol, negCol).
    * @return (slice, n, pos, neg, p_ppm, p_rank, significant) ordered by
    *         (p_ppm, slice); n = 0 slices report p = 1.
    */
  def signTestFdr(
      counts: DataFrame,
      sliceCol: Column,
      posCol: Column,
      negCol: Column,
      qPpm: Long = 50000L,
      maxSlices: Int = 100000): DataFrame = {
    require(qPpm > 0 && qPpm <= 1000000L,
      s"qPpm must be in (0, 10^6], got $qPpm")
    val rows = counts
      .select(sliceCol.cast("string").as("slice"),
        posCol.cast("long").as("pos"), negCol.cast("long").as("neg"))
      .limit(maxSlices + 1).collect()
    require(rows.length <= maxSlices,
      s"signTestFdr: more than $maxSlices slices — this is a SLICE " +
        "table, not an observation table; aggregate first")
    val scored = rows.map { r =>
      val (slice, pos, neg) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      require(pos >= 0 && neg >= 0, s"negative counts for slice $slice")
      val n = pos + neg
      require(n <= 62,
        s"signTestFdr: slice $slice has n = $n non-ties > 62 — the " +
          "exact-tail regime ends here; use mcNemar's chi-square path")
      val pPpm =
        if (n == 0) 1000000L
        else {
          // Pascal row n via the additive recurrence (BigInt, exact).
          var row = Array(BigInt(1))
          (1 to n.toInt).foreach { _ =>
            row = Array.tabulate(row.length + 1)(j =>
              (if (j > 0) row(j - 1) else BigInt(0)) +
                (if (j < row.length) row(j) else BigInt(0)))
          }
          val x = math.min(pos, neg).toInt
          val tail = row.take(x + 1).sum
          val tot = BigInt(1) << n.toInt
          ((BigInt(2) * tail).min(tot) * 1000000 / tot).toLong
        }
      (slice, n, pos, neg, pPpm)
    }.sortBy(t => (t._5, t._1))
    val m = scored.length.toLong
    val cutoff = scored.zipWithIndex
      .filter { case (t, i) => t._5 * m <= qPpm * (i + 1) }
      .map(_._2 + 1).lastOption.getOrElse(0)
    val spark = counts.sparkSession
    import spark.implicits._
    scored.zipWithIndex.map { case ((slice, n, pos, neg, p), i) =>
      (slice, n, pos, neg, p, (i + 1).toLong,
        if (i + 1 <= cutoff) 1 else 0)
    }.toSeq
      .toDF("slice", "n", "pos", "neg", "p_ppm", "p_rank", "significant")
  }
}
