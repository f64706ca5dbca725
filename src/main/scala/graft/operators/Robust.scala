package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group statistics for data-quality screens: exact median and
  * MAD (median absolute deviation) via SORT-based selection, not a
  * buffering percentile aggregate — Spark's exact `percentile` holds every
  * group value in executor memory, which dies on a 100 TB group, while a
  * rank-selection window is one exchange + sort per pass and spills. Two
  * passes (values, then absolute deviations), each a window over the group
  * key.
  *
  * Median of an even group is the mean of the two middle values —
  * identical arithmetic to DuckDB's `median`, replayed position-by-
  * position by the q213 oracle. `tie` makes row positions deterministic;
  * positional VALUES are tie-insensitive (equal values at equal ranks).
  */
object Robust {

  private def selectMiddle(df: DataFrame, groupCols: Seq[String], v: Column,
                           tie: Column, out: String): DataFrame = {
    val g = Window.partitionBy(groupCols.map(col): _*)
    // NULL values are excluded from the ranked set (SQL median/aggregate
    // semantics — window NULLS FIRST would otherwise shift every position)
    val ranked = df.where(v.isNotNull)
      .withColumn("__n", count(lit(1)).over(g))
      .withColumn("__rn", row_number().over(g.orderBy(v, tie)))
    ranked
      .where(col("__rn") === ((col("__n") + 1) / 2).cast("long") ||
             col("__rn") === ((col("__n") + 2) / 2).cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(avg(v).as(out))
  }

  /** Per-group (median, mad): exact, sort-selected. Groups whose values
    * are ALL NULL stay in the report with NULL median/mad (a fully
    * unmeasured group is a red flag a quality screen must surface, not
    * a row to drop) — hence the LEFT joins from the full group set. */
  def medianMad(df: DataFrame, groupCols: Seq[String], value: Column,
                tie: Column): DataFrame = {
    val groups = df.select(groupCols.map(col): _*).distinct()
    val med = selectMiddle(df, groupCols, value, tie, "med")
    val withMed = df.join(med, groupCols)
    val mad = selectMiddle(
      withMed.withColumn("__dev", abs(value - col("med"))),
      groupCols, col("__dev"), tie, "mad")
    groups.join(med, groupCols, "left").join(mad, groupCols, "left")
  }

  /** Robust outlier screen: per group, count rows whose |value − median|
    * exceeds `k` MADs (an all-NULL group reports n_out 0 with NULL
    * med/mad). Output: groupCols ++ (n, n_out, med, mad). */
  def madOutliers(df: DataFrame, groupCols: Seq[String], value: Column,
                  tie: Column, k: Double = 3.0): DataFrame =
    df.join(medianMad(df, groupCols, value, tie), groupCols, "left")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count(when(abs(value - col("med")) > lit(k) * col("mad"), 1)).as("n_out"),
        max(col("med")).as("med"), max(col("mad")).as("mad"))

  /** Trimmed and winsorized means per group — the robust location
    * estimates every metrics pipeline wants when a handful of whale rows
    * would drag a plain mean (trim DROPS the tails, winsorize CLAMPS
    * them to the cut values, keeping n). `pctPermille`‰ of rows come off
    * EACH end by exact integer rank: t = n·pctPermille div 1000 rows,
    * cut values are the ranked values at positions t+1 and n−t. `value`
    * must be integral (cents, counts — the caller's exact-unit
    * discipline); sums are DECIMAL(38,0), the two means are single
    * final double divisions rounded to 6, so the whole report replays
    * in SQL. One exchange + sort on the group key (rank window), one
    * hash aggregation — positional VALUES are tie-insensitive, `tie`
    * only makes row numbers total. NULL values are excluded from the
    * ranked set (SQL aggregate semantics; ranked NULLS FIRST they would
    * silently become the low tail) — the filter runs on the CAST value,
    * so a non-null input that fails the long cast is excluded too, not
    * ranked lowest. Output: groupCols ++ (n, n_trimmed,
    * lo_cut, hi_cut, trimmed_mean, winsorized_mean). */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String], value: Column,
                      tie: Column, pctPermille: Int = 50): DataFrame = {
    require(pctPermille >= 0 && pctPermille < 500,
      "per-mille trim must be in [0, 500)")
    val d38 = "decimal(38,0)"
    val g = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__v", value.cast("long"))
      .where(col("__v").isNotNull)
      .withColumn("__n", count(lit(1)).over(g))
      .withColumn("__rn", row_number().over(g.orderBy(col("__v"), tie)))
      .withColumn("__t", expr(s"(__n * $pctPermille) div 1000"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("n"),
        max(col("__t") * 2).as("n_trimmed"),
        max(when(col("__rn") === col("__t") + 1, col("__v"))).as("lo_cut"),
        max(when(col("__rn") === col("__n") - col("__t"), col("__v")))
          .as("hi_cut"),
        sum(when(col("__rn") > col("__t") &&
          col("__rn") <= col("__n") - col("__t"),
          col("__v").cast(d38))).as("__mid"))
      .select(groupCols.map(col) ++ Seq(col("n"), col("n_trimmed"),
        col("lo_cut"), col("hi_cut"),
        round(col("__mid").cast("double") /
          (col("n") - col("n_trimmed")), 6).as("trimmed_mean"),
        round((col("__mid") +
          expr(s"CAST(n_trimmed div 2 AS $d38)") *
            (col("lo_cut") + col("hi_cut")))
          .cast("double") / col("n"), 6).as("winsorized_mean")): _*)
  }

  /** Winsorized mean WITHOUT the per-group sort — the scale path for
    * LOW-CARDINALITY group sets, where [[winsorizedStats]]'s rank
    * window serializes each group onto one reducer. Two hash
    * aggregations + one broadcast join, never a data sort:
    *
    *  1. per-group equi-width bin counts over [loCents, hiCents)
    *     (exact BIGINT bucket arithmetic, the Histogram discipline);
    *  2. the tail-rank cut bins located on the ≤ nBins-row sketch
    *     (cumulative window over sketch rows, not data); cut VALUES
    *     are the bin edges — approximate to one bin width, which is
    *     the standard sketch-binning trade;
    *  3. one more scan clamping every value into [lo_cut, hi_cut],
    *     joined to the ≤ |groups|-row cut table (AQE broadcasts it from
    *     its measured size when small; no pinned hint, so a
    *     high-cardinality group key degrades to a healthy shuffle join
    *     instead of a driver OOM) — exact DECIMAL(38,0) sum of the
    *     clamped values.
    *
    * Values already multiples of the bin width make the cuts EXACT
    * (equal to [[winsorizedStats]] — the spec pins this). NULL values
    * are excluded; out-of-range values clamp into the edge bins (mass
    * conserved). Output: groupCols ++ (n, lo_cut, hi_cut,
    * winsorized_mean round 6). */
  def winsorizedAtScale(df: DataFrame, groupCols: Seq[String],
                        valueCents: Column, loCents: Long, hiCents: Long,
                        nBins: Int, pctPermille: Int = 50): DataFrame = {
    require(pctPermille >= 0 && pctPermille < 500,
      "per-mille trim must be in [0, 500)")
    val d38 = "decimal(38,0)"
    val g = groupCols.map(col)
    val (v, cum) = binSketch(df, groupCols, valueCents, loCents, hiCents,
      nBins)
    val cuts = cum
      .withColumn("__t", expr(s"(__N * $pctPermille) div 1000"))
      .groupBy(g: _*)
      .agg(min(when(col("__cum") >= col("__t") + 1, col("__b")))
          .as("__loBin"),
        min(when(col("__cum") >= col("__N") - col("__t"), col("__b")))
          .as("__hiBin"))
      // both cut values are their bin's LOWER edge (offset
      // ceil(b·span/nBins)): the exact rank-t cut value lies inside the
      // bin, so the lower edge is within one bin width of it — and on
      // bin-aligned data coincides with it exactly (the upper edge would
      // overshoot the high cut by up to a bin width instead)
      .withColumn("lo_cut",
        binLowerEdge("__loBin", loCents, hiCents, nBins).as("lo_cut"))
      .withColumn("hi_cut",
        binLowerEdge("__hiBin", loCents, hiCents, nBins).as("hi_cut"))
      .select(g ++ Seq(col("lo_cut"), col("hi_cut")): _*)
    // NO forced broadcast hint: the cut side is an aggregate behind a
    // shuffle boundary, so AQE broadcasts it from its MEASURED size when
    // small (the gate-scale plan stays a BroadcastHashJoin —
    // `tools/run.sh graft.Explain <entry>` shows it) and degrades to a
    // shuffle join past the threshold —
    // whereas a pinned hint on a high-cardinality group key (user id)
    // would OOM the driver — the discipline Features.targetEncodeLoo's
    // join-back follows too.
    // Unlike KMeans' dim-key join, the key here IS the group key, so the
    // non-broadcast plan is healthy whenever groups are many.
    v.join(cuts, groupCols)
      .withColumn("__c",
        least(col("hi_cut"), greatest(col("lo_cut"), col("__v"))))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        max(col("lo_cut")).as("lo_cut"),
        max(col("hi_cut")).as("hi_cut"),
        round(sum(col("__c").cast(d38)).cast("double") / count(lit(1)), 6)
          .as("winsorized_mean"))
  }

  /** Median + MAD WITHOUT the per-group sort — the scale path for
    * [[medianMad]] (whose rank-selection window serializes each group
    * onto one reducer), completing the ranked-statistic family q280/q281
    * started. Two [[binSketch]] passes, never a data sort:
    *
    *  1. per-group bin counts → the nearest-rank p50 bin located on the
    *     ≤ nBins-row sketch; `med` = that bin's lower edge (within one
    *     bin width of the exact median, exact on bin-aligned data);
    *  2. one more scan computing |value − med| joined to the
    *     ≤ |groups|-row median table (AQE-broadcast when small, no
    *     pinned hint), sketched the same way over [0, hi−lo) → `mad` =
    *     the p50 deviation bin's lower edge.
    *
    * The returned mad is within one bin width of the EXACT median of
    * |value − med| (deviations are taken about the returned med, the
    * MAD definition a screen using these cuts actually applies); on
    * bin-aligned data both numbers equal [[medianMad]]'s. NULL values
    * are excluded; groups with no non-null value are absent (the sketch
    * contract — [[medianMad]] is the variant that surfaces them).
    * Output: groupCols ++ (n, med, mad). */
  def medianMadAtScale(df: DataFrame, groupCols: Seq[String],
                       valueCents: Column, loCents: Long, hiCents: Long,
                       nBins: Int): DataFrame = {
    val g = groupCols.map(col)
    val span = hiCents - loCents
    val p50 = "(__N * 500 + 999) div 1000" // nearest-rank, the q281 formula
    val (v, cum) = binSketch(df, groupCols, valueCents, loCents, hiCents,
      nBins)
    val med = cum.groupBy(g: _*)
      .agg(max(col("__N")).as("n"),
        min(when(col("__cum") >= expr(p50), col("__b"))).as("__mb"))
      .withColumn("med", binLowerEdge("__mb", loCents, hiCents, nBins))
      .select(g ++ Seq(col("n"), col("med")): _*)
    // plain join for the same reason as [[winsorizedAtScale]]'s cut join:
    // AQE broadcasts the measured ≤ |groups|-row aggregate when small, a
    // forced hint would OOM on a high-cardinality group key
    val dev = v.join(med, groupCols)
      .select(g :+ abs(col("__v") - col("med")).as("__dev"): _*)
    val (_, dcum) = binSketch(dev, groupCols, col("__dev"), 0L, span, nBins)
    val mad = dcum.groupBy(g: _*)
      .agg(min(when(col("__cum") >= expr(p50), col("__b"))).as("__db"))
      .withColumn("mad", binLowerEdge("__db", 0L, span, nBins))
      .select(g :+ col("mad"): _*)
    med.join(mad, groupCols)
      .select(g ++ Seq(col("n"), col("med"), col("mad")): _*)
  }

  /** The shared equi-width bin sketch behind [[winsorizedAtScale]],
    * [[quantilesAtScale]] and [[medianMadAtScale]] — ONE definition of the overflow-sensitive
    * bucket arithmetic so the two can never drift. Returns (the
    * filtered (groupCols, __v) rows, the per-group cumulative sketch
    * (groupCols, __b, __n, __cum, __N)). NULL-cast values are excluded
    * before binning. */
  private def binSketch(df: DataFrame, groupCols: Seq[String],
                        valueCents: Column, loCents: Long, hiCents: Long,
                        nBins: Int): (DataFrame, DataFrame) = {
    val g = groupCols.map(col)
    val (v, bins) = binCounts(df, groupCols, valueCents, loCents, hiCents,
      nBins)
    val w = Window.partitionBy(g: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("__N", sum(col("__n")).over(Window.partitionBy(g: _*)))
    (v, cum)
  }

  /** The bin-count aggregation alone: (filtered (groupCols, __v) rows,
    * per-(group, __b) counts). One hash aggregation, map-side partial. */
  private def binCounts(df: DataFrame, groupCols: Seq[String],
                        valueCents: Column, loCents: Long, hiCents: Long,
                        nBins: Int): (DataFrame, DataFrame) = {
    require(hiCents > loCents, s"need lo < hi, got [$loCents, $hiCents)")
    require(nBins >= 2 && nBins <= (1 << 20), s"nBins out of range: $nBins")
    require(hiCents - loCents <= Long.MaxValue / nBins,
      "(hi - lo) * nBins must stay under 2^63")
    val span = hiCents - loCents
    val g = groupCols.map(col)
    val v = df.select(g :+ valueCents.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull)
    val bins = v.withColumn("__b", expr(
        s"(least(CAST(${span - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), " +
          s"__v - $loCents)) * $nBins) div $span"))
      .groupBy(g :+ col("__b"): _*).agg(count(lit(1)).as("__n"))
    (v, bins)
  }

  /** Lower-edge value of a bin column: lo + ceil(b·span/nBins). */
  private def binLowerEdge(binCol: String, loCents: Long, hiCents: Long,
                           nBins: Int): Column = {
    val span = hiCents - loCents
    lit(loCents) + expr(s"($binCol * $span + ${nBins - 1}) div $nBins")
  }

  /** Per-group quantiles WITHOUT a data sort — the percentile dashboard
    * (p50/p90/p99 latency, order values) at any group cardinality: the
    * [[winsorizedAtScale]] bin sketch, with each requested per-mille
    * rank located on the ≤ nBins cumulative rows and answered by its
    * bin's lower edge (nearest-rank quantile, error ≤ one bin width).
    * One hash aggregation over the data + one sketch window + one
    * unpivot — ALL requested quantiles from the same single scan.
    * NULL values are excluded. Output: groupCols ++ (q_permille, n,
    * q_value), one row per (group, q), q ascending within a group. */
  def quantilesAtScale(df: DataFrame, groupCols: Seq[String],
                       valueCents: Column, loCents: Long, hiCents: Long,
                       nBins: Int, qsPermille: Seq[Int]): DataFrame = {
    val (_, cum) = binSketch(df, groupCols, valueCents, loCents, hiCents,
      nBins)
    quantileTail(cum, groupCols, loCents, hiCents, nBins, qsPermille)
  }

  /** The quantile answer stage shared by [[quantilesAtScale]] (raw scan)
    * and [[quantilesFromState]] (merged partial states): locate each
    * per-mille nearest rank on the cumulative sketch, answer with the
    * bin's lower edge, unpivot to one row per (group, q). */
  private def quantileTail(cum: DataFrame, groupCols: Seq[String],
                           loCents: Long, hiCents: Long, nBins: Int,
                           qsPermille: Seq[Int]): DataFrame = {
    require(qsPermille.nonEmpty &&
      qsPermille.forall(q => q >= 1 && q <= 1000),
      "quantiles are per-mille ranks in [1, 1000]")
    // ascending + distinct: the output order contract holds whatever the
    // caller passed
    val qs = qsPermille.distinct.sorted
    val g = groupCols.map(col)
    cum.groupBy(g: _*)
      .agg(max(col("__N")).as("n"),
        qs.zipWithIndex.map { case (q, i) =>
          // nearest-rank: r_q = ceil(N·q/1000), located on the sketch
          min(when(col("__cum") >= expr(s"(__N * $q + 999) div 1000"),
            col("__b"))).as(s"__qb$i")
        }: _*)
      .select(g ++ Seq(col("n"), explode(array(
        qs.zipWithIndex.map { case (q, i) =>
          struct(lit(q).as("q_permille"),
            binLowerEdge(s"__qb$i", loCents, hiCents, nBins)
              .as("q_value"))
        }: _*)).as("__r")): _*)
      .select(g ++ Seq(col("__r.q_permille").as("q_permille"), col("n"),
        col("__r.q_value").as("q_value")): _*)
  }

  /** MERGEABLE bin-sketch state — the `Incremental`/`Hll` pattern
    * applied to the quantile sketch: fine-grained (hour, shard, ingest
    * batch) bin-count states are aggregated ONCE from raw, then every
    * coarser quantile report reads STATE, never the lake. Bin counts
    * are exactly algebraic (counts merge by sum), so quantiles from
    * merged states are BIT-IDENTICAL to quantiles from a raw rescan at
    * the same (lo, hi, nBins) — the q285 gate proves that equality
    * against an oracle that scans raw. State size per fine group is
    * ≤ nBins rows whatever the input cardinality. NULL-cast values are
    * excluded. Output: groupCols ++ (bucket, n). */
  def binState(df: DataFrame, groupCols: Seq[String], valueCents: Column,
               loCents: Long, hiCents: Long, nBins: Int): DataFrame = {
    val (_, bins) = binCounts(df, groupCols, valueCents, loCents, hiCents,
      nBins)
    bins.select(groupCols.map(col) ++
      Seq(col("__b").as("bucket"), col("__n").as("n")): _*)
  }

  /** Merge bin states to a coarser key (hour→day, shard→global): one
    * sum per (coarse, bucket) — associative, commutative, re-shardable.
    * Counts re-sum through DECIMAL(38,0) so a cross-partial overflow
    * NULLs loudly instead of wrapping (the Incremental.mergeState
    * contract). */
  def mergeBinState(state: DataFrame, coarseCols: Seq[String]): DataFrame = {
    require(Seq("bucket", "n").forall(state.columns.contains),
      "bin state must carry bucket, n")
    state.groupBy((coarseCols :+ "bucket").map(col): _*)
      .agg(sum(col("n").cast("decimal(38,0)")).cast("long").as("n"))
  }

  /** Per-group quantiles from a (merged) bin-state table — the same
    * answer stage as [[quantilesAtScale]], reading ≤ nBins state rows
    * per group instead of the lake. The state must have been built by
    * [[binState]] with the SAME (loCents, hiCents, nBins). */
  def quantilesFromState(state: DataFrame, groupCols: Seq[String],
                         loCents: Long, hiCents: Long, nBins: Int,
                         qsPermille: Seq[Int]): DataFrame = {
    require(Seq("bucket", "n").forall(state.columns.contains),
      "bin state must carry bucket, n")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = state
      .select(g ++ Seq(col("bucket").as("__b"), col("n").as("__n")): _*)
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("__N", sum(col("__n")).over(Window.partitionBy(g: _*)))
    quantileTail(cum, groupCols, loCents, hiCents, nBins, qsPermille)
  }
}
