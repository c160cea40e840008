package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{DriftCheck, Results}
import graft.stats.Distributions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numeric distribution-drift check across time windows (north rule) —
  * the numeric generalization of CategoricalConsistency: per calendar
  * window of `dateCol`, an equal-width histogram of `column`; each window
  * tested against the pooled rest with chi-square (binned) and a KS
  * statistic from the cumulative histograms.
  *
  * Plan: one tiny global agg (min/max for bin edges), then ONE
  * groupBy(scope, window, bin).count shuffle; all test arithmetic happens
  * on (windows × bins) rows via window functions.
  */
object Drift {

  /** One-row bin-edge frame (min + bin width), named by the caller so
    * several drift checks can ride one adorned scan base. Lazy — meant to
    * be crossJoin(broadcast(_))-ed, never collected (a driver collect here
    * would run a blocking full scan at plan-build time, twice per suite
    * run: verdicts + violations construct separate plans). */
  def edges(df: DataFrame, check: DriftCheck,
      mnName: String = "__mn", wName: String = "__w"): DataFrame = {
    val v = col(check.column).cast("double")
    df.filter(v.isNotNull && !isnan(v))
      .agg(min(v).as(mnName), max(v).as("__mx"))
      .select(col(mnName),
        when(col("__mx") > col(mnName), (col("__mx") - col(mnName)) / check.bins)
          .otherwise(1.0).as(wName))
  }

  /** All drift checks' bin edges in ONE pass: a single agg(min,max per
    * column) over the input instead of one full scan per check — with d
    * drift checks in a suite, d + 1 scans become 2 (this + the fused
    * CellScan). Per-column null/NaN exclusion is folded into the aggregate
    * (min/max skip nulls; NaN is mapped to null so it can't poison max,
    * which in Spark's ordering treats NaN as the largest double). Returns
    * ONE 1-row frame with (mnName, wName) per check, meant to be
    * crossJoin(broadcast(_))-ed onto the shared scan base. */
  def edgesMulti(df: DataFrame,
      checks: Seq[(DriftCheck, String, String)]): DataFrame = {
    val aggs = checks.zipWithIndex.flatMap { case ((c, mnName, _), i) =>
      val v0 = col(c.column).cast("double")
      val v = when(!isnan(v0), v0)
      Seq(min(v).as(mnName), max(v).as(s"__mx_$i"))
    }
    df.agg(aggs.head, aggs.tail: _*).select(
      checks.zipWithIndex.flatMap { case ((c, mnName, wName), i) =>
        Seq(col(mnName),
          when(col(s"__mx_$i") > col(mnName),
            (col(s"__mx_$i") - col(mnName)) / c.bins).otherwise(1.0).as(wName))
      }: _*)
  }

  /** Bin index from broadcast edge columns. */
  private def binExpr(check: DriftCheck, v: Column, mn: Column, w: Column): Column =
    least(greatest(floor((v - mn) / w), lit(0.0)),
      lit((check.bins - 1).toDouble)).cast("int")

  /** This check's slice of the fused multi-family cell scan (CellScan).
    * The scan base must carry this check's broadcast edge columns
    * (crossJoin(broadcast(edges(df, check, mnName, wName)))). */
  def cellFamily(check: DriftCheck, mnName: String, wName: String): CellScan.Family = {
    val v = col(check.column).cast("double")
    CellScan.Family(
      v.isNotNull && !isnan(v),
      check.scope.map(s => s -> col(s)) ++ Seq(
        // INT panel code at row level; the label is rendered on the reduced
        // histogram frame (PanelBins.panelCode scaladoc has the rationale)
        "panel" -> PanelBins.panelCode(col(check.dateCol), check.interval),
        "bin" -> binExpr(check, v, col(mnName), col(wName))))
  }

  /** Histogram cells: (scope..., panel, bin, cnt) with margins.
    * @param pre pre-aggregated (scope..., panel, bin, cnt) counts from the
    *            fused CellScan — skips this check's own input scan. */
  def histogram(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val v = col(check.column).cast("double")
    val keyCols = check.scope :+ "panel"
    val counts = pre.getOrElse {
      val base0 = df.filter(v.isNotNull && !isnan(v))
      val e = edges(df, check)
      base0
        .crossJoin(broadcast(e))
        .withColumn("panel", PanelBins.panelCode(col(check.dateCol), check.interval))
        .withColumn("bin", binExpr(check, v, col("__mn"), col("__w")))
        .groupBy((keyCols :+ "bin").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    // panel label rendering on the reduced frame (no-op for string pres)
    val countsR = PanelBins.renderPanelCol(counts, check.interval)
    // zero-fill over the full bin domain per (scope, panel) — like the
    // categorical shell join (J6): a bin empty in one window but populated
    // in the rest must contribute its (0−e)²/e term, its mass to the KS
    // cumulatives, and its slot to df; without the fill, strong-drift
    // windows UNDER-flag (round-1 ADVICE fix). Null-safe: null scope /
    // panel groups must match their own counts, not be zeroed out.
    val panelDom = countsR.select(keyCols.map(col): _*).distinct()
      .withColumn("bin", explode(lit((0 until check.bins).toArray)))
    NullSafeJoin.left(panelDom, countsR, keyCols :+ "bin")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .trackedCache() // windows × bins rows; tests + violations reuse one pass
  }

  /** Per-(scope, panel) drift tests vs pooled rest. */
  def tests(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    val h = histogram(df, check, pre)
    val wScopeBin = Window.partitionBy((check.scope :+ "bin").map(col): _*)
    val wPanel = Window.partitionBy(keyCols.map(col): _*)
    // grand total per scope via a broadcast-joined aggregate: with an empty
    // scope a window here would be unpartitioned (single-partition
    // WindowExec warning noise that could mask a real regression). The join
    // must be null-safe (<=>): groupBy keeps null scope groups, and dirty
    // validation inputs hold null scope values by definition — an equi-join
    // would silently drop them from tests, verdicts, and violations.
    val grand = h.groupBy(check.scope.map(col): _*).agg(sum("cnt").as("grand_total"))
    val withGrand =
      if (check.scope.isEmpty) h.crossJoin(broadcast(grand))
      else {
        val g = broadcast(grand.select(
          check.scope.map(s => col(s).as(s"__g_$s")) :+ col("grand_total"): _*))
        h.join(g, check.scope.map(s => col(s) <=> col(s"__g_$s")).reduce(_ && _))
          .drop(check.scope.map(s => s"__g_$s"): _*)
      }
    val withTotals = withGrand
      .withColumn("bin_total", sum("cnt").over(wScopeBin))   // this bin, all windows
      .withColumn("panel_total", sum("cnt").over(wPanel))    // this window
      .withColumn("o1", col("cnt").cast("double"))
      .withColumn("o2", (col("bin_total") - col("cnt")).cast("double"))
      .withColumn("n1", col("panel_total").cast("double"))
      .withColumn("n2", (col("grand_total") - col("panel_total")).cast("double"))
    val withTerms = withTotals
      .withColumn("e1", col("n1") * col("bin_total") / col("grand_total"))
      .withColumn("e2", col("n2") * col("bin_total") / col("grand_total"))
      .withColumn("x2_term",
        when(col("e1") > 0, pow(col("o1") - col("e1"), 2) / col("e1")).otherwise(0.0) +
        when(col("e2") > 0, pow(col("o2") - col("e2"), 2) / col("e2")).otherwise(0.0))
      // KS: cumulative share difference per bin (ordered by bin). A scope
      // with a single window has no rest (n2 = 0): its cum2 stays null —
      // ANSI division would throw — and the n_rest filter drops the window
      .withColumn("cum1", sum("o1").over(wPanel.orderBy("bin")) / col("n1"))
      .withColumn("cum2", when(col("n2") > 0,
        sum("o2").over(wPanel.orderBy("bin")) / col("n2")))
      .withColumn("ks_term", abs(col("cum1") - col("cum2")))
    val perPanel = withTerms.groupBy(keyCols.map(col): _*).agg(
      sum("x2_term").as("stat"),
      (countDistinct(when(col("bin_total") > 0, col("bin"))) - 1).cast("double").as("df"),
      max("ks_term").as("ks"),
      first("n1").cast("long").as("n_panel"),
      first("n2").cast("long").as("n_rest"))
      .filter(col("n_rest") > 0 && col("df") >= 1)
    val pUdf = udf((s: Double, d: Double) => Distributions.chiSqPValue(s, d))
    val withP = perPanel.withColumn("p_raw", pUdf(col("stat"), col("df")))
    CategoricalConsistency.holmWithinPanel(withP, check.scope.toList match {
      case Nil => Seq.empty[String] // Holm across all windows when unscoped
      case s => s
    }) match {
      case adjusted => adjusted
        .withColumn("flag_chisq", col("p_holm") < check.alpha)
        .withColumn("flag_ks", col("ks") > check.ksThreshold)
        .withColumn("pass", !(col("flag_chisq") || col("flag_ks")))
    }
  }

  def verdicts(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    verdictsFrom(tests(df, check, pre), check)

  /** Verdicts from a prebuilt `tests` frame — lets the Runner build the
    * tests lineage ONCE for both outputs (GroupVariance pattern). */
  def verdictsFrom(t: DataFrame, check: DriftCheck): DataFrame = {
    val framed = t.select(
      concat_ws("/",
        (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) :+
          concat(lit("panel="), col("panel"))): _*).as("partition"),
      lit("drift_chisq_ks").as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alpha).as("threshold"),
      col("n_panel").as("n_obs"),
      col("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  def violations(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    violationsFrom(tests(df, check, pre), check)

  def violationsFrom(testsFrame: DataFrame, check: DriftCheck): DataFrame = {
    val t = testsFrame.filter(!col("pass"))
    val v = t.select(
      col("panel").as("key"),
      concat_ws("/",
        check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))): _*).as("partition"),
      concat(lit("chisq="), round(col("stat"), 4).cast("string"),
        lit(", ks="), round(col("ks"), 4).cast("string")).as("observed"),
      lit("distribution ≈ pooled rest").as("expected"),
      concat(lit(s"${check.column} drifted in window, p_holm="),
        round(col("p_holm"), 6).cast("string")).as("label"))
    Results.toViolations(v, check.id)
  }
}
