package graft.operators

import graft.functions.Noise
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A/B experiment analysis — the measurement half of every rollout a
  * data/curation pipeline ships (new dedup threshold, new quality gate,
  * new ranking): assign units to variants DETERMINISTICALLY, aggregate
  * a per-unit metric, and report the Welch two-sample t statistic.
  *
  * Design decisions, each forced by the 100 TB / oracle constraints:
  *
  *  - Assignment is [[Noise.intRank]] mod #variants — pure BIGINT
  *    arithmetic on the unit's own key. Same unit ⇒ same variant on
  *    any engine, any partitioning, any day (the property that makes
  *    an experiment re-analyzable and lets late events join the right
  *    arm); and DuckDB reproduces the exact assignment, so the whole
  *    analysis sits under the bit-exact oracle. Engine RNGs can do
  *    none of this.
  *  - Per-unit metrics are summed on the DECIMAL grid (events.value
  *    lives on a 2-dp money grid, FIXTURES.md), so the group sums are
  *    exact and addition-order-insensitive — partial aggregation and
  *    AQE re-planning cannot change a digit.
  *  - The t statistic itself is one FIXED sequence of IEEE double ops
  *    over those exact sums, rounded to the 6-dp grid — the repo's
  *    standard recipe for cross-engine float agreement.
  *
  * Scale shape: one hash shuffle on the unit key (the per-unit metric
  * groupBy — partial-aggregated, so each mapper emits one row per
  * local unit), then a 1-row conditional aggregate (map-side partials,
  * no second wide shuffle). Nothing is ever collected; variance comes
  * from Σm and Σm² in the same pass, not a second scan.
  */
object Experiment {

  /** Deterministic variant label for a BIGINT unit key: variants(i)
    * where i = intRank(key, salt) mod variants.size. */
  def variantOf(key: Column, variants: Seq[String], salt: Int): Column = {
    require(variants.nonEmpty, "variants must be non-empty")
    val idx = pmod(Noise.intRank(key, salt), lit(variants.size.toLong))
    variants.zipWithIndex.tail.foldLeft(
      when(idx === 0L, variants.head)) { case (acc, (v, i)) =>
        acc.when(idx === i.toLong, v)
    }
  }

  /** DuckDB twin of [[variantOf]] — identical arithmetic. */
  def sqlVariantOf(keyExpr: String, variants: Seq[String], salt: Int): String = {
    val idx = s"(${Noise.sqlIntRank(keyExpr, salt)} % ${variants.size})"
    val whens = variants.zipWithIndex
      .map { case (v, i) => s"WHEN $idx = $i THEN '$v'" }.mkString(" ")
    s"(CASE $whens END)"
  }

  /** Welch two-sample t-test over per-unit metrics: one row with group
    * sizes, means, sample variances, the t statistic and the
    * Welch–Satterthwaite degrees of freedom. `metricCol` must already
    * be DECIMAL (exact) — the caller owns the grid; `perUnit` must hold
    * one row per experimental unit.
    *
    * Output columns (doubles rounded to 6 dp): n_a, n_b, mean_a,
    * mean_b, var_a, var_b, t_stat, df_welch.
    */
  def welchTTest(perUnit: DataFrame, variantCol: String, metricCol: String,
                 a: String, b: String): DataFrame = {
    val m = col(metricCol)
    def side(v: String, agg: Column): Column =
      sum(when(col(variantCol) === v, agg).otherwise(lit(null)))
    // Σm exact on the input grid; Σm² exact on the squared grid (the
    // square of a DECIMAL is DECIMAL — Spark and DuckDB both widen)
    val sums = perUnit.agg(
      count(when(col(variantCol) === a, lit(1))).as("n_a"),
      count(when(col(variantCol) === b, lit(1))).as("n_b"),
      side(a, m).as("s_a"), side(b, m).as("s_b"),
      side(a, m * m).as("q_a"), side(b, m * m).as("q_b"))
    // fixed double-op sequence from the exact sums (same order as sql())
    def d(c: String) = col(c).cast("double")
    val meanA = d("s_a") / d("n_a")
    val meanB = d("s_b") / d("n_b")
    val varA = (d("q_a") - d("s_a") * d("s_a") / d("n_a")) / (d("n_a") - lit(1.0))
    val varB = (d("q_b") - d("s_b") * d("s_b") / d("n_b")) / (d("n_b") - lit(1.0))
    val seA = varA / d("n_a")
    val seB = varB / d("n_b")
    val se2 = seA + seB
    val t = (meanA - meanB) / sqrt(se2)
    val dfW = se2 * se2 /
      (seA * seA / (d("n_a") - lit(1.0)) + seB * seB / (d("n_b") - lit(1.0)))
    sums.select(
      col("n_a"), col("n_b"),
      round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
      round(varA, 6).as("var_a"), round(varB, 6).as("var_b"),
      round(t, 6).as("t_stat"), round(dfW, 6).as("df_welch"))
  }

  /** MINIMUM DETECTABLE EFFECT — the pre-launch power check that
    * completes the experimentation triad (test → variance reduction →
    * power): with the observed group sizes and variances, the smallest
    * true difference a two-sided α-level test detects with the target
    * power is
    *
    *   MDE = (z_{1−α/2} + z_{power}) · √(var_a/n_a + var_b/n_b)
    *
    * (z constants inlined as literals — the classic 1.959964 / 0.841621
    * for α=5%, power=80%; the normal quantile has no portable
    * closed form, and a literal is exactly what a power calculator
    * hard-codes). Output one row: n_a, n_b, se (6-dp), mde_abs,
    * mde_pct_of_mean_a. Same exact-sum inputs as [[welchTTest]]. */
  def mde(perUnit: DataFrame, variantCol: String, metricCol: String,
          a: String, b: String, zAlpha: Double = 1.959964,
          zPower: Double = 0.841621): DataFrame = {
    val m = col(metricCol)
    def side(v: String, agg: Column): Column =
      sum(when(col(variantCol) === v, agg).otherwise(lit(null)))
    val sums = perUnit.agg(
      count(when(col(variantCol) === a, lit(1))).as("n_a"),
      count(when(col(variantCol) === b, lit(1))).as("n_b"),
      side(a, m).as("s_a"), side(b, m).as("s_b"),
      side(a, m * m).as("q_a"), side(b, m * m).as("q_b"))
    def d(c: String) = col(c).cast("double")
    val varA = (d("q_a") - d("s_a") * d("s_a") / d("n_a")) / (d("n_a") - lit(1.0))
    val varB = (d("q_b") - d("s_b") * d("s_b") / d("n_b")) / (d("n_b") - lit(1.0))
    val se = sqrt(varA / d("n_a") + varB / d("n_b"))
    val mdeAbs = lit(zAlpha + zPower) * se
    val meanA = d("s_a") / d("n_a")
    sums.select(col("n_a"), col("n_b"),
      round(se, 6).as("se"),
      round(mdeAbs, 6).as("mde_abs"),
      round(lit(100.0) * mdeAbs / meanA, 6).as("mde_pct_of_mean_a"))
  }

  /** DuckDB twin of [[mde]] — same sums, same op order. */
  def sqlMde(perUnitSql: String, a: String, b: String,
             zAlpha: Double = 1.959964, zPower: Double = 0.841621): String = {
    import graft.functions.Noise.sqlDouble
    def side(v: String, e: String) =
      s"sum(CASE WHEN variant = '$v' THEN $e ELSE NULL END)"
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val varA = s"((${d("q_a")} - ${d("s_a")} * ${d("s_a")} / ${d("n_a")}) / (${d("n_a")} - 1.0e0))"
    val varB = s"((${d("q_b")} - ${d("s_b")} * ${d("s_b")} / ${d("n_b")}) / (${d("n_b")} - 1.0e0))"
    val se = s"sqrt($varA / ${d("n_a")} + $varB / ${d("n_b")})"
    s"""
    WITH pu AS ($perUnitSql), sums AS (
      SELECT
        count(CASE WHEN variant = '$a' THEN 1 END) AS n_a,
        count(CASE WHEN variant = '$b' THEN 1 END) AS n_b,
        ${side(a, "m")} AS s_a, ${side(b, "m")} AS s_b,
        ${side(a, "m * m")} AS q_a, ${side(b, "m * m")} AS q_b
      FROM pu)
    SELECT n_a, n_b, round($se, 6) AS se,
      round(${sqlDouble(zAlpha + zPower)} * $se, 6) AS mde_abs,
      round(100.0e0 * (${sqlDouble(zAlpha + zPower)} * $se)
        / (${d("s_a")} / ${d("n_a")}), 6) AS mde_pct_of_mean_a
    FROM sums"""
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) — the standard
    * experimentation power-up: adjust the experiment metric Y by the
    * PRE-experiment covariate X, Y' = Y − θ(X − X̄) with
    * θ = cov(X, Y)/var(X), shrinking metric variance by the squared
    * correlation (≈50% is routine) so the same traffic detects
    * effects √2 smaller. This summary computes θ and the achieved
    * reduction ANALYTICALLY from one pass of exact sums —
    * var(Y − θX) = var(Y) − 2θ·cov + θ²·var(X) — no second scan, no
    * per-unit adjusted column materialized.
    *
    * `perUnit` must hold one row per unit with DECIMAL `xCol`
    * (pre-period metric) and `yCol` (experiment metric). Output (one
    * row, doubles rounded 6 dp): n, theta, var_y, var_y_adj,
    * var_reduction_pct. All inputs to the double sequence are exact
    * decimal sums, so both engines agree bit-for-bit. */
  def cuped(perUnit: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    val sums = perUnit.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"),
      sum(x * y).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val n = d("n")
    val varX = (d("sxx") - d("sx") * d("sx") / n) / n
    val varY = (d("syy") - d("sy") * d("sy") / n) / n
    val covXY = (d("sxy") - d("sx") * d("sy") / n) / n
    val theta = covXY / varX
    val varAdj = varY - lit(2.0) * theta * covXY + theta * theta * varX
    sums.select(col("n"),
      round(theta, 6).as("theta"),
      round(varY, 6).as("var_y"),
      round(varAdj, 6).as("var_y_adj"),
      round(lit(100.0) * (varY - varAdj) / varY, 6).as("var_reduction_pct"))
  }

  /** DuckDB twin of [[cuped]]: `perUnitSql` must select `(x, y)`
    * DECIMAL per unit. */
  def sqlCuped(perUnitSql: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val n = d("n")
    val varX = s"((${d("sxx")} - ${d("sx")} * ${d("sx")} / $n) / $n)"
    val varY = s"((${d("syy")} - ${d("sy")} * ${d("sy")} / $n) / $n)"
    val covXY = s"((${d("sxy")} - ${d("sx")} * ${d("sy")} / $n) / $n)"
    val theta = s"($covXY / $varX)"
    val varAdj =
      s"($varY - 2.0e0 * $theta * $covXY + $theta * $theta * $varX)"
    s"""
    WITH pu AS ($perUnitSql), sums AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pu)
    SELECT n, round($theta, 6) AS theta, round($varY, 6) AS var_y,
      round($varAdj, 6) AS var_y_adj,
      round(100.0e0 * ($varY - $varAdj) / $varY, 6) AS var_reduction_pct
    FROM sums"""
  }

  /** MULTI-COVARIATE REGRESSION ADJUSTMENT (ANCOVA / k-covariate
    * CUPED) — [[cuped]]'s production form: adjust Y by k
    * pre-experiment covariates at once, θ = Var(X)⁻¹ Cov(X, Y),
    * var(Y_adj) = var(Y) − θ'·Cov(X, Y), capturing the variance any
    * LINEAR COMBINATION of the covariates explains (k correlated
    * covariates beat the best single one — ExperimentSpec pins it).
    *
    * Scale/determinism split (the Pca.fit moment shape): ONE hash
    * aggregate collapses the corpus to k(k+3)/2 + 3 exact DECIMAL
    * sums — bounded by the covariate axis, never the corpus — then
    * the k×k normal equations solve on the DRIVER by PIVOT-FREE
    * Gaussian elimination (covariance matrices are SPD, so no
    * pivoting is needed and the elimination order is FIXED: one
    * deterministic IEEE sequence [[sqlRegressionAdjust]] unrolls
    * verbatim, keeping the row under the bit-exact oracle). Output
    * lands on the 6-dp floor grid.
    *
    * `perUnit`: one row per unit, DECIMAL covariates `xCols` and
    * metric `yCol`. Output one row:
    * `(n, theta_1..theta_k, var_y, var_y_adj, var_reduction_pct)`.
    * k = 1 reproduces [[cuped]] exactly. */
  def regressionAdjust(perUnit: DataFrame, xCols: Seq[String],
                       yCol: String): DataFrame = {
    val k = xCols.size
    require(k >= 1, "need at least one covariate")
    val spark = perUnit.sparkSession
    val y = col(yCol)
    val aggs =
      Seq(count(lit(1)).cast("double").as("n"),
        sum(y).cast("double").as("sy"),
        sum(y * y).cast("double").as("syy")) ++
      xCols.zipWithIndex.flatMap { case (xc, i) =>
        Seq(sum(col(xc)).cast("double").as(s"sx$i"),
          sum(col(xc) * y).cast("double").as(s"sxy$i"))
      } ++
      (for (i <- 0 until k; j <- i until k) yield
        sum(col(xCols(i)) * col(xCols(j))).cast("double")
          .as(s"sxx_${i}_$j"))
    val r = perUnit.agg(aggs.head, aggs.tail: _*).collect()(0)
    def f(name: String) = r.getDouble(r.fieldIndex(name))
    val n = f("n")
    require(n > 0, "regressionAdjust over an empty frame")
    val varY = (f("syy") - f("sy") * f("sy") / n) / n
    val c = Array.tabulate(k)(i =>
      (f(s"sxy$i") - f(s"sx$i") * f("sy") / n) / n)
    val a = Array.tabulate(k, k) { (i, j) =>
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      (f(s"sxx_${lo}_$hi") - f(s"sx$i") * f(s"sx$j") / n) / n
    }
    val theta = solveSpd(a, c.clone())
    var varAdj = varY
    for (i <- 0 until k) varAdj = varAdj - theta(i) * c(i)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val outCols = Seq(lit(n.toLong).as("n")) ++
      theta.toSeq.zipWithIndex.map { case (t, i) =>
        lit(r6(t)).as(s"theta_${i + 1}") } ++
      Seq(lit(r6(varY)).as("var_y"), lit(r6(varAdj)).as("var_y_adj"),
        lit(r6(100.0 * (varY - varAdj) / varY)).as("var_reduction_pct"))
    spark.range(1).select(outCols: _*)
  }

  /** Pivot-free in-place Gaussian elimination + back substitution for
    * SPD systems — the FIXED IEEE sequence both [[regressionAdjust]]
    * and its SQL twin replay. Mutates `a` and `b`. */
  private def solveSpd(a: Array[Array[Double]],
                       b: Array[Double]): Array[Double] = {
    val k = b.length
    for (p <- 0 until k - 1; rI <- p + 1 until k) {
      require(a(p)(p) != 0.0,
        s"singular covariate matrix at pivot $p (collinear covariates?)")
      val m = a(rI)(p) / a(p)(p)
      for (j <- p + 1 until k) a(rI)(j) = a(rI)(j) - m * a(p)(j)
      b(rI) = b(rI) - m * b(p)
    }
    val x = new Array[Double](k)
    for (rI <- (k - 1) to 0 by -1) {
      var acc = b(rI)
      for (j <- rI + 1 until k) acc = acc - a(rI)(j) * x(j)
      require(a(rI)(rI) != 0.0,
        s"singular covariate matrix at pivot $rI (collinear covariates?)")
      x(rI) = acc / a(rI)(rI)
    }
    x
  }

  /** DuckDB twin of [[regressionAdjust]]: `perUnitSql` must select
    * `(x1..xk, y)` DECIMAL. The fixed elimination sequence is
    * unrolled symbolically — expression size grows fast in k, so the
    * oracle twin is for small covariate sets (the engine side takes
    * any k). */
  def sqlRegressionAdjust(perUnitSql: String, k: Int): String = {
    require(k >= 1)
    val sumCols = Seq("CAST(count(*) AS DOUBLE) AS n",
      "CAST(sum(y) AS DOUBLE) AS sy",
      "CAST(sum(y * y) AS DOUBLE) AS syy") ++
      (0 until k).flatMap(i => Seq(
        s"CAST(sum(x${i + 1}) AS DOUBLE) AS sx$i",
        s"CAST(sum(x${i + 1} * y) AS DOUBLE) AS sxy$i")) ++
      (for (i <- 0 until k; j <- i until k) yield
        s"CAST(sum(x${i + 1} * x${j + 1}) AS DOUBLE) AS sxx_${i}_$j")
    def sxx(i: Int, j: Int) = {
      val (lo, hi) = if (i <= j) (i, j) else (j, i); s"sxx_${lo}_$hi"
    }
    val varY = "((syy - sy * sy / n) / n)"
    val c0 = Array.tabulate(k)(i => s"((sxy$i - sx$i * sy / n) / n)")
    val a = Array.tabulate(k, k)((i, j) =>
      s"((${sxx(i, j)} - sx$i * sx$j / n) / n)")
    val cc = c0.clone()
    // forward elimination — the same loop order as solveSpd, applied
    // to expression strings so both engines execute identical ops
    for (p <- 0 until k - 1; rI <- p + 1 until k) {
      val m = s"(${a(rI)(p)} / ${a(p)(p)})"
      for (j <- p + 1 until k) a(rI)(j) = s"(${a(rI)(j)} - $m * ${a(p)(j)})"
      cc(rI) = s"(${cc(rI)} - $m * ${cc(p)})"
    }
    val th = new Array[String](k)
    for (rI <- (k - 1) to 0 by -1) {
      var acc = cc(rI)
      for (j <- rI + 1 until k) acc = s"($acc - ${a(rI)(j)} * ${th(j)})"
      th(rI) = s"($acc / ${a(rI)(rI)})"
    }
    var varAdj = varY
    for (i <- 0 until k) varAdj = s"($varAdj - ${th(i)} * ${c0(i)})"
    def r6(e: String) = s"floor($e * 1e6 + 0.5e0) / 1e6"
    val thetaCols = (0 until k).map(i =>
      s"${r6(th(i))} AS theta_${i + 1}").mkString(",\n      ")
    s"""
    WITH pu AS ($perUnitSql), sums AS (
      SELECT ${sumCols.mkString(",\n        ")}
      FROM pu)
    SELECT CAST(n AS BIGINT) AS n,
      $thetaCols,
      ${r6(varY)} AS var_y,
      ${r6(varAdj)} AS var_y_adj,
      ${r6(s"(100.0e0 * ($varY - $varAdj) / $varY)")} AS var_reduction_pct
    FROM sums"""
  }

  /** DuckDB twin of [[welchTTest]]: `perUnitSql` must select
    * `(variant, m)` with `m` DECIMAL. */
  def sqlWelch(perUnitSql: String, a: String, b: String): String = {
    def side(v: String, e: String) =
      s"sum(CASE WHEN variant = '$v' THEN $e ELSE NULL END)"
    s"""
    WITH pu AS ($perUnitSql), sums AS (
      SELECT
        count(CASE WHEN variant = '$a' THEN 1 END) AS n_a,
        count(CASE WHEN variant = '$b' THEN 1 END) AS n_b,
        ${side(a, "m")} AS s_a, ${side(b, "m")} AS s_b,
        ${side(a, "m * m")} AS q_a, ${side(b, "m * m")} AS q_b
      FROM pu)
    SELECT n_a, n_b,
      round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
      round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b,
      round((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0), 6) AS var_a,
      round((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0), 6) AS var_b,
      round(((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
           - (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        / sqrt(
            ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
              / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
              / CAST(n_a AS DOUBLE)
          + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
              / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
              / CAST(n_b AS DOUBLE)), 6) AS t_stat,
      round(
        (((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
            / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
            / CAST(n_a AS DOUBLE)
         + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
            / CAST(n_b AS DOUBLE))
        * (((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
            / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
            / CAST(n_a AS DOUBLE)
         + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
            / CAST(n_b AS DOUBLE))
        / (
          (((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
            / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
            / CAST(n_a AS DOUBLE))
          * (((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
            / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
            / CAST(n_a AS DOUBLE))
          / (CAST(n_a AS DOUBLE) - 1.0e0)
          + (((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
            / CAST(n_b AS DOUBLE))
          * (((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0))
            / CAST(n_b AS DOUBLE))
          / (CAST(n_b AS DOUBLE) - 1.0e0)), 6) AS df_welch
    FROM sums"""
  }

  /** SAMPLE-RATIO MISMATCH check — the experiment-health gate that must
    * run BEFORE any effect readout: if the observed per-variant unit
    * counts deviate from the designed split, assignment/logging is
    * broken and every downstream statistic is garbage (the classic
    * silent experiment killer). Pearson χ² against the expected
    * shares; the readout is the per-variant detail plus the total
    * statistic (df = k−1; χ² > ~3.84 at k=2 flags at 5%).
    *
    * Determinism: counts are exact BIGINT; expected counts and
    * contributions are fixed-order double ops; the total folds over
    * the BOUNDED variant axis via an ordered running-sum window, and
    * because contributions are non-negative the window MAX of the
    * running sum IS the total — no unordered double agg anywhere.
    *
    * Variant-set edges (the silent-failure cases a health gate exists
    * for): a DESIGNED variant with ZERO observed rows (total
    * assignment/logging failure for one arm) still contributes its
    * full (0 − E)²/E term — the designed key set is outer-joined
    * against the observed counts, so the χ² cannot understate the
    * worst SRM. A variant OBSERVED but absent from `expectedShares`
    * (rogue arm, config drift) is emitted with `designed = 0` and
    * null expectation/contribution — it has no designed share to test
    * against, but its units still inflate `n_total` (depressing every
    * designed arm's observed-vs-expected fit) and the row itself IS
    * the flag.
    *
    * Scale: one hash agg on variant (map-side partials), a full outer
    * join against the k designed keys (Spark has no broadcast hash
    * join for a full outer join, so it shuffles both sides — ≤ k +
    * rogue rows each), then window + projection
    * over ≤ k + rogue rows. Output one row per variant (designed or
    * observed): `variant, n_obs, n_expected (6dp), contrib (6dp),
    * chi2 (6dp, repeated — the total over designed arms), n_total,
    * designed (1/0)`. */
  def srmCheck(assignments: DataFrame, variantCol: String,
               expectedShares: Map[String, Double]): DataFrame = {
    require(expectedShares.nonEmpty &&
      math.abs(expectedShares.values.sum - 1.0) < 1e-9,
      "expected shares must sum to 1")
    import org.apache.spark.sql.expressions.Window
    val spark = assignments.sparkSession
    import spark.implicits._
    val designed = expectedShares.toSeq.sortBy(_._1)
      .toDF("variant", "__share")
    val counts = assignments.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n_obs"))
    // n_total = ALL observed units (undesigned arms included: their
    // units really did drain traffic from the designed split)
    val total = counts.agg(sum(col("n_obs")).as("n_total"))
    val wCum = Window.orderBy(col("variant"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("variant"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts.join(designed, Seq("variant"), "full_outer")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("__exp", col("n_total").cast("double") * col("__share"))
      .withColumn("__contrib",
        (col("n_obs").cast("double") - col("__exp"))
          * (col("n_obs").cast("double") - col("__exp")) / col("__exp"))
      // sum() skips the null contribs of undesigned rows; contribs are
      // non-negative, so the running-sum MAX is still the total
      .withColumn("chi2", round(max(sum(col("__contrib")).over(wCum))
        .over(wAll), 6))
      .select(col("variant"), col("n_obs"),
        round(col("__exp"), 6).as("n_expected"),
        round(col("__contrib"), 6).as("contrib"),
        col("chi2"), col("n_total"),
        col("__share").isNotNull.cast("bigint").as("designed"))
  }

  /** DuckDB twin of [[srmCheck]] — identical designed-key outer join,
    * contribution arithmetic and ordered fold. `assignSql` must select
    * `variant`. */
  def sqlSrmCheck(assignSql: String,
                  expectedShares: Map[String, Double]): String = {
    import graft.functions.Noise.sqlDouble
    val designed = expectedShares.toSeq.sortBy(_._1)
      .map { case (v, p) => s"('$v', ${sqlDouble(p)})" }
      .mkString(", ")
    s"""
    WITH a AS ($assignSql), counts AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_obs
      FROM a GROUP BY 1
    ), dv AS (SELECT * FROM (VALUES $designed) AS dv(variant, share)
    ), t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM counts
    ), j AS (
      SELECT coalesce(counts.variant, dv.variant) AS variant,
        coalesce(n_obs, 0) AS n_obs, share
      FROM counts FULL OUTER JOIN dv ON counts.variant = dv.variant
    ), c AS (
      SELECT variant, n_obs, n_total, share,
        CAST(n_total AS DOUBLE) * share AS e
      FROM j CROSS JOIN t
    ), k AS (
      SELECT variant, n_obs, n_total, share, e,
        (CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e
          AS contrib
      FROM c
    ), f AS (
      SELECT variant, n_obs, n_total, share, e, contrib,
        sum(contrib) OVER (ORDER BY variant
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM k
    ), tot2 AS (SELECT max(cum) AS chi FROM f)
    SELECT variant, n_obs, round(e, 6) AS n_expected,
      round(contrib, 6) AS contrib,
      round(chi, 6) AS chi2,
      n_total,
      CAST(share IS NOT NULL AS BIGINT) AS designed
    FROM f CROSS JOIN tot2"""
  }

  /** GROUP-SEQUENTIAL BOUNDARY (O'Brien–Fleming shape) — the fix for
    * the PEEKING problem every fixed-horizon statistic above silently
    * has: an experimenter who reads [[welchTTest]] daily and stops at
    * the first |z| > 1.96 inflates the 5% false-positive rate to
    * 25%+ over 20 looks (each peek is another chance at a type-I
    * error). Group-sequential testing spends the α across looks with
    * an EARLY-CONSERVATIVE boundary
    *
    *   b_k = C · √(K / k)      (k = look index, K = total looks)
    *
    * — the O'Brien–Fleming shape: nearly unreachable early (b₁ =
    * C·√K), relaxing to ≈ the fixed-horizon critical value at the
    * final look, so stopping early requires overwhelming evidence and
    * the overall α stays controlled. `cAlpha` is the literature
    * constant for (K, α) — e.g. 2.04 for K = 5 looks at two-sided 5%
    * (boundaries 4.56, 3.23, 2.63, 2.28, 2.04); like the z-constants
    * in [[mde]], a literal is exactly what the tables hard-code.
    *
    * `perUnit` must hold one row per unit with the look it ENTERED
    * (`lookCol` — a date/bucket; analysis at look k covers all units
    * with look ≤ k). Cumulative Σn/Σm/Σm² per arm come from ordered
    * running sums over the BOUNDED look axis (the srm/KM fold — exact
    * decimal/BIGINT, no corpus-sized window); the per-look z is the
    * same fixed Welch sequence as [[welchTTest]]. Looks where either
    * arm has < 2 cumulative units report z = 0 (no variance exists).
    *
    * Output, one row per look: `look, k, n_a, n_b, z (6dp), boundary
    * (6dp), crossed (1 when |z| ≥ boundary)`. Fully deterministic →
    * exact oracle ([[sqlObrienFleming]]). */
  def obrienFleming(perUnit: DataFrame, lookCol: String, variantCol: String,
                    metricCol: String, a: String, b: String,
                    cAlpha: Double = 2.04): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = col(metricCol)
    def cnt(v: String) = count(when(col(variantCol) === v, lit(1)))
    def side(v: String, e: Column) =
      sum(when(col(variantCol) === v, e).otherwise(lit(null)))
    val byLook = perUnit.filter(col(variantCol).isin(a, b))
      .groupBy(col(lookCol).as("look"))
      .agg(cnt(a).as("__na"), cnt(b).as("__nb"),
        side(a, m).as("__sa"), side(b, m).as("__sb"),
        side(a, m * m).as("__qa"), side(b, m * m).as("__qb"))
    val wOrd = Window.orderBy(col("look"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def d(c: Column) = c.cast("double")
    val cum = byLook
      .withColumn("k", row_number().over(wOrd).cast("bigint"))
      .withColumn("n_a", sum(col("__na")).over(wCum))
      .withColumn("n_b", sum(col("__nb")).over(wCum))
      .withColumn("__csa", sum(col("__sa")).over(wCum))
      .withColumn("__csb", sum(col("__sb")).over(wCum))
      .withColumn("__cqa", sum(col("__qa")).over(wCum))
      .withColumn("__cqb", sum(col("__qb")).over(wCum))
      .withColumn("__K", max(col("k")).over(wAll))
    val na = d(col("n_a")); val nb = d(col("n_b"))
    val meanA = d(col("__csa")) / na
    val meanB = d(col("__csb")) / nb
    val varA = (d(col("__cqa")) - d(col("__csa")) * d(col("__csa")) / na) /
      (na - lit(1.0))
    val varB = (d(col("__cqb")) - d(col("__csb")) * d(col("__csb")) / nb) /
      (nb - lit(1.0))
    val se2 = varA / na + varB / nb
    val z = (meanA - meanB) / sqrt(se2)
    val boundary = lit(cAlpha) * sqrt(d(col("__K")) / d(col("k")))
    cum.select(col("look"), col("k"), col("n_a"), col("n_b"),
      when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0, round(z, 6))
        .otherwise(lit(0.0)).as("z"),
      round(boundary, 6).as("boundary"))
      .withColumn("crossed", (abs(col("z")) >= col("boundary")).cast("bigint"))
  }

  /** DuckDB twin of [[obrienFleming]] — identical per-look sums,
    * running-sum fold and double sequence. `perUnitSql` must select
    * `(look, variant, m)` with `m` DECIMAL. */
  def sqlObrienFleming(perUnitSql: String, a: String, b: String,
                       cAlpha: Double = 2.04): String = {
    import graft.functions.Noise.sqlDouble
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val na = d("n_a"); val nb = d("n_b")
    val varA = s"((${d("cqa")} - ${d("csa")} * ${d("csa")} / $na) / ($na - 1.0e0))"
    val varB = s"((${d("cqb")} - ${d("csb")} * ${d("csb")} / $nb) / ($nb - 1.0e0))"
    val se2 = s"($varA / $na + $varB / $nb)"
    val z = s"((${d("csa")} / $na - ${d("csb")} / $nb) / sqrt($se2))"
    s"""
    WITH pu AS ($perUnitSql), byl AS (
      SELECT look,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS na,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS nb,
        sum(CASE WHEN variant = '$a' THEN m ELSE NULL END) AS sa,
        sum(CASE WHEN variant = '$b' THEN m ELSE NULL END) AS sb,
        sum(CASE WHEN variant = '$a' THEN m * m ELSE NULL END) AS qa,
        sum(CASE WHEN variant = '$b' THEN m * m ELSE NULL END) AS qb
      FROM pu WHERE variant IN ('$a', '$b') GROUP BY look
    ), cum AS (
      SELECT look,
        CAST(row_number() OVER w AS BIGINT) AS k,
        CAST(sum(na) OVER c AS BIGINT) AS n_a,
        CAST(sum(nb) OVER c AS BIGINT) AS n_b,
        sum(sa) OVER c AS csa, sum(sb) OVER c AS csb,
        sum(qa) OVER c AS cqa, sum(qb) OVER c AS cqb,
        CAST(count(*) OVER () AS BIGINT) AS kk
      FROM byl
      WINDOW w AS (ORDER BY look),
             c AS (ORDER BY look
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT look, k, n_a, n_b,
      CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0
        THEN round($z, 6) ELSE 0.0e0 END AS z,
      round(${sqlDouble(cAlpha)} * sqrt(${d("kk")} / ${d("k")}), 6)
        AS boundary,
      CAST(abs(CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0
        THEN round($z, 6) ELSE 0.0e0 END)
        >= round(${sqlDouble(cAlpha)} * sqrt(${d("kk")} / ${d("k")}), 6)
        AS BIGINT) AS crossed
    FROM cum"""
  }

  /** mSPRT ALWAYS-VALID p-VALUE — the continuous-monitoring
    * complement to [[obrienFleming]]: OBF spends α across a FIXED
    * schedule of K looks; the mixture sequential probability ratio
    * test (Johari et al., "Peeking at A/B Tests") is valid at EVERY
    * look with no schedule at all — the experimenter can read the
    * dashboard hourly forever and the type-I guarantee holds. The
    * mixture likelihood ratio for the mean difference Δ̂ under a
    * N(0, τ²) prior on the effect:
    *
    *   Λ_n = √(V_n/(V_n+τ²)) · exp(Δ̂_n²·τ² / (2·V_n·(V_n+τ²)))
    *
    * with V_n the Welch variance of Δ̂ at look n; the always-valid
    * p-value is the running minimum of 1/Λ (capped at 1) — monotone
    * nonincreasing, reject when it drops under α. τ (`tau2`) is the
    * analyst's prior scale on the effect size — a tuning constant
    * like [[mde]]'s z literals, not data-derived.
    *
    * Same machinery as [[obrienFleming]]: per-look cumulative
    * Σn/Σm/Σm² per arm from ordered running sums over the bounded
    * look axis, one fixed double sequence per look (exp/sqrt are the
    * 1-ulp libm class, unobservable under the 6-dp round), then ONE
    * more ordered fold for the running min. Looks where either arm
    * has < 2 cumulative units (or V = 0) contribute Λ = 1 (no
    * information). Output per look: `look, k, n_a, n_b, delta (6dp),
    * p_always (6dp), reject_05`. */
  def msprt(perUnit: DataFrame, lookCol: String, variantCol: String,
            metricCol: String, a: String, b: String,
            tau2: Double): DataFrame = {
    require(tau2 > 0, s"tau2 must be > 0: $tau2")
    import org.apache.spark.sql.expressions.Window
    val m = col(metricCol)
    def cnt(v: String) = count(when(col(variantCol) === v, lit(1)))
    def side(v: String, e: Column) =
      sum(when(col(variantCol) === v, e).otherwise(lit(null)))
    val byLook = perUnit.filter(col(variantCol).isin(a, b))
      .groupBy(col(lookCol).as("look"))
      .agg(cnt(a).as("__na"), cnt(b).as("__nb"),
        side(a, m).as("__sa"), side(b, m).as("__sb"),
        side(a, m * m).as("__qa"), side(b, m * m).as("__qb"))
    val wOrd = Window.orderBy(col("look"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column) = c.cast("double")
    val cum = byLook
      .withColumn("k", row_number().over(wOrd).cast("bigint"))
      .withColumn("n_a", sum(col("__na")).over(wCum))
      .withColumn("n_b", sum(col("__nb")).over(wCum))
      .withColumn("__csa", sum(col("__sa")).over(wCum))
      .withColumn("__csb", sum(col("__sb")).over(wCum))
      .withColumn("__cqa", sum(col("__qa")).over(wCum))
      .withColumn("__cqb", sum(col("__qb")).over(wCum))
    val na = d(col("n_a")); val nb = d(col("n_b"))
    val delta = d(col("__csa")) / na - d(col("__csb")) / nb
    val varA = (d(col("__cqa")) - d(col("__csa")) * d(col("__csa")) / na) /
      (na - lit(1.0))
    val varB = (d(col("__cqb")) - d(col("__csb")) * d(col("__csb")) / nb) /
      (nb - lit(1.0))
    val vv = varA / na + varB / nb
    val t2 = lit(tau2)
    val lam = sqrt(vv / (vv + t2)) *
      exp(col("delta") * col("delta") * t2
        / (lit(2.0) * vv * (vv + t2)))
    val cand = when(col("n_a") >= 2 && col("n_b") >= 2 && vv > 0,
      least(lit(1.0), lit(1.0) / lam)).otherwise(lit(1.0))
    cum
      .withColumn("delta",
        when(col("n_a") >= 1 && col("n_b") >= 1, delta).otherwise(lit(0.0)))
      .withColumn("__cand", cand)
      .withColumn("__p", min(col("__cand")).over(wCum))
      .select(col("look"), col("k"), col("n_a"), col("n_b"),
        round(col("delta"), 6).as("delta"),
        round(col("__p"), 6).as("p_always"))
      .withColumn("reject_05", (col("p_always") <= lit(0.05)).cast("bigint"))
  }

  /** DuckDB twin of [[msprt]] — identical per-look sums, double
    * sequence and running-min fold. `perUnitSql` must select
    * `(look, variant, m)` with `m` DECIMAL. */
  def sqlMsprt(perUnitSql: String, a: String, b: String,
               tau2: Double): String = {
    import graft.functions.Noise.sqlDouble
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val na = d("n_a"); val nb = d("n_b")
    val delta = s"(${d("csa")} / $na - ${d("csb")} / $nb)"
    val varA = s"((${d("cqa")} - ${d("csa")} * ${d("csa")} / $na) / ($na - 1.0e0))"
    val varB = s"((${d("cqb")} - ${d("csb")} * ${d("csb")} / $nb) / ($nb - 1.0e0))"
    val vv = s"($varA / $na + $varB / $nb)"
    val t2 = sqlDouble(tau2)
    val lam = s"(sqrt($vv / ($vv + $t2)) * exp(delta * delta * $t2" +
      s" / (2.0e0 * $vv * ($vv + $t2))))"
    s"""
    WITH pu AS ($perUnitSql), byl AS (
      SELECT look,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS na,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS nb,
        sum(CASE WHEN variant = '$a' THEN m ELSE NULL END) AS sa,
        sum(CASE WHEN variant = '$b' THEN m ELSE NULL END) AS sb,
        sum(CASE WHEN variant = '$a' THEN m * m ELSE NULL END) AS qa,
        sum(CASE WHEN variant = '$b' THEN m * m ELSE NULL END) AS qb
      FROM pu WHERE variant IN ('$a', '$b') GROUP BY look
    ), cum AS (
      SELECT look,
        CAST(row_number() OVER w AS BIGINT) AS k,
        CAST(sum(na) OVER c AS BIGINT) AS n_a,
        CAST(sum(nb) OVER c AS BIGINT) AS n_b,
        sum(sa) OVER c AS csa, sum(sb) OVER c AS csb,
        sum(qa) OVER c AS cqa, sum(qb) OVER c AS cqb
      FROM byl
      WINDOW w AS (ORDER BY look),
             c AS (ORDER BY look
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dl AS (
      SELECT look, k, n_a, n_b, csa, csb, cqa, cqb,
        CASE WHEN n_a >= 1 AND n_b >= 1 THEN $delta ELSE 0.0e0 END
          AS delta
      FROM cum
    ), cands AS (
      SELECT look, k, n_a, n_b, delta,
        CASE WHEN n_a >= 2 AND n_b >= 2 AND $vv > 0
          THEN least(1.0e0, 1.0e0 / $lam) ELSE 1.0e0 END AS cand
      FROM dl
    ), ps AS (
      SELECT look, k, n_a, n_b, delta,
        min(cand) OVER (ORDER BY look
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM cands)
    SELECT look, k, n_a, n_b, round(delta, 6) AS delta,
      round(p, 6) AS p_always,
      CAST(round(p, 6) <= 0.05e0 AS BIGINT) AS reject_05
    FROM ps"""
  }

  /** Per-GROUP Welch z — [[welchTTest]]'s fixed double sequence run
    * once per metric/group (one conditional-sum pass, map-side
    * partials): the input shape for multiple-testing control. Groups
    * where either arm has < 2 units (or zero variance) report z = 0.
    * Output: `<groupCol>, n_a, n_b, z (6dp)`. */
  def welchZByGroup(perUnit: DataFrame, groupCol: String,
                    variantCol: String, metricCol: String,
                    a: String, b: String): DataFrame = {
    val m = col(metricCol)
    def side(v: String, agg: Column): Column =
      sum(when(col(variantCol) === v, agg).otherwise(lit(null)))
    val sums = perUnit.filter(col(variantCol).isin(a, b))
      .groupBy(col(groupCol))
      .agg(count(when(col(variantCol) === a, lit(1))).as("n_a"),
        count(when(col(variantCol) === b, lit(1))).as("n_b"),
        side(a, m).as("__sa"), side(b, m).as("__sb"),
        side(a, m * m).as("__qa"), side(b, m * m).as("__qb"))
    def d(c: String) = col(c).cast("double")
    val na = d("n_a"); val nb = d("n_b")
    val varA = (d("__qa") - d("__sa") * d("__sa") / na) / (na - lit(1.0))
    val varB = (d("__qb") - d("__sb") * d("__sb") / nb) / (nb - lit(1.0))
    val se2 = varA / na + varB / nb
    val z = (d("__sa") / na - d("__sb") / nb) / sqrt(se2)
    sums.select(col(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0, round(z, 6))
        .otherwise(lit(0.0)).as("z"))
  }

  /** DuckDB twin of [[welchZByGroup]]: `perUnitSql` must select
    * `(g, variant, m)` with `m` DECIMAL. */
  def sqlWelchZByGroup(perUnitSql: String, a: String, b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val varA = s"((${d("qa")} - ${d("sa")} * ${d("sa")} / ${d("n_a")}) / (${d("n_a")} - 1.0e0))"
    val varB = s"((${d("qb")} - ${d("sb")} * ${d("sb")} / ${d("n_b")}) / (${d("n_b")} - 1.0e0))"
    val se2 = s"($varA / ${d("n_a")} + $varB / ${d("n_b")})"
    val z = s"((${d("sa")} / ${d("n_a")} - ${d("sb")} / ${d("n_b")}) / sqrt($se2))"
    s"""
    SELECT g, n_a, n_b,
      CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0
        THEN round($z, 6) ELSE 0.0e0 END AS z
    FROM (
      SELECT g,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS n_a,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS n_b,
        sum(CASE WHEN variant = '$a' THEN m ELSE NULL END) AS sa,
        sum(CASE WHEN variant = '$b' THEN m ELSE NULL END) AS sb,
        sum(CASE WHEN variant = '$a' THEN m * m ELSE NULL END) AS qa,
        sum(CASE WHEN variant = '$b' THEN m * m ELSE NULL END) AS qb
      FROM ($perUnitSql) WHERE variant IN ('$a', '$b') GROUP BY g)"""
  }

  // Abramowitz–Stegun 26.2.17 normal-CDF tail coefficients — written
  // as exact literals so both engines run identical bits (|ε| <
  // 7.5e-8, far below the 9-dp grid the p-values round to)
  private val PhiT = 0.2316419
  private val PhiB = Seq(0.319381530, -0.356563782, 1.781477937,
    -1.821255978, 1.330274429)
  private val InvSqrt2Pi = 0.3989422804014327

  /** BENJAMINI–HOCHBERG FDR control — the MANY-METRICS twin of the
    * [[obrienFleming]] many-LOOKS correction: reading one experiment's
    * z across 50 metrics at α = 5% expects 2.5 false discoveries; BH
    * caps the FALSE-DISCOVERY RATE instead of the family-wise error
    * (the standard choice for metric dashboards — Bonferroni's FWER is
    * needlessly brutal at 50 metrics). Procedure: rank two-sided
    * p-values ascending, find the largest rank i with p₍ᵢ₎ ≤ i·α/m,
    * flag every metric at or below it.
    *
    * p comes from |z| through the Abramowitz–Stegun 26.2.17 CDF tail
    * (literal coefficients, one exp — the same libm-1-ulp class as
    * BM25's ln, unobservable under the 9-dp round). Ranking and the
    * step-up fold are ordered windows over the BOUNDED metric axis;
    * decisions compare the ROUNDED p to the ROUNDED threshold, so
    * both engines decide identical bits. Ties rank (p, metric) — a
    * total order. Output per metric: `<metricCol>, z, p (9dp), rank,
    * bh_threshold (9dp), significant`. */
  def benjaminiHochberg(perMetric: DataFrame, metricCol: String,
                        zCol: String, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1)
    import org.apache.spark.sql.expressions.Window
    val az = abs(col(zCol))
    val t = lit(1.0) / (lit(1.0) + lit(PhiT) * az)
    val poly = t * (lit(PhiB(0)) + t * (lit(PhiB(1)) + t * (lit(PhiB(2)) +
      t * (lit(PhiB(3)) + t * lit(PhiB(4))))))
    val pdf = exp(az * az * lit(-0.5)) * lit(InvSqrt2Pi)
    val p = round(lit(2.0) * pdf * poly, 9)
    val wOrd = Window.orderBy(col("p"), col(metricCol))
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perMetric
      .withColumn("p", p)
      .withColumn("rank", row_number().over(wOrd).cast("bigint"))
      .withColumn("__m", max(col("rank")).over(wAll))
      .withColumn("bh_threshold",
        round(col("rank").cast("double") * lit(alpha)
          / col("__m").cast("double"), 9))
      .withColumn("__cut", max(when(col("p") <= col("bh_threshold"),
        col("rank")).otherwise(lit(0L))).over(wAll))
      .select(col(metricCol), col(zCol), col("p"), col("rank"),
        col("bh_threshold"),
        (col("rank") <= col("__cut")).cast("bigint").as("significant"))
  }

  /** DuckDB twin of [[benjaminiHochberg]]: `perMetricSql` must select
    * `(metric, z)`. */
  def sqlBenjaminiHochberg(perMetricSql: String,
                           alpha: Double = 0.05): String = {
    import graft.functions.Noise.sqlDouble
    val b = PhiB.map(sqlDouble)
    val t = s"(1.0e0 / (1.0e0 + ${sqlDouble(PhiT)} * abs(z)))"
    val poly = s"($t * (${b(0)} + $t * (${b(1)} + $t * (${b(2)} + " +
      s"$t * (${b(3)} + $t * ${b(4)})))))"
    val pdf = s"(exp(abs(z) * abs(z) * -0.5e0) * ${sqlDouble(InvSqrt2Pi)})"
    s"""
    WITH pm AS ($perMetricSql), withp AS (
      SELECT metric, z, round(2.0e0 * $pdf * $poly, 9) AS p FROM pm
    ), ranked AS (
      SELECT metric, z, p,
        CAST(row_number() OVER (ORDER BY p, metric) AS BIGINT) AS rank,
        CAST(count(*) OVER () AS BIGINT) AS m
      FROM withp
    ), thr AS (
      SELECT metric, z, p, rank,
        round(CAST(rank AS DOUBLE) * ${sqlDouble(alpha)}
          / CAST(m AS DOUBLE), 9) AS bh_threshold
      FROM ranked
    ), cut AS (
      SELECT max(CASE WHEN p <= bh_threshold THEN rank ELSE 0 END) AS c
      FROM thr)
    SELECT metric, z, p, rank, bh_threshold,
      CAST(rank <= c AS BIGINT) AS significant
    FROM thr CROSS JOIN cut"""
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) — the NONPARAMETRIC two-sample
    * test: does variant b's metric distribution stochastically dominate
    * a's? Where Welch assumes roughly-normal means, U ranks every
    * observation and survives the heavy-tailed, zero-inflated metrics
    * (revenue!) that break t-tests. Normal approximation with the
    * standard tie correction:
    *
    *   U_a = Σ_v n_a(v)·(cumB_below(v) + n_b(v)/2)
    *   z = (U_a − n_a·n_b/2) / √(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    *
    * Determinism & scale, one move (the KM/histogram recipe): the
    * metric lives on a DECIMAL grid, so ranking collapses to a groupBy
    * on the VALUE AXIS (bounded by the grid's value range, not by unit
    * count) + running sums over that axis via ordered windows. No
    * corpus-sized window, no per-unit rank materialized; every count
    * is exact BIGINT and the z is one fixed double sequence. Output
    * one row: `n_a, n_b, u_a (exact ties-as-halves), z (6dp)`. */
  def mannWhitney(perUnit: DataFrame, variantCol: String, metricCol: String,
                  a: String, b: String, exact: Boolean = true,
                  gridLevels: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sides = perUnit.filter(col(variantCol).isin(a, b))
    // exact = false: quantize the metric to gridLevels min-max grid
    // representatives first (AxisGrid) — the value axis is then
    // bounded at ANY corpus size; ranks can only move within one grid
    // cell, so the z drifts by at most the cross-cell tie mass
    // (RobustModeSpec pins <= 0.01 on this data)
    val keyed =
      if (exact) sides.withColumn("__mv", col(metricCol))
      else {
        val stats = sides.filter(col(metricCol).isNotNull)
          .agg(min(col(metricCol).cast("double")).as("__mn"),
            max(col(metricCol).cast("double")).as("__mx"))
        sides.crossJoin(broadcast(stats))
          .withColumn("__mv",
            graft.functions.AxisGrid.rep(col(metricCol).cast("double"),
              col("__mn"), col("__mx"), gridLevels))
      }
    val byValue = keyed
      .groupBy(col("__mv").as("__v"))
      .agg(count(when(col(variantCol) === a, lit(1))).as("__na"),
        count(when(col(variantCol) === b, lit(1))).as("__nb"))
    val wPrev = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byValue
      .withColumn("__cumB", coalesce(sum(col("__nb")).over(wPrev), lit(0L)))
      // 2·U keeps tie-halves integral: 2·na·cumB + na·nb
      .withColumn("__u2",
        lit(2L) * col("__na") * col("__cumB") + col("__na") * col("__nb"))
      .withColumn("__t", col("__na") + col("__nb"))
      .withColumn("__tc", col("__t") * col("__t") * col("__t") - col("__t"))
    val sums = terms.agg(
      sum(col("__na")).as("n_a"), sum(col("__nb")).as("n_b"),
      sum(col("__u2")).as("__u2s"), sum(col("__tc")).as("__tcs"))
    def d(c: String) = col(c).cast("double")
    val na = d("n_a"); val nb = d("n_b"); val n = na + nb
    val ua = d("__u2s") / lit(2.0)
    val varU = na * nb / lit(12.0) *
      ((n + lit(1.0)) - d("__tcs") / (n * (n - lit(1.0))))
    sums.select(col("n_a"), col("n_b"), ua.as("u_a"),
      when(varU > 0,
        round((ua - na * nb / lit(2.0)) / sqrt(varU), 6))
        .otherwise(lit(0.0)).as("z"))
  }

  /** KOLMOGOROV–SMIRNOV two-sample test — the DISTRIBUTION-SHAPE
    * companion to [[mannWhitney]]: where U asks "does b dominate a",
    * KS asks "is b's distribution the SAME as a's" and reacts to any
    * difference (location, spread, shape). D = sup_v |F̂_a(v) − F̂_b(v)|
    * over the pooled value axis; λ = D·√(n_a·n_b/(n_a+n_b)) with the
    * α = 5% asymptotic critical value λ > 1.358.
    *
    * Same scale-and-determinism move as Mann–Whitney: the pooled axis
    * is a groupBy on the VALUE (bounded by the decimal grid — or by
    * `gridLevels` when `exact = false` quantizes a continuous metric
    * through [[graft.functions.AxisGrid]]), the two empirical CDFs are
    * INCLUSIVE running sums over one ordered window, and D is a max of
    * per-value doubles (each one fixed IEEE division — order-
    * insensitive under max). No corpus-sized rank window. Output one
    * row: `n_a, n_b, ks_d (6dp), lambda (6dp), reject_05 (0/1)`;
    * the decision compares the UNROUNDED λ to the literal 1.358 —
    * identical bits cross-engine. */
  def ksTest(perUnit: DataFrame, variantCol: String, metricCol: String,
             a: String, b: String, exact: Boolean = true,
             gridLevels: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null metrics are excluded from the axis (the ecdf convention —
    // Spark's window sorts nulls first, DuckDB's last, so a null row
    // on the axis would diverge cross-engine)
    val sides = perUnit.filter(col(variantCol).isin(a, b)
      && col(metricCol).isNotNull)
    val keyed =
      if (exact) sides.withColumn("__mv", col(metricCol))
      else {
        val stats = sides.filter(col(metricCol).isNotNull)
          .agg(min(col(metricCol).cast("double")).as("__mn"),
            max(col(metricCol).cast("double")).as("__mx"))
        sides.crossJoin(broadcast(stats))
          .withColumn("__mv",
            graft.functions.AxisGrid.rep(col(metricCol).cast("double"),
              col("__mn"), col("__mx"), gridLevels))
      }
    val byValue = keyed
      .groupBy(col("__mv").as("__v"))
      .agg(count(when(col(variantCol) === a, lit(1))).as("__na"),
        count(when(col(variantCol) === b, lit(1))).as("__nb"))
    val totals = byValue.agg(sum(col("__na")).as("n_a"),
      sum(col("__nb")).as("n_b"))
    val wCum = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    def d(c: Column) = c.cast("double")
    val diffs = byValue
      .withColumn("__ca", sum(col("__na")).over(wCum))
      .withColumn("__cb", sum(col("__nb")).over(wCum))
      .crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        abs(d(col("__ca")) / d(col("n_a"))
          - d(col("__cb")) / d(col("n_b"))).as("__diff"))
    val dStat = diffs.groupBy(col("n_a"), col("n_b"))
      .agg(max(col("__diff")).as("__d"))
    val lam = col("__d") * sqrt(d(col("n_a")) * d(col("n_b"))
      / (d(col("n_a")) + d(col("n_b"))))
    dStat.select(col("n_a"), col("n_b"), round(col("__d"), 6).as("ks_d"),
      round(lam, 6).as("lambda"),
      (lam > lit(1.358)).cast("bigint").as("reject_05"))
  }

  /** DuckDB twin of [[ksTest]] — identical axis aggregation, inclusive
    * cumulative fold and double sequence. `perUnitSql` must select
    * `(variant, m)` with `m` DECIMAL. */
  def sqlKsTest(perUnitSql: String, a: String, b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val lam = s"(d_raw * sqrt(${d("n_a")} * ${d("n_b")} " +
      s"/ (${d("n_a")} + ${d("n_b")})))"
    s"""
    WITH pu AS ($perUnitSql), byv AS (
      SELECT m AS v,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS na,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS nb
      FROM pu WHERE variant IN ('$a', '$b') AND m IS NOT NULL GROUP BY 1
    ), cums AS (
      SELECT
        sum(na) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        sum(nb) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM byv
    ), tot AS (
      SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
      FROM byv
    ), dstat AS (
      SELECT n_a, n_b,
        max(abs(${d("ca")} / ${d("n_a")} - ${d("cb")} / ${d("n_b")})) AS d_raw
      FROM cums CROSS JOIN tot GROUP BY n_a, n_b)
    SELECT n_a, n_b, round(d_raw, 6) AS ks_d, round($lam, 6) AS lambda,
      CAST($lam > 1.358e0 AS BIGINT) AS reject_05
    FROM dstat"""
  }

  /** DuckDB twin of [[mannWhitney]] — identical axis aggregation,
    * running-sum fold and double sequence. `perUnitSql` must select
    * `(variant, m)` with `m` DECIMAL. */
  def sqlMannWhitney(perUnitSql: String, a: String, b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val n = s"(${d("n_a")} + ${d("n_b")})"
    val ua = s"(${d("u2s")} / 2.0e0)"
    val varU = s"""(${d("n_a")} * ${d("n_b")} / 12.0e0 *
      (($n + 1.0e0) - ${d("tcs")} / ($n * ($n - 1.0e0))))"""
    s"""
    WITH pu AS ($perUnitSql), byv AS (
      SELECT m AS v,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS na,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS nb
      FROM pu WHERE variant IN ('$a', '$b') GROUP BY 1
    ), terms AS (
      SELECT na, nb,
        coalesce(sum(nb) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumB,
        na + nb AS t
      FROM byv
    ), sums AS (
      SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
        CAST(sum(2 * na * cumB + na * nb) AS BIGINT) AS u2s,
        CAST(sum(t * t * t - t) AS BIGINT) AS tcs
      FROM terms)
    SELECT n_a, n_b, $ua AS u_a,
      CASE WHEN $varU > 0
        THEN round(($ua - ${d("n_a")} * ${d("n_b")} / 2.0e0) / sqrt($varU), 6)
        ELSE 0.0e0 END AS z
    FROM sums"""
  }

  /** 2×2 χ² TEST OF INDEPENDENCE — conversion-rate A/B in its exact
    * closed form: χ² = n(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) over the
    * (variant × converted) contingency table. One conditional
    * aggregate (four exact BIGINT cells) + one projection; χ²(1) >
    * 3.84 flags at 5%. Output one row: the four cells, both rates
    * (6dp), chi2 (6dp). Degenerate margins (a row or column of zeros)
    * yield chi2 = 0 rather than NaN. */
  def chiSquareConversion(perUnit: DataFrame, variantCol: String,
                          successCol: String, a: String, b: String): DataFrame = {
    val s = col(successCol).cast("int")
    val cells = perUnit.filter(col(variantCol).isin(a, b)).agg(
      count(when(col(variantCol) === a && s === 1, lit(1))).as("a_conv"),
      count(when(col(variantCol) === a && s === 0, lit(1))).as("a_no"),
      count(when(col(variantCol) === b && s === 1, lit(1))).as("b_conv"),
      count(when(col(variantCol) === b && s === 0, lit(1))).as("b_no"))
    def d(c: String) = col(c).cast("double")
    val n = d("a_conv") + d("a_no") + d("b_conv") + d("b_no")
    val det = d("a_conv") * d("b_no") - d("a_no") * d("b_conv")
    val denom = (d("a_conv") + d("a_no")) * (d("b_conv") + d("b_no")) *
      (d("a_conv") + d("b_conv")) * (d("a_no") + d("b_no"))
    cells.select(col("a_conv"), col("a_no"), col("b_conv"), col("b_no"),
      round(d("a_conv") / (d("a_conv") + d("a_no")), 6).as("rate_a"),
      round(d("b_conv") / (d("b_conv") + d("b_no")), 6).as("rate_b"),
      when(denom > 0, round(n * det * det / denom, 6))
        .otherwise(lit(0.0)).as("chi2"))
  }

  /** DuckDB twin of [[chiSquareConversion]]: `perUnitSql` must select
    * `(variant, success)` with success 0/1. */
  def sqlChiSquareConversion(perUnitSql: String, a: String,
                             b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val n = s"(${d("a_conv")} + ${d("a_no")} + ${d("b_conv")} + ${d("b_no")})"
    val det = s"(${d("a_conv")} * ${d("b_no")} - ${d("a_no")} * ${d("b_conv")})"
    val denom = s"""((${d("a_conv")} + ${d("a_no")}) * (${d("b_conv")} + ${d("b_no")})
      * (${d("a_conv")} + ${d("b_conv")}) * (${d("a_no")} + ${d("b_no")}))"""
    s"""
    WITH pu AS ($perUnitSql), cells AS (
      SELECT
        CAST(count(CASE WHEN variant = '$a' AND success = 1 THEN 1 END) AS BIGINT) AS a_conv,
        CAST(count(CASE WHEN variant = '$a' AND success = 0 THEN 1 END) AS BIGINT) AS a_no,
        CAST(count(CASE WHEN variant = '$b' AND success = 1 THEN 1 END) AS BIGINT) AS b_conv,
        CAST(count(CASE WHEN variant = '$b' AND success = 0 THEN 1 END) AS BIGINT) AS b_no
      FROM pu WHERE variant IN ('$a', '$b'))
    SELECT a_conv, a_no, b_conv, b_no,
      round(${d("a_conv")} / (${d("a_conv")} + ${d("a_no")}), 6) AS rate_a,
      round(${d("b_conv")} / (${d("b_conv")} + ${d("b_no")}), 6) AS rate_b,
      CASE WHEN $denom > 0 THEN round($n * $det * $det / $denom, 6)
        ELSE 0.0e0 END AS chi2
    FROM cells"""
  }

  /** DELTA-METHOD RATIO-METRIC CI — the correct interval for the
    * metrics that are RATIOS of per-unit sums (clicks/views,
    * revenue/session, tokens/doc): the naive per-row mean of ratios is
    * a different (wrong) estimand, and treating R = ΣX/ΣY as a mean
    * ignores that numerator and denominator are correlated within a
    * unit. The delta method (Deng et al., "Applying the Delta Method
    * in Metric Analytics") gives
    *
    *   var(R) ≈ (var(X) − 2R·cov(X,Y) + R²·var(Y)) / (n·Ȳ²)
    *
    * from ONE pass of exact sums (n, ΣX, ΣY, ΣX², ΣY², ΣXY on the
    * decimal grid). Output one row: `n, ratio, se, ci_lo, ci_hi`
    * (6dp, normal interval at the literal z). Scale: a single
    * partial-aggregated scan; nothing unit-count-sized moves. */
  def ratioMetricCi(perUnit: DataFrame, xCol: String, yCol: String,
                    zAlpha: Double = 1.959964): DataFrame = {
    val x = col(xCol); val y = col(yCol)
    val sums = perUnit.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val n = d("n")
    val mx = d("sx") / n; val my = d("sy") / n
    val varX = (d("sxx") - d("sx") * d("sx") / n) / (n - lit(1.0))
    val varY = (d("syy") - d("sy") * d("sy") / n) / (n - lit(1.0))
    val covXY = (d("sxy") - d("sx") * d("sy") / n) / (n - lit(1.0))
    val r = mx / my
    val se = sqrt((varX - lit(2.0) * r * covXY + r * r * varY)
      / (n * my * my))
    sums.select(col("n"), round(r, 6).as("ratio"), round(se, 6).as("se"),
      round(r - lit(zAlpha) * se, 6).as("ci_lo"),
      round(r + lit(zAlpha) * se, 6).as("ci_hi"))
  }

  /** DuckDB twin of [[ratioMetricCi]]: `perUnitSql` must select
    * `(x, y)` on an exact grid (DECIMAL or integer). */
  def sqlRatioMetricCi(perUnitSql: String,
                       zAlpha: Double = 1.959964): String = {
    import graft.functions.Noise.sqlDouble
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val n = d("n")
    val mx = s"(${d("sx")} / $n)"; val my = s"(${d("sy")} / $n)"
    val varX = s"((${d("sxx")} - ${d("sx")} * ${d("sx")} / $n) / ($n - 1.0e0))"
    val varY = s"((${d("syy")} - ${d("sy")} * ${d("sy")} / $n) / ($n - 1.0e0))"
    val covXY = s"((${d("sxy")} - ${d("sx")} * ${d("sy")} / $n) / ($n - 1.0e0))"
    val r = s"($mx / $my)"
    val se = s"""sqrt(($varX - 2.0e0 * $r * $covXY + $r * $r * $varY)
      / ($n * $my * $my))"""
    s"""
    WITH pu AS ($perUnitSql), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pu)
    SELECT n, round($r, 6) AS ratio, round($se, 6) AS se,
      round($r - ${sqlDouble(zAlpha)} * $se, 6) AS ci_lo,
      round($r + ${sqlDouble(zAlpha)} * $se, 6) AS ci_hi
    FROM sums"""
  }

  /** DIFFERENCE-IN-DIFFERENCES — the causal read when a change ships
    * WITHOUT randomization (a staged rollout, a policy change in one
    * segment): compare the treated group's pre→post movement against
    * the control group's,
    *
    *   DiD = (ȳ_{t,post} − ȳ_{t,pre}) − (ȳ_{c,post} − ȳ_{c,pre})
    *
    * which nets out both the groups' standing difference and the
    * common time trend (the two confounders a naive pre/post or
    * treated/control comparison eats raw). SE treats the four cells
    * as independent samples (the classic 2×2 form):
    * √(Σ var_cell/n_cell).
    *
    * Determinism/scale: ONE conditional aggregate over the four
    * (group × period) cells — exact decimal sums, fixed double
    * sequences, no join, no window; the [[welchTTest]] shape with a
    * 2×2 key. Output one row: per-cell n/mean, diff_pre, diff_post,
    * did, se, t_did (6dp). */
  def diffInDiff(rows: DataFrame, groupCol: String, periodCol: String,
                 metricCol: String, treated: String, control: String,
                 pre: String, post: String): DataFrame = {
    val m = col(metricCol)
    def cell(g: String, p: String, agg: Column): Column =
      sum(when(col(groupCol) === g && col(periodCol) === p, agg))
    def cnt(g: String, p: String): Column =
      count(when(col(groupCol) === g && col(periodCol) === p, lit(1)))
    val cells = Seq((treated, pre, "tp"), (treated, post, "tq"),
      (control, pre, "cp"), (control, post, "cq"))
    val sums = rows.agg(
      cnt(cells.head._1, cells.head._2).as("n_tp"),
      (cells.tail.map { case (g, p, s) => cnt(g, p).as(s"n_$s") } ++
        cells.map { case (g, p, s) => cell(g, p, m).as(s"s_$s") } ++
        cells.map { case (g, p, s) => cell(g, p, m * m).as(s"q_$s") }): _*)
    def d(c: String) = col(c).cast("double")
    def mean(s: String) = d(s"s_$s") / d(s"n_$s")
    def varN(s: String) =
      ((d(s"q_$s") - d(s"s_$s") * d(s"s_$s") / d(s"n_$s"))
        / (d(s"n_$s") - lit(1.0))) / d(s"n_$s")
    val diffPre = mean("tp") - mean("cp")
    val diffPost = mean("tq") - mean("cq")
    val did = diffPost - diffPre
    val se = sqrt(varN("tp") + varN("tq") + varN("cp") + varN("cq"))
    sums.select(
      col("n_tp"), col("n_tq"), col("n_cp"), col("n_cq"),
      round(mean("tp"), 6).as("mean_t_pre"),
      round(mean("tq"), 6).as("mean_t_post"),
      round(mean("cp"), 6).as("mean_c_pre"),
      round(mean("cq"), 6).as("mean_c_post"),
      round(diffPre, 6).as("diff_pre"),
      round(diffPost, 6).as("diff_post"),
      round(did, 6).as("did"), round(se, 6).as("se"),
      round(did / se, 6).as("t_did"))
  }

  /** DuckDB twin of [[diffInDiff]]: `rowsSql` must select
    * `(grp, period, m)` with `m` on an exact grid. */
  def sqlDiffInDiff(rowsSql: String, treated: String, control: String,
                    pre: String, post: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def mean(s: String) = s"(${d(s"s_$s")} / ${d(s"n_$s")})"
    def varN(s: String) =
      s"""(((${d(s"q_$s")} - ${d(s"s_$s")} * ${d(s"s_$s")} / ${d(s"n_$s")})
        / (${d(s"n_$s")} - 1.0e0)) / ${d(s"n_$s")})"""
    val cells = Seq((treated, pre, "tp"), (treated, post, "tq"),
      (control, pre, "cp"), (control, post, "cq"))
    val aggs = cells.map { case (g, p, s) =>
      s"""CAST(count(CASE WHEN grp = '$g' AND period = '$p' THEN 1 END)
           AS BIGINT) AS n_$s,
         sum(CASE WHEN grp = '$g' AND period = '$p' THEN m END) AS s_$s,
         sum(CASE WHEN grp = '$g' AND period = '$p' THEN m * m END)
           AS q_$s"""
    }.mkString(",\n")
    val diffPre = s"(${mean("tp")} - ${mean("cp")})"
    val diffPost = s"(${mean("tq")} - ${mean("cq")})"
    val did = s"($diffPost - $diffPre)"
    val se = s"""sqrt(${varN("tp")} + ${varN("tq")} + ${varN("cp")}
      + ${varN("cq")})"""
    s"""
    WITH r0 AS (SELECT grp, period, m FROM ($rowsSql)),
    sums AS (SELECT $aggs FROM r0)
    SELECT n_tp, n_tq, n_cp, n_cq,
      round(${mean("tp")}, 6) AS mean_t_pre,
      round(${mean("tq")}, 6) AS mean_t_post,
      round(${mean("cp")}, 6) AS mean_c_pre,
      round(${mean("cq")}, 6) AS mean_c_post,
      round($diffPre, 6) AS diff_pre,
      round($diffPost, 6) AS diff_post,
      round($did, 6) AS did, round($se, 6) AS se,
      round($did / $se, 6) AS t_did
    FROM sums"""
  }

  /** YUEN'S TRIMMED-MEAN T-TEST — robust two-sample inference for
    * heavy-tailed metrics (Yuen 1974): trim the top/bottom `trim`
    * fraction of each arm BY RANK, compare trimmed means with the
    * winsorized-variance standard error,
    *
    *   t = (x̄t_a − x̄t_b) / √(d_a + d_b),
    *   d_v = (n_v − 1)·s²w_v / (h_v·(h_v − 1)),  h_v = n_v − 2k_v
    *
    * with Welch-style df. Where [[mannWhitney]] only ranks and
    * [[welchTTest]] lets one whale user drag the mean, Yuen reports an
    * effect SIZE in metric units that outliers cannot own.
    *
    * Determinism/scale — the Gini/M–W bounded-value-axis recipe: the
    * metric folds to exact CENT-grid BIGINTs, per-(variant, value)
    * counts carry 1-based rank ranges [lo, hi] from one ordered
    * expanding window over the DISTINCT VALUE axis (never a per-row
    * rank), surviving/winsorized masses are integer interval overlaps,
    * and the Σ v·cnt / Σ v²·cnt folds run as exact DECIMAL(38)
    * products — (10,0)×(14,0)×(14,0) caps at 38 on BOTH engines. The
    * trimmed boundary values x_(k+1), x_(n−k) are conditional mins
    * over the same axis. Final statistics are fixed double sequences,
    * 6-dp. Output one row: `(n_a, n_b, h_a, h_b, tm_a, tm_b, diff,
    * se, t_yuen, df_yuen)`. */
  def yuenTrimmedT(perUnit: DataFrame, variantCol: String,
                   metricCol: String, a: String, b: String,
                   trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim must be in (0, 0.5): $trim")
    import org.apache.spark.sql.expressions.Window
    val cents = (col(metricCol).cast("decimal(18,2)") * lit(100L))
      .cast("long")
    val axis = perUnit
      .filter(col(variantCol).isin(a, b) && col(metricCol).isNotNull)
      .select(col(variantCol).as("__v"), cents.as("__x"))
      .groupBy(col("__v"), col("__x")).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__v")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = axis.groupBy(col("__v")).agg(sum(col("__c")).as("__n"))
    val ranked = axis
      .withColumn("__hi", sum(col("__c")).over(wCum))
      .withColumn("__lo", col("__hi") - col("__c") + 1L)
      .join(tot, "__v")
      .withColumn("__k", floor(lit(trim) * col("__n").cast("double"))
        .cast("long"))
    def dec(c: Column, p: Int) = c.cast(s"decimal($p,0)")
    val surv = greatest(lit(0L),
      least(col("__hi"), col("__n") - col("__k"))
        - greatest(col("__lo"), col("__k") + 1L) + 1L)
    val perVariant = ranked
      .withColumn("__surv", surv)
      .groupBy(col("__v"))
      .agg(max(col("__n")).as("n"), max(col("__k")).as("k"),
        // boundary order statistics: the values whose rank interval
        // covers k+1 and n−k
        min(when(col("__lo") <= col("__k") + 1L
          && col("__hi") >= col("__k") + 1L, col("__x"))).as("xlo"),
        min(when(col("__lo") <= col("__n") - col("__k")
          && col("__hi") >= col("__n") - col("__k"), col("__x"))).as("xhi"),
        sum(dec(col("__surv"), 10) * dec(col("__x"), 14)).as("st"),
        sum(dec(col("__surv"), 10) * dec(col("__x"), 14)
          * dec(col("__x"), 14)).as("stt"))
    def one(v: String, sfx: String) = {
      val r = perVariant.filter(col("__v") === v)
      r.select(col("n").as(s"n$sfx"), col("k").as(s"k$sfx"),
        col("xlo").as(s"xlo$sfx"), col("xhi").as(s"xhi$sfx"),
        col("st").as(s"st$sfx"), col("stt").as(s"stt$sfx"))
    }
    val row = one(a, "a").crossJoin(broadcast(one(b, "b")))
    def d(c: Column) = c.cast("double")
    def stats(sfx: String): (Column, Column, Column, Column) = {
      val n = d(col(s"n$sfx")); val k = d(col(s"k$sfx"))
      val h = n - lit(2.0) * k
      val xlo = d(col(s"xlo$sfx")); val xhi = d(col(s"xhi$sfx"))
      val tm = d(col(s"st$sfx")) / h / lit(100.0)
      // winsorized sums: trimmed tails re-enter at the boundary values
      val sw = d(col(s"st$sfx")) + k * xlo + k * xhi
      val sww = d(col(s"stt$sfx")) + k * xlo * xlo + k * xhi * xhi
      val varW = (sww - sw * sw / n) / (n - lit(1.0)) / lit(10000.0)
      val dv = (n - lit(1.0)) * varW / (h * (h - lit(1.0)))
      (h, tm, dv, n)
    }
    val (ha, tma, da, na) = stats("a")
    val (hb, tmb, db, nb) = stats("b")
    val se = sqrt(da + db)
    val diff = tma - tmb
    val dfY = (da + db) * (da + db) /
      (da * da / (ha - lit(1.0)) + db * db / (hb - lit(1.0)))
    row.select(col("na").cast("bigint").as("n_a"),
      col("nb").cast("bigint").as("n_b"),
      ha.cast("bigint").as("h_a"), hb.cast("bigint").as("h_b"),
      round(tma, 6).as("tm_a"), round(tmb, 6).as("tm_b"),
      round(diff, 6).as("diff"), round(se, 6).as("se"),
      round(diff / se, 6).as("t_yuen"), round(dfY, 6).as("df_yuen"))
  }

  /** DuckDB twin of [[yuenTrimmedT]]: `perUnitSql` must select
    * `(variant, m)` with `m` castable to DECIMAL(18,2). */
  def sqlYuenTrimmedT(perUnitSql: String, a: String, b: String,
                      trim: Double = 0.2): String = {
    import graft.functions.Noise.sqlDouble
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def stats(sfx: String) = {
      val n = d(s"n$sfx"); val k = d(s"k$sfx")
      val h = s"($n - 2.0e0 * $k)"
      val xlo = d(s"xlo$sfx"); val xhi = d(s"xhi$sfx")
      val tm = s"(${d(s"st$sfx")} / $h / 100.0e0)"
      val sw = s"(${d(s"st$sfx")} + $k * $xlo + $k * $xhi)"
      val sww = s"(${d(s"stt$sfx")} + $k * $xlo * $xlo + $k * $xhi * $xhi)"
      val varW = s"(($sww - $sw * $sw / $n) / ($n - 1.0e0) / 10000.0e0)"
      val dv = s"(($n - 1.0e0) * $varW / ($h * ($h - 1.0e0)))"
      (h, tm, dv)
    }
    val (ha, tma, da) = stats("a")
    val (hb, tmb, db) = stats("b")
    val se = s"sqrt($da + $db)"
    val diff = s"($tma - $tmb)"
    val dfY = s"""(($da + $db) * ($da + $db)
      / ($da * $da / ($ha - 1.0e0) + $db * $db / ($hb - 1.0e0)))"""
    val g = sqlDouble(trim)
    def side(v: String, sfx: String) = s"""
      SELECT max(n) AS n$sfx, max(k) AS k$sfx,
        min(CASE WHEN lo <= k + 1 AND hi >= k + 1 THEN x END) AS xlo$sfx,
        min(CASE WHEN lo <= n - k AND hi >= n - k THEN x END) AS xhi$sfx,
        sum(CAST(surv AS DECIMAL(10,0)) * CAST(x AS DECIMAL(14,0)))
          AS st$sfx,
        sum(CAST(surv AS DECIMAL(10,0)) * CAST(x AS DECIMAL(14,0))
          * CAST(x AS DECIMAL(14,0))) AS stt$sfx
      FROM ranked WHERE v = '$v'"""
    s"""
    WITH r0 AS (
      SELECT variant AS v,
        CAST(CAST(m AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM ($perUnitSql)
      WHERE variant IN ('$a', '$b') AND m IS NOT NULL
    ), axis AS (
      SELECT v, x, CAST(count(*) AS BIGINT) AS c FROM r0 GROUP BY v, x
    ), ranked0 AS (
      SELECT v, x, c,
        CAST(sum(c) OVER (PARTITION BY v ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS hi,
        CAST(sum(c) OVER (PARTITION BY v) AS BIGINT) AS n
      FROM axis
    ), ranked AS (
      SELECT v, x, c, hi, hi - c + 1 AS lo, n,
        CAST(floor($g * CAST(n AS DOUBLE)) AS BIGINT) AS k,
        greatest(CAST(0 AS BIGINT),
          least(hi, n - CAST(floor($g * CAST(n AS DOUBLE)) AS BIGINT))
          - greatest(hi - c + 1,
              CAST(floor($g * CAST(n AS DOUBLE)) AS BIGINT) + 1) + 1)
          AS surv
      FROM ranked0
    ), sa AS (${side(a, "a")}), sb AS (${side(b, "b")})
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      CAST($ha AS BIGINT) AS h_a, CAST($hb AS BIGINT) AS h_b,
      round($tma, 6) AS tm_a, round($tmb, 6) AS tm_b,
      round($diff, 6) AS diff, round($se, 6) AS se,
      round($diff / $se, 6) AS t_yuen, round($dfY, 6) AS df_yuen
    FROM sa CROSS JOIN sb"""
  }

  /** POST-STRATIFIED DIFFERENCE — the categorical counterpart to
    * [[cuped]]'s covariate adjustment: when a stratum variable (device
    * class, country, signup cohort) predicts the metric, the adjusted
    * effect re-weights per-stratum arms to the POOLED stratum shares,
    *
    *   Δ_adj = Σ_s (n_s / N) · (ȳ_{a,s} − ȳ_{b,s}),
    *   Var   = Σ_s (n_s / N)² · (var_{a,s}/n_{a,s} + var_{b,s}/n_{b,s})
    *
    * killing both chance covariate imbalance and the variance the
    * strata explain. Strata missing one arm carry no contrast and are
    * excluded from BOTH the weights and the estimate (flagged in
    * `n_strata_dropped` — silently renormalizing against one-armed
    * strata would bias Δ).
    *
    * Determinism/scale: one (variant, stratum) hash agg of exact
    * decimal sums (the [[welchTTest]] pass keyed one level deeper),
    * then a stratum-axis fold — per-stratum terms are fixed double
    * sequences and the final sums run as ordered expanding windows
    * over the BOUNDED stratum axis. Output one row: n_a, n_b,
    * n_strata, n_strata_dropped, diff_raw, diff_adj, se_adj, t_adj
    * (6dp). */
  def stratifiedDiff(perUnit: DataFrame, variantCol: String,
                     stratumCol: String, metricCol: String,
                     a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = col(metricCol)
    def side(v: String, agg: Column): Column =
      sum(when(col(variantCol) === v, agg).otherwise(lit(null)))
    val perStratum = perUnit
      .filter(col(variantCol).isin(a, b) && col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(count(when(col(variantCol) === a, lit(1))).as("na"),
        count(when(col(variantCol) === b, lit(1))).as("nb"),
        side(a, m).as("sa"), side(b, m).as("sb"),
        side(a, m * m).as("qa"), side(b, m * m).as("qb"))
    def d(c: String) = col(c).cast("double")
    val both = col("na") >= 2 && col("nb") >= 2
    val meanA = d("sa") / d("na")
    val meanB = d("sb") / d("nb")
    val varA = (d("qa") - d("sa") * d("sa") / d("na")) / (d("na") - lit(1.0))
    val varB = (d("qb") - d("sb") * d("sb") / d("nb")) / (d("nb") - lit(1.0))
    val wCum = Window.partitionBy().orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val terms = perStratum
      .withColumn("__keep", both.cast("int"))
      .withColumn("__w", when(both, (col("na") + col("nb")).cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("__d", when(both, meanA - meanB).otherwise(lit(0.0)))
      .withColumn("__v", when(both,
        varA / d("na") + varB / d("nb")).otherwise(lit(0.0)))
      .withColumn("__cw", sum(col("__w")).over(wCum))
      .withColumn("__cwd", sum(col("__w") * col("__d")).over(wCum))
      .withColumn("__cwwv", sum(col("__w") * col("__w") * col("__v"))
        .over(wCum))
      .withColumn("__ck", sum(col("__keep").cast("bigint")).over(wCum))
      .withColumn("__csa", sum(when(both, col("sa"))).over(wCum))
      .withColumn("__csb", sum(when(both, col("sb"))).over(wCum))
      .withColumn("__cna", sum(when(both, col("na"))).over(wCum))
      .withColumn("__cnb", sum(when(both, col("nb"))).over(wCum))
    val last = terms.agg(
      max_by(col("__cw"), col("__s")).as("tw"),
      max_by(col("__cwd"), col("__s")).as("twd"),
      max_by(col("__cwwv"), col("__s")).as("twwv"),
      max_by(col("__ck"), col("__s")).as("kept"),
      max_by(col("__csa"), col("__s")).as("tsa"),
      max_by(col("__csb"), col("__s")).as("tsb"),
      max_by(col("__cna"), col("__s")).as("tna"),
      max_by(col("__cnb"), col("__s")).as("tnb"),
      count(lit(1)).as("n_strata"))
    def dd(c: String) = col(c).cast("double")
    val diffAdj = dd("twd") / dd("tw")
    val seAdj = sqrt(col("twwv") / (dd("tw") * dd("tw")))
    val diffRaw = (dd("tsa") / dd("tna")) - (dd("tsb") / dd("tnb"))
    last.select(
      col("tna").cast("bigint").as("n_a"),
      col("tnb").cast("bigint").as("n_b"),
      col("n_strata"),
      (col("n_strata") - col("kept")).as("n_strata_dropped"),
      round(diffRaw, 6).as("diff_raw"),
      round(diffAdj, 6).as("diff_adj"),
      round(seAdj, 6).as("se_adj"),
      round(diffAdj / seAdj, 6).as("t_adj"))
  }

  /** DuckDB twin of [[stratifiedDiff]]: `perUnitSql` must select
    * `(variant, stratum, m)` with `m` on an exact grid. */
  def sqlStratifiedDiff(perUnitSql: String, a: String,
                        b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val meanA = s"(${d("sa")} / ${d("na")})"
    val meanB = s"(${d("sb")} / ${d("nb")})"
    val varA = s"((${d("qa")} - ${d("sa")} * ${d("sa")} / ${d("na")}) / (${d("na")} - 1.0e0))"
    val varB = s"((${d("qb")} - ${d("sb")} * ${d("sb")} / ${d("nb")}) / (${d("nb")} - 1.0e0))"
    val over = "OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    s"""
    WITH r0 AS (
      SELECT variant, stratum AS s, m FROM ($perUnitSql)
      WHERE variant IN ('$a', '$b') AND stratum IS NOT NULL
    ), ps AS (
      SELECT s,
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS na,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS nb,
        sum(CASE WHEN variant = '$a' THEN m END) AS sa,
        sum(CASE WHEN variant = '$b' THEN m END) AS sb,
        sum(CASE WHEN variant = '$a' THEN m * m END) AS qa,
        sum(CASE WHEN variant = '$b' THEN m * m END) AS qb
      FROM r0 GROUP BY s
    ), t AS (
      SELECT s, na, nb, sa, sb,
        CASE WHEN na >= 2 AND nb >= 2 THEN 1 ELSE 0 END AS keep,
        CASE WHEN na >= 2 AND nb >= 2
          THEN CAST(na + nb AS DOUBLE) ELSE 0.0e0 END AS w,
        CASE WHEN na >= 2 AND nb >= 2
          THEN $meanA - $meanB ELSE 0.0e0 END AS dd,
        CASE WHEN na >= 2 AND nb >= 2
          THEN $varA / ${d("na")} + $varB / ${d("nb")} ELSE 0.0e0 END AS v
      FROM ps
    ), c AS (
      SELECT s,
        sum(w) $over AS cw,
        sum(w * dd) $over AS cwd,
        sum(w * w * v) $over AS cwwv,
        CAST(sum(keep) $over AS BIGINT) AS ck,
        sum(CASE WHEN keep = 1 THEN sa END) $over AS csa,
        sum(CASE WHEN keep = 1 THEN sb END) $over AS csb,
        CAST(sum(CASE WHEN keep = 1 THEN na END) $over AS BIGINT) AS cna,
        CAST(sum(CASE WHEN keep = 1 THEN nb END) $over AS BIGINT) AS cnb,
        CAST(count(*) OVER () AS BIGINT) AS n_strata
      FROM t
    ), last AS (
      SELECT max_by(cw, s) AS tw, max_by(cwd, s) AS twd,
        max_by(cwwv, s) AS twwv, max_by(ck, s) AS kept,
        max_by(csa, s) AS tsa, max_by(csb, s) AS tsb,
        max_by(cna, s) AS tna, max_by(cnb, s) AS tnb,
        max(n_strata) AS n_strata
      FROM c)
    SELECT tna AS n_a, tnb AS n_b, n_strata,
      n_strata - kept AS n_strata_dropped,
      round(${d("tsa")} / ${d("tna")} - ${d("tsb")} / ${d("tnb")}, 6)
        AS diff_raw,
      round(${d("twd")} / ${d("tw")}, 6) AS diff_adj,
      round(sqrt(twwv / (${d("tw")} * ${d("tw")})), 6) AS se_adj,
      round((${d("twd")} / ${d("tw")})
        / sqrt(twwv / (${d("tw")} * ${d("tw")})), 6) AS t_adj
    FROM last"""
  }

  /** QUANTILE TREATMENT EFFECTS — where the mean-diff stack
    * ([[welchTTest]], [[clusterDiff]]) answers "did the average
    * move", this answers "WHERE did the distribution move": per
    * requested percentile p, the two variants' exact type-7 quantiles
    * and their difference. The standard read for latency/spend
    * metrics where a treatment helps the median but wrecks p95 — a
    * mean test averages that away.
    *
    * Determinism: the metric folds to exact micro-unit BIGINTs
    * (decimal-grid contract), `percentile` ≡ DuckDB `quantile_cont`
    * interpolates INTEGERS — the [[graft.operators.SeriesStats
    * .theilSen]] recipe — and every output is one fixed double
    * sequence rounded 6-dp.
    *
    * Scale: exact `percentile` buffers each variant's values in one
    * aggregation buffer — the documented [[graft.impute.Robust]]
    * hazard, acceptable per-experiment (two groups), and the same
    * `exact = false` trade applies: GK sketches via
    * `approx_percentile` at corpus scale (rows+spec mode).
    *
    * Output one row per p: `(p, n_a, n_b, q_a, q_b, qte)`. */
  def quantileEffect(perUnit: DataFrame, variantCol: String,
                     metricCol: String, a: String, b: String,
                     ps: Seq[Double], exact: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1))
    val m = (col(metricCol).cast("decimal(18,2)") * lit(1000000L))
      .cast("long")
    val psList = ps.mkString(", ")
    def qs(v: String) = {
      val fn = if (exact) "percentile" else "approx_percentile"
      perUnit.filter(col(variantCol) === v)
        .select(m.as("__m"))
        .agg(count(lit(1)).as(s"n_$v"),
          expr(s"$fn(__m, array($psList))").as(s"__qs_$v"))
    }
    val row = qs(a).withColumnRenamed(s"n_$a", "n_a")
      .withColumnRenamed(s"__qs_$a", "__qa")
      .crossJoin(broadcast(qs(b).withColumnRenamed(s"n_$b", "n_b")
        .withColumnRenamed(s"__qs_$b", "__qb")))
    val pArr = array(ps.map(lit): _*)
    row.select(posexplode(pArr).as(Seq("__i", "p")),
        col("n_a"), col("n_b"), col("__qa"), col("__qb"))
      .select(col("p"), col("n_a"), col("n_b"),
        round(element_at(col("__qa"), col("__i") + 1).cast("double")
          / lit(1e6), 6).as("q_a"),
        round(element_at(col("__qb"), col("__i") + 1).cast("double")
          / lit(1e6), 6).as("q_b"),
        round((element_at(col("__qa"), col("__i") + 1).cast("double")
          - element_at(col("__qb"), col("__i") + 1).cast("double"))
          / lit(1e6), 6).as("qte"))
  }

  /** DuckDB twin of [[quantileEffect]] (exact mode): `perUnitSql`
    * must select `(variant, m)` with `m` castable to DECIMAL(18,2). */
  def sqlQuantileEffect(perUnitSql: String, a: String, b: String,
                        ps: Seq[Double]): String = {
    import graft.functions.Noise.sqlDouble
    val lst = ps.map(sqlDouble).mkString("[", ", ", "]")
    s"""
    WITH r0 AS (
      SELECT variant,
        CAST(CAST(m AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS m
      FROM ($perUnitSql) WHERE variant IN ('$a', '$b')
    ), qa AS (
      SELECT CAST(count(*) AS BIGINT) AS n_a, quantile_cont(m, $lst) AS qs
      FROM r0 WHERE variant = '$a'
    ), qb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_b, quantile_cont(m, $lst) AS qs
      FROM r0 WHERE variant = '$b'
    ), px AS (
      SELECT unnest($lst) AS p,
        CAST(generate_subscripts($lst, 1) AS BIGINT) AS i)
    SELECT p, n_a, n_b,
      round(CAST(qa.qs[i] AS DOUBLE) / 1000000.0e0, 6) AS q_a,
      round(CAST(qb.qs[i] AS DOUBLE) / 1000000.0e0, 6) AS q_b,
      round((CAST(qa.qs[i] AS DOUBLE) - CAST(qb.qs[i] AS DOUBLE))
        / 1000000.0e0, 6) AS qte
    FROM px CROSS JOIN qa CROSS JOIN qb"""
  }

  /** CLUSTER-ROBUST DIFFERENCE IN MEANS — the analysis every
    * experiment with unit-of-randomization ≠ unit-of-analysis needs:
    * variants are assigned per CLUSTER (user, session, domain) but the
    * metric is measured per ROW (event, pageview, document). Rows
    * within a cluster are correlated, so the naive per-row Welch SE is
    * too small by roughly √(design effect) and the t-test over-rejects
    * — the single most common false-positive factory in A/B practice.
    *
    * Estimator: per-variant mean is the ratio of cluster sums
    * μ̂ = Σ_c T_c / Σ_c n_c (≡ the plain row mean). Its variance is the
    * delta-method / CR1 sandwich over cluster totals,
    *
    *   Var(μ̂) = C/((C−1)·N²) · Σ_c (T_c − μ̂·n_c)²
    *
    * expanded to Σ-form (ΣT², ΣTn, Σn² — exact DECIMAL/BIGINT folds)
    * so no second pass over residuals is needed. The naive per-row SE
    * is reported alongside, and `design_effect` = Var_cluster/Var_naive
    * quantifies the correlation penalty.
    *
    * Determinism: cluster totals are exact decimal-grid sums; the
    * quadratic folds (T², T·n, n²) stay exact (DECIMAL×DECIMAL widens,
    * both engines); the t statistic is one fixed double sequence
    * rounded 6-dp. Scale: one hash shuffle to (variant, cluster)
    * partial-aggregated totals, then a 1-row conditional aggregate —
    * the [[welchTTest]] shape with one extra keyed layer; nothing
    * ordered, nothing collected.
    *
    * Output one row: c_a, c_b (clusters), n_a, n_b (rows), mean_a,
    * mean_b, diff, se_naive, se_cluster, design_effect, t_cluster. */
  def clusterDiff(rows: DataFrame, variantCol: String, clusterCol: String,
                  metricCol: String, a: String, b: String): DataFrame = {
    val m = col(metricCol)
    // cluster totals re-anchored on a FIXED (18,6)/(10,0) grid so the
    // quadratic folds (t², t·n, n²) stay inside DECIMAL(38) in BOTH
    // engines — exact as long as the metric scale ≤ 6 and a cluster
    // total < 1e12, which any per-cluster money/count metric satisfies
    val perCluster = rows
      .filter(col(variantCol).isin(a, b))
      .groupBy(col(variantCol).as("__v"), col(clusterCol).as("__c"))
      .agg(sum(m).as("__t0"), count(lit(1)).as("__n0"),
        sum(m * m).as("__q0"))
      .select(col("__v"),
        col("__t0").cast("decimal(18,6)").as("__t"),
        col("__n0").cast("decimal(10,0)").as("__n"),
        col("__q0").cast("decimal(18,6)").as("__q"))
    def side(v: String, agg: Column): Column =
      sum(when(col("__v") === v, agg).otherwise(lit(null)))
    val sums = perCluster.agg(
      count(when(col("__v") === a, lit(1))).as("c_a"),
      count(when(col("__v") === b, lit(1))).as("c_b"),
      side(a, col("__n")).as("n_a"), side(b, col("__n")).as("n_b"),
      side(a, col("__t")).as("s_a"), side(b, col("__t")).as("s_b"),
      side(a, col("__q")).as("q_a"), side(b, col("__q")).as("q_b"),
      side(a, col("__t") * col("__t")).as("tt_a"),
      side(b, col("__t") * col("__t")).as("tt_b"),
      side(a, col("__t") * col("__n")).as("tn_a"),
      side(b, col("__t") * col("__n")).as("tn_b"),
      side(a, col("__n") * col("__n")).as("nn_a"),
      side(b, col("__n") * col("__n")).as("nn_b"))
    def d(c: String) = col(c).cast("double")
    def meanOf(s: String, n: String) = d(s) / d(n)
    val meanA = meanOf("s_a", "n_a"); val meanB = meanOf("s_b", "n_b")
    // cluster-robust: C/((C−1)·N²) · (ΣT² − 2μΣTn + μ²Σn²)
    def vClu(mu: Column, ct: String, n: String, tt: String, tn: String,
             nn: String) =
      d(ct) / ((d(ct) - lit(1.0)) * d(n) * d(n)) *
        (d(tt) - lit(2.0) * mu * d(tn) + mu * mu * d(nn))
    // naive per-row: sample var / n from the same exact sums
    def vNaive(mu: Column, n: String, s: String, q: String) =
      ((d(q) - d(s) * d(s) / d(n)) / (d(n) - lit(1.0))) / d(n)
    val vcA = vClu(meanA, "c_a", "n_a", "tt_a", "tn_a", "nn_a")
    val vcB = vClu(meanB, "c_b", "n_b", "tt_b", "tn_b", "nn_b")
    val vnA = vNaive(meanA, "n_a", "s_a", "q_a")
    val vnB = vNaive(meanB, "n_b", "s_b", "q_b")
    val diff = meanA - meanB
    val seClu = sqrt(vcA + vcB)
    val seNaive = sqrt(vnA + vnB)
    sums.select(col("c_a"), col("c_b"),
      col("n_a").cast("bigint").as("n_a"),
      col("n_b").cast("bigint").as("n_b"),
      round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
      round(diff, 6).as("diff"),
      round(seNaive, 6).as("se_naive"), round(seClu, 6).as("se_cluster"),
      round((vcA + vcB) / (vnA + vnB), 6).as("design_effect"),
      round(diff / seClu, 6).as("t_cluster"))
  }

  /** DuckDB twin of [[clusterDiff]]: `rowsSql` must select
    * `(variant, cluster, m)` with `m` on an exact grid. */
  def sqlClusterDiff(rowsSql: String, a: String, b: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def meanOf(s: String, n: String) = s"(${d(s)} / ${d(n)})"
    val meanA = meanOf("s_a", "n_a"); val meanB = meanOf("s_b", "n_b")
    def vClu(mu: String, ct: String, n: String, tt: String, tn: String,
             nn: String) =
      s"""(${d(ct)} / ((${d(ct)} - 1.0e0) * ${d(n)} * ${d(n)}) *
        (${d(tt)} - 2.0e0 * $mu * ${d(tn)} + $mu * $mu * ${d(nn)}))"""
    def vNaive(n: String, s: String, q: String) =
      s"(((${d(q)} - ${d(s)} * ${d(s)} / ${d(n)}) / (${d(n)} - 1.0e0)) / ${d(n)})"
    val vcA = vClu(meanA, "c_a", "n_a", "tt_a", "tn_a", "nn_a")
    val vcB = vClu(meanB, "c_b", "n_b", "tt_b", "tn_b", "nn_b")
    val vnA = vNaive("n_a", "s_a", "q_a")
    val vnB = vNaive("n_b", "s_b", "q_b")
    val diff = s"($meanA - $meanB)"
    val seClu = s"sqrt($vcA + $vcB)"
    val seNaive = s"sqrt($vnA + $vnB)"
    s"""
    WITH r0 AS (
      SELECT variant, cluster, m FROM ($rowsSql)
      WHERE variant IN ('$a', '$b')
    ), pc AS (
      -- width 19 forces INT128 physical storage so DuckDB's t*t / n*n
      -- run in 128-bit (a 19-digit cluster-total square overflows its
      -- int64 multiply path at width 18); Spark keeps (18,6)/(10,0)
      -- so ITS products stay under precision 38 — same exact values,
      -- differently-declared intermediates
      SELECT variant, cluster,
        CAST(sum(m) AS DECIMAL(19,6)) AS t,
        CAST(count(*) AS DECIMAL(19,0)) AS n,
        CAST(sum(m * m) AS DECIMAL(19,6)) AS q
      FROM r0 GROUP BY variant, cluster
    ), sums AS (
      SELECT
        CAST(count(CASE WHEN variant = '$a' THEN 1 END) AS BIGINT) AS c_a,
        CAST(count(CASE WHEN variant = '$b' THEN 1 END) AS BIGINT) AS c_b,
        CAST(sum(CASE WHEN variant = '$a' THEN n END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = '$b' THEN n END) AS BIGINT) AS n_b,
        sum(CASE WHEN variant = '$a' THEN t END) AS s_a,
        sum(CASE WHEN variant = '$b' THEN t END) AS s_b,
        sum(CASE WHEN variant = '$a' THEN q END) AS q_a,
        sum(CASE WHEN variant = '$b' THEN q END) AS q_b,
        sum(CASE WHEN variant = '$a' THEN t * t END) AS tt_a,
        sum(CASE WHEN variant = '$b' THEN t * t END) AS tt_b,
        sum(CASE WHEN variant = '$a' THEN t * n END) AS tn_a,
        sum(CASE WHEN variant = '$b' THEN t * n END) AS tn_b,
        sum(CASE WHEN variant = '$a' THEN n * n END) AS nn_a,
        sum(CASE WHEN variant = '$b' THEN n * n END) AS nn_b
      FROM pc)
    SELECT c_a, c_b, n_a, n_b,
      round($meanA, 6) AS mean_a, round($meanB, 6) AS mean_b,
      round($diff, 6) AS diff,
      round($seNaive, 6) AS se_naive, round($seClu, 6) AS se_cluster,
      round(($vcA + $vcB) / ($vnA + $vnB), 6) AS design_effect,
      round($diff / $seClu, 6) AS t_cluster
    FROM sums"""
  }

  /** INSTRUMENTAL VARIABLES (the Wald estimator) — the causal read
    * when treatment is self-selected but an INSTRUMENT nudges it: an
    * encouragement z (the email, the eligibility cutoff, the random
    * offer) that moves takeup d but touches the outcome y only
    * through d. Then
    *
    *   LATE = (ȳ₁ − ȳ₀) / (d̄₁ − d̄₀)
    *
    * — the intent-to-treat effect scaled by the first stage — with
    * the delta-method SE
    *
    *   se² = (se²_itt + LATE²·se²_fs) / (d̄₁ − d̄₀)²
    *
    * (independent-arms form). Completes the quasi-experimental
    * family: DiD nets trends, the event study reads the pre-trend,
    * RDD reads a cutoff jump, IV reads non-compliance. The first
    * stage (d̄₁ − d̄₀) is reported with its own t — a WEAK instrument
    * (small first stage) makes the ratio explode, and the readout
    * shows it instead of hiding it.
    *
    * Determinism/scale: ONE conditional exact-sum aggregate over the
    * two instrument arms (y, d, y², d², y·d sums), then a closed
    * form. `dCol` must be on an exact grid (0/1 takeup or a dosage
    * grid). Output one row: `(n0, n1, itt (6dp), first_stage, late,
    * se, t, t_first_stage)`. */
  def ivWald(rows: DataFrame, zCol: String, dCol: String,
             metricCol: String): DataFrame = {
    val y = col(metricCol); val dd = col(dCol)
    def arm(v: Int, c: Column) = sum(when(col(zCol) === v, c))
    val sums = rows.agg(
      count(when(col(zCol) === 0, lit(1))).as("n0"),
      count(when(col(zCol) === 1, lit(1))).as("n1"),
      arm(0, y).as("sy0"), arm(1, y).as("sy1"),
      arm(0, y * y).as("qy0"), arm(1, y * y).as("qy1"),
      arm(0, dd).as("sd0"), arm(1, dd).as("sd1"),
      arm(0, dd * dd).as("qd0"), arm(1, dd * dd).as("qd1"))
    def d(c: String) = col(c).cast("double")
    def mean(s: String, n: String) = d(s) / d(n)
    def varN(q: String, s: String, n: String) =
      ((d(q) - d(s) * d(s) / d(n)) / (d(n) - lit(1.0))) / d(n)
    val itt = mean("sy1", "n1") - mean("sy0", "n0")
    val fs = mean("sd1", "n1") - mean("sd0", "n0")
    val seItt2 = varN("qy1", "sy1", "n1") + varN("qy0", "sy0", "n0")
    val seFs2 = varN("qd1", "sd1", "n1") + varN("qd0", "sd0", "n0")
    val late = itt / fs
    val se = sqrt((seItt2 + late * late * seFs2) / (fs * fs))
    // a DEAD instrument (fs exactly 0) nulls the ratio columns instead
    // of erroring under ANSI division — the first-stage t still reads 0
    val alive = fs =!= 0
    sums.select(col("n0"), col("n1"),
      round(itt, 6).as("itt"), round(fs, 6).as("first_stage"),
      when(alive, round(late, 6)).as("late"),
      when(alive, round(se, 6)).as("se"),
      when(alive, round(late / se, 6)).as("t"),
      when(sqrt(seFs2) =!= 0, round(fs / sqrt(seFs2), 6))
        .as("t_first_stage"))
  }

  /** DuckDB twin of [[ivWald]]: `rowsSql` must select `(z, d, m)`
    * with z ∈ {0,1} and d/m on exact grids. */
  def sqlIvWald(rowsSql: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def mean(s: String, n: String) = s"(${d(s)} / ${d(n)})"
    def varN(q: String, s: String, n: String) =
      s"""(((${d(q)} - ${d(s)} * ${d(s)} / ${d(n)})
        / (${d(n)} - 1.0e0)) / ${d(n)})"""
    val itt = s"(${mean("sy1", "n1")} - ${mean("sy0", "n0")})"
    val fs = s"(${mean("sd1", "n1")} - ${mean("sd0", "n0")})"
    val seItt2 =
      s"(${varN("qy1", "sy1", "n1")} + ${varN("qy0", "sy0", "n0")})"
    val seFs2 =
      s"(${varN("qd1", "sd1", "n1")} + ${varN("qd0", "sd0", "n0")})"
    val late = s"($itt / $fs)"
    val se = s"sqrt(($seItt2 + $late * $late * $seFs2) / ($fs * $fs))"
    s"""
    WITH r0 AS (SELECT z, d, m FROM ($rowsSql)), sums AS (
      SELECT
        CAST(count(CASE WHEN z = 0 THEN 1 END) AS BIGINT) AS n0,
        CAST(count(CASE WHEN z = 1 THEN 1 END) AS BIGINT) AS n1,
        sum(CASE WHEN z = 0 THEN m END) AS sy0,
        sum(CASE WHEN z = 1 THEN m END) AS sy1,
        sum(CASE WHEN z = 0 THEN m * m END) AS qy0,
        sum(CASE WHEN z = 1 THEN m * m END) AS qy1,
        sum(CASE WHEN z = 0 THEN d END) AS sd0,
        sum(CASE WHEN z = 1 THEN d END) AS sd1,
        sum(CASE WHEN z = 0 THEN d * d END) AS qd0,
        sum(CASE WHEN z = 1 THEN d * d END) AS qd1
      FROM r0)
    SELECT n0, n1, round($itt, 6) AS itt,
      round($fs, 6) AS first_stage,
      CASE WHEN $fs = 0 THEN NULL ELSE round($late, 6) END AS late,
      CASE WHEN $fs = 0 THEN NULL ELSE round($se, 6) END AS se,
      CASE WHEN $fs = 0 THEN NULL
        ELSE round($late / $se, 6) END AS t,
      CASE WHEN sqrt($seFs2) = 0 THEN NULL
        ELSE round($fs / sqrt($seFs2), 6) END AS t_first_stage
    FROM sums"""
  }

  /** UCB1 ALLOCATION (Auer et al. 2002) — the DECISION layer over the
    * experiment family's estimates: given per-unit rewards by variant,
    * score each arm
    *
    *   ucb(v) = x̄_v + c·√(2·ln N / n_v)
    *
    * and route the next traffic block to the argmax — optimism under
    * uncertainty, the standard bandit read when a platform graduates
    * from fixed-horizon tests to adaptive allocation. `c` rescales
    * the exploration bonus for rewards outside [0, 1] (UCB1's
    * assumption; pass the metric's range).
    *
    * Determinism/scale: ONE hash agg to (variant, n, Σm) — exact
    * decimal sums — then a variant-axis closed form; `chosen` ranks
    * on (ucb DESC, variant), a total order. Output per variant:
    * `(variant, n, mean, bonus, ucb (6 dp), chosen)`. */
  def ucbAllocation(rows: DataFrame, variantCol: String,
                    metricCol: String, c: Double = 1.0): DataFrame = {
    val sums = rows.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col(metricCol)).as("__s"))
    val tot = sums.agg(sum(col("n")).as("__N"))
    def d(x: Column) = x.cast("double")
    val mean = d(col("__s")) / d(col("n"))
    val bonus = lit(c) * sqrt(lit(2.0) * log(d(col("__N"))) / d(col("n")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("ucb").desc, col("variant"))
    sums.crossJoin(broadcast(tot))
      .select(col("variant"), col("n"), round(mean, 6).as("mean"),
        round(bonus, 6).as("bonus"), round(mean + bonus, 6).as("ucb"))
      .withColumn("chosen",
        (row_number().over(w) === 1).cast("int"))
  }

  /** DuckDB twin of [[ucbAllocation]]: `rowsSql` must select
    * `(variant, m)` with `m` on an exact grid. */
  def sqlUcbAllocation(rowsSql: String, c: Double = 1.0): String = {
    import graft.functions.Noise.sqlDouble
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val mean = s"(${d("s")} / ${d("n")})"
    val bonus =
      s"(${sqlDouble(c)} * sqrt(2.0e0 * ln(${d("nt")}) / ${d("n")}))"
    s"""
    WITH sums AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n, sum(m) AS s
      FROM ($rowsSql) GROUP BY variant
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM sums),
    scored AS (
      SELECT variant, n, round($mean, 6) AS mean,
        round($bonus, 6) AS bonus, round($mean + $bonus, 6) AS ucb
      FROM sums, tot)
    SELECT variant, n, mean, bonus, ucb,
      CAST(row_number() OVER (ORDER BY ucb DESC, variant) = 1 AS INT)
        AS chosen
    FROM scored"""
  }

  /** EVENT STUDY (lead–lag DiD) — the diagnostic that makes
    * [[diffInDiff]] TRUSTABLE: estimate the treated−control gap in
    * EVERY period relative to a base period,
    *
    *   es(p) = (ȳ_{t,p} − ȳ_{c,p}) − (ȳ_{t,b} − ȳ_{c,b})
    *
    * with the four-cell independent-samples SE per period. Pre-rollout
    * periods read the PARALLEL-TRENDS assumption directly (they should
    * sit at ≈ 0 — a sloped pre-period means the 2×2 DiD is eating a
    * trend difference, not a treatment effect); post periods trace the
    * effect's dynamics instead of averaging them away.
    *
    * Determinism/scale: ONE conditional exact-sum aggregate keyed on
    * (group × period) — the bounded period axis — then the base
    * period's cells broadcast into a per-period closed form. No
    * windows, no corpus joins. Output one row per period:
    * `(period, n_t, n_c, mean_t (6dp), mean_c, diff, effect, se,
    * t_effect)`; the base period reports effect 0 with null se/t (its
    * comparison is with itself). */
  def eventStudy(rows: DataFrame, groupCol: String, periodCol: String,
                 metricCol: String, treated: String, control: String,
                 basePeriod: Long): DataFrame = {
    val m = col(metricCol)
    def cells(g: String) = Seq(
      count(when(col(groupCol) === g, lit(1))).as(s"n_$g"),
      sum(when(col(groupCol) === g, m)).as(s"s_$g"),
      sum(when(col(groupCol) === g, m * m)).as(s"q_$g"))
    val byPeriod = rows
      .groupBy(col(periodCol).cast("long").as("period"))
      .agg(cells(treated).head,
        (cells(treated).tail ++ cells(control)): _*)
      // a period missing an arm (or with a 1-row cell) has no variance
      // to report — drop it BEFORE the projection divides (ANSI)
      .filter(col(s"n_$treated") >= 2 && col(s"n_$control") >= 2)
    def d(c: Column) = c.cast("double")
    def mean(s: String) = d(col(s"s_$s")) / d(col(s"n_$s"))
    def varN(s: String) =
      ((d(col(s"q_$s")) - d(col(s"s_$s")) * d(col(s"s_$s")) /
        d(col(s"n_$s"))) / (d(col(s"n_$s")) - lit(1.0))) /
        d(col(s"n_$s"))
    val base = byPeriod.filter(col("period") === basePeriod)
      .select(col("n_" + treated).as("__bnt"),
        col("s_" + treated).as("__bst"), col("q_" + treated).as("__bqt"),
        col("n_" + control).as("__bnc"),
        col("s_" + control).as("__bsc"), col("q_" + control).as("__bqc"))
    def bMean(n: String, s: String) = d(col(s)) / d(col(n))
    def bVarN(n: String, s: String, q: String) =
      ((d(col(q)) - d(col(s)) * d(col(s)) / d(col(n)))
        / (d(col(n)) - lit(1.0))) / d(col(n))
    val diff = mean(treated) - mean(control)
    val baseDiff = bMean("__bnt", "__bst") - bMean("__bnc", "__bsc")
    val effect = diff - baseDiff
    val se = sqrt(varN(treated) + varN(control) +
      bVarN("__bnt", "__bst", "__bqt") + bVarN("__bnc", "__bsc", "__bqc"))
    val isBase = col("period") === basePeriod
    byPeriod.crossJoin(broadcast(base))
      .select(col("period"),
        col("n_" + treated).as("n_t"), col("n_" + control).as("n_c"),
        round(mean(treated), 6).as("mean_t"),
        round(mean(control), 6).as("mean_c"),
        round(diff, 6).as("diff"),
        when(isBase, lit(0.0)).otherwise(round(effect, 6)).as("effect"),
        when(isBase, lit(null).cast("double"))
          .otherwise(round(se, 6)).as("se"),
        when(isBase, lit(null).cast("double"))
          .otherwise(round(effect / se, 6)).as("t_effect"))
  }

  /** DuckDB twin of [[eventStudy]]: `rowsSql` must select
    * `(grp, period, m)` with `m` on an exact grid, period integral. */
  def sqlEventStudy(rowsSql: String, treated: String, control: String,
                    basePeriod: Long): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def mean(n: String, s: String) = s"(${d(s)} / ${d(n)})"
    def varN(n: String, s: String, q: String) =
      s"""(((${d(q)} - ${d(s)} * ${d(s)} / ${d(n)})
        / (${d(n)} - 1.0e0)) / ${d(n)})"""
    val diff = s"(${mean("n_t", "s_t")} - ${mean("n_c", "s_c")})"
    val baseDiff = s"(${mean("bnt", "bst")} - ${mean("bnc", "bsc")})"
    val effect = s"($diff - $baseDiff)"
    val se = s"""sqrt(${varN("n_t", "s_t", "q_t")}
      + ${varN("n_c", "s_c", "q_c")} + ${varN("bnt", "bst", "bqt")}
      + ${varN("bnc", "bsc", "bqc")})"""
    s"""
    WITH r0 AS (SELECT grp, CAST(period AS BIGINT) AS period, m
                FROM ($rowsSql)),
    byp AS (
      SELECT period,
        CAST(count(CASE WHEN grp = '$treated' THEN 1 END) AS BIGINT)
          AS n_t,
        sum(CASE WHEN grp = '$treated' THEN m END) AS s_t,
        sum(CASE WHEN grp = '$treated' THEN m * m END) AS q_t,
        CAST(count(CASE WHEN grp = '$control' THEN 1 END) AS BIGINT)
          AS n_c,
        sum(CASE WHEN grp = '$control' THEN m END) AS s_c,
        sum(CASE WHEN grp = '$control' THEN m * m END) AS q_c
      FROM r0 GROUP BY period
      HAVING count(CASE WHEN grp = '$treated' THEN 1 END) >= 2
        AND count(CASE WHEN grp = '$control' THEN 1 END) >= 2
    ), base AS (
      SELECT n_t AS bnt, s_t AS bst, q_t AS bqt,
        n_c AS bnc, s_c AS bsc, q_c AS bqc
      FROM byp WHERE period = $basePeriod)
    SELECT period, n_t, n_c,
      round(${mean("n_t", "s_t")}, 6) AS mean_t,
      round(${mean("n_c", "s_c")}, 6) AS mean_c,
      round($diff, 6) AS diff,
      CASE WHEN period = $basePeriod THEN 0e0
        ELSE round($effect, 6) END AS effect,
      CASE WHEN period = $basePeriod THEN NULL
        ELSE round($se, 6) END AS se,
      CASE WHEN period = $basePeriod THEN NULL
        ELSE round($effect / $se, 6) END AS t_effect
    FROM byp, base"""
  }

  /** INVERSE-PROPENSITY-WEIGHTED ATE (Hájek estimator) — the
    * observational leg the causal family (DiD, RDD, IV, event study,
    * CUPED) was missing: when treatment is NOT randomized, weight each
    * unit by 1/P(its observed arm) so the reweighted arms match the
    * covariate mix, then difference the weighted outcome means:
    *
    *   ATE = Σ T·y/e / Σ T/e  −  Σ (1−T)·y/(1−e) / Σ (1−T)/(1−e)
    *
    * `propensityCol` is the caller's e = P(T=1 | x) — a closed-form
    * deterministic score keeps the whole estimator under the exact
    * oracle; a trained model makes it rows+spec like c7_lr_quality.
    * Propensities clip to [clip, 1−clip] first (standard overlap
    * trimming — an e near 0/1 otherwise hands one unit unbounded
    * weight).
    *
    * Determinism (§5.3): every per-unit term (w, w·y) quantizes to a
    * 1e-6 integer grid BEFORE summing — the double sums would be
    * combine-order-dependent; integer folds are not. One hash
    * aggregate over the units; output one row:
    * `(n_treat, n_ctrl, ate_ipw)` (6-dp floor grid; null when either
    * arm is empty). */
  def ipwAte(units: DataFrame, treatCol: String, outcomeCol: String,
             propensityCol: String, clip: Double = 0.05): DataFrame = {
    require(clip > 0 && clip < 0.5)
    val t = col(treatCol).cast("int")
    val y = col(outcomeCol).cast("double")
    val e = greatest(lit(clip), least(lit(1.0 - clip),
      col(propensityCol).cast("double")))
    def g(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("bigint")
    val rows = units
      .filter(t.isNotNull && y.isNotNull && col(propensityCol).isNotNull)
      .select(t.as("__t"),
        g(lit(1.0) / e).as("__w1"), g(y / e).as("__wy1"),
        g(lit(1.0) / (lit(1.0) - e)).as("__w0"),
        g(y / (lit(1.0) - e)).as("__wy0"))
    val sums = rows.agg(
      count(when(col("__t") === 1, lit(1))).as("n_treat"),
      count(when(col("__t") === 0, lit(1))).as("n_ctrl"),
      sum(when(col("__t") === 1, col("__w1")).otherwise(lit(0L)))
        .as("__sw1"),
      sum(when(col("__t") === 1, col("__wy1")).otherwise(lit(0L)))
        .as("__swy1"),
      sum(when(col("__t") === 0, col("__w0")).otherwise(lit(0L)))
        .as("__sw0"),
      sum(when(col("__t") === 0, col("__wy0")).otherwise(lit(0L)))
        .as("__swy0"))
    def d(c: String) = col(c).cast("double")
    sums.select(col("n_treat"), col("n_ctrl"),
      when(col("n_treat") > 0 && col("n_ctrl") > 0,
        floor((d("__swy1") / d("__sw1") - d("__swy0") / d("__sw0"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("ate_ipw"))
  }

  /** DuckDB twin of [[ipwAte]]: `unitsSql` must select
    * `(t, y, e)`. */
  def sqlIpwAte(unitsSql: String, clip: Double = 0.05): String = {
    import graft.functions.Noise.sqlDouble
    val eClip = s"greatest(${sqlDouble(clip)}, least(${sqlDouble(1 - clip)}, CAST(e AS DOUBLE)))"
    s"""
    WITH rows0 AS (
      SELECT CAST(t AS INT) AS t,
        CAST(floor(1.0e0 / $eClip * 1e6 + 0.5e0) AS BIGINT) AS w1,
        CAST(floor(CAST(y AS DOUBLE) / $eClip * 1e6 + 0.5e0) AS BIGINT)
          AS wy1,
        CAST(floor(1.0e0 / (1.0e0 - $eClip) * 1e6 + 0.5e0) AS BIGINT)
          AS w0,
        CAST(floor(CAST(y AS DOUBLE) / (1.0e0 - $eClip) * 1e6 + 0.5e0)
          AS BIGINT) AS wy0
      FROM ($unitsSql)
      WHERE t IS NOT NULL AND y IS NOT NULL AND e IS NOT NULL
    ), sums AS (
      SELECT
        CAST(count(CASE WHEN t = 1 THEN 1 END) AS BIGINT) AS n_treat,
        CAST(count(CASE WHEN t = 0 THEN 1 END) AS BIGINT) AS n_ctrl,
        CAST(sum(CASE WHEN t = 1 THEN w1 ELSE 0 END) AS BIGINT) AS sw1,
        CAST(sum(CASE WHEN t = 1 THEN wy1 ELSE 0 END) AS BIGINT) AS swy1,
        CAST(sum(CASE WHEN t = 0 THEN w0 ELSE 0 END) AS BIGINT) AS sw0,
        CAST(sum(CASE WHEN t = 0 THEN wy0 ELSE 0 END) AS BIGINT) AS swy0
      FROM rows0)
    SELECT n_treat, n_ctrl,
      CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN
        floor((CAST(swy1 AS DOUBLE) / CAST(sw1 AS DOUBLE)
          - CAST(swy0 AS DOUBLE) / CAST(sw0 AS DOUBLE)) * 1e6 + 0.5e0)
          / 1e6 END AS ate_ipw
    FROM sums"""
  }

  /** IPW OVERLAP / POSITIVITY DIAGNOSTICS — the check every
    * observational analysis must pass BEFORE trusting [[ipwAte]]: a
    * propensity near 0/1 means some units are (almost) never observed
    * in one arm, the weights explode, and the estimate rides on a
    * handful of units. Per arm: n, the EFFECTIVE SAMPLE SIZE of the
    * weights (Kish: ESS = (Σw)²/Σw² — ESS ≪ n is the red flag),
    * post-clip min/max propensity, and the share of units the clip
    * actually touched (a large clipped share means the clip is doing
    * estimation, not trimming).
    *
    * Determinism (§5.3): weights and propensities quantize to the
    * 1e-6 grid; Σw is BIGINT, Σw² is the exact product of micro-grid
    * integers summed as DECIMAL(38,0) (pico grid — BIGINT would
    * overflow around 2e4 units at the clip-max weight); the ESS
    * quotient and shares finish on the 6-dp floor grid. One hash
    * aggregate; output ≤ 2 rows `(arm, n, ess, min_e, max_e,
    * clip_share)`. */
  def ipwDiagnostics(units: DataFrame, treatCol: String,
                     propensityCol: String,
                     clip: Double = 0.05): DataFrame = {
    require(clip > 0 && clip < 0.5)
    val t = col(treatCol).cast("int")
    val eRaw = col(propensityCol).cast("double")
    val e = greatest(lit(clip), least(lit(1.0 - clip), eRaw))
    val w = when(t === 1, lit(1.0) / e)
      .otherwise(lit(1.0) / (lit(1.0) - e))
    def g(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("bigint")
    val rows = units
      .filter(t.isNotNull && eRaw.isNotNull)
      .select(t.as("arm"), g(w).as("__wm"), g(e).as("__em"),
        (eRaw < lit(clip) || eRaw > lit(1.0 - clip)).cast("long")
          .as("__clipped"))
      .withColumn("__w2", (col("__wm") * col("__wm"))
        .cast("decimal(38,0)"))
    def d(c: String) = col(c).cast("double")
    rows.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("__wm")).as("__sw"),
        sum(col("__w2")).as("__sw2"), min(col("__em")).as("__emin"),
        max(col("__em")).as("__emax"), sum(col("__clipped")).as("__nc"))
      .select(col("arm"), col("n"),
        (floor(d("__sw") * d("__sw") / d("__sw2") * lit(1e6) + lit(0.5))
          / lit(1e6)).as("ess"),
        (d("__emin") / lit(1e6)).as("min_e"),
        (d("__emax") / lit(1e6)).as("max_e"),
        (floor(d("__nc") / d("n") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("clip_share"))
  }

  /** DuckDB twin of [[ipwDiagnostics]]: `unitsSql` must select
    * `(t, e)`. */
  def sqlIpwDiagnostics(unitsSql: String, clip: Double = 0.05): String = {
    import graft.functions.Noise.sqlDouble
    val eClip = s"greatest(${sqlDouble(clip)}, least(${sqlDouble(1 - clip)}, CAST(e AS DOUBLE)))"
    val w = s"""(CASE WHEN CAST(t AS INT) = 1 THEN 1.0e0 / $eClip
      ELSE 1.0e0 / (1.0e0 - $eClip) END)"""
    s"""
    WITH rows0 AS (
      SELECT CAST(t AS INT) AS arm,
        CAST(floor($w * 1e6 + 0.5e0) AS BIGINT) AS wm,
        CAST(floor($eClip * 1e6 + 0.5e0) AS BIGINT) AS em,
        CASE WHEN CAST(e AS DOUBLE) < ${sqlDouble(clip)}
          OR CAST(e AS DOUBLE) > ${sqlDouble(1 - clip)}
          THEN 1 ELSE 0 END AS clipped
      FROM ($unitsSql)
      WHERE t IS NOT NULL AND e IS NOT NULL
    ), sums AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(wm) AS BIGINT) AS sw,
        CAST(sum(CAST(wm AS HUGEINT) * CAST(wm AS HUGEINT)) AS HUGEINT)
          AS sw2,
        CAST(min(em) AS BIGINT) AS emin, CAST(max(em) AS BIGINT) AS emax,
        CAST(sum(clipped) AS BIGINT) AS nc
      FROM rows0 GROUP BY arm)
    SELECT arm, n,
      floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
        * 1e6 + 0.5e0) / 1e6 AS ess,
      CAST(emin AS DOUBLE) / 1e6 AS min_e,
      CAST(emax AS DOUBLE) / 1e6 AS max_e,
      floor(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5e0) / 1e6
        AS clip_share
    FROM sums"""
  }

  /** DOUBLY-ROBUST ATE (AIPW — augmented IPW, the modern default
    * observational estimator): combine an OUTCOME MODEL m_t(x) with
    * the propensity weights so the estimate is consistent if EITHER
    * is right,
    *
    *   ATE = mean[ m₁−m₀ + T·(y−m₁)/e − (1−T)·(y−m₀)/(1−e) ]
    *
    * `m1Col`/`m0Col` are the caller's predicted outcomes under
    * treatment/control (closed-form → exact oracle; trained →
    * rows+spec, like the propensity in [[ipwAte]]). When the outcome
    * model is exactly right the correction terms vanish and AIPW
    * equals the model's own ATE regardless of e; when e is right the
    * weighting debiases a wrong model — ExperimentSpec pins both
    * directions on the confounded fixture. Same §5.3 discipline as
    * [[ipwAte]]: per-unit terms on the 1e-6 grid, mean of exact
    * integer sums, 6-dp floor finish. One hash aggregate. */
  def aipwAte(units: DataFrame, treatCol: String, outcomeCol: String,
              propensityCol: String, m1Col: String, m0Col: String,
              clip: Double = 0.05): DataFrame = {
    require(clip > 0 && clip < 0.5)
    val t = col(treatCol).cast("int")
    val y = col(outcomeCol).cast("double")
    val m1 = col(m1Col).cast("double")
    val m0 = col(m0Col).cast("double")
    val e = greatest(lit(clip), least(lit(1.0 - clip),
      col(propensityCol).cast("double")))
    val term = m1 - m0 +
      when(t === 1, (y - m1) / e)
        .otherwise(-(y - m0) / (lit(1.0) - e))
    val rows = units
      .filter(t.isNotNull && y.isNotNull && col(propensityCol).isNotNull
        && m1.isNotNull && m0.isNotNull)
      .select(t.as("__t"),
        floor(term * lit(1e6) + lit(0.5)).cast("bigint").as("__g"))
    rows.agg(
        count(when(col("__t") === 1, lit(1))).as("n_treat"),
        count(when(col("__t") === 0, lit(1))).as("n_ctrl"),
        count(lit(1)).as("__n"), sum(col("__g")).as("__s"))
      .select(col("n_treat"), col("n_ctrl"),
        when(col("__n") > 0,
          floor(col("__s").cast("double") / lit(1e6)
            / col("__n").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("ate_aipw"))
  }

  /** DuckDB twin of [[aipwAte]]: `unitsSql` must select
    * `(t, y, e, m1, m0)`. */
  def sqlAipwAte(unitsSql: String, clip: Double = 0.05): String = {
    import graft.functions.Noise.sqlDouble
    val eClip = s"greatest(${sqlDouble(clip)}, least(${sqlDouble(1 - clip)}, CAST(e AS DOUBLE)))"
    val term = s"""(CAST(m1 AS DOUBLE) - CAST(m0 AS DOUBLE)
      + CASE WHEN CAST(t AS INT) = 1
          THEN (CAST(y AS DOUBLE) - CAST(m1 AS DOUBLE)) / $eClip
          ELSE -(CAST(y AS DOUBLE) - CAST(m0 AS DOUBLE))
            / (1.0e0 - $eClip) END)"""
    s"""
    WITH rows0 AS (
      SELECT CAST(t AS INT) AS t,
        CAST(floor($term * 1e6 + 0.5e0) AS BIGINT) AS g
      FROM ($unitsSql)
      WHERE t IS NOT NULL AND y IS NOT NULL AND e IS NOT NULL
        AND m1 IS NOT NULL AND m0 IS NOT NULL
    ), sums AS (
      SELECT CAST(count(CASE WHEN t = 1 THEN 1 END) AS BIGINT) AS n_treat,
        CAST(count(CASE WHEN t = 0 THEN 1 END) AS BIGINT) AS n_ctrl,
        CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS s
      FROM rows0)
    SELECT n_treat, n_ctrl,
      CASE WHEN n > 0 THEN
        floor(CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) * 1e6 + 0.5e0)
          / 1e6 END AS ate_aipw
    FROM sums"""
  }

  // ---------------------------------------------------------------
  // TRAINED nuisance models for the observational estimators — the
  // production workflow: [[ipwAte]]/[[aipwAte]] take e(x)/m_t(x) as
  // caller columns (closed-form → the exact oracle); real
  // observational data has neither, so fit them FROM the data. Like
  // every trained operator here (c7_lr_quality), float reduction
  // order makes coefficients reproducible only to ~1e-12 across
  // partitionings → rows+spec, with the closed-form path kept as the
  // oracle twin. PropensitySpec pins that trained-e IPW recovers the
  // planted effect on the confounded fixture where the naive
  // difference fails.
  // ---------------------------------------------------------------

  /** Fit the propensity e(x) = P(T = 1 | x) by MLlib logistic
    * regression over numeric covariates — one treeAggregate gradient
    * all-reduce per iteration (the QualityClassifier shape: linear in
    * rows, no corpus shuffle; the coefficient vector is
    * covariate-sized).
    *
    * Iteration budget (round 14): each LBFGS iteration is a
    * scheduler-latency-bound treeAggregate on frames this small, so
    * the DEFAULT stopping rule is sized to the consumer — estimates
    * emit on a 6-dp grid and PropensitySpec's recovery bands are
    * 0.15-wide, so `tol = 1e-6` / `maxIter = 50` converges
    * identically-for-purpose at a fraction of the round-13
    * `tol = 1e-10, maxIter = 100` wall clock (the deliberate-row cost
    * was iteration latency, not data — BASELINE.md round-14 probe).
    * Callers needing research-grade coefficients pass their own. */
  def fitPropensity(units: DataFrame, treatCol: String,
                    covariateCols: Seq[String], maxIter: Int = 50,
                    regParam: Double = 0.0, tol: Double = 1e-6)
      : org.apache.spark.ml.classification.LogisticRegressionModel = {
    require(covariateCols.nonEmpty, "need at least one covariate")
    new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).setTol(tol)
      .setFeaturesCol("__e_features").setLabelCol("__e_label")
      .fit(units.select(
        col(treatCol).cast("double").as("__e_label"),
        org.apache.spark.ml.functions.array_to_vector(array(
          covariateCols.map(c => col(c).cast("double")): _*))
          .as("__e_features")))
  }

  /** Adds `e_hat` = the model's P(T = 1 | x): a broadcast of the tiny
    * coefficient vector into a per-row dot product. */
  def scorePropensity(units: DataFrame, covariateCols: Seq[String],
                      model: org.apache.spark.ml.classification.LogisticRegressionModel)
      : DataFrame = {
    val scored = model.transform(units.withColumn("__e_features",
      org.apache.spark.ml.functions.array_to_vector(array(
        covariateCols.map(c => col(c).cast("double")): _*))))
    scored.withColumn("e_hat", element_at(
        org.apache.spark.ml.functions.vector_to_array(col("probability")), 2))
      .drop("__e_features", "rawPrediction", "probability", "prediction")
  }

  /** Adds `e_cal`: [[scorePropensity]]'s `e_hat` isotonic-calibrated
    * against the observed arm (the [[Calibration.isotonic]] PAV
    * table, applied by bin join — LR's sigmoid can be systematically
    * over/under-confident; PAV fixes the reliability curve without
    * touching the ranking). Bins with no calibration row (empty in
    * training) fall back to the raw score. */
  def calibratePropensity(scored: DataFrame, treatCol: String,
                          nBins: Int = 100): DataFrame = {
    val cal = Calibration.isotonic(scored, "e_hat", treatCol, nBins)
      .select(col("bin").as("__cal_bin"),
        col("calibrated").as("__cal_e"))
    val bin = least(floor(col("e_hat").cast("double") * nBins),
      lit((nBins - 1).toDouble)).cast("long")
    scored.withColumn("__bin", bin)
      .join(broadcast(cal), col("__bin") === col("__cal_bin"), "left")
      .withColumn("e_cal", coalesce(col("__cal_e"), col("e_hat")))
      .drop("__bin", "__cal_bin", "__cal_e")
  }

  /** [[ipwAte]] with a TRAINED propensity: fit T ~ x, score,
    * optionally calibrate, weight. The estimate is rows+spec (trained
    * model contract); [[ipwAte]] with a closed-form e stays the
    * oracle twin. */
  def ipwAteTrained(units: DataFrame, treatCol: String,
                    outcomeCol: String, covariateCols: Seq[String],
                    clip: Double = 0.05,
                    calibrate: Boolean = false): DataFrame = {
    // materialize the assembled numeric frame ONCE — the fit, the
    // scoring pass and the IPW aggregate otherwise each recompute the
    // caller's upstream lineage (typically a groupBy+distinct chain)
    val base = units.select((treatCol +: outcomeCol +: covariateCols)
      .distinct.map(col): _*).localCheckpoint()
    val model = fitPropensity(base, treatCol, covariateCols)
    val scored = scorePropensity(base, covariateCols, model)
    val withE =
      if (calibrate) calibratePropensity(scored, treatCol)
      else scored
    ipwAte(withE, treatCol, outcomeCol,
      if (calibrate) "e_cal" else "e_hat", clip)
  }

  /** Exact-moment OLS with intercept on the DRIVER (the
    * [[regressionAdjust]] machinery over the (k+1)-sized augmented
    * system): one aggregate to (X'X, X'y), [[solveSpd]], coefficients
    * back as `(intercept, b_1..b_k)`. A small RIDGE term (λ·n on the
    * covariate diagonal, λ = 1e-6) keeps the solve defined when a
    * covariate is constant within an arm — routine on small strata,
    * and a trained outcome model tolerates the negligible shrinkage
    * (the closed-form oracle twins never pass through here). */
  private def olsFit(df: DataFrame, xCols: Seq[String], yCol: String,
                     ridge: Double = 1e-6): Array[Double] = {
    val k = xCols.size
    val y = col(yCol).cast("double")
    val xs = xCols.map(c => col(c).cast("double"))
    val aggs =
      Seq(count(lit(1)).cast("double").as("m_n"),
        sum(y).cast("double").as("m_sy")) ++
      xs.zipWithIndex.flatMap { case (x, i) =>
        Seq(sum(x).cast("double").as(s"m_sx$i"),
          sum(x * y).cast("double").as(s"m_sxy$i"))
      } ++
      (for (i <- 0 until k; j <- i until k) yield
        sum(xs(i) * xs(j)).cast("double").as(s"m_sxx_${i}_$j"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def f(name: String) = r.getDouble(r.fieldIndex(name))
    require(f("m_n") > 0, "olsFit over an empty frame")
    // augmented normal equations: A = [[n, sx'], [sx, X'X]], b = [sy, X'y]
    val a = Array.ofDim[Double](k + 1, k + 1)
    val b = new Array[Double](k + 1)
    a(0)(0) = f("m_n"); b(0) = f("m_sy")
    for (i <- 0 until k) {
      a(0)(i + 1) = f(s"m_sx$i"); a(i + 1)(0) = f(s"m_sx$i")
      b(i + 1) = f(s"m_sxy$i")
      for (j <- i until k) {
        a(i + 1)(j + 1) = f(s"m_sxx_${i}_$j")
        a(j + 1)(i + 1) = f(s"m_sxx_${i}_$j")
      }
    }
    for (i <- 1 to k) a(i)(i) = a(i)(i) + ridge * f("m_n")
    solveSpd(a, b)
  }

  /** [[aipwAte]] with BOTH nuisance models trained from the data —
    * the full doubly-robust workflow: propensity by logistic
    * regression on the covariates, outcome models m₁/m₀ by exact-
    * moment OLS WITHIN each arm (predicted at every unit's own x).
    * rows+spec like [[ipwAteTrained]]. */
  def aipwAteTrained(units: DataFrame, treatCol: String,
                     outcomeCol: String, covariateCols: Seq[String],
                     clip: Double = 0.05): DataFrame = {
    val t = col(treatCol).cast("int")
    // ONE materialization of the assembled numeric frame, shared by
    // the propensity fit, BOTH per-arm OLS moment passes, the scoring
    // pass and the AIPW aggregate — round 13 recomputed the caller's
    // upstream lineage for each
    val base = units.select((treatCol +: outcomeCol +: covariateCols)
      .distinct.map(col): _*).localCheckpoint()
    val model = fitPropensity(base, treatCol, covariateCols)
    val scored = scorePropensity(base, covariateCols, model)
    val b1 = olsFit(base.filter(t === 1), covariateCols, outcomeCol)
    val b0 = olsFit(base.filter(t === 0), covariateCols, outcomeCol)
    def pred(b: Array[Double]): Column =
      covariateCols.zipWithIndex.foldLeft(lit(b(0))) { case (acc, (c, i)) =>
        acc + lit(b(i + 1)) * col(c).cast("double")
      }
    aipwAte(scored.withColumn("__m1", pred(b1))
        .withColumn("__m0", pred(b0)),
      treatCol, outcomeCol, "e_hat", "__m1", "__m0", clip)
  }
}
