package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Post-fit regression diagnostics — the "should I trust this line"
  * layer over the closed-form OLS family (q176 group regression, q295
  * Chow): influence, heteroscedasticity, dimensionality, and model-
  * order read-outs, each a one-or-two-aggregate plan with the fitted
  * coefficients carried as BROADCAST scalars (never a collect of data
  * rows). Moment sums accumulate as exact decimals wherever the input
  * magnitude allows, so the diagnostics are partitioning-independent.
  */
object RegressionDiagnostics {

  private def d2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Leverage + Cook's distance for simple OLS y ~ x, top-k most
    * influential rows: hᵢ = 1/n + (xᵢ−x̄)²/Sxx,
    * Dᵢ = eᵢ²·hᵢ / (p·s²·(1−hᵢ)²) with p = 2. One exact-decimal
    * moment aggregate broadcast into a codegen projection, then a
    * distributed top-k (TakeOrderedAndProject, id tiebreak) — the
    * point being that influence needs no n×n hat matrix, just the
    * five scalars. Returns (id, leverage 6dp, cooks_d 6dp). */
  def leverageCooks(df: DataFrame, idCol: String, xCol: String,
                    yCol: String, k: Int = 20): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    val m = base.agg(count(lit(1)).as("__n"),
      sum(d2(col("__x"))).cast("double").as("__sx"),
      sum(d2(col("__y"))).cast("double").as("__sy"),
      sum(d2(col("__x")) * d2(col("__x"))).cast("double").as("__sxx"),
      sum(d2(col("__x")) * d2(col("__y"))).cast("double").as("__sxy"),
      sum(d2(col("__y")) * d2(col("__y"))).cast("double").as("__syy"))
    val nd = col("__n").cast("double")
    val mx = col("__sx") / nd
    val my = col("__sy") / nd
    val sxx = col("__sxx") - nd * mx * mx
    val sxy = col("__sxy") - nd * mx * my
    val syy = col("__syy") - nd * my * my
    val b = sxy / sxx
    val rss = syy - b * sxy
    val s2 = rss / (nd - 2)
    val e = col("__y") - (my - b * mx) - b * col("__x")
    val h = lit(1.0) / nd +
      (col("__x") - mx) * (col("__x") - mx) / sxx
    base.crossJoin(broadcast(m))
      .select(col("__id"), round(h, 6).as("leverage"),
        round(e * e * h / (lit(2.0) * s2 * (lit(1.0) - h) *
          (lit(1.0) - h)), 6).as("cooks_d"))
      .orderBy(col("cooks_d").desc, col("__id")).limit(k)
      .select(col("__id").as(idCol), col("leverage"), col("cooks_d"))
  }

  /** Breusch–Pagan heteroscedasticity LM test on simple OLS y ~ x:
    * regress the squared residuals on x, LM = n·R². The OLS line
    * comes from the exact-decimal moment aggregate; residual squares
    * are quantized at 2dp (documented estimator variant) and their
    * correlation with x uses the mergeable Welford `corr` kernel both
    * engines share. Returns one row: (n, r2_aux 6dp, lm 6dp). */
  def breuschPagan(df: DataFrame, xCol: String,
                   yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    val m = base.agg(count(lit(1)).as("__n"),
      sum(d2(col("__x"))).cast("double").as("__sx"),
      sum(d2(col("__y"))).cast("double").as("__sy"),
      sum(d2(col("__x")) * d2(col("__x"))).cast("double").as("__sxx"),
      sum(d2(col("__x")) * d2(col("__y"))).cast("double").as("__sxy"))
    val nd = col("__n").cast("double")
    val mx = col("__sx") / nd
    val my = col("__sy") / nd
    val b = (col("__sxy") - nd * mx * my) /
      (col("__sxx") - nd * mx * mx)
    val e = col("__y") - (my - b * mx) - b * col("__x")
    base.crossJoin(broadcast(m))
      .select(col("__x"), round(e * e, 2).as("__u"), col("__n"))
      .agg(first("__n").as("n"),
        (corr(col("__u"), col("__x")) * corr(col("__u"), col("__x")))
          .as("__r2"))
      .select(col("n"), round(col("__r2"), 6).as("r2_aux"),
        round(col("n").cast("double") * col("__r2"), 6).as("lm"))
  }

  /** Exact 2-D PCA from the closed-form 2×2 covariance eigensystem:
    * λ₁,₂ = (σx²+σy²)/2 ± sqrt(((σx²−σy²)/2)² + σxy²), explained
    * variance ratio λ₁/(λ₁+λ₂), and the principal-axis SLOPE
    * (λ₁−σx²)/σxy — algebraic, no trig, so no libm-divergence risk.
    * One moments aggregate on the exact cents lattice (2dp domain;
    * Welford var_pop/covar_pop merge in partition order, which the
    * round-13 100× sweep surfaced as 6dp drift in λ₁ — the integer
    * moments + one portable conversion per sum are bit-identical on
    * both engines). Returns one row:
    * (n, lambda1 6dp, lambda2 6dp, evr 6dp, axis_slope 6dp). */
  def pca2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val xd = col(xCol).cast("double")
    val yd = col(yCol).cast("double")
    val xc = (col(xCol).cast(DecimalType(18, 2)) * lit(100)).cast(d38)
    val yc = (col(yCol).cast(DecimalType(18, 2)) * lit(100)).cast(d38)
    val pds = graft.core.Lattice.sparkPortableDoubleSigned _
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        !isnan(xd) && !isnan(yd))
      .select(xc.as("__xc"), yc.as("__yc"))
    val m = base.agg(count(lit(1)).as("n"),
        sum("__xc").as("sx_i"), sum("__yc").as("sy_i"),
        sum(col("__xc") * col("__xc")).as("sxx_i"),
        sum(col("__yc") * col("__yc")).as("syy_i"),
        sum(col("__xc") * col("__yc")).as("sxy_i"))
      .selectExpr("n",
        s"${pds("sx_i")} / 100.0 AS sx", s"${pds("sy_i")} / 100.0 AS sy",
        s"${pds("sxx_i")} / 10000.0 AS sxx",
        s"${pds("syy_i")} / 10000.0 AS syy",
        s"${pds("sxy_i")} / 10000.0 AS sxy")
      .select(col("n"),
        ((col("sxx") - col("sx") * col("sx") / col("n").cast("double"))
          / col("n").cast("double")).as("__vx"),
        ((col("syy") - col("sy") * col("sy") / col("n").cast("double"))
          / col("n").cast("double")).as("__vy"),
        ((col("sxy") - col("sx") * col("sy") / col("n").cast("double"))
          / col("n").cast("double")).as("__cxy"))
    val mid = (col("__vx") + col("__vy")) / 2
    val rad = sqrt((col("__vx") - col("__vy")) *
      (col("__vx") - col("__vy")) / 4 + col("__cxy") * col("__cxy"))
    val l1 = mid + rad
    val l2 = mid - rad
    m.select(col("n"), round(l1, 6).as("lambda1"),
      round(l2, 6).as("lambda2"),
      round(l1 / (l1 + l2), 6).as("evr"),
      round(when(abs(col("__cxy")) > 0,
        (l1 - col("__vx")) / col("__cxy")), 6).as("axis_slope"))
  }

  /** Model-order check by AIC: simple y ~ x vs quadratic y ~ x + x².
    * x must sit on an integer lattice (the Jarque–Bera constraint) so
    * Σx³, Σx⁴ and Σx²y accumulate exactly; the two RSS values then
    * come from the closed-form 1- and 2-regressor normal equations and
    * AIC = n·ln(RSS/n) + 2p. ΔAIC < 0 means the quadratic term earns
    * its parameter. One aggregate. Returns one row:
    * (n, rss_lin 6dp, rss_quad 6dp, aic_lin 6dp, aic_quad 6dp,
    * delta_aic 6dp). */
  def aicQuadratic(df: DataFrame, xCol: String,
                   yCol: String): DataFrame = {
    val xi = round(col(xCol).cast("double"), 0).cast(DecimalType(38, 0))
    // y on the integer CENTS lattice: every y-sum is then an exact
    // integer, and integer→double is ONE correctly-rounded conversion
    // on both engines. Casting a scale-4 decimal sum to double is NOT
    // cross-engine stable at 2^51+ magnitudes — DuckDB converts via
    // int128→double then ÷10⁴ (two roundings), Spark via BigDecimal
    // (one): the round-13 sf0.1 certification caught a 1-ulp (0.25)
    // rss divergence from exactly this.
    val yc = (d2(col(yCol)) * lit(100)).cast(DecimalType(38, 0))
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(xi.as("__x"), yc.as("__y"))
    // raw EXACT integer sums first; the double conversions go through
    // Lattice.sparkPortableDouble — a plain cast of a >2^53 exact sum
    // is not cross-engine stable (see core/Lattice.scala)
    val g0 = base.agg(count(lit(1)).as("n"),
      sum(col("__x")).as("su_i"),
      sum(col("__x") * col("__x")).as("sv_i"),
      sum(col("__y")).as("sy_i"),
      sum(col("__x") * col("__x") * col("__x")).as("suv_i"),
      sum(col("__x") * col("__x") * col("__x") * col("__x")).as("svv_i"),
      sum(col("__x") * col("__y")).as("syu_i"),
      sum(col("__x") * col("__x") * col("__y")).as("syv_i"),
      sum(col("__y") * col("__y")).as("syy_i"))
    def pd(c: String) = graft.core.Lattice.sparkPortableDouble(c)
    val g = g0.selectExpr("n",
      s"${pd("su_i")} AS __su", s"${pd("sv_i")} AS __sv",
      s"${pd("sy_i")} / 100.0 AS __sy",
      s"${pd("suv_i")} AS __suv", s"${pd("svv_i")} AS __svv",
      s"${pd("syu_i")} / 100.0 AS __syu",
      s"${pd("syv_i")} / 100.0 AS __syv",
      s"${pd("syy_i")} / 10000.0 AS __syy")
    val nd = col("n").cast("double")
    val mu = col("__su") / nd
    val mv = col("__sv") / nd
    val my = col("__sy") / nd
    val suu = col("__sv") - nd * mu * mu
    val svv = col("__svv") - nd * mv * mv
    val suv = col("__suv") - nd * mu * mv
    val syu = col("__syu") - nd * my * mu
    val syv = col("__syv") - nd * my * mv
    val syy = col("__syy") - nd * my * my
    val det = suu * svv - suv * suv
    val b1 = (syu * svv - syv * suv) / det
    val b2 = (syv * suu - syu * suv) / det
    val rss1 = syy - syu * syu / suu
    val rss2 = syy - b1 * syu - b2 * syv
    val aic1 = nd * log(rss1 / nd) + lit(4.0)
    val aic2 = nd * log(rss2 / nd) + lit(6.0)
    g.select(col("n"), round(rss1, 6).as("rss_lin"),
      round(rss2, 6).as("rss_quad"), round(aic1, 6).as("aic_lin"),
      round(aic2, 6).as("aic_quad"),
      round(aic2 - aic1, 6).as("delta_aic"))
  }
}
