package graft.oracle

// DuckDB twins of the graft.ml operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.ml.Bootstrap]]. */
object BootstrapOracle {
  /** DuckDB mirror of [[subsampleCi]]: `unitsCte` must yield
    * (grp, id, y). */
  def subsampleCiOracleSql(unitsCte: String, b: Int): String =
    s"""WITH units AS (SELECT grp, id, CAST(y AS DECIMAL(18,2)) AS y
           FROM ($unitsCte) WHERE y IS NOT NULL),
        reps AS (SELECT UNNEST(range(1, ${b + 1})) AS rep),
        kept AS (SELECT grp, y, rep FROM units CROSS JOIN reps
          WHERE substr(md5(CAST(id AS VARCHAR) || ':' ||
            CAST(rep AS VARCHAR)), 1, 1) < '8'),
        pr AS (SELECT grp, rep,
            CAST(SUM(y) AS DOUBLE) / COUNT(*) AS m
          FROM kept GROUP BY grp, rep),
        rk AS (SELECT grp, m,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m ASC, rep ASC)
              AS r,
            COUNT(*) OVER (PARTITION BY grp) AS nr
          FROM pr),
        ci AS (SELECT grp,
            MAX(CASE WHEN r = CEIL(0.025 * nr) THEN m END) AS lo,
            MAX(CASE WHEN r = CEIL(0.975 * nr) THEN m END) AS hi,
            CAST(MAX(nr) AS BIGINT) AS n_reps
          FROM rk GROUP BY grp),
        fl AS (SELECT grp, COUNT(*) AS n_units,
            CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean
          FROM units GROUP BY grp)
        SELECT fl.grp AS "group", fl.n_units,
          ROUND(fl.mean, 6) AS mean, ROUND(ci.lo, 6) AS ci_lo,
          ROUND(ci.hi, 6) AS ci_hi, COALESCE(ci.n_reps, 0) AS n_reps
        FROM fl LEFT JOIN ci USING (grp)"""
}

/** DuckDB twins of [[graft.ml.Causal]]. */
object CausalOracle {
  /** DuckDB twin of [[ivWald]]; `srcCte` must yield (z, d, y) with
    * z/d in {0,1}. */
  def ivWaldOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(z AS BIGINT) AS z,
            CAST(d AS BIGINT) AS d, CAST(y AS DECIMAL(18,2)) AS y
          FROM ($srcCte) WHERE y IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, SUM(z) AS sz, SUM(d) AS sd,
            SUM(z * d) AS szd, CAST(SUM(y) AS DOUBLE) AS sy,
            CAST(SUM(CASE WHEN z = 1 THEN y END) AS DOUBLE) AS szy
          FROM src),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            CAST(sz AS DOUBLE) / n AS mz, CAST(sd AS DOUBLE) / n AS md,
            sy / n AS my, szd, szy, sd FROM g),
        m AS (SELECT n, nd, mz, md,
            CAST(szd AS DOUBLE) / nd - mz * md AS czd,
            szy / nd - mz * my AS czy,
            mz - mz * mz AS vz,
            CAST(sd AS DOUBLE) - nd * md * md AS sdd FROM c),
        f AS (SELECT n, nd, czd, czy, vz, sdd,
            czd / vz AS fs, nd * vz AS szz, nd * czd AS szdc FROM m)
        SELECT n, ROUND(fs, 6) AS first_stage,
          ROUND(CASE WHEN sdd - fs * szdc > 0 THEN
            fs * fs / (((sdd - fs * szdc) / (nd - 2)) / szz) END, 6)
            AS first_stage_f,
          ROUND(CASE WHEN ABS(czd) > 0 THEN czy / czd END, 6)
            AS beta_iv
        FROM f"""

  /** DuckDB twin of [[rddSharp]]; `srcCte` must yield (x, y). */
  def rddSharpOracleSql(srcCte: String, cutoff: Double,
                        bandwidth: Double): String =
    s"""WITH base AS (SELECT CAST(x AS DOUBLE) - $cutoff AS x,
            CAST(y AS DECIMAL(18,2)) AS y,
            (CAST(x AS DOUBLE) - $cutoff >= 0) AS r
          FROM ($srcCte) WHERE x IS NOT NULL AND y IS NOT NULL
            AND ABS(CAST(x AS DOUBLE) - $cutoff) <= $bandwidth),
        g AS (SELECT
            SUM(CASE WHEN NOT r THEN 1 ELSE 0 END) AS nl,
            SUM(CASE WHEN NOT r THEN x END) AS sxl,
            CAST(SUM(CASE WHEN NOT r THEN y END) AS DOUBLE) AS syl,
            SUM(CASE WHEN NOT r THEN x * x END) AS sxxl,
            SUM(CASE WHEN NOT r THEN x * CAST(y AS DOUBLE) END)
              AS sxyl,
            SUM(CASE WHEN r THEN 1 ELSE 0 END) AS nr,
            SUM(CASE WHEN r THEN x END) AS sxr,
            CAST(SUM(CASE WHEN r THEN y END) AS DOUBLE) AS syr,
            SUM(CASE WHEN r THEN x * x END) AS sxxr,
            SUM(CASE WHEN r THEN x * CAST(y AS DOUBLE) END) AS sxyr
          FROM base),
        c AS (SELECT nl, nr,
            syl / nl - ((sxyl - nl * (sxl / nl) * (syl / nl))
              / (sxxl - nl * (sxl / nl) * (sxl / nl))) * (sxl / nl)
              AS il,
            syr / nr - ((sxyr - nr * (sxr / nr) * (syr / nr))
              / (sxxr - nr * (sxr / nr) * (sxr / nr))) * (sxr / nr)
              AS ir
          FROM g)
        SELECT CAST(nl AS BIGINT) AS n_left,
          CAST(nr AS BIGINT) AS n_right,
          ROUND(il, 6) AS left_at_cutoff,
          ROUND(ir, 6) AS right_at_cutoff,
          ROUND(ir - il, 6) AS effect
        FROM c"""

  /** DuckDB twin of [[iccDesignEffect]]; `srcCte` yields (c, y). */
  def iccDesignEffectOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT c, CAST(y AS DECIMAL(18,2)) AS y
          FROM ($srcCte) WHERE y IS NOT NULL),
        per AS (SELECT c, COUNT(*) AS m,
            CAST(SUM(y) AS DOUBLE) AS s1,
            CAST(SUM(y * y) AS DOUBLE) AS s2
          FROM src GROUP BY c),
        g AS (SELECT COUNT(*) AS k, SUM(m) AS n,
            SUM(m * m) AS smm, SUM(s1) AS t1, SUM(s2) AS t2,
            SUM(s1 * s1 / CAST(m AS DOUBLE)) AS sb FROM per),
        c2 AS (SELECT k, n, CAST(k AS DOUBLE) AS kd,
            CAST(n AS DOUBLE) AS nd, smm, t1, t2, sb FROM g),
        c3 AS (SELECT k, n, kd, nd,
            (nd - CAST(smm AS DOUBLE) / nd) / (kd - 1) AS m0,
            (sb - t1 * t1 / nd) / (kd - 1) AS msb,
            (t2 - sb) / (nd - kd) AS msw FROM c2)
        SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          ROUND(m0, 6) AS m0,
          ROUND((msb - msw) / (msb + (m0 - 1) * msw), 6) AS icc,
          ROUND(1.0 + (m0 - 1)
            * ((msb - msw) / (msb + (m0 - 1) * msw)), 6) AS deff
        FROM c3"""

  /** DuckDB twin of [[sobelMediation]]; `srcCte` yields (x, m, y). */
  def sobelMediationOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(x AS DECIMAL(9,0)) AS x,
            CAST(m AS DECIMAL(18,2)) AS m, CAST(y AS DECIMAL(18,2)) AS y
          FROM ($srcCte) WHERE x IS NOT NULL AND m IS NOT NULL
            AND y IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
            CAST(SUM(m) AS DOUBLE) AS sm, CAST(SUM(y) AS DOUBLE) AS sy,
            CAST(SUM(x * x) AS DOUBLE) AS sxx0,
            CAST(SUM(m * m) AS DOUBLE) AS smm0,
            CAST(SUM(x * m) AS DOUBLE) AS sxm0,
            CAST(SUM(x * y) AS DOUBLE) AS sxy0,
            CAST(SUM(m * y) AS DOUBLE) AS smy0,
            CAST(SUM(y * y) AS DOUBLE) AS syy0
          FROM src),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            sx / n AS mx, sm / n AS mm, sy / n AS my,
            sxx0, smm0, sxm0, sxy0, smy0, syy0 FROM g),
        cc AS (SELECT n, nd,
            sxx0 - nd * mx * mx AS sxx, smm0 - nd * mm * mm AS smm,
            sxm0 - nd * mx * mm AS sxm, sxy0 - nd * mx * my AS sxy,
            smy0 - nd * mm * my AS smy, syy0 - nd * my * my AS syy
          FROM c),
        e AS (SELECT n, nd, sxx, smm, sxm, sxy, smy, syy,
            sxm / sxx AS a,
            (smy * sxx - sxy * sxm) / (smm * sxx - sxm * sxm) AS b,
            (sxy * smm - smy * sxm) / (smm * sxx - sxm * sxm)
              AS cprime,
            smm * sxx - sxm * sxm AS det
          FROM cc),
        f AS (SELECT n, a, b, cprime,
            ((smm - a * sxm) / (nd - 2)) / sxx AS sea2,
            ((syy - b * smy - cprime * sxy) / (nd - 3)) * sxx / det
              AS seb2
          FROM e)
        SELECT n, ROUND(a, 6) AS a, ROUND(b, 6) AS b,
          ROUND(cprime, 6) AS c_direct, ROUND(a * b, 6) AS indirect,
          ROUND(a * b / SQRT(b * b * sea2 + a * a * seb2), 6)
            AS sobel_z
        FROM f"""

  /** DuckDB twin of [[ebShrinkMeans]]; `srcCte` yields (grp, v). */
  def ebShrinkMeansOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        per AS (SELECT grp AS "group", COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE v IS NOT NULL GROUP BY grp
          HAVING COUNT(*) > 1),
        wm AS (SELECT "group", n, s1 / CAST(n AS DOUBLE) AS m,
            (s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1)
              / CAST(n AS DOUBLE) AS se2
          FROM per),
        hyper AS (SELECT COUNT(*) AS k, AVG(m) AS gm,
            GREATEST(SUM(m * m) / COUNT(*) - AVG(m) * AVG(m)
              - AVG(se2), 0.0) AS tau2
          FROM wm)
        SELECT "group", n, ROUND(m, 6) AS raw_mean,
          ROUND((tau2 / (tau2 + se2)) * m
            + (1.0 - tau2 / (tau2 + se2)) * gm, 6) AS shrunk_mean,
          ROUND(tau2 / (tau2 + se2), 6) AS weight
        FROM wm CROSS JOIN hyper ORDER BY "group""""

  /** DuckDB twin of [[stratifiedAte]]; `srcCte` yields (s, tr, y). */
  def stratifiedAteOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT s, CAST(tr AS INT) AS tr,
            CAST(y AS DECIMAL(18,2)) AS y
          FROM ($srcCte) WHERE y IS NOT NULL),
        cells AS (SELECT s, COUNT(*) AS n,
            SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS nt,
            CAST(SUM(CASE WHEN tr = 1 THEN y END) AS DOUBLE) AS st,
            CAST(SUM(CASE WHEN tr <> 1 THEN y END) AS DOUBLE) AS sc
          FROM src GROUP BY s),
        naive AS (SELECT
            CAST(SUM(CASE WHEN tr = 1 THEN y END) AS DOUBLE)
              / SUM(CASE WHEN tr = 1 THEN 1 END)
            - CAST(SUM(CASE WHEN tr <> 1 THEN y END) AS DOUBLE)
              / SUM(CASE WHEN tr <> 1 THEN 1 END) AS nv
          FROM src),
        f AS (SELECT (nt > 0 AND nt < n) AS ok, n, nt, st, sc
          FROM cells)
        SELECT CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
            AS n_strata,
          CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped,
          CAST(SUM(CASE WHEN ok THEN n END) AS BIGINT) AS n_units,
          ROUND(ANY_VALUE(nv), 6) AS naive_diff,
          ROUND(CAST(SUM(CAST(ROUND(CASE WHEN ok THEN
              (st / nt - sc / (n - nt)) * n END, 9)
              AS DECIMAL(38,9))) AS DOUBLE)
            / CAST(SUM(CASE WHEN ok THEN n END) AS DOUBLE), 6)
            AS adjusted_ate
        FROM f CROSS JOIN naive"""

  /** DuckDB twin of [[propensityOverlap]]; `srcCte` yields (b, tr). */
  def propensityOverlapOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT b, CAST(tr AS INT) AS tr FROM ($srcCte)
          WHERE b IS NOT NULL),
        bins AS (SELECT b,
            SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS nt,
            SUM(CASE WHEN tr <> 1 THEN 1 ELSE 0 END) AS nc
          FROM src GROUP BY b),
        tot AS (SELECT SUM(nt) AS tn, SUM(nc) AS cn FROM bins)
        SELECT CAST(ANY_VALUE(tn) AS BIGINT) AS n_treat,
          CAST(ANY_VALUE(cn) AS BIGINT) AS n_ctrl,
          COUNT(*) AS n_bins,
          ROUND(CAST(SUM(LEAST(nt * cn, nc * tn))
            AS DOUBLE) / (CAST(ANY_VALUE(tn) AS DOUBLE)
              * ANY_VALUE(cn)), 6) AS overlap,
          ROUND(CAST(SUM(CASE WHEN nc = 0 THEN nt ELSE 0 END)
            AS DOUBLE) / ANY_VALUE(tn), 6) AS treat_off_support
        FROM bins CROSS JOIN tot"""
}

/** DuckDB twins of [[graft.ml.EvalExtras]]. */
object EvalExtrasOracle {
  /** DuckDB twin of [[mccSummary]]; `srcCte` yields (p, l) in {0,1}.
    */
  def mccSummaryOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT
            SUM(p * l) AS tp, SUM(p * (1 - l)) AS fp,
            SUM((1 - p) * l) AS fn, SUM((1 - p) * (1 - l)) AS tn
          FROM src),
        c AS (SELECT tp, fp, fn, tn,
            CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
            CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
          FROM g)
        SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
          ROUND(CASE WHEN SQRT((tpd + fpd) * (tpd + fnd) * (tnd + fpd)
              * (tnd + fnd)) > 0 THEN
            (tpd * tnd - fpd * fnd) / SQRT((tpd + fpd) * (tpd + fnd)
              * (tnd + fpd) * (tnd + fnd)) END, 6) AS mcc,
          ROUND(tpd / (tpd + fnd) + tnd / (tnd + fpd) - 1, 6)
            AS youden_j,
          ROUND((tpd / (tpd + fnd) + tnd / (tnd + fpd)) / 2, 6)
            AS balanced_acc
        FROM c"""

  /** DuckDB twin of [[effectSizes]]; `aCte`/`bCte` yield v. */
  def effectSizesOracleSql(aCte: String, bCte: String): String =
    s"""WITH ga AS (SELECT COUNT(*) AS na,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1a,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2a
          FROM ($aCte) WHERE v IS NOT NULL),
        gb AS (SELECT COUNT(*) AS nb,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1b,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2b
          FROM ($bCte) WHERE v IS NOT NULL),
        c AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad,
            CAST(nb AS DOUBLE) AS nbd,
            s1a / na AS ma, s1b / nb AS mb,
            s2a - na * (s1a / na) * (s1a / na) AS ssa,
            s2b - nb * (s1b / nb) * (s1b / nb) AS ssb
          FROM ga CROSS JOIN gb),
        e AS (SELECT na, nb, ma, mb,
            (ma - mb) / SQRT((ssa + ssb) / (nad + nbd - 2)) AS d,
            1.0 - 3.0 / (4.0 * (nad + nbd - 2) - 1) AS j,
            SQRT(ssb / (nbd - 1)) AS sb
          FROM c)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          ROUND(ma - mb, 6) AS mean_diff, ROUND(d, 6) AS cohens_d,
          ROUND(d * j, 6) AS hedges_g,
          ROUND(CASE WHEN sb > 0 THEN (ma - mb) / sb END, 6)
            AS glass_delta
        FROM e"""

  /** DuckDB twin of [[srmCheck]]; `srcCte` yields (arm) in {0,1}. */
  def srmCheckOracleSql(srcCte: String,
                        expectedShareA: Double = 0.5): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT SUM(CAST(arm AS BIGINT)) AS na,
            SUM(1 - CAST(arm AS BIGINT)) AS nb FROM src),
        c AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad,
            CAST(nb AS DOUBLE) AS nbd,
            CAST(na + nb AS DOUBLE) AS n FROM g)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          $expectedShareA AS expected_share,
          ROUND(nad / n, 6) AS observed_share,
          ROUND((nad - n * $expectedShareA) * (nad - n * $expectedShareA)
              / (n * $expectedShareA)
            + (nbd - n * (1 - $expectedShareA))
              * (nbd - n * (1 - $expectedShareA))
              / (n * (1 - $expectedShareA)), 6) AS chi2,
          ROUND((nad - n * $expectedShareA)
            / SQRT(n * $expectedShareA * (1 - $expectedShareA)), 6)
            AS z_stat
        FROM c"""

  /** DuckDB twin of [[bestThresholds]]; `srcCte` yields (s, l). */
  def bestThresholdsOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(s AS DOUBLE) AS v,
            CAST(l AS INT) AS l FROM ($srcCte)
          WHERE s IS NOT NULL AND NOT isnan(CAST(s AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(l) AS np FROM src
          GROUP BY v),
        t AS (SELECT SUM(np) AS tp_all, SUM(n - np) AS tn_all FROM m),
        c AS (SELECT v,
            SUM(np) OVER (ORDER BY v) - np AS befp,
            SUM(n - np) OVER (ORDER BY v) - (n - np) AS befn
          FROM m),
        r AS (SELECT c.v AS score,
            CAST(t.tp_all - c.befp AS DOUBLE) / t.tp_all AS tpr,
            CAST(t.tn_all - c.befn AS DOUBLE) / t.tn_all AS fpr,
            CAST(t.tp_all - c.befp AS DOUBLE)
              / ((t.tp_all - c.befp) + (t.tn_all - c.befn)) AS prec
          FROM c CROSS JOIN t),
        r2 AS (SELECT score, tpr, fpr, prec, tpr - fpr AS jstat,
            COALESCE(2.0 * prec * tpr / (prec + tpr), 0.0) AS f1
          FROM r),
        yj AS (SELECT 'youden' AS criterion, score, tpr, fpr, prec,
            jstat AS crit FROM r2
          ORDER BY jstat DESC, score ASC LIMIT 1),
        bf AS (SELECT 'f1' AS criterion, score, tpr, fpr, prec,
            f1 AS crit FROM r2
          ORDER BY f1 DESC, score ASC LIMIT 1)
        SELECT criterion, ROUND(score, 6) AS threshold,
          ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr,
          ROUND(prec, 6) AS "precision", ROUND(crit, 6) AS score
        FROM (SELECT * FROM yj UNION ALL SELECT * FROM bf)
        ORDER BY criterion"""

  /** DuckDB twin of [[averagePrecision]]; `srcCte` yields (s, l). */
  def averagePrecisionOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(s AS DOUBLE) AS v,
            CAST(l AS INT) AS l FROM ($srcCte)
          WHERE s IS NOT NULL AND NOT isnan(CAST(s AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(l) AS np FROM src
          GROUP BY v),
        t AS (SELECT SUM(np) AS npos, SUM(n) AS nt FROM m),
        c AS (SELECT np, n,
            SUM(np) OVER (ORDER BY v) - np AS befp,
            SUM(n) OVER (ORDER BY v) - n AS bef
          FROM m)
        SELECT CAST(t.nt AS BIGINT) AS n, CAST(t.npos AS BIGINT)
            AS n_pos,
          ROUND(SUM(CAST(c.np AS DOUBLE) / t.npos
            * (CAST(t.npos - c.befp AS DOUBLE)
              / CAST(t.nt - c.bef AS DOUBLE))), 6) AS ap
        FROM c CROSS JOIN t GROUP BY t.nt, t.npos"""

  /** DuckDB twin of [[equalizedOdds]]; `srcCte` yields (g, p, l). */
  def equalizedOddsOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        per AS (SELECT g AS "group", COUNT(*) AS n,
            CAST(SUM(p * l) AS DOUBLE)
              / (SUM(p * l) + SUM((1 - p) * l)) AS tpr,
            CAST(SUM(p * (1 - l)) AS DOUBLE)
              / (SUM(p * (1 - l)) + SUM((1 - p) * (1 - l))) AS fpr
          FROM src GROUP BY g),
        gaps AS (SELECT MAX(tpr) - MIN(tpr) AS tg,
            MAX(fpr) - MIN(fpr) AS fg FROM per)
        SELECT "group", n, ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr,
          ROUND(tg, 6) AS tpr_gap, ROUND(fg, 6) AS fpr_gap
        FROM per CROSS JOIN gaps ORDER BY "group""""

  /** DuckDB twin of [[splitHalfReliability]]; `srcCte` yields
    * (id, item, v). */
  def splitHalfReliabilityOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        per AS (SELECT id,
            CAST(SUM(CASE WHEN item % 2 = 0 THEN
                CAST(v AS DECIMAL(18,2)) END) AS DOUBLE)
              / SUM(CASE WHEN item % 2 = 0 THEN 1 END) AS h1,
            CAST(SUM(CASE WHEN item % 2 <> 0 THEN
                CAST(v AS DECIMAL(18,2)) END) AS DOUBLE)
              / SUM(CASE WHEN item % 2 <> 0 THEN 1 END) AS h2
          FROM src WHERE v IS NOT NULL GROUP BY id),
        ok AS (SELECT * FROM per WHERE h1 IS NOT NULL
          AND h2 IS NOT NULL)
        SELECT COUNT(*) AS n_entities,
          ROUND(corr(h1, h2), 6) AS half_corr,
          ROUND(2.0 * corr(h1, h2) / (1.0 + corr(h1, h2)), 6)
            AS spearman_brown
        FROM ok"""

  /** DuckDB twin of [[giniStump]]; `srcCte` yields (f, l). */
  def giniStumpOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(f AS DOUBLE) AS v,
            CAST(l AS INT) AS l FROM ($srcCte)
          WHERE f IS NOT NULL AND NOT isnan(CAST(f AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(l) AS np FROM src
          GROUP BY v),
        t AS (SELECT SUM(np) AS tp, SUM(n) AS nt FROM m),
        c AS (SELECT v,
            SUM(n) OVER (ORDER BY v) - n AS bef,
            SUM(np) OVER (ORDER BY v) - np AS befp
          FROM m),
        g AS (SELECT c.v AS score, c.bef, c.befp, t.nt, t.tp
          FROM c CROSS JOIN t WHERE c.bef > 0),
        sc AS (SELECT score, bef, befp, nt, tp,
            CAST(CAST(befp AS HUGEINT) * (bef - befp) AS DOUBLE)
                / CAST(bef AS DOUBLE)
              + CAST(CAST(tp - befp AS HUGEINT)
                  * ((nt - bef) - (tp - befp)) AS DOUBLE)
                / CAST(nt - bef AS DOUBLE) AS f
          FROM g)
        SELECT ROUND(score, 6) AS threshold,
          CAST(bef AS BIGINT) AS n_left,
          CAST(nt - bef AS BIGINT) AS n_right,
          ROUND(2.0 * f / CAST(nt AS DOUBLE), 6) AS gini,
          ROUND(CAST(befp AS DOUBLE) / CAST(bef AS DOUBLE), 6) AS p_left,
          ROUND(CAST(tp - befp AS DOUBLE) / CAST(nt - bef AS DOUBLE), 6)
            AS p_right
        FROM sc ORDER BY f, score LIMIT 1"""

  /** DuckDB twin of [[linearCalibration]]; `srcCte` yields (p, l). */
  def linearCalibrationOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT
            CAST(ROUND(CAST(p AS DOUBLE), 6) AS DECIMAL(10,6)) AS p,
            CAST(l AS BIGINT) AS l
          FROM ($srcCte) WHERE p IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS sp,
            CAST(SUM(l) AS DOUBLE) AS sl,
            CAST(SUM(p * p) AS DOUBLE) AS spp,
            CAST(SUM(CASE WHEN l = 1 THEN p END) AS DOUBLE) AS spl
          FROM src),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd, sp / n AS mp,
            sl / n AS ml, spp, spl FROM g),
        s2 AS (SELECT n, mp, ml,
            (spl - nd * mp * ml) / (spp - nd * mp * mp) AS slope
          FROM c)
        SELECT n, ROUND(mp, 6) AS mean_pred, ROUND(ml, 6) AS base_rate,
          ROUND(mp - ml, 6) AS citl, ROUND(slope, 6) AS cal_slope,
          ROUND(ml - slope * mp, 6) AS cal_intercept
        FROM s2"""

  /** DuckDB twin of [[partialAuc]]; `srcCte` yields (s, y). */
  def partialAucOracleSql(srcCte: String,
                          maxFprPct: Int = 10): String =
    s"""WITH base AS (SELECT CAST(s AS DOUBLE) AS s,
            CASE WHEN CAST(y AS INT) = 1 THEN 1 ELSE 0 END AS y
          FROM ($srcCte) WHERE s IS NOT NULL AND y IS NOT NULL),
        cells AS (SELECT s, COUNT(*) AS c, SUM(y) AS p
          FROM base GROUP BY s),
        tot AS (SELECT SUM(c) AS nt, SUM(p) AS np FROM cells),
        cum AS (SELECT s, c, p,
            SUM(c) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge,
            SUM(p) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pge
          FROM cells),
        g AS (SELECT ANY_VALUE(tot.nt) AS n, ANY_VALUE(tot.np) AS np,
            ANY_VALUE(tot.nt - tot.np) AS nn,
            COALESCE(MAX(CASE WHEN (cge - pge) * 100
              <= (tot.nt - tot.np) * $maxFprPct
              THEN cge - pge END), 0) AS afpr,
            CAST(COALESCE(SUM(CASE WHEN (cge - pge) * 100
                <= (tot.nt - tot.np) * $maxFprPct THEN
              CAST(c - p AS DECIMAL(19,0))
                * CAST(2 * pge - p AS DECIMAL(19,0)) END),
              CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS num
          FROM cum CROSS JOIN tot)
        SELECT CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
          ROUND(CAST(afpr AS DOUBLE) / nn, 6) AS achieved_fpr,
          ROUND(num / (2.0 * nn * np), 6) AS pauc,
          ROUND((num / (2.0 * nn * np))
            / (CAST(afpr AS DOUBLE) / nn), 6) AS pauc_norm
        FROM g"""
}

/** DuckDB twins of [[graft.ml.Experiments]]. */
object ExperimentsOracle {
  /** DuckDB twin of [[stratifiedAte]]; `unitsCte` must yield
    * (treated, y, x). */
  def stratifiedAteOracleSql(unitsCte: String, nStrata: Int = 5): String =
    s"""WITH units AS ($unitsCte),
        u AS (SELECT CAST(treated AS INT) AS t,
            CAST(y AS DECIMAL(18,2)) AS y, CAST(x AS DOUBLE) AS x
          FROM units WHERE y IS NOT NULL AND x IS NOT NULL),
        byv AS (SELECT x, COUNT(*) AS c FROM u GROUP BY x),
        smap AS (SELECT x,
            CAST(FLOOR(COALESCE(SUM(c) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              * $nStrata / (SELECT SUM(c) FROM byv)) AS INT) + 1
              AS stratum
          FROM byv),
        g AS (SELECT stratum, COUNT(*) AS n,
            CAST(SUM(t) AS BIGINT) AS n_treated,
            SUM(CASE WHEN t = 1 THEN y END) AS st,
            SUM(CASE WHEN t = 0 THEN y END) AS sc
          FROM u JOIN smap USING (x) GROUP BY stratum),
        sc2 AS (SELECT stratum, n, n_treated,
            CAST(st AS DOUBLE) / n_treated AS mt,
            CAST(sc AS DOUBLE) / (n - n_treated) AS mc,
            CASE WHEN n_treated > 0 AND n_treated < n THEN
              CAST(st AS DOUBLE) / n_treated -
                CAST(sc AS DOUBLE) / (n - n_treated) END AS diff
          FROM g),
        tot AS (SELECT SUM(diff * n) / SUM(n) AS ate,
            SUM(diff * n_treated) / SUM(n_treated) AS att
          FROM sc2 WHERE diff IS NOT NULL)
        SELECT stratum, n, n_treated, ROUND(mt, 6) AS mean_treated,
          ROUND(mc, 6) AS mean_control, ROUND(diff, 6) AS diff,
          ROUND(ate, 6) AS ate, ROUND(att, 6) AS att
        FROM sc2 CROSS JOIN tot"""

  /** DuckDB twin of [[ratioMetricCi]]; `unitsCte` must yield
    * (arm, y, x). */
  def ratioMetricCiOracleSql(unitsCte: String): String =
    s"""WITH units AS ($unitsCte),
        g AS (SELECT arm, COUNT(*) AS n,
            SUM(CAST(y AS DECIMAL(18,2))) AS sy,
            SUM(CAST(x AS DECIMAL(18,2))) AS sx,
            SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS syy,
            SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx,
            SUM(CAST(y AS DOUBLE) * CAST(x AS DOUBLE)) AS syx
          FROM units GROUP BY arm),
        sc AS (SELECT arm, n,
            CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
            CAST(sy AS DOUBLE) / n AS my, CAST(sx AS DOUBLE) / n AS mx,
            CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
            syy, sxx, syx
          FROM g),
        v AS (SELECT arm, n, syd, sxd, r,
            CASE WHEN n >= 2 AND sxd != 0 THEN
              SQRT(GREATEST((
                (syy - n * my * my) / (n - 1)
                - 2 * r * ((syx - n * my * mx) / (n - 1))
                + r * r * ((sxx - n * mx * mx) / (n - 1)))
                / (n * mx * mx), 0)) END AS se
          FROM sc)
        SELECT arm, n, syd AS num_total, sxd AS den_total,
          ROUND(r, 6) AS ratio, ROUND(se, 6) AS se,
          ROUND(r - 1.96 * se, 6) AS ci_lo,
          ROUND(r + 1.96 * se, 6) AS ci_hi
        FROM v"""

  /** DuckDB twin of [[caliperMatch]]; `unitsCte` must yield
    * (treated, y, x). */
  def caliperMatchOracleSql(unitsCte: String, caliper: Double): String =
    s"""WITH units AS ($unitsCte),
        u AS (SELECT CAST(treated AS INT) AS t, y,
            CAST(x AS DOUBLE) AS x
          FROM units WHERE y IS NOT NULL AND x IS NOT NULL),
        byx AS (SELECT x,
            SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nt,
            SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(18,2)) END) AS syt,
            MAX(CASE WHEN t = 0 THEN CAST(y AS DOUBLE) END) AS cyrep
          FROM u GROUP BY x),
        w AS (SELECT x, nt, syt,
            LAST_VALUE(CASE WHEN cyrep IS NOT NULL THEN x END IGNORE NULLS)
              OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bx,
            LAST_VALUE(cyrep IGNORE NULLS)
              OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS by,
            FIRST_VALUE(CASE WHEN cyrep IS NOT NULL THEN x END IGNORE NULLS)
              OVER (ORDER BY x
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fx,
            FIRST_VALUE(cyrep IGNORE NULLS)
              OVER (ORDER BY x
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fy
          FROM byx),
        m AS (SELECT x, nt, syt,
            CASE WHEN bx IS NOT NULL AND (fx IS NULL OR x - bx <= fx - x)
              THEN by ELSE fy END AS cy,
            CASE WHEN bx IS NOT NULL AND (fx IS NULL OR x - bx <= fx - x)
              THEN x - bx ELSE fx - x END AS d
          FROM w WHERE nt > 0),
        s AS (SELECT nt, syt, cy,
            (cy IS NOT NULL AND d <= $caliper) AS ok
          FROM m)
        SELECT CAST(SUM(nt) AS BIGINT) AS n_treated,
          CAST(SUM(CASE WHEN ok THEN nt ELSE 0 END) AS BIGINT)
            AS n_matched,
          ROUND((SUM(CASE WHEN ok THEN CAST(syt AS DOUBLE) END)
              - SUM(CASE WHEN ok THEN nt ELSE 0 END * cy))
            / SUM(CASE WHEN ok THEN nt ELSE 0 END), 6) AS att,
          ROUND(SUM(CASE WHEN ok THEN CAST(syt AS DOUBLE) END)
            / SUM(CASE WHEN ok THEN nt ELSE 0 END), 6) AS mean_treated,
          ROUND(SUM(CASE WHEN ok THEN nt ELSE 0 END * cy)
            / SUM(CASE WHEN ok THEN nt ELSE 0 END), 6)
            AS mean_matched_control
        FROM s"""

  /** DuckDB twin of [[rakeWeights]]; `sampleCte`/`popCte` must yield
    * (r, c). The IPF cycles are unrolled identically. */
  def rakeWeightsOracleSql(sampleCte: String, popCte: String,
                           iters: Int = 3): String = {
    val rounds = (1 to iters).map { t =>
      s"""tr$t AS (SELECT r, SUM(n_sample * w) AS tr
            FROM w${t - 1} GROUP BY r),
          wr$t AS (SELECT w.r, w.c, w.n_sample, w.pr, w.pc,
              w.w * w.pr / tr$t.tr AS w
            FROM w${t - 1} w JOIN tr$t ON w.r = tr$t.r),
          tc$t AS (SELECT c, SUM(n_sample * w) AS tc
            FROM wr$t GROUP BY c),
          w$t AS (SELECT w.r, w.c, w.n_sample, w.pr, w.pc,
              w.w * w.pc / tc$t.tc AS w
            FROM wr$t w JOIN tc$t ON w.c = tc$t.c)"""
    }.mkString(",\n")
    s"""WITH s AS ($sampleCte), p AS ($popCte),
        popr AS (SELECT r, CAST(COUNT(*) AS DOUBLE) AS pr
          FROM p GROUP BY r),
        popc AS (SELECT c, CAST(COUNT(*) AS DOUBLE) AS pc
          FROM p GROUP BY c),
        w0 AS (SELECT s.r, s.c, COUNT(*) AS n_sample,
            ANY_VALUE(popr.pr) AS pr, ANY_VALUE(popc.pc) AS pc, 1.0 AS w
          FROM s JOIN popr ON s.r = popr.r JOIN popc ON s.c = popc.c
          GROUP BY s.r, s.c),
        $rounds
        SELECT r, c, CAST(n_sample AS BIGINT) AS n_sample,
          ROUND(w, 6) AS weight,
          ROUND(n_sample * w, 6) AS weighted_n
        FROM w$iters"""
  }

  /** DuckDB twin of [[quantileTreatmentEffects]]; `unitsCte` must
    * yield (g, v). */
  def qteOracleSql(unitsCte: String, treatGroup: String,
                   ctrlGroup: String): String = {
    val ps = (1 to 9).map(_ / 10.0).mkString("[", ", ", "]")
    s"""WITH base AS (SELECT g, CAST(v AS DOUBLE) AS v FROM ($unitsCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
            AND g IN ('$treatGroup', '$ctrlGroup')),
        qt AS (SELECT quantile_cont(v, $ps) AS q FROM base
          WHERE g = '$treatGroup'),
        qc AS (SELECT quantile_cont(v, $ps) AS q FROM base
          WHERE g = '$ctrlGroup'),
        ix AS (SELECT UNNEST(range(1, 10)) AS i)
        SELECT CAST(i AS DOUBLE) / 10.0 AS p, ROUND(qt.q[i], 6) AS q_treat,
          ROUND(qc.q[i], 6) AS q_ctrl,
          ROUND(qt.q[i] - qc.q[i], 6) AS qte
        FROM ix CROSS JOIN qt CROSS JOIN qc ORDER BY p"""
  }

  /** DuckDB twin of [[bayesianAb]]; `unitsCte` must yield (arm, conv).
    * Builds the identical log-factorial ladder and Cook sum. */
  def bayesianAbOracleSql(unitsCte: String, armA: String,
                          armB: String): String =
    s"""WITH units AS (SELECT * FROM ($unitsCte)
          WHERE arm IN ('$armA', '$armB') AND conv IS NOT NULL),
        cts AS (SELECT
            CAST(SUM(CASE WHEN arm = '$armA' THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
            CAST(SUM(CASE WHEN arm = '$armA' AND conv = 1 THEN 1 ELSE 0
              END) AS BIGINT) AS sa,
            CAST(SUM(CASE WHEN arm = '$armB' THEN 1 ELSE 0 END)
              AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN arm = '$armB' AND conv = 1 THEN 1 ELSE 0
              END) AS BIGINT) AS sb
          FROM units),
        par AS (SELECT na, sa, nb, sb, 1 + sa AS aa, 1 + na - sa AS ba,
            1 + sb AS ab, 1 + nb - sb AS bb FROM cts),
        lf AS MATERIALIZED (SELECT i,
            SUM(LN(GREATEST(i, 1))) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
          FROM (SELECT UNNEST(range(0,
            (SELECT aa + ab + ba + bb FROM par) + 1)) AS i)),
        ks AS (SELECT UNNEST(range(0, (SELECT ab FROM par))) AS i),
        t AS (SELECT
            (l1.lf + lbab.lf - l3.lf
              - LN(CAST(par.bb AS DOUBLE) + ks.i)
              - (l2.lf + lbb.lf - l4.lf)
              - (laa.lf + lba.lf - laba.lf)) AS lt
          FROM ks CROSS JOIN par
          JOIN lf l1 ON l1.i = par.aa - 1 + ks.i
          JOIN lf l2 ON l2.i = ks.i
          JOIN lf l3 ON l3.i = par.aa + par.ba + par.bb - 1 + ks.i
          JOIN lf l4 ON l4.i = ks.i + par.bb
          JOIN lf lbab ON lbab.i = par.ba + par.bb - 1
          JOIN lf lbb ON lbb.i = par.bb - 1
          JOIN lf laa ON laa.i = par.aa - 1
          JOIN lf lba ON lba.i = par.ba - 1
          JOIN lf laba ON laba.i = par.aa + par.ba - 1)
        SELECT par.na AS n_a, par.sa AS s_a, par.nb AS n_b, par.sb AS s_b,
          ROUND(CAST(par.aa AS DOUBLE) / (par.aa + par.ba), 6) AS mean_a,
          ROUND(CAST(par.ab AS DOUBLE) / (par.ab + par.bb), 6) AS mean_b,
          ROUND(LEAST((SELECT SUM(EXP(lt)) FROM t), 1.0), 6)
            AS prob_b_beats_a
        FROM par"""

  /** DuckDB twin of [[essProfile]]; `srcCte` must yield (g, w). */
  def essProfileOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT g AS "group", COUNT(*) AS n,
            CAST(SUM(CAST(w AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(w AS DECIMAL(18,2))
              * CAST(w AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE w IS NOT NULL AND CAST(w AS DOUBLE) > 0
          GROUP BY g)
        SELECT "group", n, ROUND(s1, 6) AS sum_w,
          ROUND(s1 * s1 / s2, 6) AS ess,
          ROUND(CAST(n AS DOUBLE) * s2 / (s1 * s1), 6) AS deff
        FROM g ORDER BY "group""""

  /** DuckDB twin of [[tostEquivalence]]; `srcCte` yields (arm, v). */
  def tostEquivalenceOracleSql(srcCte: String, armA: String,
                               armB: String, margin: Double,
                               zCrit: Double = 1.644854): String =
    s"""WITH src AS (SELECT arm, CAST(v AS DECIMAL(18,2)) AS v
          FROM ($srcCte)
          WHERE v IS NOT NULL AND arm IN ('$armA', '$armB')),
        g AS (SELECT
            CAST(SUM(CASE WHEN arm = '$armA' THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
            CAST(SUM(CASE WHEN arm = '$armB' THEN 1 ELSE 0 END)
              AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN arm = '$armA' THEN v END) AS DOUBLE)
              AS sa,
            CAST(SUM(CASE WHEN arm = '$armB' THEN v END) AS DOUBLE)
              AS sb,
            CAST(SUM(CASE WHEN arm = '$armA' THEN v * v END) AS DOUBLE)
              AS qa,
            CAST(SUM(CASE WHEN arm = '$armB' THEN v * v END) AS DOUBLE)
              AS qb
          FROM src),
        c AS (SELECT na, nb,
            sa / na - sb / nb AS diff,
            SQRT(((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na
              + ((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb)
              AS se
          FROM g)
        SELECT na AS n_a, nb AS n_b, ROUND(diff, 6) AS diff,
          ROUND(se, 6) AS se,
          ROUND((diff + $margin) / se, 6) AS t_lower,
          ROUND((diff - $margin) / se, 6) AS t_upper,
          ((diff + $margin) / se > $zCrit
            AND (diff - $margin) / se < -$zCrit) AS equivalent
        FROM c"""
}

/** DuckDB twins of [[graft.ml.InfoGain]]. */
object InfoGainOracle {
  /** DuckDB twin of [[bestSplit]]; `srcCte` must yield (x, y). The
    * thresholds are re-derived with the same quantile/rounding rule. */
  def bestSplitOracleSql(srcCte: String, candidates: Int = 19): String = {
    val ps = (1 to candidates).map(_.toDouble / (candidates + 1))
      .mkString("[", ", ", "]")
    s"""WITH base AS (SELECT CAST(x AS DOUBLE) AS x,
            CAST(y AS BIGINT) AS y FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))),
        th AS (SELECT DISTINCT ROUND(UNNEST(
            quantile_cont(x, $ps)), 6) AS t FROM base),
        tot AS (SELECT COUNT(*) AS n, SUM(y) AS p FROM base),
        sp AS (SELECT th.t,
            SUM(CASE WHEN base.x <= th.t THEN 1 ELSE 0 END) AS nl,
            SUM(CASE WHEN base.x <= th.t THEN base.y ELSE 0 END) AS pl
          FROM base CROSS JOIN th GROUP BY th.t),
        sc AS (SELECT t, nl, tot.n - nl AS nr, pl, tot.p - pl AS pr,
            tot.n AS n, tot.p AS p
          FROM sp CROSS JOIN tot),
        gn AS (SELECT t, nl, nr,
            CASE WHEN n > 0 THEN 1.0
              - (CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
                * (CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
              - (1.0 - CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
                * (1.0 - CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
              ELSE 0.0 END AS gp,
            CAST(nl AS DOUBLE)/CAST(n AS DOUBLE) *
              (CASE WHEN nl > 0 THEN 1.0
                - (CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
                  * (CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
                - (1.0 - CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
                  * (1.0 - CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
                ELSE 0.0 END) +
            CAST(nr AS DOUBLE)/CAST(n AS DOUBLE) *
              (CASE WHEN nr > 0 THEN 1.0
                - (CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE))
                  * (CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE))
                - (1.0 - CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE))
                  * (1.0 - CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE))
                ELSE 0.0 END) AS gs
          FROM sc)
        SELECT t AS threshold, CAST(nl AS BIGINT) AS n_left,
          CAST(nr AS BIGINT) AS n_right,
          ROUND(gp, 6) AS gini_parent, ROUND(gs, 6) AS gini_split,
          ROUND(gp - gs, 6) AS gain
        FROM gn ORDER BY gs, t LIMIT 1"""
  }

  /** DuckDB twin of [[giniSweep]] over `table`; features must cast
    * to BIGINT bins. */
  def giniSweepOracleSql(table: String, features: Seq[String],
                         labelExpr: String): String = {
    val unions = features.map(f =>
      s"""SELECT '$f' AS f, CAST($f AS BIGINT) AS b,
           CASE WHEN $labelExpr = 1 THEN 1 ELSE 0 END AS y
         FROM $table WHERE ($labelExpr) IS NOT NULL
           AND CAST($f AS BIGINT) IS NOT NULL""")
      .mkString("\n UNION ALL ")
    s"""WITH stacked AS ($unions),
        bins AS (SELECT f, b, COUNT(*) AS n, SUM(y) AS p
          FROM stacked GROUP BY f, b),
        cum AS (SELECT f, b,
            SUM(n) OVER (PARTITION BY f ORDER BY b) AS cn,
            SUM(p) OVER (PARTITION BY f ORDER BY b) AS cp,
            SUM(n) OVER (PARTITION BY f) AS tn,
            SUM(p) OVER (PARTITION BY f) AS tp
          FROM bins),
        sc AS (SELECT f, b, tn,
            2.0 * (CAST(tp AS DOUBLE) / tn)
              * (1.0 - CAST(tp AS DOUBLE) / tn) AS parent,
            2.0 * (CAST(tp AS DOUBLE) / tn)
              * (1.0 - CAST(tp AS DOUBLE) / tn)
            - ((CAST(cn AS DOUBLE) / tn)
                * (2.0 * (CAST(cp AS DOUBLE) / cn)
                  * (1.0 - CAST(cp AS DOUBLE) / cn))
              + (CAST(tn - cn AS DOUBLE) / tn)
                * (2.0 * (CAST(tp - cp AS DOUBLE) / (tn - cn))
                  * (1.0 - CAST(tp - cp AS DOUBLE) / (tn - cn))))
              AS dec
          FROM cum WHERE cn < tn),
        mx AS (SELECT f, MAX(dec) AS m FROM sc GROUP BY f)
        SELECT sc.f AS feature, CAST(ANY_VALUE(sc.tn) AS BIGINT) AS n,
          MIN(sc.b) AS best_bin,
          ROUND(ANY_VALUE(sc.parent), 6) AS gini_parent,
          ROUND(ANY_VALUE(mx.m), 6) AS gini_decrease
        FROM sc JOIN mx ON sc.f = mx.f AND sc.dec = mx.m
        GROUP BY sc.f ORDER BY feature"""
  }
}

/** DuckDB twins of [[graft.ml.Isotonic]]. */
object IsotonicOracle {
  /** DuckDB twin of [[calibrate]]. `labelExpr` must be a boolean
    * SQL expression. */
  def calibrateOracleSql(scoreExpr: String, labelExpr: String,
                         table: String, buckets: Int = 20): String =
    s"""WITH src AS (SELECT CAST($scoreExpr AS DOUBLE) AS v,
            ($labelExpr) AS y
          FROM $table
          WHERE $scoreExpr IS NOT NULL
            AND NOT isnan(CAST($scoreExpr AS DOUBLE))
            AND ($labelExpr) IS NOT NULL),
        bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
        cells AS (SELECT
            CASE WHEN hi = lo THEN 0
                 ELSE CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / $buckets)),
                   $buckets - 1) AS INT) END AS b,
            COUNT(*) AS n,
            CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pos,
            SUM(v) AS sv
          FROM src CROSS JOIN bounds GROUP BY 1),
        pre AS (SELECT b,
            CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cw,
            CAST(SUM(n_pos) OVER (ORDER BY b) AS BIGINT) AS cp
          FROM cells),
        iv AS (SELECT jm.b + 1 AS j, k.b AS k,
            CAST(k.cp - jm.cp AS DOUBLE) / (k.cw - jm.cw) AS a
          FROM pre k JOIN pre jm ON jm.b < k.b
          UNION ALL
          SELECT 0 AS j, b AS k, CAST(cp AS DOUBLE) / cw AS a
          FROM pre),
        mk AS (SELECT c.b AS i, iv.j, MIN(iv.a) AS m
          FROM cells c JOIN iv ON iv.j <= c.b AND iv.k >= c.b
          GROUP BY c.b, iv.j),
        iso AS (SELECT i, MAX(m) AS iso FROM mk GROUP BY i)
        SELECT c.b AS bucket, c.n, c.n_pos,
          ROUND(c.sv / c.n, 6) AS mean_score,
          ROUND(CAST(c.n_pos AS DOUBLE) / c.n, 6) AS frac_pos,
          ROUND(iso.iso, 6) AS iso_prob
        FROM cells c JOIN iso ON iso.i = c.b
        ORDER BY bucket"""
}

/** DuckDB twins of [[graft.ml.LearningCurve]]. */
object LearningCurveOracle {
  /** DuckDB twin of [[simpleOlsCurve]] — same two-level cell
    * aggregation so float summation structure matches. */
  def simpleOlsCurveOracleSql(xExpr: String, yExpr: String,
                              keyExpr: String, table: String,
                              fractions: Seq[Int] = Seq(10, 20, 40, 80),
                              testFrom: Int = 80): String = {
    val frList = fractions.mkString("[", ", ", "]")
    s"""WITH b AS (SELECT
            ((((($keyExpr) % 1000000007) + 1000000007) % 1000000007)
              * 2654435761) % 100 AS bucket,
            CAST($xExpr AS DOUBLE) AS x, CAST($yExpr AS DOUBLE) AS y
          FROM $table
          WHERE $xExpr IS NOT NULL AND $yExpr IS NOT NULL),
        cells AS (SELECT bucket, COUNT(*) AS n, SUM(x) AS sx,
            SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx,
            SUM(y*y) AS syy
          FROM b GROUP BY bucket),
        fr AS (SELECT unnest($frList) AS frac),
        tr AS (SELECT frac, CAST(SUM(n) AS BIGINT) AS tn,
            SUM(sx) AS tsx, SUM(sy) AS tsy, SUM(sxy) AS tsxy,
            SUM(sxx) AS tsxx
          FROM fr JOIN cells ON bucket < frac GROUP BY frac),
        te AS (SELECT CAST(SUM(n) AS BIGINT) AS hn, SUM(sx) AS hsx,
            SUM(sy) AS hsy, SUM(sxy) AS hsxy, SUM(sxx) AS hsxx,
            SUM(syy) AS hsyy
          FROM cells WHERE bucket >= $testFrom),
        co AS (SELECT frac, tn, hn, hsx, hsy, hsxy, hsxx, hsyy,
            (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS slope,
            (tsy - ((tn * tsxy - tsx * tsy) /
              (tn * tsxx - tsx * tsx)) * tsx) / tn AS a
          FROM tr CROSS JOIN te)
        SELECT frac, tn AS n_train, hn AS n_test,
          ROUND(slope, 6) AS slope, ROUND(a, 6) AS intercept,
          ROUND(1.0 - (hsyy - 2*a*hsy - 2*slope*hsxy + 2*a*slope*hsx
              + a*a*hn + slope*slope*hsxx)
            / (hsyy - hsy*hsy/hn), 6) AS r2_test
        FROM co ORDER BY frac"""
  }
}

/** DuckDB twins of [[graft.ml.Preference]]. */
object PreferenceOracle {
  /** DuckDB mirror of [[bradleyTerry]]: `matchesCte` must yield
    * (item_a, item_b, wins_a, wins_b); the MM rounds unroll as chained
    * CTEs (the PageRank-oracle pattern, `proximity/Graph.scala:158`).
    * Every CTE is MATERIALIZED: each round references the previous
    * strengths TWICE (the pᵢ/pⱼ self-join), so DuckDB's default CTE
    * inlining would expand the chain 2^iters times — enough to exhaust
    * file handles re-scanning the base table at iters = 8. */
  def bradleyTerryOracleSql(matchesCte: String, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""d$t AS MATERIALIZED (SELECT s.i, SUM(s.nij / (pi.p + pj.p)) AS den
            FROM sym s JOIN p${t - 1} pi ON s.i = pi.i
            JOIN p${t - 1} pj ON s.j = pj.i GROUP BY s.i),
          r$t AS MATERIALIZED (SELECT w.i, w.wi / d.den AS raw
            FROM wins w JOIN d$t d ON w.i = d.i),
          p$t AS MATERIALIZED (SELECT i,
            raw / (SELECT SUM(raw) FROM r$t) AS p FROM r$t)"""
    }.mkString(",\n")
    s"""WITH m AS MATERIALIZED ($matchesCte),
        sym AS MATERIALIZED (SELECT i, j, SUM(w) AS w, SUM(nij) AS nij
          FROM (
            SELECT item_a AS i, item_b AS j, CAST(wins_a AS DOUBLE) AS w,
              CAST(wins_a + wins_b AS DOUBLE) AS nij FROM m
            UNION ALL
            SELECT item_b, item_a, CAST(wins_b AS DOUBLE),
              CAST(wins_a + wins_b AS DOUBLE) FROM m) GROUP BY i, j),
        wins AS MATERIALIZED (SELECT i, SUM(w) AS wi, SUM(nij) AS ni
          FROM sym GROUP BY i),
        p0 AS MATERIALIZED (SELECT i,
          1.0 / (SELECT COUNT(*) FROM wins) AS p FROM wins),
        $rounds
        SELECT w.i AS item, CAST(w.ni AS BIGINT) AS n_matches,
          w.wi AS n_wins, ROUND(p.p, 6) AS strength
        FROM wins w JOIN p$iters p ON w.i = p.i"""
  }

  /** DuckDB twin of [[weightedKappa]]; `srcCte` yields (a, b). */
  def weightedKappaOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(a AS BIGINT) AS a,
            CAST(b AS BIGINT) AS b FROM ($srcCte)
          WHERE a IS NOT NULL AND b IS NOT NULL),
        cells AS (SELECT a, b, COUNT(*) AS n FROM src GROUP BY a, b),
        ma AS (SELECT a, SUM(n) AS na FROM cells GROUP BY a),
        mb AS (SELECT b, SUM(n) AS nb FROM cells GROUP BY b),
        t AS (SELECT SUM(n) AS tn FROM cells),
        o AS (SELECT SUM((a - b) * (a - b) * n) AS wo FROM cells),
        e AS (SELECT SUM((ma.a - mb.b) * (ma.a - mb.b)
            * ma.na * mb.nb) AS we
          FROM ma CROSS JOIN mb)
        SELECT CAST(tn AS BIGINT) AS n,
          ROUND(CAST(wo AS DOUBLE) / tn, 6) AS po_w,
          ROUND(CAST(we AS DOUBLE) / (CAST(tn AS DOUBLE) * tn), 6)
            AS pe_w,
          ROUND(1.0 - (CAST(wo AS DOUBLE) / tn)
            / (CAST(we AS DOUBLE) / (CAST(tn AS DOUBLE) * tn)), 6)
            AS kappa_w
        FROM t CROSS JOIN o CROSS JOIN e"""
}

/** DuckDB twins of [[graft.ml.RankingMetrics]]. */
object RankingMetricsOracle {
  /** DuckDB mirror of [[evaluate]]: `runsCte` must yield
    * (query, doc, score, rel). */
  def evaluateOracleSql(runsCte: String, k: Int): String =
    s"""WITH runs AS ($runsCte),
        ranked AS (SELECT query, doc, score, CAST(rel AS INT) AS rel,
            ROW_NUMBER() OVER (PARTITION BY query
              ORDER BY score DESC, doc ASC) AS rnk,
            SUM(CAST(rel AS INT)) OVER (PARTITION BY query
              ORDER BY score DESC, doc ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrel
          FROM runs),
        ideals AS (SELECT n, SUM(1.0 / log2(n + 1))
            OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS idcg
          FROM (SELECT UNNEST(range(1, $k + 1)) AS n)),
        perq AS (SELECT query,
            COUNT(*) AS n_docs,
            CAST(SUM(rel) AS BIGINT) AS n_rel,
            CAST(SUM(CASE WHEN rnk <= $k THEN rel ELSE 0 END) AS DOUBLE)
              AS relk,
            COALESCE(MAX(CASE WHEN rel = 1 THEN 1.0 / rnk END), 0.0) AS rr,
            SUM(CASE WHEN rel = 1
              THEN CAST(cumrel AS DOUBLE) / rnk END) AS apnum,
            SUM(CASE WHEN rnk <= $k AND rel = 1
              THEN 1.0 / log2(rnk + 1) END) AS dcg
          FROM ranked GROUP BY query)
        SELECT query, n_docs, n_rel,
          ROUND(relk / $k, 6) AS p_at_k,
          CASE WHEN n_rel > 0 THEN ROUND(relk / n_rel, 6) END AS r_at_k,
          ROUND(rr, 6) AS rr,
          CASE WHEN n_rel > 0 THEN ROUND(apnum / n_rel, 6) END AS ap,
          CASE WHEN n_rel > 0
            THEN ROUND(COALESCE(dcg, 0.0) / i.idcg, 6) END AS ndcg_at_k
        FROM perq LEFT JOIN ideals i ON LEAST(n_rel, $k) = i.n"""
}

/** DuckDB twins of [[graft.ml.RegressionDiagnostics]]. */
object RegressionDiagnosticsOracle {
  /** DuckDB twin of [[leverageCooks]]; `srcCte` yields (id, x, y). */
  def leverageCooksOracleSql(srcCte: String, k: Int = 20): String =
    s"""WITH src AS (SELECT * FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL),
        m AS (SELECT COUNT(*) AS n,
            CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x AS DECIMAL(18,2))
              * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(x AS DECIMAL(18,2))
              * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(y AS DECIMAL(18,2))
              * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syy
          FROM src),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx / n AS mx,
            sy / n AS my,
            sxx - n * (sx / n) * (sx / n) AS cxx,
            sxy - n * (sx / n) * (sy / n) AS cxy,
            syy - n * (sy / n) * (sy / n) AS cyy FROM m),
        c2 AS (SELECT *, cxy / cxx AS b,
            (cyy - (cxy / cxx) * cxy) / (nd - 2) AS s2 FROM c),
        r AS (SELECT src.id,
            ROUND(1.0 / nd + (CAST(src.x AS DOUBLE) - mx)
              * (CAST(src.x AS DOUBLE) - mx) / cxx, 6) AS leverage,
            ROUND((CAST(src.y AS DOUBLE) - (my - b * mx)
                - b * CAST(src.x AS DOUBLE))
              * (CAST(src.y AS DOUBLE) - (my - b * mx)
                - b * CAST(src.x AS DOUBLE))
              * (1.0 / nd + (CAST(src.x AS DOUBLE) - mx)
                * (CAST(src.x AS DOUBLE) - mx) / cxx)
              / (2.0 * s2
                * (1.0 - (1.0 / nd + (CAST(src.x AS DOUBLE) - mx)
                  * (CAST(src.x AS DOUBLE) - mx) / cxx))
                * (1.0 - (1.0 / nd + (CAST(src.x AS DOUBLE) - mx)
                  * (CAST(src.x AS DOUBLE) - mx) / cxx))), 6)
              AS cooks_d
          FROM src CROSS JOIN c2)
        SELECT id, leverage, cooks_d FROM r
        ORDER BY cooks_d DESC, id LIMIT $k"""

  /** DuckDB twin of [[breuschPagan]]; `srcCte` must yield (x, y). */
  def breuschPaganOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT * FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL),
        m AS (SELECT COUNT(*) AS n,
            CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x AS DECIMAL(18,2))
              * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(x AS DECIMAL(18,2))
              * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM src),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx / n AS mx,
            sy / n AS my,
            (sxy - n * (sx / n) * (sy / n))
              / (sxx - n * (sx / n) * (sx / n)) AS b FROM m),
        u AS (SELECT CAST(src.x AS DOUBLE) AS x,
            ROUND((CAST(src.y AS DOUBLE) - (my - b * mx)
              - b * CAST(src.x AS DOUBLE))
              * (CAST(src.y AS DOUBLE) - (my - b * mx)
                - b * CAST(src.x AS DOUBLE)), 2) AS uu, c.n
          FROM src CROSS JOIN c)
        SELECT ANY_VALUE(n) AS n,
          ROUND(corr(uu, x) * corr(uu, x), 6) AS r2_aux,
          ROUND(CAST(ANY_VALUE(n) AS DOUBLE)
            * (corr(uu, x) * corr(uu, x)), 6) AS lm
        FROM u"""

  /** DuckDB twin of [[pca2d]]; `srcCte` must yield (x, y). */
  def pca2dOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT
            CAST(CAST(x AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xc,
            CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
          FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))
            AND NOT isnan(CAST(y AS DOUBLE))),
        mi AS (SELECT COUNT(*) AS n, SUM(xc) AS sx_i, SUM(yc) AS sy_i,
            SUM(xc * xc) AS sxx_i, SUM(yc * yc) AS syy_i,
            SUM(xc * yc) AS sxy_i FROM src),
        mc AS (SELECT n,
            ${LatticeOracle.duckPortableDoubleSigned("sx_i")}
              / 100.0 AS sx,
            ${LatticeOracle.duckPortableDoubleSigned("sy_i")}
              / 100.0 AS sy,
            ${LatticeOracle.duckPortableDoubleSigned("sxx_i")}
              / 10000.0 AS sxx,
            ${LatticeOracle.duckPortableDoubleSigned("syy_i")}
              / 10000.0 AS syy,
            ${LatticeOracle.duckPortableDoubleSigned("sxy_i")}
              / 10000.0 AS sxy
          FROM mi),
        m AS (SELECT n,
            (sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
              AS vx,
            (syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
              AS vy,
            (sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
              AS cxy
          FROM mc),
        e AS (SELECT n, vx, vy, cxy,
            (vx + vy) / 2 + SQRT((vx - vy) * (vx - vy) / 4 + cxy * cxy)
              AS l1,
            (vx + vy) / 2 - SQRT((vx - vy) * (vx - vy) / 4 + cxy * cxy)
              AS l2 FROM m)
        SELECT n, ROUND(l1, 6) AS lambda1, ROUND(l2, 6) AS lambda2,
          ROUND(l1 / (l1 + l2), 6) AS evr,
          ROUND(CASE WHEN ABS(cxy) > 0 THEN (l1 - vx) / cxy END, 6)
            AS axis_slope
        FROM e"""

  /** DuckDB twin of [[aicQuadratic]]; `srcCte` must yield (x, y). */
  def aicQuadraticOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT
            CAST(ROUND(CAST(x AS DOUBLE), 0) AS HUGEINT) AS x,
            CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
          FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL),
        gi AS (SELECT COUNT(*) AS n,
            SUM(x) AS su_i, SUM(x * x) AS sv_i, SUM(yc) AS sy_i,
            SUM(x * x * x) AS suv_i, SUM(x * x * x * x) AS svv_i,
            SUM(x * yc) AS syu_i, SUM(x * x * yc) AS syv_i,
            SUM(yc * yc) AS syy_i
          FROM src),
        g AS (SELECT n,
            ${LatticeOracle.duckPortableDouble("su_i")} AS su,
            ${LatticeOracle.duckPortableDouble("sv_i")} AS sv,
            ${LatticeOracle.duckPortableDouble("sy_i")} / 100.0 AS sy,
            ${LatticeOracle.duckPortableDouble("suv_i")} AS suv,
            ${LatticeOracle.duckPortableDouble("svv_i")} AS svv,
            ${LatticeOracle.duckPortableDouble("syu_i")} / 100.0 AS syu,
            ${LatticeOracle.duckPortableDouble("syv_i")} / 100.0 AS syv,
            ${LatticeOracle.duckPortableDouble("syy_i")} / 10000.0 AS syy0
          FROM gi),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd, su / CAST(n AS DOUBLE)
              AS mu, sv / CAST(n AS DOUBLE) AS mv,
            sy / CAST(n AS DOUBLE) AS my,
            sv, svv, suv, syu, syv, syy0 FROM g),
        c2 AS (SELECT n, nd,
            sv - nd * mu * mu AS suu, svv - nd * mv * mv AS svvc,
            suv - nd * mu * mv AS suvc, syu - nd * my * mu AS syuc,
            syv - nd * my * mv AS syvc, syy0 - nd * my * my AS syyc
          FROM c),
        s AS (SELECT n, nd, syyc, suu, syuc,
            (syuc * svvc - syvc * suvc) / (suu * svvc - suvc * suvc)
              AS b1,
            (syvc * suu - syuc * suvc) / (suu * svvc - suvc * suvc)
              AS b2,
            syvc FROM c2)
        SELECT n,
          ROUND(syyc - syuc * syuc / suu, 6) AS rss_lin,
          ROUND(syyc - b1 * syuc - b2 * syvc, 6) AS rss_quad,
          ROUND(nd * LN((syyc - syuc * syuc / suu) / nd) + 4.0, 6)
            AS aic_lin,
          ROUND(nd * LN((syyc - b1 * syuc - b2 * syvc) / nd) + 6.0, 6)
            AS aic_quad,
          ROUND((nd * LN((syyc - b1 * syuc - b2 * syvc) / nd) + 6.0)
            - (nd * LN((syyc - syuc * syuc / suu) / nd) + 4.0), 6)
            AS delta_aic
        FROM s"""
}

/** DuckDB twins of [[graft.ml.Ridge]]. */
object RidgeOracle {
  /** DuckDB mirror of [[ridge2]]: `rowsCte` must yield
    * (grp, x1, x2, y). */
  def ridge2OracleSql(rowsCte: String, lambda: Double): String = {
    val l = lambda
    // the same expression tree, spelled once per use exactly as the
    // Column DSL expands it (moment aliases keep it readable)
    val pdd = LatticeOracle.duckPortableDoubleSigned _
    val defs =
      s"""mi AS (SELECT grp, COUNT(*) AS ni,
            SUM(x1c) AS sx1_i, SUM(x2c) AS sx2_i, SUM(yc) AS sy_i,
            SUM(x1c * x1c) AS sx1x1_i, SUM(x2c * x2c) AS sx2x2_i,
            SUM(x1c * x2c) AS sx1x2_i,
            SUM(x1c * yc) AS sx1y_i, SUM(x2c * yc) AS sx2y_i,
            SUM(yc * yc) AS syy_i
          FROM rows0 GROUP BY grp),
        mm AS (SELECT grp, CAST(ni AS DOUBLE) AS n, ni,
            ${pdd("sx1_i")} / 100.0 AS sx1,
            ${pdd("sx2_i")} / 100.0 AS sx2,
            ${pdd("sy_i")} / 100.0 AS sy,
            ${pdd("sx1x1_i")} / 10000.0 AS sx1x1,
            ${pdd("sx2x2_i")} / 10000.0 AS sx2x2,
            ${pdd("sx1x2_i")} / 10000.0 AS sx1x2,
            ${pdd("sx1y_i")} / 10000.0 AS sx1y,
            ${pdd("sx2y_i")} / 10000.0 AS sx2y,
            ${pdd("syy_i")} / 10000.0 AS syy
          FROM mi),
        ex AS (SELECT grp, ni, n,
            sx1x1 - n * (sx1 / n) * (sx1 / n) + $l AS s11,
            sx2x2 - n * (sx2 / n) * (sx2 / n) + $l AS s22,
            sx1x2 - n * (sx1 / n) * (sx2 / n) AS s12,
            sx1y - n * (sx1 / n) * (sy / n) AS c1,
            sx2y - n * (sx2 / n) * (sy / n) AS c2,
            syy - n * (sy / n) * (sy / n) AS syyc,
            sx1 / n AS m1, sx2 / n AS m2, sy / n AS my
          FROM mm),
        sol AS (SELECT grp, ni, n, m1, m2, my, c1, c2, syyc,
            s11 * s22 - s12 * s12 AS det,
            (s22 * c1 - s12 * c2) / (s11 * s22 - s12 * s12) AS b1,
            (s11 * c2 - s12 * c1) / (s11 * s22 - s12 * s12) AS b2
          FROM ex)"""
    s"""WITH rows0 AS (SELECT grp,
            CAST(CAST(x1 AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x1c,
            CAST(CAST(x2 AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x2c,
            CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
          FROM ($rowsCte)
          WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL),
        $defs
        SELECT grp AS "group", ni AS n,
          CASE WHEN ni >= 3 AND det != 0
            THEN ROUND(my - b1 * m1 - b2 * m2, 6) END AS b0,
          CASE WHEN ni >= 3 AND det != 0 THEN ROUND(b1, 6) END AS b1,
          CASE WHEN ni >= 3 AND det != 0 THEN ROUND(b2, 6) END AS b2,
          CASE WHEN ni >= 3 AND det != 0 AND syyc != 0
            THEN ROUND((b1 * c1 + b2 * c2) / syyc, 6) END AS explained
        FROM sol"""
  }

  /** DuckDB twin of [[chowTest]]; `srcCte` must yield (x, y, s) with
    * s the boolean regime flag. */
  def chowTestOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        m AS (SELECT
            SUM(CASE WHEN s THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN s THEN CAST(x AS DOUBLE) END) AS sxa,
            SUM(CASE WHEN s THEN CAST(y AS DOUBLE) END) AS sya,
            SUM(CASE WHEN s THEN CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
              END) AS sxxa,
            SUM(CASE WHEN s THEN CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
              END) AS syya,
            SUM(CASE WHEN s THEN CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
              END) AS sxya,
            SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS nb,
            SUM(CASE WHEN NOT s THEN CAST(x AS DOUBLE) END) AS sxb,
            SUM(CASE WHEN NOT s THEN CAST(y AS DOUBLE) END) AS syb,
            SUM(CASE WHEN NOT s THEN CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
              END) AS sxxb,
            SUM(CASE WHEN NOT s THEN CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
              END) AS syyb,
            SUM(CASE WHEN NOT s THEN CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
              END) AS sxyb
          FROM src
          WHERE x IS NOT NULL AND y IS NOT NULL AND s IS NOT NULL),
        e AS (SELECT na, nb,
            CASE WHEN na >= 3 AND sxxa - sxa*sxa/na > 0 THEN
              (syya - sya*sya/na)
                - (sxya - sxa*sya/na) * (sxya - sxa*sya/na)
                  / (sxxa - sxa*sxa/na) END AS ssea,
            CASE WHEN nb >= 3 AND sxxb - sxb*sxb/nb > 0 THEN
              (syyb - syb*syb/nb)
                - (sxyb - sxb*syb/nb) * (sxyb - sxb*syb/nb)
                  / (sxxb - sxb*sxb/nb) END AS sseb,
            CASE WHEN na + nb >= 3
                AND (sxxa+sxxb) - (sxa+sxb)*(sxa+sxb)/(na+nb) > 0 THEN
              ((syya+syyb) - (sya+syb)*(sya+syb)/(na+nb))
                - ((sxya+sxyb) - (sxa+sxb)*(sya+syb)/(na+nb))
                  * ((sxya+sxyb) - (sxa+sxb)*(sya+syb)/(na+nb))
                  / ((sxxa+sxxb) - (sxa+sxb)*(sxa+sxb)/(na+nb))
            END AS ssep,
            (syya+syyb) - (sya+syb)*(sya+syb)/(na+nb) AS syyc
          FROM m)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          ROUND(CASE WHEN syyc > 0 THEN 1 - ssep / syyc END, 6)
            AS r2_pooled,
          ROUND(CASE WHEN syyc > 0 THEN 1 - (ssea + sseb) / syyc END, 6)
            AS r2_split,
          ROUND(CASE WHEN ssea + sseb > 0 THEN
            ((ssep - ssea - sseb) / 2.0)
              / ((ssea + sseb) / (na + nb - 4)) END, 6) AS f_chow
        FROM e"""

  /** DuckDB twin of [[vif3]]; `srcCte` must yield (x1, x2, x3) and the
    * feature labels are passed through for the output rows. */
  def vif3OracleSql(srcCte: String, n1: String, n2: String,
                    n3: String): String = {
    def r2(rab: String, rac: String, rbc: String): String =
      s"""CASE WHEN 1.0 - $rbc * $rbc > 1e-12 THEN
          ($rab * $rab + $rac * $rac - 2.0 * $rab * $rac * $rbc)
            / (1.0 - $rbc * $rbc) END"""
    def rowFor(name: String, rab: String, rac: String, rbc: String) =
      s"""SELECT '$name' AS feature,
          ROUND(${r2(rab, rac, rbc)}, 6) AS r2_others,
          ROUND(CASE WHEN 1.0 - (${r2(rab, rac, rbc)}) > 1e-12 THEN
            1.0 / (1.0 - (${r2(rab, rac, rbc)})) END, 6) AS vif
        FROM m"""
    s"""WITH src AS (SELECT CAST(x1 AS DOUBLE) AS x1,
            CAST(x2 AS DOUBLE) AS x2, CAST(x3 AS DOUBLE) AS x3
          FROM ($srcCte)
          WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
            AND NOT isnan(CAST(x1 AS DOUBLE))
            AND NOT isnan(CAST(x2 AS DOUBLE))
            AND NOT isnan(CAST(x3 AS DOUBLE))),
        m AS (SELECT corr(x1, x2) AS r12, corr(x1, x3) AS r13,
            corr(x2, x3) AS r23 FROM src)
        ${rowFor(n1, "r12", "r13", "r23")}
        UNION ALL ${rowFor(n2, "r12", "r23", "r13")}
        UNION ALL ${rowFor(n3, "r13", "r23", "r12")}"""
  }

  /** DuckDB twin of [[ridgeCv]]; `srcCte` must yield (id, x1, x2, y).
    * Same fold map, same moment algebra. */
  def ridgeCvOracleSql(srcCte: String,
                       lambdas: Seq[Double] = Seq(0, 0.5, 1, 2, 4, 8),
                       folds: Int = 5, seed: Long = 42L): String = {
    val hexChars = "0123456789abcdef"
    val foldCase = hexChars.zipWithIndex.map { case (c, i) =>
      s"WHEN substring(md5(CAST(id AS VARCHAR) || ':$seed'), 1, 1) = '$c' THEN ${i % folds}"
    }.mkString("CASE ", " ", " ELSE 0 END")
    val lamList = lambdas.mkString("[", ", ", "]")
    s"""WITH src AS (SELECT id, CAST(x1 AS DOUBLE) AS x1,
            CAST(x2 AS DOUBLE) AS x2, CAST(y AS DOUBLE) AS y
          FROM ($srcCte)
          WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL),
        fm AS (SELECT $foldCase AS f,
            CAST(COUNT(*) AS DOUBLE) AS n,
            SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
            SUM(x1 * x1) AS sx1x1, SUM(x2 * x2) AS sx2x2,
            SUM(x1 * x2) AS sx1x2,
            SUM(x1 * y) AS sx1y, SUM(x2 * y) AS sx2y, SUM(y * y) AS syy
          FROM src GROUP BY 1),
        tot AS (SELECT SUM(n) AS t_n, SUM(sx1) AS t_sx1,
            SUM(sx2) AS t_sx2, SUM(sy) AS t_sy, SUM(sx1x1) AS t_sx1x1,
            SUM(sx2x2) AS t_sx2x2, SUM(sx1x2) AS t_sx1x2,
            SUM(sx1y) AS t_sx1y, SUM(sx2y) AS t_sx2y, SUM(syy) AS t_syy
          FROM fm),
        tr AS (SELECT fm.*, t_n - n AS r_n, t_sx1 - sx1 AS r_sx1,
            t_sx2 - sx2 AS r_sx2, t_sy - sy AS r_sy,
            t_sx1x1 - sx1x1 AS r_sx1x1, t_sx2x2 - sx2x2 AS r_sx2x2,
            t_sx1x2 - sx1x2 AS r_sx1x2, t_sx1y - sx1y AS r_sx1y,
            t_sx2y - sx2y AS r_sx2y, t_syy - syy AS r_syy
          FROM fm CROSS JOIN tot),
        lam AS (SELECT UNNEST($lamList) AS lambda),
        ex AS (SELECT tr.*, lam.lambda,
            r_sx1x1 - r_n * (r_sx1 / r_n) * (r_sx1 / r_n) + lam.lambda
              AS s11,
            r_sx2x2 - r_n * (r_sx2 / r_n) * (r_sx2 / r_n) + lam.lambda
              AS s22,
            r_sx1x2 - r_n * (r_sx1 / r_n) * (r_sx2 / r_n) AS s12,
            r_sx1y - r_n * (r_sx1 / r_n) * (r_sy / r_n) AS c1,
            r_sx2y - r_n * (r_sx2 / r_n) * (r_sy / r_n) AS c2,
            r_sx1 / r_n AS m1, r_sx2 / r_n AS m2, r_sy / r_n AS my
          FROM tr CROSS JOIN lam),
        sol AS (SELECT *,
            (s22 * c1 - s12 * c2) / (s11 * s22 - s12 * s12) AS b1,
            (s11 * c2 - s12 * c1) / (s11 * s22 - s12 * s12) AS b2
          FROM ex),
        sb AS (SELECT *, my - b1 * m1 - b2 * m2 AS b0 FROM sol),
        ev AS (SELECT lambda,
            syy + n * b0 * b0 + b1 * b1 * sx1x1 + b2 * b2 * sx2x2
              - 2.0 * b0 * sy - 2.0 * b1 * sx1y - 2.0 * b2 * sx2y
              + 2.0 * b0 * b1 * sx1 + 2.0 * b0 * b2 * sx2
              + 2.0 * b1 * b2 * sx1x2 AS sse,
            syy - sy * sy / n AS sst
          FROM sb)
        SELECT lambda, ROUND(1.0 - SUM(sse) / SUM(sst), 6) AS cv_r2
        FROM ev GROUP BY lambda ORDER BY lambda"""
  }
}

/** DuckDB twins of [[graft.ml.Stats]]. */
object StatsOracle {
  /** DuckDB twin of [[ebRates]]; `unitsCte` must yield
    * (grp, success). */
  def ebRatesOracleSql(unitsCte: String): String =
    s"""WITH units AS ($unitsCte),
        g AS (SELECT grp, COUNT(*) AS n,
            SUM(CASE WHEN success = 1 THEN 1 ELSE 0 END) AS x,
            CAST(SUM(CASE WHEN success = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*) AS raw
          FROM units GROUP BY grp),
        pr AS (SELECT AVG(raw) AS m,
            AVG(raw * raw) - AVG(raw) * AVG(raw) AS v
          FROM g),
        ps AS (SELECT m, v,
            CASE WHEN v > 0 AND v < m * (1 - m)
              THEN m * (1 - m) / v - 1 END AS s
          FROM pr)
        SELECT g.grp, g.n, CAST(g.x AS BIGINT) AS x,
          ROUND(g.raw, 6) AS raw_rate,
          ROUND(COALESCE((g.x + ps.m * ps.s) / (g.n + ps.s), g.raw), 6)
            AS shrunk_rate,
          ROUND(ps.m * ps.s, 6) AS alpha,
          ROUND((1 - ps.m) * ps.s, 6) AS beta
        FROM g CROSS JOIN ps"""

  /** DuckDB twin of [[logRank]]; `lifeCte` must yield
    * (grp, duration, event). */
  def logRankOracleSql(lifeCte: String): String =
    s"""WITH life AS ($lifeCte),
        bygt AS (SELECT grp, CAST(duration AS DOUBLE) AS t,
            COUNT(*) AS n,
            SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS d
          FROM life GROUP BY 1, 2),
        grid AS (SELECT g.grp, ts.t, COALESCE(b.n, 0) AS n,
            COALESCE(b.d, 0) AS d
          FROM (SELECT DISTINCT t FROM bygt) ts
          CROSS JOIN (SELECT DISTINCT grp FROM bygt) g
          LEFT JOIN bygt b ON b.grp = g.grp AND b.t = ts.t),
        risk AS (SELECT grp, t, n, d,
            SUM(n) OVER (PARTITION BY grp ORDER BY t DESC) AS n_g
          FROM grid),
        pooled AS (SELECT grp, t, n, d, n_g,
            SUM(n_g) OVER (PARTITION BY t) AS n_tot,
            SUM(d) OVER (PARTITION BY t) AS d_tot
          FROM risk),
        terms AS (SELECT grp, n, d,
            d_tot * (CAST(n_g AS DOUBLE) / n_tot) AS e,
            CASE WHEN n_tot > 1 THEN
              d_tot * (CAST(n_g AS DOUBLE) / n_tot) *
                (1 - CAST(n_g AS DOUBLE) / n_tot) *
                CAST(n_tot - d_tot AS DOUBLE) / (n_tot - 1)
              ELSE 0 END AS v
          FROM pooled WHERE d_tot > 0),
        sizes AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS n_subjects
          FROM grid GROUP BY grp),
        per AS (SELECT grp,
            CAST(SUM(d) AS BIGINT) AS observed,
            SUM(e) AS ee, SUM(v) AS vv
          FROM terms GROUP BY grp)
        SELECT per.grp, n_subjects, observed, ROUND(ee, 6) AS expected,
          ROUND(CASE WHEN vv > 0
            THEN (observed - ee) * (observed - ee) / vv
            ELSE 0 END, 6) AS chi2_logrank
        FROM per JOIN sizes ON per.grp = sizes.grp"""

  /** DuckDB twin of [[partialCorr]]; `srcCte` must yield
    * (grp, x, y, z). */
  def partialCorrOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        m AS (SELECT grp, COUNT(*) AS n,
            SUM(CAST(x AS DOUBLE)) AS sx, SUM(CAST(y AS DOUBLE)) AS sy,
            SUM(CAST(z AS DOUBLE)) AS sz,
            SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx,
            SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS syy,
            SUM(CAST(z AS DOUBLE) * CAST(z AS DOUBLE)) AS szz,
            SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS sxy,
            SUM(CAST(x AS DOUBLE) * CAST(z AS DOUBLE)) AS sxz,
            SUM(CAST(y AS DOUBLE) * CAST(z AS DOUBLE)) AS syz
          FROM src
          WHERE x IS NOT NULL AND y IS NOT NULL AND z IS NOT NULL
          GROUP BY grp),
        rr AS (SELECT grp, n,
            CASE WHEN sxx - sx*sx/n > 0 AND syy - sy*sy/n > 0 THEN
              (sxy - sx*sy/n) / SQRT((sxx - sx*sx/n) * (syy - sy*sy/n))
            END AS rxy,
            CASE WHEN sxx - sx*sx/n > 0 AND szz - sz*sz/n > 0 THEN
              (sxz - sx*sz/n) / SQRT((sxx - sx*sx/n) * (szz - sz*sz/n))
            END AS rxz,
            CASE WHEN syy - sy*sy/n > 0 AND szz - sz*sz/n > 0 THEN
              (syz - sy*sz/n) / SQRT((syy - sy*sy/n) * (szz - sz*sz/n))
            END AS ryz
          FROM m)
        SELECT grp, n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
          ROUND(ryz, 6) AS r_yz,
          ROUND(CASE WHEN (1 - rxz*rxz) * (1 - ryz*ryz) > 0 THEN
            (rxy - rxz*ryz) / SQRT((1 - rxz*rxz) * (1 - ryz*ryz))
          END, 6) AS partial_r
        FROM rr"""

  /** DuckDB twin of [[mcnemar]]; `srcCte` must yield
    * (label, pred_a, pred_b). */
  def mcnemarOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT COUNT(*) AS n,
            SUM(CASE WHEN pred_a = label AND pred_b = label
              THEN 1 ELSE 0 END) AS both_correct,
            SUM(CASE WHEN pred_a = label AND pred_b != label
              THEN 1 ELSE 0 END) AS only_a,
            SUM(CASE WHEN pred_a != label AND pred_b = label
              THEN 1 ELSE 0 END) AS only_b,
            SUM(CASE WHEN pred_a != label AND pred_b != label
              THEN 1 ELSE 0 END) AS both_wrong
          FROM src WHERE label IS NOT NULL)
        SELECT n, CAST(both_correct AS BIGINT) AS both_correct,
          CAST(only_a AS BIGINT) AS only_a,
          CAST(only_b AS BIGINT) AS only_b,
          CAST(both_wrong AS BIGINT) AS both_wrong,
          ROUND(CASE WHEN only_a + only_b > 0 THEN
            (ABS(CAST(only_a AS DOUBLE) - only_b) - 1)
              * (ABS(CAST(only_a AS DOUBLE) - only_b) - 1)
              / (only_a + only_b) END, 6) AS chi2_mcnemar
        FROM g"""

  /** DuckDB twin of [[cronbachAlpha]]; `cellCte` must yield
    * (subj, item, score). */
  def cronbachAlphaOracleSql(cellCte: String): String =
    s"""WITH src AS ($cellCte),
        cell AS (SELECT subj, item,
            SUM(CAST(score AS DECIMAL(18,2))) AS v
          FROM src WHERE score IS NOT NULL GROUP BY subj, item),
        kk AS (SELECT COUNT(DISTINCT item) AS k FROM cell),
        comp AS (SELECT subj, COUNT(*) AS ni,
            CAST(SUM(v) AS DOUBLE) AS tot
          FROM cell GROUP BY subj),
        compk AS (SELECT c.subj, c.tot FROM comp c CROSS JOIN kk
          WHERE c.ni = kk.k),
        cc AS (SELECT cell.item, CAST(cell.v AS DOUBLE) AS v
          FROM cell JOIN compk ON cell.subj = compk.subj),
        iv AS (SELECT SUM(vr) AS sum_item_var FROM (
            SELECT item,
              (SUM(v * v) - SUM(v) * SUM(v) / COUNT(*))
                / (COUNT(*) - 1) AS vr
            FROM cc GROUP BY item)),
        tv AS (SELECT COUNT(*) AS n_subjects,
            (SUM(tot * tot) - SUM(tot) * SUM(tot) / COUNT(*))
              / (COUNT(*) - 1) AS total_var
          FROM compk)
        SELECT kk.k, tv.n_subjects,
          ROUND(iv.sum_item_var, 6) AS sum_item_var,
          ROUND(tv.total_var, 6) AS total_var,
          ROUND(CASE WHEN tv.total_var > 0 THEN
            (CAST(kk.k AS DOUBLE) / (kk.k - 1))
              * (1 - iv.sum_item_var / tv.total_var) END, 6) AS alpha
        FROM tv CROSS JOIN iv CROSS JOIN kk"""

  /** DuckDB twin of [[fisherExact]]; `unitsCte` must yield (r, c)
    * binary columns. Builds the identical log-factorial ladder. */
  def fisherExactOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT * FROM ($unitsCte)
          WHERE r IS NOT NULL AND c IS NOT NULL),
        cells AS (SELECT
            CAST(SUM(CASE WHEN r = 1 AND c = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
            CAST(SUM(CASE WHEN r = 1 AND c != 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
            CAST(SUM(CASE WHEN r != 1 AND c = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS cc,
            CAST(SUM(CASE WHEN r != 1 AND c != 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
          FROM units),
        nn AS (SELECT a, b, cc, d, a + b + cc + d AS n FROM cells),
        lf AS MATERIALIZED (SELECT i,
            SUM(LN(GREATEST(i, 1))) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
          FROM (SELECT UNNEST(range(0, (SELECT n FROM nn) + 1)) AS i)),
        ks AS (SELECT UNNEST(range(
            GREATEST(0, (SELECT a + cc FROM nn) - (SELECT cc + d FROM nn)),
            LEAST((SELECT a + b FROM nn), (SELECT a + cc FROM nn)) + 1))
            AS k),
        lp AS MATERIALIZED (SELECT ks.k,
            lr1.lf + lr2.lf + lc1.lf + lc2.lf - lnn.lf
              - lk.lf - lak.lf - lck.lf - ldk.lf AS lp
          FROM ks
          CROSS JOIN nn
          JOIN lf lk ON lk.i = ks.k
          JOIN lf lak ON lak.i = nn.a + nn.b - ks.k
          JOIN lf lck ON lck.i = nn.a + nn.cc - ks.k
          JOIN lf ldk ON ldk.i = nn.cc + nn.d - nn.a - nn.cc + ks.k
          JOIN lf lr1 ON lr1.i = nn.a + nn.b
          JOIN lf lr2 ON lr2.i = nn.cc + nn.d
          JOIN lf lc1 ON lc1.i = nn.a + nn.cc
          JOIN lf lc2 ON lc2.i = nn.b + nn.d
          JOIN lf lnn ON lnn.i = nn.n),
        obs AS (SELECT lp AS lpobs FROM lp
          CROSS JOIN nn WHERE lp.k = nn.a)
        SELECT CAST(nn.a AS BIGINT) AS a, CAST(nn.b AS BIGINT) AS b,
          CAST(nn.cc AS BIGINT) AS c, CAST(nn.d AS BIGINT) AS d,
          CASE WHEN nn.b > 0 AND nn.cc > 0 THEN
            ROUND(CAST(nn.a AS DOUBLE) * nn.d / (CAST(nn.b AS DOUBLE)
              * nn.cc), 6) END AS odds_ratio,
          ROUND(LEAST((SELECT SUM(EXP(lp)) FROM lp CROSS JOIN obs
            WHERE EXP(lp) <= EXP(obs.lpobs) * (1 + 1e-7)), 1.0), 6)
            AS p_value
        FROM nn"""

  /** DuckDB twin of [[rmst]]; `lifeCte` yields (dur, event). */
  def rmstOracleSql(lifeCte: String, tau: Double): String =
    s"""WITH life AS ($lifeCte),
        byt AS (SELECT CAST(dur AS DOUBLE) AS t, COUNT(*) AS n,
            SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS d
          FROM life GROUP BY 1),
        ar AS (SELECT t, d, SUM(n) OVER (ORDER BY t DESC) AS r FROM byt),
        km0 AS (SELECT t, 1.0 - CAST(d AS DOUBLE) / r AS factor
          FROM ar WHERE d > 0),
        km1 AS (SELECT t,
            SUM(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
              OVER (ORDER BY t) AS zeros,
            SUM(CASE WHEN factor > 0 THEN LN(factor) END)
              OVER (ORDER BY t) AS lsum
          FROM km0),
        km AS (SELECT t, CASE WHEN zeros > 0 THEN 0.0
            ELSE ROUND(EXP(lsum), 6) END AS s
          FROM km1 WHERE t <= $tau),
        st AS (SELECT t, s,
            COALESCE(LAG(t, 1) OVER (ORDER BY t), 0.0) AS tp,
            COALESCE(LAG(s, 1) OVER (ORDER BY t), 1.0) AS sp
          FROM km),
        g AS (SELECT SUM(sp * (t - tp)) AS area, MAX(t) AS tl,
            MIN(CASE WHEN s <= 0.5 THEN t END) AS median_t,
            ANY_VALUE(ls) AS slast
          FROM st CROSS JOIN (SELECT s AS ls FROM st
            ORDER BY t DESC LIMIT 1))
        SELECT $tau AS tau,
          ROUND(COALESCE(area, 0.0) + COALESCE(slast, 1.0)
            * ($tau - COALESCE(tl, 0.0)), 6) AS rmst,
          ROUND((COALESCE(area, 0.0) + COALESCE(slast, 1.0)
            * ($tau - COALESCE(tl, 0.0))) / $tau, 6) AS rmst_frac,
          median_t
        FROM g"""

  /** DuckDB twin of [[simpsonDetector]]; `unitsCte` yields (g, x, y). */
  def simpsonDetectorOracleSql(unitsCte: String,
                               minN: Long = 30): String =
    s"""WITH units AS (SELECT g,
            CAST(CAST(x AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xc,
            CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
          FROM ($unitsCte)
          WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))
            AND NOT isnan(CAST(y AS DOUBLE))),
        grpi AS (SELECT g, COUNT(*) AS n, SUM(xc) AS sx_i,
            SUM(yc) AS sy_i, SUM(xc * xc) AS sxx_i,
            SUM(xc * yc) AS sxy_i
          FROM units GROUP BY g HAVING COUNT(*) >= $minN),
        grp AS (SELECT g, n, sx_i, sy_i, sxx_i, sxy_i,
            ${LatticeOracle.duckPortableDoubleSigned("sx_i")}
              / 100.0 AS sx,
            ${LatticeOracle.duckPortableDoubleSigned("sy_i")}
              / 100.0 AS sy,
            ${LatticeOracle.duckPortableDoubleSigned("sxx_i")}
              / 10000.0 AS sxx,
            ${LatticeOracle.duckPortableDoubleSigned("sxy_i")}
              / 10000.0 AS sxy
          FROM grpi),
        sl AS (SELECT *,
            (sxy - sx * sy / CAST(n AS DOUBLE))
              / (sxx - sx * sx / CAST(n AS DOUBLE)) AS b FROM grp),
        ai AS (SELECT COUNT(*) AS k, SUM(n) AS nt, SUM(sx_i) AS sxt_i,
            SUM(sy_i) AS syt_i, SUM(sxx_i) AS sxxt_i,
            SUM(sxy_i) AS sxyt_i,
            SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS np,
            SUM(CASE WHEN b < 0 THEN 1 ELSE 0 END) AS nn
          FROM sl),
        a AS (SELECT k, nt, np, nn,
            ${LatticeOracle.duckPortableDoubleSigned("sxt_i")}
              / 100.0 AS sxt,
            ${LatticeOracle.duckPortableDoubleSigned("syt_i")}
              / 100.0 AS syt,
            ${LatticeOracle.duckPortableDoubleSigned("sxxt_i")}
              / 10000.0 AS sxxt,
            ${LatticeOracle.duckPortableDoubleSigned("sxyt_i")}
              / 10000.0 AS sxyt
          FROM ai),
        o AS (SELECT *,
            (sxyt - sxt * syt / CAST(nt AS DOUBLE))
              / (sxxt - sxt * sxt / CAST(nt AS DOUBLE)) AS ov FROM a)
        SELECT CAST(k AS BIGINT) AS n_groups, ROUND(ov, 6)
            AS overall_slope,
          CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
          ROUND(CASE WHEN k > 0 THEN
            CAST(CASE WHEN ov > 0 THEN nn ELSE np END AS DOUBLE) / k
            END, 6) AS reversal_share,
          (ov > 0 AND nn = k) OR (ov < 0 AND np = k) AS strict_paradox
        FROM o"""

  /** DuckDB twin of [[agreement]]; `unitsCte` yields (x, y). */
  def agreementOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(x AS DOUBLE) AS x,
            CAST(y AS DOUBLE) AS y FROM ($unitsCte)
          WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))
            AND NOT isnan(CAST(y AS DOUBLE))),
        g AS (SELECT COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
            var_pop(x) AS vx, var_pop(y) AS vy,
            covar_pop(x, y) AS cxy,
            stddev_samp(x - y) AS sd, AVG(x - y) AS bias
          FROM units)
        SELECT CAST(n AS BIGINT) AS n, ROUND(bias, 6) AS bias,
          ROUND(bias - 1.959964 * sd, 6) AS loa_lo,
          ROUND(bias + 1.959964 * sd, 6) AS loa_hi,
          ROUND(2.0 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS ccc,
          ROUND(CASE WHEN vx > 0 AND vy > 0 THEN
            cxy / SQRT(vx * vy) END, 6) AS pearson_r
        FROM g"""

  /** DuckDB twin of [[cochranArmitage]]; `unitsCte` yields (x, conv). */
  def cochranArmitageOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(x AS DOUBLE) AS x, conv
          FROM ($unitsCte) WHERE x IS NOT NULL AND conv IS NOT NULL),
        g AS (SELECT x, COUNT(*) AS n,
            SUM(CASE WHEN conv = 1 THEN 1 ELSE 0 END) AS s
          FROM units GROUP BY x),
        t AS (SELECT SUM(n) AS nt, SUM(s) AS st,
            SUM(x * n) / SUM(n) AS xbar FROM g),
        m AS (SELECT COUNT(*) AS k, ANY_VALUE(nt) AS n,
            ANY_VALUE(CAST(st AS DOUBLE) / nt) AS p,
            SUM(s * (x - xbar)) AS num,
            SUM(n * (x - xbar) * (x - xbar)) AS den
          FROM g CROSS JOIN t)
        SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS slope_sign,
          ROUND(CASE WHEN p > 0 AND p < 1 AND den > 0 THEN
            num / SQRT(p * (1.0 - p) * den) END, 6) AS z_trend
        FROM m"""

  /** DuckDB twin of [[gkGamma]]; `unitsCte` yields (r, c). */
  def gkGammaOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(r AS BIGINT) AS r,
            CAST(c AS BIGINT) AS c FROM ($unitsCte)
          WHERE r IS NOT NULL AND c IS NOT NULL),
        cells AS (SELECT r, c, COUNT(*) AS n FROM units GROUP BY r, c),
        nc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nc
          FROM cells a JOIN cells b ON b.r > a.r AND b.c > a.c),
        nd AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nd
          FROM cells a JOIN cells b ON b.r > a.r AND b.c < a.c),
        t AS (SELECT SUM(n) AS n FROM cells)
        SELECT CAST(t.n AS BIGINT) AS n, CAST(nc AS BIGINT)
            AS n_concordant,
          CAST(nd AS BIGINT) AS n_discordant,
          ROUND(CASE WHEN nc + nd > 0 THEN
            CAST(nc - nd AS DOUBLE) / (nc + nd) END, 6) AS gamma
        FROM t CROSS JOIN nc CROSS JOIN nd"""

  /** DuckDB twin of [[krippendorffAlpha]]; `unitsCte` yields
    * (item, rating). */
  def krippendorffAlphaOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT item, rating FROM ($unitsCte)
          WHERE rating IS NOT NULL),
        it AS (SELECT item, COUNT(*) AS m,
            SUM(CASE WHEN rating = 1 THEN 1 ELSE 0 END) AS o
          FROM units GROUP BY item HAVING COUNT(*) >= 2),
        g AS (SELECT COUNT(*) AS ni, SUM(m) AS nr, SUM(o) AS o1,
            SUM(CAST(o * (m - o) AS DOUBLE) / (m - 1)) AS dsum
          FROM it)
        SELECT CAST(ni AS BIGINT) AS n_items,
          CAST(nr AS BIGINT) AS n_ratings,
          ROUND(CASE WHEN o1 > 0 AND nr - o1 > 0 THEN
            1.0 - (CAST(nr AS DOUBLE) - 1) * dsum
              / (CAST(o1 AS DOUBLE) * (CAST(nr AS DOUBLE) - o1)) END, 6)
            AS alpha
        FROM g"""

  /** DuckDB twin of [[weibullFit]]; `lifeCte` must yield
    * (dur, event) — re-derives the same KM frame. */
  def weibullFitOracleSql(lifeCte: String): String =
    s"""WITH life AS ($lifeCte),
        byt AS (SELECT CAST(dur AS DOUBLE) AS t, COUNT(*) AS n,
            SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS d
          FROM life GROUP BY 1),
        ar AS (SELECT t, d, SUM(n) OVER (ORDER BY t DESC) AS r FROM byt),
        km0 AS (SELECT t, d, r, 1.0 - CAST(d AS DOUBLE) / r AS factor
          FROM ar WHERE d > 0),
        km1 AS (SELECT t,
            SUM(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
              OVER (ORDER BY t) AS zeros,
            SUM(CASE WHEN factor > 0 THEN LN(factor) END)
              OVER (ORDER BY t) AS lsum
          FROM km0),
        km AS (SELECT t, CASE WHEN zeros > 0 THEN 0.0
            ELSE ROUND(EXP(lsum), 6) END AS s FROM km1),
        pts AS (SELECT LN(t) AS x, LN(-LN(s)) AS y FROM km
          WHERE s > 0 AND s < 1 AND t > 0),
        g AS (SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
          FROM pts),
        e AS (SELECT k, sx, sy,
            sxx - sx * sx / CAST(k AS DOUBLE) AS cxx,
            syy - sy * sy / CAST(k AS DOUBLE) AS cyy,
            sxy - sx * sy / CAST(k AS DOUBLE) AS cxy
          FROM g),
        f AS (SELECT k, cxx, cyy, cxy, cxy / cxx AS shape,
            sy / CAST(k AS DOUBLE) - (cxy / cxx) * sx / CAST(k AS DOUBLE)
              AS b0
          FROM e)
        SELECT CAST(k AS BIGINT) AS n_points,
          ROUND(CASE WHEN k >= 3 AND cxx > 0 THEN shape END, 6)
            AS shape,
          ROUND(CASE WHEN k >= 3 AND cxx > 0 AND shape != 0 THEN
            -b0 / shape END, 6) AS ln_scale,
          ROUND(CASE WHEN k >= 3 AND cxx > 0 AND cyy > 0 THEN
            cxy * cxy / (cxx * cyy) END, 6) AS r2
        FROM f"""

  /** DuckDB twin of [[eceBrier]]; `unitsCte` must yield (p, y). */
  def eceBrierOracleSql(unitsCte: String, bins: Int = 10): String =
    s"""WITH base AS (SELECT
            LEAST($bins - 1, CAST(FLOOR(CAST(p AS DOUBLE) * $bins)
              AS BIGINT)) AS b,
            CAST(p AS DOUBLE) AS p, CAST(y AS DOUBLE) AS y
          FROM ($unitsCte)
          WHERE p IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(p AS DOUBLE))),
        cells AS (SELECT b, COUNT(*) AS n, AVG(p) AS pb, AVG(y) AS yb,
            SUM((p - y) * (p - y)) AS sq
          FROM base GROUP BY b),
        tot AS (SELECT SUM(n) AS nt,
            SUM(yb * n) / SUM(n) AS ybar FROM cells),
        g AS (SELECT ANY_VALUE(nt) AS n,
            SUM(n / CAST(nt AS DOUBLE) * ABS(pb - yb)) AS ece,
            SUM(sq) / ANY_VALUE(CAST(nt AS DOUBLE)) AS brier,
            SUM(n / CAST(nt AS DOUBLE) * (pb - yb) * (pb - yb)) AS rel,
            SUM(n / CAST(nt AS DOUBLE) * (yb - ybar) * (yb - ybar))
              AS res,
            ANY_VALUE(ybar * (1.0 - ybar)) AS unc
          FROM cells CROSS JOIN tot)
        SELECT CAST(n AS BIGINT) AS n, ROUND(ece, 6) AS ece,
          ROUND(brier, 6) AS brier, ROUND(rel, 6) AS reliability,
          ROUND(res, 6) AS resolution, ROUND(unc, 6) AS uncertainty
        FROM g"""

  /** DuckDB twin of [[proportionEffects]]; `unitsCte` yields
    * (g, conv). */
  def proportionEffectsOracleSql(unitsCte: String, groupA: String,
                                 groupB: String): String =
    s"""WITH units AS (SELECT * FROM ($unitsCte)
          WHERE g IN ('$groupA', '$groupB') AND conv IS NOT NULL),
        c AS (SELECT
            CAST(SUM(CASE WHEN g = '$groupA' THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
            CAST(SUM(CASE WHEN g = '$groupA' AND conv = 1 THEN 1
              ELSE 0 END) AS BIGINT) AS sa,
            CAST(SUM(CASE WHEN g = '$groupB' THEN 1 ELSE 0 END)
              AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN g = '$groupB' AND conv = 1 THEN 1
              ELSE 0 END) AS BIGINT) AS sb
          FROM units),
        e AS (SELECT na, nb, sa, sb,
            CAST(sa AS DOUBLE) / na AS pa,
            CAST(sb AS DOUBLE) / nb AS pb FROM c),
        f AS (SELECT *, LN(pa / pb) AS lnrr,
            SQRT((1.0 - pa) / (na * pa) + (1.0 - pb) / (nb * pb)) AS se
          FROM e)
        SELECT na AS n_a, nb AS n_b, ROUND(pa, 6) AS p_a,
          ROUND(pb, 6) AS p_b,
          ROUND(2.0 * ASIN(SQRT(pa)) - 2.0 * ASIN(SQRT(pb)), 6)
            AS cohens_h,
          ROUND(CASE WHEN sa > 0 AND sb > 0 THEN EXP(lnrr) END, 6) AS rr,
          ROUND(CASE WHEN sa > 0 AND sb > 0 THEN
            EXP(lnrr - 1.959964 * se) END, 6) AS rr_lo,
          ROUND(CASE WHEN sa > 0 AND sb > 0 THEN
            EXP(lnrr + 1.959964 * se) END, 6) AS rr_hi
        FROM f"""

  /** DuckDB twin of [[nbFit]]; `countsCte` must yield (c). */
  def nbFitOracleSql(countsCte: String): String =
    s"""WITH src AS (SELECT CAST(c AS DOUBLE) AS c FROM ($countsCte)
          WHERE c IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, AVG(c) AS m, var_samp(c) AS v,
            SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS z
          FROM src),
        e AS (SELECT *, m * m / (v - m) AS r, v > m AND m > 0 AS ok
          FROM g)
        SELECT CAST(n AS BIGINT) AS n, ROUND(m, 6) AS mean,
          ROUND(v, 6) AS variance,
          ROUND(CASE WHEN m > 0 THEN v / m END, 6) AS dispersion,
          ROUND(CASE WHEN ok THEN r END, 6) AS r_mom,
          ROUND(CASE WHEN ok THEN EXP(r * LN(r / (r + m))) END, 6)
            AS p0_nb,
          ROUND(CAST(z AS DOUBLE) / n, 6) AS p0_obs
        FROM e"""

  /** DuckDB twin of [[twoMeans1d]] — identical unrolled rounds with
    * 6dp-quantized centroids. */
  def twoMeans1dOracleSql(srcCte: String, iters: Int = 3): String = {
    val rounds = (1 to iters).map { t =>
      s"""c$t AS MATERIALIZED (SELECT
            COALESCE(ROUND(AVG(CASE WHEN v <= (lo + hi) / 2.0 THEN v
              END), 6), ANY_VALUE(lo)) AS lo,
            COALESCE(ROUND(AVG(CASE WHEN v > (lo + hi) / 2.0 THEN v
              END), 6), ANY_VALUE(hi)) AS hi
          FROM src CROSS JOIN c${t - 1})"""
    }.mkString(",\n")
    s"""WITH src AS (SELECT CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        c0 AS (SELECT ROUND(quantile_cont(v, 0.25), 6) AS lo,
            ROUND(quantile_cont(v, 0.75), 6) AS hi FROM src),
        $rounds
        SELECT (SELECT COUNT(*) FROM src) AS n,
          lo AS c_lo, hi AS c_hi,
          ROUND((SELECT SUM(CASE WHEN v <= (lo + hi) / 2.0 THEN 1
              ELSE 0 END) FROM src) /
            CAST((SELECT COUNT(*) FROM src) AS DOUBLE), 6) AS share_lo,
          ROUND(CASE WHEN (SELECT stddev_samp(v) FROM src) > 0 THEN
            (hi - lo) / (SELECT stddev_samp(v) FROM src) END, 6)
            AS separation
        FROM c$iters"""
  }

  /** DuckDB twin of [[yuenT]]; `srcCte` must yield (g, v); groups are
    * inlined as string literals. */
  def yuenTOracleSql(srcCte: String, groupA: String, groupB: String,
                     trim: Double = 0.2): String = {
    val hi = 1 - trim
    s"""WITH src AS ($srcCte),
        base AS (SELECT g, CAST(v AS DOUBLE) AS v FROM src
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
            AND g IN ('$groupA', '$groupB')),
        bd AS (SELECT g, quantile_cont(v, $trim) AS lo,
            quantile_cont(v, $hi) AS hi FROM base GROUP BY g),
        w AS (SELECT base.g, v,
            CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT) AS vcnt,
            lo, hi, v >= lo AND v <= hi AS keep
          FROM base JOIN bd ON base.g = bd.g),
        m AS (SELECT
            SUM(CASE WHEN g = '$groupA' THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN g = '$groupA' AND keep THEN 1 ELSE 0 END) AS ha,
            SUM(CASE WHEN g = '$groupA' AND keep THEN vcnt END) AS stca,
            SUM(CASE WHEN g = '$groupA' AND keep THEN vcnt * vcnt END)
              AS svvca,
            SUM(CASE WHEN g = '$groupA' AND v < lo THEN 1 ELSE 0 END)
              AS cba,
            SUM(CASE WHEN g = '$groupA' AND v > hi THEN 1 ELSE 0 END)
              AS caa,
            MIN(CASE WHEN g = '$groupA' THEN lo END) AS loa,
            MIN(CASE WHEN g = '$groupA' THEN hi END) AS hia,
            SUM(CASE WHEN g = '$groupB' THEN 1 ELSE 0 END) AS nb,
            SUM(CASE WHEN g = '$groupB' AND keep THEN 1 ELSE 0 END) AS hb,
            SUM(CASE WHEN g = '$groupB' AND keep THEN vcnt END) AS stcb,
            SUM(CASE WHEN g = '$groupB' AND keep THEN vcnt * vcnt END)
              AS svvcb,
            SUM(CASE WHEN g = '$groupB' AND v < lo THEN 1 ELSE 0 END)
              AS cbb,
            SUM(CASE WHEN g = '$groupB' AND v > hi THEN 1 ELSE 0 END)
              AS cab,
            MIN(CASE WHEN g = '$groupB' THEN lo END) AS lob,
            MIN(CASE WHEN g = '$groupB' THEN hi END) AS hib
          FROM w),
        cvt AS (SELECT m.*,
            ${LatticeOracle.duckPortableDoubleSigned("stca")} / 100.0
              AS sta,
            ${LatticeOracle.duckPortableDoubleSigned("stcb")} / 100.0
              AS stb,
            ${LatticeOracle.duckPortableDoubleSigned("svvca")}
              / 10000.0 AS svva,
            ${LatticeOracle.duckPortableDoubleSigned("svvcb")}
              / 10000.0 AS svvb
          FROM m),
        sw0 AS (SELECT *,
            sta + cba * loa + caa * hia AS swa,
            svva + cba * (loa * loa) + caa * (hia * hia) AS swwa,
            stb + cbb * lob + cab * hib AS swb,
            svvb + cbb * (lob * lob) + cab * (hib * hib) AS swwb
          FROM cvt),
        e AS (SELECT na, nb, ha, hb,
            sta / ha AS mta, stb / hb AS mtb,
            (swwa - swa * swa / na) / (na - 1)
              * (na - 1) / (CAST(ha AS DOUBLE) * (ha - 1)) AS da,
            (swwb - swb * swb / nb) / (nb - 1)
              * (nb - 1) / (CAST(hb AS DOUBLE) * (hb - 1)) AS db
          FROM sw0)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          CAST(ha AS BIGINT) AS h_a, CAST(hb AS BIGINT) AS h_b,
          ROUND(mta, 6) AS mt_a, ROUND(mtb, 6) AS mt_b,
          ROUND(CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0 THEN
            (mta - mtb) / SQRT(da + db) END, 6) AS t_yuen,
          ROUND(CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0 THEN
            (da + db) * (da + db)
              / (da * da / (ha - 1) + db * db / (hb - 1)) END, 6) AS df
        FROM e"""
  }

  /** DuckDB twin of [[cmh]]; `unitsCte` must yield (s, r, c). */
  def cmhOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT * FROM ($unitsCte)
          WHERE r IS NOT NULL AND c IS NOT NULL AND s IS NOT NULL),
        cells AS (SELECT s,
            CAST(SUM(CASE WHEN r = 1 AND c = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
            CAST(SUM(CASE WHEN r = 1 AND c != 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
            CAST(SUM(CASE WHEN r != 1 AND c = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS cc,
            CAST(SUM(CASE WHEN r != 1 AND c != 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
          FROM units GROUP BY s),
        f AS (SELECT *, a + b + cc + d AS n FROM cells
          WHERE a + b + cc + d >= 2),
        g AS (SELECT COUNT(*) AS k_strata, SUM(n) AS n,
            SUM(a * d / CAST(n AS DOUBLE)) AS ornum,
            SUM(b * cc / CAST(n AS DOUBLE)) AS orden,
            SUM(a) AS sa,
            SUM((a + b) * (a + cc) / CAST(n AS DOUBLE)) AS se,
            SUM(CAST(a + b AS DOUBLE) * (cc + d) * (a + cc) * (b + d)
              / (CAST(n AS DOUBLE) * n * (n - 1))) AS sv
          FROM f)
        SELECT CAST(k_strata AS BIGINT) AS k_strata,
          CAST(n AS BIGINT) AS n,
          ROUND(CASE WHEN orden > 0 THEN ornum / orden END, 6) AS or_cmh,
          ROUND(CASE WHEN sv > 0 THEN
            (sa - se) * (sa - se) / sv END, 6) AS chi2_cmh
        FROM g"""

  /** DuckDB twin of [[cochranQ]]; `unitsCte` must yield flag columns
    * named f1..fk (0/1). */
  def cochranQOracleSql(unitsCte: String, k: Int): String = {
    val fs = (1 to k).map(i => s"f$i")
    val rSum = fs.map(f => s"CASE WHEN $f = 1 THEN 1.0 ELSE 0.0 END")
      .mkString(" + ")
    val cSums = fs.zipWithIndex.map { case (f, i) =>
      s"SUM(CASE WHEN $f = 1 THEN 1.0 ELSE 0.0 END) AS c$i" }
      .mkString(", ")
    val sumC2 = (0 until k).map(i => s"c$i * c$i").mkString(" + ")
    val notNull = fs.map(f => s"$f IS NOT NULL").mkString(" AND ")
    s"""WITH units AS (SELECT * FROM ($unitsCte) WHERE $notNull),
        rs AS (SELECT $rSum AS r FROM units),
        g AS (SELECT (SELECT COUNT(*) FROM units) AS n,
            (SELECT SUM(r) FROM rs) AS sr,
            (SELECT SUM(r * r) FROM rs) AS srr, $cSums FROM units)
        SELECT CAST(n AS BIGINT) AS n, CAST($k AS BIGINT) AS k,
          ROUND(CASE WHEN $k * sr - srr > 0 THEN
            ($k - 1.0) * ($k.0 * ($sumC2) - sr * sr)
              / ($k * sr - srr) END, 6) AS q_stat
        FROM g LIMIT 1"""
  }

  /** DuckDB twin of [[cumulativeIncidence]]; `lifeCte` yields
    * (dur, cause). */
  def cumulativeIncidenceOracleSql(lifeCte: String): String =
    s"""WITH life AS ($lifeCte),
        byt AS (SELECT CAST(dur AS DOUBLE) AS t, COUNT(*) AS n,
            SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
            SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2
          FROM life GROUP BY 1),
        ar AS (SELECT t, d1, d2,
            SUM(n) OVER (ORDER BY t DESC) AS r FROM byt),
        km0 AS (SELECT t, d1, d2, r,
            1.0 - CAST(d1 + d2 AS DOUBLE) / r AS factor FROM ar),
        km1 AS (SELECT t, d1, d2, r,
            SUM(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
              OVER (ORDER BY t) AS zeros,
            SUM(CASE WHEN factor > 0 THEN LN(factor) END)
              OVER (ORDER BY t) AS lsum
          FROM km0),
        km AS (SELECT t, d1, d2, r,
            CASE WHEN zeros > 0 THEN 0.0
              ELSE ROUND(EXP(lsum), 6) END AS s FROM km1),
        sp AS (SELECT t, d1, d2, r,
            COALESCE(LAG(s, 1) OVER (ORDER BY t), 1.0) AS sprev
          FROM km)
        SELECT t, CAST(r AS BIGINT) AS n_at_risk,
          CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
          ROUND(SUM(sprev * CAST(d1 AS DOUBLE) / r)
            OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW), 6) AS cif1,
          ROUND(SUM(sprev * CAST(d2 AS DOUBLE) / r)
            OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW), 6) AS cif2
        FROM sp WHERE d1 + d2 > 0"""

  /** DuckDB twin of [[meanCumulativeFunction]]; `eventPred` selects
    * the recurrent event rows. */
  def meanCumulativeFunctionOracleSql(eventPred: String): String =
    s"""WITH fst AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
          FROM events GROUP BY user_id),
        coh AS (SELECT COUNT(*) AS n FROM fst),
        per AS (SELECT date_diff('day', fst.d0, CAST(e.ts AS DATE))
              AS day_offset, COUNT(*) AS n_events
          FROM events e JOIN fst ON e.user_id = fst.user_id
          WHERE $eventPred GROUP BY 1)
        SELECT CAST(day_offset AS INT) AS day_offset, n_events,
          ROUND(CAST(SUM(n_events) OVER (ORDER BY day_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / (SELECT n FROM coh), 6) AS mcf
        FROM per ORDER BY day_offset"""

  /** DuckDB twin of [[somersD]]; `unitsCte` yields (x, y). */
  def somersDOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(x AS BIGINT) AS x,
            CAST(y AS BIGINT) AS y FROM ($unitsCte)
          WHERE x IS NOT NULL AND y IS NOT NULL),
        cells AS (SELECT x, y, COUNT(*) AS n FROM units GROUP BY x, y),
        nc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nc
          FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y),
        nd AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nd
          FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y),
        nty AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nty
          FROM cells a JOIN cells b ON b.x > a.x AND b.y = a.y),
        t AS (SELECT SUM(n) AS n FROM cells)
        SELECT CAST(t.n AS BIGINT) AS n,
          CAST(nc AS BIGINT) AS n_concordant,
          CAST(nd AS BIGINT) AS n_discordant,
          CAST(nty AS BIGINT) AS n_ties_y,
          ROUND(CASE WHEN nc + nd + nty > 0 THEN
            CAST(nc - nd AS DOUBLE) / (nc + nd + nty) END, 6)
            AS somers_d
        FROM t CROSS JOIN nc CROSS JOIN nd CROSS JOIN nty"""

  /** DuckDB twin of [[kaplanMeierBands]]; `lifeCte` yields
    * (dur, event). */
  def kaplanMeierBandsOracleSql(lifeCte: String,
                                z: Double = 1.959964): String =
    s"""WITH life AS ($lifeCte),
        byt AS (SELECT CAST(dur AS DOUBLE) AS t, COUNT(*) AS n,
            SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS d
          FROM life GROUP BY 1),
        ar AS (SELECT t, d, SUM(n) OVER (ORDER BY t DESC) AS r
          FROM byt),
        ev AS (SELECT * FROM ar WHERE d > 0),
        km0 AS (SELECT t, d, r, 1.0 - CAST(d AS DOUBLE) / r AS factor
          FROM ev),
        km1 AS (SELECT t, d, r,
            SUM(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
              OVER (ORDER BY t) AS zeros,
            SUM(CASE WHEN factor > 0 THEN LN(factor) END)
              OVER (ORDER BY t) AS lsum,
            COALESCE(SUM(CASE WHEN r > d THEN
              CAST(d AS DOUBLE) / (CAST(r AS DOUBLE) * (r - d)) END)
              OVER (ORDER BY t), 0.0) AS gw
          FROM km0),
        km AS (SELECT t, r, d,
            CASE WHEN zeros > 0 THEN 0.0
              ELSE ROUND(EXP(lsum), 6) END AS s, gw FROM km1)
        SELECT t, CAST(r AS BIGINT) AS n_at_risk,
          CAST(d AS BIGINT) AS n_events, s AS survival,
          ROUND(s * SQRT(gw), 6) AS se,
          ROUND(GREATEST(s - $z * (s * SQRT(gw)), 0.0), 6) AS lo,
          ROUND(LEAST(s + $z * (s * SQRT(gw)), 1.0), 6) AS hi
        FROM km"""

  /** DuckDB twin of [[concordanceIndex]]; `unitsCte` yields
    * (t, e, p). */
  def concordanceIndexOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(t AS BIGINT) AS t,
            (CAST(e AS INT) = 1) AS e, CAST(p AS BIGINT) AS p
          FROM ($unitsCte)
          WHERE t IS NOT NULL AND e IS NOT NULL AND p IS NOT NULL),
        cells AS (SELECT t, e, p, COUNT(*) AS n
          FROM units GROUP BY t, e, p),
        nc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nc
          FROM cells a JOIN cells b ON a.e AND b.t > a.t AND a.p > b.p),
        nd AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nd
          FROM cells a JOIN cells b ON a.e AND b.t > a.t AND a.p < b.p),
        nt AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS nt
          FROM cells a JOIN cells b ON a.e AND b.t > a.t AND a.p = b.p)
        SELECT CAST(nc + nd + nt AS BIGINT) AS n_comparable,
          CAST(nc AS BIGINT) AS n_concordant,
          CAST(nd AS BIGINT) AS n_discordant,
          CAST(nt AS BIGINT) AS n_tied,
          ROUND(CASE WHEN nc + nd + nt > 0 THEN
            (CAST(nc AS DOUBLE) + CAST(nt AS DOUBLE) / 2)
              / CAST(nc + nd + nt AS DOUBLE) END, 6) AS c_index
        FROM nc CROSS JOIN nd CROSS JOIN nt"""

  /** DuckDB twin of [[bowker]]; `unitsCte` yields (a, b). */
  def bowkerOracleSql(unitsCte: String): String =
    s"""WITH units AS (SELECT CAST(a AS BIGINT) AS a,
            CAST(b AS BIGINT) AS b FROM ($unitsCte)
          WHERE a IS NOT NULL AND b IS NOT NULL),
        cells AS (SELECT a, b, COUNT(*) AS n FROM units GROUP BY a, b),
        pairs AS (SELECT COALESCE(lo.n, 0) AS x, COALESCE(hi.n, 0) AS y
          FROM cells lo FULL JOIN cells hi
            ON lo.a = hi.b AND lo.b = hi.a
          WHERE COALESCE(lo.a, hi.b) < COALESCE(lo.b, hi.a)),
        t AS (SELECT SUM(n) AS n FROM cells),
        g AS (SELECT
            CAST(SUM(CASE WHEN x + y > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS np,
            ROUND(CAST(SUM(CAST(ROUND(CASE WHEN x + y > 0 THEN
                CAST((x - y) * (x - y) AS DOUBLE) / (x + y) END, 9)
              AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2
          FROM pairs)
        SELECT CAST(t.n AS BIGINT) AS n, g.np AS n_pairs_tested,
          g.chi2, g.np AS df
        FROM g CROSS JOIN t"""

  /** DuckDB twin of [[kmMedianByGroup]]; `unitsCte` yields
    * (g, t, e). */
  def kmMedianByGroupOracleSql(unitsCte: String): String =
    s"""WITH base AS (SELECT g, CAST(t AS BIGINT) AS t,
            CASE WHEN CAST(e AS INT) = 1 THEN 1 ELSE 0 END AS e
          FROM ($unitsCte) WHERE t IS NOT NULL AND e IS NOT NULL),
        totals AS (SELECT g, COUNT(*) AS n,
            CAST(SUM(e) AS BIGINT) AS n_events FROM base GROUP BY g),
        cells AS (SELECT g, t, COUNT(*) AS c, SUM(e) AS d
          FROM base GROUP BY g, t),
        life AS (SELECT g, t, d,
            SUM(c) OVER (PARTITION BY g ORDER BY t DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS atrisk
          FROM cells),
        ev AS (SELECT * FROM life WHERE d > 0),
        s AS (SELECT g, t,
            CASE WHEN MAX(CASE WHEN d = atrisk THEN 1 ELSE 0 END)
                OVER (PARTITION BY g ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0
              ELSE EXP(COALESCE(SUM(CASE WHEN d < atrisk THEN
                LN(1.0 - CAST(d AS DOUBLE) / atrisk) END)
                OVER (PARTITION BY g ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0)) END AS sv
          FROM ev),
        med AS (SELECT g, MIN(CASE WHEN sv <= 0.5 THEN t END)
            AS median_survival FROM s GROUP BY g)
        SELECT totals.g AS "group", totals.n, totals.n_events,
          med.median_survival
        FROM totals LEFT JOIN med ON totals.g = med.g
        ORDER BY "group""""
}

/** DuckDB twins of [[graft.ml.SurvivalTests]]. */
object SurvivalTestsOracle {
  /** DuckDB twin of [[logRank]]; `lifeCte` yields (dur, event, arm). */
  def logRankOracleSql(lifeCte: String, armA: String,
                       armB: String): String =
    s"""WITH base AS (SELECT CAST(dur AS BIGINT) AS t,
            CASE WHEN event = 1 THEN 1 ELSE 0 END AS e,
            CASE WHEN arm = '$armA' THEN 1 ELSE 0 END AS a
          FROM ($lifeCte)
          WHERE arm IN ('$armA', '$armB') AND dur IS NOT NULL),
        cells AS (SELECT t, a, COUNT(*) AS n, SUM(e) AS d
          FROM base GROUP BY t, a),
        grid AS (SELECT t, g.a FROM (SELECT DISTINCT t FROM cells)
          CROSS JOIN (SELECT UNNEST([0, 1]) AS a) g),
        full0 AS (SELECT grid.t, grid.a,
            COALESCE(cells.n, 0) AS n, COALESCE(cells.d, 0) AS d
          FROM grid LEFT JOIN cells USING (t, a)),
        risk AS (SELECT t, a, d,
            SUM(n) OVER (PARTITION BY a ORDER BY t DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
          FROM full0),
        byt AS (SELECT t,
            SUM(CASE WHEN a = 1 THEN r ELSE 0 END) AS n1,
            SUM(CASE WHEN a = 0 THEN r ELSE 0 END) AS n0,
            SUM(CASE WHEN a = 1 THEN d ELSE 0 END) AS d1,
            SUM(CASE WHEN a = 0 THEN d ELSE 0 END) AS d0
          FROM risk GROUP BY t),
        ev AS (SELECT d1, d1 + d0 AS dt, n1, n0, n1 + n0 AS nt
          FROM byt WHERE d1 + d0 > 0),
        terms AS (SELECT d1,
            CAST(ROUND(CAST(dt AS DOUBLE) * n1 / nt, 9)
              AS DECIMAL(28,9)) AS e1,
            CAST(ROUND(CASE WHEN nt > 1 THEN
              CAST(dt AS DOUBLE) * n1 * n0 * (nt - dt)
                / (CAST(nt AS DOUBLE) * nt * (nt - 1))
              ELSE 0.0 END, 9) AS DECIMAL(28,9)) AS v1
          FROM ev),
        sizes AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
            CAST(SUM(1 - a) AS BIGINT) AS n_b FROM base),
        agg AS (SELECT CAST(SUM(d1) AS BIGINT) AS observed_a,
            CAST(SUM(e1) AS DOUBLE) AS esum,
            CAST(SUM(v1) AS DOUBLE) AS vsum
          FROM terms)
        SELECT n_a, n_b, observed_a,
          ROUND(esum, 6) AS expected_a,
          ROUND(observed_a - esum, 6) AS o_minus_e,
          ROUND(vsum, 6) AS var_sum,
          ROUND((observed_a - esum) / SQRT(vsum), 6) AS z_stat
        FROM agg CROSS JOIN sizes"""
}

/** DuckDB twins of [[graft.ml.Uplift]]. */
object UpliftOracle {
  /** DuckDB mirror of [[qiniByBucket]]: `unitsCte` must yield
    * (treat 0/1, score, y, tb). */
  def qiniOracleSql(unitsCte: String, nBuckets: Int): String =
    s"""WITH units AS ($unitsCte),
        bucketed AS (SELECT CAST(treat AS INT) AS t, CAST(y AS DOUBLE) AS y,
            NTILE($nBuckets) OVER (ORDER BY score DESC, tb ASC) AS b
          FROM units),
        perb AS (SELECT CAST(b AS INT) AS bucket,
            CAST(SUM(t) AS BIGINT) AS n_treat,
            CAST(SUM(1 - t) AS BIGINT) AS n_ctrl,
            SUM(CASE WHEN t = 1 THEN y ELSE 0.0 END) AS y_treat,
            SUM(CASE WHEN t = 0 THEN y ELSE 0.0 END) AS y_ctrl
          FROM bucketed GROUP BY b)
        SELECT bucket, n_treat, n_ctrl,
          ROUND(y_treat, 6) AS y_treat, ROUND(y_ctrl, 6) AS y_ctrl,
          CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN ROUND(
            y_treat / n_treat - y_ctrl / n_ctrl, 6) END AS uplift,
          CASE WHEN SUM(n_ctrl) OVER cw > 0 THEN ROUND(
            SUM(y_treat) OVER cw - SUM(y_ctrl) OVER cw *
              (CAST(SUM(n_treat) OVER cw AS DOUBLE) /
                SUM(n_ctrl) OVER cw), 6) END AS qini
        FROM perb
        WINDOW cw AS (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
}
