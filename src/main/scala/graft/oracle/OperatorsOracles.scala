package graft.oracle

// DuckDB twins of the graft.operators operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.operators.Cohorts]]. */
object CohortsOracle {
  /** DuckDB twin of [[retentionHalfLife]]. */
  def retentionHalfLifeOracleSql(userCol: String, tsCol: String,
                                 table: String, minWeeks: Int = 3): String =
    s"""WITH ev AS (SELECT $userCol AS u,
            date_trunc('week', $tsCol) AS wk FROM $table),
        coh AS (SELECT u, MIN(wk) AS cohort_week FROM ev GROUP BY u),
        act AS (SELECT DISTINCT u, wk FROM ev),
        r AS (SELECT cohort_week,
            CAST(date_diff('day', cohort_week, wk) / 7 AS INT)
              AS week_offset,
            COUNT(DISTINCT u) AS n_active
          FROM act JOIN coh USING (u) GROUP BY 1, 2),
        b AS (SELECT cohort_week, n_active AS n0 FROM r
          WHERE week_offset = 0),
        pts AS (SELECT r.cohort_week,
            CAST(week_offset AS DOUBLE) AS x,
            LN(CAST(n_active AS DOUBLE) / n0) AS y
          FROM r JOIN b USING (cohort_week)
          WHERE week_offset >= 1 AND n_active > 0),
        g AS (SELECT cohort_week, COUNT(*) AS nw, SUM(x) AS sx,
            SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM pts GROUP BY cohort_week HAVING COUNT(*) >= $minWeeks),
        s AS (SELECT cohort_week, nw,
            (sxy - sx * sy / CAST(nw AS DOUBLE))
              / (sxx - sx * sx / CAST(nw AS DOUBLE)) AS slope
          FROM g)
        SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
          CAST(nw AS BIGINT) AS n_weeks, ROUND(slope, 6) AS slope,
          ROUND(CASE WHEN slope < 0 THEN ${math.log(2.0)} / -slope END, 6)
            AS half_life_weeks
        FROM s ORDER BY cohort_week"""

  /** DuckDB twin of [[coldStartRate]]; uses the events table. */
  def coldStartRateOracleSql(entityExpr: String, segmentExpr: String,
                             tsExpr: String, table: String,
                             split: String): String =
    s"""WITH pre AS (SELECT DISTINCT $entityExpr AS e FROM $table
          WHERE $tsExpr < TIMESTAMP '$split'),
        post AS (SELECT DISTINCT $entityExpr AS e,
            $segmentExpr AS segment FROM $table
          WHERE $tsExpr >= TIMESTAMP '$split')
        SELECT segment, COUNT(*) AS n_active,
          CAST(SUM(CASE WHEN pre.e IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
          ROUND(SUM(CASE WHEN pre.e IS NULL THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS cold_rate
        FROM post LEFT JOIN pre ON post.e = pre.e
        GROUP BY segment ORDER BY segment"""

  /** DuckDB twin of [[cohortLtv]]; uses the events table. */
  def cohortLtvOracleSql(userExpr: String, tsExpr: String,
                         valueExpr: String, table: String,
                         maxOffset: Int = 8): String =
    s"""WITH ev AS (SELECT $userExpr AS u,
            CAST(date_diff('day', DATE '1970-01-01',
              CAST($tsExpr AS DATE)) AS BIGINT) // 7 AS w,
            CAST($valueExpr AS DECIMAL(18,2)) AS v
          FROM $table WHERE $valueExpr IS NOT NULL),
        fw AS (SELECT u, MIN(w) AS cw FROM ev GROUP BY u),
        sz AS (SELECT cw, COUNT(*) AS n_cohort FROM fw GROUP BY cw),
        cells AS (SELECT fw.cw, ev.w - fw.cw AS off,
            COUNT(DISTINCT ev.u) AS n_active, SUM(ev.v) AS val
          FROM ev JOIN fw ON ev.u = fw.u
          WHERE ev.w - fw.cw <= $maxOffset
          GROUP BY fw.cw, ev.w - fw.cw),
        cum AS (SELECT cw, off, n_active, val,
            SUM(val) OVER (PARTITION BY cw ORDER BY off
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
          FROM cells)
        SELECT cum.cw AS cohort_week, CAST(off AS BIGINT)
            AS week_offset, sz.n_cohort, n_active,
          ROUND(CAST(val AS DOUBLE), 6) AS value,
          ROUND(CAST(cv AS DOUBLE) / CAST(sz.n_cohort AS DOUBLE), 6)
            AS cum_ltv
        FROM cum JOIN sz ON cum.cw = sz.cw
        ORDER BY cohort_week, week_offset"""

  /** DuckDB twin of [[growthAccounting]] over the events table. */
  def growthAccountingOracleSql(userExpr: String, tsExpr: String,
                                table: String): String =
    s"""WITH cells AS (SELECT DISTINCT $userExpr AS u,
            CAST($tsExpr AS DATE) AS d
          FROM $table),
        l AS (SELECT u, d,
            LAG(d) OVER (PARTITION BY u ORDER BY d) AS prev,
            LEAD(d) OVER (PARTITION BY u ORDER BY d) AS next
          FROM cells),
        act AS (SELECT d AS day, COUNT(*) AS n_active,
            CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_new,
            CAST(SUM(CASE WHEN date_diff('day', prev, d) = 1 THEN 1
              ELSE 0 END) AS BIGINT) AS n_retained,
            CAST(SUM(CASE WHEN prev IS NOT NULL
                AND date_diff('day', prev, d) > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
          FROM l GROUP BY d),
        ch AS (SELECT d + 1 AS day, COUNT(*) AS n_churned FROM l
          WHERE next IS NULL OR date_diff('day', d, next) > 1
          GROUP BY d + 1),
        mx AS (SELECT MAX(d) AS m FROM cells),
        mg AS (SELECT COALESCE(act.day, ch.day) AS day,
            COALESCE(n_active, 0) AS n_active,
            COALESCE(n_new, 0) AS n_new,
            COALESCE(n_retained, 0) AS n_retained,
            COALESCE(n_resurrected, 0) AS n_resurrected,
            COALESCE(n_churned, 0) AS n_churned
          FROM act FULL OUTER JOIN ch ON act.day = ch.day)
        SELECT strftime(day, '%Y-%m-%d') AS day,
          CAST(n_active AS BIGINT) AS n_active,
          CAST(n_new AS BIGINT) AS n_new,
          CAST(n_retained AS BIGINT) AS n_retained,
          CAST(n_resurrected AS BIGINT) AS n_resurrected,
          CAST(n_churned AS BIGINT) AS n_churned
        FROM mg CROSS JOIN mx WHERE day <= m ORDER BY day"""

  /** DuckDB twin of [[stickiness]]. */
  def stickinessOracleSql(userExpr: String, tsExpr: String,
                          table: String): String =
    s"""WITH dd AS (SELECT DISTINCT
            strftime(date_trunc('month', $tsExpr), '%Y-%m-01') AS month,
            CAST($tsExpr AS DATE) AS day, $userExpr AS u
          FROM $table)
        SELECT month, COUNT(DISTINCT day) AS n_days,
          COUNT(DISTINCT u) AS mau, COUNT(*) AS user_days,
          ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT day), 6)
            AS avg_dau,
          ROUND(CAST(COUNT(*) AS DOUBLE) /
            (COUNT(DISTINCT day) * COUNT(DISTINCT u)), 6) AS stickiness
        FROM dd GROUP BY month ORDER BY month"""
}

/** DuckDB twins of [[graft.operators.Cooccur]]. */
object CooccurOracle {
  /** DuckDB twin of [[itemTriples]]; `itemsCte` must yield (b, i). */
  def itemTriplesOracleSql(itemsCte: String, minSupport: Long,
                           maxBasketSize: Int, topK: Int): String =
    s"""WITH items0 AS (SELECT DISTINCT b, i FROM ($itemsCte)),
        ok AS (SELECT b FROM items0 GROUP BY b
          HAVING COUNT(*) <= $maxBasketSize),
        kept AS (SELECT items0.b, items0.i FROM items0 JOIN ok USING (b)),
        nb AS (SELECT COUNT(DISTINCT b) AS n FROM kept),
        ic AS (SELECT i, COUNT(*) AS ci FROM kept GROUP BY i),
        fp AS (SELECT x.i AS a, y.i AS bb FROM kept x
          JOIN kept y ON x.b = y.b AND x.i < y.i
          GROUP BY x.i, y.i HAVING COUNT(*) >= $minSupport),
        pb AS (SELECT x.b, x.i AS a, y.i AS bb FROM kept x
          JOIN kept y ON x.b = y.b AND x.i < y.i
          JOIN fp ON fp.a = x.i AND fp.bb = y.i),
        tr AS (SELECT pb.a, pb.bb, z.i AS c, COUNT(*) AS n_triple
          FROM pb JOIN kept z ON z.b = pb.b AND z.i > pb.bb
          GROUP BY pb.a, pb.bb, z.i HAVING COUNT(*) >= $minSupport)
        SELECT tr.a AS item_a, tr.bb AS item_b, tr.c AS item_c,
          CAST(tr.n_triple AS BIGINT) AS n_triple,
          ROUND(CAST(tr.n_triple AS DOUBLE) * nb.n * nb.n
            / (ca.ci * cb.ci * cc.ci), 6) AS lift
        FROM tr CROSS JOIN nb
        JOIN ic ca ON ca.i = tr.a
        JOIN ic cb ON cb.i = tr.bb
        JOIN ic cc ON cc.i = tr.c
        ORDER BY n_triple DESC, item_a, item_b, item_c LIMIT $topK"""
}

/** DuckDB twins of [[graft.operators.Downsample]]. */
object DownsampleOracle {
  /** DuckDB twin of [[m4]]. */
  def m4OracleSql(seriesExpr: String, tsExpr: String, ordExpr: String,
                  valExpr: String, table: String): String =
    s"""SELECT $seriesExpr AS series,
          strftime(date_trunc('hour', $tsExpr), '%Y-%m-%d %H:00')
            AS bucket,
          COUNT(*) AS n,
          arg_min($valExpr, lpad(CAST(epoch_us($tsExpr) AS VARCHAR),
            20, '0') || lpad(CAST($ordExpr AS VARCHAR), 20, '0'))
            AS v_open,
          arg_max($valExpr, lpad(CAST(epoch_us($tsExpr) AS VARCHAR),
            20, '0') || lpad(CAST($ordExpr AS VARCHAR), 20, '0'))
            AS v_close,
          MIN($valExpr) AS v_low, MAX($valExpr) AS v_high
        FROM $table WHERE $valExpr IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2"""
}

/** DuckDB twins of [[graft.operators.Events]]. */
object EventsOracle {
  /** DuckDB twin of [[cumulativeDistinct]]; `evCte` must yield
    * (u, day). */
  def cumulativeDistinctOracleSql(evCte: String): String =
    s"""WITH ev AS ($evCte),
        perday AS (SELECT day, COUNT(*) AS n_events FROM ev GROUP BY day),
        fs AS (SELECT MIN(day) AS day FROM ev GROUP BY u),
        nw AS (SELECT day, COUNT(*) AS nn FROM fs GROUP BY day)
        SELECT CAST(p.day AS TIMESTAMP) AS day, p.n_events,
          COALESCE(nw.nn, 0) AS new_entities,
          CAST(SUM(COALESCE(nw.nn, 0)) OVER (ORDER BY p.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_entities
        FROM perday p LEFT JOIN nw USING (day)"""

  /** DuckDB twin of [[interEventBurstiness]]. */
  def interEventBurstinessOracleSql(userCol: String, tsCol: String,
                                    table: String): String =
    s"""WITH ev AS (SELECT $userCol AS u, epoch_us($tsCol) AS t
          FROM $table),
        g AS (SELECT u,
            (t - LAG(t, 1) OVER (PARTITION BY u ORDER BY t))
              / 1000000.0 AS gp
          FROM ev),
        per0 AS (SELECT u, COUNT(*) AS n, AVG(gp) AS m,
            stddev_pop(gp) AS s
          FROM g WHERE gp IS NOT NULL GROUP BY u),
        per AS (SELECT ROUND((s - m) / (s + m), 6) AS b
          FROM per0 WHERE n >= 2 AND (m + s) > 0)
        SELECT COUNT(*) AS n_entities,
          ROUND(CAST(SUM(CAST(b AS DECIMAL(28,6))) AS DOUBLE)
            / COUNT(*), 6) AS mean_b,
          ROUND(quantile_cont(b, 0.5), 6) AS p50_b,
          ROUND(SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS share_bursty
        FROM per"""

  /** DuckDB twin of [[reorderGaps]]. */
  def reorderGapsOracleSql(entityExpr: String, dateExpr: String,
                           table: String): String =
    s"""WITH gaps AS (SELECT $entityExpr AS e,
            date_diff('day', LAG(CAST($dateExpr AS DATE))
              OVER (PARTITION BY $entityExpr
                ORDER BY CAST($dateExpr AS DATE)),
              CAST($dateExpr AS DATE)) AS gap
          FROM $table WHERE $dateExpr IS NOT NULL),
        nz AS (SELECT e, gap FROM gaps WHERE gap IS NOT NULL),
        ne AS (SELECT COUNT(DISTINCT e) AS n_entities FROM nz),
        cells AS (SELECT gap, COUNT(*) AS c FROM nz GROUP BY gap),
        cum AS (SELECT gap, SUM(c) OVER (ORDER BY gap) AS cm
          FROM cells),
        tot AS (SELECT SUM(c) AS n FROM cells)
        SELECT CAST(COALESCE(ANY_VALUE(ne.n_entities), 0) AS BIGINT)
            AS n_entities,
          CAST(ANY_VALUE(tot.n) AS BIGINT) AS n_gaps,
          CAST(MIN(CASE WHEN cm * 4 >= n THEN gap END) AS BIGINT)
            AS p25_days,
          CAST(MIN(CASE WHEN cm * 2 >= n THEN gap END) AS BIGINT)
            AS p50_days,
          CAST(MIN(CASE WHEN cm * 4 >= n * 3 THEN gap END) AS BIGINT)
            AS p75_days,
          CAST(MIN(CASE WHEN cm * 10 >= n * 9 THEN gap END) AS BIGINT)
            AS p90_days
        FROM cum CROSS JOIN tot CROSS JOIN ne"""

  /** DuckDB twin of [[latencyPercentiles]]. */
  def latencyPercentilesOracleSql(entityExpr: String, tsExpr: String,
                                  typeExpr: String,
                                  table: String): String =
    s"""WITH gaps AS (SELECT $typeExpr AS event_type,
            (epoch_us($tsExpr) - LAG(epoch_us($tsExpr))
              OVER (PARTITION BY $entityExpr, $typeExpr
                ORDER BY epoch_us($tsExpr))) // 1000000 AS gap
          FROM $table),
        nz AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
        cells AS (SELECT event_type, gap, COUNT(*) AS c
          FROM nz GROUP BY event_type, gap),
        cum AS (SELECT event_type, gap,
            SUM(c) OVER (PARTITION BY event_type ORDER BY gap) AS cm,
            SUM(c) OVER (PARTITION BY event_type) AS n
          FROM cells)
        SELECT event_type, CAST(ANY_VALUE(n) AS BIGINT) AS n_gaps,
          CAST(MIN(CASE WHEN cm * 2 >= n THEN gap END) AS BIGINT)
            AS p50_s,
          CAST(MIN(CASE WHEN cm * 10 >= n * 9 THEN gap END) AS BIGINT)
            AS p90_s,
          CAST(MIN(CASE WHEN cm * 100 >= n * 99 THEN gap END)
            AS BIGINT) AS p99_s
        FROM cum GROUP BY event_type ORDER BY event_type"""
}

/** DuckDB twins of [[graft.operators.Forecast]]. */
object ForecastOracle {
  /** DuckDB twin of [[seasonalityStrength]] — re-derives the same
    * decomposition (7-day centered MA, per-dow seasonal). */
  def seasonalityStrengthOracleSql(tsExpr: String, valueExpr: String,
                                   table: String): String =
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*) AS mean
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        tr AS (SELECT day, mean, dayofweek(day) AS dow,
            CASE WHEN COUNT(*) OVER w = 7 THEN AVG(mean) OVER w END
              AS trend
          FROM d0
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
            AND 3 FOLLOWING)),
        se AS (SELECT dow, AVG(mean - trend) AS seas FROM tr
          WHERE trend IS NOT NULL GROUP BY dow),
        f AS (SELECT ROUND(tr.mean, 6) AS mean, ROUND(trend, 6) AS trend,
            ROUND(seas, 6) AS seasonal,
            ROUND(tr.mean - trend - seas, 6) AS residual
          FROM tr JOIN se USING (dow) WHERE trend IS NOT NULL),
        a AS (SELECT COUNT(*) AS n, var_samp(residual) AS vr,
            var_samp(trend + residual) AS vtr,
            var_samp(seasonal + residual) AS vsr FROM f)
        SELECT CAST(n AS BIGINT) AS n_days,
          ROUND(CASE WHEN vtr > 0 THEN
            GREATEST(0.0, 1.0 - vr / vtr) END, 6) AS trend_strength,
          ROUND(CASE WHEN vsr > 0 THEN
            GREATEST(0.0, 1.0 - vr / vsr) END, 6) AS seasonal_strength
        FROM a"""

  /** DuckDB mirror of [[holtWinters]] over the `events` table: the
    * state recursion as a recursive CTE carrying the last `season`
    * seasonal terms as rotating columns (the q257 pattern, widened).
    * Every float expression tree matches the Scala fold exactly. */
  def holtWintersOracleSql(season: Int = 7, alpha: Double = 0.25,
                           beta: Double = 0.125,
                           gamma: Double = 0.25): String = {
    val m = season
    val (a, a1, b, b1, g, g1) =
      (alpha, 1.0 - alpha, beta, 1.0 - beta, gamma, 1.0 - gamma)
    val sCols = (1 to m).map(i => s"s$i")
    val initS = (1 to m).map(i =>
      s"(SELECT total FROM idx WHERE t = $i) - sum1 / $m.0 AS s$i")
      .mkString(",\n             ")
    val newLvl = s"$a * (i.total - r.s1) + $a1 * (r.level + r.trend)"
    s"""WITH RECURSIVE d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events WHERE value IS NOT NULL GROUP BY day),
         idx AS (SELECT day, total,
             CAST(row_number() OVER (ORDER BY day) AS INT) AS t FROM d),
         sums AS (SELECT
             (SELECT SUM(total) FROM idx WHERE t <= $m) AS sum1,
             (SELECT SUM(total) FROM idx
               WHERE t BETWEEN ${m + 1} AND ${2 * m}) AS sum2),
         rec AS (
           SELECT $m AS t, sum1 / $m.0 AS level,
             (sum2 - sum1) / ${m * m}.0 AS trend,
             $initS,
             CAST(NULL AS DOUBLE) AS forecast
           FROM sums WHERE (SELECT COUNT(*) FROM idx) >= ${2 * m}
           UNION ALL
           SELECT i.t,
             $newLvl,
             $b * (($newLvl) - r.level) + $b1 * r.trend,
             ${sCols.tail.map(c => s"r.$c").mkString(", ")},
             $g * (i.total - ($newLvl)) + $g1 * r.s1,
             r.level + r.trend + r.s1
           FROM rec r JOIN idx i ON i.t = r.t + 1)
         SELECT CAST(i.day AS TIMESTAMP) AS day, i.total,
           ROUND(r.level, 6) AS level, ROUND(r.trend, 6) AS trend,
           ROUND(r.s$m, 6) AS seasonal,
           ROUND(r.forecast, 6) AS forecast,
           ROUND(i.total - r.forecast, 6) AS resid
         FROM rec r JOIN idx i ON i.t = r.t WHERE r.t > $m"""
  }

  /** DuckDB twin of [[periodogram]]; `dailyCte` must yield
    * (day, total). */
  def periodogramOracleSql(dailyCte: String, maxK: Int = 10): String =
    s"""WITH d AS ($dailyCte),
        idx AS (SELECT total,
            ROW_NUMBER() OVER (ORDER BY day) - 1 AS t
          FROM d),
        st AS (SELECT COUNT(*) AS n, AVG(total) AS mu FROM idx),
        wk AS (SELECT idx.t, idx.total - st.mu AS c, st.n, ks.k
          FROM idx CROSS JOIN st
          CROSS JOIN (SELECT UNNEST(range(1, ${maxK + 1})) AS k) ks),
        g AS (SELECT k,
            SUM(c * COS(2 * PI() * k * t / n)) AS cc,
            SUM(c * SIN(2 * PI() * k * t / n)) AS ss,
            SUM(c * c) AS sq, MAX(n) AS n
          FROM wk GROUP BY k)
        SELECT k, ROUND(CAST(n AS DOUBLE) / k, 6) AS period_days,
          ROUND(CASE WHEN sq > 0
            THEN (cc * cc + ss * ss) * 2.0 / (n * sq) END, 6) AS power
        FROM g"""

  /** DuckDB twin of [[crossCorrelation]]; `dailyCte` must yield
    * (day, x, y) — one row per day, doubles. */
  def crossCorrelationOracleSql(dailyCte: String, maxLag: Int = 7): String =
    s"""WITH d AS ($dailyCte),
        r AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
        st AS (SELECT AVG(x) AS mx, AVG(y) AS my,
            SUM(x * x) AS sxx, SUM(y * y) AS syy, COUNT(*) AS n
          FROM r),
        ks AS (SELECT UNNEST(range(-$maxLag, ${maxLag + 1})) AS lag),
        pairs AS (SELECT ks.lag, a.x, b.y
          FROM r a CROSS JOIN ks JOIN r b ON b.rn = a.rn + ks.lag
          WHERE ks.lag != 0)
        SELECT p.lag, COUNT(p.y) AS n_pairs,
          ROUND(SUM((p.x - st.mx) * (p.y - st.my)) /
            SQRT((st.sxx - st.n * st.mx * st.mx) *
              (st.syy - st.n * st.my * st.my)), 6) AS ccf
        FROM pairs p CROSS JOIN st
        GROUP BY p.lag, st.mx, st.my, st.sxx, st.syy, st.n"""

  /** DuckDB twin of [[durbinWatson]]; events table columns are named
    * inline (ts, value semantics as the operator). */
  def durbinWatsonOracleSql(tsExpr: String, valueExpr: String,
                            table: String): String =
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        d AS (SELECT total,
            CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS i
          FROM d0),
        m AS (SELECT COUNT(*) AS n, SUM(i) AS si, SUM(total) AS sy,
            SUM(i * i) AS sii, SUM(i * total) AS siy FROM d),
        b AS (SELECT n, si, sy,
            (siy - si * sy / n) / (sii - si * si / n) AS b1 FROM m),
        r AS (SELECT i, b.b1,
            total - (sy / n - b1 * si / n) - b1 * i AS e
          FROM d CROSS JOIN b),
        l AS (SELECT b1, e, LAG(e, 1) OVER (ORDER BY i) AS e1 FROM r)
        SELECT COUNT(*) AS n_days, ROUND(ANY_VALUE(b1), 6) AS slope,
          ROUND(SUM((e - e1) * (e - e1)) / SUM(e * e), 6) AS dw,
          ROUND(SUM(e * e1) / SUM(e * e), 6) AS rho1
        FROM l"""

  /** DuckDB twin of [[hurstRs]]. */
  def hurstRsOracleSql(tsExpr: String, valueExpr: String, table: String,
                       scales: Seq[Int] = Seq(8, 16, 32, 64)): String = {
    val scaleList = scales.mkString("[", ", ", "]")
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        d AS (SELECT total,
            ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn FROM d0),
        ex AS (SELECT total, rn, UNNEST($scaleList) AS scale FROM d),
        exb AS (SELECT *, rn // scale AS blk FROM ex),
        bs AS (SELECT scale, blk, COUNT(*) AS bn, AVG(total) AS bm,
            stddev_pop(total) AS sdev
          FROM exb GROUP BY scale, blk
          HAVING COUNT(*) = scale AND stddev_pop(total) > 0),
        cum AS (SELECT e.scale, e.blk, bs.sdev,
            SUM(e.total - bs.bm) OVER (PARTITION BY e.scale, e.blk
              ORDER BY e.rn ROWS BETWEEN UNBOUNDED PRECEDING AND
              CURRENT ROW) AS c
          FROM exb e JOIN bs ON e.scale = bs.scale AND e.blk = bs.blk),
        rsb AS (SELECT scale, blk,
            (MAX(c) - MIN(c)) / ANY_VALUE(sdev) AS rs
          FROM cum GROUP BY scale, blk),
        ms AS (SELECT LN(CAST(scale AS DOUBLE)) AS x, LN(AVG(rs)) AS y
          FROM rsb GROUP BY scale HAVING AVG(rs) > 0),
        g AS (SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * x) AS sxx, SUM(x * y) AS sxy FROM ms),
        nd AS (SELECT COUNT(*) AS n FROM d)
        SELECT CAST(g.k AS BIGINT) AS n_scales,
          CAST(nd.n AS BIGINT) AS n_days,
          ROUND((sxy - sx * sy / CAST(k AS DOUBLE))
            / (sxx - sx * sx / CAST(k AS DOUBLE)), 6) AS hurst
        FROM g CROSS JOIN nd"""
  }

  /** DuckDB twin of [[neweyWestSe]]. */
  def neweyWestOracleSql(tsExpr: String, valueExpr: String,
                         table: String, maxLag: Int = 7): String = {
    val lagCols = (1 to maxLag).map(k =>
      s"LAG(total, $k) OVER (ORDER BY day) AS x_$k").mkString(", ")
    val gCols = (1 to maxLag).map(k =>
      s"SUM((x - mm) * (x_$k - mm)) AS g$k").mkString(", ")
    val varNw = (1 to maxLag).foldLeft("g0 / n") { (acc, k) =>
      s"$acc + 2.0 * ${1.0 - k.toDouble / (maxLag + 1)} * (g$k / n)" }
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        m AS (SELECT AVG(total) AS mm, CAST(COUNT(*) AS DOUBLE) AS n,
            COUNT(*) AS ni FROM d0),
        l AS (SELECT total AS x, $lagCols FROM d0),
        g AS (SELECT SUM((x - mm) * (x - mm)) AS g0, $gCols,
            ANY_VALUE(n) AS n, ANY_VALUE(ni) AS ni, ANY_VALUE(mm) AS mm
          FROM l CROSS JOIN m),
        e AS (SELECT ni, mm, n, g0,
            $varNw AS vnw FROM g)
        SELECT CAST(ni AS BIGINT) AS n_days, ROUND(mm, 6) AS mean,
          ROUND(SQRT(g0 / n / n), 6) AS se_iid,
          ROUND(SQRT(GREATEST(0.0, vnw) / n), 6) AS se_nw,
          ROUND(CASE WHEN SQRT(g0 / n / n) > 0 THEN
            SQRT(GREATEST(0.0, vnw) / n) / SQRT(g0 / n / n) END, 6)
            AS inflation
        FROM e"""
  }

  /** DuckDB twin of [[croston]]. */
  def crostonOracleSql(tsExpr: String, valueExpr: String, table: String,
                       alpha: Double = 0.25): String =
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        d AS (SELECT day, total,
            ROW_NUMBER() OVER (ORDER BY day) AS rn,
            date_diff('day', LAG(day, 1) OVER (ORDER BY day), day)
              AS gap
          FROM d0 WHERE total > 0),
        kk AS (SELECT MAX(rn) AS k FROM d),
        a AS (SELECT
            SUM(POW(${1.0 - alpha}, k - rn) * total)
              / SUM(POW(${1.0 - alpha}, k - rn)) AS z,
            SUM(CASE WHEN gap IS NOT NULL THEN
                POW(${1.0 - alpha}, k - rn) * gap END)
              / SUM(CASE WHEN gap IS NOT NULL THEN
                POW(${1.0 - alpha}, k - rn) END) AS p,
            COUNT(*) AS n
          FROM d CROSS JOIN kk)
        SELECT CAST(n AS BIGINT) AS n_demand_days,
          ROUND(z, 6) AS z_hat, ROUND(p, 6) AS p_hat,
          ROUND(CASE WHEN p > 0 THEN z / p END, 6) AS forecast
        FROM a"""

  /** DuckDB twin of [[pacf]] — the same named-intermediate unroll. */
  def pacfOracleSql(tsExpr: String, valueExpr: String, table: String,
                    maxLag: Int = 5): String = {
    val lagCols = (1 to maxLag).map(k =>
      s"LAG(total, $k) OVER (ORDER BY day) AS x_$k").mkString(", ")
    val rCols = (1 to maxLag).map(k =>
      s"""SUM((x - mm) * (x_$k - mm)) /
          ANY_VALUE(ss - nn * mm * mm) AS r$k""").mkString(", ")
    val steps = new StringBuilder
    var prev = "dl1"
    steps.append("dl1 AS (SELECT *, r1 AS p1_1 FROM r)")
    for (k <- 2 to maxLag) {
      val num = (1 until k).map(j => s"p${k - 1}_$j * r${k - j}")
        .mkString(" + ")
      val den = (1 until k).map(j => s"p${k - 1}_$j * r$j")
        .mkString(" + ")
      steps.append(s""",
        dl${k}a AS (SELECT *, (r$k - ($num)) / (1.0 - ($den))
          AS p${k}_$k FROM $prev)""")
      val pjs = (1 until k).map(j =>
        s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j} AS p${k}_$j")
        .mkString(", ")
      steps.append(s""",
        dl$k AS (SELECT *, $pjs FROM dl${k}a)""")
      prev = s"dl$k"
    }
    val outRows = (1 to maxLag).map(k =>
      s"SELECT $k AS lag, ROUND(p${k}_$k, 6) AS pacf FROM $prev")
      .mkString("\n UNION ALL ")
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        m AS (SELECT AVG(total) AS mm, SUM(total * total) AS ss,
            COUNT(*) AS nn FROM d0),
        l AS (SELECT total AS x, $lagCols FROM d0),
        r AS (SELECT $rCols FROM l CROSS JOIN m),
        ${steps.toString}
        $outRows"""
  }

  /** DuckDB twin of [[motifs]]. */
  def motifsOracleSql(tsExpr: String, valueExpr: String, table: String,
                      w: Int = 7, topK: Int = 5): String = {
    val lagCols = (0 until w).map(k =>
      s"LAG(total, $k) OVER (ORDER BY day) AS v$k").mkString(", ")
    val meanExpr = (0 until w).map(k => s"v$k").mkString(" + ")
    val varExpr = (0 until w).map(k => s"(v$k - m) * (v$k - m)")
      .mkString(" + ")
    val zCols = (0 until w).map(k => s"(v$k - m) / s AS z$k")
      .mkString(", ")
    val d2 = (0 until w).map(k => s"(a.z$k - b.z$k) * (a.z$k - b.z$k)")
      .mkString(" + ")
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        sub0 AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn,
            $lagCols FROM d0),
        sub1 AS MATERIALIZED (SELECT *, ($meanExpr) / $w AS m FROM sub0
          WHERE v${w - 1} IS NOT NULL),
        sub2 AS MATERIALIZED (SELECT *, SQRT(($varExpr) / $w) AS s FROM sub1),
        sub AS (SELECT day, rn, $zCols FROM sub2 WHERE s > 0)
        SELECT CAST(a.day AS TIMESTAMP) AS day_a,
          CAST(b.day AS TIMESTAMP) AS day_b,
          ROUND(SQRT($d2), 6) AS dist
        FROM sub a JOIN sub b ON b.rn >= a.rn + $w
        ORDER BY dist, day_a, day_b LIMIT $topK"""
  }

  /** DuckDB twin of [[gumbelReturnLevels]]. */
  def gumbelOracleSql(tsExpr: String, valueExpr: String, table: String,
                      blockDays: Int = 7,
                      returns: Seq[Int] = Seq(4, 13, 52)): String = {
    val rList = returns.mkString("[", ", ", "]")
    val sqrt6OverPi = math.sqrt(6.0) / math.Pi
    s"""WITH d0 AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        d AS (SELECT total,
            (ROW_NUMBER() OVER (ORDER BY day) - 1) // $blockDays AS blk
          FROM d0),
        blocks AS (SELECT blk, MAX(total) AS mx, COUNT(*) AS bn
          FROM d GROUP BY blk HAVING COUNT(*) = $blockDays),
        m AS (SELECT AVG(mx) AS mm, stddev_samp(mx) AS s FROM blocks),
        ts AS (SELECT UNNEST($rList) AS t)
        SELECT CAST(ts.t AS BIGINT) AS t_blocks,
          ROUND(mm - 0.5772156649015329 * (s * $sqrt6OverPi), 6) AS mu,
          ROUND(s * $sqrt6OverPi, 6) AS beta,
          ROUND((mm - 0.5772156649015329 * (s * $sqrt6OverPi))
            - (s * $sqrt6OverPi)
              * LN(-LN(1.0 - 1.0 / CAST(ts.t AS DOUBLE))), 6)
            AS return_level
        FROM m CROSS JOIN ts"""
  }

  /** DuckDB twin of [[ljungBox]]. */
  def ljungBoxOracleSql(tsExpr: String, valueExpr: String, table: String,
                        maxLag: Int = 7): String = {
    val lagCols = (1 to maxLag).map(k =>
      s"LAG(total, $k) OVER (ORDER BY day) AS x_$k").mkString(", ")
    val unions = (1 to maxLag).map(k =>
      s"SELECT $k AS lag, x, x_$k AS xk FROM l").mkString(
      "\n UNION ALL ")
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        m AS (SELECT AVG(total) AS mm, SUM(total * total) AS ss,
            COUNT(*) AS nn FROM d),
        l AS (SELECT total AS x, $lagCols FROM d),
        u AS ($unions),
        r AS (SELECT lag, COUNT(xk) AS n_pairs,
            SUM((x - mm) * (xk - mm)) / ANY_VALUE(ss - nn * mm * mm)
              AS r,
            ANY_VALUE(nn) AS nn
          FROM u, m GROUP BY lag)
        SELECT lag, n_pairs, ROUND(r, 6) AS acf,
          ROUND(CAST(nn AS DOUBLE) * (nn + 2) * SUM(r * r
            / (CAST(nn AS DOUBLE) - lag)) OVER (ORDER BY lag
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
            AS q_stat
        FROM r"""
  }

  /** DuckDB twin of [[pettitt]]. */
  def pettittOracleSql(tsExpr: String, valueExpr: String,
                       table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        byv AS (SELECT total, COUNT(*) AS c FROM d GROUP BY total),
        rk AS (SELECT total,
            CAST(SUM(c) OVER (ORDER BY total) - c AS DOUBLE)
              + (CAST(c AS DOUBLE) + 1) / 2 AS r FROM byv),
        nn AS (SELECT COUNT(*) AS n FROM d),
        u AS (SELECT d.day,
            SUM(2.0 * rk.r - (nn.n + 1)) OVER (ORDER BY d.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u,
            ROW_NUMBER() OVER (ORDER BY d.day) AS t, nn.n
          FROM d JOIN rk USING (total) CROSS JOIN nn),
        f AS (SELECT * FROM u WHERE t < n),
        k AS (SELECT ANY_VALUE(n) AS n, MAX(ABS(u)) AS k FROM f)
        SELECT CAST(k.n AS BIGINT) AS n, ROUND(k.k, 6) AS k_stat,
          CAST((SELECT MIN(day) FROM f WHERE ABS(f.u) = k.k)
            AS TIMESTAMP) AS change_day,
          ROUND(LEAST(1.0, 2.0 * EXP(-6.0 * k.k * k.k
            / (CAST(k.n AS DOUBLE) * k.n * k.n
              + CAST(k.n AS DOUBLE) * k.n))), 6) AS p_value
        FROM k"""

  /** DuckDB twin of [[grangerLag1]]. */
  def grangerLag1OracleSql(tsExpr: String, valueExpr: String,
                           table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            COUNT(*) AS n,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        l AS (SELECT total AS y,
            LAG(total, 1) OVER (ORDER BY day) AS u,
            LAG(CAST(n AS DOUBLE), 1) OVER (ORDER BY day) AS v
          FROM d),
        rows_ AS (SELECT * FROM l WHERE u IS NOT NULL
          AND v IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, AVG(y) AS my, AVG(u) AS mu,
            AVG(v) AS mv,
            SUM(y * y) AS syy0, SUM(u * u) AS suu0, SUM(v * v) AS svv0,
            SUM(y * u) AS syu0, SUM(y * v) AS syv0, SUM(u * v) AS suv0
          FROM rows_),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            syy0 - n * my * my AS syy, suu0 - n * mu * mu AS suu,
            svv0 - n * mv * mv AS svv, syu0 - n * my * mu AS syu,
            syv0 - n * my * mv AS syv, suv0 - n * mu * mv AS suv
          FROM g),
        s AS (SELECT n, nd, syy, suu, syu,
            (syu * svv - syv * suv) / (suu * svv - suv * suv) AS b1,
            (syv * suu - syu * suv) / (suu * svv - suv * suv) AS b2,
            syv FROM c)
        SELECT n, ROUND(b2, 6) AS beta_x,
          ROUND(CASE WHEN syy - b1 * syu - b2 * syv > 0 THEN
            ((syy - syu * syu / suu) - (syy - b1 * syu - b2 * syv))
              * (nd - 3) / (syy - b1 * syu - b2 * syv) END, 6)
            AS f_stat
        FROM s"""

  /** DuckDB twin of [[permutationEntropy]]. */
  def permutationEntropyOracleSql(tsExpr: String, valueExpr: String,
                                  table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        l AS (SELECT total AS x0,
            LEAD(total, 1) OVER (ORDER BY day) AS x1,
            LEAD(total, 2) OVER (ORDER BY day) AS x2
          FROM d),
        pt AS (SELECT
            CAST(CASE WHEN x1 > x0 THEN 1 ELSE 0 END AS VARCHAR)
            || CAST(CASE WHEN x2 > x0 THEN 1 ELSE 0 END AS VARCHAR)
            || CAST(CASE WHEN x2 > x1 THEN 1 ELSE 0 END AS VARCHAR)
              AS pattern
          FROM l WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
        c AS (SELECT pattern, COUNT(*) AS c FROM pt GROUP BY pattern),
        t AS (SELECT SUM(c) AS nw FROM c)
        SELECT CAST(t.nw AS BIGINT) AS n_windows,
          COUNT(*) AS n_patterns,
          ROUND(-SUM((CAST(c AS DOUBLE) / nw)
            * LN(CAST(c AS DOUBLE) / nw)) / LN(6.0), 6) AS pe
        FROM c CROSS JOIN t GROUP BY t.nw"""

  /** DuckDB twin of [[dickeyFuller]]. */
  def dickeyFullerOracleSql(tsExpr: String, valueExpr: String,
                            table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        l AS (SELECT total AS y,
            LAG(total, 1) OVER (ORDER BY day) AS y1 FROM d),
        rows_ AS (SELECT y - y1 AS dy, y1 FROM l
          WHERE y1 IS NOT NULL),
        g AS (SELECT COUNT(*) AS n, AVG(dy) AS md, AVG(y1) AS m1,
            SUM(dy * dy) AS sdd, SUM(y1 * y1) AS s11,
            SUM(dy * y1) AS sd1 FROM rows_),
        c AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            s11 - n * m1 * m1 AS sxx, sd1 - n * md * m1 AS sxy,
            sdd - n * md * md AS syy FROM g)
        SELECT n, ROUND(sxy / sxx, 6) AS gamma,
          ROUND(CASE WHEN syy - (sxy / sxx) * sxy > 0 THEN
            (sxy / sxx) / SQRT(((syy - (sxy / sxx) * sxy) / (nd - 2))
              / sxx) END, 6) AS t_stat
        FROM c"""

  /** DuckDB twin of [[engleGranger]]. */
  def engleGrangerOracleSql(tsExpr: String, valueExpr: String,
                            table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(COUNT(*) AS DOUBLE) AS x,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS y
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        ols AS (SELECT COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
            (SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
              / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)) AS b
          FROM d),
        r AS (SELECT d.day,
            d.y - (ols.my - ols.b * ols.mx) - ols.b * d.x AS e,
            ols.n, ols.b
          FROM d CROSS JOIN ols),
        l AS (SELECT n, b, e,
            LAG(e, 1) OVER (ORDER BY day) AS e1 FROM r),
        rows_ AS (SELECT n, b, e - e1 AS de, e1 FROM l
          WHERE e1 IS NOT NULL),
        g AS (SELECT ANY_VALUE(n) AS n, ANY_VALUE(b) AS b,
            COUNT(*) AS m, SUM(de * e1) AS sd1, SUM(e1 * e1) AS s11,
            SUM(de * de) AS sdd FROM rows_)
        SELECT CAST(n AS BIGINT) AS n, ROUND(b, 6) AS beta,
          ROUND(sd1 / s11, 6) AS gamma,
          ROUND(CASE WHEN sdd - (sd1 / s11) * sd1 > 0 THEN
            (sd1 / s11) / SQRT(((sdd - (sd1 / s11) * sd1)
              / (CAST(m AS DOUBLE) - 1)) / s11) END, 6) AS t_stat
        FROM g"""

  /** DuckDB twin of [[mannKendall]]. */
  def mannKendallOracleSql(tsExpr: String, valueExpr: String,
                           table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        p AS (SELECT SUM(SIGN(b.total - a.total)) AS s
          FROM d a JOIN d b ON a.day < b.day),
        t AS (SELECT SUM(c * (c - 1) * (2.0 * c + 5)) AS tt,
            SUM(c) AS n
          FROM (SELECT COUNT(*) AS c FROM d GROUP BY total)),
        v AS (SELECT p.s, t.n,
            (CAST(t.n AS DOUBLE) * (t.n - 1) * (2.0 * t.n + 5) - t.tt)
              / 18.0 AS vs
          FROM p CROSS JOIN t)
        SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s_stat,
          ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(vs)
            WHEN s < 0 THEN (s + 1) / SQRT(vs) ELSE 0.0 END, 6)
            AS z_stat
        FROM v"""

  /** DuckDB twin of [[tailDependence]]. */
  def tailDependenceOracleSql(tsExpr: String, valueExpr: String,
                              table: String,
                              q: Double = 0.8): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(COUNT(*) AS DOUBLE) AS x,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS y
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        thr AS (SELECT quantile_cont(x, $q) AS tx,
            quantile_cont(y, $q) AS ty FROM d)
        SELECT COUNT(*) AS n_days, $q AS q,
          CAST(SUM(CASE WHEN x > tx AND y > ty THEN 1 ELSE 0 END)
            AS BIGINT) AS n_joint,
          ROUND(SUM(CASE WHEN x > tx AND y > ty THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS joint_share,
          ROUND(SUM(CASE WHEN x > tx AND y > ty THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE) / ((1 - $q) * (1 - $q)), 6)
            AS lift
        FROM d CROSS JOIN thr"""

  /** DuckDB twin of [[pageHinkley]]. */
  def pageHinkleyOracleSql(tsExpr: String, valueExpr: String,
                           table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        xb AS (SELECT CAST(SUM(CAST(total AS DECIMAL(28,2)))
            AS DOUBLE) / COUNT(*) AS xb FROM d),
        m AS (SELECT day,
            SUM(total - xb) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
          FROM d CROSS JOIN xb),
        e AS (SELECT day,
            m - MIN(m) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inc,
            MAX(m) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m
              AS dec
          FROM m),
        p AS (SELECT COUNT(*) AS n_days, MAX(inc) AS pi, MAX(dec) AS pd,
            MAX(GREATEST(inc, dec)) AS pg FROM e)
        SELECT ANY_VALUE(n_days) AS n_days,
          ROUND(ANY_VALUE(pi), 6) AS ph_inc,
          ROUND(ANY_VALUE(pd), 6) AS ph_dec,
          CAST(MIN(CASE WHEN GREATEST(inc, dec) = pg THEN day END)
            AS VARCHAR) AS peak_day
        FROM e CROSS JOIN p"""

  /** DuckDB twin of [[pinballEval]]. */
  def pinballEvalOracleSql(tsExpr: String, valueExpr: String,
                           table: String, split: String,
                           qs: Seq[Int] = Seq(1, 5, 9)): String = {
    val qList = qs.mkString("[", ", ", "]")
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        train AS (SELECT yc,
            ROW_NUMBER() OVER (ORDER BY yc) AS r FROM d
          WHERE day < DATE '$split'),
        nt AS (SELECT COUNT(*) AS n FROM train),
        ks AS (SELECT UNNEST($qList) AS q),
        fc AS (SELECT ks.q, train.yc AS f
          FROM ks CROSS JOIN nt
          JOIN train ON train.r = (ks.q * nt.n + 9) // 10),
        test AS (SELECT yc FROM d WHERE day >= DATE '$split')
        SELECT CAST(fc.q AS DOUBLE) / 10 AS q,
          ROUND(CAST(ANY_VALUE(fc.f) AS DOUBLE) / 100, 6) AS forecast,
          COUNT(*) AS n_test,
          ROUND(CAST(SUM(CASE WHEN test.yc >= fc.f THEN
              fc.q * (test.yc - fc.f)
              ELSE (10 - fc.q) * (fc.f - test.yc) END) AS DOUBLE)
            / (COUNT(*) * 1000), 6) AS pinball
        FROM test CROSS JOIN fc
        GROUP BY fc.q ORDER BY q"""
  }

  /** DuckDB twin of [[varianceChangepoint]]. */
  def varianceChangepointOracleSql(tsExpr: String, valueExpr: String,
                                   table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        tot AS (SELECT COUNT(*) AS nd, SUM(yc) AS t,
            CAST(SUM(CAST(yc AS DECIMAL(14,0))
              * CAST(yc AS DECIMAL(14,0))) AS DOUBLE) AS ss FROM d),
        pre AS (SELECT day,
            COUNT(*) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i,
            SUM(yc) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
          FROM d),
        sc AS (SELECT day, i, lsum, nd, t, ss,
            CAST(lsum AS DOUBLE) * lsum / i
              + (CAST(t AS DOUBLE) - lsum)
                * (CAST(t AS DOUBLE) - lsum) / (nd - i) AS score
          FROM pre CROSS JOIN tot WHERE i < nd),
        mx AS (SELECT MAX(score) AS m FROM sc)
        SELECT CAST(nd AS BIGINT) AS n_days,
          CAST(day AS VARCHAR) AS split_day,
          ROUND(CAST(lsum AS DOUBLE) / i / 100.0, 6) AS mean_left,
          ROUND((CAST(t AS DOUBLE) - lsum) / (nd - i) / 100.0, 6)
            AS mean_right,
          ROUND(CASE WHEN ss - CAST(t AS DOUBLE) * t / nd > 0 THEN
            (score - CAST(t AS DOUBLE) * t / nd)
              / (ss - CAST(t AS DOUBLE) * t / nd) END, 6)
            AS var_explained
        FROM sc CROSS JOIN mx WHERE score = mx.m
        ORDER BY day LIMIT 1"""

  /** DuckDB twin of [[senSlopeByGroup]]. */
  def senSlopeByGroupOracleSql(groupExpr: String, tsExpr: String,
                               valueExpr: String,
                               table: String): String =
    s"""WITH d AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS y
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY g, day),
        dd AS (SELECT g, y,
            CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE)
              AS i FROM d),
        sl AS (SELECT a.g, (b.y - a.y) / (b.i - a.i) AS s
          FROM dd a JOIN dd b ON a.g = b.g AND b.i > a.i),
        rk AS (SELECT g, s,
            ROW_NUMBER() OVER (PARTITION BY g ORDER BY s) AS r,
            COUNT(*) OVER (PARTITION BY g) AS m FROM sl),
        med AS (SELECT g, MIN(s) AS med, ANY_VALUE(m) AS n_pairs
          FROM rk WHERE r * 2 = m OR r * 2 = m + 1 GROUP BY g),
        nd AS (SELECT g, COUNT(*) AS n_days FROM d GROUP BY g)
        SELECT med.g AS "group", nd.n_days,
          CAST(med.n_pairs AS BIGINT) AS n_pairs,
          ROUND(med.med, 6) AS sen_slope
        FROM med JOIN nd ON med.g = nd.g ORDER BY "group""""

  /** DuckDB twin of [[intervalCoverage]]. */
  def intervalCoverageOracleSql(tsExpr: String, valueExpr: String,
                                table: String, split: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS DOUBLE) AS y,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS yd
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        mo AS (SELECT COUNT(*) AS n, CAST(SUM(yd) AS DOUBLE) AS s1,
            CAST(SUM(yd * yd) AS DOUBLE) AS s2 FROM d
          WHERE day < DATE '$split'),
        mm AS (SELECT n, s1 / n AS mu,
            SQRT((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) AS sig
          FROM mo),
        ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        cov AS (SELECT ks.k, COUNT(*) AS n_test,
            CAST(SUM(CASE WHEN d.y >= mm.mu - ks.k * mm.sig
              AND d.y <= mm.mu + ks.k * mm.sig THEN 1 ELSE 0 END)
              AS BIGINT) AS n_within
          FROM d CROSS JOIN mm CROSS JOIN ks
          WHERE d.day >= DATE '$split' GROUP BY ks.k)
        SELECT k, n_test, n_within,
          ROUND(CAST(n_within AS DOUBLE) / n_test, 6) AS coverage,
          CASE k WHEN 1 THEN 0.682689 WHEN 2 THEN 0.954500
            ELSE 0.997300 END AS nominal
        FROM cov ORDER BY k"""

  /** DuckDB twin of [[turningPoints]]. */
  def turningPointsOracleSql(tsExpr: String, valueExpr: String,
                             table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        f AS (SELECT yc, LAG(yc) OVER (ORDER BY day) AS pv,
            LEAD(yc) OVER (ORDER BY day) AS nx FROM d),
        t AS (SELECT CAST(SUM(CASE WHEN (yc > pv AND yc > nx)
              OR (yc < pv AND yc < nx) THEN 1 ELSE 0 END) AS BIGINT)
              AS n_turning
          FROM f WHERE pv IS NOT NULL AND nx IS NOT NULL),
        nn AS (SELECT COUNT(*) AS n_days FROM d)
        SELECT CAST(n_days AS BIGINT) AS n_days, n_turning,
          ROUND(2.0 * (n_days - 2) / 3, 6) AS expected,
          ROUND(CASE WHEN (16.0 * n_days - 29) / 90 > 0 THEN
            (CAST(n_turning AS DOUBLE) - 2.0 * (n_days - 2) / 3)
              / SQRT((16.0 * n_days - 29) / 90) END, 6) AS z_stat
        FROM t CROSS JOIN nn"""

  /** DuckDB twin of [[vonNeumann]]. */
  def vonNeumannOracleSql(tsExpr: String, valueExpr: String,
                          table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        wd AS (SELECT yc, yc - LAG(yc) OVER (ORDER BY day) AS dd
          FROM d),
        g AS (SELECT COUNT(*) AS n,
            CAST(SUM(CAST(yc AS DECIMAL(14,0))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(yc AS DECIMAL(14,0))
              * CAST(yc AS DECIMAL(14,0))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(dd AS DECIMAL(14,0))
              * CAST(dd AS DECIMAL(14,0))) AS DOUBLE) AS sdd
          FROM wd),
        e AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            (sdd / (CAST(n AS DOUBLE) - 1))
              / ((syy - sy * sy / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1)) AS eta
          FROM g)
        SELECT CAST(n AS BIGINT) AS n_days, ROUND(eta, 6) AS vn_ratio,
          ROUND(CASE WHEN nd > 2 THEN (eta - 2)
            / SQRT(4.0 * (nd - 2) / (nd * nd - 1)) END, 6) AS z_stat
        FROM e"""

  /** DuckDB twin of [[seasonalMannKendall]]. */
  def seasonalMannKendallOracleSql(tsExpr: String, valueExpr: String,
                                   table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            dayofweek(CAST($tsExpr AS DATE)) + 1 AS szn,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY 1, 2),
        s AS (SELECT COALESCE(CAST(SUM(SIGN(CAST(b.yc - a.yc
            AS DOUBLE))) AS BIGINT), 0) AS s
          FROM d a JOIN d b ON a.szn = b.szn AND a.day < b.day),
        per AS (SELECT szn, SUM(t) AS ns,
            SUM(t * (t - 1) * (2 * t + 5)) AS tt
          FROM (SELECT szn, yc, COUNT(*) AS t FROM d
            GROUP BY szn, yc) GROUP BY szn),
        vt AS (SELECT CAST(SUM(ns) AS BIGINT) AS n_days,
            COUNT(*) AS n_seasons,
            SUM(ns * (ns - 1) * (2 * ns + 5) - tt) AS v18
          FROM per)
        SELECT n_days, CAST(n_seasons AS BIGINT) AS n_seasons,
          CAST(s AS BIGINT) AS s_stat,
          ROUND(CASE WHEN s > 0 AND CAST(v18 AS DOUBLE) / 18.0 > 0
              THEN CAST(s - 1 AS DOUBLE)
                / SQRT(CAST(v18 AS DOUBLE) / 18.0)
            WHEN s < 0 AND CAST(v18 AS DOUBLE) / 18.0 > 0
              THEN CAST(s + 1 AS DOUBLE)
                / SQRT(CAST(v18 AS DOUBLE) / 18.0)
            ELSE 0.0 END, 6) AS z_stat
        FROM vt CROSS JOIN s"""

  /** DuckDB twin of [[acfByGroup]]. */
  def acfByGroupOracleSql(groupExpr: String, tsExpr: String,
                          valueExpr: String, table: String,
                          maxLag: Int = 3): String = {
    val lagSels = (1 to maxLag).map(k =>
      s"""SELECT g, $k AS lag,
           CAST(SUM(CAST(ROUND(c * c_$k, 6) AS DECIMAL(38,6)))
             AS DOUBLE) AS num
         FROM lagged WHERE c_$k IS NOT NULL GROUP BY g""")
      .mkString("\n UNION ALL ")
    val lagCols = (1 to maxLag).map(k =>
      s"LAG(c, $k) OVER (PARTITION BY g ORDER BY day) AS c_$k")
      .mkString(", ")
    s"""WITH d AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              AS y
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY 1, 2),
        base AS (SELECT g, day, y,
            COUNT(*) OVER (PARTITION BY g) AS n,
            y - CAST(SUM(CAST(y AS DECIMAL(28,2)))
              OVER (PARTITION BY g) AS DOUBLE)
              / COUNT(*) OVER (PARTITION BY g) AS c
          FROM d),
        denom AS (SELECT g, ANY_VALUE(n) AS n_days,
            CAST(SUM(CAST(ROUND(c * c, 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS ss
          FROM base GROUP BY g),
        lagged AS (SELECT g, day, c, $lagCols FROM base),
        nums AS ($lagSels)
        SELECT nums.g AS "group", nums.lag,
          CAST(denom.n_days AS BIGINT) AS n_days,
          ROUND(nums.num / denom.ss, 6) AS acf
        FROM nums JOIN denom ON nums.g = denom.g
        ORDER BY "group", lag"""
  }

  /** DuckDB twin of [[streaks]]. */
  def streaksOracleSql(tsExpr: String, valueExpr: String,
                       table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(CAST(SUM(CAST($valueExpr AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        sgn AS (SELECT day,
            CASE WHEN yc > LAG(yc) OVER (ORDER BY day) THEN 1
              WHEN yc < LAG(yc) OVER (ORDER BY day) THEN -1
              ELSE 0 END AS dir
          FROM d),
        chg AS (SELECT day, dir,
            CASE WHEN LAG(dir) OVER (ORDER BY day) IS NULL
              OR LAG(dir) OVER (ORDER BY day) <> dir THEN 1 ELSE 0
              END AS ch
          FROM sgn),
        runs AS (SELECT day, dir,
            COUNT(*) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn,
            SUM(ch) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM chg),
        rl AS (SELECT grp, ANY_VALUE(dir) AS dir, COUNT(*) AS len,
            MAX(rn) AS lastrn
          FROM runs WHERE dir <> 0 GROUP BY grp),
        mx AS (SELECT MAX(rn) AS m FROM runs),
        nt AS (SELECT COUNT(*) AS n_days FROM d)
        SELECT CAST(nt.n_days AS BIGINT) AS n_days,
          CAST(COALESCE(SUM(CASE WHEN dir = 1 THEN len END), 0)
            AS BIGINT) AS n_up,
          CAST(COALESCE(SUM(CASE WHEN dir = -1 THEN len END), 0)
            AS BIGINT) AS n_down,
          CAST(COALESCE(MAX(CASE WHEN dir = 1 THEN len END), 0)
            AS BIGINT) AS longest_up,
          CAST(COALESCE(MAX(CASE WHEN dir = -1 THEN len END), 0)
            AS BIGINT) AS longest_down,
          CAST(COALESCE(MAX(CASE WHEN lastrn = mx.m
            THEN dir * len END), 0) AS BIGINT) AS current_streak
        FROM rl CROSS JOIN mx CROSS JOIN nt
        GROUP BY nt.n_days"""
}

/** DuckDB twins of [[graft.operators.Hierarchy]]. */
object HierarchyOracle {
  /** DuckDB twin of [[flatten]] via a recursive walk-up CTE; `edgeCte`
    * must yield (id, parent) with NULL parent for roots. */
  def flattenOracleSql(edgeCte: String): String =
    s"""WITH RECURSIVE t AS ($edgeCte),
        walk AS (
          SELECT id, id AS cur, 0 AS depth FROM t
          UNION ALL
          SELECT w.id, t.parent AS cur, w.depth + 1 AS depth
          FROM walk w JOIN t ON t.id = w.cur
          WHERE t.parent IS NOT NULL)
        SELECT id, CAST(cur AS BIGINT) AS root,
          CAST(MAX(depth) OVER (PARTITION BY id) AS BIGINT) AS depth
        FROM walk
        QUALIFY depth = MAX(depth) OVER (PARTITION BY id)"""
}

/** DuckDB twins of [[graft.operators.Intervals]]. */
object IntervalsOracle {
  /** DuckDB twin of [[coalesceIntervals]]; `ivCte` must yield
    * (key, s, e) numeric. */
  def coalesceIntervalsOracleSql(ivCte: String): String =
    s"""WITH iv0 AS ($ivCte),
        iv AS (SELECT key, CAST(s AS DOUBLE) AS s, CAST(e AS DOUBLE) AS e
          FROM iv0 WHERE s IS NOT NULL AND e IS NOT NULL AND e >= s),
        f AS (SELECT key, s, e,
            CASE WHEN MAX(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL OR s > MAX(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS newf
          FROM iv),
        isl AS (SELECT key, s, e,
            SUM(newf) OVER (PARTITION BY key ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM f),
        g AS (SELECT key, island, COUNT(*) AS n,
            MIN(s) AS lo, MAX(e) AS hi
          FROM isl GROUP BY key, island),
        gp AS (SELECT key, island, n, lo, hi,
            lo - LAG(hi) OVER (PARTITION BY key ORDER BY island) AS gap
          FROM g)
        SELECT key, CAST(SUM(n) AS BIGINT) AS n_intervals,
          COUNT(*) AS n_islands,
          ROUND(SUM(hi - lo), 6) AS covered_len,
          ROUND(MAX(hi - lo), 6) AS max_island_len,
          ROUND(MAX(gap), 6) AS max_gap_len
        FROM gp GROUP BY key"""

  /** DuckDB twin of [[backlogByMonth]] over orders/lineitem. */
  def backlogByMonthOracleSql(): String =
    s"""WITH last AS (SELECT l_orderkey,
            MAX(CAST(l_shipdate AS DATE)) AS l FROM lineitem
          GROUP BY l_orderkey),
        iv AS (SELECT
            CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
              AS s,
            CAST(CAST(date_trunc('month', l) AS DATE)
              + INTERVAL 1 MONTH AS DATE) AS e
          FROM orders JOIN last ON o_orderkey = l_orderkey),
        op AS (SELECT s AS month, COUNT(*) AS n_opened FROM iv
          GROUP BY s),
        cl AS (SELECT e AS month, COUNT(*) AS n_closed FROM iv
          GROUP BY e),
        mg AS (SELECT COALESCE(op.month, cl.month) AS month,
            COALESCE(n_opened, 0) AS n_opened,
            COALESCE(n_closed, 0) AS n_closed
          FROM op FULL OUTER JOIN cl ON op.month = cl.month)
        SELECT strftime(month, '%Y-%m-%d') AS month, n_opened, n_closed,
          CAST(SUM(n_opened - n_closed) OVER (ORDER BY month) AS BIGINT)
            AS open_orders
        FROM mg ORDER BY month"""
}

/** DuckDB twins of [[graft.operators.MarkovAttribution]]. */
object MarkovAttributionOracle {
  /** DuckDB oracle for [[removalEffect]]: the same journey truncation /
    * transition counting, with the T-step chain evolution UNROLLED as
    * chained CTEs (the q243 PageRank oracle pattern — DuckDB's
    * recursive CTEs disallow aggregation in the recursive term). */
  def removalEffectOracleSql(userCol: String, tsCol: String, typeCol: String,
                             idCol: String, convType: String,
                             steps: Int): String = {
    val rounds = (1 to steps).map { t =>
      s"""m$t AS MATERIALIZED (SELECT v.scenario, p.dst AS state, SUM(v.mass * p.p) AS mass
            FROM m${t - 1} v JOIN ps p
              ON v.scenario = p.scenario AND v.state = p.src
            GROUP BY 1, 2)"""
    }.mkString(",\n")
    s"""WITH fc AS (SELECT $userCol AS u, $tsCol AS fts, $idCol AS fid
          FROM events WHERE $typeCol = '$convType'
          QUALIFY row_number() OVER (PARTITION BY $userCol
            ORDER BY $tsCol, $idCol) = 1),
        trunc AS (SELECT e.$userCol AS u, e.$tsCol AS ts, e.$idCol AS eid,
            e.$typeCol AS et
          FROM events e LEFT JOIN fc ON e.$userCol = fc.u
          WHERE fc.u IS NULL OR (e.$tsCol, e.$idCol) <= (fc.fts, fc.fid)),
        seqd AS (SELECT u, et, row_number() OVER w AS rn,
            lead(et) OVER w AS nxt
          FROM trunc WINDOW w AS (PARTITION BY u ORDER BY ts, eid)),
        edges AS (
          SELECT '__START__' AS src, et AS dst FROM seqd WHERE rn = 1
          UNION ALL SELECT et, nxt FROM seqd WHERE nxt IS NOT NULL
          UNION ALL SELECT et,
            CASE WHEN et = '$convType' THEN '__CONV__' ELSE '__NULL__' END
          FROM seqd WHERE nxt IS NULL),
        counts AS (SELECT src,
            CASE WHEN dst = '$convType' THEN '__CONV__' ELSE dst END AS dst,
            COUNT(*) AS n
          FROM edges WHERE src <> '$convType' GROUP BY 1, 2),
        tot AS (SELECT src, SUM(n) AS t FROM counts GROUP BY src),
        p AS (SELECT c.src, c.dst, CAST(c.n AS DOUBLE) / t.t AS p
          FROM counts c JOIN tot t USING (src)),
        ch AS (SELECT DISTINCT src AS channel FROM counts
          WHERE src <> '__START__'),
        scen AS (SELECT '__base__' AS scenario
          UNION ALL SELECT 'rm_' || channel FROM ch),
        ps AS MATERIALIZED (SELECT scenario, src, dst, SUM(p) AS p FROM (
            SELECT s.scenario, p.src,
              CASE WHEN s.scenario <> '__base__'
                AND p.dst = substr(s.scenario, 4)
                THEN '__NULL__' ELSE p.dst END AS dst, p.p
            FROM scen s CROSS JOIN p
            UNION ALL
            SELECT s.scenario, a.st, a.st, 1.0
            FROM scen s CROSS JOIN (VALUES ('__CONV__'), ('__NULL__')) a(st)
          ) GROUP BY 1, 2, 3),
        m0 AS (SELECT scenario, '__START__' AS state, 1.0 AS mass FROM scen),
        $rounds,
        cv AS (SELECT scenario, mass FROM m$steps WHERE state = '__CONV__'),
        bs AS (SELECT mass AS bc FROM cv WHERE scenario = '__base__'),
        eff AS (SELECT substr(scenario, 4) AS channel, bc, mass AS rc,
            1 - mass / bc AS effect
          FROM cv, bs WHERE scenario <> '__base__'),
        te AS (SELECT SUM(effect) AS te FROM eff)
        SELECT channel, ROUND(bc, 6) AS base_conv,
          ROUND(rc, 6) AS removal_conv, ROUND(effect, 6) AS removal_effect,
          ROUND(effect / te.te, 6) AS attribution_share
        FROM eff, te ORDER BY channel"""
  }
}

/** DuckDB twins of [[graft.operators.Reporting]]. */
object ReportingOracle {
  /** DuckDB twin of [[decileMigration]]. */
  def decileMigrationOracleSql(userCol: String, tsCol: String,
                               valueCol: String, table: String,
                               buckets: Int = 10): String = {
    val ps = (1 until buckets).map(_.toDouble / buckets)
      .mkString("[", ", ", "]")
    def bucketSql(c: String, es: String) =
      (0 until buckets - 1).map(i =>
        s"CASE WHEN $c > ROUND($es[${i + 1}], 6) THEN 1 ELSE 0 END")
        .mkString(" + ")
    s"""WITH ev AS (SELECT $userCol AS u, epoch_us($tsCol) AS t,
            $valueCol AS v FROM $table WHERE $valueCol IS NOT NULL),
        md AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM ev),
        sp AS (SELECT u, t <= md.mid AS p1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s
          FROM ev CROSS JOIN md GROUP BY u, t <= md.mid),
        bp AS (SELECT u,
            SUM(CASE WHEN p1 THEN s END) AS s1,
            SUM(CASE WHEN NOT p1 THEN s END) AS s2
          FROM sp GROUP BY u HAVING COUNT(*) = 2),
        q1 AS (SELECT quantile_cont(s1, $ps) AS e FROM bp),
        q2 AS (SELECT quantile_cont(s2, $ps) AS e FROM bp),
        cells AS (SELECT
            ${bucketSql("s1", "q1.e")} AS d1,
            ${bucketSql("s2", "q2.e")} AS d2,
            COUNT(*) AS n_users
          FROM bp CROSS JOIN q1 CROSS JOIN q2 GROUP BY 1, 2),
        rt AS (SELECT d1, SUM(n_users) AS r FROM cells GROUP BY d1)
        SELECT CAST(cells.d1 AS BIGINT) AS d1,
          CAST(cells.d2 AS BIGINT) AS d2,
          CAST(n_users AS BIGINT) AS n_users,
          ROUND(CAST(n_users AS DOUBLE) / rt.r, 6) AS share_of_d1
        FROM cells JOIN rt ON cells.d1 = rt.d1
        ORDER BY d1, d2"""
  }

  /** DuckDB twin of [[priceIndex]]; columns are inlined. */
  def priceIndexOracleSql(dateCol: String, itemCol: String,
                          revenueCol: String, qtyCol: String,
                          table: String): String =
    s"""WITH pm AS (SELECT date_trunc('month', $dateCol) AS month,
            $itemCol AS it,
            CAST(SUM(CAST($revenueCol AS DECIMAL(18,2))) AS DOUBLE)
              / CAST(SUM(CAST($qtyCol AS DECIMAL(18,2))) AS DOUBLE) AS p,
            CAST(SUM(CAST($qtyCol AS DECIMAL(18,2))) AS DOUBLE) AS q
          FROM $table
          WHERE $revenueCol IS NOT NULL AND $qtyCol IS NOT NULL
          GROUP BY 1, 2
          HAVING SUM(CAST($qtyCol AS DECIMAL(18,2))) > 0),
        m0 AS (SELECT MIN(month) AS m0 FROM pm),
        base AS (SELECT it, p AS p0, q AS q0 FROM pm CROSS JOIN m0
          WHERE pm.month = m0.m0)
        SELECT CAST(pm.month AS TIMESTAMP) AS month,
          COUNT(*) AS n_matched,
          ROUND(SUM(pm.p * base.q0) / SUM(base.p0 * base.q0), 6)
            AS laspeyres,
          ROUND(SUM(pm.p * pm.q) / SUM(base.p0 * pm.q), 6) AS paasche,
          ROUND(SQRT((SUM(pm.p * base.q0) / SUM(base.p0 * base.q0))
            * (SUM(pm.p * pm.q) / SUM(base.p0 * pm.q))), 6) AS fisher
        FROM pm JOIN base USING (it)
        GROUP BY pm.month ORDER BY pm.month"""

  /** DuckDB twin of [[shapleyAttribution]]. The coalition machinery is
    * re-derived in SQL with the SAME exact factorial literals; channel
    * indexes come from the same alphabetic ordering. `maxC` bounds the
    * unrolled popcount/factorial ladders (12 matches the operator). */
  def shapleyAttributionOracleSql(userCol: String, tsCol: String,
                                  typeCol: String, convType: String,
                                  table: String, maxC: Int = 12): String = {
    val fact = (1 to 12).scanLeft(1.0)((a, k) => a * k)
    val factCase = (k: String) => (0 to 12).map(i =>
      s"WHEN $k = $i THEN ${fact(i)}").mkString("CASE ", " ", " END")
    val popS = (0 until maxC).map(b => s"((v.S >> $b) & 1)").mkString(" + ")
    s"""WITH ch AS (SELECT $typeCol AS channel,
            CAST(ROW_NUMBER() OVER (ORDER BY $typeCol) - 1 AS BIGINT) AS i
          FROM (SELECT DISTINCT $typeCol FROM $table
            WHERE $typeCol != '$convType')),
        cc AS (SELECT COUNT(*) AS c FROM ch),
        fc AS (SELECT $userCol AS u, MIN($tsCol) AS tc FROM $table
          WHERE $typeCol = '$convType' GROUP BY $userCol),
        j AS (SELECT e.$userCol AS u,
            CAST(BIT_OR(1 << ch.i) AS BIGINT) AS mask,
            MAX(CASE WHEN fc.tc IS NOT NULL THEN 1 ELSE 0 END) AS conv
          FROM $table e
          JOIN ch ON e.$typeCol = ch.channel
          LEFT JOIN fc ON e.$userCol = fc.u
          WHERE fc.tc IS NULL OR e.$tsCol < fc.tc
          GROUP BY e.$userCol),
        mc AS (SELECT mask, SUM(conv) AS nc FROM j GROUP BY mask),
        co AS (SELECT CAST(UNNEST(range(0, (1 << (SELECT c FROM cc))))
            AS BIGINT) AS S),
        v AS (SELECT co.S, COALESCE(SUM(mc.nc), 0) AS v
          FROM co LEFT JOIN mc ON (mc.mask & co.S) = mc.mask
          GROUP BY co.S),
        t AS (SELECT ch.channel,
            (${factCase(s"($popS)")})
              * (${factCase(s"((SELECT c FROM cc) - 1 - ($popS))")})
              / (${factCase("(SELECT c FROM cc)")})
              * (v2.v - v.v) AS term
          FROM v JOIN ch ON ((v.S >> ch.i) & 1) = 0
          JOIN v v2 ON v2.S = (v.S | (1 << ch.i))),
        sh AS (SELECT channel, SUM(term) AS s FROM t GROUP BY channel),
        tot AS (SELECT SUM(s) AS tot FROM sh)
        SELECT channel, ROUND(s, 6) AS shapley,
          ROUND(CASE WHEN tot > 0 THEN s / tot END, 6) AS share
        FROM sh CROSS JOIN tot ORDER BY channel"""
  }

  /** DuckDB twin of [[positionAttribution]]; uses the events table. */
  def positionAttributionOracleSql(conversionType: String,
                                   touchTypes: Seq[String],
                                   lookbackDays: Int = 30): String = {
    val touchList = touchTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH conv AS (SELECT user_id AS u, event_id AS cid,
            epoch_us(ts) AS cts
          FROM events WHERE event_type = '$conversionType'),
        touch AS (SELECT user_id AS u, event_type AS t,
            epoch_us(ts) AS tts
          FROM events WHERE event_type IN ($touchList)),
        paired AS (SELECT conv.cid, touch.t, touch.tts
          FROM conv JOIN touch ON conv.u = touch.u
          WHERE touch.tts < conv.cts
            AND touch.tts >= conv.cts
              - CAST($lookbackDays AS BIGINT) * 86400000000),
        ranked AS (SELECT cid, t,
            ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tts, t) AS rn,
            COUNT(*) OVER (PARTITION BY cid) AS k
          FROM paired),
        credited AS (SELECT t, cid,
            CAST(CASE WHEN k = 1 THEN 1.0
              WHEN rn = 1 OR rn = k THEN
                (CASE WHEN k = 2 THEN 0.5 ELSE 0.4 END)
              ELSE 0.2 / CAST(k - 2 AS DOUBLE) END
              AS DECIMAL(28,18)) AS credit
          FROM ranked),
        untouched AS (SELECT '(none)' AS t, conv.cid,
            CAST(1.0 AS DECIMAL(28,18)) AS credit
          FROM conv WHERE cid NOT IN (SELECT cid FROM paired)),
        allc AS (SELECT * FROM credited
          UNION ALL SELECT * FROM untouched)
        SELECT t AS touch_type,
          ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credits,
          CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_conversions
        FROM allc GROUP BY t ORDER BY touch_type"""
  }

  /** DuckDB twin of [[hourlyProfile]]. */
  def hourlyProfileOracleSql(tsExpr: String, table: String): String =
    s"""WITH cells AS (SELECT dayofweek($tsExpr) + 1 AS dow,
            hour($tsExpr) AS hour, COUNT(*) AS n
          FROM $table GROUP BY 1, 2),
        tot AS (SELECT SUM(n) AS t FROM cells)
        SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour, n,
          ROUND(CAST(n AS DOUBLE) / t, 6) AS share
        FROM cells CROSS JOIN tot ORDER BY dow, hour"""

  /** DuckDB twin of [[weekendLift]]. */
  def weekendLiftOracleSql(tsExpr: String, valueExpr: String,
                           table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            SUM(CAST($valueExpr AS DECIMAL(18,2))) AS t
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        w AS (SELECT t, (dayofweek(day) + 1 IN (1, 7)) AS we FROM d),
        g AS (SELECT
            CAST(SUM(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS nw,
            CAST(SUM(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
              AS nd,
            CAST(SUM(CASE WHEN we THEN t END) AS DOUBLE) AS sw,
            CAST(SUM(CASE WHEN NOT we THEN t END) AS DOUBLE) AS sd,
            CAST(SUM(CASE WHEN we THEN t * t END) AS DOUBLE) AS qw,
            CAST(SUM(CASE WHEN NOT we THEN t * t END) AS DOUBLE) AS qd
          FROM w),
        c AS (SELECT nw, nd, sw / nw AS mw, sd / nd AS md,
            (qw - nw * (sw / nw) * (sw / nw)) / (nw - 1) AS vw,
            (qd - nd * (sd / nd) * (sd / nd)) / (nd - 1) AS vd
          FROM g)
        SELECT nw AS n_weekend, nd AS n_weekday,
          ROUND(mw, 6) AS mean_weekend, ROUND(md, 6) AS mean_weekday,
          ROUND(mw / md, 6) AS lift,
          ROUND((mw - md) / SQRT(vw / nw + vd / nd), 6) AS t_stat
        FROM c"""

  /** DuckDB twin of [[newRepeatRevenue]] over the orders table. */
  def newRepeatRevenueOracleSql(custExpr: String, tsExpr: String,
                                valExpr: String, table: String): String =
    s"""WITH base AS (SELECT $custExpr AS cust,
            CAST(date_trunc('month', CAST($tsExpr AS DATE)) AS DATE) AS m,
            CAST($valExpr AS DECIMAL(18, 2)) AS v
          FROM $table),
        f AS (SELECT cust, MIN(m) AS fm FROM base GROUP BY cust),
        g AS (SELECT m,
            ROUND(COALESCE(CAST(SUM(CASE WHEN m = fm THEN v END)
              AS DOUBLE), 0.0), 2) AS revenue_new,
            ROUND(COALESCE(CAST(SUM(CASE WHEN m > fm THEN v END)
              AS DOUBLE), 0.0), 2) AS revenue_repeat,
            COUNT(DISTINCT CASE WHEN m = fm THEN cust END)
              AS n_new_customers,
            COUNT(DISTINCT CASE WHEN m > fm THEN cust END)
              AS n_repeat_customers
          FROM base JOIN f USING (cust) GROUP BY m)
        SELECT strftime(m, '%Y-%m-%d') AS month, revenue_new,
          revenue_repeat, n_new_customers, n_repeat_customers,
          ROUND(revenue_new / (revenue_new + revenue_repeat), 6)
            AS new_revenue_share
        FROM g ORDER BY month"""

  /** DuckDB twin of [[leadTimeProfile]] over orders/lineitem. */
  def leadTimeProfileOracleSql(): String =
    s"""WITH last AS (SELECT l_orderkey,
            MAX(CAST(l_shipdate AS DATE)) AS l FROM lineitem
          GROUP BY l_orderkey),
        leads AS (SELECT o_orderpriority AS priority,
            CAST(date_diff('day', CAST(o_orderdate AS DATE), l)
              AS BIGINT) AS lead
          FROM orders JOIN last ON o_orderkey = l_orderkey),
        cells AS (SELECT priority, lead, COUNT(*) AS c
          FROM leads GROUP BY priority, lead),
        cum AS (SELECT priority, lead, c,
            SUM(c) OVER (PARTITION BY priority ORDER BY lead) AS cm,
            SUM(c) OVER (PARTITION BY priority) AS n,
            SUM(lead * c) OVER (PARTITION BY priority) AS days
          FROM cells)
        SELECT priority, CAST(ANY_VALUE(n) AS BIGINT) AS n_orders,
          ROUND(CAST(ANY_VALUE(days) AS DOUBLE) / ANY_VALUE(n), 4)
            AS mean_days,
          CAST(MIN(CASE WHEN cm * 2 >= n THEN lead END) AS BIGINT)
            AS p50_days,
          CAST(MIN(CASE WHEN cm * 10 >= n * 9 THEN lead END) AS BIGINT)
            AS p90_days,
          CAST(MIN(CASE WHEN cm * 100 >= n * 99 THEN lead END)
            AS BIGINT) AS p99_days
        FROM cum GROUP BY priority ORDER BY priority"""

  /** DuckDB twin of [[marginals]]. */
  def marginalsOracleSql(dim1: String, dim2: String, valExpr: String,
                         table: String): String =
    s"""SELECT GROUPING($dim1) * 2 + GROUPING($dim2) AS lvl,
          COALESCE($dim1, 'ALL') AS $dim1,
          COALESCE($dim2, 'ALL') AS $dim2,
          COUNT(*) AS n,
          CAST(SUM(CAST($valExpr AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM $table
        GROUP BY GROUPING SETS (($dim1), ($dim2), ())
        ORDER BY lvl, $dim1, $dim2"""
}

/** DuckDB twins of [[graft.operators.SnapshotDiff]]. */
object SnapshotDiffOracle {
  /** DuckDB twin of [[diff]]; the CTEs must yield
    * (doc_id, text, source). */
  def diffOracleSql(oldCte: String, newCte: String): String =
    s"""WITH old0 AS (SELECT doc_id, md5(text) AS h,
            CAST(length(text) AS BIGINT) AS c, source FROM ($oldCte)),
        new0 AS (SELECT doc_id, md5(text) AS h,
            CAST(length(text) AS BIGINT) AS c, source FROM ($newCte)),
        j AS (SELECT COALESCE(n.source, o.source) AS source,
            CASE WHEN o.h IS NULL THEN 'added'
                 WHEN n.h IS NULL THEN 'removed'
                 WHEN o.h != n.h THEN 'changed'
                 ELSE 'unchanged' END AS status,
            COALESCE(o.c, 0) AS c_o, COALESCE(n.c, 0) AS c_n
          FROM old0 o FULL OUTER JOIN new0 n ON o.doc_id = n.doc_id)
        SELECT source, status, COUNT(*) AS n_docs,
          CAST(SUM(c_o) AS BIGINT) AS chars_old,
          CAST(SUM(c_n) AS BIGINT) AS chars_new
        FROM j GROUP BY source, status ORDER BY source, status"""

  /** DuckDB twin of [[incrementalStats]]. */
  def incrementalStatsOracleSql(oldCte: String, newCte: String): String =
    s"""WITH old0 AS (SELECT doc_id, md5(text) AS h,
            CAST(length(text) AS BIGINT) AS c, source FROM ($oldCte)),
        new0 AS (SELECT doc_id, md5(text) AS h,
            CAST(length(text) AS BIGINT) AS c, source FROM ($newCte)),
        olds AS (SELECT source, COUNT(*) AS n_old,
            CAST(SUM(c) AS BIGINT) AS ch_old FROM old0 GROUP BY source),
        delta AS (SELECT COALESCE(n.source, o.source) AS source,
            CAST(SUM(CASE WHEN o.h IS NULL THEN 1
              WHEN n.h IS NULL THEN -1 ELSE 0 END) AS BIGINT) AS dn,
            CAST(SUM(COALESCE(n.c, 0) - COALESCE(o.c, 0)) AS BIGINT)
              AS dc
          FROM old0 o FULL OUTER JOIN new0 n ON o.doc_id = n.doc_id
          GROUP BY COALESCE(n.source, o.source)),
        direct AS (SELECT source, COUNT(*) AS n_direct,
            CAST(SUM(c) AS BIGINT) AS chars_direct
          FROM new0 GROUP BY source)
        SELECT COALESCE(d.source, s.source, dl.source) AS source,
          COALESCE(d.n_direct, 0) AS n_direct,
          COALESCE(s.n_old, 0) + COALESCE(dl.dn, 0) AS n_merged,
          COALESCE(d.chars_direct, 0) AS chars_direct,
          COALESCE(s.ch_old, 0) + COALESCE(dl.dc, 0) AS chars_merged,
          COALESCE(d.n_direct, 0) = COALESCE(s.n_old, 0)
              + COALESCE(dl.dn, 0)
            AND COALESCE(d.chars_direct, 0) = COALESCE(s.ch_old, 0)
              + COALESCE(dl.dc, 0) AS consistent
        FROM direct d
        FULL OUTER JOIN olds s ON d.source = s.source
        FULL OUTER JOIN delta dl
          ON COALESCE(d.source, s.source) = dl.source
        ORDER BY source"""

  /** DuckDB twin of [[changedSimilarity]]. */
  def changedSimilarityOracleSql(oldCte: String, newCte: String): String =
    s"""WITH old0 AS (SELECT doc_id, md5(text) AS h,
            list_distinct(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS w FROM ($oldCte)),
        new0 AS (SELECT doc_id, source, md5(text) AS h,
            list_distinct(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS w FROM ($newCte)),
        ch AS (SELECT n.source,
            (1000000 * CAST(len(list_intersect(o.w, n.w)) AS BIGINT))
              // NULLIF(CAST(len(list_distinct(list_concat(o.w, n.w)))
                AS BIGINT), 0) AS j
          FROM old0 o JOIN new0 n ON o.doc_id = n.doc_id
          WHERE o.h != n.h)
        SELECT source, COUNT(*) AS n_changed,
          CAST(SUM(j) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm
        FROM ch GROUP BY source ORDER BY source"""
}

/** DuckDB twins of [[graft.operators.TimeWeighted]]. */
object TimeWeightedOracle {
  /** DuckDB twin of [[timeWeightedAvg]] — the flat single-window
    * formulation (per-key lead), algebraically identical. */
  def timeWeightedAvgOracleSql(keyExpr: String, tsExpr: String,
                               ordExpr: String, valExpr: String,
                               table: String): String =
    s"""WITH e AS (SELECT $keyExpr AS k, epoch_us($tsExpr) AS t,
            CAST($valExpr AS DOUBLE) AS v, $ordExpr AS o
          FROM $table WHERE $valExpr IS NOT NULL),
        w AS (SELECT k, t, v,
            lead(t) OVER (PARTITION BY k ORDER BY t, o) AS tn
          FROM e)
        SELECT k AS $keyExpr, COUNT(*) AS n_events,
          CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us,
          ROUND(SUM(v * (tn - t)) / CAST(MAX(t) - MIN(t) AS DOUBLE), 6)
            AS twa,
          ROUND(AVG(v), 6) AS mean_value
        FROM w GROUP BY k ORDER BY k"""
}
