package graft.oracle

// DuckDB twins of the graft.eda operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.eda.Agreement]]. */
object AgreementOracle {
  /** DuckDB twin of [[krippendorffAlpha]]; `srcCte` yields (u, c). */
  def krippendorffAlphaOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT u, CAST(c AS VARCHAR) AS c FROM ($srcCte)
          WHERE u IS NOT NULL AND c IS NOT NULL),
        cells AS (SELECT u, c, COUNT(*) AS nuc FROM base GROUP BY u, c),
        units AS (SELECT u, SUM(nuc) AS mu FROM cells GROUP BY u),
        nu AS (SELECT COUNT(*) AS n_units FROM units),
        pair AS (SELECT cells.u, cells.c, cells.nuc, units.mu
          FROM cells JOIN units USING (u) WHERE units.mu >= 2),
        dn AS (SELECT COUNT(DISTINCT u) AS n_pairable,
            CAST(SUM(CAST(ROUND(CAST(nuc AS DOUBLE) * (mu - nuc)
              / (mu - 1), 9) AS DECIMAL(28,9))) AS DOUBLE) AS do_num
          FROM pair),
        marg AS (SELECT c, SUM(nuc) AS nc FROM pair GROUP BY c),
        tot AS (SELECT COUNT(*) AS n_values,
            CAST(SUM(nc) AS BIGINT) AS n_ratings,
            CAST(SUM(nc * nc) AS BIGINT) AS sq FROM marg)
        SELECT CAST(nu.n_units AS BIGINT) AS n_units,
          CAST(dn.n_pairable AS BIGINT) AS n_pairable,
          tot.n_ratings, tot.n_values,
          ROUND(dn.do_num / tot.n_ratings, 6) AS d_o,
          ROUND(CAST(tot.n_ratings * tot.n_ratings - tot.sq AS DOUBLE)
            / (CAST(tot.n_ratings AS DOUBLE) * (tot.n_ratings - 1)), 6)
            AS d_e,
          ROUND(1.0 - (dn.do_num / tot.n_ratings)
            / (CAST(tot.n_ratings * tot.n_ratings - tot.sq AS DOUBLE)
              / (CAST(tot.n_ratings AS DOUBLE)
                * (tot.n_ratings - 1))), 6) AS alpha
        FROM dn CROSS JOIN tot CROSS JOIN nu"""
}

/** DuckDB twins of [[graft.eda.Association]]. */
object AssociationOracle {
  /** DuckDB twin of [[miMatrix]] over `table`; `cols` must be
    * string/integer columns. */
  def miMatrixOracleSql(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val unions = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS ca, '$b' AS cb, CAST($a AS VARCHAR) AS va,
           CAST($b AS VARCHAR) AS vb FROM $table
         WHERE $a IS NOT NULL AND $b IS NOT NULL"""
    }.mkString("\n UNION ALL ")
    s"""WITH stacked AS ($unions),
        cells AS (SELECT ca, cb, va, vb, COUNT(*) AS n
          FROM stacked GROUP BY ca, cb, va, vb),
        ma AS (SELECT ca, cb, va, SUM(n) AS na FROM cells
          GROUP BY ca, cb, va),
        mb AS (SELECT ca, cb, vb, SUM(n) AS nb FROM cells
          GROUP BY ca, cb, vb),
        nt AS (SELECT ca, cb, SUM(n) AS ntot FROM cells
          GROUP BY ca, cb),
        terms AS (SELECT cells.ca, cells.cb, nt.ntot,
            CAST(ROUND((CAST(cells.n AS DOUBLE)
                / CAST(nt.ntot AS DOUBLE))
              * LN((CAST(cells.n AS DOUBLE)
                  * CAST(nt.ntot AS DOUBLE))
                / (CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE))), 12)
              AS DECIMAL(20,12)) AS t
          FROM cells
          JOIN ma ON ma.ca = cells.ca AND ma.cb = cells.cb
            AND ma.va = cells.va
          JOIN mb ON mb.ca = cells.ca AND mb.cb = cells.cb
            AND mb.vb = cells.vb
          JOIN nt ON nt.ca = cells.ca AND nt.cb = cells.cb)
        SELECT ca AS col_a, cb AS col_b,
          CAST(ANY_VALUE(ntot) AS BIGINT) AS n,
          ROUND(CAST(SUM(t) AS DOUBLE), 6) AS mi
        FROM terms GROUP BY ca, cb ORDER BY col_a, col_b"""
  }
}

/** DuckDB twins of [[graft.eda.Concentration]]. */
object ConcentrationOracle {
  /** DuckDB mirror of [[concentration]]: `rowsCte` must yield
    * (grp, x). */
  def concentrationOracleSql(rowsCte: String, topFrac: Double): String =
    s"""WITH rows0 AS ($rowsCte),
        ranked AS (SELECT grp, CAST(x AS DOUBLE) AS x,
            CAST(CAST(x AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xc,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x ASC) AS i,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x DESC) AS ri,
            COUNT(*) OVER (PARTITION BY grp) AS ng
          FROM rows0 WHERE x IS NOT NULL),
        agg0 AS (SELECT grp, COUNT(*) AS n, SUM(x) AS sx,
            SUM(xc) AS sxc, SUM(i * x) AS siw, SUM(x * x) AS sxx,
            SUM(CASE WHEN ri <= CEIL(ng * $topFrac)
              THEN x ELSE 0.0 END) AS stop
          FROM ranked GROUP BY grp)
        SELECT grp AS "group", n,
          ROUND(${LatticeOracle.duckPortableDouble("sxc")} / 100.0,
            2) AS total,
          CASE WHEN sx != 0 THEN ROUND(
            2.0 * siw / (n * sx) - (n + 1.0) / n, 6) END AS gini,
          CASE WHEN sx != 0 THEN
            ROUND(sxx / (sx * sx), 6) END AS hhi,
          CASE WHEN sx != 0 THEN
            ROUND(stop / sx, 6) END AS top_share
        FROM agg0"""

  /** DuckDB mirror of [[theilDecomposition]]; `rowsCte` must yield
    * (grp, x). */
  def theilDecompositionOracleSql(rowsCte: String): String =
    s"""WITH rows0 AS ($rowsCte),
        g AS (SELECT grp, COUNT(*) AS n,
            SUM(CAST(x AS DECIMAL(18,2))) AS s,
            SUM(CAST(x AS DOUBLE) * LN(CAST(x AS DOUBLE))) AS l
          FROM rows0 WHERE x IS NOT NULL AND x > 0 GROUP BY grp),
        tot AS (SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(l) AS ll FROM g),
        sc AS (SELECT grp, n,
            CAST(s AS DOUBLE) / n AS mug,
            CAST(ss AS DOUBLE) / nn AS mu,
            CAST(s AS DOUBLE) / CAST(ss AS DOUBLE) AS share,
            l / CAST(s AS DOUBLE) - LN(CAST(s AS DOUBLE) / n) AS tg,
            ll / CAST(ss AS DOUBLE) - LN(CAST(ss AS DOUBLE) / nn) AS ttot
          FROM g CROSS JOIN tot),
        parts AS (SELECT SUM(share * tg) AS w,
            SUM(share * LN(mug / mu)) AS b
          FROM sc)
        SELECT grp, n, ROUND(mug, 6) AS mean,
          ROUND(share, 6) AS mass_share,
          ROUND(share * tg, 6) AS within_term,
          ROUND(share * LN(mug / mu), 6) AS between_term,
          ROUND(tg, 6) AS theil_group,
          ROUND(ttot, 6) AS theil_total,
          ROUND(w, 6) AS theil_within,
          ROUND(b, 6) AS theil_between
        FROM sc CROSS JOIN parts"""

  /** DuckDB twin of [[hillTailIndex]]; `srcCte` must yield (v). */
  def hillTailIndexOracleSql(srcCte: String, k: Int = 100): String =
    s"""WITH pos AS (SELECT CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
            AND v > 0),
        top AS (SELECT v FROM pos ORDER BY v DESC LIMIT ${k + 1}),
        th AS (SELECT MIN(v) AS xk1 FROM top),
        s AS (SELECT SUM(LN(v / xk1)) AS s FROM top CROSS JOIN th
          WHERE v > xk1)
        SELECT (SELECT COUNT(*) FROM pos) AS n,
          CAST($k AS BIGINT) AS k,
          ROUND(th.xk1, 6) AS x_k1,
          ROUND(CASE WHEN s.s > 0 THEN $k.0 / s.s END, 6) AS hill_alpha
        FROM th CROSS JOIN s"""

  /** DuckDB twin of [[atkinson]]; `srcCte` must yield (grp, v). */
  def atkinsonOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp AS "group",
            CAST(CAST(v AS DOUBLE) AS DECIMAL(18,2)) AS v,
            CAST(ROUND(LN(CAST(v AS DOUBLE)), 6) AS DECIMAL(28,6))
              AS lg
          FROM src WHERE v IS NOT NULL AND CAST(v AS DOUBLE) > 0),
        g AS (SELECT "group", COUNT(*) AS n,
            CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m,
            CAST(SUM(lg) AS DOUBLE) / COUNT(*) AS ml
          FROM base GROUP BY "group")
        SELECT "group", n, ROUND(m, 6) AS mean,
          ROUND(1.0 - EXP(ml) / m, 6) AS atkinson
        FROM g ORDER BY "group""""

  /** DuckDB twin of [[lorenzDeciles]]; `srcCte` must yield (grp, v).
    */
  def lorenzDecilesOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT grp AS g, CAST(v AS DOUBLE) AS v
          FROM ($srcCte) WHERE v IS NOT NULL
            AND CAST(v AS DOUBLE) >= 0),
        ed AS (SELECT g, quantile_cont(v,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
          FROM src GROUP BY g),
        bk AS (SELECT src.g,
            len(list_filter(ed.e, x -> src.v > x)) + 1 AS decile,
            CAST(src.v AS DECIMAL(18,2)) AS d
          FROM src JOIN ed ON src.g = ed.g),
        cells AS (SELECT g, decile, COUNT(*) AS n, SUM(d) AS s
          FROM bk GROUP BY g, decile)
        SELECT g AS "group", CAST(decile AS INT) AS decile, n,
          ROUND(CAST(SUM(s) OVER (PARTITION BY g ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
            / CAST(SUM(s) OVER (PARTITION BY g) AS DOUBLE), 6)
            AS cum_share
        FROM cells ORDER BY "group", decile"""

  /** DuckDB twin of [[giniMeanDifference]]; `srcCte` yields (g, v). */
  def giniMeanDifferenceOracleSql(srcCte: String): String =
    s"""WITH cells AS (SELECT g,
            CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
            COUNT(*) AS c
          FROM ($srcCte) WHERE v IS NOT NULL GROUP BY g, 2),
        pre AS (SELECT g, vc, c,
            COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY vc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cumn,
            COALESCE(SUM(CAST(c AS DECIMAL(12,0))
                * CAST(vc AS DECIMAL(12,0)))
              OVER (PARTITION BY g ORDER BY vc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              CAST(0 AS DECIMAL(25,0))) AS cums
          FROM cells),
        a AS (SELECT g, SUM(c) AS n,
            CAST(SUM(CAST(c AS DECIMAL(12,0))
              * CAST(vc AS DECIMAL(12,0))) AS DOUBLE) AS tot,
            CAST(SUM(CAST(c AS DECIMAL(12,0))
              * (CAST(vc AS DECIMAL(12,0))
                 * CAST(cumn AS DECIMAL(12,0))
                 - CAST(cums AS DECIMAL(25,0)))) AS DOUBLE) AS ps
          FROM pre GROUP BY g HAVING SUM(c) > 1)
        SELECT g AS "group", CAST(n AS BIGINT) AS n,
          ROUND(tot / CAST(n AS DOUBLE) / 100.0, 6) AS mean,
          ROUND(2.0 * ps / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
            / 100.0, 6) AS gmd,
          ROUND(CASE WHEN tot / CAST(n AS DOUBLE) / 100.0 <> 0.0 THEN
            (2.0 * ps / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
              / 100.0)
            / (2.0 * (tot / CAST(n AS DOUBLE) / 100.0)) END, 6) AS gini
        FROM a ORDER BY "group""""
}

/** DuckDB twins of [[graft.eda.Copula]]. */
object CopulaOracle {
  /** DuckDB twin of [[copulaGrid]]. */
  def copulaGridOracleSql(xExpr: String, yExpr: String,
                          table: String): String =
    s"""WITH base AS (SELECT CAST($xExpr AS DOUBLE) AS x,
            CAST($yExpr AS DOUBLE) AS y
          FROM $table
          WHERE $xExpr IS NOT NULL AND NOT isnan(CAST($xExpr AS DOUBLE))
            AND $yExpr IS NOT NULL
            AND NOT isnan(CAST($yExpr AS DOUBLE))),
        r AS (SELECT
            RANK() OVER (ORDER BY x)
              + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS ru,
            RANK() OVER (ORDER BY y)
              + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS rv,
            COUNT(*) OVER () AS nt
          FROM base),
        cells AS (SELECT
            (CAST(2 * ru AS BIGINT) - 1) * 10 // (2 * nt) AS u_decile,
            (CAST(2 * rv AS BIGINT) - 1) * 10 // (2 * nt) AS v_decile,
            nt
          FROM r)
        SELECT u_decile, v_decile, COUNT(*) AS n,
          ROUND(COUNT(*) * 100.0 / MAX(nt), 6) AS density_ratio
        FROM cells GROUP BY u_decile, v_decile
        ORDER BY u_decile, v_decile"""
}

/** DuckDB twins of [[graft.eda.DataAudit]]. */
object DataAuditOracle {
  /** DuckDB twin of [[fdAudit]] over `table`. */
  def fdAuditOracleSql(table: String,
                       pairs: Seq[(String, String)]): String = {
    val unions = pairs.map { case (d, p) =>
      s"""SELECT '$d' AS det, '$p' AS dep, CAST($d AS VARCHAR) AS dv,
           CAST($p AS VARCHAR) AS pv FROM $table"""
    }.mkString("\n UNION ALL ")
    s"""WITH stacked AS ($unions),
        g AS (SELECT det, dep, dv, COUNT(DISTINCT pv) AS nd
          FROM stacked GROUP BY det, dep, dv)
        SELECT det AS determinant, dep AS dependent,
          COUNT(*) AS n_groups,
          CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating,
          ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate
        FROM g GROUP BY det, dep ORDER BY determinant, dependent"""
  }

  /** DuckDB twin of [[keyCandidates]] over `table`. */
  def keyCandidatesOracleSql(table: String,
                             cols: Seq[String]): String = {
    val unions = cols.map(c =>
      s"SELECT '$c' AS c, CAST($c AS VARCHAR) AS v FROM $table")
      .mkString("\n UNION ALL ")
    s"""WITH stacked AS ($unions),
        g AS (SELECT c, v, COUNT(*) AS n FROM stacked GROUP BY c, v)
        SELECT c AS "column", CAST(SUM(n) AS BIGINT) AS n_rows,
          CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_distinct,
          CAST(SUM(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT)
            AS n_null,
          ROUND(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
            / CAST(SUM(n) - SUM(CASE WHEN v IS NULL THEN n ELSE 0 END)
              AS DOUBLE), 6) AS uniqueness,
          (SUM(CASE WHEN v IS NULL THEN n ELSE 0 END) = 0
            AND SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
              = SUM(n)) AS is_unique_key
        FROM g GROUP BY c ORDER BY "column""""
  }

  /** DuckDB twin of [[herfindahl]]; `srcCte` yields (grp, ent, v). */
  def herfindahlOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        ent AS (SELECT grp, ent,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS t
          FROM src WHERE v IS NOT NULL AND CAST(v AS DOUBLE) > 0
          GROUP BY grp, ent),
        tot AS (SELECT grp, CAST(SUM(CAST(t AS DECIMAL(28,2)))
            AS DOUBLE) AS g FROM ent GROUP BY grp)
        SELECT ent.grp AS "group", COUNT(*) AS n_entities,
          ROUND(CAST(SUM(CAST(ROUND(ent.t / tot.g, 9)
            AS DECIMAL(10,9)) * CAST(ROUND(ent.t / tot.g, 9)
            AS DECIMAL(10,9))) AS DOUBLE), 6) AS hhi
        FROM ent JOIN tot USING (grp)
        GROUP BY ent.grp ORDER BY "group""""

  /** DuckDB twin of [[consistencyAudit]]. */
  def consistencyAuditOracleSql(tol: Double = 1e-6): String =
    s"""WITH rec AS (SELECT l_orderkey AS k,
            CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount)
              * (1.0 + l_tax), 2) AS DECIMAL(18,2))) AS DOUBLE) AS r
          FROM lineitem GROUP BY l_orderkey),
        j AS (SELECT ABS(rec.r - CAST(o.o_totalprice AS DOUBLE))
            / CAST(o.o_totalprice AS DOUBLE) AS rel
          FROM orders o JOIN rec ON o.o_orderkey = rec.k)
        SELECT COUNT(*) AS n_orders,
          CAST(SUM(CASE WHEN rel > $tol THEN 1 ELSE 0 END) AS BIGINT)
            AS n_mismatch,
          ROUND(MAX(rel), 6) AS max_rel_diff,
          ROUND(CAST(SUM(CAST(ROUND(rel, 9) AS DECIMAL(28,9)))
            AS DOUBLE) / COUNT(*), 6) AS mean_rel_diff
        FROM j"""

  /** DuckDB twin of [[neymanAllocation]]; `srcCte` yields (s, v). */
  def neymanAllocationOracleSql(srcCte: String, budget: Long): String =
    s"""WITH src AS ($srcCte),
        per AS (SELECT s AS stratum, COUNT(*) AS n_pop,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE v IS NOT NULL GROUP BY s
          HAVING COUNT(*) > 1),
        ws AS (SELECT stratum, n_pop,
            SQRT((s2 - CAST(n_pop AS DOUBLE) * (s1 / n_pop)
              * (s1 / n_pop)) / (CAST(n_pop AS DOUBLE) - 1)) AS sig
          FROM per),
        w2 AS (SELECT stratum, n_pop, sig,
            CAST(n_pop AS DOUBLE) * sig AS w FROM ws),
        tot AS (SELECT SUM(w) AS tw, SUM(n_pop) AS tn FROM w2)
        SELECT stratum, n_pop, ROUND(sig, 6) AS sigma,
          ROUND(w / tw, 6) AS share_neyman,
          CAST(FLOOR($budget.0 * w / tw) AS BIGINT) AS n_neyman,
          ROUND(CAST(n_pop AS DOUBLE) / tn, 6) AS share_prop
        FROM w2 CROSS JOIN tot ORDER BY stratum"""

  /** DuckDB twin of [[deterministicSample]]; `srcCte` yields (g, id).
    */
  def deterministicSampleOracleSql(srcCte: String, k: Int): String =
    s"""WITH src AS ($srcCte),
        r AS (SELECT g AS "group", id,
            ROW_NUMBER() OVER (PARTITION BY g
              ORDER BY md5(CAST(id AS VARCHAR)), id) AS sample_rank
          FROM src)
        SELECT * FROM r WHERE sample_rank <= $k
        ORDER BY "group", sample_rank"""

  /** DuckDB twin of [[topkChurn]]; `aCte`/`bCte` yield (e, v). */
  def topkChurnOracleSql(aCte: String, bCte: String, k: Int): String =
    s"""WITH ta AS (SELECT e FROM (SELECT e,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS t
          FROM ($aCte) GROUP BY e)
          ORDER BY t DESC, e LIMIT $k),
        tb AS (SELECT e FROM (SELECT e,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS t
          FROM ($bCte) GROUP BY e)
          ORDER BY t DESC, e LIMIT $k),
        i AS (SELECT COUNT(*) AS nov FROM ta JOIN tb USING (e))
        SELECT $k AS k, CAST(nov AS BIGINT) AS n_overlap,
          ROUND(CAST(nov AS DOUBLE) / (2 * $k - nov), 6) AS jaccard
        FROM i"""

  /** DuckDB twin of [[missingnessPattern]] over `table`. */
  def missingnessPatternOracleSql(table: String,
                                  cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val unions = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS ca, '$b' AS cb,
           CASE WHEN $a IS NULL THEN 1 ELSE 0 END AS ma,
           CASE WHEN $b IS NULL THEN 1 ELSE 0 END AS mb FROM $table"""
    }.mkString("\n UNION ALL ")
    s"""WITH stacked AS ($unions),
        g AS (SELECT ca AS col_a, cb AS col_b, COUNT(*) AS n,
            CAST(SUM(ma * mb) AS BIGINT) AS bothn,
            CAST(SUM(ma * (1 - mb)) AS BIGINT) AS onlya,
            CAST(SUM((1 - ma) * mb) AS BIGINT) AS onlyb
          FROM stacked GROUP BY ca, cb)
        SELECT col_a, col_b, n, bothn AS n_both_null,
          onlya AS n_only_a, onlyb AS n_only_b,
          ROUND(CAST(bothn * n - (bothn + onlya) * (bothn + onlyb)
              AS DOUBLE)
            / SQRT(CAST((bothn + onlya) * (n - bothn - onlya)
                AS DOUBLE)
              * CAST((bothn + onlyb) * (n - bothn - onlyb)
                AS DOUBLE)), 6) AS phi
        FROM g ORDER BY col_a, col_b"""
  }
}

/** DuckDB twins of [[graft.eda.Integrity]]. */
object IntegrityOracle {
  /** DuckDB twin of ONE [[fkAudit]] edge; compose edges with UNION ALL
    * (matching the Spark side's union of per-edge frames). */
  def fkAuditOracleSql(childTable: String, childKey: String,
                       parentTable: String, parentKey: String,
                       edge: String): String =
    s"""SELECT '$edge' AS edge,
          CAST(SUM(c) AS BIGINT) AS n_rows,
          CAST(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) AS BIGINT)
            AS n_null_rows,
          CAST(SUM(CASE WHEN k IS NOT NULL AND pk IS NULL THEN c
            ELSE 0 END) AS BIGINT) AS n_orphan_rows,
          CAST(SUM(CASE WHEN k IS NOT NULL AND pk IS NULL THEN 1
            ELSE 0 END) AS BIGINT) AS n_orphan_keys,
          ROUND(CAST(SUM(CASE WHEN k IS NOT NULL AND pk IS NULL THEN c
              ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN k IS NOT NULL THEN c ELSE 0 END), 6)
            AS orphan_rate
        FROM (SELECT $childKey AS k, COUNT(*) AS c FROM $childTable
              GROUP BY $childKey) ck
        LEFT JOIN (SELECT DISTINCT $parentKey AS pk FROM $parentTable) pp
          ON ck.k = pp.pk"""

  /** DuckDB twin of [[reconcileOrderTotals]] (`tolUnits` = tolerance
    * in 1e-6-dollar lattice units, i.e. tolUsd * 1e6). */
  def reconcileOrderTotalsOracleSql(tolUnits: Long = 10000L): String =
    s"""WITH per AS (SELECT l_orderkey,
            CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
              * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT)
              AS recon
          FROM lineitem GROUP BY l_orderkey),
        j AS (SELECT o_orderstatus, recon,
            ABS(recon - CAST(ROUND(o_totalprice * 100) AS BIGINT)
              * 10000) AS ad
          FROM orders LEFT JOIN per ON o_orderkey = l_orderkey)
        SELECT o_orderstatus, COUNT(*) AS n_orders,
          CAST(SUM(CASE WHEN recon IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_no_lines,
          CAST(SUM(CASE WHEN ad > $tolUnits THEN 1 ELSE 0 END) AS BIGINT)
            AS n_mismatch,
          ROUND(CAST(SUM(ad) AS DOUBLE) / COUNT(ad) / 1000000.0, 4)
            AS mean_abs_diff_usd,
          ROUND(CAST(MAX(ad) AS DOUBLE) / 1000000.0, 4)
            AS max_abs_diff_usd
        FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus"""
}

/** DuckDB twins of [[graft.eda.MultipleTesting]]. */
object MultipleTestingOracle {
  /** DuckDB twin of [[pairwiseTestsHolm]]; `srcCte` yields (g, v). */
  def pairwiseTestsHolmOracleSql(srcCte: String,
                                 alpha: Double = 0.05): String =
    s"""WITH base AS (SELECT g, CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        stats AS (SELECT g, COUNT(*) AS n, AVG(v) AS m,
            VAR_SAMP(v) AS va FROM base GROUP BY g),
        mm AS (SELECT COUNT(*) * (COUNT(*) - 1) / 2 AS m FROM stats),
        pairs AS (SELECT a.g AS group_a, b.g AS group_b,
            (a.m - b.m) / SQRT(a.va / a.n + b.va / b.n) AS z
          FROM stats a JOIN stats b ON a.g < b.g),
        wp0 AS (SELECT group_a, group_b, z,
            1.0 / (1.0 + 0.2316419 * ABS(z)) AS kk FROM pairs),
        withp AS (SELECT group_a, group_b, ROUND(z, 6) AS z_stat,
            ROUND(2.0 * (0.3989422804014327 *
              EXP(-0.5 * ABS(z) * ABS(z)) *
              (kk * (0.319381530 + kk * (-0.356563782 +
                kk * (1.781477937 + kk * (-1.821255978 +
                  kk * 1.330274429)))))), 6) AS p_value
          FROM wp0),
        ranked AS (SELECT *, ROW_NUMBER() OVER
            (ORDER BY p_value, group_a, group_b) AS holm_rank
          FROM withp WHERE p_value IS NOT NULL),
        adj AS (SELECT ranked.*, ROUND(LEAST(1.0,
            MAX(CAST(mm.m - holm_rank + 1 AS DOUBLE) * p_value)
              OVER (ORDER BY holm_rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
            AS p_holm
          FROM ranked CROSS JOIN mm)
        SELECT group_a, group_b, z_stat, p_value,
          CAST(holm_rank AS INT) AS holm_rank, p_holm,
          (p_holm <= $alpha) AS significant
        FROM adj ORDER BY holm_rank"""
}

/** DuckDB twins of [[graft.eda.OutlierScores]]. */
object OutlierScoresOracle {
  /** DuckDB twin of [[hbosTopK]]; `longCte` must yield (id, f, v)
    * already exploded/filtered like the operator's long frame. */
  def hbosOracleSql(longCte: String, bins: Int, k: Int): String =
    s"""WITH long AS ($longCte),
        bounds AS (SELECT f, MIN(v) AS lo, MAX(v) AS hi,
            COUNT(*) AS nf
          FROM long GROUP BY f),
        binned AS (SELECT long.id, long.f,
            CASE WHEN hi > lo THEN
              LEAST($bins - 1, CAST(FLOOR((v - lo) / (hi - lo) * $bins)
                AS BIGINT))
            ELSE 0 END AS bin
          FROM long JOIN bounds ON long.f = bounds.f),
        hist AS (SELECT f, bin, COUNT(*) AS cnt, ANY_VALUE(nf) AS nf
          FROM (SELECT binned.*, bounds.nf FROM binned
            JOIN bounds ON binned.f = bounds.f)
          GROUP BY f, bin),
        sc AS (SELECT id,
            ROUND(SUM(LN(CAST(nf AS DOUBLE) / cnt)), 6) AS hbos_score
          FROM binned JOIN hist ON binned.f = hist.f
            AND binned.bin = hist.bin
          GROUP BY id)
        SELECT id, hbos_score FROM sc
        ORDER BY hbos_score DESC, id LIMIT $k"""
}

/** DuckDB twins of [[graft.eda.ProcessControl]]. */
object ProcessControlOracle {
  /** DuckDB twin of [[shewhartI]]. */
  def shewhartIOracleSql(tsExpr: String, valueExpr: String,
                         table: String): String =
    s"""WITH d AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(SUM(CAST($valueExpr AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*) AS m
          FROM $table WHERE $valueExpr IS NOT NULL GROUP BY day),
        mr AS (SELECT day, m,
            ABS(m - LAG(m, 1) OVER (ORDER BY day)) AS mrv FROM d),
        st AS (SELECT COUNT(*) AS n_days,
            CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(28,6))) AS DOUBLE)
              / COUNT(m) AS center,
            CAST(SUM(CAST(ROUND(mrv, 6) AS DECIMAL(28,6))) AS DOUBLE)
              / COUNT(mrv) / 1.128 AS sigma
          FROM mr),
        sides AS (SELECT m, mrv, center, sigma, n_days,
            CASE WHEN COUNT(*) OVER (ORDER BY day
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) = 9 THEN
              SUM(SIGN(m - center)) OVER (ORDER BY day
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) END AS s9
          FROM mr CROSS JOIN st)
        SELECT ANY_VALUE(n_days) AS n_days,
          ROUND(ANY_VALUE(center), 6) AS center,
          ROUND(ANY_VALUE(sigma), 6) AS sigma_hat,
          CAST(SUM(CASE WHEN ABS(m - center) > 3.0 * sigma
            THEN 1 ELSE 0 END) AS BIGINT) AS n_rule1,
          CAST(SUM(CASE WHEN ABS(s9) = 9 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rule2
        FROM sides"""

  /** DuckDB twin of [[capability]]; `srcCte` must yield (grp, v). */
  def capabilityOracleSql(srcCte: String, lsl: Double,
                          usl: Double): String =
    s"""WITH src AS ($srcCte),
        gi AS (SELECT grp AS "group", COUNT(*) AS n,
            SUM(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s1i,
            SUM(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT)
              * CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s2i
          FROM src WHERE v IS NOT NULL GROUP BY grp),
        g AS (SELECT "group", n,
            ${LatticeOracle.duckPortableDouble("s1i")} / 100.0 AS s1,
            ${LatticeOracle.duckPortableDouble("s2i")} / 10000.0 AS s2
          FROM gi),
        c AS (SELECT "group", n, CAST(n AS DOUBLE) AS nd,
            s1 / CAST(n AS DOUBLE) AS mu,
            SQRT((s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1))
              AS sig
          FROM g WHERE n > 1)
        SELECT "group", n, ROUND(mu, 6) AS mean, ROUND(sig, 6) AS sigma,
          ROUND(CASE WHEN sig > 0 THEN ($usl - $lsl) / (6.0 * sig)
            END, 6) AS cp,
          ROUND(CASE WHEN sig > 0 THEN
            LEAST($usl - mu, mu - $lsl) / (3.0 * sig) END, 6) AS cpk
        FROM c ORDER BY "group""""

  /** DuckDB twin of [[grubbs]]; `srcCte` must yield (grp, v). */
  def grubbsOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp AS g, CAST(v AS DOUBLE) AS v,
            CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xd
          FROM src WHERE v IS NOT NULL),
        moi AS (SELECT g, COUNT(*) AS n, SUM(xd) AS s1i,
            SUM(xd * xd) AS s2i
          FROM base GROUP BY g HAVING COUNT(*) > 2),
        mo AS (SELECT g, n,
            ${LatticeOracle.duckPortableDouble("s1i")} / 100.0 AS s1,
            ${LatticeOracle.duckPortableDouble("s2i")} / 10000.0 AS s2
          FROM moi),
        m2 AS (SELECT g, n, s1 / CAST(n AS DOUBLE) AS mu,
            SQRT((s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1))
              AS sig
          FROM mo),
        dev AS (SELECT base.g, m2.n, m2.sig, base.v,
            ABS(base.v - m2.mu) AS d
          FROM base JOIN m2 USING (g)),
        mx AS (SELECT g, MAX(d) AS dm FROM dev GROUP BY g)
        SELECT dev.g AS "group", ANY_VALUE(dev.n) AS n,
          ROUND(CASE WHEN ANY_VALUE(dev.sig) > 0 THEN
            ANY_VALUE(mx.dm) / ANY_VALUE(dev.sig) END, 6) AS g_stat,
          MIN(CASE WHEN dev.d = mx.dm THEN dev.v END) AS extreme_value
        FROM dev JOIN mx USING (g)
        GROUP BY dev.g ORDER BY dev.g"""
}

/** DuckDB twins of [[graft.eda.Quality]]. */
object QualityOracle {
  /** DuckDB twin of [[sliceScan]]; `unitsCte` yields (a, b, v). */
  def sliceScanOracleSql(unitsCte: String, minN: Long,
                         topK: Int): String =
    s"""WITH base AS (SELECT CAST(a AS VARCHAR) AS a,
            CAST(b AS VARCHAR) AS b, CAST(v AS DOUBLE) AS v
          FROM ($unitsCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        cells AS (SELECT a, b, COUNT(*) AS n, AVG(v) AS m
          FROM base GROUP BY a, b HAVING COUNT(*) >= $minN),
        g AS (SELECT AVG(v) AS gm, stddev_pop(v) AS gs FROM base)
        SELECT a AS slice_a, b AS slice_b, CAST(n AS BIGINT) AS n,
          ROUND(m, 6) AS mean,
          ROUND(CASE WHEN gs > 0 THEN
            (m - gm) * SQRT(CAST(n AS DOUBLE)) / gs END, 6) AS z
        FROM cells CROSS JOIN g
        ORDER BY ABS(z) DESC, slice_a, slice_b LIMIT $topK"""

  /** DuckDB twin of [[psiTimeline]]. */
  def psiTimelineOracleSql(tsExpr: String, valueExpr: String,
                           table: String, binWidth: Double,
                           baselineDays: Int = 7): String =
    s"""WITH ev AS (SELECT CAST($tsExpr AS DATE) AS day,
            CAST(FLOOR(CAST($valueExpr AS DOUBLE) / $binWidth)
              AS BIGINT) AS b
          FROM $table WHERE $valueExpr IS NOT NULL),
        cut AS (SELECT MIN(day) + $baselineDays AS c FROM ev),
        base AS (SELECT b, COUNT(*) AS cb FROM ev CROSS JOIN cut
          WHERE day < cut.c GROUP BY b),
        bt AS (SELECT SUM(cb) AS nb FROM base),
        dc AS (SELECT day, b, COUNT(*) AS cd FROM ev CROSS JOIN cut
          WHERE day >= cut.c GROUP BY day, b),
        dt AS (SELECT day, SUM(cd) AS nd FROM dc GROUP BY day),
        bins AS (SELECT dt.day, base.b FROM dt CROSS JOIN base
          UNION SELECT day, b FROM dc),
        cells AS (SELECT bins.day, bins.b,
            COALESCE(dc.cd, 0) AS cd, COALESCE(base.cb, 0) AS cb
          FROM bins
          LEFT JOIN dc ON dc.day = bins.day AND dc.b = bins.b
          LEFT JOIN base ON base.b = bins.b),
        ku AS (SELECT day, COUNT(*) AS k FROM cells GROUP BY day),
        terms AS (SELECT cells.day, dt.nd,
            CAST(ROUND((
              (cd + 1) / CAST(dt.nd + ku.k AS DOUBLE)
              - (cb + 1) / CAST(bt.nb + ku.k AS DOUBLE))
              * LN(((cd + 1) / CAST(dt.nd + ku.k AS DOUBLE))
                / ((cb + 1) / CAST(bt.nb + ku.k AS DOUBLE))), 12)
              AS DECIMAL(20,12)) AS term
          FROM cells
          JOIN dt ON dt.day = cells.day
          JOIN ku ON ku.day = cells.day
          CROSS JOIN bt)
        SELECT CAST(day AS VARCHAR) AS day,
          CAST(ANY_VALUE(nd) AS BIGINT) AS n,
          ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
        FROM terms GROUP BY day ORDER BY day"""
}

/** DuckDB twins of [[graft.eda.RankTests]]. */
object RankTestsOracle {
  /** DuckDB twin of [[brunnerMunzel]]. `a`/`b` must be SQL string
    * literals' content (quoted here). */
  def brunnerMunzelOracleSql(groupExpr: String, valueExpr: String,
                             table: String, a: String,
                             b: String): String =
    s"""WITH base AS (SELECT $groupExpr AS g,
            CAST($valueExpr AS DOUBLE) AS v
          FROM $table WHERE $groupExpr IN ('$a', '$b')
            AND $valueExpr IS NOT NULL
            AND NOT isnan(CAST($valueExpr AS DOUBLE))),
        r AS (SELECT g,
            RANK() OVER (ORDER BY v)
              + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS rc,
            RANK() OVER (PARTITION BY g ORDER BY v)
              + (COUNT(*) OVER (PARTITION BY g, v) - 1) / 2.0 AS rw
          FROM base),
        s AS (SELECT g, COUNT(*) AS n, AVG(rc) AS mc,
            VAR_SAMP(rc - rw) AS s FROM r GROUP BY g),
        p AS (SELECT
            MAX(CASE WHEN g = '$a' THEN n END) AS nx,
            MAX(CASE WHEN g = '$b' THEN n END) AS ny,
            MAX(CASE WHEN g = '$a' THEN mc END) AS mcx,
            MAX(CASE WHEN g = '$b' THEN mc END) AS mcy,
            MAX(CASE WHEN g = '$a' THEN s END) AS sx,
            MAX(CASE WHEN g = '$b' THEN s END) AS sy
          FROM s),
        w AS (SELECT nx, ny, mcx, mcy, sx, sy,
            nx * ny * (mcy - mcx)
              / ((nx + ny) * SQRT(nx * sx + ny * sy)) AS wst
          FROM p),
        k AS (SELECT *,
            1.0 / (1.0 + 0.2316419 * ABS(wst)) AS kk FROM w)
        SELECT CAST(nx AS BIGINT) AS n_x, CAST(ny AS BIGINT) AS n_y,
          ROUND((mcy - (ny + 1) / 2.0) / nx, 6) AS p_hat,
          ROUND(wst, 6) AS w_stat,
          ROUND(POW(nx * sx + ny * sy, 2)
            / (POW(nx * sx, 2) / (nx - 1)
               + POW(ny * sy, 2) / (ny - 1)), 4) AS df_sat,
          ROUND(2.0 * (0.3989422804014327
            * EXP(-0.5 * ABS(wst) * ABS(wst))
            * (kk * (0.319381530 + kk * (-0.356563782
              + kk * (1.781477937 + kk * (-1.821255978
                + kk * 1.330274429)))))), 6) AS p_value
        FROM k"""

  /** DuckDB twin of [[cucconi]]. */
  def cucconiOracleSql(groupExpr: String, valueExpr: String,
                       table: String, a: String, b: String): String =
    s"""WITH base AS (SELECT $groupExpr AS g,
            CAST($valueExpr AS DOUBLE) AS v
          FROM $table WHERE $groupExpr IN ('$a', '$b')
            AND $valueExpr IS NOT NULL
            AND NOT isnan(CAST($valueExpr AS DOUBLE))),
        r AS (SELECT g,
            RANK() OVER (ORDER BY v)
              + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS rc
          FROM base),
        s AS (SELECT
            CAST(SUM(CASE WHEN g = '$a' THEN 1 ELSE 0 END) AS BIGINT)
              AS n1,
            CAST(SUM(CASE WHEN g = '$b' THEN 1 ELSE 0 END) AS BIGINT)
              AS n2,
            SUM(CASE WHEN g = '$b' THEN rc END) AS sr,
            SUM(CASE WHEN g = '$b' THEN rc * rc END) AS sr2,
            COUNT(*) AS nn
          FROM r),
        f AS (SELECT n1, n2, nn,
            (6.0 * sr2 - n2 * (nn + 1) * (2.0 * nn + 1))
              / SQRT(n1 * n2 * (nn + 1) * (2.0 * nn + 1)
                     * (8.0 * nn + 11) / 5.0) AS u,
            (6.0 * (n2 * (nn + 1) * (nn + 1) - 2.0 * (nn + 1) * sr
                    + sr2)
               - n2 * (nn + 1) * (2.0 * nn + 1))
              / SQRT(n1 * n2 * (nn + 1) * (2.0 * nn + 1)
                     * (8.0 * nn + 11) / 5.0) AS v,
            2.0 * (nn * nn - 4)
              / ((2.0 * nn + 1) * (8.0 * nn + 11)) - 1 AS rho
          FROM s),
        c AS (SELECT n1, n2, u, v,
            (u * u + v * v - 2.0 * rho * u * v)
              / (2.0 * (1.0 - rho * rho)) AS cst
          FROM f)
        SELECT n1 AS n_x, n2 AS n_y, ROUND(u, 6) AS u_stat,
          ROUND(v, 6) AS v_stat, ROUND(cst, 6) AS c_stat,
          ROUND(EXP(-cst), 6) AS p_value
        FROM c"""
}

/** DuckDB twins of [[graft.eda.Robust]]. */
object RobustOracle {
  /** DuckDB twin of [[weightedQuantiles]]; `srcCte` must yield
    * (grp, v, w). */
  def weightedQuantilesOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        byv AS (SELECT grp, CAST(v AS DOUBLE) AS v,
            SUM(CAST(w AS DECIMAL(18,2))) AS w
          FROM src WHERE v IS NOT NULL AND w > 0 GROUP BY 1, 2),
        c AS (SELECT grp, v, w,
            SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cw,
            SUM(w) OVER (PARTITION BY grp) AS tw
          FROM byv)
        SELECT grp, CAST(MAX(tw) AS DOUBLE) AS total_w,
          MIN(CASE WHEN cw * 4 >= tw THEN v END) AS w_p25,
          MIN(CASE WHEN cw * 2 >= tw THEN v END) AS w_median,
          MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS w_p75
        FROM c GROUP BY grp"""

  /** DuckDB twin of [[medianCi]] — same rank math, same cum-count
    * order statistics. */
  def medianCiOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
        rk AS (SELECT n,
            GREATEST(1, CAST(FLOOR((n - 1.959964 * SQRT(CAST(n AS
              DOUBLE))) / 2.0) AS BIGINT)) AS j,
            LEAST(n, CAST(CEIL(1.0 + (n + 1.959964 * SQRT(CAST(n AS
              DOUBLE))) / 2.0) AS BIGINT)) AS k,
            (n + 1) // 2 AS m1, (n + 2) // 2 AS m2
          FROM nn),
        cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cn FROM
          (SELECT v, COUNT(*) AS c FROM src GROUP BY v))
        SELECT rk.n,
          ROUND((MIN(CASE WHEN cn >= rk.m1 THEN v END)
            + MIN(CASE WHEN cn >= rk.m2 THEN v END)) / 2.0, 6)
            AS median,
          ROUND(MIN(CASE WHEN cn >= rk.j THEN v END), 6) AS ci_lo,
          ROUND(MIN(CASE WHEN cn >= rk.k THEN v END), 6) AS ci_hi
        FROM cum CROSS JOIN rk
        GROUP BY rk.n"""

  /** DuckDB twin of [[quantileMap]]; `aCte`/`bCte` yield v. */
  def quantileMapOracleSql(aCte: String, bCte: String,
                           qs: Seq[Double] =
                             (1 to 9).map(_ / 10.0)): String = {
    val qList = qs.mkString("[", ", ", "]")
    s"""WITH ea AS (SELECT quantile_cont(CAST(v AS DOUBLE), $qList)
            AS e FROM ($aCte) WHERE v IS NOT NULL),
        eb AS (SELECT quantile_cont(CAST(v AS DOUBLE), $qList) AS e
          FROM ($bCte) WHERE v IS NOT NULL),
        kf AS (SELECT UNNEST($qList) AS q,
            UNNEST(range(1, ${qs.size + 1})) AS i)
        SELECT q, ROUND(ea.e[i], 6) AS a_quantile,
          ROUND(eb.e[i], 6) AS b_quantile,
          ROUND(eb.e[i] - ea.e[i], 6) AS shift
        FROM kf CROSS JOIN ea CROSS JOIN eb ORDER BY q"""
  }

  /** DuckDB twin of [[robustSpread]]; `srcCte` yields (grp, v). */
  def robustSpreadOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT grp AS "group", CAST(v AS DOUBLE) AS v
          FROM ($srcCte) WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE))),
        med AS (SELECT "group", COUNT(*) AS n,
            quantile_cont(v, 0.5) AS m FROM base GROUP BY "group"),
        mad AS (SELECT base."group",
            quantile_cont(ABS(base.v - med.m), 0.5) AS md
          FROM base JOIN med USING ("group") GROUP BY base."group")
        SELECT med."group", med.n, ROUND(med.m, 6) AS median,
          ROUND(mad.md, 6) AS mad,
          ROUND(CASE WHEN ABS(med.m) > 0 THEN
            mad.md * 1.4826 / ABS(med.m) END, 6) AS robust_cv
        FROM med JOIN mad USING ("group") ORDER BY med."group""""

  /** DuckDB twin of [[winsorizedCorr]]; `srcCte` yields (x, y). */
  def winsorizedCorrOracleSql(srcCte: String, pLo: Double = 0.05,
                              pHi: Double = 0.95): String =
    s"""WITH base AS (SELECT
            CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
            CAST(CAST(y AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
          FROM ($srcCte) WHERE x IS NOT NULL AND y IS NOT NULL),
        nt AS (SELECT COUNT(*) AS n FROM base),
        ks AS (SELECT GREATEST(1, CAST(CEIL($pLo * n) AS BIGINT)) AS klo,
            GREATEST(1, CAST(CEIL($pHi * n) AS BIGINT)) AS khi FROM nt),
        rx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM base),
        ry AS (SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS r FROM base),
        bx AS (SELECT MAX(CASE WHEN rx.r = ks.klo THEN x END) AS xl,
            MAX(CASE WHEN rx.r = ks.khi THEN x END) AS xh
          FROM rx CROSS JOIN ks),
        by2 AS (SELECT MAX(CASE WHEN ry.r = ks.klo THEN y END) AS yl,
            MAX(CASE WHEN ry.r = ks.khi THEN y END) AS yh
          FROM ry CROSS JOIN ks),
        w AS (SELECT base.x, base.y,
            LEAST(GREATEST(base.x, bx.xl), bx.xh) AS xw,
            LEAST(GREATEST(base.y, by2.yl), by2.yh) AS yw
          FROM base CROSS JOIN bx CROSS JOIN by2),
        g AS (SELECT COUNT(*) AS n,
            CAST(SUM(CAST(x AS DECIMAL(12,0))
              * CAST(x AS DECIMAL(12,0))) AS DOUBLE) AS sxxr,
            CAST(SUM(CAST(y AS DECIMAL(12,0))
              * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS syyr,
            CAST(SUM(CAST(x AS DECIMAL(12,0))
              * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS sxyr,
            CAST(SUM(x) AS DOUBLE) AS sxr, CAST(SUM(y) AS DOUBLE) AS syr,
            CAST(SUM(CAST(xw AS DECIMAL(12,0))
              * CAST(xw AS DECIMAL(12,0))) AS DOUBLE) AS sxxw,
            CAST(SUM(CAST(yw AS DECIMAL(12,0))
              * CAST(yw AS DECIMAL(12,0))) AS DOUBLE) AS syyw,
            CAST(SUM(CAST(xw AS DECIMAL(12,0))
              * CAST(yw AS DECIMAL(12,0))) AS DOUBLE) AS sxyw,
            CAST(SUM(xw) AS DOUBLE) AS sxw, CAST(SUM(yw) AS DOUBLE)
              AS syw
          FROM w)
        SELECT CAST(n AS BIGINT) AS n,
          ROUND(CASE WHEN (sxxr - sxr * sxr / n) > 0
              AND (syyr - syr * syr / n) > 0 THEN
            (sxyr - sxr * syr / n)
              / SQRT((sxxr - sxr * sxr / n) * (syyr - syr * syr / n))
            END, 6) AS r_raw,
          ROUND(CASE WHEN (sxxw - sxw * sxw / n) > 0
              AND (syyw - syw * syw / n) > 0 THEN
            (sxyw - sxw * syw / n)
              / SQRT((sxxw - sxw * sxw / n) * (syyw - syw * syw / n))
            END, 6) AS r_winsorized
        FROM g"""
}

/** DuckDB twins of [[graft.eda.ShapeTests]]. */
object ShapeTestsOracle {
  /** DuckDB twin of [[jarqueBera]]; `srcCte` must yield (grp, v). */
  def jarqueBeraOracleSql(srcCte: String, scale: Int = 0): String = {
    val f = s"ROUND(CAST(v AS DOUBLE) * ${math.pow(10, scale)}, 0)"
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp AS "group", CAST($f AS HUGEINT) AS x
          FROM src WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE))),
        g AS (SELECT "group", COUNT(*) AS n,
            CAST(SUM(x) AS DOUBLE) AS s1,
            CAST(SUM(x * x) AS DOUBLE) AS s2,
            CAST(SUM(x * x * x) AS DOUBLE) AS s3,
            CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
          FROM base GROUP BY "group"),
        mo AS (SELECT "group", n, CAST(n AS DOUBLE) AS nd,
            s1 / n AS m, s2, s3, s4 FROM g),
        cm AS (SELECT "group", n, nd, m,
            s2 / nd - m * m AS m2,
            s3 / nd - 3.0 * m * (s2 / nd) + 2.0 * m * m * m AS m3,
            s4 / nd - 4.0 * m * (s3 / nd) + 6.0 * m * m * (s2 / nd)
              - 3.0 * m * m * m * m AS m4
          FROM mo),
        sk AS (SELECT "group", n, nd,
            CASE WHEN m2 > 0 THEN m3 / (SQRT(m2) * m2) END AS skew,
            CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurt
          FROM cm)
        SELECT "group", n, ROUND(skew, 6) AS skew,
          ROUND(kurt, 6) AS ex_kurtosis,
          ROUND(nd / 6.0 * (skew * skew + kurt * kurt / 4.0), 6) AS jb
        FROM sk ORDER BY "group""""
  }

  /** DuckDB twin of [[moodMedian]]; `srcCte` must yield (grp, v). */
  def moodMedianOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp, CAST(v AS DOUBLE) AS v FROM src
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        med AS (SELECT quantile_cont(v, 0.5) AS m FROM base),
        cells AS (SELECT grp, COUNT(*) AS ng,
            SUM(CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE 0 END)
              AS ag
          FROM base GROUP BY grp),
        tot AS (SELECT SUM(ng) AS n, SUM(ag) AS a, COUNT(*) AS k
          FROM cells)
        SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          CAST(a AS BIGINT) AS n_above,
          ROUND(SUM(
            (ag - CAST(ng AS DOUBLE) * a / n)
              * (ag - CAST(ng AS DOUBLE) * a / n)
              / (CAST(ng AS DOUBLE) * a / n)
            + ((ng - ag) - CAST(ng AS DOUBLE) * (n - a) / n)
              * ((ng - ag) - CAST(ng AS DOUBLE) * (n - a) / n)
              / (CAST(ng AS DOUBLE) * (n - a) / n)), 6) AS chi2
        FROM cells CROSS JOIN tot GROUP BY k, n, a"""

  /** DuckDB twin of [[wilcoxonSignedRank]]; `srcCte` yields (x, y). */
  def wilcoxonSignedRankOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        d AS (SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d
          FROM src WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))
            AND NOT isnan(CAST(y AS DOUBLE))),
        nz AS (SELECT ABS(d) AS ad,
            CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
          FROM d WHERE d <> 0),
        m AS (SELECT ad, COUNT(*) AS n FROM nz GROUP BY ad),
        r AS (SELECT ad, n,
            SUM(n) OVER (ORDER BY ad) - n
              + (CAST(n AS DOUBLE) + 1) / 2 AS avg_rank FROM m),
        j AS (SELECT nz.pos, r.avg_rank FROM nz JOIN r USING (ad)),
        a AS (SELECT COUNT(*) AS n_pairs,
            SUM(CASE WHEN pos = 1 THEN avg_rank END) AS wp FROM j),
        t AS (SELECT SUM(CAST(n AS HUGEINT) * n * n - n) AS t3t FROM m)
        SELECT n_pairs,
          ROUND(COALESCE(wp, 0.0), 6) AS w_plus,
          ROUND((COALESCE(wp, 0.0)
            - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0)
            / SQRT(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
              * (2.0 * n_pairs + 1) / 24.0
              - CAST(t3t AS DOUBLE) / 48.0), 6) AS z_stat
        FROM a CROSS JOIN t"""

  /** DuckDB twin of [[runsTest]]; `srcCte` must yield (o, v). */
  def runsTestOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT o, CAST(v AS DOUBLE) AS v FROM src
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        med AS (SELECT quantile_cont(v, 0.5) AS m FROM base),
        signs AS (SELECT o,
            CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
          FROM base WHERE v <> (SELECT m FROM med)),
        runs AS (SELECT s,
            CASE WHEN LAG(s) OVER (ORDER BY o) IS NULL
              OR LAG(s) OVER (ORDER BY o) <> s THEN 1 ELSE 0 END AS chg
          FROM signs),
        a AS (SELECT COUNT(*) AS n, SUM(s) AS n_above,
            SUM(1 - s) AS n_below, SUM(chg) AS r FROM runs),
        z AS (SELECT n, n_above, n_below, r,
            CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2
          FROM a)
        SELECT n, CAST(n_above AS BIGINT) AS n_above,
          CAST(n_below AS BIGINT) AS n_below, CAST(r AS BIGINT) AS runs,
          ROUND(CASE WHEN
              2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1)) > 0 THEN
            (CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1))
              / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1))) END, 6)
            AS z_stat
        FROM z"""

  /** DuckDB twin of [[signTest]]; `srcCte` must yield (x, y). */
  def signTestOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(x AS DOUBLE) AS x,
            CAST(y AS DOUBLE) AS y FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL
            AND NOT isnan(CAST(x AS DOUBLE))
            AND NOT isnan(CAST(y AS DOUBLE))
            AND CAST(x AS DOUBLE) <> CAST(y AS DOUBLE)),
        g AS (SELECT COUNT(*) AS n_pairs,
            SUM(CASE WHEN x > y THEN 1 ELSE 0 END) AS n_pos,
            SUM(CASE WHEN x < y THEN 1 ELSE 0 END) AS n_neg
          FROM src)
        SELECT n_pairs, CAST(n_pos AS BIGINT) AS n_pos,
          CAST(n_neg AS BIGINT) AS n_neg,
          ROUND(CAST(n_pos - n_neg AS DOUBLE)
            / SQRT(CAST(n_pairs AS DOUBLE)), 6) AS z_stat
        FROM g"""

  /** DuckDB twin of [[bimodalityCoefficient]]; `srcCte` yields
    * (grp, v). */
  def bimodalityCoefficientOracleSql(srcCte: String,
                                     scale: Int = 0): String = {
    val f = s"ROUND(CAST(v AS DOUBLE) * ${math.pow(10, scale)}, 0)"
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp AS "group", CAST($f AS HUGEINT) AS x
          FROM src WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE))),
        g AS (SELECT "group", COUNT(*) AS n,
            CAST(SUM(x) AS DOUBLE) AS s1,
            CAST(SUM(x * x) AS DOUBLE) AS s2,
            CAST(SUM(x * x * x) AS DOUBLE) AS s3,
            CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
          FROM base GROUP BY "group"),
        mo AS (SELECT "group", n, CAST(n AS DOUBLE) AS nd,
            s1 / n AS m, s2, s3, s4 FROM g WHERE n > 3),
        cm AS (SELECT "group", n, nd, m,
            s2 / nd - m * m AS m2,
            s3 / nd - 3.0 * m * (s2 / nd) + 2.0 * m * m * m AS m3,
            s4 / nd - 4.0 * m * (s3 / nd) + 6.0 * m * m * (s2 / nd)
              - 3.0 * m * m * m * m AS m4
          FROM mo),
        sk AS (SELECT "group", n, nd, m2,
            m3 / (SQRT(m2) * m2) AS skew,
            m4 / (m2 * m2) - 3.0 AS kurt FROM cm),
        b AS (SELECT "group", n, m2,
            (skew * skew + 1)
              / (kurt + 3.0 * (nd - 1) * (nd - 1)
                / ((nd - 2) * (nd - 3))) AS bc
          FROM sk)
        SELECT "group", n,
          ROUND(CASE WHEN m2 > 0 THEN bc END, 6) AS bc,
          CASE WHEN m2 > 0 THEN bc > 5.0 / 9 END AS is_bimodal
        FROM b ORDER BY "group""""
  }

  /** DuckDB twin of [[rankBiserial]]; `srcCte` yields (x, y). */
  def rankBiserialOracleSql(srcCte: String): String =
    s"""WITH d AS (SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS dd
          FROM ($srcCte)
          WHERE x IS NOT NULL AND NOT isnan(CAST(x AS DOUBLE))
            AND y IS NOT NULL AND NOT isnan(CAST(y AS DOUBLE))),
        nz AS (SELECT dd FROM d WHERE dd <> 0.0),
        cells AS (SELECT ABS(dd) AS ad, COUNT(*) AS c,
            SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS cp
          FROM nz GROUP BY ad),
        wr AS (SELECT c, cp,
            2 * COALESCE(SUM(c) OVER (ORDER BY ad
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS r2
          FROM cells),
        g AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs,
            SUM(cp * r2) AS w2p, SUM((c - cp) * r2) AS w2m FROM wr)
        SELECT n_pairs, CAST(w2p AS DOUBLE) / 2 AS w_plus,
          CAST(w2m AS DOUBLE) / 2 AS w_minus,
          ROUND(CAST(w2p - w2m AS DOUBLE) / (w2p + w2m), 6)
            AS rank_biserial
        FROM g"""
}

/** DuckDB twins of [[graft.eda.SkewReport]]. */
object SkewReportOracle {
  /** DuckDB twin of [[shardSkewAudit]]; `srcCte` must yield k. */
  def shardSkewAuditOracleSql(srcCte: String,
                              hexChars: Int = 2): String =
    s"""WITH sh AS (SELECT substring(md5(CAST(k AS VARCHAR)), 1,
            $hexChars) AS s, COUNT(*) AS n
          FROM ($srcCte) WHERE k IS NOT NULL GROUP BY s),
        g AS (SELECT COUNT(*) AS ns, SUM(n) AS nr, MAX(n) AS mx,
            MIN(n) AS mn, SUM(n * n) AS s2 FROM sh)
        SELECT ns AS n_shards, CAST(nr AS BIGINT) AS n_rows,
          mx AS max_rows, mn AS min_rows,
          ROUND(CAST(mx AS DOUBLE)
            / (CAST(nr AS DOUBLE) / CAST(ns AS DOUBLE)), 6)
            AS skew_ratio,
          ROUND(SQRT(CAST(s2 AS DOUBLE) / ns
              - (CAST(nr AS DOUBLE) / ns) * (CAST(nr AS DOUBLE) / ns))
            / (CAST(nr AS DOUBLE) / CAST(ns AS DOUBLE)), 6) AS cv,
          ROUND(CAST(mx AS DOUBLE) / nr, 6) AS top_share
        FROM g"""
}

/** DuckDB twins of [[graft.eda.StatTests]]. */
object StatTestsOracle {
  /** DuckDB twin of [[brownForsythe]]; `srcCte` must yield (grp, v). */
  def brownForsytheOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp, CAST(v AS DOUBLE) AS v FROM src
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        med AS (SELECT grp, quantile_cont(v, 0.5) AS m
          FROM base GROUP BY grp),
        dev AS (SELECT base.grp, ABS(base.v - med.m) AS d
          FROM base JOIN med ON base.grp = med.grp),
        pg AS (SELECT grp, COUNT(*) AS ng, AVG(d) AS mg,
            COALESCE(VAR_SAMP(d), 0) AS vg
          FROM dev GROUP BY grp),
        gm AS (SELECT SUM(ng * mg) / SUM(ng) AS m FROM pg),
        agg AS (SELECT COUNT(*) AS k, SUM(ng) AS n,
            SUM(ng * (mg - gm.m) * (mg - gm.m)) AS ssb,
            SUM((ng - 1) * vg) AS ssw
          FROM pg CROSS JOIN gm GROUP BY gm.m)
        SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_bf
        FROM agg"""

  /** DuckDB twin of [[cramerVonMises]]; `aCte`/`bCte` must yield v. */
  def cramerVonMisesOracleSql(aCte: String, bCte: String): String =
    s"""WITH s AS (
          SELECT CAST(v AS DOUBLE) AS v, 1 AS isa FROM ($aCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
          UNION ALL
          SELECT CAST(v AS DOUBLE), 0 FROM ($bCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(isa) AS ca,
            SUM(1 - isa) AS cb
          FROM s GROUP BY v),
        c AS (SELECT n,
            SUM(ca) OVER (ORDER BY v) AS cuma,
            SUM(cb) OVER (ORDER BY v) AS cumb FROM m),
        t2 AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m)
        SELECT CAST(t2.na AS BIGINT) AS n_a, CAST(t2.nb AS BIGINT) AS n_b,
          ROUND(CAST(t2.na AS DOUBLE) * t2.nb
            / ((t2.na + t2.nb) * (t2.na + t2.nb))
            * SUM(n * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE)
              / nb) * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE)
              / nb)), 6) AS cvm
        FROM c CROSS JOIN t2 GROUP BY t2.na, t2.nb"""

  /** DuckDB twin of [[welchAnova]]; `srcCte` must yield (grp, v). */
  def welchAnovaOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        base AS (SELECT grp, CAST(v AS DOUBLE) AS v FROM src
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        pg0 AS (SELECT grp, COUNT(*) AS ng, AVG(v) AS mg,
            var_samp(v) AS vg FROM base GROUP BY grp),
        pg AS (SELECT *, ng / vg AS w FROM pg0
          WHERE ng >= 2 AND vg > 0),
        gm AS (SELECT SUM(w) AS ww, SUM(w * mg) / SUM(w) AS mw FROM pg),
        g AS (SELECT COUNT(*) AS k, SUM(ng) AS n,
            SUM(w * (mg - mw) * (mg - mw)) AS a,
            SUM((1.0 - w / ww) * (1.0 - w / ww) / (ng - 1)) AS s
          FROM pg CROSS JOIN gm)
        SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          ROUND(CASE WHEN k >= 2 AND s > 0 THEN
            (a / (k - 1)) /
              (1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) * s)
            END, 6) AS f_welch,
          ROUND(CASE WHEN s > 0 THEN
            (CAST(k AS DOUBLE) * k - 1) / (3.0 * s) END, 6) AS df2
        FROM g"""

  /** DuckDB twin of [[wasserstein1]]; `aCte`/`bCte` must yield v. */
  def wasserstein1OracleSql(aCte: String, bCte: String): String =
    s"""WITH s AS (
          SELECT CAST(v AS DOUBLE) AS v, 1 AS isa FROM ($aCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
          UNION ALL
          SELECT CAST(v AS DOUBLE), 0 FROM ($bCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        m AS (SELECT v, SUM(isa) AS ca, SUM(1 - isa) AS cb
          FROM s GROUP BY v),
        c AS (SELECT v,
            SUM(ca) OVER (ORDER BY v) AS cuma,
            SUM(cb) OVER (ORDER BY v) AS cumb,
            LEAD(v) OVER (ORDER BY v) AS nxt FROM m),
        t2 AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m)
        SELECT CAST(t2.na AS BIGINT) AS n_a, CAST(t2.nb AS BIGINT) AS n_b,
          ROUND(SUM(ABS(CAST(cuma AS DOUBLE) / na
            - CAST(cumb AS DOUBLE) / nb)
            * COALESCE(nxt - v, 0.0)), 6) AS w1
        FROM c CROSS JOIN t2 GROUP BY t2.na, t2.nb"""

  /** DuckDB twin of [[andersonDarling2]]; `aCte`/`bCte` must yield v. */
  def andersonDarling2OracleSql(aCte: String, bCte: String): String =
    s"""WITH s AS (
          SELECT CAST(v AS DOUBLE) AS v, 1 AS isa FROM ($aCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
          UNION ALL
          SELECT CAST(v AS DOUBLE), 0 FROM ($bCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(isa) AS ca,
            SUM(1 - isa) AS cb FROM s GROUP BY v),
        c AS (SELECT n, ca, cb,
            SUM(n) OVER (ORDER BY v) - n AS bef,
            SUM(ca) OVER (ORDER BY v) - ca AS befa FROM m),
        t2 AS (SELECT SUM(ca) AS na, SUM(cb) AS nb,
            CAST(SUM(ca) + SUM(cb) AS DOUBLE) AS nn FROM m),
        terms AS (SELECT na, nb, nn,
            CAST(n AS DOUBLE) AS l,
            CAST(bef AS DOUBLE) + n / 2.0 AS ba,
            CAST(befa AS DOUBLE) + ca / 2.0 AS maa,
            CAST(bef - befa AS DOUBLE) + (n - ca) / 2.0 AS mab
          FROM c CROSS JOIN t2)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          ROUND((nn - 1) / nn * (
            SUM(CASE WHEN ba * (nn - ba) - nn * l / 4.0 > 0 THEN
              (l / nn) * (nn * maa - na * ba) * (nn * maa - na * ba)
                / (ba * (nn - ba) - nn * l / 4.0) END) / na
            + SUM(CASE WHEN ba * (nn - ba) - nn * l / 4.0 > 0 THEN
              (l / nn) * (nn * mab - nb * ba) * (nn * mab - nb * ba)
                / (ba * (nn - ba) - nn * l / 4.0) END) / nb), 6) AS ad
        FROM terms GROUP BY na, nb, nn"""

  /** DuckDB twin of [[tukeyHsd]]; `srcCte` must yield (grp, v). */
  def tukeyHsdOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT CAST(grp AS VARCHAR) AS g, COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE v IS NOT NULL GROUP BY grp
          HAVING COUNT(*) > 1),
        mo AS (SELECT g, n, s1 / CAST(n AS DOUBLE) AS mu,
            s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE)) AS ss
          FROM g),
        msw AS (SELECT SUM(ss) / CAST(SUM(n) - COUNT(*) AS DOUBLE)
            AS msw FROM mo)
        SELECT a.g AS g1, b.g AS g2,
          ROUND(a.mu - b.mu, 6) AS mean_diff,
          ROUND(ABS(a.mu - b.mu) / SQRT(msw.msw / 2
            * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))),
            6) AS q_stat
        FROM mo a JOIN mo b ON a.g < b.g CROSS JOIN msw
        ORDER BY g1, g2"""

  /** DuckDB twin of [[poissonRateTest]]; `srcCte` must yield
    * (arm BOOLEAN, ev, expo). */
  def poissonRateTestOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT
            SUM(CASE WHEN arm THEN CAST(ev AS BIGINT) END) AS x1,
            SUM(CASE WHEN arm THEN CAST(expo AS BIGINT) END) AS t1,
            SUM(CASE WHEN NOT arm THEN CAST(ev AS BIGINT) END) AS x2,
            SUM(CASE WHEN NOT arm THEN CAST(expo AS BIGINT) END) AS t2
          FROM src),
        c AS (SELECT CAST(x1 AS BIGINT) AS x1, CAST(t1 AS BIGINT) AS t1,
            CAST(x2 AS BIGINT) AS x2, CAST(t2 AS BIGINT) AS t2,
            CAST(t1 AS DOUBLE) / (CAST(t1 AS DOUBLE)
              + CAST(t2 AS DOUBLE)) AS pi,
            CAST(x1 + x2 AS DOUBLE) AS x,
            CAST(x1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS r1,
            CAST(x2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS r2
          FROM g)
        SELECT x1, t1, x2, t2, ROUND(r1, 6) AS rate1,
          ROUND(r2, 6) AS rate2,
          ROUND(CASE WHEN r2 > 0 THEN r1 / r2 END, 6) AS rate_ratio,
          ROUND(CASE WHEN x > 0 THEN
            (CAST(x1 AS DOUBLE) - x * pi) / SQRT(x * pi * (1.0 - pi))
            END, 6) AS z_stat
        FROM c"""

  /** DuckDB twin of [[fleissKappa]]; `srcCte` must yield (item, cat).
    */
  def fleissKappaOracleSql(srcCte: String, nRaters: Int): String =
    s"""WITH src AS ($srcCte),
        cells AS (SELECT item, cat, COUNT(*) AS nij
          FROM src GROUP BY item, cat),
        items AS (SELECT item, SUM(nij) AS r, SUM(nij * nij) AS sq
          FROM cells GROUP BY item HAVING SUM(nij) = $nRaters),
        ct AS (SELECT c.cat, SUM(c.nij) AS cj
          FROM cells c JOIN items USING (item) GROUP BY c.cat),
        nf AS (SELECT COUNT(*) AS n_items, SUM(sq) AS sqsum
          FROM items),
        pe AS (SELECT ANY_VALUE(n_items) AS n_items,
            ANY_VALUE(sqsum) AS sqs,
            SUM((CAST(cj AS DOUBLE) / (n_items * $nRaters))
              * (CAST(cj AS DOUBLE) / (n_items * $nRaters))) AS pev
          FROM ct CROSS JOIN nf)
        SELECT CAST(n_items AS BIGINT) AS n_items,
          $nRaters AS n_raters,
          ROUND((CAST(sqs AS DOUBLE) - CAST(n_items AS DOUBLE)
            * $nRaters) / (CAST(n_items AS DOUBLE) * $nRaters
            * ($nRaters - 1)), 6) AS p_bar,
          ROUND(pev, 6) AS p_e,
          ROUND(((CAST(sqs AS DOUBLE) - CAST(n_items AS DOUBLE)
            * $nRaters) / (CAST(n_items AS DOUBLE) * $nRaters
            * ($nRaters - 1)) - pev) / (1.0 - pev), 6) AS kappa
        FROM pe"""

  /** DuckDB twin of [[cliffsDelta]]; `aCte`/`bCte` must yield v. */
  def cliffsDeltaOracleSql(aCte: String, bCte: String): String =
    s"""WITH s AS (
          SELECT CAST(v AS DOUBLE) AS v, 1 AS isa FROM ($aCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
          UNION ALL
          SELECT CAST(v AS DOUBLE), 0 FROM ($bCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(isa) AS ca,
            SUM(1 - isa) AS cb FROM s GROUP BY v),
        c AS (SELECT ca, cb,
            SUM(cb) OVER (ORDER BY v) - cb AS bbelow FROM m),
        t2 AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m),
        agg AS (SELECT ANY_VALUE(na) AS na, ANY_VALUE(nb) AS nb,
            SUM(ca * (bbelow - (nb - bbelow - cb))) AS d
          FROM c CROSS JOIN t2)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          ROUND(CAST(d AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
            AS cliffs_delta,
          ROUND((CAST(d AS DOUBLE) / 2 + CAST(na AS DOUBLE) * nb / 2)
            / (CAST(na AS DOUBLE) * nb), 6) AS vd_a
        FROM agg"""

  /** DuckDB twin of [[hodgesLehmann]]; `aCte`/`bCte` must yield v. */
  def hodgesLehmannOracleSql(aCte: String, bCte: String): String =
    s"""WITH ca AS (SELECT CAST(v AS DOUBLE) AS va, COUNT(*) AS na
          FROM ($aCte) WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE)) GROUP BY va),
        cb AS (SELECT CAST(v AS DOUBLE) AS vb, COUNT(*) AS nb
          FROM ($bCte) WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE)) GROUP BY vb),
        grid AS (SELECT va - vb AS d, SUM(na * nb) AS w
          FROM ca CROSS JOIN cb GROUP BY va - vb),
        c AS (SELECT d, SUM(w) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM grid),
        t AS (SELECT SUM(w) AS tw FROM grid)
        SELECT CAST(t.tw AS BIGINT) AS n_pairs,
          ROUND(MIN(c.d), 6) AS hl_shift
        FROM c CROSS JOIN t WHERE c.cum * 2 >= t.tw
        GROUP BY t.tw"""

  /** DuckDB twin of [[twoWayAnova]]; `srcCte` yields (a, b, v). */
  def twoWayAnovaOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        cells AS (SELECT a, b, COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE v IS NOT NULL GROUP BY a, b),
        wm AS (SELECT a, b, n, s1 / CAST(n AS DOUBLE) AS m,
            s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE)) AS ssw, s1 FROM cells),
        am AS (SELECT a, SUM(n) AS na,
            SUM(s1) / CAST(SUM(n) AS DOUBLE) AS ma FROM wm GROUP BY a),
        bm AS (SELECT b, SUM(n) AS nb,
            SUM(s1) / CAST(SUM(n) AS DOUBLE) AS mb FROM wm GROUP BY b),
        gr AS (SELECT SUM(n) AS nt,
            SUM(s1) / CAST(SUM(n) AS DOUBLE) AS mg, SUM(ssw) AS sse,
            COUNT(*) AS ncell FROM wm),
        j AS (SELECT wm.n, wm.m, am.ma, bm.mb, gr.mg
          FROM wm JOIN am USING (a) JOIN bm USING (b) CROSS JOIN gr),
        sab AS (SELECT SUM(CAST(n AS DOUBLE)
            * (m - ma - mb + mg) * (m - ma - mb + mg)) AS ssab
          FROM j),
        sa AS (SELECT COUNT(*) AS ka, SUM(CAST(na AS DOUBLE)
            * (ma - mg) * (ma - mg)) AS ssa
          FROM am CROSS JOIN gr),
        sb AS (SELECT COUNT(*) AS kb, SUM(CAST(nb AS DOUBLE)
            * (mb - mg) * (mb - mg)) AS ssb
          FROM bm CROSS JOIN gr),
        f AS (SELECT ka, kb, nt, ncell, sse, ssa, ssb, ssab,
            CAST(ka - 1 AS DOUBLE) AS dfa, CAST(kb - 1 AS DOUBLE)
              AS dfb,
            CAST(nt - ncell AS DOUBLE) AS dfe
          FROM sa CROSS JOIN sb CROSS JOIN sab CROSS JOIN gr)
        SELECT CAST(ka AS BIGINT) AS a_levels,
          CAST(kb AS BIGINT) AS b_levels, CAST(nt AS BIGINT) AS n,
          ROUND(ssa / dfa / (sse / dfe), 6) AS f_a,
          ROUND(ssb / dfb / (sse / dfe), 6) AS f_b,
          ROUND(ssab / (dfa * dfb) / (sse / dfe), 6) AS f_interaction
        FROM f"""

  /** DuckDB twin of [[kendallW]]; `srcCte` yields (r, i, v). */
  def kendallWOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT r, i, CAST(v AS DOUBLE) AS v
          FROM ($srcCte) WHERE v IS NOT NULL
            AND NOT isnan(CAST(v AS DOUBLE))),
        kk AS (SELECT COUNT(DISTINCT r) AS k FROM base),
        complete AS (SELECT i FROM base GROUP BY i
          HAVING COUNT(*) = (SELECT k FROM kk)),
        kept AS (SELECT base.* FROM base JOIN complete USING (i)),
        cells AS (SELECT r, v, COUNT(*) AS n FROM kept GROUP BY r, v),
        rk AS (SELECT r, v,
            CAST(SUM(n) OVER (PARTITION BY r ORDER BY v) - n
              AS DOUBLE) + (CAST(n AS DOUBLE) + 1) / 2 AS rnk
          FROM cells),
        tt AS (SELECT SUM(CAST(n AS HUGEINT) * n * n - n) AS t
          FROM cells),
        pi AS (SELECT kept.i, SUM(rk.rnk) AS ri
          FROM kept JOIN rk ON kept.r = rk.r AND kept.v = rk.v
          GROUP BY kept.i),
        g AS (SELECT COUNT(*) AS m, SUM(ri) AS sr,
            SUM(ri * ri) AS srr FROM pi)
        SELECT CAST(kk.k AS BIGINT) AS k, CAST(g.m AS BIGINT) AS m,
          ROUND(12.0 * (g.srr - g.sr * g.sr / g.m)
            / (CAST(kk.k AS DOUBLE) * kk.k
              * (CAST(g.m AS DOUBLE) * g.m * g.m - g.m)
              - kk.k * CAST(tt.t AS DOUBLE)), 6) AS w
        FROM g CROSS JOIN kk CROSS JOIN tt"""

  /** DuckDB twin of [[winRatio]]; `tCte`/`cCte` yield v. */
  def winRatioOracleSql(tCte: String, cCte: String): String =
    s"""WITH s AS (
          SELECT CAST(v AS DOUBLE) AS v, 1 AS isa FROM ($tCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
          UNION ALL
          SELECT CAST(v AS DOUBLE), 0 FROM ($cCte)
            WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        m AS (SELECT v, COUNT(*) AS n, SUM(isa) AS ct,
            SUM(1 - isa) AS cc FROM s GROUP BY v),
        c AS (SELECT ct, cc,
            SUM(cc) OVER (ORDER BY v) - cc AS below FROM m),
        t2 AS (SELECT SUM(ct) AS nt, SUM(cc) AS nc FROM m),
        agg AS (SELECT ANY_VALUE(nt) AS nt, ANY_VALUE(nc) AS nc,
            SUM(ct * below) AS w,
            SUM(ct * (nc - below - cc)) AS l,
            SUM(ct * cc) AS ti
          FROM c CROSS JOIN t2)
        SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
          CAST(w AS BIGINT) AS wins, CAST(l AS BIGINT) AS losses,
          CAST(ti AS BIGINT) AS ties,
          ROUND(CASE WHEN l > 0 THEN CAST(w AS DOUBLE) / l END, 6)
            AS win_ratio,
          ROUND(CASE WHEN w > 0 AND l > 0 THEN
            SQRT(1.0 / w + 1.0 / l) END, 6) AS log_se
        FROM agg"""

  /** DuckDB twin of [[uncertaintyCoefficient]]; `srcCte` yields
    * (x, y). */
  def uncertaintyCoefficientOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(x AS VARCHAR) AS x,
            CAST(y AS VARCHAR) AS y FROM ($srcCte)
          WHERE x IS NOT NULL AND y IS NOT NULL),
        cells AS (SELECT x, y, COUNT(*) AS n FROM src GROUP BY x, y),
        t AS (SELECT SUM(n) AS tn FROM cells),
        hx AS (SELECT -SUM((CAST(n AS DOUBLE) / tn)
            * LN(CAST(n AS DOUBLE) / tn)) AS h
          FROM (SELECT x, SUM(n) AS n FROM cells GROUP BY x)
          CROSS JOIN t),
        hy AS (SELECT -SUM((CAST(n AS DOUBLE) / tn)
            * LN(CAST(n AS DOUBLE) / tn)) AS h
          FROM (SELECT y, SUM(n) AS n FROM cells GROUP BY y)
          CROSS JOIN t),
        hxy AS (SELECT -SUM((CAST(n AS DOUBLE) / tn)
            * LN(CAST(n AS DOUBLE) / tn)) AS h
          FROM cells CROSS JOIN t)
        SELECT CAST(t.tn AS BIGINT) AS n, ROUND(hx.h, 6) AS h_x,
          ROUND(hy.h, 6) AS h_y,
          ROUND(hx.h + hy.h - hxy.h, 6) AS mi,
          ROUND(CASE WHEN hy.h > 0 THEN (hx.h + hy.h - hxy.h) / hy.h
            END, 6) AS u_y_given_x
        FROM t CROSS JOIN hx CROSS JOIN hy CROSS JOIN hxy"""

  /** DuckDB twin of [[cmhTest]]; `srcCte` yields (s, e, o) with
    * e/o in {0,1}. */
  def cmhTestOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT s, CAST(e AS BIGINT) AS e,
            CAST(o AS BIGINT) AS o FROM ($srcCte)),
        cells AS (SELECT s, SUM(e * o) AS a, SUM(e * (1 - o)) AS b,
            SUM((1 - e) * o) AS c, SUM((1 - e) * (1 - o)) AS d
          FROM src GROUP BY s),
        c2 AS (SELECT a, b, c, d, a + b + c + d AS n FROM cells
          WHERE a + b + c + d > 1),
        c3 AS (SELECT a, b, c, d, n, CAST(n AS DOUBLE) AS nd,
            CAST(a + b AS DOUBLE) AS r1, CAST(a + c AS DOUBLE) AS c1
          FROM c2),
        g AS (SELECT COUNT(*) AS k_strata, SUM(n) AS n,
            SUM(CAST(a AS DOUBLE) - r1 * c1 / nd) AS dev,
            SUM(r1 * (nd - r1) * c1 * (nd - c1)
              / (nd * nd * (nd - 1))) AS var,
            SUM(CAST(a AS DOUBLE) * d / nd) AS num,
            SUM(CAST(b AS DOUBLE) * c / nd) AS den
          FROM c3)
        SELECT CAST(k_strata AS BIGINT) AS k_strata,
          CAST(n AS BIGINT) AS n,
          ROUND(CASE WHEN den > 0 THEN num / den END, 6) AS or_mh,
          ROUND(CASE WHEN var > 0 THEN
            (ABS(dev) - 0.5) * (ABS(dev) - 0.5) / var END, 6)
            AS cmh_chi2
        FROM g"""

  /** DuckDB twin of [[dispersionIndex]]; `srcCte` yields (grp, c). */
  def dispersionIndexOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT grp, CAST(c AS BIGINT) AS x FROM ($srcCte)
          WHERE c IS NOT NULL),
        g AS (SELECT grp AS "group", COUNT(*) AS n,
            CAST(SUM(x) AS DOUBLE) AS s1,
            CAST(SUM(x * x) AS DOUBLE) AS s2
          FROM src GROUP BY grp HAVING COUNT(*) > 1),
        c2 AS (SELECT "group", n, CAST(n AS DOUBLE) AS nd,
            s1 / n AS m,
            (s2 - CAST(n AS DOUBLE) * (s1 / n) * (s1 / n))
              / (CAST(n AS DOUBLE) - 1) AS v
          FROM g)
        SELECT "group", n, ROUND(m, 6) AS mean,
          ROUND(CASE WHEN m > 0 THEN v / m END, 6) AS vmr,
          ROUND(CASE WHEN m > 0 THEN (nd - 1) * v / m END, 6) AS chi2
        FROM c2 ORDER BY "group""""

  /** DuckDB twin of [[friedmanPage]]; `srcCte` yields (b, t, v) with
    * t a 0-based ordered treatment index. */
  def friedmanPageOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT b, CAST(t AS BIGINT) AS t,
            CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        kk AS (SELECT COUNT(DISTINCT t) AS k FROM base),
        complete AS (SELECT b FROM base GROUP BY b
          HAVING COUNT(*) = (SELECT k FROM kk)),
        kept AS (SELECT base.* FROM base JOIN complete USING (b)),
        rk AS (SELECT b, t,
            CAST(RANK() OVER (PARTITION BY b ORDER BY v) AS DOUBLE)
              + (CAST(COUNT(*) OVER (PARTITION BY b, v) AS DOUBLE)
                - 1) / 2 AS r
          FROM kept),
        pt AS (SELECT t, SUM(r) AS rt FROM rk GROUP BY t),
        g AS (SELECT COUNT(*) AS k, SUM(rt * rt) AS srr,
            SUM((t + 1) * rt) AS l FROM pt),
        bb AS (SELECT COUNT(*) AS b FROM complete),
        f AS (SELECT bb.b, g.k, g.srr, g.l,
            CAST(bb.b AS DOUBLE) AS bd, CAST(g.k AS DOUBLE) AS kd
          FROM g CROSS JOIN bb)
        SELECT CAST(b AS BIGINT) AS b, CAST(k AS BIGINT) AS k,
          ROUND(12.0 / (bd * kd * (kd + 1)) * srr
            - 3.0 * bd * (kd + 1), 6) AS friedman_chi2,
          ROUND(l, 6) AS page_l,
          ROUND((l - bd * kd * (kd + 1) * (kd + 1) / 4)
            / SQRT(bd * kd * kd * (kd + 1) * (kd + 1) * (kd - 1)
              / 144.0), 6) AS page_z
        FROM f"""

  /** DuckDB twin of [[cvWithCi]]; `srcCte` yields (grp, v). */
  def cvWithCiOracleSql(srcCte: String): String =
    s"""WITH src AS ($srcCte),
        g AS (SELECT grp AS "group", COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(v AS DECIMAL(18,2))
              * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s2
          FROM src WHERE v IS NOT NULL GROUP BY grp
          HAVING COUNT(*) > 3),
        c AS (SELECT "group", n, CAST(n AS DOUBLE) AS nd,
            s1 / n AS m,
            (s2 - CAST(n AS DOUBLE) * (s1 / n) * (s1 / n))
              / (CAST(n AS DOUBLE) - 1) AS v
          FROM g),
        cv AS (SELECT "group", n, nd, SQRT(v) / m AS cv FROM c),
        q AS (SELECT "group", n, nd, cv,
            (nd - 1) * (1.0 - 2.0 / (9.0 * (nd - 1))
              + 1.959964 * SQRT(2.0 / (9.0 * (nd - 1))))
              * (1.0 - 2.0 / (9.0 * (nd - 1))
              + 1.959964 * SQRT(2.0 / (9.0 * (nd - 1))))
              * (1.0 - 2.0 / (9.0 * (nd - 1))
              + 1.959964 * SQRT(2.0 / (9.0 * (nd - 1)))) AS qhi,
            (nd - 1) * (1.0 - 2.0 / (9.0 * (nd - 1))
              + -1.959964 * SQRT(2.0 / (9.0 * (nd - 1))))
              * (1.0 - 2.0 / (9.0 * (nd - 1))
              + -1.959964 * SQRT(2.0 / (9.0 * (nd - 1))))
              * (1.0 - 2.0 / (9.0 * (nd - 1))
              + -1.959964 * SQRT(2.0 / (9.0 * (nd - 1)))) AS qlo
          FROM cv)
        SELECT "group", n, ROUND(cv, 6) AS cv,
          ROUND(cv / SQRT((qhi / (nd - 1)) * (1.0 + cv * cv)
            - cv * cv * qhi / (nd - 1)), 6) AS lo,
          ROUND(cv / SQRT((qlo / (nd - 1)) * (1.0 + cv * cv)
            - cv * cv * qlo / (nd - 1)), 6) AS hi
        FROM q ORDER BY "group""""

  /** DuckDB twin of [[ksUniform]]; `srcCte` yields v. */
  def ksUniformOracleSql(srcCte: String, lo: Double,
                         hi: Double): String =
    s"""WITH vals AS (SELECT CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        ex AS (SELECT COALESCE(SUM(CASE WHEN v < $lo OR v > $hi
            THEN 1 ELSE 0 END), 0) AS ne FROM vals),
        src AS (SELECT v FROM vals WHERE v >= $lo AND v <= $hi),
        m AS (SELECT v, COUNT(*) AS n FROM src GROUP BY v),
        t AS (SELECT SUM(n) AS nt FROM m),
        c AS (SELECT v, n, SUM(n) OVER (ORDER BY v) AS cum FROM m),
        d AS (SELECT MAX(GREATEST(
            ABS(CAST(cum AS DOUBLE) / nt - (v - $lo) / ($hi - $lo)),
            ABS(CAST(cum - n AS DOUBLE) / nt
              - (v - $lo) / ($hi - $lo)))) AS dd, ANY_VALUE(nt) AS n
          FROM c CROSS JOIN t)
        SELECT CAST(n AS BIGINT) AS n, ROUND(dd, 6) AS d_stat,
          ROUND(SQRT(CAST(n AS DOUBLE)) * dd, 6) AS ks_lambda,
          CAST(ne AS BIGINT) AS n_excluded
        FROM d CROSS JOIN ex"""

  /** DuckDB twin of [[energyDistance]]; `aCte`/`bCte` must yield v. */
  def energyDistanceOracleSql(aCte: String, bCte: String): String =
    s"""WITH ca AS (SELECT CAST(CAST(v AS DECIMAL(18,2)) * 100
            AS BIGINT) AS v, COUNT(*) AS c
          FROM ($aCte) WHERE v IS NOT NULL GROUP BY 1),
        cb AS (SELECT CAST(CAST(v AS DECIMAL(18,2)) * 100
            AS BIGINT) AS v, COUNT(*) AS c
          FROM ($bCte) WHERE v IS NOT NULL GROUP BY 1),
        cells AS (SELECT COALESCE(ca.v, cb.v) AS v,
            COALESCE(ca.c, 0) AS wa, COALESCE(cb.c, 0) AS wb
          FROM ca FULL JOIN cb ON ca.v = cb.v),
        g AS (SELECT
            SUM(CAST(l.wa * r.wb AS DECIMAL(20,0))
              * CAST(ABS(l.v - r.v) AS DECIMAL(18,0))) AS sxy,
            SUM(CAST(l.wa * r.wa AS DECIMAL(20,0))
              * CAST(ABS(l.v - r.v) AS DECIMAL(18,0))) AS sxx,
            SUM(CAST(l.wb * r.wb AS DECIMAL(20,0))
              * CAST(ABS(l.v - r.v) AS DECIMAL(18,0))) AS syy,
            SUM(CASE WHEN l.v = r.v THEN l.wa ELSE 0 END) AS na,
            SUM(CASE WHEN l.v = r.v THEN l.wb ELSE 0 END) AS nb
          FROM cells l CROSS JOIN cells r)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          ROUND(CAST(sxy AS DOUBLE)
            / (CAST(na AS DOUBLE) * nb) / 100.0, 6) AS e_between,
          ROUND((2.0 * CAST(sxy AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
            - CAST(sxx AS DOUBLE) / (CAST(na AS DOUBLE) * na)
            - CAST(syy AS DOUBLE) / (CAST(nb AS DOUBLE) * nb))
            / 100.0, 6) AS energy
        FROM g"""

  /** DuckDB twin of [[powerProportions]]; `srcCte` yields conv. */
  def powerProportionsOracleSql(srcCte: String, delta: Double,
                                zAlpha: Double = 1.959964,
                                zBeta: Double = 0.841621): String =
    s"""WITH g AS (SELECT COUNT(*) AS n,
            SUM(CASE WHEN CAST(conv AS INT) = 1 THEN 1 ELSE 0 END)
              AS s
          FROM ($srcCte) WHERE conv IS NOT NULL),
        c AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p1
          FROM g),
        d AS (SELECT n, p1, p1 + $delta AS p2,
            (p1 + p1 + $delta) / 2 AS pbar FROM c),
        e AS (SELECT n, p1, p2,
            CAST(CEIL(POWER($zAlpha * SQRT(2.0 * pbar * (1.0 - pbar))
              + $zBeta * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
              / ($delta * $delta)) AS BIGINT) AS narm
          FROM d)
        SELECT n, ROUND(p1, 6) AS p_base, ROUND(p2, 6) AS p_target,
          narm AS n_per_arm, narm * 2 AS total_n
        FROM e"""

  /** SQL text of [[phiUpperAS]] over a column expression. */
  private def phiUpperSql(x: String): String =
    s"""(0.3989422804014327 * EXP(-0.5 * ($x) * ($x)) *
        ((1.0 / (1.0 + 0.2316419 * ($x))) * (0.319381530
          + (1.0 / (1.0 + 0.2316419 * ($x))) * (-0.356563782
          + (1.0 / (1.0 + 0.2316419 * ($x))) * (1.781477937
          + (1.0 / (1.0 + 0.2316419 * ($x))) * (-1.821255978
          + (1.0 / (1.0 + 0.2316419 * ($x))) * 1.330274429))))))"""

  /** DuckDB twin of [[lilliefors]]; `srcCte` yields v. */
  def lillieforsOracleSql(srcCte: String): String = {
    val phiPos = phiUpperSql("(v - mu) / sig")
    val phiNeg = phiUpperSql("-((v - mu) / sig)")
    s"""WITH base AS (SELECT CAST(v AS DOUBLE) AS v,
            CAST(CAST(v AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xd
          FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))),
        moi AS (SELECT COUNT(*) AS n, SUM(xd) AS s1i,
            SUM(xd * xd) AS s2i FROM base),
        mo AS (SELECT n,
            ${LatticeOracle.duckPortableDouble("s1i")} / 100.0 AS s1,
            ${LatticeOracle.duckPortableDouble("s2i")} / 10000.0 AS s2
          FROM moi),
        mm AS (SELECT n, s1 / n AS mu,
            SQRT((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) AS sig
          FROM mo),
        cells AS (SELECT v, COUNT(*) AS c FROM base GROUP BY v),
        cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cm
          FROM cells),
        gaps AS (SELECT n, mu, sig,
            GREATEST(
              ABS(CAST(cm AS DOUBLE) / n
                - (CASE WHEN (v - mu) / sig >= 0
                    THEN 1.0 - $phiPos ELSE $phiNeg END)),
              ABS(CAST(cm - c AS DOUBLE) / n
                - (CASE WHEN (v - mu) / sig >= 0
                    THEN 1.0 - $phiPos ELSE $phiNeg END))) AS gap
          FROM cum CROSS JOIN mm)
        SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n,
          ROUND(ANY_VALUE(mu), 6) AS mean,
          ROUND(ANY_VALUE(sig), 6) AS sigma,
          ROUND(MAX(gap), 6) AS d_stat
        FROM gaps"""
  }

  /** DuckDB twin of [[operatingPoints]]; `srcCte` yields (s, y). */
  def operatingPointsOracleSql(srcCte: String,
                               targetsPct: Seq[Int] = Seq(80, 90, 95)): String = {
    val tList = targetsPct.mkString("[", ", ", "]")
    s"""WITH base AS (SELECT CAST(s AS DOUBLE) AS s,
            CASE WHEN CAST(y AS INT) = 1 THEN 1 ELSE 0 END AS y
          FROM ($srcCte) WHERE s IS NOT NULL AND y IS NOT NULL),
        cells AS (SELECT s, COUNT(*) AS c, SUM(y) AS p
          FROM base GROUP BY s),
        tot AS (SELECT SUM(c) AS nt, SUM(p) AS np FROM cells),
        cum AS (SELECT s,
            SUM(c) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge,
            SUM(p) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pge
          FROM cells),
        ts AS (SELECT UNNEST($tList) AS t),
        pick AS (SELECT ts.t, MAX(cum.s) AS thr
          FROM ts CROSS JOIN tot JOIN cum ON cum.pge * 100 >= tot.np * ts.t
          GROUP BY ts.t)
        SELECT CAST(pick.t AS DOUBLE) / 100 AS target_sens,
          ROUND(pick.thr, 6) AS threshold,
          ROUND(CAST(cum.pge AS DOUBLE) / tot.np, 6) AS sensitivity,
          ROUND(CAST(tot.nt - tot.np - (cum.cge - cum.pge) AS DOUBLE)
            / CAST(tot.nt - tot.np AS DOUBLE), 6) AS specificity,
          ROUND(CAST(cum.pge AS DOUBLE) / cum.cge, 6) AS precision
        FROM pick JOIN cum ON cum.s = pick.thr CROSS JOIN tot
        ORDER BY target_sens"""
  }

  /** DuckDB twin of [[jonckheereTerpstra]]; `srcCte` yields (g, v). */
  def jonckheereTerpstraOracleSql(srcCte: String): String =
    s"""WITH src AS (SELECT CAST(g AS BIGINT) AS g,
            CAST(v AS BIGINT) AS v FROM ($srcCte)
          WHERE g IS NOT NULL AND v IS NOT NULL),
        cells AS (SELECT g, v, COUNT(*) AS n FROM src GROUP BY g, v),
        jt AS (SELECT COALESCE(SUM(CASE WHEN a.v < b.v
              THEN a.n * b.n END), 0) * 2
            + COALESCE(SUM(CASE WHEN a.v = b.v
              THEN a.n * b.n END), 0) AS jt2
          FROM cells a JOIN cells b ON b.g > a.g),
        sizes AS (SELECT g, SUM(n) AS ng FROM cells GROUP BY g),
        mo AS (SELECT COUNT(*) AS k, SUM(ng) AS nn,
            SUM(ng * ng) AS sq, SUM(ng * ng * (2 * ng + 3)) AS cu
          FROM sizes)
        SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS n_groups,
          CAST(jt2 AS DOUBLE) / 2 AS jt,
          ROUND(CASE WHEN (CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3)
              - CAST(cu AS DOUBLE)) / 72 > 0 THEN
            (CAST(jt2 AS DOUBLE) / 2
              - (CAST(nn AS DOUBLE) * nn - CAST(sq AS DOUBLE)) / 4)
            / SQRT((CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3)
              - CAST(cu AS DOUBLE)) / 72) END, 6) AS z_stat
        FROM mo CROSS JOIN jt"""

  /** DuckDB twin of [[ksByGroup]]; `srcCte` yields (g, a, v). */
  def ksByGroupOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT g,
            CASE WHEN CAST(a AS INT) = 1 THEN 1 ELSE 0 END AS a,
            CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
            AND a IS NOT NULL),
        cells AS (SELECT g, v, SUM(a) AS ca, SUM(1 - a) AS cb
          FROM base GROUP BY g, v),
        cum AS (SELECT g, v,
            SUM(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
            SUM(cb) OVER (PARTITION BY g ORDER BY v) AS cumb,
            SUM(ca) OVER (PARTITION BY g) AS na,
            SUM(cb) OVER (PARTITION BY g) AS nb
          FROM cells)
        SELECT g AS "group", CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
          CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
          ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / na
            - CAST(cumb AS DOUBLE) / nb)), 6) AS d_stat
        FROM cum WHERE na > 0 AND nb > 0
        GROUP BY g ORDER BY "group""""

  /** DuckDB twin of [[costCurve]]; `srcCte` yields (s, y). */
  def costCurveOracleSql(srcCte: String, costFp: Long,
                         costFn: Long): String =
    s"""WITH base AS (SELECT CAST(s AS DOUBLE) AS s,
            CASE WHEN CAST(y AS INT) = 1 THEN 1 ELSE 0 END AS y
          FROM ($srcCte) WHERE s IS NOT NULL AND y IS NOT NULL),
        cells AS (SELECT s, COUNT(*) AS c, SUM(y) AS p
          FROM base GROUP BY s),
        tot AS (SELECT SUM(c) AS nt, SUM(p) AS np FROM cells),
        cum AS (SELECT s,
            SUM(c) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge,
            SUM(p) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pge
          FROM cells),
        costs AS (SELECT s, cge, pge, nt, np,
            $costFp * (cge - pge) + $costFn * (np - pge) AS cost
          FROM cum CROSS JOIN tot),
        mn AS (SELECT MIN(cost) AS m FROM costs)
        SELECT CAST(nt AS BIGINT) AS n, ROUND(s, 6) AS best_threshold,
          CAST(cge - pge AS BIGINT) AS n_fp,
          CAST(np - pge AS BIGINT) AS n_fn,
          CAST(cost AS BIGINT) AS min_cost,
          CAST(LEAST(np * $costFn, (nt - np) * $costFp) AS BIGINT)
            AS baseline_cost
        FROM costs CROSS JOIN mn WHERE cost = mn.m
        ORDER BY s DESC LIMIT 1"""

  /** DuckDB twin of [[wassersteinByGroup]]; `srcCte` yields
    * (g, a, v). */
  def wassersteinByGroupOracleSql(srcCte: String): String =
    s"""WITH base AS (SELECT g,
            CASE WHEN CAST(a AS INT) = 1 THEN 1 ELSE 0 END AS a,
            CAST(v AS DOUBLE) AS v FROM ($srcCte)
          WHERE v IS NOT NULL AND NOT isnan(CAST(v AS DOUBLE))
            AND a IS NOT NULL),
        cells AS (SELECT g, v, SUM(a) AS ca, SUM(1 - a) AS cb
          FROM base GROUP BY g, v),
        cum AS (SELECT g, v,
            SUM(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
            SUM(cb) OVER (PARTITION BY g ORDER BY v) AS cumb,
            SUM(ca) OVER (PARTITION BY g) AS na,
            SUM(cb) OVER (PARTITION BY g) AS nb,
            COALESCE(LEAD(v) OVER (PARTITION BY g ORDER BY v) - v,
              0.0) AS dv
          FROM cells)
        SELECT g AS "group", CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
          CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
          ROUND(CAST(SUM(CAST(ROUND(
            ABS(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
              * dv, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS w1
        FROM cum WHERE na > 0 AND nb > 0
        GROUP BY g ORDER BY "group""""

  /** DuckDB twin of [[varianceRatio]]; `srcCte` yields (arm, v). */
  def varianceRatioOracleSql(srcCte: String, armA: String,
                             armB: String): String =
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
            CAST(SUM(CASE WHEN arm = '$armA' THEN v * v END)
              AS DOUBLE) AS qa,
            CAST(SUM(CASE WHEN arm = '$armB' THEN v * v END)
              AS DOUBLE) AS qb
          FROM src),
        v2 AS (SELECT na, nb,
            (qa - na * (sa / na) * (sa / na)) / (na - 1) AS va,
            (qb - nb * (sb / nb) * (sb / nb)) / (nb - 1) AS vb
          FROM g)
        SELECT na AS n_a, nb AS n_b, ROUND(va, 6) AS var_a,
          ROUND(vb, 6) AS var_b, ROUND(va / vb, 6) AS f_stat
        FROM v2"""
}
