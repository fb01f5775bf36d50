package graft.oracle

// DuckDB twins of the graft.transforms operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.transforms.QuantileNorm]]. */
object QuantileNormOracle {
  /** DuckDB twin of [[quantileNormalize]]; `srcCte` must yield
    * (grp, id, v). */
  def quantileNormalizeOracleSql(srcCte: String, nBins: Int = 100): String =
    s"""WITH src AS ($srcCte),
        r AS (SELECT grp, id, CAST(v AS DOUBLE) AS v,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
            COUNT(*) OVER (PARTITION BY grp) AS n
          FROM src WHERE v IS NOT NULL),
        c AS (SELECT grp, v,
            CAST(FLOOR((rn - 1) * $nBins / n) AS INT) + 1 AS centile
          FROM r),
        g AS (SELECT grp, centile, COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
              AS raw_mean
          FROM c GROUP BY 1, 2),
        t AS (SELECT centile, AVG(raw_mean) AS qn FROM g GROUP BY centile)
        SELECT g.grp, g.centile, g.n, ROUND(g.raw_mean, 6) AS raw_mean,
          ROUND(t.qn, 6) AS qnorm_value
        FROM g JOIN t USING (centile)"""
}
