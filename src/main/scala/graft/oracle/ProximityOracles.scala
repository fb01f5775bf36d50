package graft.oracle

// DuckDB twins of the graft.proximity operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.proximity.BinaryQuant]]. */
object BinaryQuantOracle {
  import graft.proximity.BinaryQuant.nWords

  /** DuckDB mirror of [[hammingTopK]] over a parquet-backed embedding
    * table CTE (id, vec). `queryPred` filters ids into the query set. */
  def hammingTopKOracleSql(corpusCte: String, queryPred: String,
                           dim: Int, k: Int): String = {
    val n = nWords(dim)
    s"""WITH corpus AS ($corpusCte),
        d AS (SELECT id, generate_subscripts(vec, 1) AS dd,
            CAST(UNNEST(vec) AS DOUBLE) AS v FROM corpus),
        thr AS (SELECT dd, (MIN(v) + MAX(v)) / 2 AS t
          FROM d GROUP BY dd),
        bits AS (SELECT id, CAST((dd - 1) / 32 AS INT) AS wrd,
            SUM(CASE WHEN v > t
              THEN CAST(1 AS BIGINT) << (
                CASE WHEN CAST((dd - 1) / 32 AS INT) = ${n - 1}
                  THEN ${if (dim % 32 == 0) 32 else dim % 32} ELSE 32 END
                - 1 - ((dd - 1) % 32))
              ELSE 0 END) AS w
          FROM d JOIN thr USING (dd)
          GROUP BY id, CAST((dd - 1) / 32 AS INT)),
        ham AS (SELECT q.id AS query_id, c.id AS cand_id,
            CAST(SUM(bit_count(xor(q.w, c.w))) AS INT) AS hamming
          FROM (SELECT * FROM bits WHERE $queryPred) q
          JOIN bits c ON q.wrd = c.wrd AND q.id != c.id
          GROUP BY q.id, c.id),
        rk AS (SELECT query_id, cand_id, hamming,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, cand_id ASC) AS rank
          FROM ham)
        SELECT query_id, cand_id, hamming, CAST(rank AS INT) AS rank
        FROM rk WHERE rank <= $k"""
  }
}

/** DuckDB twins of [[graft.proximity.EmbedDiagnostics]]. */
object EmbedDiagnosticsOracle {
  /** DuckDB twin of [[anisotropy]]; `vecsCte` must yield v (a list).
    */
  def anisotropyOracleSql(vecsCte: String): String =
    s"""WITH pts0 AS (SELECT list_transform(v, x -> CAST(x AS DOUBLE))
            AS v FROM ($vecsCte) WHERE v IS NOT NULL),
        pts AS (SELECT
            list_transform(v, x -> ROUND(x / SQRT(list_sum(
              list_transform(v, y -> y * y))), 6)) AS q
          FROM pts0),
        ok AS (SELECT q FROM pts
          WHERE len(list_filter(q, x -> x IS NULL OR isnan(x))) = 0),
        rowt AS (SELECT CAST(ROUND(list_sum(
            list_transform(q, x -> x * x)), 6) AS DECIMAL(28,6)) AS t
          FROM ok),
        scal AS (SELECT COUNT(*) AS n, CAST(SUM(t) AS DOUBLE) AS tt
          FROM rowt),
        cells AS (SELECT UNNEST(range(1, len(q) + 1)) AS p,
            UNNEST(q) AS x FROM ok),
        dims AS (SELECT p,
            CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS s
          FROM cells GROUP BY p),
        ssq AS (SELECT COUNT(*) AS dim, SUM(s * s) AS ss FROM dims)
        SELECT CAST(n AS BIGINT) AS n, CAST(dim AS BIGINT) AS dim,
          ROUND((ss - tt) / (CAST(n AS DOUBLE)
            * (CAST(n AS DOUBLE) - 1)), 6) AS mean_cosine
        FROM scal CROSS JOIN ssq"""

  /** DuckDB twin of [[hubness]]; `knnCte` must be a WITH body whose
    * final CTE `knn` yields (id, neighbor_id, distance) and `qs`
    * yields the id universe. */
  def hubnessOracleSql(knnCte: String, k: Int): String =
    s"""WITH $knnCte,
        indeg AS (SELECT qs.vec_id,
            COALESCE(c.c, 0) AS c
          FROM qs LEFT JOIN (SELECT neighbor_id, COUNT(*) AS c
            FROM knn GROUP BY neighbor_id) c
            ON qs.vec_id = c.neighbor_id),
        g AS (SELECT COUNT(*) AS n, MAX(c) AS mx,
            SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS orph,
            CAST(SUM(c) AS DOUBLE) AS s1,
            CAST(SUM(c * c) AS DOUBLE) AS s2,
            CAST(SUM(c * c * c) AS DOUBLE) AS s3
          FROM indeg),
        mo AS (SELECT n, mx, orph, CAST(n AS DOUBLE) AS nd,
            s1 / n AS m, s2, s3 FROM g),
        cm AS (SELECT n, mx, orph, nd, m,
            s2 / nd - m * m AS m2,
            s3 / nd - 3.0 * m * (s2 / nd) + 2.0 * m * m * m AS m3
          FROM mo)
        SELECT CAST(n AS BIGINT) AS n, $k AS k,
          CAST(mx AS BIGINT) AS max_indegree,
          CAST(orph AS BIGINT) AS n_orphans,
          ROUND(CASE WHEN m2 > 0 THEN m3 / (SQRT(m2) * m2) END, 6)
            AS indegree_skew
        FROM cm"""

  /** DuckDB twin of [[lidByLabel]]; `knnCte` as in [[hubnessOracleSql]]
    * with `qs` carrying (vec_id, label). */
  def lidByLabelOracleSql(knnCte: String, k: Int): String =
    s"""WITH $knnCte,
        a AS (SELECT id, COUNT(*) AS kc, MIN(distance) AS dmin,
            MAX(distance) AS dk, SUM(LN(distance)) AS slog
          FROM knn GROUP BY id
          HAVING COUNT(*) = $k AND MIN(distance) > 0),
        lid AS (SELECT id,
            ROUND(CAST($k - 1 AS DOUBLE)
              / (CAST($k AS DOUBLE) * LN(dk) - slog), 6) AS lid
          FROM a)
        SELECT qs.label, COUNT(*) AS n_used,
          ROUND(CAST(SUM(CAST(lid AS DECIMAL(28,6))) AS DOUBLE)
            / COUNT(*), 6) AS mean_lid
        FROM lid JOIN qs ON lid.id = qs.vec_id
        GROUP BY qs.label ORDER BY qs.label"""

  /** DuckDB twin of [[fisherRatio]]; `vecsCte` must yield (label, v).
    */
  def fisherRatioOracleSql(vecsCte: String, topK: Int = 5): String =
    s"""WITH src AS (SELECT label,
            list_transform(v, x -> CAST(ROUND(CAST(x AS DOUBLE), 6)
              AS DECIMAL(9,6))) AS q
          FROM ($vecsCte) WHERE v IS NOT NULL),
        cells AS (SELECT label,
            -- 0-based to match Spark's posexplode (dim is an OUTPUT)
            UNNEST(range(0, len(q))) AS p, UNNEST(q) AS x
          FROM src),
        pc AS (SELECT label, p, COUNT(*) AS n,
            CAST(SUM(x) AS DOUBLE) AS s1,
            CAST(SUM(x * x) AS DOUBLE) AS s2
          FROM cells GROUP BY label, p),
        wm AS (SELECT label, p, n,
            s1 / CAST(n AS DOUBLE) AS m,
            (s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
              * (s1 / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE) AS vw
          FROM pc),
        pd AS (SELECT p, COUNT(*) AS n_classes, SUM(n) AS nt,
            SUM(n * m) AS sm, SUM(n * m * m) AS smm,
            SUM(n * vw) AS svw
          FROM wm GROUP BY p),
        f AS (SELECT p, n_classes,
            smm / CAST(nt AS DOUBLE)
              - (sm / CAST(nt AS DOUBLE)) * (sm / CAST(nt AS DOUBLE))
              AS between_v,
            svw / CAST(nt AS DOUBLE) AS within_v
          FROM pd)
        SELECT CAST(p AS INT) AS dim, n_classes,
          ROUND(CASE WHEN within_v > 0 THEN between_v / within_v END,
            6) AS fisher_ratio
        FROM f ORDER BY fisher_ratio DESC, dim LIMIT $topK"""

  /** DuckDB twin of [[centroidDistances]]; `vecsCte` yields
    * (label, v). */
  def centroidDistancesOracleSql(vecsCte: String): String =
    s"""WITH src AS (SELECT CAST(label AS VARCHAR) AS label,
            list_transform(v, x -> CAST(ROUND(CAST(x AS DOUBLE), 6)
              AS DECIMAL(9,6))) AS q
          FROM ($vecsCte) WHERE v IS NOT NULL),
        cells AS (SELECT label,
            UNNEST(range(1, len(q) + 1)) AS p, UNNEST(q) AS x
          FROM src),
        cent AS (SELECT label, p,
            ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS m
          FROM cells GROUP BY label, p)
        SELECT a.label AS label_a, b.label AS label_b,
          ROUND(SQRT(SUM((a.m - b.m) * (a.m - b.m))), 6) AS dist
        FROM cent a JOIN cent b ON a.p = b.p AND a.label < b.label
        GROUP BY a.label, b.label ORDER BY label_a, label_b"""

  /** DuckDB twin of [[normProfile]]; `vecsCte` yields (label, v). */
  def normProfileOracleSql(vecsCte: String): String =
    s"""WITH src AS (SELECT label,
            ROUND(SQRT(list_sum(list_transform(v,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nm
          FROM ($vecsCte) WHERE v IS NOT NULL)
        SELECT label, COUNT(*) AS n,
          ROUND(CAST(SUM(CAST(nm AS DECIMAL(28,6))) AS DOUBLE)
            / COUNT(*), 6) AS mean_norm,
          ROUND(quantile_cont(nm, 0.5), 6) AS p50_norm,
          ROUND(MAX(nm), 6) AS max_norm
        FROM src GROUP BY label ORDER BY label"""
}

/** DuckDB twins of [[graft.proximity.Embeddings]]. */
object EmbeddingsOracle {
  /** DuckDB twin of [[twoNnIntrinsicDim]]; `vecsCte` yields (id, v)
    * with v a DOUBLE list. */
  def twoNnOracleSql(vecsCte: String): String =
    s"""WITH pts AS (SELECT CAST(id AS BIGINT) AS id,
            [CAST(x AS DOUBLE) FOR x IN v] AS v
          FROM ($vecsCte) WHERE v IS NOT NULL),
        pr AS (SELECT a.id AS ia, b.id AS ib,
            list_sum([(a.v[i] - b.v[i]) * (a.v[i] - b.v[i])
              for i in range(1, len(a.v) + 1)]) AS d2
          FROM pts a JOIN pts b ON a.id != b.id),
        rk AS (SELECT ia, d2,
            ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) AS r
          FROM pr QUALIFY r <= 2),
        mu AS (SELECT ia,
            MIN(CASE WHEN r = 1 THEN d2 END) AS d1,
            MIN(CASE WHEN r = 2 THEN d2 END) AS d2b
          FROM rk GROUP BY ia HAVING MIN(CASE WHEN r = 1 THEN d2 END) > 0),
        s AS (SELECT COUNT(*) AS nu,
            SUM(0.5 * LN(d2b / d1)) AS s FROM mu)
        SELECT (SELECT COUNT(*) FROM pts) AS n_points,
          CAST(nu AS BIGINT) AS n_used,
          ROUND(CASE WHEN s > 0 THEN CAST(nu AS DOUBLE) / s END, 6)
            AS id_mle
        FROM s"""
}

/** DuckDB twins of [[graft.proximity.Graph]]. */
object GraphOracle {
  /** Unrolled ANSI-SQL equivalent of [[labelPropagation]]. */
  def labelPropagationOracleSql(edgesCte: String, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""v$t AS (SELECT e.dst, l.label, COUNT(*) AS n
            FROM eg e JOIN lb${t - 1} l ON e.src = l.id GROUP BY e.dst, l.label),
          b$t AS (SELECT dst, label AS newlab FROM v$t
            QUALIFY row_number() OVER (PARTITION BY dst ORDER BY n DESC, label ASC) = 1),
          lb$t AS MATERIALIZED (SELECT l.id, COALESCE(b.newlab, l.label) AS label
            FROM lb${t - 1} l LEFT JOIN b$t b ON l.id = b.dst)"""
    }.mkString(",\n")
    s"""WITH eg AS MATERIALIZED ($edgesCte),
        nodes AS (SELECT src AS id FROM eg UNION SELECT dst FROM eg),
        lb0 AS (SELECT id, id AS label FROM nodes),
        $rounds
        SELECT id, label FROM lb$iters"""
  }

  /** ANSI-SQL equivalent of [[triangleCount]]. */
  def triangleCountOracleSql(edgesCte: String): String =
    s"""WITH eg AS ($edgesCte),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM eg WHERE src != dst),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1 JOIN und e2 ON e1.b = e2.a
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
        pn AS (SELECT id, COUNT(*) AS triangles
          FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY id)
        SELECT nodes.id, COALESCE(pn.triangles, 0) AS triangles
        FROM nodes LEFT JOIN pn USING (id)"""

  /** Unrolled ANSI-SQL equivalent of [[pageRank]] for a fixed iteration
    * count — the oracle form. `edgesCte` must yield (src, dst). */
  def pageRankOracleSql(edgesCte: String, iters: Int, damping: Double): String = {
    val d = damping
    val n = "(SELECT COUNT(*) FROM nodes)"
    val rounds = (1 to iters).map { t =>
      s"""c$t AS (SELECT e.dst AS id, SUM(p.pr / o.deg) AS c
            FROM eg e JOIN pr${t - 1} p ON e.src = p.id
            JOIN odeg o ON e.src = o.src GROUP BY e.dst),
          d$t AS (SELECT COALESCE(SUM(pr), 0) AS m FROM pr${t - 1}
            WHERE id NOT IN (SELECT src FROM eg)),
          pr$t AS MATERIALIZED (SELECT nodes.id,
            (1 - $d) / $n + $d * (COALESCE(c.c, 0) + (SELECT m FROM d$t) / $n) AS pr
            FROM nodes LEFT JOIN c$t c USING (id))"""
    }.mkString(",\n")
    s"""WITH eg AS MATERIALIZED ($edgesCte),
        nodes AS MATERIALIZED (SELECT src AS id FROM eg UNION SELECT dst FROM eg),
        odeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM eg GROUP BY src),
        pr0 AS (SELECT id, 1.0 / $n AS pr FROM nodes),
        $rounds
        SELECT id, ROUND(pr, 6) AS pagerank FROM pr$iters"""
  }

  /** Unrolled ANSI-SQL equivalent of [[personalizedPageRank]] for a
    * fixed iteration count. `edgesCte` yields (src, dst); `seedsCte`
    * yields (id). */
  def personalizedPageRankOracleSql(edgesCte: String, seedsCte: String,
                                    iters: Int, damping: Double): String = {
    val d = damping
    val rounds = (1 to iters).map { t =>
      s"""c$t AS (SELECT e.dst AS id, SUM(p.pr / o.deg) AS c
            FROM eg e JOIN pr${t - 1} p ON e.src = p.id
            JOIN odeg o ON e.src = o.src GROUP BY e.dst),
          d$t AS (SELECT COALESCE(SUM(pr), 0) AS m FROM pr${t - 1}
            WHERE id NOT IN (SELECT src FROM eg)),
          pr$t AS MATERIALIZED (SELECT ev.id,
            ((1 - $d) + $d * (SELECT m FROM d$t)) * ev.e
              + $d * COALESCE(c.c, 0) AS pr
            FROM ev LEFT JOIN c$t c USING (id))"""
    }.mkString(",\n")
    s"""WITH eg AS MATERIALIZED ($edgesCte),
        nodes AS MATERIALIZED (SELECT src AS id FROM eg UNION SELECT dst FROM eg),
        sd AS (SELECT DISTINCT id FROM ($seedsCte) s
          WHERE id IN (SELECT id FROM nodes)),
        ev AS MATERIALIZED (SELECT nodes.id,
          CASE WHEN nodes.id IN (SELECT id FROM sd)
            THEN 1.0 / (SELECT COUNT(*) FROM sd) ELSE 0 END AS e
          FROM nodes),
        odeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM eg GROUP BY src),
        pr0 AS (SELECT id, e AS pr FROM ev),
        $rounds
        SELECT id, ROUND(pr, 6) AS ppr FROM pr$iters"""
  }

  /** Recursive-CTE equivalent of [[bfsDepths]]. `sourcesCte` must yield
    * a column `id`. */
  def bfsDepthsOracleSql(edgesCte: String, sourcesCte: String, maxHops: Int): String =
    s"""WITH RECURSIVE eg AS ($edgesCte),
        src0 AS ($sourcesCte),
        walk(id, dist) AS (
          SELECT id, 0 FROM src0
          UNION
          SELECT e.dst, w.dist + 1 FROM walk w JOIN eg e ON e.src = w.id
          WHERE w.dist < $maxHops)
        SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id"""

  /** Unrolled-CTE equivalent of [[kcorePeel]] for a fixed round count. */
  def kcorePeelOracleSql(edgesCte: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""d$r AS (SELECT src, COUNT(*) AS d FROM e${r - 1} GROUP BY src),
          k$r AS (SELECT src FROM d$r WHERE d >= $k),
          e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
            WHERE e.src IN (SELECT src FROM k$r)
              AND e.dst IN (SELECT src FROM k$r))"""
    }.mkString(",\n")
    s"""WITH eg AS ($edgesCte),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM eg WHERE src != dst),
        e0 AS (SELECT a AS src, b AS dst FROM und
               UNION ALL SELECT b, a FROM und),
        $steps
        SELECT src AS id, CAST(COUNT(*) AS INT) AS degree
        FROM e$rounds GROUP BY src HAVING COUNT(*) >= $k"""
  }

  /** ANSI-SQL equivalent of [[clusteringCoefficient]]. */
  def clusteringCoefficientOracleSql(edgesCte: String): String =
    s"""WITH eg AS ($edgesCte),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM eg WHERE src != dst),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1 JOIN und e2 ON e1.b = e2.a
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
        pn AS (SELECT id, COUNT(*) AS triangles
          FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY id),
        deg AS (SELECT id, COUNT(*) AS degree FROM
          (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id)
        SELECT d.id, d.degree, COALESCE(pn.triangles, 0) AS triangles,
          ROUND(COALESCE(2.0 * COALESCE(pn.triangles, 0) /
            NULLIF(d.degree * (d.degree - 1), 0), 0.0), 6)
            AS clustering_coeff
        FROM deg d LEFT JOIN pn USING (id)"""

  /** ANSI-SQL equivalent of [[linkPrediction]]. */
  def linkPredictionOracleSql(edgesCte: String): String =
    s"""WITH eg AS ($edgesCte),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM eg WHERE src != dst),
        adj AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
        deg AS (SELECT u AS id, COUNT(*) AS deg FROM adj GROUP BY u),
        paths AS (SELECT e1.u AS a, e2.v AS c,
            COUNT(*) AS common_neighbors,
            SUM(1.0 / LN(dm.deg)) AS aa
          FROM adj e1 JOIN adj e2 ON e1.v = e2.u AND e1.u < e2.v
          JOIN deg dm ON dm.id = e1.v
          GROUP BY e1.u, e2.v),
        nonedge AS (SELECT p.* FROM paths p
          WHERE NOT EXISTS (SELECT 1 FROM und
            WHERE und.a = p.a AND und.b = p.c))
        SELECT n.a AS src, n.c AS dst, n.common_neighbors,
          ROUND(CAST(n.common_neighbors AS DOUBLE) /
            (da.deg + dc.deg - n.common_neighbors), 6) AS jaccard,
          ROUND(n.aa, 6) AS adamic_adar
        FROM nonedge n JOIN deg da ON da.id = n.a
        JOIN deg dc ON dc.id = n.c"""

  /** Recursive-CTE equivalent of [[ssspWeighted]]: path enumeration up
    * to `rounds` hops, then MIN per node — identical left-to-right
    * accumulation of the path sum, so every candidate distance is
    * bit-equal to the Spark fold. `edgesCte` must yield (src, dst, w);
    * `sourcesCte` a column `id`. */
  def ssspWeightedOracleSql(edgesCte: String, sourcesCte: String,
                            rounds: Int): String =
    s"""WITH RECURSIVE eg AS ($edgesCte),
        src0 AS ($sourcesCte),
        walk(id, dist, hops) AS (
          SELECT id, CAST(0 AS DOUBLE), 0 FROM src0
          UNION ALL
          SELECT e.dst, w.dist + e.w, w.hops + 1
          FROM walk w JOIN eg e ON e.src = w.id
          WHERE w.hops < $rounds)
        SELECT id, ROUND(MIN(dist), 6) AS dist FROM walk GROUP BY id"""

  /** DuckDB mirror of [[modularity]] over a labels statement (id,
    * label) — e.g. the [[labelPropagationOracleSql]] output nested as
    * a CTE — and the same edges CTE. */
  def modularityOracleSql(edgesCte: String, labelsStmt: String): String =
    s"""WITH eg AS ($edgesCte),
        lp AS ($labelsStmt),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM eg WHERE src != dst),
        m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und),
        intra AS (SELECT la.label AS community, COUNT(*) AS n_intra
          FROM und JOIN lp la ON und.a = la.id
          JOIN lp lb ON und.b = lb.id
          WHERE la.label = lb.label GROUP BY la.label),
        deg AS (SELECT l.label AS community, COUNT(*) AS n_nodes,
            CAST(SUM(d.d) AS BIGINT) AS deg_sum
          FROM (SELECT id, COUNT(*) AS d FROM (
              SELECT a AS id FROM und UNION ALL SELECT b FROM und)
            GROUP BY id) d
          JOIN lp l ON d.id = l.id GROUP BY l.label)
        SELECT deg.community, deg.n_nodes,
          COALESCE(intra.n_intra, 0) AS n_intra, deg.deg_sum,
          ROUND(COALESCE(intra.n_intra, 0) / m.m -
            (deg.deg_sum / (2.0 * m.m)) * (deg.deg_sum / (2.0 * m.m)), 6)
            AS q_c
        FROM deg LEFT JOIN intra USING (community) CROSS JOIN m"""

  /** DuckDB twin of [[hits]]: the same unrolled power iteration with
    * scalar-subquery L1 norms. */
  def hitsOracleSql(edgesCte: String, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""ar$t AS (SELECT e.dst AS id, SUM(h.h) AS s
            FROM eg e JOIN h${t - 1} h ON e.src = h.id GROUP BY e.dst),
          a$t AS MATERIALIZED (SELECT n.id,
            COALESCE(r.s, 0) / (SELECT SUM(s) FROM ar$t) AS a
            FROM nodes n LEFT JOIN ar$t r USING (id)),
          hr$t AS (SELECT e.src AS id, SUM(a.a) AS s
            FROM eg e JOIN a$t a ON e.dst = a.id GROUP BY e.src),
          h$t AS MATERIALIZED (SELECT n.id,
            COALESCE(r.s, 0) / (SELECT SUM(s) FROM hr$t) AS h
            FROM nodes n LEFT JOIN hr$t r USING (id))"""
    }.mkString(",\n")
    s"""WITH eg0 AS ($edgesCte),
        eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM eg0 WHERE src != dst),
        nodes AS MATERIALIZED (SELECT src AS id FROM eg UNION SELECT dst FROM eg),
        h0 AS (SELECT id, 1.0 AS h FROM nodes),
        $rounds
        SELECT h$iters.id, ROUND(h$iters.h, 6) AS hub,
          ROUND(a$iters.a, 6) AS authority
        FROM h$iters JOIN a$iters ON h$iters.id = a$iters.id"""
  }

  /** DuckDB twin of [[assortativity]]; `edgesCte` must yield
    * (src, dst). */
  def assortativityOracleSql(edgesCte: String): String =
    s"""WITH eg0 AS ($edgesCte),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM eg0 WHERE src != dst),
        sym AS (SELECT a AS src, b AS dst FROM und
          UNION ALL SELECT b, a FROM und),
        deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
        p AS (SELECT CAST(dx.deg AS DOUBLE) AS x,
            CAST(dy.deg AS DOUBLE) AS y
          FROM sym JOIN deg dx ON sym.src = dx.id
          JOIN deg dy ON sym.dst = dy.id),
        m AS (SELECT COUNT(*) AS m2, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy FROM p),
        nn AS (SELECT COUNT(*) AS n_nodes FROM deg)
        SELECT nn.n_nodes, CAST(m.m2 / 2 AS BIGINT) AS n_edges,
          ROUND(CASE WHEN sxx - sx*sx/m2 > 0 AND syy - sy*sy/m2 > 0 THEN
            (sxy - sx*sy/m2) /
              SQRT((sxx - sx*sx/m2) * (syy - sy*sy/m2)) END, 6)
            AS assortativity
        FROM m CROSS JOIN nn"""
}

/** DuckDB twins of [[graft.proximity.JlAudit]]. */
object JlAuditOracle {
  /** DuckDB twin of [[jlDistortion]] over the embeddings table. */
  def jlDistortionOracleSql(k: Int = 16, idCap: Int = 500): String =
    s"""WITH base0 AS (SELECT vec_id,
            list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
          FROM embeddings
          WHERE vec_id < $idCap AND embedding IS NOT NULL),
        base AS (SELECT vec_id, x,
            [list_reduce(list_transform(range(0, len(x)), d ->
               x[d + 1] * CASE WHEN substr(md5(CAST(j AS VARCHAR)
                 || '_' || CAST(d AS VARCHAR)), 1, 1) < '8'
                 THEN 1.0 ELSE -1.0 END),
               (a, b) -> a + b)
             FOR j IN range(0, $k)] AS proj,
            SQRT(list_reduce(list_transform(x, v -> v * v),
              (a, b) -> a + b)) AS nx
          FROM base0),
        b2 AS (SELECT vec_id, x, proj, nx,
            SQRT(list_reduce(list_transform(proj, v -> v * v),
              (a, b) -> a + b)) AS np
          FROM base),
        p AS (SELECT
            list_reduce(list_transform(range(1, len(a.x) + 1), i ->
              a.x[i] * b.x[i]), (s, t) -> s + t)
              / (a.nx * b.nx) AS ct,
            list_reduce(list_transform(range(1, len(a.proj) + 1), i ->
              a.proj[i] * b.proj[i]), (s, t) -> s + t)
              / (a.np * b.np) AS cp
          FROM b2 a JOIN b2 b ON a.vec_id < b.vec_id)
        SELECT GREATEST(LEAST(CAST(FLOOR((ct + 1.0) * 5) AS BIGINT),
            9), 0) AS bucket,
          COUNT(*) AS n_pairs,
          ROUND(AVG(ct), 6) AS mean_true,
          ROUND(AVG(cp), 6) AS mean_proj,
          ROUND(AVG(ABS(ct - cp)), 6) AS mean_abs_err
        FROM p GROUP BY bucket ORDER BY bucket"""
}

/** DuckDB twins of [[graft.proximity.Truss]]. */
object TrussOracle {
  /** DuckDB twin of [[supportHistogram]]; `edgesCte` is a WITH body
    * whose final CTE yields (src, dst). */
  def supportHistogramOracleSql(edgesCte: String,
                                finalCte: String): String =
    s"""WITH $edgesCte,
        canon AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM $finalCte WHERE src <> dst),
        adj AS (SELECT a AS u, b AS v FROM canon
          UNION ALL SELECT b, a FROM canon),
        wedges AS (SELECT l.u AS a, r.v AS b
          FROM adj l JOIN adj r ON l.v = r.u WHERE l.u < r.v),
        sup AS (SELECT w.a, w.b, COUNT(*) AS s
          FROM wedges w JOIN canon c ON w.a = c.a AND w.b = c.b
          GROUP BY w.a, w.b)
        SELECT COALESCE(sup.s, 0) AS support, COUNT(*) AS n_edges
        FROM canon LEFT JOIN sup ON canon.a = sup.a AND canon.b = sup.b
        GROUP BY COALESCE(sup.s, 0) ORDER BY support"""

  /** DuckDB twin of [[richClub]]; `edgesCte`/`finalCte` as in
    * [[supportHistogramOracleSql]]. */
  def richClubOracleSql(edgesCte: String, finalCte: String,
                        ks: Seq[Int]): String = {
    val kList = ks.mkString("[", ", ", "]")
    s"""WITH $edgesCte,
        canon AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b
          FROM $finalCte WHERE src <> dst),
        deg AS (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM canon
          UNION ALL SELECT b FROM canon) GROUP BY id),
        kf AS (SELECT UNNEST($kList) AS k),
        nk AS (SELECT kf.k, COUNT(*) AS n_nodes
          FROM kf JOIN deg ON deg.d > kf.k GROUP BY kf.k),
        ek AS (SELECT kf.k, COUNT(*) AS ne
          FROM kf JOIN canon ON TRUE
          JOIN deg da ON canon.a = da.id AND da.d > kf.k
          JOIN deg db ON canon.b = db.id AND db.d > kf.k
          GROUP BY kf.k)
        SELECT CAST(nk.k AS INT) AS k, nk.n_nodes,
          COALESCE(ek.ne, 0) AS n_edges_within,
          ROUND(CASE WHEN nk.n_nodes > 1 THEN
            2.0 * COALESCE(ek.ne, 0)
              / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1)) END, 6)
            AS phi
        FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY k"""
  }
}
