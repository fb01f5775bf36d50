package graft.oracle

// DuckDB twins of the graft.dedup operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.dedup.Contamination]]. */
object ContaminationOracle {
  /** DuckDB twin of [[evalOverlap]]; mirrors
    * [[graft.functions.Signatures.wordShingles]] tokenization
    * (lowercase, split on whitespace runs, n-word joins). `evalPred`
    * is a SQL boolean over the documents table. */
  def evalOverlapOracleSql(evalPred: String, n: Int = 8,
                           topK: Int = 20): String =
    s"""WITH toks AS (SELECT doc_id, $evalPred AS e,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents),
        sh0 AS (SELECT doc_id, e,
            UNNEST(CASE WHEN len(ws) < $n THEN
              [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+$n-1], ' ')
                FOR i IN range(1, len(ws) - $n + 2)] END) AS sh
          FROM toks),
        sh AS (SELECT DISTINCT doc_id, e, sh FROM sh0),
        train AS (SELECT DISTINCT sh FROM sh WHERE NOT e),
        ev AS (SELECT s.doc_id, s.sh,
            CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM sh s LEFT JOIN train t USING (sh) WHERE s.e)
        SELECT doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(hit) AS BIGINT) AS n_hit,
          ROUND(SUM(hit) / CAST(COUNT(*) AS DOUBLE), 4) AS overlap
        FROM ev GROUP BY doc_id
        ORDER BY overlap DESC, doc_id LIMIT $topK"""

  /** DuckDB twin of [[containmentPairs]]; `pred` filters documents
    * to the same bounded set the engine query uses. */
  def containmentPairsOracleSql(pred: String = "TRUE", n: Int = 3,
                                minC: Double = 0.8): String =
    s"""WITH toks AS (SELECT doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE $pred),
        sh0 AS (SELECT doc_id,
            UNNEST(CASE WHEN len(ws) < $n THEN
              [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+$n-1], ' ')
                FOR i IN range(1, len(ws) - $n + 2)] END) AS sh
          FROM toks),
        sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh
          GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        j AS (SELECT i.doc_a, i.doc_b, sa.sz AS n_a, sb.sz AS n_b,
            i.inter,
            ROUND(i.inter / CAST(sa.sz AS DOUBLE), 4) AS containment,
            ROUND(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4)
              AS jaccard
          FROM inter i
          JOIN sizes sa ON i.doc_a = sa.doc_id
          JOIN sizes sb ON i.doc_b = sb.doc_id)
        SELECT * FROM j
        WHERE containment >= $minC AND jaccard < containment
        ORDER BY doc_a, doc_b"""

  /** DuckDB twin of [[contaminationSweep]]; each benchmark is a
    * (name, SQL predicate over documents). */
  def contaminationSweepOracleSql(benchmarks: Seq[(String, String)],
                                  n: Int = 8): String = {
    val parts = benchmarks.map { case (nm, pred) =>
      s"""SELECT '$nm' AS benchmark, n_eval, mean_overlap,
           n_contaminated FROM (
         WITH toks AS (SELECT doc_id, $pred AS e,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS ws
           FROM documents),
         sh0 AS (SELECT doc_id, e,
             UNNEST(CASE WHEN len(ws) < $n THEN
               [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+$n-1], ' ')
                 FOR i IN range(1, len(ws) - $n + 2)] END) AS sh
           FROM toks),
         sh AS (SELECT DISTINCT doc_id, e, sh FROM sh0),
         train AS (SELECT DISTINCT sh FROM sh WHERE NOT e),
         ev AS (SELECT s.doc_id, COUNT(*) AS nn,
             SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS h
           FROM sh s LEFT JOIN train t USING (sh) WHERE s.e
           GROUP BY s.doc_id)
         SELECT COUNT(*) AS n_eval,
           ROUND(CAST(SUM(CAST(ROUND(CAST(h AS DOUBLE) / nn, 9)
             AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
             AS mean_overlap,
           CAST(SUM(CASE WHEN h * 2 >= nn THEN 1 ELSE 0 END)
             AS BIGINT) AS n_contaminated
         FROM ev)"""
    }.mkString("\n UNION ALL ")
    s"""SELECT * FROM ($parts) ORDER BY benchmark"""
  }
}

/** DuckDB twins of [[graft.dedup.Dedup]]. */
object DedupOracle {
  /** DuckDB twin of [[crossSourceDupShare]]; `docsCte` yields
    * (id, text, src). */
  def crossSourceDupShareOracleSql(docsCte: String, shingleSize: Int = 8,
                                   maxDf: Int = 20): String = {
    val n = shingleSize
    s"""WITH docs AS ($docsCte),
        tok AS (SELECT CAST(id AS BIGINT) AS id, src,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS toks
          FROM docs),
        sh AS (SELECT DISTINCT id, unnest(
            CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
            ELSE [array_to_string(toks[i:i+${n - 1}], ' ')
              for i in range(1, len(toks) - ${n - 2})] END) AS g
          FROM tok),
        rare AS (SELECT g FROM sh GROUP BY g
          HAVING COUNT(*) BETWEEN 2 AND $maxDf),
        lk AS (SELECT sh.id, sh.g FROM sh JOIN rare USING (g)),
        pairs AS (SELECT DISTINCT x.id AS a, y.id AS b
          FROM lk x JOIN lk y ON x.g = y.g AND x.id < y.id),
        j AS (SELECT sa.src AS s1, sb.src AS s2 FROM pairs
          JOIN tok sa ON pairs.a = sa.id
          JOIN tok sb ON pairs.b = sb.id)
        SELECT COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN s1 != s2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cross,
          ROUND(CASE WHEN COUNT(*) > 0 THEN
            CAST(SUM(CASE WHEN s1 != s2 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*) END, 6) AS cross_share
        FROM j"""
  }

  /** DuckDB twin of [[dedupCompleteness]]; `docsCte` yields
    * (id, text). */
  def dedupCompletenessOracleSql(docsCte: String, nA: Int = 5,
                                 nB: Int = 8, maxDf: Int = 20): String = {
    def det(n: Int, tag: String) =
      s"""sh$tag AS (SELECT DISTINCT id, unnest(
            CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
            ELSE [array_to_string(toks[i:i+${n - 1}], ' ')
              for i in range(1, len(toks) - ${n - 2})] END) AS g
          FROM tok),
        rare$tag AS (SELECT g FROM sh$tag GROUP BY g
          HAVING COUNT(*) BETWEEN 2 AND $maxDf),
        lk$tag AS (SELECT sh$tag.id, sh$tag.g FROM sh$tag
          JOIN rare$tag USING (g)),
        p$tag AS (SELECT DISTINCT x.id AS a, y.id AS b
          FROM lk$tag x JOIN lk$tag y ON x.g = y.g AND x.id < y.id)"""
    s"""WITH docs AS ($docsCte),
        tok AS (SELECT CAST(id AS BIGINT) AS id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS toks
          FROM docs),
        ${det(nA, "a")},
        ${det(nB, "b")},
        c AS (SELECT
            (SELECT COUNT(*) FROM pa) AS n_a,
            (SELECT COUNT(*) FROM pb) AS n_b,
            (SELECT COUNT(*) FROM pa JOIN pb USING (a, b)) AS n_both),
        e AS (SELECT n_a, n_b, n_both,
            CAST(FLOOR(CAST((n_a + 1) * (n_b + 1) AS DOUBLE)
              / (n_both + 1) - 1.0) AS BIGINT) AS est FROM c)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          CAST(n_both AS BIGINT) AS n_both,
          est AS est_total_pairs,
          ROUND(CASE WHEN est > 0 THEN
            CAST(n_a AS DOUBLE) / est END, 6) AS recall_a,
          ROUND(CASE WHEN est > 0 THEN
            CAST(n_b AS DOUBLE) / est END, 6) AS recall_b
        FROM e"""
  }

  /** DuckDB twin of [[firstSeenDupShare]]; `docsCte` yields
    * (id, g, text). */
  def firstSeenDupShareOracleSql(docsCte: String): String =
    s"""WITH base AS (SELECT CAST(id AS BIGINT) AS id, g,
            md5(text) AS fp FROM ($docsCte) WHERE text IS NOT NULL),
        fs AS (SELECT fp, MIN(id) AS first_id FROM base GROUP BY fp)
        SELECT base.g AS "group", COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN base.id > fs.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dups,
          ROUND(SUM(CASE WHEN base.id > fs.first_id THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
        FROM base JOIN fs USING (fp)
        GROUP BY base.g ORDER BY "group""""

  /** DuckDB twin of [[dupClusterSizes]]; `docsCte` yields text. */
  def dupClusterSizesOracleSql(docsCte: String): String =
    s"""WITH cl AS (SELECT md5(text) AS fp, COUNT(*) AS cluster_size
          FROM ($docsCte) WHERE text IS NOT NULL GROUP BY fp)
        SELECT cluster_size, COUNT(*) AS n_clusters,
          CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM cl GROUP BY cluster_size ORDER BY cluster_size"""

  /** DuckDB twin of [[jaccardBandSweep]]; `docsCte` yields (id, text).
    */
  def jaccardBandSweepOracleSql(docsCte: String,
                                minBand: Int = 1): String =
    s"""WITH docs AS (SELECT id, list_distinct(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0)) AS w
          FROM ($docsCte)),
        d AS (SELECT id, w FROM docs WHERE len(w) > 0),
        tok AS (SELECT id, unnest(w) AS t FROM d),
        sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY id),
        common AS (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.t = b.t AND a.id < b.id
          GROUP BY a.id, b.id),
        banded AS (SELECT (10 * c) // (sa.sz + sb.sz - c) AS band
          FROM common
          JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib),
        hist AS (SELECT band, COUNT(*) AS n_pairs FROM banded
          WHERE band >= $minBand GROUP BY band)
        SELECT CAST(band AS BIGINT) AS band, n_pairs,
          CAST(SUM(n_pairs) OVER (ORDER BY band DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_or_above
        FROM hist ORDER BY band"""

  /** DuckDB twin of [[dedupSavings]]; `docsCte` yields (id, g, text).
    */
  def dedupSavingsOracleSql(docsCte: String): String =
    s"""WITH base AS (SELECT CAST(id AS BIGINT) AS id, g,
            md5(text) AS fp,
            CAST(len(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS BIGINT) AS tok
          FROM ($docsCte) WHERE text IS NOT NULL),
        fs AS (SELECT fp, MIN(id) AS first_id FROM base GROUP BY fp)
        SELECT base.g AS "group", COUNT(*) AS n_docs,
          CAST(SUM(tok) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN base.id > fs.first_id THEN tok ELSE 0 END)
            AS BIGINT) AS tokens_removed,
          ROUND(SUM(CASE WHEN base.id > fs.first_id THEN tok ELSE 0
            END) / CAST(SUM(tok) AS DOUBLE), 6) AS savings
        FROM base JOIN fs USING (fp)
        GROUP BY base.g ORDER BY "group""""

  /** DuckDB twin of [[dupAttribution]] over the documents table. */
  def dupAttributionOracleSql(prefixChars: Int = 0): String = {
    val norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    val fp = if (prefixChars > 0) s"md5(substr($norm, 1, $prefixChars))"
             else s"md5($norm)"
    s"""WITH g AS (SELECT $fp AS fp,
            source AS src, doc_id AS id
          FROM documents),
        cells AS (SELECT fp, src, COUNT(*) AS n, MIN(id) AS mid
          FROM g GROUP BY fp, src),
        w AS (SELECT fp, src AS winner_source FROM cells
          QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY mid) = 1)
        SELECT winner_source, src AS dup_source,
          CAST(SUM(n - CASE WHEN src = winner_source THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_rows
        FROM cells JOIN w USING (fp)
        GROUP BY winner_source, dup_source
        HAVING SUM(n - CASE WHEN src = winner_source THEN 1 ELSE 0 END) > 0
        ORDER BY winner_source, dup_source"""
  }
}

/** DuckDB twins of [[graft.dedup.LeakageSplit]]. */
object LeakageSplitOracle {
  /** DuckDB twin of [[leakageSafeSplit]]; `docsCte` must yield
    * (id, text). Shingles, min-label rounds, and the md5 fold are
    * re-derived identically. */
  def leakageSafeSplitOracleSql(docsCte: String, shingleSize: Int = 8,
                                maxDf: Int = 5, iters: Int = 4,
                                trainFraction: Double = 0.8,
                                seed: Long = 42L): String = {
    val cut = f"${math.min((trainFraction * 4294967296L).toLong, 4294967295L)}%08x"
    val n = shingleSize
    val rounds = (1 to iters).map { t =>
      s"""nm$t AS (SELECT e.a, MIN(l.label) AS nl
            FROM sym e JOIN lb${t - 1} l ON e.b = l.id GROUP BY e.a),
          lb$t AS MATERIALIZED (SELECT l.id,
              LEAST(l.label, COALESCE(nm$t.nl, l.label)) AS label
            FROM lb${t - 1} l LEFT JOIN nm$t ON l.id = nm$t.a)"""
    }.mkString(",\n")
    s"""WITH docs AS ($docsCte),
        tok AS (SELECT CAST(id AS BIGINT) AS id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS toks
          FROM docs),
        sh0 AS (SELECT id, CASE WHEN len(toks) < $n
              THEN [array_to_string(toks, ' ')]
            ELSE [array_to_string(toks[i:i+${n - 1}], ' ')
              for i in range(1, len(toks) - ${n - 2})] END AS s
          FROM tok),
        sh AS (SELECT DISTINCT id, unnest(s) AS g FROM sh0),
        rare AS (SELECT g FROM sh GROUP BY g
          HAVING COUNT(*) BETWEEN 2 AND $maxDf),
        lk AS (SELECT sh.id, sh.g FROM sh JOIN rare USING (g)),
        edges AS (SELECT DISTINCT x.id AS a, y.id AS b
          FROM lk x JOIN lk y ON x.g = y.g AND x.id < y.id),
        sym AS MATERIALIZED (SELECT a, b FROM edges
          UNION ALL SELECT b, a FROM edges),
        lb0 AS (SELECT id, id AS label FROM tok),
        $rounds,
        asg AS (SELECT id, label,
            CASE WHEN substring(md5(CAST(label AS VARCHAR) || ':$seed'),
              1, 8) < '$cut' THEN 'train' ELSE 'test' END AS split
          FROM lb$iters),
        cross_cnt AS (SELECT COALESCE(SUM(CASE WHEN sa.split != sb.split
              THEN 1 ELSE 0 END), 0) AS n_cross_pairs
          FROM edges e JOIN asg sa ON e.a = sa.id
          JOIN asg sb ON e.b = sb.id)
        SELECT split, COUNT(*) AS n_docs,
          COUNT(DISTINCT label) AS n_components,
          CAST(ANY_VALUE(c.n_cross_pairs) AS BIGINT) AS n_cross_pairs
        FROM asg CROSS JOIN cross_cnt c GROUP BY split"""
  }
}

/** DuckDB twins of [[graft.dedup.ShardExchange]]. */
object ShardExchangeOracle {
  /** DuckDB twin of [[exchangeReport]] for shards split from `table`
    * by `pmod(idExpr, nShards)` with shard_id 's<k>' and ingest order
    * = k; `textExpr` names the text column. */
  def exchangeReportOracleSql(idExpr: String, textExpr: String,
                              table: String, nShards: Int): String =
    s"""WITH docs AS (SELECT CAST($idExpr AS BIGINT) AS id,
            md5(regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g'))
              AS fp,
            CAST($idExpr % $nShards AS INT) AS sh FROM $table),
        man AS (SELECT sh, fp, MIN(id) AS first_id, COUNT(*) AS n_local
          FROM docs GROUP BY sh, fp),
        win AS (SELECT fp, sh AS wsh FROM man
          QUALIFY ROW_NUMBER() OVER (PARTITION BY fp
            ORDER BY sh, first_id) = 1)
        SELECT 's' || CAST(m.sh AS VARCHAR) AS shard_id,
          CAST(SUM(m.n_local) AS BIGINT) AS n_docs,
          COUNT(*) AS n_manifest,
          CAST(SUM(CASE WHEN w.wsh = m.sh THEN 1 ELSE 0 END) AS BIGINT)
            AS n_winners,
          CAST(SUM(CASE WHEN w.wsh <> m.sh THEN 1 ELSE 0 END) AS BIGINT)
            AS n_lost,
          CAST(SUM(m.n_local) - COUNT(*) AS BIGINT) AS n_dup_rows
        FROM man m JOIN win w USING (fp)
        GROUP BY m.sh ORDER BY shard_id"""

  /** DuckDB twin of [[crossShardNearDups]] (brute-force pair join —
    * oracle-bounded input expected); `docsCte` yields (id, text). */
  def crossShardNearDupsOracleSql(docsCte: String, nShards: Int,
                                  threshold: Double): String =
    s"""WITH docs AS (SELECT id, list_distinct(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0)) AS w
          FROM ($docsCte)),
        d AS (SELECT id, w FROM docs WHERE len(w) > 0),
        tok AS (SELECT id, unnest(w) AS t FROM d),
        sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY id),
        common AS (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.t = b.t AND a.id < b.id
          GROUP BY a.id, b.id),
        pairs AS (SELECT ia, ib FROM common
          JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib
          WHERE ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6)
            >= $threshold),
        cl AS (SELECT
            LEAST(ia % $nShards, ib % $nShards) AS shard_x,
            GREATEST(ia % $nShards, ib % $nShards) AS shard_y
          FROM pairs)
        SELECT CAST(shard_x AS INT) AS shard_x,
          CAST(shard_y AS INT) AS shard_y,
          (shard_x = shard_y) AS within, COUNT(*) AS n_pairs
        FROM cl GROUP BY shard_x, shard_y
        ORDER BY shard_x, shard_y"""

  /** DuckDB twin of [[bucketSkew]] over shards split from `table` by
    * `pmod(idExpr, nShards)` (the [[exchangeReport]] construction —
    * the global manifest's bucket histogram is shard-independent). */
  def bucketSkewOracleSql(idExpr: String, textExpr: String,
                          table: String): String =
    s"""WITH fps AS (SELECT DISTINCT
            md5(regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g'))
              AS fp FROM $table),
        per AS (SELECT substr(fp, 1, 2) AS b, COUNT(*) AS n
          FROM fps GROUP BY b),
        ranked AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS r
          FROM per),
        tot AS (SELECT COUNT(*) AS n_buckets,
            CAST(SUM(n) AS BIGINT) AS n_rows,
            CAST(MIN(n) AS BIGINT) AS min_rows,
            CAST(MAX(n) AS BIGINT) AS max_rows FROM per),
        med AS (SELECT MIN(n) AS p50_rows FROM ranked CROSS JOIN tot
          WHERE 2 * r >= tot.n_buckets)
        SELECT tot.n_buckets, tot.n_rows, tot.min_rows,
          CAST(med.p50_rows AS BIGINT) AS p50_rows, tot.max_rows,
          ROUND(CAST(tot.max_rows AS DOUBLE)
            / (CAST(tot.n_rows AS DOUBLE) / tot.n_buckets), 6) AS skew
        FROM tot CROSS JOIN med"""

  /** DuckDB twin of [[shardPairOverlap]] with shards split from
    * `table` by `idExpr % nShards`. */
  def shardPairOverlapOracleSql(idExpr: String, textExpr: String,
                                table: String, nShards: Int): String =
    s"""WITH m AS (SELECT DISTINCT $idExpr % $nShards AS shard,
            md5(regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g'))
              AS fp
          FROM $table),
        sz AS (SELECT shard, COUNT(*) AS n FROM m GROUP BY shard),
        sh AS (SELECT a.shard AS sa, b.shard AS sb, COUNT(*) AS ns
          FROM m a JOIN m b ON a.fp = b.fp AND a.shard < b.shard
          GROUP BY sa, sb)
        SELECT x.shard AS shard_a, y.shard AS shard_b,
          x.n AS n_a, y.n AS n_b,
          COALESCE(ns, 0) AS n_shared,
          ROUND(CAST(COALESCE(ns, 0) AS DOUBLE)
            / (x.n + y.n - COALESCE(ns, 0)), 6) AS jaccard
        FROM sz x JOIN sz y ON x.shard < y.shard
        LEFT JOIN sh ON sa = x.shard AND sb = y.shard
        ORDER BY shard_a, shard_b"""
}

/** DuckDB twins of [[graft.dedup.SketchCalibration]]. */
object SketchCalibrationOracle {
  /** DuckDB twin of [[minhashReliability]] over the documents table. */
  def minhashReliabilityOracleSql(numHashes: Int = 16,
                                  idCap: Int = 200): String =
    s"""WITH base AS (SELECT doc_id,
            list_distinct(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS ws
          FROM documents
          WHERE doc_id < $idCap AND text IS NOT NULL),
        nz AS (SELECT doc_id, ws,
            [list_min(list_transform(ws, s ->
               md5(CAST(i AS VARCHAR) || '|' || s)))
             FOR i IN range(0, $numHashes)] AS mins
          FROM base WHERE len(ws) > 0),
        p AS (SELECT
            CAST(len([1 FOR j IN range(1, $numHashes + 1)
              IF a.mins[j] = b.mins[j]]) AS BIGINT) AS m,
            CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS i,
            CAST(len(list_distinct(list_concat(a.ws, b.ws)))
              AS BIGINT) AS u
          FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
        SELECT (10 * m) // $numHashes AS decile, COUNT(*) AS n_pairs,
          ROUND(AVG(CAST(m AS DOUBLE) / $numHashes), 6) AS mean_est,
          ROUND(AVG(CAST(i AS DOUBLE) / u), 6) AS mean_exact,
          ROUND(AVG(ABS(CAST(m AS DOUBLE) / $numHashes
            - CAST(i AS DOUBLE) / u)), 6) AS mean_abs_err
        FROM p GROUP BY decile ORDER BY decile"""
}

/** DuckDB twins of [[graft.dedup.Winnowing]]. */
object WinnowingOracle {
  import graft.dedup.Winnowing.posPad

  /** DuckDB twin of [[sharedSpectrum]]. */
  def sharedSpectrumOracleSql(k: Int = 3, w: Int = 4,
                              maxDf: Int = 10): String =
    s"""WITH pairs AS (${candidatePairsOracleSql(k, w, 1, maxDf)}),
        spec AS (SELECT n_shared, COUNT(*) AS n_pairs
          FROM pairs GROUP BY n_shared)
        SELECT n_shared, n_pairs,
          CAST(SUM(n_pairs) OVER (ORDER BY n_shared DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_pairs_at_least
        FROM spec ORDER BY n_shared"""

  private def selectedSql(k: Int, w: Int, srcCol: String): String =
    s"""toks AS (SELECT doc_id, $srcCol,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE text IS NOT NULL),
        st AS (SELECT doc_id, $srcCol, ws,
            CAST(len(ws) - ${k - 1} AS BIGINT) AS m
          FROM toks WHERE len(ws) >= ${k + w - 1}),
        keys AS (SELECT doc_id, $srcCol, m,
            [md5(array_to_string(ws[i:i+${k - 1}], ' ')) ||
               lpad(CAST($posPad - i AS VARCHAR), 10, '0')
             FOR i IN range(1, CAST(m AS INT) + 1)] AS ks
          FROM st),
        sel AS (SELECT doc_id, $srcCol, m,
            list_distinct([list_min(ks[s:s+${w - 1}])
              FOR s IN range(1, CAST(m - $w + 2 AS INT))]) AS fps
          FROM keys)"""

  /** DuckDB twin of [[densityBySource]] over the documents table. */
  def densityOracleSql(k: Int = 3, w: Int = 4): String =
    s"""WITH ${selectedSql(k, w, "source")}
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(m) AS BIGINT) AS n_kgrams,
          CAST(SUM(len(fps)) AS BIGINT) AS n_fingerprints,
          ROUND(CAST(SUM(len(fps)) AS DOUBLE) / SUM(m), 6) AS density
        FROM sel GROUP BY source ORDER BY source"""

  /** DuckDB twin of [[candidatePairs]] over the documents table. */
  def candidatePairsOracleSql(k: Int = 3, w: Int = 4, minShared: Int = 2,
                              maxDf: Int = 10): String =
    s"""WITH ${selectedSql(k, w, "source")},
        fpd AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h
          FROM (SELECT doc_id, unnest(fps) AS f FROM sel)),
        dfq AS (SELECT h, COUNT(*) AS df FROM fpd GROUP BY h
          HAVING COUNT(*) BETWEEN 2 AND $maxDf),
        keep AS (SELECT doc_id, fpd.h FROM fpd JOIN dfq USING (h))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          COUNT(*) AS n_shared
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
        ORDER BY id_a, id_b"""
}
