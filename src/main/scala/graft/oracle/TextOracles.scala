package graft.oracle

// DuckDB twins of the graft.text operators. An unqualified `[[…]]` link
// in a twin's doc names a member of the library object it mirrors.

/** DuckDB twins of [[graft.text.Bursts]]. */
object BurstsOracle {
  /** DuckDB twin of [[termBurstiness]]; `docsCte` yields (id, text). */
  def termBurstinessOracleSql(docsCte: String, minCf: Long,
                              topK: Int): String =
    s"""WITH docs AS ($docsCte),
        dt AS (SELECT id, term, COUNT(*) AS c FROM (
            SELECT id, UNNEST(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS term
            FROM docs)
          GROUP BY id, term),
        nd AS (SELECT CAST(COUNT(DISTINCT id) AS DOUBLE) AS n FROM docs),
        t AS (SELECT term, SUM(c) AS cf, COUNT(*) AS df FROM dt
          GROUP BY term HAVING SUM(c) >= $minCf)
        SELECT term, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
          ROUND(CAST(cf AS DOUBLE) / df, 6) AS burstiness,
          ROUND(nd.n * (1.0 - EXP(-CAST(cf AS DOUBLE) / nd.n)) / df, 6)
            AS clumping
        FROM t CROSS JOIN nd
        ORDER BY burstiness DESC, term LIMIT $topK"""

  /** DuckDB twin of [[termBursts]]; `docsCte` must yield (batch, text). */
  def termBurstsOracleSql(docsCte: String, minCount: Long = 10): String =
    s"""WITH docs AS ($docsCte),
        tb AS (SELECT batch, term, COUNT(*) AS n FROM (
            SELECT batch, UNNEST(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS term
            FROM docs)
          GROUP BY batch, term),
        bv AS (SELECT batch, SUM(n) AS nb FROM tb GROUP BY batch),
        tt AS (SELECT term, SUM(n) AS nt FROM tb GROUP BY term),
        corp AS (SELECT SUM(nb) AS nall FROM bv),
        j AS (SELECT tb.batch, tb.term, tb.n, bv.nb, tt.nt, corp.nall
          FROM tb JOIN bv USING (batch) JOIN tt USING (term)
          CROSS JOIN corp),
        sc AS (SELECT batch, term, n, nt - n AS n_rest,
            CAST(n AS DOUBLE) / nb AS rate_in,
            CAST(nt - n AS DOUBLE) / (nall - nb) AS rate_rest,
            (CAST(n AS DOUBLE) / nb - CAST(nt - n AS DOUBLE) / (nall - nb))
              / SQRT((CAST(nt AS DOUBLE) / nall)
                * (1 - CAST(nt AS DOUBLE) / nall)
                * (1.0 / nb + 1.0 / (nall - nb))) AS z
          FROM j WHERE n >= $minCount AND nall - nb > 0)
        SELECT batch, term, CAST(n AS BIGINT) AS n_in,
          CAST(n_rest AS BIGINT) AS n_rest,
          ROUND(rate_in, 6) AS rate_in, ROUND(rate_rest, 6) AS rate_rest,
          ROUND(z, 6) AS z_burst
        FROM sc WHERE ROUND(z, 6) > 0"""
}

/** DuckDB twins of [[graft.text.CharStats]]. */
object CharStatsOracle {
  /** DuckDB twin of [[charEntropyProfile]] over the documents table.
    */
  def charEntropyProfileOracleSql(junkBelow: Double = 2.0): String =
    s"""WITH chars AS (SELECT source, doc_id,
            UNNEST(string_split_regex(lower(text), '')) AS ch
          FROM documents WHERE text IS NOT NULL),
        nz AS (SELECT * FROM chars WHERE length(ch) > 0),
        counts AS (SELECT source, doc_id, ch, COUNT(*) AS c
          FROM nz GROUP BY source, doc_id, ch),
        perdoc AS (SELECT source,
            ROUND(LN(CAST(SUM(c) AS DOUBLE))
              - CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE)
                * LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6)))
                AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS h
          FROM counts GROUP BY source, doc_id)
        SELECT source, COUNT(*) AS n_docs,
          ROUND(CAST(SUM(CAST(h AS DECIMAL(28,6))) AS DOUBLE)
            / COUNT(*), 6) AS mean_h,
          ROUND(quantile_cont(h, 0.5), 6) AS p50_h,
          ROUND(MIN(h), 6) AS min_h,
          ROUND(SUM(CASE WHEN h < $junkBelow THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS share_junk
        FROM perdoc GROUP BY source ORDER BY source"""
}

/** DuckDB twins of [[graft.text.CorpusStats]]. */
object CorpusStatsOracle {
  /** DuckDB twin of [[noveltyCurve]] over the documents table. */
  def noveltyCurveOracleSql(n: Int = 3, grid: Int = 16): String =
    s"""WITH bd AS (SELECT MIN(CAST(doc_id AS BIGINT)) AS lo,
            MAX(CAST(doc_id AS BIGINT))
              - MIN(CAST(doc_id AS BIGINT)) + 1 AS span
          FROM documents),
        toks AS (SELECT
            (CAST(doc_id AS BIGINT) - bd.lo) * $grid // bd.span AS b,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents CROSS JOIN bd),
        sh0 AS (SELECT b,
            UNNEST(CASE WHEN len(ws) < $n THEN
              [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+$n-1], ' ')
                FOR i IN range(1, len(ws) - $n + 2)] END) AS sh
          FROM toks),
        sh AS (SELECT DISTINCT b, sh FROM sh0),
        fb AS (SELECT sh, MIN(b) AS f FROM sh GROUP BY sh)
        SELECT CAST(sh.b AS BIGINT) AS bucket, COUNT(*) AS n_distinct,
          CAST(SUM(CASE WHEN sh.b = fb.f THEN 1 ELSE 0 END) AS BIGINT)
            AS n_new,
          ROUND(SUM(CASE WHEN sh.b = fb.f THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM sh JOIN fb USING (sh)
        GROUP BY sh.b ORDER BY bucket"""

  /** DuckDB twin of [[boilerplateMass]] over the documents table. */
  def boilerplateMassOracleSql(n: Int = 3, minDf: Long = 5L): String =
    s"""WITH toks AS (SELECT doc_id, source,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents),
        inst0 AS (SELECT doc_id, source,
            UNNEST(CASE WHEN len(ws) < $n THEN
              [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+$n-1], ' ')
                FOR i IN range(1, len(ws) - $n + 2)] END) AS sh
          FROM toks),
        -- wordShingles dedupes within a doc; mirror it
        inst AS (SELECT DISTINCT doc_id, source, sh FROM inst0),
        dfq AS (SELECT sh, COUNT(*) AS df
          FROM (SELECT DISTINCT doc_id, sh FROM inst) GROUP BY sh)
        SELECT source, COUNT(*) AS n_instances,
          CAST(SUM(CASE WHEN df >= $minDf THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
          ROUND(SUM(CASE WHEN df >= $minDf THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS boilerplate_share
        FROM inst JOIN dfq USING (sh)
        GROUP BY source ORDER BY source"""

  /** DuckDB twin of [[mixtureApply]] over the documents table. */
  def mixtureApplyOracleSql(targetShares: Map[String, Double],
                            cap: Double = 3.0): String = {
    val cases = targetShares.toSeq.sortBy(_._1).map { case (s, p) =>
      s"WHEN source = '$s' THEN $p" }.mkString(" ")
    s"""WITH base AS (SELECT source, doc_id AS id,
            CAST(len(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS BIGINT) AS tok
          FROM documents WHERE text IS NOT NULL),
        per AS (SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS n_tokens
          FROM base GROUP BY source),
        tot AS (SELECT SUM(n_tokens) AS t FROM per),
        bud AS (SELECT source, n_docs, n_tokens,
            ROUND(LEAST(ROUND(CASE $cases ELSE 0.0 END, 6)
                / ROUND(CAST(n_tokens AS DOUBLE) / t, 6), $cap), 6)
              * n_tokens AS budget
          FROM per CROSS JOIN tot),
        ranked AS (SELECT source, id, tok,
            SUM(tok) OVER (PARTITION BY source
              ORDER BY md5(CAST(id AS VARCHAR)), id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM base),
        kept AS (SELECT ranked.source, tok,
            (cum <= bud.budget) AS keep
          FROM ranked JOIN bud USING (source)),
        summary AS (SELECT kept.source,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
              AS n_kept,
            CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT)
              AS tokens_kept
          FROM kept GROUP BY kept.source),
        kt AS (SELECT SUM(tokens_kept) AS k FROM summary)
        SELECT bud.source, bud.n_docs, bud.n_tokens, summary.n_kept,
          summary.tokens_kept,
          ROUND(CAST(summary.tokens_kept AS DOUBLE) / kt.k, 6)
            AS realized_share
        FROM summary JOIN bud USING (source) CROSS JOIN kt
        ORDER BY bud.source"""
  }

  /** DuckDB twin of [[mixtureReweight]] over the documents table. */
  def mixtureReweightOracleSql(targetShares: Map[String, Double],
                               cap: Double = 3.0): String = {
    val cases = targetShares.toSeq.sortBy(_._1).map { case (s, p) =>
      s"WHEN source = '$s' THEN $p" }.mkString(" ")
    s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0))) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL GROUP BY source),
        tot AS (SELECT SUM(n_tokens) AS t FROM per),
        sh AS (SELECT source, n_docs, n_tokens,
            ROUND(CAST(n_tokens AS DOUBLE) / t, 6) AS current_share,
            ROUND(CASE $cases ELSE 0.0 END, 6) AS target_share
          FROM per CROSS JOIN tot),
        w AS (SELECT *, ROUND(LEAST(target_share / current_share,
            $cap), 6) AS weight FROM sh)
        SELECT source, n_docs, n_tokens, current_share, target_share,
          weight,
          CAST(ROUND(weight * n_tokens, 0) AS BIGINT) AS expected_tokens
        FROM w ORDER BY source"""
  }

  /** DuckDB twin of [[tokenFertility]]. */
  def tokenFertilityOracleSql(srcExpr: String, textExpr: String,
                              table: String): String =
    s"""WITH tok AS (SELECT $srcExpr AS source,
            unnest(list_filter(
              string_split_regex(lower(trim($textExpr)), '\\s+'),
              x -> length(x) > 0)) AS term
          FROM $table WHERE $textExpr IS NOT NULL),
        cells AS (SELECT source, CAST(length(term) AS BIGINT) AS len,
            COUNT(*) AS c
          FROM tok GROUP BY source, len),
        cum AS (SELECT source, len, c,
            SUM(c) OVER (PARTITION BY source ORDER BY len) AS cm,
            SUM(c) OVER (PARTITION BY source) AS n,
            SUM(len * c) OVER (PARTITION BY source) AS chars
          FROM cells),
        per AS (SELECT source,
            CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
            ROUND(CAST(ANY_VALUE(chars) AS DOUBLE) / ANY_VALUE(n), 4)
              AS mean_word_len,
            CAST(MIN(CASE WHEN cm * 2 >= n THEN len END) AS BIGINT)
              AS p50_word_len,
            CAST(MIN(CASE WHEN cm * 10 >= n * 9 THEN len END) AS BIGINT)
              AS p90_word_len
          FROM cum GROUP BY source),
        nd AS (SELECT $srcExpr AS source, COUNT(*) AS n_docs
          FROM $table WHERE $textExpr IS NOT NULL GROUP BY source)
        SELECT source, n_docs, n_tokens, mean_word_len, p50_word_len,
          p90_word_len,
          ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS tokens_per_doc
        FROM nd JOIN per USING (source) ORDER BY source"""

  /** DuckDB twin of [[lengthQualityGrid]] — `stopwordsSql` is the
    * bracketed list literal of the same stoplist the Spark side uses. */
  def lengthQualityGridOracleSql(textExpr: String, table: String,
                                 stopwordsSql: String,
                                 lenWidth: Int = 100,
                                 maxBucket: Int = 9): String =
    s"""WITH base AS (SELECT CAST(length($textExpr) AS BIGINT) AS nc,
            list_filter(string_split_regex(lower(trim($textExpr)), '\\s+'),
              x -> length(x) > 0) AS t
          FROM $table WHERE $textExpr IS NOT NULL),
        c AS (SELECT nc, CAST(len(t) AS BIGINT) AS nt,
            CAST(len(list_filter(t,
              x -> list_contains($stopwordsSql, x))) AS BIGINT) AS ns
          FROM base),
        b AS (SELECT LEAST(nc // $lenWidth, $maxBucket) AS len_bucket,
            CASE WHEN nt = 0 THEN 0
                 ELSE LEAST((10 * ns) // nt, $maxBucket) END AS q_bucket,
            nc, nt, ns
          FROM c)
        SELECT len_bucket, q_bucket, COUNT(*) AS n_docs,
          ROUND(CASE WHEN SUM(nt) = 0 THEN 0.0
            ELSE CAST(SUM(ns) AS DOUBLE) / SUM(nt) END, 4)
            AS stopword_ratio,
          ROUND(CAST(SUM(nc) AS DOUBLE) / COUNT(*), 4) AS mean_chars
        FROM b GROUP BY len_bucket, q_bucket
        ORDER BY len_bucket, q_bucket"""

  /** DuckDB twin of [[dupSpanPosition]] over the documents table. */
  def dupSpanPositionOracleSql(n: Int = 3): String =
    s"""WITH toks AS (SELECT doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE text IS NOT NULL),
        st AS (SELECT doc_id, ws, CAST(len(ws) - ${n - 1} AS BIGINT) AS m
          FROM toks WHERE len(ws) >= $n),
        inst0 AS (SELECT doc_id, m,
            UNNEST([struct_pack(
                third := ((i - 1) * 3) // m,
                sh := array_to_string(ws[i:i+${n - 1}], ' '))
              FOR i IN range(1, m + 1)]) AS e
          FROM st),
        inst AS (SELECT doc_id, e.third AS third, e.sh AS sh FROM inst0),
        cells AS (SELECT sh, third, COUNT(*) AS n
          FROM inst GROUP BY sh, third),
        dfq AS (SELECT sh, COUNT(*) AS df
          FROM (SELECT DISTINCT doc_id, sh FROM inst) GROUP BY sh),
        g AS (SELECT third,
            CAST(SUM(n) AS BIGINT) AS n_instances,
            CAST(SUM(CASE WHEN df >= 2 THEN n ELSE 0 END) AS BIGINT)
              AS n_dup_instances
          FROM cells JOIN dfq USING (sh) GROUP BY third)
        SELECT third, n_instances, n_dup_instances,
          ROUND(CAST(n_dup_instances AS DOUBLE) / n_instances, 6)
            AS dup_share
        FROM g ORDER BY third"""

  /** DuckDB twin of [[ngramDfHistogram]] over the documents table. */
  def ngramDfHistogramOracleSql(n: Int = 3): String =
    s"""WITH toks AS (SELECT doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE text IS NOT NULL),
        inst0 AS (SELECT doc_id,
            UNNEST(CASE WHEN len(ws) < $n THEN
              [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+${n - 1}], ' ')
                FOR i IN range(1, len(ws) - ${n - 2})] END) AS sh
          FROM toks),
        per AS (SELECT doc_id, sh, COUNT(*) AS c
          FROM inst0 GROUP BY doc_id, sh),
        sh AS (SELECT sh, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS inst
          FROM per GROUP BY sh),
        b AS (SELECT
            CASE WHEN df = 1 THEN 0 WHEN df = 2 THEN 1
                 WHEN df <= 5 THEN 2 WHEN df <= 10 THEN 3
                 ELSE 4 END AS bucket_order,
            CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
                 WHEN df <= 5 THEN '3-5' WHEN df <= 10 THEN '6-10'
                 ELSE '11+' END AS df_bucket,
            inst
          FROM sh),
        g AS (SELECT bucket_order, df_bucket, COUNT(*) AS n_shingles,
            CAST(SUM(inst) AS BIGINT) AS n_instances
          FROM b GROUP BY bucket_order, df_bucket),
        t AS (SELECT SUM(n_instances) AS tt FROM g)
        SELECT bucket_order, df_bucket, n_shingles, n_instances,
          ROUND(CAST(n_instances AS DOUBLE) / tt, 6) AS instance_share
        FROM g CROSS JOIN t ORDER BY bucket_order"""
}

/** DuckDB twins of [[graft.text.Curriculum]]. */
object CurriculumOracle {
  /** DuckDB mirror of [[curriculumOrder]]: `docsCte` must yield
    * (id, domain, score). */
  def curriculumOracleSql(docsCte: String, nBands: Int): String =
    s"""WITH docs AS ($docsCte),
        banded AS (SELECT id, domain, score,
            CAST(NTILE($nBands) OVER (ORDER BY score ASC, id ASC)
              AS INT) AS band
          FROM docs),
        sr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY band, domain
            ORDER BY score ASC, id ASC) AS srk
          FROM banded),
        pos AS (SELECT id, domain, score, band,
            CAST(ROW_NUMBER() OVER (PARTITION BY band
              ORDER BY srk ASC, domain ASC, id ASC) AS INT) AS band_pos
          FROM sr)
        SELECT id, domain, score, band, band_pos,
          CAST(ROW_NUMBER() OVER (ORDER BY band ASC, band_pos ASC)
            AS INT) AS global_pos
        FROM pos"""
}

/** DuckDB twins of [[graft.text.Distinctive]]. */
object DistinctiveOracle {
  /** DuckDB twin of [[heapsLaw]]; `docsCte` must yield (id, text);
    * the id bounds are re-derived in SQL with the same long math. */
  def heapsLawOracleSql(docsCte: String, grid: Int = 32): String =
    s"""WITH docs AS (SELECT CAST(id AS BIGINT) AS id, text
          FROM ($docsCte)),
        bd AS (SELECT MIN(id) AS lo, MAX(id) - MIN(id) + 1 AS span
          FROM docs),
        lf AS (SELECT (docs.id - bd.lo) * $grid // bd.span AS b,
            UNNEST(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS t
          FROM docs CROSS JOIN bd),
        tb AS (SELECT b, COUNT(*) AS tok FROM lf GROUP BY b),
        nb AS (SELECT b, COUNT(*) AS new FROM
          (SELECT t, MIN(b) AS b FROM lf GROUP BY t) GROUP BY b),
        pts AS (SELECT
            CAST(CAST(ROUND(LN(CAST(SUM(tok) OVER (ORDER BY tb.b)
              AS DOUBLE)), 9) AS DECIMAL(28,9)) * 1000000000
              AS HUGEINT) AS xi,
            CAST(CAST(ROUND(LN(CAST(SUM(COALESCE(new, 0))
                OVER (ORDER BY tb.b) AS DOUBLE)), 9)
              AS DECIMAL(28,9)) * 1000000000 AS HUGEINT) AS yi
          FROM tb LEFT JOIN nb ON tb.b = nb.b),
        gi AS (SELECT COUNT(*) AS k,
            SUM(xi) AS sxi, SUM(yi) AS syi,
            SUM(xi * xi) AS sxxi,
            SUM(yi * yi) AS syyi,
            SUM(xi * yi) AS sxyi
          FROM pts),
        g AS (SELECT k,
            ${LatticeOracle.duckPortableDoubleSigned("sxi")} / 1.0e9 AS sx,
            ${LatticeOracle.duckPortableDoubleSigned("syi")} / 1.0e9 AS sy,
            ${LatticeOracle.duckPortableDoubleSigned("sxxi")} / 1.0e18 AS sxx,
            ${LatticeOracle.duckPortableDoubleSigned("syyi")} / 1.0e18 AS syy,
            ${LatticeOracle.duckPortableDoubleSigned("sxyi")} / 1.0e18 AS sxy
          FROM gi),
        e AS (SELECT k,
            sxx - sx * sx / CAST(k AS DOUBLE) AS cxx,
            syy - sy * sy / CAST(k AS DOUBLE) AS cyy,
            sxy - sx * sy / CAST(k AS DOUBLE) AS cxy,
            sx, sy FROM g)
        SELECT CAST(k AS BIGINT) AS n_buckets,
          ROUND(cxy / cxx, 6) AS beta,
          ROUND(EXP(sy / CAST(k AS DOUBLE)
            - (cxy / cxx) * sx / CAST(k AS DOUBLE)), 6) AS k_coef,
          ROUND(CASE WHEN cxx > 0 AND cyy > 0 THEN
            cxy * cxy / (cxx * cyy) END, 6) AS r2
        FROM e"""

  /** DuckDB twin of [[entropyRate]]; `docsCte` must yield (text). */
  def entropyRateOracleSql(docsCte: String): String =
    s"""WITH docs AS ($docsCte),
        tok AS (SELECT list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0) AS t FROM docs),
        pr AS (SELECT UNNEST([{'w1': t[i], 'w2': t[i+1]}
            for i in range(1, len(t))], recursive := true)
          FROM tok WHERE len(t) >= 2),
        pc AS (SELECT w1, w2, COUNT(*) AS n FROM pr GROUP BY w1, w2),
        tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn,
            CAST(SUM(n) AS BIGINT) AS ni FROM pc),
        hj AS (SELECT SUM(-(n / nn) * LN(n / nn)) AS h
          FROM pc CROSS JOIN tot),
        um AS (SELECT w1, SUM(n) AS c1 FROM pc GROUP BY w1),
        hu AS (SELECT SUM(-(c1 / nn) * LN(c1 / nn)) AS h
          FROM um CROSS JOIN tot)
        SELECT tot.ni AS n_pairs, ROUND(hu.h, 6) AS h_unigram,
          ROUND(hj.h - hu.h, 6) AS h_cond,
          ROUND(CASE WHEN hu.h > 0 THEN
            1.0 - (hj.h - hu.h) / hu.h END, 6) AS redundancy
        FROM tot CROSS JOIN hj CROSS JOIN hu"""

  /** DuckDB twin of [[collocations]]; `docsCte` must yield (text). */
  def collocationsOracleSql(docsCte: String, minCount: Long,
                            topK: Int): String =
    s"""WITH docs AS ($docsCte),
        tok AS (SELECT list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0) AS t FROM docs),
        pr AS (SELECT UNNEST([{'w1': t[i], 'w2': t[i+1]}
            for i in range(1, len(t))], recursive := true)
          FROM tok WHERE len(t) >= 2),
        pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pr GROUP BY w1, w2),
        c1 AS (SELECT w1, SUM(n_pair) AS n_w1 FROM pc GROUP BY w1),
        c2 AS (SELECT w2, SUM(n_pair) AS n_w2 FROM pc GROUP BY w2),
        nt AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS n FROM pc),
        sc AS (SELECT pc.w1, pc.w2, pc.n_pair, c1.n_w1, c2.n_w2,
            2.0 * (
              (CASE WHEN pc.n_pair > 0 THEN CAST(pc.n_pair AS DOUBLE)
                * LN(CAST(pc.n_pair AS DOUBLE)
                  / (CAST(c1.n_w1 AS DOUBLE) * CAST(c2.n_w2 AS DOUBLE)
                    / nt.n)) ELSE 0.0 END) +
              (CASE WHEN c1.n_w1 - pc.n_pair > 0 THEN
                CAST(c1.n_w1 - pc.n_pair AS DOUBLE)
                * LN(CAST(c1.n_w1 - pc.n_pair AS DOUBLE)
                  / (CAST(c1.n_w1 AS DOUBLE)
                    * (nt.n - CAST(c2.n_w2 AS DOUBLE)) / nt.n))
                ELSE 0.0 END) +
              (CASE WHEN c2.n_w2 - pc.n_pair > 0 THEN
                CAST(c2.n_w2 - pc.n_pair AS DOUBLE)
                * LN(CAST(c2.n_w2 - pc.n_pair AS DOUBLE)
                  / ((nt.n - CAST(c1.n_w1 AS DOUBLE))
                    * CAST(c2.n_w2 AS DOUBLE) / nt.n)) ELSE 0.0 END) +
              (CASE WHEN nt.n - c1.n_w1 - c2.n_w2 + pc.n_pair > 0 THEN
                (nt.n - c1.n_w1 - c2.n_w2 + pc.n_pair)
                * LN((nt.n - c1.n_w1 - c2.n_w2 + pc.n_pair)
                  / ((nt.n - CAST(c1.n_w1 AS DOUBLE))
                    * (nt.n - CAST(c2.n_w2 AS DOUBLE)) / nt.n))
                ELSE 0.0 END)) AS g2
          FROM pc JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nt
          WHERE pc.n_pair >= $minCount)
        SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
          CAST(n_w1 AS BIGINT) AS n_w1, CAST(n_w2 AS BIGINT) AS n_w2,
          ROUND(g2, 6) AS g2
        FROM sc ORDER BY g2 DESC, w1, w2 LIMIT $topK"""

  /** DuckDB twin of [[sourceKl]] over the documents table. */
  def sourceKlOracleSql(topK: Int = 2000): String =
    s"""WITH tok AS (SELECT source,
            UNNEST(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS t
          FROM documents),
        vocab AS (SELECT t, COUNT(*) AS cn FROM tok GROUP BY t
          ORDER BY cn DESC, t LIMIT $topK),
        vs AS (SELECT COUNT(*) AS v, SUM(cn) AS nn FROM vocab),
        per AS (SELECT source, tok.t, COUNT(*) AS cs
          FROM tok JOIN vocab ON tok.t = vocab.t
          GROUP BY source, tok.t),
        st AS (SELECT source, SUM(cs) AS ns FROM per GROUP BY source),
        grid AS (SELECT st.source, st.ns, vocab.t, vocab.cn,
            COALESCE(per.cs, 0) AS cs
          FROM st CROSS JOIN vocab
          LEFT JOIN per ON per.source = st.source AND per.t = vocab.t),
        terms AS (SELECT source, ns,
            CAST(ROUND(
              ((cs + 1) / CAST(ns + vs.v AS DOUBLE))
              * LN(((cs + 1) / CAST(ns + vs.v AS DOUBLE))
                / ((cn + 1) / CAST(nn + vs.v AS DOUBLE))), 12)
              AS DECIMAL(20,12)) AS term
          FROM grid CROSS JOIN vs)
        SELECT source, CAST(ANY_VALUE(ns) AS BIGINT) AS n_tokens,
          ROUND(CAST(SUM(term) AS DOUBLE), 6) AS kl
        FROM terms GROUP BY source ORDER BY source"""

  /** DuckDB twin of [[entropyBySource]] over the documents table. */
  def entropyBySourceOracleSql(): String =
    s"""WITH tok AS (SELECT source, list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0) AS t FROM documents),
        pr AS (SELECT source, UNNEST([{'w1': t[i], 'w2': t[i+1]}
            for i in range(1, len(t))], recursive := true)
          FROM tok WHERE len(t) >= 2),
        pc AS (SELECT source, w1, w2, COUNT(*) AS n
          FROM pr GROUP BY source, w1, w2),
        tot AS (SELECT source, SUM(n) AS nn FROM pc GROUP BY source),
        hj AS (SELECT pc.source, CAST(ANY_VALUE(tot.nn) AS BIGINT)
              AS n_pairs,
            CAST(SUM(CAST(ROUND(-(CAST(n AS DOUBLE) / nn)
              * LN(CAST(n AS DOUBLE) / nn), 12) AS DECIMAL(20,12)))
              AS DOUBLE) AS hjv
          FROM pc JOIN tot ON pc.source = tot.source
          GROUP BY pc.source),
        m1 AS (SELECT source, w1, SUM(n) AS c1 FROM pc
          GROUP BY source, w1),
        hu AS (SELECT m1.source,
            CAST(SUM(CAST(ROUND(-(CAST(c1 AS DOUBLE) / nn)
              * LN(CAST(c1 AS DOUBLE) / nn), 12) AS DECIMAL(20,12)))
              AS DOUBLE) AS huv
          FROM m1 JOIN tot ON m1.source = tot.source
          GROUP BY m1.source)
        SELECT hj.source, hj.n_pairs, ROUND(hu.huv, 6) AS h_unigram,
          ROUND(hj.hjv - hu.huv, 6) AS h_cond,
          ROUND(CASE WHEN hu.huv > 0 THEN
            1.0 - (hj.hjv - hu.huv) / hu.huv END, 6) AS redundancy
        FROM hj JOIN hu ON hj.source = hu.source
        ORDER BY hj.source"""

  /** DuckDB twin of [[functionWordCosine]] — `stopwordsSql` is the
    * bracketed list literal of the same stoplist. */
  def functionWordCosineOracleSql(srcExpr: String, textExpr: String,
                                  table: String,
                                  stopwordsSql: String): String =
    s"""WITH tok AS (SELECT $srcExpr AS source,
            unnest(list_filter(
              string_split_regex(lower(trim($textExpr)), '\\s+'),
              x -> list_contains($stopwordsSql, x))) AS w
          FROM $table WHERE $textExpr IS NOT NULL),
        cells AS (SELECT source, w, COUNT(*) AS c
          FROM tok GROUP BY source, w),
        norms AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2
          FROM cells GROUP BY source),
        dots AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(SUM(a.c * b.c) AS BIGINT) AS dot
          FROM cells a JOIN cells b
            ON a.w = b.w AND a.source < b.source
          GROUP BY source_a, source_b)
        SELECT x.source AS source_a, y.source AS source_b,
          ROUND(CAST(COALESCE(dot, 0) AS DOUBLE) /
            (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE))),
            6) AS cosine
        FROM norms x JOIN norms y ON x.source < y.source
        LEFT JOIN dots ON dots.source_a = x.source
          AND dots.source_b = y.source
        ORDER BY source_a, source_b"""
}

/** DuckDB twins of [[graft.text.Doremi]]. */
object DoremiOracle {
  /** Unrolled ANSI-SQL equivalent of [[weights]] for a given step count —
    * the oracle form (each round is one chained CTE; aggregates are legal
    * there, unlike in a recursive CTE's recursive term). `excessCte` must
    * be a CTE body yielding (domain, excess). */
  def oracleSql(excessCte: String, eta: Double, steps: Int,
                smoothing: Double): String = {
    val k = "(SELECT COUNT(*) FROM ex)"
    val init = s"a0 AS (SELECT domain, 1.0 / $k AS alpha FROM ex)"
    val rounds = (1 to steps).map { t =>
      s"""l$t AS (SELECT a.domain, a.alpha * exp($eta * e.excess) AS lam
            FROM a${t - 1} a JOIN ex e USING (domain)),
          a$t AS (SELECT domain,
            (1 - $smoothing) * lam / (SELECT SUM(lam) FROM l$t) + $smoothing / $k AS alpha
            FROM l$t)"""
    }.mkString(",\n")
    s"""WITH ex AS ($excessCte),
        $init,
        $rounds
        SELECT domain, ROUND(alpha, 6) AS weight FROM a$steps"""
  }
}

/** DuckDB twins of [[graft.text.FilterAgreement]]. */
object FilterAgreementOracle {
  /** DuckDB twin of [[c4GopherCells]]. `pagesCte` must be a complete
    * CTE body exposing pages(doc_id, source, text). */
  def c4GopherCellsOracleSql(pagesCte: String, minLineWords: Int = 5,
                             minSentences: Int = 3): String =
    s"""WITH pages AS ($pagesCte),
        c4l AS (SELECT doc_id, text,
            COALESCE(array_to_string(
              list_filter(string_split(text, chr(10)), l ->
                regexp_matches(trim(l), '[.!?"'']$$') AND
                len(string_split_regex(trim(l), '\\s+')) >= $minLineWords
                AND NOT contains(lower(l), 'javascript')),
              chr(10)), '') AS c4_text
          FROM pages),
        c4f AS (SELECT doc_id,
            (length(regexp_replace(c4_text, '[^.!?]', '', 'g'))
               >= $minSentences AND
             NOT contains(lower(text), 'lorem ipsum') AND
             NOT contains(text, '{')) AS c4_pass
          FROM c4l),
        ${GopherOracle.flagsSqlCtes("pages")},
        j AS (SELECT g.source, c4_pass, g.pass_all AS g_pass
          FROM gflags g JOIN c4f USING (doc_id)),
        cells AS (SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN c4_pass AND g_pass THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both,
            CAST(SUM(CASE WHEN c4_pass AND NOT g_pass THEN 1 ELSE 0 END)
              AS BIGINT) AS n_c4_only,
            CAST(SUM(CASE WHEN NOT c4_pass AND g_pass THEN 1 ELSE 0 END)
              AS BIGINT) AS n_gopher_only,
            CAST(SUM(CASE WHEN NOT c4_pass AND NOT g_pass THEN 1 ELSE 0
              END) AS BIGINT) AS n_neither
          FROM j GROUP BY source)
        SELECT source, n_docs, n_both, n_c4_only, n_gopher_only,
          n_neither,
          ROUND(CAST(n_both + n_neither AS DOUBLE) / n_docs, 6)
            AS agree_share,
          ROUND((CAST(n_docs AS DOUBLE) * CAST(n_both + n_neither AS DOUBLE)
              - (CAST(n_both + n_c4_only AS DOUBLE)
                   * CAST(n_both + n_gopher_only AS DOUBLE)
                 + (CAST(n_docs AS DOUBLE) - CAST(n_both + n_c4_only AS DOUBLE))
                   * (CAST(n_docs AS DOUBLE) - CAST(n_both + n_gopher_only AS DOUBLE))))
            / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
               - (CAST(n_both + n_c4_only AS DOUBLE)
                    * CAST(n_both + n_gopher_only AS DOUBLE)
                  + (CAST(n_docs AS DOUBLE) - CAST(n_both + n_c4_only AS DOUBLE))
                    * (CAST(n_docs AS DOUBLE) - CAST(n_both + n_gopher_only AS DOUBLE)))), 6)
            AS kappa
        FROM cells ORDER BY source"""
}

/** DuckDB twins of [[graft.text.Gopher]]. */
object GopherOracle {
  import graft.text.Gopher.stopWords

  /** CTE chain `base → per → flags → gflags`: per-document Gopher rule
    * flags over the CTE `$from(doc_id, source, text)`. `gflags` exposes
    * (doc_id, source, r_wordcount … r_stopwords, pass_all) — the SQL
    * mirror of [[ruleCols]], shared by [[funnelOracleSql]] and the
    * filter-agreement twin so the rule text exists once per engine. */
  def flagsSqlCtes(from: String): String = {
    val stopList = stopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""base AS (SELECT doc_id, source,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS toks,
            text FROM $from),
        per AS (SELECT doc_id, source,
            CAST(len(toks) AS BIGINT) AS nw,
            CAST(list_sum(list_transform(toks, w -> length(w)))
              AS BIGINT) AS sl,
            CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              + (length(text) - length(replace(text, '…', '')))
              AS BIGINT) AS sym,
            list_filter(string_split(text, chr(10)),
              l -> length(trim(l)) > 0) AS lines,
            CAST(len(list_filter(toks,
              w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alphaw,
            len(list_filter($stopList,
              sw -> list_contains(toks, sw))) AS nstop
          FROM base),
        -- integer-lattice rule boundaries (10·x <= 9·n, never x/n
        -- <= 0.9): immune to float-division drift across versions
        flags AS (SELECT doc_id, source,
            (nw >= 50 AND nw <= 100000) AS r_wordcount,
            (nw > 0 AND sl >= 3 * nw AND sl <= 10 * nw) AS r_wordlen,
            (nw > 0 AND 10 * sym <= nw) AS r_symbol,
            (10 * CAST(len(list_filter(lines, l -> trim(l) LIKE '-%'
                OR trim(l) LIKE '*%' OR trim(l) LIKE '•%'))
              AS BIGINT) <= 9 * GREATEST(CAST(len(lines) AS BIGINT), 1))
              AS r_bullet,
            (10 * CAST(len(list_filter(lines, l -> trim(l) LIKE '%...'
                OR trim(l) LIKE '%…'))
              AS BIGINT) <= 3 * GREATEST(CAST(len(lines) AS BIGINT), 1))
              AS r_ellipsis,
            (nw > 0 AND 5 * alphaw >= 4 * nw) AS r_alpha,
            (nstop >= 2) AS r_stopwords
          FROM per),
        gflags AS (SELECT *,
            (r_wordcount AND r_wordlen AND r_symbol AND r_bullet
              AND r_ellipsis AND r_alpha AND r_stopwords) AS pass_all
          FROM flags)"""
  }

  /** DuckDB twin of [[funnel]] over the documents table. */
  def funnelOracleSql(): String =
    s"""WITH docs0 AS (SELECT doc_id, source, text FROM documents),
        ${flagsSqlCtes("docs0")}
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_wordcount,
          CAST(SUM(CASE WHEN r_wordlen THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_wordlen,
          CAST(SUM(CASE WHEN r_symbol THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_symbol,
          CAST(SUM(CASE WHEN r_bullet THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_bullet,
          CAST(SUM(CASE WHEN r_ellipsis THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_ellipsis,
          CAST(SUM(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_alpha,
          CAST(SUM(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_stopwords,
          CAST(SUM(CASE WHEN pass_all THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_all,
          ROUND(SUM(CASE WHEN pass_all THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
        FROM gflags GROUP BY source ORDER BY source"""
}

/** DuckDB twins of [[graft.text.LmScore]]. */
object LmScoreOracle {
  /** DuckDB twin of [[bigramCrossEntropy]] over the documents table. */
  def bigramCrossEntropyOracleSql(k: Double = 0.5): String =
    s"""WITH toks AS (SELECT source,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE text IS NOT NULL),
        t2 AS (SELECT source, ws FROM toks WHERE len(ws) >= 2),
        bi AS (SELECT source,
            UNNEST([ws[i] || chr(1) || ws[i + 1]
              FOR i IN range(1, len(ws))]) AS bg
          FROM t2),
        bia AS (SELECT source, bg, split_part(bg, chr(1), 1) AS a
          FROM bi),
        cb AS (SELECT bg, COUNT(*) AS cab FROM bia GROUP BY bg),
        cc AS (SELECT a, COUNT(*) AS ca FROM bia GROUP BY a),
        v AS (SELECT COUNT(DISTINCT w) AS vz FROM
          (SELECT UNNEST(ws) AS w FROM t2)),
        nd AS (SELECT source, COUNT(*) AS n_docs FROM t2 GROUP BY source),
        terms AS (SELECT bia.source,
            CAST(ROUND(LN((cb.cab + $k) / (cc.ca + $k * v.vz)), 9)
              AS DECIMAL(28,9)) AS t
          FROM bia JOIN cb USING (bg) JOIN cc USING (a) CROSS JOIN v),
        agg AS (SELECT source, COUNT(*) AS n_bigrams,
            CAST(SUM(t) AS DOUBLE) AS lnsum
          FROM terms GROUP BY source)
        SELECT agg.source, CAST(nd.n_docs AS BIGINT) AS n_docs,
          agg.n_bigrams,
          ROUND(-lnsum / n_bigrams / LN(2), 6) AS avg_bits
        FROM agg JOIN nd USING (source) ORDER BY source"""
}

/** DuckDB twins of [[graft.text.Packing]]. */
object PackingOracle {
  /** DuckDB twin of [[snakeShards]]; `manifestCte` must yield
    * (id, sz). */
  def snakeShardsOracleSql(manifestCte: String, nShards: Int): String =
    s"""WITH mf AS (SELECT id,
            COALESCE(CAST(sz AS BIGINT), 0) AS sz FROM ($manifestCte)),
        rk AS (SELECT id, sz,
            ROW_NUMBER() OVER (ORDER BY sz DESC, id) - 1 AS r
          FROM mf),
        asg AS (SELECT sz,
            CASE WHEN (r // $nShards) % 2 = 0 THEN r % $nShards
              ELSE ${nShards - 1} - r % $nShards END AS shard
          FROM rk),
        tot AS (SELECT CAST(SUM(sz) AS DOUBLE) AS t FROM mf)
        SELECT shard, COUNT(*) AS n_items,
          CAST(SUM(sz) AS BIGINT) AS total_size,
          ROUND(CAST(SUM(sz) AS DOUBLE) / (ANY_VALUE(tot.t) / $nShards), 6)
            AS balance
        FROM asg CROSS JOIN tot GROUP BY shard ORDER BY shard"""
}

/** DuckDB twins of [[graft.text.Rake]]. */
object RakeOracle {
  /** DuckDB twin of [[keywordsBySource]] over the documents table. */
  def keywordsOracleSql(stopwordsSql: String, maxLen: Int = 4,
                        topK: Int = 10): String =
    s"""WITH toks AS (SELECT source,
            list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0) AS ws
          FROM documents WHERE text IS NOT NULL),
        inst AS (SELECT source, p AS phrase FROM (
            SELECT source, trim(unnest(string_split(
                array_to_string(list_transform(ws, w ->
                  CASE WHEN list_contains($stopwordsSql, w)
                       THEN '|' ELSE w END), ' '), '|'))) AS p
            FROM toks)
          WHERE length(p) > 0
            AND len(string_split(p, ' ')) <= $maxLen),
        cells AS (SELECT source, phrase, COUNT(*) AS n_occurrences,
            CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
          FROM inst GROUP BY source, phrase),
        pw AS (SELECT source, phrase, n_occurrences, plen,
            unnest(string_split(phrase, ' ')) AS w
          FROM cells),
        wstats AS (SELECT source, w,
            CAST(SUM(n_occurrences) AS BIGINT) AS freq,
            CAST(SUM(n_occurrences * plen) AS BIGINT) AS deg
          FROM pw GROUP BY source, w),
        ws AS (SELECT source, w, (1000000 * deg) // freq AS ws6
          FROM wstats),
        scored AS (SELECT pw.source, pw.phrase,
            MIN(pw.plen) AS n_words,
            MIN(pw.n_occurrences) AS n_occurrences,
            CAST(SUM(ws.ws6) AS BIGINT) AS s6
          FROM pw JOIN ws ON pw.source = ws.source AND pw.w = ws.w
          GROUP BY pw.source, pw.phrase),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY s6 DESC, phrase) AS rank
          FROM scored)
        SELECT source, phrase, n_words, n_occurrences,
          ROUND(CAST(s6 AS DOUBLE) / 1e6, 6) AS score, rank
        FROM ranked WHERE rank <= $topK
        ORDER BY source, rank"""
}

/** DuckDB twins of [[graft.text.Scrub]]. */
object ScrubOracle {
  /** DuckDB twin of [[defectScan]] over the documents table. */
  def defectScanOracleSql(): String =
    s"""WITH f AS (SELECT source,
            (text LIKE '%' || chr(65533) || '%') AS repl,
            regexp_matches(text,
              '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]') AS ctrl,
            regexp_matches(text, '[^\\s]{100}') AS longw,
            (length(text) > 0 AND 2 * (length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g')))
              >= length(text)) AS digith,
            (length(trim(COALESCE(text, ''))) = 0) AS blank
          FROM documents)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN repl THEN 1 ELSE 0 END) AS BIGINT)
            AS n_replacement,
          CAST(SUM(CASE WHEN ctrl THEN 1 ELSE 0 END) AS BIGINT)
            AS n_control,
          CAST(SUM(CASE WHEN longw THEN 1 ELSE 0 END) AS BIGINT)
            AS n_long_word,
          CAST(SUM(CASE WHEN digith THEN 1 ELSE 0 END) AS BIGINT)
            AS n_digit_heavy,
          CAST(SUM(CASE WHEN blank THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blank,
          ROUND(SUM(CASE WHEN repl OR ctrl OR longw OR digith OR blank
            THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
            AS defect_rate
        FROM f GROUP BY source ORDER BY source"""
}

/** DuckDB twins of [[graft.text.StyleDrift]]. */
object StyleDriftOracle {
  /** DuckDB twin of [[charJsMatrix]] over the documents table. */
  def charJsMatrixOracleSql(n: Int = 3): String =
    s"""WITH nm AS (SELECT source AS s,
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents WHERE text IS NOT NULL),
        cells AS (SELECT s, g, COUNT(*) AS c FROM (
            SELECT s, unnest([t[i:i+${n - 1}]
              FOR i IN range(1, length(t) - ${n - 2})]) AS g
            FROM nm WHERE length(t) >= $n)
          GROUP BY s, g),
        totals AS (SELECT s, CAST(SUM(c) AS BIGINT) AS tot
          FROM cells GROUP BY s),
        joint AS (SELECT a.s AS sa, b.s AS sb,
            COUNT(*) AS n_shared_grams,
            SUM(CAST(a.c AS DOUBLE) / ta.tot) AS sp,
            SUM(CAST(b.c AS DOUBLE) / tb.tot) AS sq,
            SUM((CAST(a.c AS DOUBLE) / ta.tot) * log2(
              2.0 * (CAST(a.c AS DOUBLE) / ta.tot)
              / (CAST(a.c AS DOUBLE) / ta.tot
                 + CAST(b.c AS DOUBLE) / tb.tot))) AS term_a,
            SUM((CAST(b.c AS DOUBLE) / tb.tot) * log2(
              2.0 * (CAST(b.c AS DOUBLE) / tb.tot)
              / (CAST(a.c AS DOUBLE) / ta.tot
                 + CAST(b.c AS DOUBLE) / tb.tot))) AS term_b
          FROM cells a
          JOIN cells b ON a.g = b.g AND a.s < b.s
          JOIN totals ta ON a.s = ta.s
          JOIN totals tb ON b.s = tb.s
          GROUP BY a.s, b.s)
        SELECT x.s AS source_a, y.s AS source_b,
          COALESCE(n_shared_grams, 0) AS n_shared_grams,
          ROUND(0.5 * (COALESCE(term_a, 0) + (1.0 - COALESCE(sp, 0)))
            + 0.5 * (COALESCE(term_b, 0) + (1.0 - COALESCE(sq, 0))), 6)
            AS js
        FROM totals x JOIN totals y ON x.s < y.s
        LEFT JOIN joint ON joint.sa = x.s AND joint.sb = y.s
        ORDER BY source_a, source_b"""
}

/** DuckDB twins of [[graft.text.Templates]]. */
object TemplatesOracle {
  /** DuckDB twin of [[sharedPrefixes]]. */
  def sharedPrefixesOracleSql(srcExpr: String, textExpr: String,
                              table: String, k: Int = 8,
                              minDocs: Long = 2L): String =
    s"""WITH g AS (SELECT $srcExpr AS source,
            substr(regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g'),
              1, $k) AS p,
            COUNT(*) AS c
          FROM $table WHERE $textExpr IS NOT NULL GROUP BY source, p),
        nd AS (SELECT $srcExpr AS source, COUNT(*) AS n_docs
          FROM $table WHERE $textExpr IS NOT NULL GROUP BY source),
        top AS (SELECT source, p, c FROM g
          QUALIFY ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY c DESC, p DESC) = 1),
        a AS (SELECT source,
            CAST(SUM(CASE WHEN c >= $minDocs THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup_prefixes,
            CAST(SUM(CASE WHEN c >= $minDocs THEN c ELSE 0 END) AS BIGINT)
              AS docs_in_dup_groups
          FROM g GROUP BY source)
        SELECT source, n_docs, n_dup_prefixes, docs_in_dup_groups,
          ROUND(CAST(docs_in_dup_groups AS DOUBLE) / n_docs, 6)
            AS dup_share,
          top.p AS top_prefix, top.c AS top_count
        FROM nd JOIN a USING (source) JOIN top USING (source)
        ORDER BY source"""

  /** DuckDB twin of [[templatePurity]]. */
  def templatePurityOracleSql(srcExpr: String, textExpr: String,
                              table: String, k: Int = 8): String =
    s"""WITH cells AS (SELECT
            substr(regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g'),
              1, $k) AS p,
            $srcExpr AS s, COUNT(*) AS c
          FROM $table WHERE $textExpr IS NOT NULL GROUP BY p, s),
        fam AS (SELECT p, CAST(SUM(c) AS BIGINT) AS size,
            COUNT(*) AS nsrc, MAX(c) AS top
          FROM cells GROUP BY p HAVING SUM(c) >= 2),
        b AS (SELECT
            CASE WHEN size = 2 THEN 0 WHEN size <= 5 THEN 1
                 ELSE 2 END AS bucket_order,
            CASE WHEN size = 2 THEN '2' WHEN size <= 5 THEN '3-5'
                 ELSE '6+' END AS size_bucket,
            size, nsrc, top
          FROM fam)
        SELECT bucket_order, size_bucket, COUNT(*) AS n_families,
          CAST(SUM(CASE WHEN nsrc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cross_source,
          ROUND(CAST(SUM(CASE WHEN nsrc >= 2 THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*), 6) AS cross_share,
          ROUND(CAST(SUM(top) AS DOUBLE) / SUM(size), 6)
            AS pooled_top_share
        FROM b GROUP BY bucket_order, size_bucket
        ORDER BY bucket_order"""
}

/** DuckDB twins of [[graft.text.VocabStats]]. */
object VocabStatsOracle {
  /** DuckDB twin of [[vocabCoverage]]. */
  def vocabCoverageOracleSql(ks: Seq[Int]): String = {
    val kList = ks.mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT UNNEST(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            x -> length(x) > 0)) AS t
          FROM documents),
        tf AS (SELECT t, COUNT(*) AS f FROM toks GROUP BY t),
        tiers AS (SELECT f, COUNT(*) AS nt FROM tf GROUP BY f),
        tot AS (SELECT SUM(nt) AS terms, SUM(f * nt) AS tokens
          FROM tiers),
        above AS (SELECT b.f AS fb,
            COALESCE(SUM(CASE WHEN t.f > b.f THEN t.nt END), 0) AS ca,
            COALESCE(SUM(CASE WHEN t.f > b.f THEN t.f * t.nt END), 0)
              AS ma
          FROM tiers b LEFT JOIN tiers t ON t.f > b.f
          GROUP BY b.f),
        bounds AS (SELECT tiers.f AS fb, tiers.nt AS ntb, a.ca, a.ma
          FROM tiers JOIN above a ON tiers.f = a.fb),
        kf AS (SELECT UNNEST($kList) AS k),
        hit AS (SELECT kf.k, tot.terms, tot.tokens,
            ROUND(CAST(b.ma + (kf.k - b.ca) * b.fb AS DOUBLE)
              / tot.tokens, 6) AS coverage
          FROM kf JOIN bounds b
            ON b.ca < kf.k AND kf.k <= b.ca + b.ntb
          CROSS JOIN tot),
        over_ AS (SELECT kf.k, tot.terms, tot.tokens, 1.0 AS coverage
          FROM kf CROSS JOIN tot WHERE kf.k > tot.terms)
        SELECT CAST(k AS INT) AS k,
          CAST(terms AS BIGINT) AS n_terms_total,
          CAST(tokens AS BIGINT) AS n_tokens, coverage
        FROM (SELECT * FROM hit UNION ALL SELECT * FROM over_)
        ORDER BY k"""
  }

  /** DuckDB twin of [[oovRate]]; `evalPred` over documents. */
  def oovRateOracleSql(evalPred: String): String =
    s"""WITH toks AS (SELECT $evalPred AS e,
            UNNEST(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> length(x) > 0)) AS t
          FROM documents),
        train AS (SELECT DISTINCT t FROM toks WHERE NOT e),
        ev AS (SELECT toks.t, COUNT(*) AS c FROM toks WHERE e
          GROUP BY toks.t),
        j AS (SELECT ev.c,
            CASE WHEN train.t IS NULL THEN 1 ELSE 0 END AS oov
          FROM ev LEFT JOIN train ON ev.t = train.t)
        SELECT CAST(SUM(c) AS BIGINT) AS n_eval_tokens,
          COUNT(*) AS n_eval_types,
          ROUND(SUM(CASE WHEN oov = 1 THEN c ELSE 0 END)
            / CAST(SUM(c) AS DOUBLE), 6) AS oov_token_rate,
          ROUND(SUM(oov) / CAST(COUNT(*) AS DOUBLE), 6)
            AS oov_type_rate
        FROM j"""
}
