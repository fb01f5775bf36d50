package graft.oracle

import graft.text.Text

/** DuckDB oracle map: for each `SparkEntry.queries` key, the SQL that
  * DuckDB runs on the same parquet tables (`Verify` writes it to
  * `oracle_sql.json`). */
object Oracle {

  /** DuckDB twin of `SparkEntry.snapshotNewDf`. */
  private val snapshotNewSql: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 20 IN (5, 11) THEN text || ' v2 update'
           ELSE text END AS text, source
       FROM documents WHERE doc_id % 20 != 3
       UNION ALL
       SELECT doc_id + 1000000000 AS doc_id, 'new ' || text AS text,
         source
       FROM documents WHERE doc_id % 20 = 7"""

  private val snapshotOldSql: String =
    "SELECT doc_id, text, source FROM documents"

  /** The q39 edge list as a DuckDB CTE body (shared oracle fragment). */
  private def proximityEdgesSql: String =
    s"""WITH ${knnSql("true", "vec_id < 100", 5)},
        mx AS (SELECT CASE WHEN MAX(distance) = 0 THEN 1.0 ELSE MAX(distance) END AS m FROM knn),
        weighted AS (SELECT id AS src, neighbor_id AS dst,
            1 - distance / (SELECT m FROM mx) AS weight FROM knn)
        SELECT src, dst FROM weighted
        QUALIFY row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) <= 2
          OR weight > 0.8"""

  /** Shared oracle CTE: embeddings cast to double + euclidean KNN.
    * Mirrors knnJoin semantics incl. the 1e-6 near-zero clamp. */
  private def knnSql(queryFilter: String, refFilter: String, k: Int): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              label FROM embeddings WHERE $refFilter),
        qs AS (SELECT * FROM e WHERE $queryFilter),
        pairs AS (SELECT qs.vec_id AS id, r.vec_id AS neighbor_id,
            CASE WHEN list_distance(qs.v, r.v) < 1e-6 THEN 0.0
                 ELSE list_distance(qs.v, r.v) END AS distance
          FROM qs CROSS JOIN e r WHERE qs.vec_id != r.vec_id),
        knn AS (SELECT * FROM pairs QUALIFY
          row_number() OVER (PARTITION BY id ORDER BY distance, neighbor_id) <= $k)"""

  /** Cents-lattice column for the exact mean/stddev oracles
    * (mirrors Eda.descriptiveStats' xc: NaN guarded BEFORE the
    * decimal cast, null for NaN). */
  private def latticeXcSql(c: String): String =
    s"""CASE WHEN NOT isnan(CAST($c AS DOUBLE))
        THEN CAST(TRY_CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT) END"""

  /** The four lattice moment aggregates (cnt, s1i, s2i, nanc) over a
    * frame exposing (c0, xc). */
  private val latticeMomentAggs: String =
    """COUNT(xc) AS cnt, SUM(xc) AS s1i, SUM(xc * xc) AS s2i,
       SUM(CASE WHEN isnan(CAST(c0 AS DOUBLE)) THEN 1 ELSE 0 END)
         AS nanc"""

  /** Engine-portable mean of the lattice moments — the identical
    * expression tree Eda.descriptiveStats builds on the Spark side. */
  private def latticeMeanSql(cnt: String, s1i: String,
                             nanc: String): String =
    s"""CASE WHEN $nanc > 0 THEN CAST('NaN' AS DOUBLE)
        WHEN $cnt > 0 THEN
          (${LatticeOracle.duckPortableDoubleSigned(s1i)} / 100.0)
            / CAST($cnt AS DOUBLE) END"""

  /** Engine-portable sample stddev of the lattice moments. */
  private def latticeStdSql(cnt: String, s1i: String, s2i: String,
                            nanc: String): String = {
    val pdd = LatticeOracle.duckPortableDoubleSigned _
    s"""CASE WHEN $nanc > 0 THEN CAST('NaN' AS DOUBLE)
        WHEN $cnt >= 2 THEN SQRT(GREATEST(
          ((${pdd(s2i)} / 10000.0)
            - (${pdd(s1i)} / 100.0) * (${pdd(s1i)} / 100.0)
              / CAST($cnt AS DOUBLE))
            / (CAST($cnt AS DOUBLE) - 1), 0.0)) END"""
  }

  /** Generated oracle for q226: per-pair corr + n in one aggregate,
    * then the same A&S CDF polynomial and BH tail as
    * [[graft.eda.MultipleTesting.corrSignificance]]. */
  private def corrSignificanceSql: String = {
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE)) AS r_$i, " +
        s"CAST(SUM(CASE WHEN $a IS NOT NULL AND NOT isnan(CAST($a AS DOUBLE)) " +
        s"AND $b IS NOT NULL AND NOT isnan(CAST($b AS DOUBLE)) " +
        s"THEN 1 ELSE 0 END) AS BIGINT) AS n_$i"
    }.mkString(", ")
    val arms = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, r_$i AS r0, n_$i AS n FROM s"
    }.mkString(" UNION ALL ")
    s"""WITH s AS (SELECT $aggs FROM lineitem),
        long AS ($arms),
        wp0 AS (SELECT col_a, col_b, n, r0,
            ABS(r0 * SQRT((n - 2) / (1.0 - r0 * r0))) AS x FROM long),
        wp1 AS (SELECT col_a, col_b, n, r0, x,
            1.0 / (1.0 + 0.2316419 * x) AS kk FROM wp0),
        wp AS (SELECT col_a, col_b, n, ROUND(r0, 6) AS r,
            ROUND(2.0 * (0.3989422804014327 * EXP(-0.5 * x * x) *
              (kk * (0.319381530 + kk * (-0.356563782 +
                kk * (1.781477937 + kk * (-1.821255978 +
                  kk * 1.330274429)))))), 6) AS p_value
          FROM wp1),
        rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value,
            col_a, col_b) AS INT) AS bh_rank FROM wp),
        th AS (SELECT *, ROUND(0.05 * bh_rank / ${pairs.size}.0, 6)
            AS bh_threshold FROM rk),
        cr AS (SELECT MAX(CASE WHEN p_value <= bh_threshold
            THEN bh_rank END) AS c FROM th)
        SELECT col_a, col_b, n, r, p_value, bh_rank, bh_threshold,
          COALESCE(bh_rank <= cr.c, FALSE) AS significant
        FROM th, cr"""
  }

  /** Generated oracle for q227: the q156 chi-square/V template once per
    * declared pair, labeled and unioned. */
  private def cramersVSql: String = {
    val realPairs = Seq(
      ("l_returnflag", "l_linestatus", "l_returnflag", "l_linestatus"),
      ("l_returnflag", "l_linenum_cat", "l_returnflag",
        "CAST(l_linenumber AS VARCHAR)"),
      ("l_linestatus", "l_linenum_cat", "l_linestatus",
        "CAST(l_linenumber AS VARCHAR)"))
    realPairs.map { case (la, lb, ea, eb) =>
      s"""SELECT '$la' AS col_a, '$lb' AS col_b,
          ROUND(chi_obs + (n - e_obs), 6) AS chi2,
          (r - 1) * (c - 1) AS dof,
          ROUND(SQRT((chi_obs + (n - e_obs)) /
            (n * (LEAST(r, c) - 1))), 6) AS cramers_v
        FROM (
          WITH d AS (SELECT $ea AS a, $eb AS b FROM lineitem),
          cells AS (SELECT a, b, COUNT(*) AS n FROM d GROUP BY a, b),
          na AS (SELECT a, SUM(n) AS n_a FROM cells GROUP BY a),
          nb AS (SELECT b, SUM(n) AS n_b FROM cells GROUP BY b),
          nt AS (SELECT SUM(n) AS n_tot FROM cells)
          SELECT
            SUM(POW(n - CAST(n_a AS DOUBLE) * n_b / n_tot, 2) /
              (CAST(n_a AS DOUBLE) * n_b / n_tot)) AS chi_obs,
            SUM(CAST(n_a AS DOUBLE) * n_b / n_tot) AS e_obs,
            ANY_VALUE(n_tot) AS n,
            COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c
          FROM cells JOIN na USING (a) JOIN nb USING (b), nt)"""
    }.mkString(" UNION ALL ")
  }

  /** Generated oracle for q215: equi-depth binning + guarded binary
    * entropies per feature, mirroring [[graft.ml.InfoGain.infoGain]]. */
  private def infoGainSql: String = {
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
    val edgeCols = feats.map { c =>
      s"list_transform(quantile_cont(CAST($c AS DOUBLE), " +
        s"[0.2, 0.4, 0.6, 0.8]), x -> ROUND(x, 6)) AS e_$c"
    }.mkString(", ")
    val arms = feats.map { c =>
      val bin = (1 to 4).map(j =>
        s"(CASE WHEN $c > e_$c[$j] THEN 1 ELSE 0 END)").mkString(" + ")
      s"SELECT '$c' AS f, $bin AS b, y FROM base, e"
    }.mkString(" UNION ALL ")
    def h(pos: String, n: String): String =
      s"(CASE WHEN $pos > 0 THEN -($pos / CAST($n AS DOUBLE)) * " +
        s"LN($pos / CAST($n AS DOUBLE)) ELSE 0 END + " +
        s"CASE WHEN $n - $pos > 0 THEN -(($n - $pos) / CAST($n AS DOUBLE)) * " +
        s"LN(($n - $pos) / CAST($n AS DOUBLE)) ELSE 0 END)"
    s"""WITH base AS (SELECT
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
          l_quantity, l_extendedprice, l_discount FROM lineitem),
        e AS (SELECT $edgeCols FROM base),
        long AS ($arms),
        cells AS (SELECT f, b, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
          FROM long GROUP BY f, b),
        tot AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nt,
            CAST(SUM(pos) AS BIGINT) AS post, COUNT(*) AS n_bins
          FROM cells GROUP BY f)
        SELECT f AS feature, n_bins,
          ROUND(${h("post", "nt")} -
            SUM(n / CAST(nt AS DOUBLE) * ${h("pos", "n")}), 6) AS info_gain
        FROM cells JOIN tot USING (f)
        GROUP BY f, n_bins, nt, post"""
  }

  /** Generated oracle for q206: the same six stats per shared numeric
    * lineitem column, base vs the post-1995 slice, unpivoted to the
    * [[graft.eda.Profile.profileCompare]] long shape. */
  private def profileCompareSql: String = {
    val cols = Seq("l_discount", "l_extendedprice", "l_linenumber",
      "l_orderkey", "l_partkey", "l_quantity", "l_suppkey", "l_tax")
    def side(name: String, pred: String): String =
      s"$name AS (SELECT CAST(COUNT(*) AS DOUBLE) AS rows_, " +
        cols.map { c =>
          s"CAST(COUNT($c) AS DOUBLE) AS n_$c, " +
            s"AVG(CAST($c AS DOUBLE)) AS mean_$c, " +
            s"stddev_samp(CAST($c AS DOUBLE)) AS std_$c, " +
            s"CAST(MIN($c) AS DOUBLE) AS min_$c, " +
            s"CAST(MAX($c) AS DOUBLE) AS max_$c"
        }.mkString(", ") + s" FROM lineitem $pred)"
    val arms = for {
      c <- cols
      m <- Seq("n", "n_null", "mean", "stddev", "min", "max")
    } yield {
      val (bv, uv) = m match {
        case "n"      => (s"b.n_$c", s"u.n_$c")
        case "n_null" => (s"b.rows_ - b.n_$c", s"u.rows_ - u.n_$c")
        case "mean"   => (s"b.mean_$c", s"u.mean_$c")
        case "stddev" => (s"b.std_$c", s"u.std_$c")
        case "min"    => (s"b.min_$c", s"u.min_$c")
        case "max"    => (s"b.max_$c", s"u.max_$c")
      }
      s"SELECT '$c' AS column_name, '$m' AS metric, " +
        s"ROUND($bv, 6) AS base_value, ROUND($uv, 6) AS curr_value, " +
        s"ROUND(ABS(CAST(($uv) - ($bv) AS DOUBLE)), 6) AS abs_change " +
        "FROM b, u"
    }
    s"WITH ${side("b", "")}, " +
      s"${side("u", "WHERE l_shipdate >= DATE '1995-01-01'")} " +
      arms.mkString(" UNION ALL ")
  }

  /** DSIR per-doc importance weights in portable SQL: unigram+bigram
    * bag, 16-bit md5 hex buckets, add-one smoothing — bit-identical to
    * [[graft.text.Dsir.importanceWeights]]. */
  private val dsirWeightsSql: String =
    """WITH tok AS (SELECT doc_id, source,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> length(x) > 0) AS t
         FROM documents),
       ng AS (SELECT doc_id, source, unnest(
           CASE WHEN len(t) < 2 THEN t
                ELSE t || [t[i] || ' ' || t[i+1] for i in range(1, len(t))] END) AS g
         FROM tok),
       bk AS (SELECT doc_id, source, substr(md5(g), 1, 4) AS b FROM ng),
       rcnt AS (SELECT b, COUNT(*) AS cr FROM bk GROUP BY b),
       tcnt AS (SELECT b, COUNT(*) AS ct FROM bk
         WHERE source IN ('src0', 'src1', 'src2') GROUP BY b),
       tot AS (SELECT (SELECT SUM(cr) FROM rcnt) AS nr,
                      (SELECT COALESCE(SUM(ct), 0) FROM tcnt) AS nt),
       llr AS (SELECT b,
           ln((COALESCE(ct, 0) + 1.0) / (nt + 65536.0)) -
           ln((cr + 1.0) / (nr + 65536.0)) AS w
         FROM rcnt LEFT JOIN tcnt USING (b), tot)
       SELECT doc_id, COUNT(*) AS n_ngrams, ROUND(AVG(w), 4) AS dsir_weight
       FROM bk JOIN llr USING (b) GROUP BY doc_id"""

  /** Shared oracle CTEs for the tag-catalog queries: the pseudo-
    * descriptor stack + the [[graft.functions.TagCatalog.propertyRules]]
    * catalog inlined as VALUES + the per-(id, tag) violation counts. */
  private val tagRulesSql: String =
    """props AS (
         SELECT p_partkey AS id, 'mw' AS property,
           CAST(80 + (p_partkey % 100) * 10 AS DOUBLE) AS value FROM part
         UNION ALL SELECT p_partkey, 'logp', CAST((p_size % 13) - 4 AS DOUBLE) FROM part
         UNION ALL SELECT p_partkey, 'hbd', CAST(p_partkey % 8 AS DOUBLE) FROM part
         UNION ALL SELECT p_partkey, 'hba', CAST(p_partkey % 14 AS DOUBLE) FROM part
         UNION ALL SELECT p_partkey, 'rotbonds', CAST(p_size % 15 AS DOUBLE) FROM part
         UNION ALL SELECT p_partkey, 'tpsa', CAST(p_partkey % 200 AS DOUBLE) FROM part),
       rules(tag, property, lo, hi, min_v, max_v) AS (VALUES
         ('physchem:ro5_compliant', 'mw', -1e18, 500.0, 0, 1),
         ('physchem:ro5_compliant', 'logp', -1e18, 5.0, 0, 1),
         ('physchem:ro5_compliant', 'hbd', -1e18, 5.0, 0, 1),
         ('physchem:ro5_compliant', 'hba', -1e18, 10.0, 0, 1),
         ('physchem:ro5_strict', 'mw', -1e18, 500.0, 0, 0),
         ('physchem:ro5_strict', 'logp', -1e18, 5.0, 0, 0),
         ('physchem:ro5_strict', 'hbd', -1e18, 5.0, 0, 0),
         ('physchem:ro5_strict', 'hba', -1e18, 10.0, 0, 0),
         ('physchem:beyond_ro5', 'mw', -1e18, 500.0, 1, 2),
         ('physchem:beyond_ro5', 'logp', -1e18, 5.0, 1, 2),
         ('physchem:veber_compliant', 'rotbonds', -1e18, 10.0, 0, 0),
         ('physchem:veber_compliant', 'tpsa', -1e18, 140.0, 0, 0),
         ('physchem:lead_like', 'mw', 150.0, 350.0, 0, 0),
         ('physchem:lead_like', 'logp', -3.0, 3.5, 0, 0),
         ('physchem:fragment_like', 'mw', -1e18, 300.0, 0, 0),
         ('physchem:fragment_like', 'logp', -1e18, 3.0, 0, 0),
         ('physchem:fragment_like', 'hbd', -1e18, 3.0, 0, 0),
         ('physchem:fragment_like', 'hba', -1e18, 3.0, 0, 0),
         ('physchem:fragment_like', 'rotbonds', -1e18, 3.0, 0, 0),
         ('curation:exclude:mw_too_low', 'mw', 100.0, 1e18, 1, 1),
         ('curation:exclude:mw_too_high', 'mw', -1e18, 900.0, 1, 1)),
       viol AS (
         SELECT id, tag, ANY_VALUE(min_v) AS min_v, ANY_VALUE(max_v) AS max_v,
           SUM(CASE WHEN value IS NULL OR value < lo OR value > hi
             THEN 1 ELSE 0 END) AS v
         FROM props JOIN rules USING (property) GROUP BY id, tag)"""

  /** DuckDB-runnable oracles; keys/aliases match `SparkEntry.queries`
    * exactly.
    * Omitted keys (q32/q33 — engine-specific hash functions) get only
    * the weaker rows-only check (row count and schema).
    */
  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         ROUND(AVG(l_quantity), 4) AS avg_qty,
         ROUND(AVG(l_discount), 6) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_num_rows" -> "SELECT COUNT(*) AS num_rows FROM lineitem",
    "q03_descriptive_stats" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS column_name, mn AS min, q1v AS q1,
            medv AS median, q3v AS q3, mx AS max,
            ROUND(${latticeMeanSql("cnt", "s1i", "nanc")}, 6) AS mean,
            ROUND(${latticeStdSql("cnt", "s1i", "s2i", "nanc")}, 6)
              AS stddev
          FROM (SELECT CAST(MIN(c0) AS DOUBLE) AS mn,
              ROUND(quantile_cont(c0, 0.25), 6) AS q1v,
              ROUND(quantile_cont(c0, 0.5), 6) AS medv,
              ROUND(quantile_cont(c0, 0.75), 6) AS q3v,
              CAST(MAX(c0) AS DOUBLE) AS mx, $latticeMomentAggs
            FROM (SELECT $c AS c0, ${latticeXcSql(c)} AS xc
              FROM lineitem))""").mkString(" UNION ALL "),
    "q04_count_distinct" ->
      """SELECT COUNT(DISTINCT l_quantity) AS l_quantity,
         COUNT(DISTINCT l_extendedprice) AS l_extendedprice,
         COUNT(DISTINCT l_discount) AS l_discount,
         COUNT(DISTINCT l_tax) AS l_tax,
         COUNT(DISTINCT l_orderkey) AS l_orderkey,
         COUNT(DISTINCT l_returnflag) AS l_returnflag FROM lineitem""",
    "q05_count_nulls" ->
      """SELECT COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS l_quantity,
         COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS l_extendedprice,
         COUNT(CASE WHEN l_discount IS NULL THEN 1 END) AS l_discount,
         COUNT(CASE WHEN l_tax IS NULL THEN 1 END) AS l_tax FROM lineitem""",
    "q06_count_zeros" ->
      """SELECT COUNT(CASE WHEN l_quantity = 0 THEN 1 END) AS l_quantity,
         COUNT(CASE WHEN l_extendedprice = 0 THEN 1 END) AS l_extendedprice,
         COUNT(CASE WHEN l_discount = 0 THEN 1 END) AS l_discount,
         COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS l_tax FROM lineitem""",
    "q07_correlations" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_1, '$b' AS col_2, ROUND(CORR($a, $b), 6) AS correlation FROM lineitem"
      }.mkString(" UNION ALL ")
    },
    "q08_value_counts" ->
      """(SELECT o_orderpriority AS value, COUNT(*) AS count FROM orders
          GROUP BY 1 ORDER BY count DESC, value ASC LIMIT 20)
         UNION ALL
         (SELECT o_orderpriority AS value, COUNT(*) AS count FROM orders
          GROUP BY 1 ORDER BY count ASC, value DESC LIMIT 20)""",
    "q09_outliers" ->
      """WITH b AS (SELECT quantile_cont(c_acctbal, 0.25) AS q1,
                           quantile_cont(c_acctbal, 0.75) AS q3 FROM customer)
         SELECT c_custkey, c_acctbal FROM customer, b
         WHERE c_acctbal < q1 - 1.5 * (q3 - q1) OR c_acctbal > q3 + 1.5 * (q3 - q1)""",
    "q10_snapshot" ->
      """SELECT user_id, event_id, event_type, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1""",
    "q11_column_subset" -> "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "q12_join_view" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "q13_training_view" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal,
         CAST(COALESCE(r.sample_weight, 1.0) AS DOUBLE) AS sample_weight,
         COALESCE(r.validation, false) AS validation
         FROM customer c LEFT JOIN (
           SELECT c_custkey, c_custkey % 7 = 0 AS exclude,
                  c_custkey % 5 = 0 AS validation, 2.0 AS sample_weight
           FROM customer WHERE c_custkey % 2 = 0) r
         ON c.c_custkey = r.c_custkey
         WHERE NOT COALESCE(r.exclude, false)""",
    "q14_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
         FROM orders QUALIFY rank <= 3""",
    "q15_temporal_split" ->
      """SELECT event_id, event_type, value FROM events
         WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-03-01 00:00:00'""",
    "q16_union_dedup" ->
      """SELECT event_id, ANY_VALUE(event_type) AS event_type, ANY_VALUE(value) AS value
         FROM (SELECT event_id, event_type, value FROM events WHERE value > 150
               UNION ALL
               SELECT event_id, event_type, value FROM events WHERE event_type = 'error')
         GROUP BY event_id""",
    "q17_one_hot" ->
      """SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o_orderstatus_f,
         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS o_orderstatus_o,
         CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS o_orderstatus_p
         FROM orders""",
    "q18_confusion_matrix" ->
      """SELECT event_type AS label,
         CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END AS prediction,
         COUNT(*) AS count FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q19_regression_metrics" ->
      """SELECT ROUND(SQRT(AVG((o_totalprice - pred) * (o_totalprice - pred))), 2) AS rmse,
         ROUND(AVG(ABS(o_totalprice - pred)), 2) AS mae,
         ROUND(quantile_cont(ABS(o_totalprice - pred), 0.5), 2) AS medae,
         ROUND(1.0 - SUM((o_totalprice - pred) * (o_totalprice - pred)) /
           (SUM(o_totalprice * o_totalprice) - COUNT(*) * AVG(o_totalprice) * AVG(o_totalprice)), 6) AS r2
         FROM (SELECT o_totalprice,
               o_totalprice * CAST(0.9 AS DOUBLE) + 1000 AS pred FROM orders)""",
    "q20_classification_report" ->
      """WITH cm AS (SELECT event_type AS label,
             CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END AS prediction,
             COUNT(*) AS count FROM events GROUP BY 1, 2),
         actual AS (SELECT label AS class, CAST(SUM(count) AS BIGINT) AS support FROM cm GROUP BY 1),
         predicted AS (SELECT prediction AS class, CAST(SUM(count) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
         tp AS (SELECT label AS class, CAST(count AS BIGINT) AS tp FROM cm WHERE label = prediction)
         SELECT a.class, a.support,
           ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6) AS precision,
           ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6) AS recall,
           ROUND(CASE WHEN ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                         + ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6) = 0 THEN 0
             ELSE 2 * ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                    * ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6)
                  / (ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                     + ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6)) END, 6) AS f1
         FROM actual a LEFT JOIN predicted p ON a.class = p.class
         LEFT JOIN tp t ON a.class = t.class ORDER BY a.class""",
    "q21_top_revenue_orders" ->
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q22_nation_revenue" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q23_time_rollup" ->
      """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q24_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events""",
    "q25_knn_cosine" ->
      """WITH q AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id < 10),
         r AS (SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS re
           FROM embeddings),
         pairs AS (SELECT id, neighbor_id,
             list_dot_product(qe, re) /
             (SQRT(list_dot_product(qe, qe)) * SQRT(list_dot_product(re, re))) AS sim
           FROM q CROSS JOIN r WHERE id != neighbor_id)
         SELECT id, neighbor_id, ROUND(sim, 4) AS similarity FROM pairs
         QUALIFY row_number() OVER (PARTITION BY id ORDER BY sim DESC, neighbor_id) <= 5""",
    "q26_doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""",
    "q27_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
         MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups FROM documents GROUP BY 1""",
    "q28_jaccard_pairs" ->
      """WITH docs AS (SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS w
           FROM documents WHERE doc_id < 200)
         SELECT * FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
                   len(list_distinct(list_concat(a.w, b.w))), 6) AS jaccard
           FROM docs a CROSS JOIN docs b WHERE a.doc_id < b.doc_id)
         WHERE jaccard >= 0.5""",
    "q29_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars_m,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           x -> length(x) > 0)) AS n_words,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
         FROM documents""",
    "q30_quality_signals" -> {
      val en = Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents)
         SELECT doc_id, lang, source, n_chars,
           length(text) AS n_chars_m, len(toks) AS n_words,
           ROUND(CASE WHEN len(toks) = 0 THEN 0
             ELSE list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks)
             END, 4) AS mean_word_len,
           ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
             GREATEST(length(text), 1), 4) AS punct_ratio,
           ROUND(CASE WHEN len(toks) = 0 THEN 0
             ELSE CAST(len(list_filter(toks, x -> list_contains($en, x))) AS DOUBLE) / len(toks)
             END, 4) AS stopword_ratio
         FROM d"""
    },
    "q31_lang_id" -> {
      def ratio(l: String): String = {
        val sw = Text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / GREATEST(len(toks), 1)"
      }
      s"""WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id, ${ratio("de")} AS s_de, ${ratio("en")} AS s_en,
                      ${ratio("es")} AS s_es, ${ratio("fr")} AS s_fr FROM d)
         SELECT doc_id, CASE
           WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
           WHEN s_en > 0 AND s_en >= s_de THEN 'en'
           WHEN s_de > 0 THEN 'de'
           ELSE 'und' END AS lang_pred
         FROM s"""
    },
    "q34_target_health" ->
      """SELECT COUNT(*) AS n_rows,
         COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS n_null,
         ROUND(MIN(o_totalprice), 6) AS min, ROUND(MAX(o_totalprice), 6) AS max,
         ROUND(AVG(o_totalprice), 6) AS mean,
         ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median,
         ROUND(CAST(COUNT(CASE WHEN o_totalprice = (SELECT MIN(o_totalprice) FROM orders)
           THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS min_mass,
         ROUND(CAST(COUNT(CASE WHEN o_totalprice = (SELECT MAX(o_totalprice) FROM orders)
           THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS max_mass
         FROM orders""",
    "q35_detect_drift" -> {
      def side(tag: String, filter: String): String =
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
          s"""SELECT '$c' AS column_name, CAST(MIN($c) AS DOUBLE) AS ${tag}_min,
              CAST(MAX($c) AS DOUBLE) AS ${tag}_max, AVG($c) AS ${tag}_mean
              FROM lineitem $filter""").mkString(" UNION ALL ")
      s"""WITH cur AS (${side("cur", "")}),
          base AS (${side("base", "WHERE l_shipdate < TIMESTAMP '1997-01-01'")})
          SELECT cur.column_name, ROUND(base_mean, 6) AS base_mean,
            ROUND(cur_mean, 6) AS cur_mean,
            ROUND(ABS(cur_mean - base_mean) /
              (CASE WHEN base_max - base_min = 0 THEN 1.0
                    ELSE base_max - base_min END), 6) AS mean_drift,
            ROUND(ABS(cur_mean - base_mean) /
              (CASE WHEN base_max - base_min = 0 THEN 1.0
                    ELSE base_max - base_min END), 6) > 0.1 AS drifted
          FROM cur JOIN base ON cur.column_name = base.column_name"""
    },
    "q36_feature_quality" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS column_name,
            ROUND(CAST(nnul AS DOUBLE) / nall, 6) AS null_frac,
            ROUND(CAST(nzero AS DOUBLE) / nall, 6) AS zero_frac,
            ROUND(CASE WHEN nanc > 0 THEN CAST('NaN' AS DOUBLE)
              WHEN cnt >= 2 THEN GREATEST(
                ((${LatticeOracle.duckPortableDoubleSigned("s2i")}
                    / 10000.0)
                  - (${LatticeOracle.duckPortableDoubleSigned("s1i")}
                      / 100.0)
                    * (${LatticeOracle.duckPortableDoubleSigned("s1i")}
                        / 100.0) / CAST(cnt AS DOUBLE))
                  / (CAST(cnt AS DOUBLE) - 1), 0.0) END, 6) AS variance,
            n_distinct
          FROM (SELECT COUNT(*) AS nall,
              COUNT(CASE WHEN c0 IS NULL THEN 1 END) AS nnul,
              COUNT(CASE WHEN c0 = 0 THEN 1 END) AS nzero,
              COUNT(DISTINCT c0) AS n_distinct, $latticeMomentAggs
            FROM (SELECT $c AS c0, ${latticeXcSql(c)} AS xc
              FROM lineitem))""").mkString(" UNION ALL "),
    "q38_residual_features" ->
      s"""WITH ${knnSql("vec_id < 30", "vec_id < 100", 5)},
          aggs AS (SELECT knn.id, AVG(distance) AS knn_distance,
              AVG(CAST(r.label AS DOUBLE)) AS knn_target_mean,
              STDDEV(CAST(r.label AS DOUBLE)) AS knn_target_std
            FROM knn JOIN e r ON knn.neighbor_id = r.vec_id GROUP BY 1)
          SELECT qs.vec_id AS id, CAST(qs.label AS DOUBLE) AS target,
            ROUND(qs.label * CAST(0.9 AS DOUBLE), 6) AS prediction,
            ROUND(knn_distance, 4) AS knn_distance,
            ROUND(knn_target_mean, 6) AS knn_target_mean,
            ROUND(knn_target_std, 6) AS knn_target_std,
            ROUND(qs.label * CAST(0.9 AS DOUBLE) - knn_target_mean, 4) AS local_pred_gap
          FROM qs LEFT JOIN aggs ON qs.vec_id = aggs.id""",
    "q39_proximity_graph" ->
      s"""WITH ${knnSql("true", "vec_id < 100", 5)},
          mx AS (SELECT CASE WHEN MAX(distance) = 0 THEN 1.0 ELSE MAX(distance) END AS m FROM knn),
          weighted AS (SELECT id AS src, neighbor_id AS dst,
              1 - distance / (SELECT m FROM mx) AS weight FROM knn)
          SELECT src, dst, ROUND(weight, 6) AS weight FROM weighted
          QUALIFY row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) <= 2
            OR weight > 0.8""",
    "q40_laplacian_smoothness" ->
      s"""WITH ${knnSql("true", "vec_id < 100", 5)},
          mx AS (SELECT CASE WHEN MAX(distance) = 0 THEN 1.0 ELSE MAX(distance) END AS m FROM knn),
          weighted AS (SELECT id AS src, neighbor_id AS dst,
              1 - distance / (SELECT m FROM mx) AS weight FROM knn),
          edges AS (SELECT * FROM weighted
            QUALIFY row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) <= 2
              OR weight > 0.8),
          terms AS (SELECT edges.src, edges.dst,
              weight * POW(CAST(a.label AS DOUBLE) - CAST(b.label AS DOUBLE), 2) AS term
            FROM edges JOIN e a ON edges.src = a.vec_id JOIN e b ON edges.dst = b.vec_id),
          per_node AS (SELECT src AS id, SUM(term) AS node_smoothness,
              COUNT(*) AS degree FROM terms GROUP BY 1),
          g AS (SELECT SUM(term) / COUNT(*) AS global_smoothness FROM terms)
          SELECT id, ROUND(node_smoothness, 4) AS node_smoothness, degree,
            ROUND(global_smoothness, 4) AS global_smoothness
          FROM per_node CROSS JOIN g""",
    "q41_target_gradients" ->
      s"""WITH ${knnSql("vec_id < 30", "vec_id < 100", 5)}
          SELECT knn.id, knn.neighbor_id, ROUND(distance, 4) AS feature_diff,
            CAST(b.label AS DOUBLE) - CAST(a.label AS DOUBLE) AS target_diff,
            ROUND(CASE WHEN distance > 0
              THEN ABS(CAST(b.label AS DOUBLE) - CAST(a.label AS DOUBLE)) / distance
              END, 4) AS target_gradient
          FROM knn JOIN e a ON knn.id = a.vec_id JOIN e b ON knn.neighbor_id = b.vec_id""",
    "q42_row_tags" ->
      s"""WITH ${knnSql("true", "vec_id < 100", 5)},
          grads AS (SELECT knn.id,
              MAX(CASE WHEN distance <= 1e-6 THEN 1 ELSE 0 END) AS coinc,
              MAX(CASE WHEN distance > 0 AND
                ABS(CAST(b.label AS DOUBLE) - CAST(a.label AS DOUBLE)) / distance > 2.0
                THEN 1 ELSE 0 END) AS cliff
            FROM knn JOIN e a ON knn.id = a.vec_id JOIN e b ON knn.neighbor_id = b.vec_id
            GROUP BY 1)
          SELECT e.vec_id AS id, concat_ws(',',
            CASE WHEN e.label = 0 THEN 'zero_target' END,
            CASE WHEN COALESCE(coinc, 0) = 1 THEN 'coincident' END,
            CASE WHEN COALESCE(cliff, 0) = 1 THEN 'high_gradient' END) AS tags
          FROM e LEFT JOIN grads ON e.vec_id = grads.id""",
    "q43_landscape_isolated" ->
      s"""WITH ${knnSql("true", "vec_id < 200", 3)},
          nearest AS (SELECT id, MIN(distance) AS nn_distance FROM knn GROUP BY 1),
          cut AS (SELECT quantile_cont(nn_distance, 0.9) AS c FROM nearest)
          SELECT id, ROUND(nn_distance, 4) AS nn_distance FROM nearest
          WHERE nn_distance > (SELECT c FROM cut)""",
    "q48_flatten_json" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS p_k FROM events""",
    "q49_knn_euclidean" ->
      s"""WITH ${knnSql("vec_id < 10", "true", 5)}
          SELECT id, neighbor_id, ROUND(distance, 4) AS distance FROM knn""",
    "q50_knn_ruzicka" ->
      """WITH f AS (SELECT vec_id,
             list_transform(embedding, x -> floor(abs(CAST(x AS DOUBLE) * 20))) AS v
           FROM embeddings WHERE vec_id < 300),
         qs AS (SELECT * FROM f WHERE vec_id < 10),
         sums AS (SELECT qs.vec_id AS id, r.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(qs.v) + 1),
               i -> least(qs.v[i], r.v[i]))) AS smin,
             list_sum(list_transform(range(1, len(qs.v) + 1),
               i -> greatest(qs.v[i], r.v[i]))) AS smax
           FROM qs CROSS JOIN f r WHERE qs.vec_id != r.vec_id),
         pairs AS (SELECT id, neighbor_id,
             1 - CASE WHEN smax = 0 THEN 1.0 ELSE smin / smax END AS d0 FROM sums),
         knn AS (SELECT id, neighbor_id,
             CASE WHEN d0 < 1e-6 THEN 0.0 ELSE d0 END AS distance FROM pairs
           QUALIFY row_number() OVER (PARTITION BY id
             ORDER BY CASE WHEN d0 < 1e-6 THEN 0.0 ELSE d0 END, neighbor_id) <= 5)
         SELECT id, neighbor_id, ROUND(distance, 6) AS distance FROM knn""",
    "q51_multi_task_alignment" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val pairs = for { a <- cols; b <- cols if a < b } yield (a, b)
      pairs.map { case (a, b) =>
        s"""SELECT '$a' AS task_1, '$b' AS task_2,
            ROUND(CORR($a, $b), 6) AS pearson_r,
            ROUND(CAST(COUNT(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL THEN 1 END)
              AS DOUBLE) / COUNT(*), 6) AS coverage FROM lineitem"""
      }.mkString(" UNION ALL ")
    },
    "q52_feature_spider" ->
      s"""WITH ${knnSql("vec_id < 30", "vec_id < 100", 5)},
          aggs AS (SELECT knn.id, AVG(CAST(r.label AS DOUBLE)) AS knn_prediction,
              MAX(CASE WHEN distance <= 1e-6 THEN 1 ELSE 0 END) AS coinc
            FROM knn JOIN e r ON knn.neighbor_id = r.vec_id GROUP BY 1),
          cliffs AS (SELECT knn.id,
              MAX(CASE WHEN distance > 0 AND
                ABS(CAST(b.label AS DOUBLE) - CAST(a.label AS DOUBLE)) / distance > 2.0
                THEN 1 ELSE 0 END) AS cliff
            FROM knn JOIN e a ON knn.id = a.vec_id JOIN e b ON knn.neighbor_id = b.vec_id
            GROUP BY 1)
          SELECT qs.vec_id AS id, CAST(qs.label AS DOUBLE) AS target,
            ROUND(knn_prediction, 6) AS knn_prediction,
            ROUND(ABS(CAST(qs.label AS DOUBLE) - knn_prediction), 6) AS knn_error,
            COALESCE(coinc, 0) = 1 AS coincident,
            COALESCE(cliff, 0) = 1 AS high_gradient
          FROM qs LEFT JOIN aggs ON qs.vec_id = aggs.id
          LEFT JOIN cliffs ON qs.vec_id = cliffs.id""",
    "q53_dedup_clusters" ->
      """WITH RECURSIVE docs AS (SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS w
           FROM documents WHERE doc_id < 200),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM docs a CROSS JOIN docs b WHERE a.doc_id < b.doc_id
             AND ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.w, b.w))), 6) >= 0.7),
         edges AS (SELECT id_a AS src, id_b AS dst FROM p
           UNION SELECT id_b, id_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component
           FROM reach GROUP BY src)
         SELECT doc_id, lang, source FROM docs
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)""",
    "q54_quantile_split" ->
      """SELECT c_custkey, c_acctbal,
         ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quantile
         FROM customer""",
    "q55_column_stats" -> {
      val cols = Seq(("o_orderkey", "bigint"), ("o_custkey", "bigint"),
        ("o_orderstatus", "string"), ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"), ("o_orderpriority", "string"))
      cols.map { case (c, ty) =>
        s"""SELECT '$c' AS column_name, COUNT(DISTINCT $c) AS n_distinct,
            COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
            '$ty' AS dtype FROM orders"""
      }.mkString(" UNION ALL ")
    },
    "q56_stratified_split" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE substr(md5(CAST(c_custkey AS VARCHAR) || ':42'), 1, 8) <
           lower(lpad(to_hex(CAST(floor(0.8 * 4294967296) AS BIGINT)), 8, '0'))""",
    "q57_label_noise" ->
      s"""WITH ${knnSql("true", "vec_id < 100", 5)},
          votes AS (SELECT knn.id, r.label AS nl, COUNT(*) AS n_votes
            FROM knn JOIN e r ON knn.neighbor_id = r.vec_id GROUP BY 1, 2),
          majority AS (SELECT id, nl AS majority_label, n_votes FROM votes
            QUALIFY row_number() OVER (PARTITION BY id
              ORDER BY n_votes DESC, nl ASC) = 1),
          totals AS (SELECT id, COUNT(*) AS k FROM knn GROUP BY 1)
          SELECT e.vec_id AS id, e.label, m.majority_label,
            ROUND(CAST(m.n_votes AS DOUBLE) / t.k, 6) AS agreement,
            e.label != m.majority_label AS noisy
          FROM e JOIN majority m ON e.vec_id = m.id
          JOIN totals t ON e.vec_id = t.id""",
    "q58_fingerprint_tanimoto" ->
      """WITH f AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(abs(CAST(x AS DOUBLE) * 20)) AS INT)) AS v
           FROM embeddings WHERE vec_id < 50),
         q0 AS (SELECT v AS v0 FROM f WHERE vec_id = 0),
         sums AS (SELECT f.vec_id,
             list_sum(list_transform(range(1, len(f.v) + 1),
               i -> CAST(least(f.v[i], v0[i]) AS DOUBLE))) AS smin,
             list_sum(list_transform(range(1, len(f.v) + 1),
               i -> CAST(greatest(f.v[i], v0[i]) AS DOUBLE))) AS smax
           FROM f CROSS JOIN q0)
         SELECT vec_id,
           ROUND(CASE WHEN smax = 0 THEN 1.0 ELSE smin / smax END, 6) AS tanimoto
         FROM sums""",
    "q59_feature_space_knn" ->
      """WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS rid,
             l_quantity, l_extendedprice, l_discount, l_tax
           FROM lineitem WHERE l_orderkey * 10 + l_linenumber < 3000),
         st AS (SELECT AVG(l_quantity) AS mu1, STDDEV(l_quantity) AS sd1,
             AVG(l_extendedprice) AS mu2, STDDEV(l_extendedprice) AS sd2,
             AVG(l_discount) AS mu3, STDDEV(l_discount) AS sd3,
             AVG(l_tax) AS mu4, STDDEV(l_tax) AS sd4 FROM li),
         z AS (SELECT rid,
             (l_quantity - mu1) / (CASE WHEN sd1 = 0 THEN 1 ELSE sd1 END) AS z1,
             (l_extendedprice - mu2) / (CASE WHEN sd2 = 0 THEN 1 ELSE sd2 END) AS z2,
             (l_discount - mu3) / (CASE WHEN sd3 = 0 THEN 1 ELSE sd3 END) AS z3,
             (l_tax - mu4) / (CASE WHEN sd4 = 0 THEN 1 ELSE sd4 END) AS z4
           FROM li CROSS JOIN st),
         pairs AS (SELECT q.rid AS id, r.rid AS neighbor_id,
             SQRT((q.z1 - r.z1) * (q.z1 - r.z1) + (q.z2 - r.z2) * (q.z2 - r.z2)
               + (q.z3 - r.z3) * (q.z3 - r.z3) + (q.z4 - r.z4) * (q.z4 - r.z4)) AS d0
           FROM z q CROSS JOIN z r WHERE q.rid < 150 AND q.rid != r.rid),
         knn AS (SELECT id, neighbor_id,
             CASE WHEN d0 < 1e-6 THEN 0.0 ELSE d0 END AS distance FROM pairs
           QUALIFY row_number() OVER (PARTITION BY id
             ORDER BY CASE WHEN d0 < 1e-6 THEN 0.0 ELSE d0 END, neighbor_id) <= 5)
         SELECT id, neighbor_id, ROUND(distance, 4) AS distance FROM knn""",
    "q60_radius_neighbors" ->
      s"""WITH ${knnSql("vec_id < 10", "vec_id < 200", 999999)}
          SELECT id, neighbor_id, ROUND(distance, 4) AS distance FROM knn
          WHERE distance <= 1.1""",
    "q61_outliers_sdev" ->
      """WITH b AS (SELECT AVG(c_acctbal) AS mu, STDDEV(c_acctbal) AS sd FROM customer)
         SELECT c_custkey, c_acctbal FROM customer, b
         WHERE c_acctbal < mu - 2.0 * sd OR c_acctbal > mu + 2.0 * sd""",
    "q62_quantile_split_ranged" ->
      """WITH e AS (SELECT quantile_cont(c_acctbal, 0.25) AS e1,
                    quantile_cont(c_acctbal, 0.50) AS e2,
                    quantile_cont(c_acctbal, 0.75) AS e3 FROM customer)
         SELECT c_custkey, c_acctbal,
           1 + (CASE WHEN c_acctbal > e1 THEN 1 ELSE 0 END)
             + (CASE WHEN c_acctbal > e2 THEN 1 ELSE 0 END)
             + (CASE WHEN c_acctbal > e3 THEN 1 ELSE 0 END) AS quantile
         FROM customer, e""",
    "q64_column_stats_full" -> {
      val cols = Seq(("o_orderkey", "bigint", true), ("o_custkey", "bigint", true),
        ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
        ("o_orderdate", "timestamp", false), ("o_orderpriority", "string", false))
      cols.map { case (c, ty, isNum) =>
        if (isNum)
          s"""SELECT '$c' AS column_name, '$ty' AS dtype,
              n_distinct, n_nulls, num_zeros, mn AS min, q1v AS q1,
              medv AS median, q3v AS q3, mx AS max,
              ROUND(${latticeMeanSql("cnt", "s1i", "nanc")}, 6) AS mean,
              ROUND(${latticeStdSql("cnt", "s1i", "s2i", "nanc")}, 6)
                AS stddev
            FROM (SELECT COUNT(DISTINCT c0) AS n_distinct,
                COUNT(CASE WHEN c0 IS NULL THEN 1 END) AS n_nulls,
                COUNT(CASE WHEN c0 = 0 THEN 1 END) AS num_zeros,
                ROUND(CAST(MIN(c0) AS DOUBLE), 6) AS mn,
                ROUND(quantile_cont(CAST(c0 AS DOUBLE), 0.25), 6) AS q1v,
                ROUND(quantile_cont(CAST(c0 AS DOUBLE), 0.50), 6) AS medv,
                ROUND(quantile_cont(CAST(c0 AS DOUBLE), 0.75), 6) AS q3v,
                ROUND(CAST(MAX(c0) AS DOUBLE), 6) AS mx,
                $latticeMomentAggs
              FROM (SELECT $c AS c0, ${latticeXcSql(c)} AS xc
                FROM orders))"""
        else
          s"""SELECT '$c' AS column_name, '$ty' AS dtype,
              COUNT(DISTINCT $c) AS n_distinct,
              COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
              CAST(NULL AS BIGINT) AS num_zeros,
              CAST(NULL AS DOUBLE) AS min, CAST(NULL AS DOUBLE) AS q1,
              CAST(NULL AS DOUBLE) AS median, CAST(NULL AS DOUBLE) AS q3,
              CAST(NULL AS DOUBLE) AS max, CAST(NULL AS DOUBLE) AS mean,
              CAST(NULL AS DOUBLE) AS stddev FROM orders"""
      }.mkString(" UNION ALL ")
    },
    "q65_filter_by_tags" ->
      s"""WITH ${knnSql("true", "vec_id < 100", 5)},
          grads AS (SELECT knn.id,
              MAX(CASE WHEN distance <= 1e-6 THEN 1 ELSE 0 END) AS coinc,
              MAX(CASE WHEN distance > 0 AND
                ABS(CAST(b.label AS DOUBLE) - CAST(a.label AS DOUBLE)) / distance > 2.0
                THEN 1 ELSE 0 END) AS cliff
            FROM knn JOIN e a ON knn.id = a.vec_id JOIN e b ON knn.neighbor_id = b.vec_id
            GROUP BY 1),
          tagged AS (SELECT e.vec_id AS id, list_filter([
              CASE WHEN e.label = 0 THEN 'zero_target' END,
              CASE WHEN COALESCE(coinc, 0) = 1 THEN 'coincident' END,
              CASE WHEN COALESCE(cliff, 0) = 1 THEN 'high_gradient' END],
              t -> t IS NOT NULL) AS tag_list
            FROM e LEFT JOIN grads ON e.vec_id = grads.id)
          SELECT id, list_aggregate(tag_list, 'string_agg', ',') AS tags FROM tagged
          WHERE list_contains(tag_list, 'zero_target')
            AND NOT list_contains(tag_list, 'coincident')
            AND len(list_filter(tag_list, t -> t LIKE 'zero%')) > 0
            AND len(list_filter(tag_list, t -> t LIKE 'coinc%')) = 0""",
    "q67_binary_accuracy" ->
      """SELECT ROUND(AVG(CASE WHEN (event_type IN ('purchase')) =
           ((CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END) IN ('purchase'))
           THEN 1.0 ELSE 0 END), 6) AS binary_accuracy FROM events""",
    "q68_confidence_profile" -> {
      val edges = (1 to 9).map(k =>
        s"quantile_cont(value % 1, 0.$k) AS e$k").mkString(", ")
      val bucket = (1 to 9).map(k =>
        s"(CASE WHEN value % 1 > e$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT $edges FROM events),
          b AS (SELECT event_type,
              CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END AS prediction,
              1 + $bucket AS quantile
            FROM events, e)
          SELECT quantile, ROUND(AVG(CASE WHEN (event_type IN ('purchase')) =
            (prediction IN ('purchase')) THEN 1.0 ELSE 0 END), 6) AS binary_accuracy
          FROM b GROUP BY quantile ORDER BY quantile"""
    },
    "q69_classifier_residuals" ->
      """WITH p AS (SELECT event_id, event_type,
             CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END AS prediction
           FROM events),
         ix AS (SELECT event_id,
             CASE prediction WHEN 'click' THEN 0 WHEN 'error' THEN 1
               WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END
             - CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
               WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END
             AS residuals FROM p)
         SELECT event_id, residuals, ABS(residuals) AS residuals_abs FROM ix""",
    "q71_uq_v2" -> {
      val probs = (0 to 100).map(p => f"${p / 100.0}%.2f").mkString("[", ", ", "]")
      val qCols = graft.ml.UQ.V2Quantiles
        .map { case (p, n) => s"ROUND(quantile_cont(t, $p), 6) AS $n" }.mkString(", ")
      val qOut = graft.ml.UQ.V2Quantiles
        .map { case (_, n) => s"ROUND($n, 6) AS $n" }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              label FROM embeddings WHERE vec_id < 300),
          pairs AS (SELECT qs.vec_id AS id, r.vec_id AS neighbor_id,
              CASE WHEN ROUND(list_distance(qs.v, r.v), 9) < 1e-6 THEN 0.0
                   ELSE ROUND(list_distance(qs.v, r.v), 9) END AS distance
            FROM e qs CROSS JOIN e r WHERE qs.vec_id != r.vec_id),
          knn AS (SELECT * FROM pairs QUALIFY
            row_number() OVER (PARTITION BY id ORDER BY distance, neighbor_id) <= 10),
          nt AS (SELECT knn.id, knn.distance, CAST(r.label AS DOUBLE) AS t
                 FROM knn JOIN e r ON knn.neighbor_id = r.vec_id),
          stats AS (SELECT id, ROUND(AVG(distance), 6) AS nd,
              ROUND(AVG(t), 6) AS ntm, ROUND(STDDEV(t), 6) AS nts,
              $qCols FROM nt GROUP BY 1),
          fitp AS (SELECT list_transform(quantile_cont(nd, $probs), p -> ROUND(p, 6)) AS dp,
              list_transform(quantile_cont(nts, $probs), p -> ROUND(p, 6)) AS vp FROM stats),
          scored AS (SELECT s.*,
              LEAST(len(list_filter(dp, p -> p <= s.nd)) / 101.0, 1.0) AS dpct,
              CASE WHEN s.nts IS NULL THEN 1.0
                ELSE LEAST(len(list_filter(vp, p -> p <= s.nts)) / 101.0, 1.0)
              END AS vpct
            FROM stats s, fitp)
          SELECT id,
            ROUND(GREATEST(0.0, (1.0 - dpct) * (1.0 - vpct)), 6) AS confidence,
            ROUND(nd, 6) AS neighbor_distance,
            ROUND(ntm, 6) AS neighbor_target_mean,
            ROUND(nts, 6) AS neighbor_target_std,
            ROUND(dpct, 6) AS distance_percentile,
            ROUND(vpct, 6) AS variance_percentile, $qOut
          FROM scored WHERE id < 50"""
    },
    "q72_aggregate_rows" ->
      """SELECT l_returnflag, ROUND(AVG(l_quantity), 4) AS l_quantity,
         ROUND(AVG(l_extendedprice), 4) AS l_extendedprice,
         ROUND(AVG(l_discount), 4) AS l_discount,
         COUNT(*) AS group_count FROM lineitem GROUP BY 1""",
    "q73_data_capture_parse" ->
      "SELECT event_id, value FROM events",
    "q74_roc_auc" ->
      """WITH g AS (SELECT value AS score,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1),
         r AS (SELECT n, n_pos,
             COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n + 1) / 2.0 AS avg_rank
           FROM g)
         SELECT ROUND((SUM(n_pos * avg_rank) - SUM(n_pos) * (SUM(n_pos) + 1) / 2.0)
           / (SUM(n_pos) * SUM(n - n_pos)), 6) AS roc_auc FROM r""",
    "q75_cosine_near_dup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id < 300)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS similarity
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35""",
    "q76_classification_metrics" -> {
      val labels = Seq("click", "error", "purchase", "signup", "view")
      val aucSelects = labels.zipWithIndex.map { case (l, i) =>
        s"""SELECT '$l' AS class, (
             SELECT ROUND((SUM(n_pos * avg_rank) - SUM(n_pos) * (SUM(n_pos) + 1) / 2.0)
               / (SUM(n_pos) * SUM(n - n_pos)), 6)
             FROM (SELECT n, n_pos,
                 COALESCE(SUM(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (n + 1) / 2.0 AS avg_rank
               FROM (SELECT value * ${i + 1} % 100 / 100 AS score, COUNT(*) AS n,
                   SUM(CASE WHEN event_type = '$l' THEN 1 ELSE 0 END) AS n_pos
                 FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
                 GROUP BY 1) gg) rr) AS roc_auc"""
      }.mkString(" UNION ALL ")
      s"""WITH cm AS (SELECT event_type AS label,
             CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END AS prediction,
             COUNT(*) AS count FROM events
             WHERE (CASE WHEN value >= 100 THEN 'purchase' ELSE event_type END) IS NOT NULL
             GROUP BY 1, 2),
         actual AS (SELECT label AS class, CAST(SUM(count) AS BIGINT) AS support FROM cm GROUP BY 1),
         predicted AS (SELECT prediction AS class, CAST(SUM(count) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
         tp AS (SELECT label AS class, CAST(count AS BIGINT) AS tp FROM cm WHERE label = prediction),
         report AS (SELECT a.class, a.support,
             ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6) AS precision,
             ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6) AS recall,
             ROUND(CASE WHEN ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                           + ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6) = 0 THEN 0
               ELSE 2 * ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                      * ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6)
                    / (ROUND(COALESCE(t.tp, 0) / GREATEST(COALESCE(p.n_pred, 0), 1), 6)
                       + ROUND(COALESCE(t.tp, 0) / GREATEST(a.support, 1), 6)) END, 6) AS f1
           FROM actual a LEFT JOIN predicted p ON a.class = p.class
           LEFT JOIN tp t ON a.class = t.class),
         auc AS ($aucSelects),
         perclass AS (SELECT r.class, r.support, r.precision, r.recall, r.f1, a.roc_auc
           FROM report r LEFT JOIN auc a ON r.class = a.class)
         SELECT class, support, precision, recall, f1, roc_auc FROM perclass
         UNION ALL
         SELECT 'all', CAST(SUM(support) AS BIGINT),
           ROUND(SUM(precision * support) / SUM(support), 6),
           ROUND(SUM(recall * support) / SUM(support), 6),
           ROUND(SUM(f1 * support) / SUM(support), 6),
           ROUND(SUM(roc_auc * support) / SUM(support), 6)
         FROM perclass"""
    },
    "q77_proba_expand" ->
      """SELECT event_id, ROUND(value % 1, 6) AS no_proba,
         ROUND(1.0 - value % 1, 6) AS yes_proba,
         ROUND(GREATEST(value % 1, 1.0 - value % 1), 6) AS confidence
         FROM events""",
    "q78_psi_drift" -> {
      val probs = (1 until 10).map(p => f"${p / 10.0}%.1f").mkString("[", ", ", "]")
      val bucket = (1 to 9).map(i =>
        s"(CASE WHEN value > ed[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH b AS (SELECT value FROM events WHERE value IS NOT NULL),
          c AS (SELECT value * 1.2 + 5 AS value FROM events WHERE value IS NOT NULL),
          e AS (SELECT quantile_cont(value, $probs) AS ed FROM b),
          bb AS (SELECT 1 + $bucket AS bucket FROM b, e),
          cb AS (SELECT 1 + $bucket AS bucket FROM c, e),
          bp AS (SELECT bucket, COUNT(*) / CAST((SELECT COUNT(*) FROM bb) AS DOUBLE) AS p
            FROM bb GROUP BY 1),
          cp AS (SELECT bucket, COUNT(*) / CAST((SELECT COUNT(*) FROM cb) AS DOUBLE) AS q
            FROM cb GROUP BY 1),
          j AS (SELECT GREATEST(COALESCE(p, 0), 0.0001) AS p,
              GREATEST(COALESCE(q, 0), 0.0001) AS q
            FROM bp FULL JOIN cp ON bp.bucket = cp.bucket)
          SELECT 'value' AS column_name,
            ROUND(SUM((p - q) * LN(p / q)), 6) AS psi FROM j"""
    },
    "q79_endpoint_inference" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS id,
         ROUND(10.0 + l_quantity * 2.0 + l_discount * (-5.0), 4) AS pred_value
         FROM lineitem""",
    "q80_inference_metrics" ->
      """WITH p AS (SELECT l_extendedprice AS y,
             10.0 + l_quantity * 2.0 + l_discount * (-5.0) AS pred
           FROM lineitem)
         SELECT ROUND(ROUND(SQRT(AVG((y - pred) * (y - pred))), 6), 2) AS rmse,
           ROUND(ROUND(AVG(ABS(y - pred)), 6), 2) AS mae,
           ROUND(ROUND(quantile_cont(ABS(y - pred), 0.5), 6), 2) AS medae,
           ROUND(1.0 - SUM((y - pred) * (y - pred)) /
             (SUM(y * y) - COUNT(*) * AVG(y) * AVG(y)), 6) AS r2
         FROM p""",
    "q81_monitor_drift" -> {
      val probs = (1 until 10).map(p => f"${p / 10.0}%.1f").mkString("[", ", ", "]")
      def bucket(c: String) = (1 to 9).map(i =>
        s"(CASE WHEN $c > ed[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      def psiFor(c: String, curExpr: String) =
        s"""(WITH e AS (SELECT quantile_cont($c, $probs) AS ed FROM src),
            bb AS (SELECT 1 + ${bucket(c)} AS bucket FROM src, e WHERE $c IS NOT NULL),
            cb AS (SELECT 1 + ${bucket("cv")} AS bucket
              FROM (SELECT $curExpr AS cv FROM src) , e WHERE cv IS NOT NULL),
            bp AS (SELECT bucket, COUNT(*) / CAST((SELECT COUNT(*) FROM bb) AS DOUBLE) AS p
              FROM bb GROUP BY 1),
            cp AS (SELECT bucket, COUNT(*) / CAST((SELECT COUNT(*) FROM cb) AS DOUBLE) AS q
              FROM cb GROUP BY 1),
            j AS (SELECT GREATEST(COALESCE(p, 0), 0.0001) AS p,
                GREATEST(COALESCE(q, 0), 0.0001) AS q
              FROM bp FULL JOIN cp ON bp.bucket = cp.bucket)
            SELECT ROUND(SUM((p - q) * LN(p / q)), 6) FROM j)"""
      def statsFor(c: String, curExpr: String) =
        s"""SELECT '$c' AS column_name, ${psiFor(c, curExpr)} AS psi,
            ROUND(AVG($c), 6) AS base_mean,
            ROUND(AVG($curExpr), 6) AS cur_mean,
            ROUND(ABS(AVG($curExpr) - AVG($c)) /
              (CASE WHEN MAX($c) - MIN($c) = 0 THEN 1.0
                    ELSE CAST(MAX($c) AS DOUBLE) - MIN($c) END), 6) AS mean_drift,
            ROUND(ABS(AVG($curExpr) - AVG($c)) /
              (CASE WHEN MAX($c) - MIN($c) = 0 THEN 1.0
                    ELSE CAST(MAX($c) AS DOUBLE) - MIN($c) END), 6) > 0.1 AS drifted
            FROM src"""
      s"""WITH src AS (SELECT l_quantity, l_discount FROM lineitem)
          ${statsFor("l_discount", "l_discount")}
          UNION ALL
          ${statsFor("l_quantity", "l_quantity * 1.5 + 2")}
          ORDER BY column_name"""
    },
    "q82_cross_fold" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS id,
         CAST(((l_orderkey % 1000003) * 2654435761) % 5 AS INT) AS fold,
         ROUND(10.0 + l_quantity * 2.0 + l_discount * (-5.0), 4) AS prediction
         FROM lineitem""",
    "q83_property_tags" ->
      s"""WITH $tagRulesSql
          SELECT id, string_agg(tag, ',' ORDER BY tag) AS tags
          FROM viol WHERE v BETWEEN min_v AND max_v GROUP BY id""",
    "q84_curation_filter" ->
      s"""WITH $tagRulesSql,
          prop_tags AS (SELECT id, list(tag ORDER BY tag) AS ptags
            FROM viol WHERE v BETWEEN min_v AND max_v GROUP BY id),
          base AS (SELECT p_partkey AS id, list_filter([
              CASE WHEN p_partkey % 41 = 0 THEN 'composition:inorganic' END,
              CASE WHEN p_partkey % 37 = 0 THEN 'composition:heavy_metal' END,
              CASE WHEN p_partkey % 23 = 0 THEN 'liabilities:pains_a' END,
              CASE WHEN p_partkey % 5 = 0 THEN 'composition:halogenated' END],
              t -> t IS NOT NULL) AS utags FROM part),
          merged AS (SELECT base.id,
              list_sort(list_concat(utags, COALESCE(ptags, []))) AS tags
            FROM base LEFT JOIN prop_tags ON base.id = prop_tags.id),
          cur AS (SELECT id, list_sort(list_concat(tags,
              list_sort(list_distinct(list_filter([
                CASE WHEN list_contains(tags, 'composition:inorganic')
                  THEN 'curation:exclude:inorganic' END,
                CASE WHEN list_contains(tags, 'composition:organometallic')
                  THEN 'curation:exclude:organometallic' END,
                CASE WHEN list_contains(tags, 'composition:isotope_labeled')
                  THEN 'curation:caution:isotope_labeled' END,
                CASE WHEN list_contains(tags, 'structure:peptide')
                  THEN 'curation:caution:peptide' END,
                CASE WHEN list_contains(tags, 'structure:macrocycle')
                  THEN 'curation:caution:macrocycle' END,
                CASE WHEN list_contains(tags, 'composition:heavy_metal')
                  THEN 'curation:caution:heavy_metal' END,
                CASE WHEN list_contains(tags, 'composition:highly_halogenated')
                  THEN 'curation:caution:highly_halogenated' END,
                CASE WHEN list_contains(tags, 'composition:unusual_element')
                  THEN 'curation:caution:unusual_element' END,
                CASE WHEN len(list_filter(tags, t -> t LIKE 'liabilities:pains_%')) > 0
                  THEN 'curation:caution:pains' END],
                t -> t IS NOT NULL)))) ) AS tags FROM merged)
          SELECT id, COALESCE(list_aggregate(
              list_filter(tags, t -> t LIKE 'curation:%'), 'string_agg', ','), '')
            AS curation_tags
          FROM cur
          WHERE len(list_filter(tags, t -> t LIKE 'curation:exclude:%')) = 0""",
    "q85_curation_funnel" -> {
      def ratio(l: String): String = {
        val sw = Text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / GREATEST(len(toks), 1)"
      }
      s"""WITH d AS (SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id, source, text, toks,
             (len(toks) >= 40 AND
              CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
                GREATEST(length(text), 1) <= 0.05) AS quality_pass,
             ${ratio("de")} AS s_de, ${ratio("en")} AS s_en,
             ${ratio("es")} AS s_es, ${ratio("fr")} AS s_fr FROM d),
         l AS (SELECT *, CASE
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
             WHEN s_en > 0 AND s_en >= s_de THEN 'en'
             WHEN s_de > 0 THEN 'de'
             ELSE 'und' END AS lang_pred FROM s),
         lp AS (SELECT *, quality_pass AND lang_pred IN ('en', 'fr') AS lang_pass,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
           FROM l),
         k AS (SELECT fingerprint, MIN(doc_id) AS keeper FROM lp
           WHERE lang_pass GROUP BY 1),
         a AS (SELECT lp.*, (lang_pass AND keeper = doc_id) AS kept
           FROM lp LEFT JOIN k USING (fingerprint))
         SELECT source, COUNT(*) AS n_input,
           CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN lang_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM a GROUP BY source"""
    },
    "q86_sql_surface" -> {
      def ratio(l: String): String = {
        val sw = Text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / GREATEST(len(toks), 1)"
      }
      s"""WITH d AS (SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id, text, toks, ${ratio("de")} AS s_de, ${ratio("en")} AS s_en,
                      ${ratio("es")} AS s_es, ${ratio("fr")} AS s_fr FROM d)
         SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           CAST(len(toks) AS BIGINT) AS n_words,
           CASE
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
             WHEN s_en > 0 AND s_en >= s_de THEN 'en'
             WHEN s_de > 0 THEN 'de'
             ELSE 'und' END AS lang_pred
         FROM s"""
    },
    "q87_cached_inference" ->
      """SELECT o_orderkey, o_totalprice,
         ROUND(5.0 + o_totalprice * 0.1, 4) AS prediction
         FROM orders""",
    "q88_ensemble_weighted" ->
      """SELECT event_id,
         0.5 * CAST(event_id % 10 AS DOUBLE) + 0.25 * CAST(event_id % 7 AS DOUBLE)
           + 0.25 * CAST(event_id % 5 AS DOUBLE) AS prediction,
         0.5 * (CAST(event_id % 16 AS DOUBLE) / 16.0)
           + 0.25 * (CAST(event_id % 8 AS DOUBLE) / 8.0)
           + 0.25 * (CAST(event_id % 4 AS DOUBLE) / 4.0) AS confidence
         FROM events""",
    "q89_ensemble_vote" ->
      """WITH long AS (
           SELECT event_id, event_type AS label FROM events
           UNION ALL
           SELECT event_id, CASE WHEN value >= 50 THEN 'view' ELSE event_type END
             FROM events
           UNION ALL
           SELECT event_id, CASE WHEN event_id % 3 = 0 THEN 'click' ELSE event_type END
             FROM events),
         counts AS (SELECT event_id, label, COUNT(*) AS c FROM long GROUP BY 1, 2)
         SELECT event_id, label AS prediction,
           ROUND(CAST(c AS DOUBLE) / 3.0, 6) AS confidence
         FROM counts
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY c DESC, label ASC) = 1""",
    "q90_ensemble_perf" ->
      """WITH f AS (SELECT
             CAST(event_id % 12 AS DOUBLE) AS t,
             CAST(event_id % 10 AS DOUBLE) AS p1,
             CAST(event_id % 16 AS DOUBLE) / 16.0 AS c1,
             CAST(event_id % 7 AS DOUBLE) AS p2,
             CAST(event_id % 8 AS DOUBLE) / 8.0 AS c2,
             CAST(event_id % 5 AS DOUBLE) AS p3,
             CAST(event_id % 4 AS DOUBLE) / 4.0 AS c3
           FROM events),
         agg AS (SELECT COUNT(*) AS n, AVG(t) AS mt, SUM(t * t) AS stt,
             SUM((p1 - t) * (p1 - t)) AS se1, SUM(ABS(p1 - t)) AS ae1, AVG(c1) AS mc1,
             SUM((p2 - t) * (p2 - t)) AS se2, SUM(ABS(p2 - t)) AS ae2, AVG(c2) AS mc2,
             SUM((p3 - t) * (p3 - t)) AS se3, SUM(ABS(p3 - t)) AS ae3, AVG(c3) AS mc3
           FROM f)
         SELECT 'm_a' AS model, ROUND(SQRT(se1 / n), 6) AS rmse,
           ROUND(ae1 / n, 6) AS mae,
           ROUND(1 - se1 / (stt - n * mt * mt), 6) AS r2,
           ROUND(mc1, 6) AS mean_conf FROM agg
         UNION ALL SELECT 'm_b', ROUND(SQRT(se2 / n), 6), ROUND(ae2 / n, 6),
           ROUND(1 - se2 / (stt - n * mt * mt), 6), ROUND(mc2, 6) FROM agg
         UNION ALL SELECT 'm_c', ROUND(SQRT(se3 / n), 6), ROUND(ae3 / n, 6),
           ROUND(1 - se3 / (stt - n * mt * mt), 6), ROUND(mc3, 6) FROM agg""",
    "q91_model_comparison" ->
      """WITH li AS (SELECT l_quantity, l_discount, l_extendedprice
             FROM lineitem WHERE l_orderkey % 10 = 0),
         pa AS (SELECT l_extendedprice AS y,
             10.0 + l_quantity * 2.0 + l_discount * (-5.0) AS pred FROM li),
         pb AS (SELECT l_extendedprice AS y,
             50.0 + l_quantity * 3.0 AS pred FROM li),
         ma AS (SELECT ROUND(SQRT(AVG((y - pred) * (y - pred))), 6) AS rmse,
             ROUND(AVG(ABS(y - pred)), 6) AS mae,
             ROUND(quantile_cont(ABS(y - pred), 0.5), 6) AS medae,
             ROUND(1.0 - SUM((y - pred) * (y - pred)) /
               (SUM(y * y) - COUNT(*) * AVG(y) * AVG(y)), 6) AS r2 FROM pa),
         mb AS (SELECT ROUND(SQRT(AVG((y - pred) * (y - pred))), 6) AS rmse,
             ROUND(AVG(ABS(y - pred)), 6) AS mae,
             ROUND(quantile_cont(ABS(y - pred), 0.5), 6) AS medae,
             ROUND(1.0 - SUM((y - pred) * (y - pred)) /
               (SUM(y * y) - COUNT(*) * AVG(y) * AVG(y)), 6) AS r2 FROM pb)
         SELECT 'cmp_a' AS model, ROUND(rmse, 4) AS rmse, ROUND(mae, 4) AS mae,
           ROUND(medae, 4) AS medae, ROUND(r2, 6) AS r2 FROM ma
         UNION ALL
         SELECT 'cmp_b', ROUND(rmse, 4), ROUND(mae, 4), ROUND(medae, 4),
           ROUND(r2, 6) FROM mb
         UNION ALL
         SELECT 'delta', ROUND(ROUND(ma.rmse - mb.rmse, 6), 4),
           ROUND(ROUND(ma.mae - mb.mae, 6), 4),
           ROUND(ROUND(ma.medae - mb.medae, 6), 4),
           ROUND(ROUND(mb.r2 - ma.r2, 6), 6) FROM ma, mb""",
    "q92_ks_test" ->
      """WITH s AS (
           SELECT value * 1.1 + 3 AS v, 1 AS isa FROM events WHERE value IS NOT NULL
           UNION ALL
           SELECT value, 0 FROM events WHERE value IS NOT NULL),
         m AS (SELECT v, SUM(isa) AS ca, SUM(1 - isa) AS cb FROM s GROUP BY v),
         c AS (SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
                      SUM(cb) OVER (ORDER BY v) AS cumb FROM m),
         t2 AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m)
         SELECT ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / na
           - CAST(cumb AS DOUBLE) / nb)), 6) AS statistic FROM c, t2""",
    "q93_js_divergence" ->
      """WITH s AS (
           SELECT LEAST(FLOOR(value / 15.0), 9) AS bucket, 1 AS isa FROM events
             WHERE value IS NOT NULL AND value >= 0.0 AND value <= 150.0
           UNION ALL
           SELECT LEAST(FLOOR((value * 1.2 + 5) / 15.0), 9), 0 FROM events
             WHERE value IS NOT NULL AND value * 1.2 + 5 >= 0.0
               AND value * 1.2 + 5 <= 150.0),
         g AS (SELECT bucket, SUM(isa) AS ca, SUM(1 - isa) AS cb
           FROM s GROUP BY bucket),
         f AS (SELECT b.bucket, COALESCE(ca, 0) + 1e-10 AS pa,
             COALESCE(cb, 0) + 1e-10 AS pb
           FROM (SELECT UNNEST(range(10)) AS bucket) b
           LEFT JOIN g ON b.bucket = g.bucket),
         t2 AS (SELECT SUM(pa) AS ta, SUM(pb) AS tb FROM f),
         n AS (SELECT pa / ta AS p, pb / tb AS q FROM f, t2)
         SELECT ROUND(SUM(p * log2(p / ((p + q) / 2)) / 2
             + q * log2(q / ((p + q) / 2)) / 2), 6) AS jsd,
           ROUND(SUM((q - p) * LN(q / p)), 6) AS psi FROM n""",
    "q94_contest_report" ->
      """WITH li AS (SELECT l_quantity, l_discount, l_extendedprice
             FROM lineitem WHERE l_orderkey % 10 = 0),
         m0 AS (SELECT ROUND(SQRT(AVG((l_extendedprice - (10.0 + l_quantity * 2.0
               + l_discount * (-5.0))) * (l_extendedprice - (10.0 + l_quantity * 2.0
               + l_discount * (-5.0))))), 6) AS rmse,
             ROUND(AVG(ABS(l_extendedprice - (10.0 + l_quantity * 2.0
               + l_discount * (-5.0)))), 6) AS mae FROM li),
         m1 AS (SELECT ROUND(SQRT(AVG((l_extendedprice - (50.0 + l_quantity * 3.0))
               * (l_extendedprice - (50.0 + l_quantity * 3.0)))), 6) AS rmse,
             ROUND(AVG(ABS(l_extendedprice - (50.0 + l_quantity * 3.0))), 6) AS mae
             FROM li),
         m2 AS (SELECT ROUND(SQRT(AVG((l_extendedprice - l_quantity)
               * (l_extendedprice - l_quantity))), 6) AS rmse,
             ROUND(AVG(ABS(l_extendedprice - l_quantity)), 6) AS mae FROM li),
         flag AS (SELECT MAX(CASE WHEN ABS(m0.rmse - r) > 1e-6
               AND (m0.rmse - r) >= -0.01 * ABS(m0.rmse) THEN 1 ELSE 0 END) = 1
             AS contested
           FROM (SELECT rmse AS r FROM m1 UNION ALL SELECT rmse FROM m2), m0)
         SELECT 'champ_m' AS model, 'champion' AS role, ROUND(rmse, 4) AS rmse,
           CAST(0.0 AS DOUBLE) AS d_rmse, ROUND(mae, 4) AS mae,
           CAST(0.0 AS DOUBLE) AS d_mae, contested
           FROM m0, flag
         UNION ALL
         SELECT 'chall_a', 'challenger', ROUND(m1.rmse, 4),
           ROUND(ROUND(m0.rmse - m1.rmse, 6), 4), ROUND(m1.mae, 4),
           ROUND(ROUND(m0.mae - m1.mae, 6), 4), contested FROM m0, m1, flag
         UNION ALL
         SELECT 'chall_b', 'challenger', ROUND(m2.rmse, 4),
           ROUND(ROUND(m0.rmse - m2.rmse, 6), 4), ROUND(m2.mae, 4),
           ROUND(ROUND(m0.mae - m2.mae, 6), 4), contested FROM m0, m2, flag""",
    "q95_uq_metrics" ->
      """WITH b AS (SELECT l_extendedprice AS y,
             l_extendedprice * 0.9 + 100 AS pred,
             l_quantity * 50 + 100 AS std FROM lineitem),
         i AS (SELECT y, std,
             pred - 1.96 * std AS lo95, pred + 1.96 * std AS hi95,
             pred - 1.645 * std AS lo90, pred + 1.645 * std AS hi90,
             pred - 1.282 * std AS lo80, pred + 1.282 * std AS hi80,
             pred - std AS lo68, pred + std AS hi68,
             pred - 0.674 * std AS lo50, pred + 0.674 * std AS hi50 FROM b)
         SELECT
           ROUND(AVG(CASE WHEN y >= lo68 AND y <= hi68 THEN 1 ELSE 0 END), 6)
             AS coverage_68,
           ROUND(AVG(CASE WHEN y >= lo80 AND y <= hi80 THEN 1 ELSE 0 END), 6)
             AS coverage_80,
           ROUND(AVG(CASE WHEN y >= lo90 AND y <= hi90 THEN 1 ELSE 0 END), 6)
             AS coverage_90,
           ROUND(AVG(CASE WHEN y >= lo95 AND y <= hi95 THEN 1 ELSE 0 END), 6)
             AS coverage_95,
           ROUND(quantile_cont(std, 0.5), 6) AS median_std,
           ROUND(quantile_cont(hi50 - lo50, 0.5), 6) AS median_width_50,
           ROUND(quantile_cont(hi68 - lo68, 0.5), 6) AS median_width_68,
           ROUND(quantile_cont(hi80 - lo80, 0.5), 6) AS median_width_80,
           ROUND(quantile_cont(hi90 - lo90, 0.5), 6) AS median_width_90,
           ROUND(quantile_cont(hi95 - lo95, 0.5), 6) AS median_width_95,
           ROUND(AVG((hi95 - lo95)
             + 40 * (lo95 - y) * (CASE WHEN y < lo95 THEN 1 ELSE 0 END)
             + 40 * (y - hi95) * (CASE WHEN y > hi95 THEN 1 ELSE 0 END)), 6)
             AS interval_score_95,
           COUNT(*) AS n_samples
         FROM i""",
    "q97_cached_stats" -> Seq("c_custkey", "c_acctbal", "c_nationkey")
      .map(c =>
        s"""SELECT '$c' AS column_name, mn AS min, q1v AS q1,
            medv AS median, q3v AS q3, mx AS max,
            ROUND(${latticeMeanSql("cnt", "s1i", "nanc")}, 6) AS mean,
            ROUND(${latticeStdSql("cnt", "s1i", "s2i", "nanc")}, 6)
              AS stddev
          FROM (SELECT CAST(MIN(c0) AS DOUBLE) AS mn,
              ROUND(quantile_cont(c0, 0.25), 6) AS q1v,
              ROUND(quantile_cont(c0, 0.5), 6) AS medv,
              ROUND(quantile_cont(c0, 0.75), 6) AS q3v,
              CAST(MAX(c0) AS DOUBLE) AS mx, $latticeMomentAggs
            FROM (SELECT $c AS c0, ${latticeXcSql(c)} AS xc
              FROM customer))""").mkString(" UNION ALL "),
    "q98_compound_registry" ->
      """SELECT 'c' || p_partkey AS id, p_name AS smiles,
         concat_ws(',', CASE WHEN p_size > 25 THEN 'big' END,
                        CASE WHEN contains(p_type, 'BRASS') THEN 'brassy' END) AS tags,
         CAST(p_size AS VARCHAR) AS size
         FROM part WHERE p_partkey <= 20 ORDER BY p_partkey""",
    "q99_multi_task_combine" ->
      """WITH a AS (SELECT p_partkey AS id, p_name AS smiles,
             CAST(p_size AS DOUBLE) AS feat_size, p_retailprice AS feat_price,
             CAST(p_partkey % 7 AS DOUBLE) AS sol,
             CAST(NULL AS DOUBLE) AS perm, 0 AS src
           FROM part WHERE p_partkey <= 60),
         b AS (SELECT p_partkey, p_name, CAST(p_size + 1 AS DOUBLE),
             p_retailprice, CAST(NULL AS DOUBLE),
             CAST(p_partkey % 5 AS DOUBLE), 1
           FROM part WHERE p_partkey > 30 AND p_partkey <= 90),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         SELECT id,
           arg_min(smiles, src) FILTER (smiles IS NOT NULL) AS smiles,
           arg_min(feat_size, src) FILTER (feat_size IS NOT NULL) AS feat_size,
           arg_min(feat_price, src) FILTER (feat_price IS NOT NULL) AS feat_price,
           arg_min(sol, src) FILTER (sol IS NOT NULL) AS sol,
           arg_min(perm, src) FILTER (perm IS NOT NULL) AS perm
         FROM u GROUP BY id ORDER BY id""",
    "q96_vocabulary" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         e AS (SELECT doc_id, UNNEST(t) AS term FROM toks),
         g AS (SELECT doc_id, term, COUNT(*) AS c FROM e GROUP BY 1, 2)
         SELECT term, CAST(SUM(c) AS BIGINT) AS tf, COUNT(*) AS df
         FROM g GROUP BY term HAVING SUM(c) >= 5""",
    "q101_pii_scrub" ->
      """WITH d AS (SELECT doc_id, CASE
             WHEN doc_id % 7 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
             WHEN doc_id % 11 = 0 THEN text || ' call 555-123-4567 or ping 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
             ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
             + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0 AS has_pii,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
         FROM d""",
    "q102_repetition_signals" ->
      """WITH d AS (SELECT doc_id,
             [substr(text, (i-1)*32+1, 32)
              for i in range(1, GREATEST(CAST(ceil(length(text)/32.0) AS BIGINT), 1)+1)] AS chunks,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id, len(toks) AS ntoks,
             CASE WHEN len(chunks) <= 0 THEN 0
               ELSE CAST(len(chunks) - len(list_distinct(chunks)) AS DOUBLE)/len(chunks) END AS dlf,
             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
               ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS sh2,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END AS sh3
           FROM d)
         SELECT doc_id, ROUND(dlf, 4) AS dup_line_frac,
           ROUND(CASE WHEN ntoks < 2 THEN 0
             ELSE CAST(list_max([len(list_filter(sh2, x -> x = g)) for g in list_distinct(sh2)]) AS DOUBLE)/len(sh2) END, 4) AS top_2gram_frac,
           ROUND(CASE WHEN ntoks < 3 THEN 0
             ELSE CAST(list_max([len(list_filter(sh3, x -> x = g)) for g in list_distinct(sh3)]) AS DOUBLE)/len(sh3) END, 4) AS top_3gram_frac
         FROM s""",
    "q103_line_dedup" ->
      """WITH d AS (SELECT doc_id,
             [substr(text, (i-1)*16+1, 16)
              for i in range(1, GREATEST(CAST(ceil(length(text)/16.0) AS BIGINT), 1)+1)] AS l
           FROM documents),
         e AS (SELECT doc_id,
             unnest([{'line': l[i], 'i': i} for i in range(1, len(l)+1)], recursive := true)
           FROM d),
         freq AS (SELECT line, COUNT(*) AS c FROM e GROUP BY line)
         SELECT e.doc_id, array_to_string(list(e.line ORDER BY e.i), chr(10)) AS text
         FROM e JOIN freq USING (line) WHERE freq.c <= 1 GROUP BY e.doc_id""",
    "q104_packing_manifest" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
           FROM d)
         SELECT doc_id, n_tokens, token_offset,
           CAST(floor(token_offset / 512.0) AS BIGINT) AS start_chunk,
           CAST(floor((token_offset + GREATEST(n_tokens, 1) - 1) / 512.0) AS BIGINT) AS end_chunk
         FROM o""",
    "q105_domain_mixture" ->
      """WITH c AS (SELECT lang AS source, COUNT(*) AS n_docs,
             pow(COUNT(*), 0.7) AS wt FROM documents GROUP BY lang),
         f AS (SELECT source, n_docs,
             ROUND(wt / (SELECT SUM(wt) FROM c), 6) AS weight FROM c),
         f2 AS (SELECT source, n_docs, weight,
             ROUND(LEAST(1.0, 200 * weight / n_docs), 6) AS sample_frac FROM f),
         s AS (SELECT d.lang AS source, COUNT(*) AS n_sampled
           FROM documents d JOIN f2 ON f2.source = d.lang
           WHERE f2.sample_frac >= 1.0
              OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
                 lower(lpad(to_hex(CAST(floor(f2.sample_frac * 4294967296) AS BIGINT)), 8, '0'))
           GROUP BY d.lang)
         SELECT f2.source, f2.n_docs, f2.weight, f2.sample_frac,
           COALESCE(s.n_sampled, 0) AS n_sampled
         FROM f2 LEFT JOIN s USING (source)""",
    "q106_contamination" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)] END AS s
           FROM tok),
         ds AS (SELECT doc_id, len(list_distinct(s)) AS n_sh,
             unnest(list_distinct(s)) AS g FROM sh WHERE doc_id >= 100),
         bs AS (SELECT doc_id AS bid, unnest(list_distinct(s)) AS g
           FROM sh WHERE doc_id < 100)
         SELECT ds.doc_id, COUNT(DISTINCT ds.g) AS n_hit_shingles,
           COUNT(DISTINCT bs.bid) AS n_bench_docs,
           CAST(MAX(ds.n_sh) AS BIGINT) AS n_shingles,
           ROUND(CAST(COUNT(DISTINCT ds.g) AS DOUBLE) / MAX(ds.n_sh), 4) AS hit_frac
         FROM ds JOIN bs USING (g) GROUP BY ds.doc_id""",
    "q107_embedding_drift" ->
      """WITH e AS (SELECT label,
             unnest([{'v': CAST(embedding[i] AS DOUBLE), 'i': i}
                     for i in range(1, len(embedding)+1)], recursive := true)
           FROM embeddings WHERE embedding IS NOT NULL),
         c AS (SELECT label, i, ROUND(AVG(v), 6) AS v FROM e GROUP BY label, i),
         ce AS (SELECT label, list(v ORDER BY i) AS c FROM c GROUP BY label)
         SELECT a.label AS group_a, b.label AS group_b,
           ROUND(list_sum([a.c[i] * b.c[i] for i in range(1, len(a.c)+1)]) /
             (sqrt(list_sum([x * x for x in a.c])) *
              sqrt(list_sum([x * x for x in b.c]))), 4) AS cosine
         FROM ce a CROSS JOIN ce b WHERE a.label < b.label""",
    "q112_embedding_spread" ->
      """WITH e AS (SELECT label,
             unnest([{'v': CAST(embedding[i] AS DOUBLE), 'i': i}
                     for i in range(1, len(embedding)+1)], recursive := true)
           FROM embeddings WHERE embedding IS NOT NULL),
         g AS (SELECT label, i, var_pop(v) AS vv, SUM(v*v) AS sq,
               COUNT(*) AS n FROM e GROUP BY label, i)
         SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
           ROUND(SUM(vv), 6) AS trace_var,
           ROUND(SUM(sq)/MAX(n), 6) AS mean_sq_norm
         FROM g GROUP BY label""",
    "q113_chunk_documents" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         w AS (SELECT doc_id, t,
             1 + CAST(ceil(GREATEST(len(t) - 8, 0) / 4.0) AS INT) AS cnt
           FROM toks),
         e AS (SELECT doc_id,
             unnest([{'chunk_id': CAST(i - 1 AS INTEGER),
                      'chunk_text': array_to_string(t[((i-1)*4+1):((i-1)*4+8)], ' ')}
                     for i in range(1, cnt + 1)], recursive := true)
           FROM w)
         SELECT doc_id, chunk_id, chunk_text,
           CAST(len(list_filter(string_split_regex(chunk_text, '\s+'),
             x -> length(x) > 0)) AS INTEGER) AS n_chunk_tokens
         FROM e""",
    "q115_exact_substring" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         pos AS (SELECT doc_id, t, unnest(range(0, len(t) - 19)) AS pos
           FROM toks WHERE len(t) >= 20),
         g AS (SELECT doc_id, pos,
             array_to_string(t[(pos+1):(pos+20)], ' ') AS gram FROM pos),
         keep AS (SELECT gram FROM g GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) <= 100),
         gk AS (SELECT g.* FROM g JOIN keep USING (gram)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.gram,
             a.pos AS pa, b.pos AS pb
           FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_shared,
           CAST(MIN(pa) AS BIGINT) AS a_start,
           CAST(MAX(pa) + 19 AS BIGINT) AS a_end,
           CAST(MIN(pb) AS BIGINT) AS b_start,
           CAST(MAX(pb) + 19 AS BIGINT) AS b_end
         FROM p GROUP BY id_a, id_b HAVING COUNT(DISTINCT gram) >= 1""",
    "q116_substring_scrub" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         pos AS (SELECT doc_id, t, unnest(range(0, len(t) - 19)) AS pos
           FROM toks WHERE len(t) >= 20),
         g AS (SELECT doc_id, pos,
             array_to_string(t[(pos+1):(pos+20)], ' ') AS gram FROM pos),
         keep AS (SELECT gram FROM g GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 100),
         gk AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN keep USING (gram)),
         spans AS (SELECT doc_id AS id, pos AS s, pos + 19 AS e
           FROM (SELECT gk.*, MIN(doc_id) OVER (PARTITION BY gram) AS min_id
                 FROM gk)
           WHERE doc_id <> min_id),
         si AS (SELECT id, s, e, CASE WHEN s > COALESCE(MAX(e) OVER (
               PARTITION BY id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS newi
           FROM spans),
         mi AS (SELECT id, s, e, SUM(newi) OVER (PARTITION BY id
             ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island FROM si),
         merged AS (SELECT id, MIN(s) AS s, MAX(e) AS e FROM mi
           GROUP BY id, island),
         tokpos AS (SELECT doc_id AS id,
           unnest([{'pos': i, 'tok': t[i+1]} for i in range(len(t))],
             recursive := true)
           FROM toks),
         surv AS (SELECT tp.id, tp.pos, tp.tok FROM tokpos tp
           WHERE NOT EXISTS (SELECT 1 FROM merged m
             WHERE m.id = tp.id AND tp.pos BETWEEN m.s AND m.e)),
         rebuilt AS (SELECT id,
             array_to_string(list(tok ORDER BY pos), ' ') AS clean,
             COUNT(*) AS kept
           FROM surv GROUP BY id),
         n AS (SELECT doc_id, len(t) AS n_toks FROM toks)
         SELECT d.doc_id,
           CASE WHEN n.n_toks - COALESCE(r.kept, 0) > 0
             THEN COALESCE(r.clean, '') ELSE d.text END AS text,
           CAST(n.n_toks - COALESCE(r.kept, 0) AS BIGINT) AS n_removed_tokens
         FROM documents d
         JOIN n ON n.doc_id = d.doc_id
         LEFT JOIN rebuilt r ON r.id = d.doc_id""",
    "q109_lm_score" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         e AS (SELECT doc_id, unnest(t) AS term FROM toks),
         g AS (SELECT doc_id, term, COUNT(*) AS c FROM e
               WHERE doc_id < 250 GROUP BY 1, 2),
         v AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tf FROM g
               GROUP BY term HAVING SUM(c) >= 2),
         lm AS (SELECT term,
             ln(CAST(tf AS DOUBLE) / CAST((SELECT SUM(tf) FROM v) AS DOUBLE)) AS logp
           FROM v),
         s AS (SELECT e.doc_id, lm.logp FROM e LEFT JOIN lm USING (term)
               WHERE e.doc_id >= 250)
         SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(COALESCE(logp, -20.0)), 4) AS avg_logp
         FROM s GROUP BY doc_id""",
    "q110_corpus_report" -> {
      val en = Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
      val fr = Text.stopwords("fr").map(w => s"'$w'").mkString("[", ", ", "]")
      val es = Text.stopwords("es").map(w => s"'$w'").mkString("[", ", ", "]")
      val de = Text.stopwords("de").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT source, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT source, text, COALESCE(len(toks), 0) AS w,
             CAST(len(list_filter(toks, x -> list_contains($en, x))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_en,
             CAST(len(list_filter(toks, x -> list_contains($fr, x))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_fr,
             CAST(len(list_filter(toks, x -> list_contains($es, x))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_es,
             CAST(len(list_filter(toks, x -> list_contains($de, x))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_de,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
              + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS pii
           FROM d)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN NOT (s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de)
                          AND NOT (s_es > 0 AND s_es >= s_en AND s_es >= s_de)
                          AND s_en > 0 AND s_en >= s_de THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           COUNT(*) - COUNT(DISTINCT COALESCE(fp, '')) AS n_dup,
           CAST(SUM(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii,
           ROUND(AVG(w), 2) AS avg_words
         FROM s GROUP BY source"""
    },
    "q120_c4_filters" ->
      """WITH pages AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '.'
                  WHEN doc_id % 3 = 1 THEN regexp_replace(text, ' the ', '.' || chr(10), 'g')
                  ELSE text END AS text
           FROM documents),
         lines AS (SELECT doc_id, text,
             COALESCE(array_to_string(
               list_filter(string_split(text, chr(10)), l ->
                 regexp_matches(trim(l), '[.!?"'']$') AND
                 len(string_split_regex(trim(l), '\s+')) >= 5 AND
                 NOT contains(lower(l), 'javascript')),
               chr(10)), '') AS c4_text
           FROM pages)
         SELECT doc_id, c4_text,
           CAST(length(regexp_replace(c4_text, '[^.!?]', '', 'g')) AS BIGINT) AS n_sentences,
           (length(regexp_replace(c4_text, '[^.!?]', '', 'g')) >= 3 AND
            NOT contains(lower(text), 'lorem ipsum') AND
            NOT contains(text, '{')) AS c4_pass
         FROM lines""",
    "q122_url_curation" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'https://www.' || source || '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) || '?utm=x'
                  WHEN doc_id % 5 = 1 THEN 'http://' || source || '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) || '/'
                  WHEN doc_id % 5 = 2 THEN 'HTTPS://ads.tracker.net/click/' || CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 5 = 3 THEN 'https://' || source || '.example.COM/page/' || CAST(doc_id % 40 AS VARCHAR) || '#frag'
                  ELSE 'spam.example.org/offer/' || CAST(doc_id % 7 AS VARCHAR) END AS url
           FROM documents),
         n AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(trim(url)), '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''),
               '#.*$', ''), '\?.*$', ''), '/+$', '') AS url_norm
           FROM d),
         h AS (SELECT doc_id, url, url_norm,
             regexp_extract(url_norm, '^([^/]+)', 1) AS domain FROM n),
         r AS (SELECT doc_id, url, url_norm, domain,
             CASE WHEN contains(domain, '.')
                  THEN regexp_extract(domain, '([^.]+\.[^.]+)$', 1)
                  ELSE domain END AS reg_domain,
             row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS url_rank
           FROM h)
         SELECT doc_id, url, url_norm, domain, reg_domain,
           reg_domain IN ('tracker.net', 'example.org') AS blocked,
           url_rank,
           (reg_domain NOT IN ('tracker.net', 'example.org') AND url_rank = 1) AS keep
         FROM r""",
    "q123_perplexity_bands" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         e AS (SELECT doc_id, unnest(t) AS term FROM toks),
         g AS (SELECT doc_id, term, COUNT(*) AS c FROM e
               WHERE doc_id < 250 GROUP BY 1, 2),
         v AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tf FROM g
               GROUP BY term HAVING SUM(c) >= 2),
         lm AS (SELECT term,
             ln(CAST(tf AS DOUBLE) / CAST((SELECT SUM(tf) FROM v) AS DOUBLE)) AS logp
           FROM v),
         sc AS (SELECT e.doc_id, COUNT(*) AS n_tokens,
             ROUND(AVG(COALESCE(lm.logp, -20.0)), 4) AS avg_logp
           FROM e LEFT JOIN lm USING (term)
           WHERE e.doc_id >= 250 GROUP BY e.doc_id),
         pp AS (SELECT doc_id, n_tokens, avg_logp,
             ROUND(exp(-avg_logp), 4) AS perplexity FROM sc),
         ed AS (SELECT quantile_cont(perplexity, 0.25) AS e1,
                       quantile_cont(perplexity, 0.50) AS e2,
                       quantile_cont(perplexity, 0.75) AS e3 FROM pp),
         b AS (SELECT pp.*,
             1 + (CASE WHEN perplexity > e1 THEN 1 ELSE 0 END)
               + (CASE WHEN perplexity > e2 THEN 1 ELSE 0 END)
               + (CASE WHEN perplexity > e3 THEN 1 ELSE 0 END) AS q
           FROM pp, ed)
         SELECT doc_id, n_tokens, avg_logp, perplexity,
           CASE WHEN q = 1 THEN 'head' WHEN q = 4 THEN 'tail'
                ELSE 'middle' END AS band
         FROM b
         WHERE CASE WHEN q = 1 THEN TRUE
                    WHEN q = 4 THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
                    ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000' END""",
    "q124_source_overlap" ->
      """WITH tok AS (SELECT source,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         sh AS (SELECT source, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END AS s
           FROM tok),
         ss AS (SELECT DISTINCT source, g
           FROM (SELECT source, unnest(s) AS g FROM sh)),
         sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
         cm AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
           FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
         FROM cm
         JOIN sz sa ON cm.source_a = sa.source
         JOIN sz sb ON cm.source_b = sb.source""",
    "q126_token_budget" ->
      """WITH tok AS (SELECT source,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         cnt AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens_avail
           FROM tok GROUP BY source),
         w AS (SELECT source, n_tokens_avail,
             ROUND(pow(CAST(n_tokens_avail AS DOUBLE), 0.7) /
               (SELECT SUM(pow(CAST(n_tokens_avail AS DOUBLE), 0.7)) FROM cnt), 6) AS weight
           FROM cnt),
         base AS (SELECT source, n_tokens_avail, weight,
             weight * 54000 AS raw, n_tokens_avail * 2.0 AS cap FROM w),
         pools AS (SELECT
             SUM(CASE WHEN raw > cap THEN raw - cap ELSE 0 END) AS surplus,
             SUM(CASE WHEN raw > cap THEN 0 ELSE weight END) AS free_w FROM base)
         SELECT source, n_tokens_avail, weight,
           CAST(FLOOR(CASE WHEN raw > cap THEN cap
                ELSE LEAST(raw + CASE WHEN free_w > 0 THEN surplus * weight / free_w ELSE 0 END, cap) END) AS BIGINT) AS alloc_tokens,
           ROUND(CAST(FLOOR(CASE WHEN raw > cap THEN cap
                ELSE LEAST(raw + CASE WHEN free_w > 0 THEN surplus * weight / free_w ELSE 0 END, cap) END) AS DOUBLE) / n_tokens_avail, 4) AS epochs,
           raw > cap AS capped
         FROM base, pools""",
    "q127_incremental_dedup" ->
      """WITH f AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents),
         b1 AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         b2 AS (SELECT doc_id, fp FROM f WHERE doc_id >= 250),
         k AS (SELECT MIN(doc_id) AS doc_id FROM b2
               WHERE fp NOT IN (SELECT fp FROM b1) GROUP BY fp)
         SELECT d.* FROM documents d JOIN k USING (doc_id)""",
    "q128_fineweb_funnel" -> {
      def ratio(l: String): String = {
        val sw = Text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / GREATEST(len(toks), 1)"
      }
      s"""WITH pages AS (SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN text || '.'
                  WHEN doc_id % 3 = 1 THEN regexp_replace(text, ' the ', '.' || chr(10), 'g')
                  ELSE text END AS text
           FROM documents),
         c4 AS (SELECT doc_id, source, text,
             COALESCE(array_to_string(
               list_filter(string_split(text, chr(10)), l ->
                 regexp_matches(trim(l), '[.!?"'']$$') AND
                 len(string_split_regex(trim(l), '\\s+')) >= 5 AND
                 NOT contains(lower(l), 'javascript')),
               chr(10)), '') AS c4_text
           FROM pages),
         c AS (SELECT doc_id, source, c4_text,
             (length(regexp_replace(c4_text, '[^.!?]', '', 'g')) >= 3 AND
              NOT contains(lower(text), 'lorem ipsum') AND
              NOT contains(text, '{')) AS c4_pass,
             list_filter(string_split_regex(lower(trim(c4_text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM c4),
         q AS (SELECT *, (c4_pass AND len(toks) >= 5 AND
             CAST(length(regexp_replace(c4_text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
               / GREATEST(length(c4_text), 1) <= 0.3) AS quality_pass
           FROM c),
         l AS (SELECT *, (quality_pass AND (CASE
             WHEN ${ratio("fr")} > 0 AND ${ratio("fr")} >= ${ratio("es")} AND ${ratio("fr")} >= ${ratio("en")} AND ${ratio("fr")} >= ${ratio("de")} THEN 'fr'
             WHEN ${ratio("es")} > 0 AND ${ratio("es")} >= ${ratio("en")} AND ${ratio("es")} >= ${ratio("de")} THEN 'es'
             WHEN ${ratio("en")} > 0 AND ${ratio("en")} >= ${ratio("de")} THEN 'en'
             WHEN ${ratio("de")} > 0 THEN 'de'
             ELSE 'und' END) = 'en') AS lang_pass,
             md5(regexp_replace(lower(trim(c4_text)), '\\s+', ' ', 'g')) AS fp,
             (len(regexp_extract_all(c4_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(c4_text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
              + len(regexp_extract_all(c4_text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS pii_hit
           FROM q),
         kp AS (SELECT fp, MIN(doc_id) AS keeper FROM l
                WHERE lang_pass GROUP BY fp),
         a AS (SELECT l.*, (l.lang_pass AND l.doc_id = kp.keeper) AS kept
               FROM l LEFT JOIN kp ON l.fp = kp.fp)
         SELECT source, COUNT(*) AS n_input,
           CAST(SUM(CASE WHEN c4_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_c4,
           CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN lang_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept AND pii_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_kept
         FROM a GROUP BY source"""
    },
    "q129_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END AS s
           FROM tok),
         ds AS (SELECT DISTINCT doc_id, g
           FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
         fs AS (SELECT g, MIN(doc_id) AS first FROM ds GROUP BY g)
         SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS novelty
         FROM ds JOIN fs USING (g) GROUP BY doc_id""",
    "q130_zipf_slope" ->
      """WITH tok AS (SELECT source,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         tf AS (SELECT source, term, COUNT(*) AS f
           FROM (SELECT source, unnest(toks) AS term FROM tok)
           GROUP BY source, term),
         rk AS (SELECT source, term, f,
             row_number() OVER (PARTITION BY source ORDER BY f DESC, term ASC) AS r
           FROM tf),
         lg AS (SELECT source, f, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
           FROM rk)
         SELECT source, COUNT(*) AS n_terms, CAST(SUM(f) AS BIGINT) AS n_tokens,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
                 (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 4) AS zipf_slope
         FROM lg GROUP BY source""",
    "q131_bigram_lm_score" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         ref AS (SELECT doc_id, toks FROM tok WHERE doc_id < 250),
         refsh AS (SELECT CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS s
           FROM ref),
         bgc AS (SELECT g AS bigram, COUNT(*) AS c12
           FROM (SELECT unnest(s) AS g FROM refsh)
           WHERE contains(g, ' ') GROUP BY g HAVING COUNT(*) >= 2),
         c1 AS (SELECT term AS w1, COUNT(*) AS c1n
           FROM (SELECT unnest(toks) AS term FROM ref) GROUP BY 1),
         pb AS (SELECT bigram, CAST(c12 AS DOUBLE) / c1n AS p_big
           FROM bgc JOIN c1 ON split_part(bigram, ' ', 1) = w1),
         vocab AS (SELECT term, COUNT(*) AS tf
           FROM (SELECT unnest(toks) AS term FROM ref)
           GROUP BY term HAVING COUNT(*) >= 2),
         uni AS (SELECT term AS w2,
             CAST(tf AS DOUBLE) / (SELECT SUM(tf) FROM vocab) AS p_uni
           FROM vocab),
         d AS (SELECT doc_id, toks FROM tok WHERE doc_id >= 250 AND len(toks) >= 2),
         dsh AS (SELECT doc_id,
             unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS bigram
           FROM d),
         sc AS (SELECT doc_id,
             0.7 * COALESCE(p_big, 0) + (1.0 - 0.7) * COALESCE(p_uni, 0) AS p
           FROM dsh
           LEFT JOIN pb USING (bigram)
           LEFT JOIN uni ON split_part(bigram, ' ', 2) = w2)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(CASE WHEN p > 0 THEN ln(p) ELSE -20.0 END), 4) AS avg_logp
         FROM sc GROUP BY doc_id""",
    "q132_asof_join" ->
      """WITH c AS (SELECT user_id, ts, MAX(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         p AS (SELECT event_id, user_id, ts, value
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, ROUND(p.value, 4) AS value,
           COALESCE(c.ts, TIMESTAMP '1970-01-01') AS asof_ts,
           COALESCE(c.click_id, -1) AS asof_click_id
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q133_band_join" ->
      """WITH p AS (SELECT event_id, user_id, ts
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id,
           COUNT(e.ts) AS n_err,
           CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(18,2))), 0) AS DOUBLE) AS err_sum
         FROM p LEFT JOIN events e
           ON e.user_id = p.user_id AND e.event_type = 'error'
           AND e.ts BETWEEN p.ts - INTERVAL 600 SECOND AND p.ts
         GROUP BY p.event_id""",
    "q134_dsir_weights" -> dsirWeightsSql,
    "q135_dsir_select" ->
      s"""WITH w AS ($dsirWeightsSql)
         SELECT * FROM w
         WHERE dsir_weight >= (SELECT quantile_cont(dsir_weight, 0.75) FROM w)""",
    "q136_doremi_mixture" -> DoremiOracle.oracleSql(
      "SELECT source AS domain, AVG(n_chars) / 1000.0 AS excess FROM documents GROUP BY source",
      eta = 1.0, steps = 5, smoothing = 0.01),
    "q138_sessionize" ->
      """WITH o AS (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                  THEN 1 ELSE 0 END AS nw
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, value,
             CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
           FROM o)
         SELECT user_id, session_idx, COUNT(*) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM s GROUP BY user_id, session_idx""",
    "q139_rolling_window" ->
      """SELECT event_id,
           COUNT(*) OVER w AS rolling_n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q140_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS MATERIALIZED (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t0
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
           GROUP BY e.user_id),
         s3 AS MATERIALIZED (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND epoch_us(e.ts) <= epoch_us(s2.t0) + 604800000000
           GROUP BY e.user_id)
         SELECT 1 AS step, 'signup' AS step_name,
           (SELECT COUNT(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)""",
    "q141_pagerank" -> GraphOracle.pageRankOracleSql(
      proximityEdgesSql, iters = 5, damping = 0.85),
    "q145_label_propagation" -> GraphOracle.labelPropagationOracleSql(
      proximityEdgesSql, iters = 3),
    "q146_triangle_count" -> GraphOracle.triangleCountOracleSql(
      proximityEdgesSql),
    "q147_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q148_cube" ->
      """SELECT event_type,
         COALESCE(date_trunc('day', ts), TIMESTAMP '1970-01-01') AS day,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY CUBE (event_type, date_trunc('day', ts))""",
    "q142_resample_ffill" ->
      """WITH obs AS (SELECT user_id, ts, MAX(value) AS value
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
         grid AS (SELECT user_id,
             unnest(generate_series(
               to_timestamp((epoch_us(MIN(ts)) // 3600000000) * 3600),
               to_timestamp((epoch_us(MAX(ts)) // 3600000000) * 3600),
               INTERVAL 1 HOUR)) AS ts
           FROM obs GROUP BY user_id)
         SELECT g.user_id, CAST(g.ts AS TIMESTAMP) AS ts,
           ROUND(COALESCE(o.value, -1.0), 4) AS value_ffill
         FROM grid g ASOF LEFT JOIN obs o
           ON g.user_id = o.user_id AND g.ts >= o.ts""",
    "q143_scd2_intervals" ->
      """WITH st AS (SELECT user_id, ts,
             CAST(FLOOR(MAX(value)) % 3 AS BIGINT) AS state
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         ch AS (SELECT user_id, ts, state,
             lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM st),
         cp AS (SELECT user_id, ts, state FROM ch
           WHERE prev IS NULL OR prev IS DISTINCT FROM state)
         SELECT user_id, state, ts AS valid_from,
           COALESCE(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
             TIMESTAMP '2200-01-01') AS valid_to
         FROM cp""",
    "q144_weighted_sample" ->
      """SELECT source, doc_id, ROUND(sample_key, 6) AS sample_key
         FROM (SELECT source, doc_id,
             POW(((doc_id * 2654435761) % 4294967296 + 0.5) / 4294967296.0,
               1.0 / n_chars) AS sample_key
           FROM documents)
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY sample_key DESC, doc_id ASC) <= 5""",
    "q149_bm25" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         post AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY doc_id, term),
         dl AS (SELECT doc_id, SUM(tf) AS dl FROM post GROUP BY doc_id),
         stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         dfq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
         idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
           FROM dfq, stats),
         q AS (SELECT DISTINCT doc_id AS qid, unnest(t) AS term
           FROM tok WHERE doc_id < 5),
         sc AS (SELECT q.qid, p.doc_id,
             ROUND(SUM(idf.idf * p.tf * (1.2 + 1) /
               (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
           FROM q JOIN post p USING (term) JOIN idf USING (term)
           JOIN dl ON p.doc_id = dl.doc_id, stats
           GROUP BY q.qid, p.doc_id)
         SELECT qid, doc_id, bm25, rank FROM
           (SELECT *, CAST(row_number() OVER (PARTITION BY qid
              ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank FROM sc)
         WHERE rank <= 10""",
    "q150_fuzzy_join" ->
      """WITH p AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS a_name, b.p_name AS b_name,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
         FROM p a JOIN p b ON a.p_name < b.p_name
           AND abs(length(a.p_name) - length(b.p_name)) <= 2
           AND levenshtein(a.p_name, b.p_name) <= 2""",
    "q151_histogram_width" ->
      """WITH mm AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         b AS (SELECT LEAST(CAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / 10))
               AS INT), 9) AS bucket, mn, mx
           FROM lineitem, mm WHERE l_extendedprice IS NOT NULL)
         SELECT bucket, ROUND(mn + bucket * ((mx - mn) / 10), 6) AS lo,
           ROUND(mn + (bucket + 1) * ((mx - mn) / 10), 6) AS hi, COUNT(*) AS n
         FROM b GROUP BY bucket, mn, mx""",
    "q152_histogram_depth" ->
      """WITH e AS (SELECT list_transform(quantile_cont(value,
             [0.0, 0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]),
             x -> ROUND(x, 6)) AS ed
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT value, CAST(
             (CASE WHEN value > ed[2] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[3] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[4] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[5] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[6] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[7] THEN 1 ELSE 0 END) +
             (CASE WHEN value > ed[8] THEN 1 ELSE 0 END) AS INT) AS bucket
           FROM events, e WHERE value IS NOT NULL)
         SELECT bucket, ed[bucket + 1] AS lo, ed[bucket + 2] AS hi, COUNT(*) AS n
         FROM b, e GROUP BY bucket, ed""",
    "q153_tfidf_pairs" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
         tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM docs),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY doc_id, term),
         nn AS (SELECT COUNT(*) AS n FROM docs),
         idf AS (SELECT term, ln(CAST(n AS DOUBLE) / COUNT(*)) AS idf
           FROM tf, nn GROUP BY term, n),
         w AS (SELECT doc_id, term, tf * idf AS w
           FROM tf JOIN idf USING (term)),
         nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
         v AS (SELECT w.doc_id, term,
             CASE WHEN nrm > 0 THEN w / nrm ELSE 0 END AS weight
           FROM w JOIN nrm ON w.doc_id = nrm.doc_id)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(SUM(a.weight * b.weight), 6) AS similarity
         FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id HAVING similarity >= 0.9""",
    "q154_hybrid_rrf" ->
      """WITH q AS (SELECT d.doc_id AS qid, d.text, e.embedding
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
           WHERE d.doc_id < 5),
         qv AS (SELECT qid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM q),
         r AS (SELECT vec_id AS doc_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS re
           FROM embeddings),
         dense AS (SELECT qid, doc_id, CAST(row_number() OVER
               (PARTITION BY qid ORDER BY sim DESC, doc_id) AS INT) AS rank
           FROM (SELECT qid, doc_id,
               list_dot_product(qe, re) / (SQRT(list_dot_product(qe, qe)) *
                 SQRT(list_dot_product(re, re))) AS sim
             FROM qv CROSS JOIN r WHERE qid != doc_id)
           QUALIFY rank <= 20),
         tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS t
           FROM documents),
         post AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY doc_id, term),
         dl AS (SELECT doc_id, SUM(tf) AS dl FROM post GROUP BY doc_id),
         stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         dfq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
         idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
           FROM dfq, stats),
         qt AS (SELECT DISTINCT qid,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS term
           FROM q),
         sc AS (SELECT qt.qid, p.doc_id,
             ROUND(SUM(idf.idf * p.tf * (1.2 + 1) /
               (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
           FROM qt JOIN post p USING (term) JOIN idf USING (term)
           JOIN dl ON p.doc_id = dl.doc_id, stats
           GROUP BY qt.qid, p.doc_id),
         sparse AS (SELECT qid, doc_id, CAST(row_number() OVER
               (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 20),
         fused AS (SELECT COALESCE(d.qid, s.qid) AS qid,
             COALESCE(d.doc_id, s.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / (60 + d.rank), 0) +
                   COALESCE(1.0 / (60 + s.rank), 0), 6) AS rrf_score
           FROM dense d FULL OUTER JOIN sparse s
             ON d.qid = s.qid AND d.doc_id = s.doc_id)
         SELECT qid, doc_id, rrf_score, CAST(row_number() OVER
             (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
         FROM fused QUALIFY rank <= 10""",
    "q155_mutual_information" ->
      """WITH d AS (SELECT event_type AS a,
             CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS b FROM events),
         cells AS (SELECT a, b, COUNT(*) AS n FROM d GROUP BY a, b),
         na AS (SELECT a, SUM(n) AS n_a FROM cells GROUP BY a),
         nb AS (SELECT b, SUM(n) AS n_b FROM cells GROUP BY b),
         nt AS (SELECT SUM(n) AS n_tot FROM cells),
         mi AS (SELECT SUM((n / n_tot) * ln((n / n_tot) /
               ((n_a / n_tot) * (n_b / n_tot)))) AS mi
           FROM cells JOIN na USING (a) JOIN nb USING (b), nt),
         ha AS (SELECT -SUM((n_a / n_tot) * ln(n_a / n_tot)) AS ha FROM na, nt),
         hb AS (SELECT -SUM((n_b / n_tot) * ln(n_b / n_tot)) AS hb FROM nb, nt)
         SELECT ROUND(mi, 6) AS mi_nats, ROUND(ha, 6) AS entropy_a,
           ROUND(hb, 6) AS entropy_b,
           ROUND(CASE WHEN LEAST(ha, hb) > 0 THEN mi / LEAST(ha, hb)
             ELSE 0 END, 6) AS normalized_mi
         FROM mi, ha, hb""",
    "q156_chi_square" ->
      """WITH d AS (SELECT event_type AS a,
             CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS b FROM events),
         cells AS (SELECT a, b, COUNT(*) AS n FROM d GROUP BY a, b),
         na AS (SELECT a, SUM(n) AS n_a FROM cells GROUP BY a),
         nb AS (SELECT b, SUM(n) AS n_b FROM cells GROUP BY b),
         nt AS (SELECT SUM(n) AS n_tot FROM cells),
         obs AS (SELECT
             SUM(POW(n - CAST(n_a AS DOUBLE) * n_b / n_tot, 2) /
               (CAST(n_a AS DOUBLE) * n_b / n_tot)) AS chi_obs,
             SUM(CAST(n_a AS DOUBLE) * n_b / n_tot) AS e_obs,
             ANY_VALUE(n_tot) AS n,
             COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c
           FROM cells JOIN na USING (a) JOIN nb USING (b), nt)
         SELECT ROUND(chi_obs + (n - e_obs), 6) AS chi2,
           (r - 1) * (c - 1) AS dof,
           ROUND(SQRT((chi_obs + (n - e_obs)) / (n * (LEAST(r, c) - 1))), 6)
             AS cramers_v
         FROM obs""",
    "q157_expectations" ->
      """SELECT 'not_null' AS "check", 'l_orderkey' AS "column",
           COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS n_violations,
           COUNT(*) FILTER (WHERE l_orderkey IS NULL) = 0 AS passed
         FROM lineitem
         UNION ALL
         SELECT 'unique', 'l_orderkey,l_linenumber',
           (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
             - (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
             = (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
         UNION ALL
         SELECT 'in_range', 'l_discount',
           COUNT(*) FILTER (WHERE l_discount IS NOT NULL
             AND (l_discount < 0.0 OR l_discount > 0.1)),
           COUNT(*) FILTER (WHERE l_discount IS NOT NULL
             AND (l_discount < 0.0 OR l_discount > 0.1)) = 0
         FROM lineitem
         UNION ALL
         SELECT 'accepted_values', 'l_returnflag',
           COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
             AND l_returnflag NOT IN ('A', 'N', 'R')),
           COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
             AND l_returnflag NOT IN ('A', 'N', 'R')) = 0
         FROM lineitem
         UNION ALL
         SELECT 'matches_regex', 'l_linestatus',
           COUNT(*) FILTER (WHERE l_linestatus IS NOT NULL
             AND NOT regexp_matches(l_linestatus, '^[OF]$')),
           COUNT(*) FILTER (WHERE l_linestatus IS NOT NULL
             AND NOT regexp_matches(l_linestatus, '^[OF]$')) = 0
         FROM lineitem""",
    "q158_group_quantiles" -> Seq(0.25, 0.5, 0.75, 0.9).map(p =>
      s"""SELECT l_returnflag, CAST($p AS DOUBLE) AS p,
          ROUND(quantile_cont(l_extendedprice, $p), 6) AS value
          FROM lineitem GROUP BY l_returnflag""").mkString(" UNION ALL "),
    "q159_pivot" -> {
      val cols = Seq("click", "view", "purchase", "signup", "error").map(v =>
        s"""CAST(SUM(CASE WHEN event_type = '$v'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "$v"""")
        .mkString(", ")
      s"""SELECT date_trunc('day', ts) AS day, $cols
          FROM events GROUP BY day"""
    },
    "q160_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a""",
    "q161_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           ROUND(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS delta_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q163_rolling_anomaly" ->
      """SELECT event_id, user_id, baseline_n, baseline_mean, z,
           COALESCE(ABS(z) > 2.0, false) AS is_anomaly
         FROM (SELECT event_id, user_id,
             COUNT(value) OVER w AS baseline_n,
             ROUND(AVG(value) OVER w, 6) AS baseline_mean,
             CASE WHEN COUNT(value) OVER w >= 5 AND stddev_samp(value) OVER w > 0
               THEN ROUND((value - AVG(value) OVER w) /
                 stddev_samp(value) OVER w, 6) END AS z
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING))""",
    "q164_cohort_retention" ->
      """WITH ev AS (SELECT user_id AS u,
             date_trunc('week', ts) AS wk FROM events),
         coh AS (SELECT u, MIN(wk) AS cohort_week FROM ev GROUP BY u),
         act AS (SELECT DISTINCT u, wk FROM ev)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS week_offset,
           COUNT(DISTINCT u) AS n_active
         FROM act JOIN coh USING (u) GROUP BY cohort_week, week_offset""",
    "q165_bfs_hops" -> GraphOracle.bfsDepthsOracleSql(
      proximityEdgesSql,
      "SELECT vec_id AS id FROM embeddings WHERE vec_id < 3", maxHops = 4),
    "q166_woe_encoding" ->
      """WITH cells AS (SELECT l_returnflag AS category, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_pos,
             COUNT(*) FILTER (WHERE NOT l_discount > 0.05) AS n_neg
           FROM lineitem GROUP BY l_returnflag),
         tot AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS ng FROM cells)
         SELECT category, n, n_pos, n_neg,
           ROUND(ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / ng)), 6) AS woe,
           ROUND(((n_pos + 0.5) / p - (n_neg + 0.5) / ng) *
             ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / ng)), 6) AS iv_term
         FROM cells, tot""",
    "q167_target_encoding" ->
      """WITH s AS (SELECT o_orderpriority, COUNT(o_totalprice) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
           FROM orders GROUP BY o_orderpriority),
         g AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(o_totalprice) AS gm FROM orders),
         enc AS (SELECT o_orderpriority,
             ROUND((s + 20.0 * gm) / (n + 20.0), 6) AS prio_enc FROM s, g)
         SELECT o_orderkey, o_orderpriority, prio_enc
         FROM orders JOIN enc USING (o_orderpriority)""",
    "q168_interval_join" ->
      """WITH l AS (SELECT user_id, event_id AS l_event_id, ts AS ls,
             ts + INTERVAL 1800 SECOND AS le FROM events),
         r AS (SELECT user_id, event_id AS r_event_id, ts AS rs,
             ts + INTERVAL 600 SECOND AS re FROM events
           WHERE event_type = 'error')
         SELECT l.user_id, l_event_id, r_event_id
         FROM l JOIN r ON l.user_id = r.user_id
           AND ls <= re AND rs <= le""",
    "q169_skew_report" ->
      """WITH c AS (SELECT l_suppkey AS k, COUNT(*) AS c
           FROM lineitem GROUP BY l_suppkey),
         rk AS (SELECT c, row_number() OVER (ORDER BY c, k) AS i FROM c),
         t AS (SELECT SUM(c) AS s, COUNT(*) AS n, MAX(c) AS mx FROM c),
         t5 AS (SELECT SUM(c) AS t5 FROM
           (SELECT c FROM c ORDER BY c DESC, k ASC LIMIT 5)),
         g AS (SELECT SUM((2.0 * i - n - 1) * c) AS gsum FROM rk, t)
         SELECT CAST(s AS BIGINT) AS n_rows, n AS n_keys,
           ROUND(CAST(mx AS DOUBLE) / s, 6) AS max_key_share,
           ROUND(CAST(t5 AS DOUBLE) / s, 6) AS top5_share,
           ROUND(gsum / (n * s), 6) AS gini
         FROM t, t5, g""",
    "q170_join_cardinality" ->
      """WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS nl
           FROM lineitem GROUP BY l_orderkey),
         rc AS (SELECT o_orderkey AS k, COUNT(*) AS nr
           FROM orders GROUP BY o_orderkey)
         SELECT (SELECT COUNT(*) FROM lineitem) AS left_rows,
           (SELECT COUNT(*) FROM orders) AS right_rows,
           COUNT(*) AS matching_keys,
           CAST(COALESCE(SUM(nl * nr), 0) AS BIGINT) AS join_rows,
           COALESCE(MAX(nl * nr), 0) AS max_key_pairs
         FROM lc JOIN rc USING (k)""",
    "q171_bloom_blocklist" ->
      """WITH fp AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents),
         block AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 = 0)
         SELECT doc_id FROM fp WHERE fp NOT IN (SELECT fp FROM block)""",
    "q172_incremental_agg" ->
      """SELECT l_returnflag, COUNT(l_extendedprice) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           MIN(l_extendedprice) AS min_v, MAX(l_extendedprice) AS max_v,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_extendedprice), 6) AS avg_v
         FROM lineitem GROUP BY l_returnflag""",
    "q173_item_cooccur" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
           FROM lineitem),
         nb AS (SELECT COUNT(DISTINCT b) AS n FROM items),
         ic AS (SELECT i, COUNT(*) AS ci FROM items GROUP BY i),
         pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_pair
           FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
           GROUP BY a.i, b.i HAVING COUNT(*) >= 2)
         SELECT item_a, item_b, n_pair, ca.ci AS n_a, cb.ci AS n_b,
           ROUND(n_pair * nb.n / (ca.ci * cb.ci), 6) AS lift,
           ROUND(ln(n_pair * nb.n / (ca.ci * cb.ci)), 6) AS pmi
         FROM pairs
         JOIN ic ca ON pairs.item_a = ca.i
         JOIN ic cb ON pairs.item_b = cb.i, nb""",
    "q174_mad_outliers" ->
      """WITH med AS (SELECT quantile_cont(l_extendedprice, 0.5) AS m
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         mad AS (SELECT quantile_cont(ABS(l_extendedprice - m), 0.5) AS d
           FROM lineitem, med WHERE l_extendedprice IS NOT NULL),
         z AS (SELECT l_orderkey, l_linenumber,
             CASE WHEN d = 0 THEN NULL
               ELSE ROUND(0.6745 * (l_extendedprice - m) / d, 6) END AS mad_z
           FROM lineitem, med, mad)
         SELECT l_orderkey, l_linenumber, mad_z,
           COALESCE(ABS(mad_z) > 3.5, false) AS is_outlier
         FROM z""",
    "q175_benford" ->
      """WITH pos AS (SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
         c AS (SELECT CAST(FLOOR(x / POW(10.0, FLOOR(LOG10(x)))) AS INT)
             AS digit, COUNT(*) AS n FROM pos GROUP BY digit),
         t AS (SELECT SUM(n) AS tot FROM c)
         SELECT digit, n,
           ROUND(n / CAST(tot AS DOUBLE), 6) AS observed_share,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_share,
           ROUND(POW(n / CAST(tot AS DOUBLE) - LOG10(1.0 + 1.0 / digit), 2)
             / LOG10(1.0 + 1.0 / digit) * tot, 6) AS chi2_term
         FROM c, t""",
    "q176_group_regression" ->
      """SELECT l_returnflag,
           regr_count(l_extendedprice, l_quantity) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr,
           CASE WHEN regr_count(l_extendedprice, l_quantity) > 2
               AND ABS(corr(l_extendedprice, l_quantity)) < 1.0
             THEN ROUND(corr(l_extendedprice, l_quantity) *
               SQRT((regr_count(l_extendedprice, l_quantity) - 2) /
                 (1.0 - corr(l_extendedprice, l_quantity) *
                   corr(l_extendedprice, l_quantity))), 6) END AS t_stat
         FROM lineitem GROUP BY l_returnflag""",
    "q177_decayed_sum" ->
      """SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(EXP((-LN(2) / 7) *
             ((epoch_us(TIMESTAMP '2024-01-20 00:00:00') - epoch_us(ts))
               / 86400000000.0)) * value), 6) AS decayed_sum,
           ROUND(SUM(EXP((-LN(2) / 7) *
             ((epoch_us(TIMESTAMP '2024-01-20 00:00:00') - epoch_us(ts))
               / 86400000000.0))), 6) AS decayed_count
         FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY user_id""",
    "q178_group_split" ->
      """WITH s AS (SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 8) <
                 lower(lpad(to_hex(CAST(floor(0.25 * 4294967296) AS BIGINT)), 8, '0'))
               THEN 'test' ELSE 'train' END AS split
           FROM events)
         SELECT split, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_groups
         FROM s GROUP BY split""",
    "q179_kcore" -> GraphOracle.kcorePeelOracleSql(
      proximityEdgesSql, k = 2, rounds = 3),
    "q180_degree_stats" ->
      s"""WITH eg AS ($proximityEdgesSql),
          und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM eg WHERE src != dst),
          dir AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
          deg AS (SELECT src AS id, COUNT(*) AS deg FROM dir GROUP BY src),
          j AS (SELECT dir.src, d1.deg AS ds, d2.deg AS dd
            FROM dir JOIN deg d1 ON dir.src = d1.id
            JOIN deg d2 ON dir.dst = d2.id)
          SELECT COUNT(DISTINCT src) AS n_nodes,
            CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
            ROUND(COUNT(*) / COUNT(DISTINCT src), 6) AS avg_degree,
            MAX(ds) AS max_degree,
            ROUND(corr(ds, dd), 6) AS assortativity
          FROM j""",
    "q181_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS n FROM part),
         e AS (SELECT a.n AS src, b.n AS dst FROM names a JOIN names b
           ON a.n != b.n AND abs(length(a.n) - length(b.n)) <= 2
           AND levenshtein(a.n, b.n) <= 2),
         reach(a, b) AS (
           SELECT n, n FROM names
           UNION
           SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
         canon AS (SELECT a AS name, MIN(b) AS canonical_name
           FROM reach GROUP BY a),
         sizes AS (SELECT canonical_name, COUNT(*) AS cluster_size
           FROM canon GROUP BY canonical_name)
         SELECT name, canonical_name, cluster_size
         FROM canon JOIN sizes USING (canonical_name)""",
    "q182_weekly_report" ->
      """WITH wk AS (SELECT date_trunc('week', ts) AS week, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS t
           FROM events GROUP BY week)
         SELECT week, n, ROUND(t, 6) AS total,
           ROUND((t - lag(t, 1) OVER (ORDER BY week)) /
             lag(t, 1) OVER (ORDER BY week), 6) AS pct_change,
           ROUND(AVG(t) OVER (ORDER BY week
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS ma4
         FROM wk""",
    "q183_survival" ->
      """WITH life AS (SELECT
             (COALESCE(MIN(CASE WHEN event_type = 'error'
                 THEN epoch_us(ts) END), MAX(epoch_us(ts)))
               - MIN(epoch_us(ts))) / 86400000000.0 AS duration,
             CASE WHEN MIN(CASE WHEN event_type = 'error'
                 THEN epoch_us(ts) END) IS NOT NULL
               THEN 1 ELSE 0 END AS event
           FROM events GROUP BY user_id),
         byt AS (SELECT duration AS t, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events
           FROM life GROUP BY duration),
         ar AS (SELECT t, n_events, CAST(SUM(n) OVER (ORDER BY t DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at_risk
           FROM byt),
         ev AS (SELECT t, n_at_risk, n_events,
             1.0 - n_events / CAST(n_at_risk AS DOUBLE) AS factor
           FROM ar WHERE n_events > 0)
         SELECT t, n_at_risk, n_events,
           CASE WHEN SUM(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) > 0 THEN 0.0
             ELSE ROUND(EXP(SUM(CASE WHEN factor > 0 THEN LN(factor) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)), 6) END AS survival
         FROM ev""",
    "q184_transitions" ->
      """WITH nxt AS (SELECT event_type AS from_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         pairs AS (SELECT from_type, to_type, COUNT(*) AS n
           FROM nxt WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         tot AS (SELECT from_type, SUM(n) AS tt FROM pairs GROUP BY from_type)
         SELECT from_type, to_type, n, ROUND(n / CAST(tt AS DOUBLE), 6) AS p
         FROM pairs JOIN tot USING (from_type)""",
    "q185_welch_t" ->
      """WITH g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
             AS grp, value FROM events),
         a AS (SELECT
             COUNT(*) FILTER (WHERE grp = 'a') AS n_a,
             COUNT(*) FILTER (WHERE grp = 'b') AS n_b,
             AVG(value) FILTER (WHERE grp = 'a') AS ma,
             AVG(value) FILTER (WHERE grp = 'b') AS mb,
             var_samp(value) FILTER (WHERE grp = 'a') AS va,
             var_samp(value) FILTER (WHERE grp = 'b') AS vb
           FROM g)
         SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND(ma - mb, 6) AS diff,
           ROUND(SQRT(va / n_a + vb / n_b), 6) AS se,
           ROUND((ma - mb) / SQRT(va / n_a + vb / n_b), 6) AS t_stat,
           ROUND(POW(va / n_a + vb / n_b, 2) /
             (POW(va / n_a, 2) / (n_a - 1) + POW(vb / n_b, 2) / (n_b - 1)), 6)
             AS df
         FROM a""",
    "q186_rolling_folds" ->
      // rank-based cuts (exact integers — interpolated percentiles
      // rounded the last µs differently per engine at sf0.1):
      // cut_i = MIN us with ascending cumulative count >= (n*i) div 5
      """WITH base AS (SELECT epoch_us(ts) AS us FROM events),
         nn AS (SELECT COUNT(*) AS n FROM base),
         cum AS MATERIALIZED (SELECT us, SUM(c) OVER (ORDER BY us) AS cm
           FROM (SELECT us, COUNT(*) AS c FROM base GROUP BY us)),
         cutv AS (SELECT i, (SELECT MIN(us) FROM cum
             WHERE cm >= GREATEST(1, (SELECT n FROM nn) * i // 5)) AS v
           FROM (SELECT UNNEST(range(1, 6)) AS i))
         SELECT CAST(a.i - 1 AS INT) AS fold, a.v AS train_end_us,
           b.v AS valid_end_us,
           (SELECT COUNT(*) FROM base WHERE us < a.v) AS n_train,
           (SELECT COUNT(*) FROM base
              WHERE us >= a.v AND us < b.v) AS n_valid
         FROM cutv a JOIN cutv b ON b.i = a.i + 1
         WHERE a.i <= 4 ORDER BY fold""",
    "q187_calibration" ->
      """WITH d AS (SELECT value / 100 AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events)
         SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin, COUNT(*) AS n,
           ROUND(AVG(p), 6) AS mean_pred,
           ROUND(AVG(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
         FROM d WHERE p IS NOT NULL AND p >= 0 AND p <= 1
         GROUP BY bin""",
    "q188_winsorized_stats" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
           FROM lineitem WHERE l_extendedprice IS NOT NULL)
         SELECT COUNT(*) AS n, ROUND(lo, 6) AS lo_bound,
           ROUND(hi, 6) AS hi_bound,
           CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(AVG(LEAST(GREATEST(l_extendedprice, lo), hi)), 6) AS mean,
           ROUND(stddev_samp(LEAST(GREATEST(l_extendedprice, lo), hi)), 6)
             AS stddev
         FROM lineitem, b WHERE l_extendedprice IS NOT NULL
         GROUP BY lo, hi""",
    "q189_dow_seasonality" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, COUNT(*) AS n,
           ROUND(AVG(value), 6) AS mean,
           ROUND(AVG(value) - (SELECT AVG(value) FROM events), 6)
             AS delta_vs_global
         FROM events GROUP BY dow""",
    "q190_binned_woe" ->
      """WITH e AS (SELECT list_transform(quantile_cont(l_extendedprice,
             [0.2, 0.4, 0.6, 0.8]), x -> ROUND(x, 6)) AS ed
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         b AS (SELECT CAST(
             (CASE WHEN l_extendedprice > ed[1] THEN 1 ELSE 0 END) +
             (CASE WHEN l_extendedprice > ed[2] THEN 1 ELSE 0 END) +
             (CASE WHEN l_extendedprice > ed[3] THEN 1 ELSE 0 END) +
             (CASE WHEN l_extendedprice > ed[4] THEN 1 ELSE 0 END)
               AS VARCHAR) AS category,
             CASE WHEN l_discount > 0.05 THEN 1
               WHEN l_discount IS NULL THEN NULL ELSE 0 END AS label
           FROM lineitem, e WHERE l_extendedprice IS NOT NULL),
         cells AS (SELECT category, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE label = 1) AS n_pos,
             COUNT(*) FILTER (WHERE label = 0) AS n_neg
           FROM b GROUP BY category),
         tot AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS ng FROM cells)
         SELECT category, n, n_pos, n_neg,
           ROUND(ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / ng)), 6) AS woe,
           ROUND(((n_pos + 0.5) / p - (n_neg + 0.5) / ng) *
             ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / ng)), 6) AS iv_term
         FROM cells, tot""",
    "q191_abc_analysis" ->
      """WITH t AS (SELECT CAST(l_suppkey AS VARCHAR) AS entity,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS t
           FROM lineitem GROUP BY l_suppkey),
         g AS (SELECT SUM(t) AS grand FROM t),
         c AS (SELECT entity, t,
             SUM(t) OVER (ORDER BY t DESC, entity ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT entity, ROUND(t, 6) AS total,
           ROUND(t / grand, 6) AS share,
           ROUND(cum / grand, 6) AS cum_share,
           CASE WHEN ROUND(cum / grand, 6) <= 0.8 THEN 'A'
             WHEN ROUND(cum / grand, 6) <= 0.95 THEN 'B'
             ELSE 'C' END AS abc_class
         FROM c, g""",
    "q192_attribution" ->
      """WITH tagged AS (SELECT user_id, ts, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
               THEN event_type END AS touch
           FROM events),
         a AS (SELECT *, last_value(touch IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
           FROM tagged)
         SELECT COALESCE(attr, '(none)') AS touch_type,
           COUNT(*) AS n_conversions,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS value_sum
         FROM a WHERE event_type = 'purchase' GROUP BY touch_type""",
    "q193_rfm_segments" ->
      """WITH pu AS (SELECT user_id AS user,
             (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - MAX(epoch_us(ts)))
               / 86400000000.0 AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           FROM events WHERE ts <= TIMESTAMP '2024-02-01 00:00:00'
           GROUP BY user_id),
         e AS (SELECT
             list_transform(quantile_cont(recency_days, [0.25, 0.5, 0.75]),
               x -> ROUND(x, 6)) AS re,
             list_transform(quantile_cont(CAST(frequency AS DOUBLE),
               [0.25, 0.5, 0.75]), x -> ROUND(x, 6)) AS fe,
             list_transform(quantile_cont(monetary, [0.25, 0.5, 0.75]),
               x -> ROUND(x, 6)) AS me
           FROM pu),
         s AS (SELECT "user", recency_days, frequency, monetary,
             4 - ((CASE WHEN recency_days > re[1] THEN 1 ELSE 0 END) +
                  (CASE WHEN recency_days > re[2] THEN 1 ELSE 0 END) +
                  (CASE WHEN recency_days > re[3] THEN 1 ELSE 0 END)) AS r_score,
             1 + ((CASE WHEN frequency > fe[1] THEN 1 ELSE 0 END) +
                  (CASE WHEN frequency > fe[2] THEN 1 ELSE 0 END) +
                  (CASE WHEN frequency > fe[3] THEN 1 ELSE 0 END)) AS f_score,
             1 + ((CASE WHEN monetary > me[1] THEN 1 ELSE 0 END) +
                  (CASE WHEN monetary > me[2] THEN 1 ELSE 0 END) +
                  (CASE WHEN monetary > me[3] THEN 1 ELSE 0 END)) AS m_score
           FROM pu, e)
         SELECT "user", ROUND(recency_days, 6) AS recency_days, frequency,
           ROUND(monetary, 6) AS monetary,
           CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
             CAST(m_score AS VARCHAR) AS segment
         FROM s""",
    "q194_mann_whitney" ->
      """WITH base AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
             AS grp, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT grp,
             rank() OVER (ORDER BY v) +
               (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar,
             COUNT(*) OVER (PARTITION BY v) AS tn FROM base),
         a AS (SELECT COUNT(*) FILTER (WHERE grp = 'a') AS na,
             COUNT(*) FILTER (WHERE grp = 'b') AS nb,
             SUM(ar) FILTER (WHERE grp = 'a') AS rs,
             SUM(tn * tn - 1.0) AS ties FROM r)
         SELECT na AS n_a, nb AS n_b,
           ROUND(rs - na * (na + 1) / 2.0, 6) AS u_stat,
           ROUND((rs - na * (na + 1) / 2.0 - na * nb / 2.0) /
             SQRT(na * nb / 12.0 * ((na + nb + 1) -
               ties / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat,
           ROUND(1.0 - 2.0 * (rs - na * (na + 1) / 2.0) / (na * nb), 6)
             AS rank_biserial
         FROM a""",
    "q195_kruskal_wallis" ->
      """WITH base AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT grp,
             rank() OVER (ORDER BY v) +
               (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar,
             COUNT(*) OVER (PARTITION BY v) AS tn FROM base),
         g AS (SELECT grp, COUNT(*) AS ng, SUM(ar) AS rg,
             SUM(tn * tn - 1.0) AS tg FROM r GROUP BY grp),
         a AS (SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
             SUM(rg * rg / ng) AS s, SUM(tg) AS ties FROM g)
         SELECT k, n,
           ROUND(12.0 / (n * (n + 1)) * s - 3.0 * (n + 1), 6) AS h_stat,
           ROUND((12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)) /
             (1.0 - ties / (CAST(n AS DOUBLE) * n * n - n)), 6)
             AS h_corrected
         FROM a""",
    "q196_anova_f" ->
      // exact cents lattice + B_g = (S_g²·10⁶) // n_g; one portable
      // double conversion (core/Lattice) — see StatTests.anovaF
      s"""WITH base AS (SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xc
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         g AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS ng,
             SUM(xc) AS sg, SUM(xc * xc) AS qg FROM base GROUP BY grp),
         gb AS (SELECT grp, ng, sg, qg,
             (sg * sg * 1000000) // ng AS bg FROM g),
         a AS (SELECT COUNT(*) AS k, SUM(ng) AS nD, SUM(sg) AS s,
             SUM(qg) AS q, SUM(bg) AS bsum FROM gb),
         sc AS (SELECT k, nD,
             GREATEST(bsum - ((s * s * 1000000) // nD),
               CAST(0 AS HUGEINT)) AS ssbS,
             GREATEST(q * 1000000 - bsum, CAST(0 AS HUGEINT)) AS sswS
           FROM a),
         d AS (SELECT k, nD,
             ${LatticeOracle.duckPortableDouble("ssbS")} / 1.0e10
               AS ssb,
             ${LatticeOracle.duckPortableDouble("sswS")} / 1.0e10
               AS ssw
           FROM sc)
         SELECT k, CAST(nD AS BIGINT) AS n,
           ROUND(ssb, 6) AS ss_between, ROUND(ssw, 6) AS ss_within,
           ROUND((ssb / (k - 1)) / (ssw / CAST(nD - k AS DOUBLE)), 6)
             AS f_stat
         FROM d""",
    "q197_spearman_corr" ->
      """WITH base AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
             CAST(l_extendedprice AS DOUBLE) AS b
           FROM lineitem WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         r AS (SELECT
             rank() OVER (ORDER BY a) +
               (COUNT(*) OVER (PARTITION BY a) - 1) / 2.0 AS ra,
             rank() OVER (ORDER BY b) +
               (COUNT(*) OVER (PARTITION BY b) - 1) / 2.0 AS rb FROM base)
         SELECT ROUND(covar_pop(ra, rb) /
           (stddev_pop(ra) * stddev_pop(rb)), 6) AS spearman FROM r""",
    "q198_kendall_tau" ->
      """WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_linenumber AS DOUBLE) AS y, COUNT(*) AS c
           FROM lineitem WHERE l_quantity IS NOT NULL
             AND l_linenumber IS NOT NULL GROUP BY x, y),
         p AS (SELECT
             CAST(SUM(CASE WHEN c1.y < c2.y THEN c1.c * c2.c ELSE 0 END)
               AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN c1.y > c2.y THEN c1.c * c2.c ELSE 0 END)
               AS BIGINT) AS disc
           FROM cells c1 JOIN cells c2 ON c1.x < c2.x),
         m AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ncells
           FROM cells),
         tx AS (SELECT SUM(nx * (nx - 1) / 2) AS t
           FROM (SELECT SUM(c) AS nx FROM cells GROUP BY x)),
         ty AS (SELECT SUM(ny * (ny - 1) / 2) AS t
           FROM (SELECT SUM(c) AS ny FROM cells GROUP BY y))
         SELECT n, ncells AS n_cells, conc AS concordant, disc AS discordant,
           ROUND((conc - disc) / SQRT(
             (n * (n - 1) / 2.0 - tx.t) * (n * (n - 1) / 2.0 - ty.t)), 6)
             AS tau_b
         FROM p, m, tx, ty""",
    "q199_lift_table" ->
      """WITH d AS (SELECT value / 100 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL AND NOT isnan(value / 100)),
         e AS (SELECT list_transform(quantile_cont(s,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             x -> ROUND(x, 6)) AS ed FROM d),
         b AS (SELECT 1 +
             (CASE WHEN s > ed[1] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[2] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[3] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[4] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[5] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[6] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[7] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[8] THEN 1 ELSE 0 END) +
             (CASE WHEN s > ed[9] THEN 1 ELSE 0 END) AS band, y
           FROM d, e),
         pb AS (SELECT band, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
           FROM b GROUP BY band),
         t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
             CAST(SUM(n) AS BIGINT) AS tnn FROM pb)
         SELECT band, n, n_pos,
           ROUND(n_pos / CAST(n AS DOUBLE), 6) AS pos_rate,
           ROUND(SUM(n_pos) OVER (ORDER BY band DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(tp AS DOUBLE), 6) AS cum_capture,
           ROUND((n_pos / CAST(n AS DOUBLE)) /
             (tp / CAST(tnn AS DOUBLE)), 6) AS lift
         FROM pb, t""",
    "q200_acf" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events WHERE value IS NOT NULL GROUP BY day),
         m AS (SELECT AVG(total) AS mm, SUM(total * total) AS ss,
             COUNT(*) AS nn FROM d),
         l AS (SELECT total AS x,
             lag(total, 1) OVER (ORDER BY day) AS x1,
             lag(total, 2) OVER (ORDER BY day) AS x2,
             lag(total, 3) OVER (ORDER BY day) AS x3,
             lag(total, 4) OVER (ORDER BY day) AS x4,
             lag(total, 5) OVER (ORDER BY day) AS x5,
             lag(total, 6) OVER (ORDER BY day) AS x6,
             lag(total, 7) OVER (ORDER BY day) AS x7
           FROM d),
         u AS (SELECT 1 AS lag, x, x1 AS xk FROM l
           UNION ALL SELECT 2, x, x2 FROM l
           UNION ALL SELECT 3, x, x3 FROM l
           UNION ALL SELECT 4, x, x4 FROM l
           UNION ALL SELECT 5, x, x5 FROM l
           UNION ALL SELECT 6, x, x6 FROM l
           UNION ALL SELECT 7, x, x7 FROM l)
         SELECT lag, COUNT(xk) AS n_pairs,
           ROUND(SUM((x - mm) * (xk - mm)) /
             ANY_VALUE(ss - nn * mm * mm), 6) AS acf
         FROM u, m GROUP BY lag""",
    "q201_cusum" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mean
           FROM events WHERE value IS NOT NULL GROUP BY day),
         g AS (SELECT AVG(mean) AS gm FROM d),
         c AS (SELECT day, mean,
             ROUND(SUM(mean - gm) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cusum
           FROM d, g),
         pk AS (SELECT MAX(ABS(cusum)) AS p FROM c)
         SELECT CAST(day AS TIMESTAMP) AS day, ROUND(mean, 6) AS mean, cusum,
           ABS(cusum) = pk.p AS is_peak
         FROM c, pk""",
    "q202_forecast_eval" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events WHERE value IS NOT NULL GROUP BY day),
         l AS (SELECT total,
             lag(total, 7) OVER (ORDER BY day) AS fs,
             lag(total, 1) OVER (ORDER BY day) AS f1
           FROM d)
         SELECT COUNT(*) AS n_eval,
           ROUND(AVG(ABS(total - fs)), 6) AS mae_seasonal,
           ROUND(AVG(ABS(total - f1)), 6) AS mae_naive,
           ROUND(AVG(ABS(total - fs)) / AVG(ABS(total - f1)), 6) AS mase
         FROM l WHERE fs IS NOT NULL AND f1 IS NOT NULL""",
    "q203_theil_sen" ->
      """WITH d AS (SELECT
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
           FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)),
         s AS (SELECT (p2.y - p1.y) / (p2.x - p1.x) AS sl
           FROM d p1 JOIN d p2 ON p1.x < p2.x),
         sm AS (SELECT COUNT(*) AS n_pairs, quantile_cont(sl, 0.5) AS msl
           FROM s)
         SELECT (SELECT COUNT(*) FROM d) AS n_days, n_pairs,
           ROUND(msl, 6) AS slope_per_day,
           ROUND((SELECT quantile_cont(y - sm.msl * x, 0.5) FROM d), 6)
             AS intercept
         FROM sm""",
    "q204_ecod_outliers" ->
      """WITH long AS (
           SELECT l_orderkey * 8 + l_linenumber AS rid, 'q' AS f,
             CAST(l_quantity AS DOUBLE) AS v FROM lineitem
             WHERE l_quantity IS NOT NULL
           UNION ALL SELECT l_orderkey * 8 + l_linenumber, 'p',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
             WHERE l_extendedprice IS NOT NULL
           UNION ALL SELECT l_orderkey * 8 + l_linenumber, 'd',
             CAST(l_discount AS DOUBLE) FROM lineitem
             WHERE l_discount IS NOT NULL),
         r AS (SELECT rid, f, v,
             COUNT(*) OVER (PARTITION BY f ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS leq,
             COUNT(*) OVER (PARTITION BY f) AS nf,
             COUNT(*) OVER (PARTITION BY f, v) AS t
           FROM long),
         sc AS (SELECT rid, ROUND(SUM(-LN(LEAST(
             leq / CAST(nf AS DOUBLE),
             (nf - leq + t) / CAST(nf AS DOUBLE)))), 6) AS ecod_score
           FROM r GROUP BY rid)
         SELECT rid, ecod_score FROM sc
         ORDER BY ecod_score DESC, rid LIMIT 20""",
    "q205_link_prediction" -> GraphOracle.linkPredictionOracleSql(
      proximityEdgesSql),
    "q206_profile_compare" -> profileCompareSql,
    "q207_key_candidates" ->
      """WITH a AS (SELECT COUNT(*) AS rows_,
             COUNT(DISTINCT o_orderkey) AS d1,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             COUNT(DISTINCT o_custkey) AS d2,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n2,
             COUNT(DISTINCT o_orderstatus) AS d3,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n3
           FROM orders)
         SELECT 'o_orderkey' AS column_name, rows_ AS n_rows, d1 AS n_distinct,
           n1 AS n_null, (n1 = 0 AND d1 = rows_) AS is_key FROM a
         UNION ALL SELECT 'o_custkey', rows_, d2, n2,
           (n2 = 0 AND d2 = rows_) FROM a
         UNION ALL SELECT 'o_orderstatus', rows_, d3, n3,
           (n3 = 0 AND d3 = rows_) FROM a""",
    "q208_functional_deps" ->
      """SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
             AS holds
         FROM (SELECT COUNT(DISTINCT o_custkey) AS d FROM orders
           GROUP BY o_orderkey)
         UNION ALL
         SELECT 'o_custkey', 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
         FROM (SELECT COUNT(DISTINCT o_orderstatus) AS d FROM orders
           GROUP BY o_custkey)
         UNION ALL
         SELECT 'o_orderstatus', 'o_orderpriority', COUNT(*),
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
         FROM (SELECT COUNT(DISTINCT o_orderpriority) AS d FROM orders
           GROUP BY o_orderstatus)""",
    "q209_ewma" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events WHERE value IS NOT NULL GROUP BY day),
         r AS (SELECT day, total,
             row_number() OVER (ORDER BY day) AS rn FROM d)
         SELECT CAST(r.day AS TIMESTAMP) AS day, r.total,
           ROUND(SUM(POW(0.7, r.rn - p.rn) * p.total) /
             SUM(POW(0.7, r.rn - p.rn)), 6) AS ewma
         FROM r JOIN r p ON p.rn <= r.rn
         GROUP BY r.day, r.total""",
    "q210_distinctive_terms" ->
      """WITH tok AS (SELECT source,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS term
           FROM documents),
         ps AS (SELECT source, term, COUNT(*) AS y_sw
           FROM tok GROUP BY source, term),
         pt AS (SELECT term, CAST(SUM(y_sw) AS BIGINT) AS y_w
           FROM ps GROUP BY term),
         tt AS (SELECT source, CAST(SUM(y_sw) AS BIGINT) AS n_s
           FROM ps GROUP BY source),
         cc AS (SELECT CAST(SUM(y_sw) AS BIGINT) AS n,
             COUNT(DISTINCT term) AS v FROM ps),
         sc AS (SELECT ps.source, ps.term, ps.y_sw,
             pt.y_w - ps.y_sw AS yr,
             LN((ps.y_sw + 0.5) /
                (tt.n_s + cc.v * 0.5 - ps.y_sw - 0.5)) -
             LN((pt.y_w - ps.y_sw + 0.5) /
                (cc.n - tt.n_s + cc.v * 0.5 - (pt.y_w - ps.y_sw) - 0.5))
               AS lo
           FROM ps JOIN pt USING (term) JOIN tt USING (source), cc),
         zz AS (SELECT source, term, y_sw, yr, lo,
             ROUND(lo / SQRT(1.0 / (y_sw + 0.5) + 1.0 / (yr + 0.5)), 6)
               AS z
           FROM sc WHERE y_sw >= 5)
         SELECT source, term, y_sw AS n_source, yr AS n_rest,
           ROUND(lo, 6) AS log_odds, z
         FROM zz
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY z DESC, term) <= 5""",
    "q211_clustering_coeff" ->
      GraphOracle.clusteringCoefficientOracleSql(proximityEdgesSql),
    "q212_conversion_latency" ->
      """WITH st AS (SELECT user_id, MIN(epoch_us(ts)) AS t0
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         cv AS (SELECT st.user_id, st.t0,
             MIN(CASE WHEN epoch_us(e.ts) > st.t0
               THEN epoch_us(e.ts) END) AS tc
           FROM st LEFT JOIN events e
             ON e.user_id = st.user_id AND e.event_type = 'purchase'
           GROUP BY st.user_id, st.t0),
         d AS (SELECT (tc - t0) / 86400000000.0 AS days FROM cv)
         SELECT COUNT(*) AS n_started, COUNT(days) AS n_converted,
           ROUND(COUNT(days) / CAST(COUNT(*) AS DOUBLE), 6)
             AS conversion_rate,
           ROUND(AVG(days), 6) AS mean_days,
           ROUND(quantile_cont(days, 0.25), 6) AS p25_days,
           ROUND(quantile_cont(days, 0.5), 6) AS p50_days,
           ROUND(quantile_cont(days, 0.75), 6) AS p75_days
         FROM d""",
    "q213_salted_join" ->
      """WITH dim AS (SELECT user_id, COUNT(*) AS user_events
           FROM events GROUP BY user_id)
         SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
           CAST(SUM(user_events) AS BIGINT) AS user_events_sum
         FROM events JOIN dim USING (user_id)
         GROUP BY event_type""",
    "q214_readability" ->
      """WITH d AS (SELECT source,
             GREATEST(len(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)), 1) AS w,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS snt,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syl
           FROM documents WHERE text IS NOT NULL)
         SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(w AS DOUBLE) / snt), 6)
             AS mean_words_per_sentence,
           ROUND(AVG(CAST(syl AS DOUBLE) / w), 6)
             AS mean_syllables_per_word,
           ROUND(AVG(206.835 - 1.015 * (CAST(w AS DOUBLE) / snt) -
             84.6 * (CAST(syl AS DOUBLE) / w)), 6) AS mean_reading_ease,
           ROUND(MIN(206.835 - 1.015 * (CAST(w AS DOUBLE) / snt) -
             84.6 * (CAST(syl AS DOUBLE) / w)), 6) AS min_reading_ease
         FROM d GROUP BY source""",
    "q215_info_gain" -> infoGainSql,
    "q216_purged_folds" ->
      // rank-based cuts — the q186 formulation plus the 1-day embargo
      """WITH base AS (SELECT epoch_us(ts) AS us FROM events),
         nn AS (SELECT COUNT(*) AS n FROM base),
         cum AS MATERIALIZED (SELECT us, SUM(c) OVER (ORDER BY us) AS cm
           FROM (SELECT us, COUNT(*) AS c FROM base GROUP BY us)),
         cutv AS (SELECT i, (SELECT MIN(us) FROM cum
             WHERE cm >= GREATEST(1, (SELECT n FROM nn) * i // 5)) AS v
           FROM (SELECT UNNEST(range(1, 6)) AS i))
         SELECT CAST(a.i - 1 AS INT) AS fold, a.v AS train_end_us,
           b.v AS valid_end_us,
           (SELECT COUNT(*) FROM base
              WHERE us < a.v - 86400000000) AS n_train,
           (SELECT COUNT(*) FROM base
              WHERE us >= a.v - 86400000000 AND us < a.v) AS n_embargoed,
           (SELECT COUNT(*) FROM base
              WHERE us >= a.v AND us < b.v) AS n_valid
         FROM cutv a JOIN cutv b ON b.i = a.i + 1
         WHERE a.i <= 4 ORDER BY fold""",
    "q217_mahalanobis" ->
      """WITH base AS (SELECT l_orderkey * 8 + l_linenumber AS rid,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         m AS (SELECT AVG(x) AS mx, AVG(y) AS my, var_pop(x) AS vx,
             var_pop(y) AS vy, covar_pop(x, y) AS cxy FROM base)
         SELECT rid, ROUND(
           ((x - mx) * (x - mx) * vy -
            2.0 * (x - mx) * (y - my) * cxy +
            (y - my) * (y - my) * vx) / (vx * vy - cxy * cxy), 6)
           AS mahalanobis_sq
         FROM base, m ORDER BY mahalanobis_sq DESC, rid LIMIT 20""",
    "q218_seasonal_decompose" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mean
           FROM events WHERE value IS NOT NULL GROUP BY day),
         t AS (SELECT day, mean, dayofweek(day) + 1 AS dow,
             CASE WHEN COUNT(*) OVER w = 7 THEN AVG(mean) OVER w END
               AS trend
           FROM d WINDOW w AS (ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         s AS (SELECT dow, AVG(mean - trend) AS seas
           FROM t WHERE trend IS NOT NULL GROUP BY dow)
         SELECT CAST(day AS TIMESTAMP) AS day, ROUND(mean, 6) AS mean,
           ROUND(trend, 6) AS trend, ROUND(seas, 6) AS seasonal,
           ROUND(mean - trend - seas, 6) AS residual
         FROM t LEFT JOIN s USING (dow)""",
    "q219_sprt" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS trials,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS successes
           FROM events GROUP BY day),
         l AS (SELECT day, trials, successes,
             successes * LN(0.22 / 0.18) +
               (trials - successes) * LN(0.78 / 0.82) AS llr FROM d),
         c AS (SELECT day, trials, successes, ROUND(llr, 6) AS llr,
             ROUND(SUM(llr) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cum_llr
           FROM l)
         SELECT CAST(day AS TIMESTAMP) AS day, trials, successes, llr,
           cum_llr,
           CASE WHEN cum_llr > LN(19.0) THEN 'accept_h1'
             WHEN cum_llr < -LN(19.0) THEN 'accept_h0'
             ELSE 'continue' END AS decision
         FROM c""",
    "q220_power_mde" ->
      """WITH g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
             AS grp, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         a AS (SELECT COUNT(*) FILTER (WHERE grp = 'a') AS na,
             COUNT(*) FILTER (WHERE grp = 'b') AS nb,
             AVG(v) FILTER (WHERE grp = 'a') AS ma,
             var_samp(v) FILTER (WHERE grp = 'a') AS va,
             var_samp(v) FILTER (WHERE grp = 'b') AS vb FROM g)
         SELECT na AS n_a, nb AS n_b, ROUND(ma, 6) AS mean_a,
           ROUND(SQRT(va / na + vb / nb), 6) AS se_diff,
           ROUND(2.801585 * SQRT(va / na + vb / nb), 6) AS mde_abs,
           ROUND(2.801585 * SQRT(va / na + vb / nb) / ma, 6) AS mde_rel
         FROM a""",
    "q221_embedding_decontamination" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         b AS (SELECT vec_id AS bid, v FROM e WHERE vec_id < 100),
         c AS (SELECT vec_id, v FROM e WHERE vec_id >= 100),
         sims AS (SELECT c.vec_id, b.bid,
             ROUND(list_cosine_similarity(c.v, b.v), 6) AS s
           FROM c CROSS JOIN b),
         best AS (SELECT vec_id, bid, s FROM sims
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY s DESC, bid DESC) = 1)
         SELECT vec_id, bid AS bench_id, s AS similarity
         FROM best WHERE s >= 0.35""",
    "q222_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey AS k, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey % 89 != 0),
         u AS (SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey % 97 != 0),
         j AS (SELECT b.k IS NOT NULL AS inb, u.k IS NOT NULL AS inu,
             b.o_totalprice AS bp, u.o_totalprice AS up,
             b.o_orderstatus AS bs, u.o_orderstatus AS us
           FROM b FULL OUTER JOIN u ON b.k = u.k)
         SELECT 'added' AS metric, CAST(SUM(CASE WHEN NOT inb THEN 1
           ELSE 0 END) AS BIGINT) AS n FROM j
         UNION ALL SELECT 'removed', CAST(SUM(CASE WHEN NOT inu THEN 1
           ELSE 0 END) AS BIGINT) FROM j
         UNION ALL SELECT 'changed', CAST(SUM(CASE WHEN inb AND inu AND
           (bp IS DISTINCT FROM up OR bs IS DISTINCT FROM us) THEN 1
           ELSE 0 END) AS BIGINT) FROM j
         UNION ALL SELECT 'unchanged', CAST(SUM(CASE WHEN inb AND inu
           AND NOT (bp IS DISTINCT FROM up OR bs IS DISTINCT FROM us)
           THEN 1 ELSE 0 END) AS BIGINT) FROM j
         UNION ALL SELECT 'changed_o_totalprice', CAST(SUM(CASE WHEN inb
           AND inu AND bp IS DISTINCT FROM up THEN 1 ELSE 0 END)
           AS BIGINT) FROM j
         UNION ALL SELECT 'changed_o_orderstatus', CAST(SUM(CASE WHEN
           inb AND inu AND bs IS DISTINCT FROM us THEN 1 ELSE 0 END)
           AS BIGINT) FROM j""",
    "q223_ucb_allocation" ->
      """WITH arms AS (SELECT event_type AS arm, COUNT(*) AS n,
             AVG(value) AS m
           FROM events WHERE value IS NOT NULL GROUP BY event_type),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM arms)
         SELECT arm, n, ROUND(m, 6) AS mean_reward,
           ROUND(m + SQRT(2.0 * LN(nt) / n), 6) AS ucb,
           CAST(row_number() OVER (ORDER BY
             ROUND(m + SQRT(2.0 * LN(nt) / n), 6) DESC, arm) AS INT)
             AS rank
         FROM arms, t""",
    "q224_pairwise_bh" ->
      """WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         s AS (SELECT g, COUNT(*) AS n, AVG(v) AS m, var_samp(v) AS var
           FROM base GROUP BY g),
         pairs AS (SELECT a.g AS group_a, b.g AS group_b,
             (a.m - b.m) / SQRT(a.var / a.n + b.var / b.n) AS z
           FROM s a JOIN s b ON a.g < b.g),
         wp0 AS (SELECT group_a, group_b, z,
             1.0 / (1.0 + 0.2316419 * ABS(z)) AS kk FROM pairs),
         wp AS (SELECT group_a, group_b, ROUND(z, 6) AS z_stat,
             ROUND(2.0 * (0.3989422804014327 *
               EXP(-0.5 * ABS(z) * ABS(z)) *
               (kk * (0.319381530 + kk * (-0.356563782 +
                 kk * (1.781477937 + kk * (-1.821255978 +
                   kk * 1.330274429)))))), 6) AS p_value
           FROM wp0),
         rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value,
             group_a, group_b) AS INT) AS bh_rank FROM wp
           WHERE p_value IS NOT NULL),
         mm AS (SELECT COUNT(*) * (COUNT(*) - 1) / 2 AS m FROM s),
         th AS (SELECT rk.*, ROUND(0.05 * bh_rank / mm.m, 6)
             AS bh_threshold FROM rk, mm),
         cr AS (SELECT MAX(CASE WHEN p_value <= bh_threshold
             THEN bh_rank END) AS c FROM th)
         SELECT group_a, group_b, z_stat, p_value, bh_rank, bh_threshold,
           COALESCE(bh_rank <= cr.c, FALSE) AS significant
         FROM th, cr""",
    "q225_neyman_allocation" ->
      """WITH s AS (SELECT event_type AS stratum, COUNT(*) AS n_rows,
             COALESCE(stddev_samp(CAST(value AS DOUBLE)), 0) AS sd
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           GROUP BY event_type),
         t AS (SELECT SUM(n_rows * sd) AS tt FROM s)
         SELECT stratum, n_rows, ROUND(sd, 6) AS sigma,
           ROUND(n_rows * sd / tt, 6) AS weight,
           CAST(ROUND(1000.0 * (n_rows * sd / tt), 0) AS BIGINT)
             AS n_alloc
         FROM s, t""",
    "q226_corr_significance" -> corrSignificanceSql,
    "q234_skyline" ->
      """SELECT a.p_partkey, a.p_size, a.p_retailprice FROM part a
         WHERE a.p_size IS NOT NULL AND a.p_retailprice IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM part b
             WHERE b.p_size IS NOT NULL AND b.p_retailprice IS NOT NULL
               AND b.p_size >= a.p_size
               AND b.p_retailprice <= a.p_retailprice
               AND (b.p_size > a.p_size
                 OR b.p_retailprice < a.p_retailprice))""",
    "q235_sequence_neighbors" ->
      """WITH seqs AS (SELECT user_id AS entity, COUNT(*) AS n_events,
             string_agg(substr(event_type, 1, 1), ''
               ORDER BY epoch_us(ts), event_id) AS seq
           FROM events GROUP BY user_id),
         probe AS (SELECT entity, seq FROM seqs
           ORDER BY n_events DESC, entity LIMIT 1)
         SELECT s.entity, CAST(length(s.seq) AS INT) AS seq_len,
           CAST(levenshtein(s.seq, probe.seq) AS INT) AS distance
         FROM seqs s, probe WHERE s.entity != probe.entity
         ORDER BY distance, s.entity LIMIT 10""",
    "q236_ppjoin_exact" ->
      """WITH docs AS (SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS w
           FROM documents WHERE doc_id < 500),
         d AS (SELECT doc_id, w FROM docs WHERE len(w) > 0),
         tok AS (SELECT doc_id, unnest(w) AS t FROM d),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
         common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS c
           FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
           ROUND(c / CAST(sa.sz + sb.sz - c AS DOUBLE), 6) AS jaccard
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE ROUND(c / CAST(sa.sz + sb.sz - c AS DOUBLE), 6) >= 0.85""",
    "q237_impute" ->
      """WITH d AS (SELECT event_id,
             CASE WHEN event_id % 37 = 0 THEN NULL
               WHEN event_id % 41 = 0 THEN CAST('inf' AS DOUBLE)
               ELSE value END AS v
           FROM events),
         c AS (SELECT event_id, v,
             CASE WHEN v IS NULL OR isnan(v) OR isinf(v) THEN NULL
               ELSE v END AS vc
           FROM d),
         m AS (SELECT COALESCE(quantile_cont(vc, 0.5), 0) AS med FROM c)
         SELECT event_id, COALESCE(vc, ROUND(med, 6)) AS value,
           CASE WHEN v IS NULL OR isnan(v) THEN 'nan'
             WHEN isinf(v) THEN 'inf' ELSE '' END AS feature_quality_tags
         FROM c, m""",
    "q238_zorder_key" -> {
      // 8-bit 2-dim Morton interleave, unrolled to 16 shift/mask terms —
      // mirrors ZOrder.morton's static unroll so the oracle is the same
      // integer expression the codegen projection runs
      val terms = (for { j <- 0 until 8; d <- 1 to 2 } yield
        s"(((b$d >> $j) & 1) << ${j * 2 + d - 1})").mkString(" | ")
      s"""WITH m AS (SELECT CAST(MIN(p_size) AS DOUBLE) AS lo1,
             CAST(MAX(p_size) AS DOUBLE) AS hi1,
             CAST(MIN(p_retailprice) AS DOUBLE) AS lo2,
             CAST(MAX(p_retailprice) AS DOUBLE) AS hi2 FROM part),
         b AS (SELECT p_partkey,
             CAST(LEAST(255, GREATEST(0, CAST(FLOOR(
               (CAST(p_size AS DOUBLE) - lo1) / ((hi1 - lo1) / 256.0))
               AS BIGINT))) AS BIGINT) AS b1,
             CAST(LEAST(255, GREATEST(0, CAST(FLOOR(
               (CAST(p_retailprice AS DOUBLE) - lo2) / ((hi2 - lo2) / 256.0))
               AS BIGINT))) AS BIGINT) AS b2
           FROM part, m)
         SELECT p_partkey, CAST($terms AS BIGINT) AS zkey FROM b"""
    },
    "q240_pruned_read" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part
         WHERE p_retailprice >= 905.0 AND p_retailprice <= 915.0""",
    "q241_cdc_merge" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status FROM orders),
         base AS (SELECT * FROM o WHERE k % 4 <> 0),
         ch AS (SELECT k, 'U' AS op, 1 AS seq, price * 2 AS price, status
             FROM o WHERE k % 3 = 0
           UNION ALL SELECT k, 'D', 2, price, status FROM o WHERE k % 5 = 0
           UNION ALL SELECT k, 'I', 3, price + 10, status
             FROM o WHERE k % 7 = 0),
         latest AS (SELECT * FROM ch QUALIFY row_number() OVER (
             PARTITION BY k ORDER BY seq DESC,
             CASE op WHEN 'I' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC) = 1)
         SELECT k, price, status FROM base
           WHERE k NOT IN (SELECT k FROM latest)
         UNION ALL
         SELECT k, price, status FROM latest WHERE op <> 'D'""",
    "q242_time_decay_attribution" ->
      """WITH conv AS (SELECT user_id AS u, event_id AS cid,
             epoch_us(ts) AS cts FROM events WHERE event_type = 'purchase'),
         touch AS (SELECT user_id AS u, event_type AS t,
             epoch_us(ts) AS tts FROM events
           WHERE event_type IN ('click', 'signup')),
         paired AS (SELECT c.cid, t.t,
             CAST(FLOOR((c.cts - t.tts) / 86400000000.0 / 7) AS INT) AS k
           FROM conv c JOIN touch t ON c.u = t.u
           WHERE t.tts < c.cts AND t.tts >= c.cts - 2592000000000),
         wtd AS (SELECT cid, t, CAST(CASE k WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
             WHEN 2 THEN 0.25 WHEN 3 THEN 0.125 ELSE 0.0625 END AS DOUBLE)
             AS w FROM paired),
         nrm AS (SELECT cid, SUM(w) AS wsum FROM wtd GROUP BY cid),
         cr AS (SELECT w1.t, CAST(w1.w / n.wsum AS DECIMAL(28,18)) AS credit,
             w1.cid FROM wtd w1 JOIN nrm n USING (cid)
           UNION ALL
           SELECT '(none)', CAST(1.0 AS DECIMAL(28,18)), c.cid FROM conv c
             WHERE c.cid NOT IN (SELECT cid FROM wtd))
         SELECT t AS touch_type,
           ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credits,
           COUNT(DISTINCT cid) AS n_conversions
         FROM cr GROUP BY t""",
    "q243_personalized_pagerank" ->
      GraphOracle.personalizedPageRankOracleSql(
        proximityEdgesSql,
        "SELECT vec_id AS id FROM embeddings WHERE vec_id < 10",
        iters = 5, damping = 0.85),
    "q244_jaro_winkler" ->
      """SELECT a.p_partkey,
           ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS name_jw
         FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""",
    "q245_journey_ngrams" ->
      """WITH s AS (SELECT event_type AS step_1,
             lead(event_type, 1) OVER w AS step_2,
             lead(event_type, 2) OVER w AS step_3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT step_1, step_2, step_3, COUNT(*) AS n_occurrences
         FROM s WHERE step_3 IS NOT NULL
         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5""",
    "q246_fairness_report" ->
      """WITH d AS (SELECT user_id % 3 AS segment,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(value > 50 AS INT) AS pred
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         per AS (SELECT segment, COUNT(*) AS n, SUM(pred) AS np,
             SUM(y) AS pos, SUM(pred * y) AS tp,
             SUM(pred * (1 - y)) AS fp
           FROM d GROUP BY segment),
         g AS (SELECT
             ROUND(CAST(SUM(pred) AS DOUBLE) / COUNT(*), 6) AS gar,
             ROUND(CAST(SUM(pred * y) AS DOUBLE) / NULLIF(SUM(y), 0), 6)
               AS gtpr,
             ROUND(CAST(SUM(pred * (1 - y)) AS DOUBLE)
               / NULLIF(COUNT(*) - SUM(y), 0), 6) AS gfpr
           FROM d)
         SELECT segment, n,
           ROUND(CAST(np AS DOUBLE) / n, 6) AS acceptance_rate,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(pos, 0), 6) AS tpr,
           ROUND(CAST(fp AS DOUBLE) / NULLIF(n - pos, 0), 6) AS fpr,
           ROUND(ROUND(CAST(np AS DOUBLE) / n, 6) - g.gar, 6) AS parity_gap,
           ROUND(ROUND(CAST(tp AS DOUBLE) / NULLIF(pos, 0), 6) - g.gtpr, 6)
             AS tpr_gap,
           ROUND(ROUND(CAST(fp AS DOUBLE) / NULLIF(n - pos, 0), 6) - g.gfpr, 6)
             AS fpr_gap
         FROM per, g""",
    "q247_rolling_corr" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS y
           FROM events WHERE value IS NOT NULL GROUP BY day),
         r AS (SELECT day, COUNT(*) OVER w AS n_days, x, y,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
             SUM(x * y) OVER w AS sxy
           FROM d WINDOW w AS (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT day, n_days, x, y,
           ROUND((n_days * sxy - sx * sy) / NULLIF(SQRT(
             GREATEST(0.0, n_days * sxx - sx * sx) *
             GREATEST(0.0, n_days * syy - sy * sy)), 0), 6) AS corr
         FROM r""",
    "q248_oof_target_encoding" ->
      """WITH d AS (SELECT event_id, event_type AS cat, user_id % 4 AS fold,
             CAST(value AS DECIMAL(18,2)) AS t
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         cf AS (SELECT cat, fold, COUNT(t) AS nf, SUM(t) AS sf
           FROM d GROUP BY cat, fold),
         ct AS (SELECT cat, SUM(nf) AS nc, SUM(sf) AS sc
           FROM cf GROUP BY cat),
         fl AS (SELECT fold, SUM(nf) AS ngf, SUM(sf) AS sgf
           FROM cf GROUP BY fold),
         tot AS (SELECT SUM(nf) AS ng, SUM(sf) AS sg FROM cf),
         gm AS (SELECT fold, CAST(sg - sgf AS DOUBLE) / (ng - ngf) AS gmo
           FROM fl, tot),
         enc AS (SELECT cf.cat, cf.fold,
             ROUND((CAST(ct.sc - cf.sf AS DOUBLE) + 20 * gm.gmo)
               / (ct.nc - cf.nf + 20), 6) AS te_oof
           FROM cf JOIN ct USING (cat) JOIN gm USING (fold))
         SELECT d.event_id, d.cat, d.fold, enc.te_oof
         FROM d JOIN enc USING (cat, fold)""",
    "q249_markov_attribution" ->
      MarkovAttributionOracle.removalEffectOracleSql(
        "user_id", "ts", "event_type", "event_id", "purchase", steps = 12),
    "q250_privacy_audit" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
             COUNT(DISTINCT c_acctbal) AS l
           FROM customer GROUP BY 1, 2),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(n) AS BIGINT) AS rows_,
             CAST(MIN(l) AS BIGINT) AS min_l FROM cls)
         SELECT ks.k, tot.n_classes,
           CAST(SUM(CASE WHEN cls.n < ks.k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below,
           CAST(SUM(CASE WHEN cls.n < ks.k THEN cls.n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN cls.n < ks.k THEN cls.n ELSE 0 END)
             AS DOUBLE) / tot.rows_, 6) AS risk_frac,
           tot.min_l AS min_l_diversity
         FROM (VALUES (5), (10), (20)) ks(k) CROSS JOIN cls CROSS JOIN tot
         GROUP BY ks.k, tot.n_classes, tot.rows_, tot.min_l
         ORDER BY ks.k""",
    "q251_cuped" ->
      """WITH e AS (SELECT user_id AS u,
             CAST(value AS DECIMAL(18,2)) AS dv,
             ts < TIMESTAMP '2024-01-15 00:00:00' AS pre
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         units AS (SELECT u,
             COALESCE(SUM(CASE WHEN pre THEN dv END),
               CAST(0 AS DECIMAL(18,2))) AS x,
             COALESCE(SUM(CASE WHEN NOT pre THEN dv END),
               CAST(0 AS DECIMAL(18,2))) AS y,
             u % 2 AS v
           FROM e GROUP BY u),
         g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
           FROM units),
         th AS (SELECT
             CASE WHEN n = 0 OR (n * sxx - sx * sx) = 0 THEN 0.0
               ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
             CASE WHEN n = 0 THEN 0.0 ELSE sx / n END AS meanx
           FROM g),
         pv AS (SELECT v AS variant, COUNT(*) AS n_units,
             CAST(COUNT(*) AS DOUBLE) AS nn,
             CAST(SUM(x) AS DOUBLE) AS vsx, CAST(SUM(y) AS DOUBLE) AS vsy,
             CAST(SUM(x * x) AS DOUBLE) AS vsxx,
             CAST(SUM(y * y) AS DOUBLE) AS vsyy,
             CAST(SUM(x * y) AS DOUBLE) AS vsxy
           FROM units GROUP BY v)
         SELECT variant, n_units,
           ROUND(vsy / nn, 6) AS mean_y,
           ROUND(vsy / nn - th.theta * (vsx / nn - th.meanx), 6)
             AS mean_y_cuped,
           ROUND((vsyy - vsy * vsy / nn) / (nn - 1), 6) AS var_y,
           ROUND((vsyy - vsy * vsy / nn) / (nn - 1)
             - (2 * th.theta) * ((vsxy - vsx * vsy / nn) / (nn - 1))
             + (th.theta * th.theta) * ((vsxx - vsx * vsx / nn) / (nn - 1)),
             6) AS var_y_cuped,
           ROUND(th.theta, 6) AS theta,
           ROUND(1.0 - ((vsyy - vsy * vsy / nn) / (nn - 1)
             - (2 * th.theta) * ((vsxy - vsx * vsy / nn) / (nn - 1))
             + (th.theta * th.theta) * ((vsxx - vsx * vsx / nn) / (nn - 1)))
             / ((vsyy - vsy * vsy / nn) / (nn - 1)), 6) AS var_reduction
         FROM pv CROSS JOIN th ORDER BY variant""",
    "q252_diff_in_diff" ->
      """WITH e AS (SELECT CAST(user_id % 2 = 1 AS INT) AS t,
             CAST(ts >= TIMESTAMP '2024-01-15 00:00:00' AS INT) AS p,
             CAST(value AS DECIMAL(18,2)) AS y
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         m AS (SELECT
             CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN 1 END) AS DOUBLE) AS n00,
             CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN 1 END) AS DOUBLE) AS n01,
             CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN 1 END) AS DOUBLE) AS n10,
             CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN 1 END) AS DOUBLE) AS n11,
             CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN y END) AS DOUBLE) AS s00,
             CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN y END) AS DOUBLE) AS s01,
             CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN y END) AS DOUBLE) AS s10,
             CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN y END) AS DOUBLE) AS s11,
             CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN y * y END) AS DOUBLE) AS q00,
             CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN y * y END) AS DOUBLE) AS q01,
             CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN y * y END) AS DOUBLE) AS q10,
             CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN y * y END) AS DOUBLE) AS q11
           FROM e),
         c AS (SELECT
             (s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00) AS did,
             SQRT((q00 - s00 * s00 / n00) / (n00 - 1) / n00
               + (q01 - s01 * s01 / n01) / (n01 - 1) / n01
               + (q10 - s10 * s10 / n10) / (n10 - 1) / n10
               + (q11 - s11 * s11 / n11) / (n11 - 1) / n11) AS se,
             s00 / n00 AS m00, s01 / n01 AS m01,
             s10 / n10 AS m10, s11 / n11 AS m11
           FROM m)
         SELECT ROUND(m00, 6) AS m_ctrl_pre, ROUND(m01, 6) AS m_ctrl_post,
           ROUND(m10, 6) AS m_treat_pre, ROUND(m11, 6) AS m_treat_post,
           ROUND(did, 6) AS did, ROUND(se, 6) AS se,
           ROUND(did / se, 6) AS t_stat
         FROM c""",
    "q253_silhouette" ->
      """WITH b AS (SELECT vec_id, label AS c, embedding
           FROM embeddings WHERE embedding IS NOT NULL),
         exp AS (SELECT vec_id, c, p, CAST(x0 AS DOUBLE) AS x FROM (
           SELECT vec_id, c, UNNEST(range(1, len(embedding) + 1)) AS p,
             UNNEST(embedding) AS x0 FROM b)),
         cent AS (SELECT c AS cc, p, ROUND(AVG(x), 6) AS m
           FROM exp GROUP BY c, p),
         d2 AS (SELECT e.vec_id, e.c, ct.cc,
             ROUND(SQRT(SUM((e.x - ct.m) * (e.x - ct.m) ORDER BY e.p)), 6)
               AS d
           FROM exp e JOIN cent ct ON e.p = ct.p
           GROUP BY e.vec_id, e.c, ct.cc),
         ab AS (SELECT vec_id, c,
             MIN(CASE WHEN c = cc THEN d END) AS a,
             MIN(CASE WHEN c <> cc THEN d END) AS b
           FROM d2 GROUP BY vec_id, c),
         s AS (SELECT c, a, b,
             CASE WHEN GREATEST(a, b) = 0 THEN 0.0
               ELSE ROUND((b - a) / GREATEST(a, b), 6) END AS sil
           FROM ab)
         SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(a AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_a,
           ROUND(CAST(SUM(CAST(b AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_b,
           ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_silhouette
         FROM s GROUP BY c ORDER BY cluster""",
    "q254_negative_sampling" ->
      """WITH cand AS (SELECT doc_id AS cid, source AS neg_source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b
           FROM documents),
         anc AS (SELECT doc_id AS anchor_id, source AS asrc,
             substr(md5(CAST(doc_id AS VARCHAR) || ':probe'), 1, 1) AS b
           FROM documents WHERE doc_id % 20 = 0),
         j AS (SELECT anchor_id, cid, neg_source,
             md5(CAST(anchor_id AS VARCHAR) || ':'
               || CAST(cid AS VARCHAR)) AS draw
           FROM anc JOIN cand USING (b)
           WHERE cid <> anchor_id AND neg_source <> asrc)
         SELECT anchor_id, neg_rank, cid AS neg_id, neg_source FROM (
           SELECT anchor_id, cid, neg_source, row_number() OVER (
               PARTITION BY anchor_id ORDER BY draw, cid) AS neg_rank
           FROM j)
         WHERE neg_rank <= 5""",
    "q255_canonical_keep" ->
      """WITH g AS (SELECT doc_id, n_chars,
             doc_id - doc_id % 7 AS comp FROM documents),
         sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS csize
           FROM g GROUP BY comp),
         win AS (SELECT comp, doc_id AS keep_id FROM g
           QUALIFY row_number() OVER (PARTITION BY comp
             ORDER BY n_chars DESC, doc_id) = 1)
         SELECT g.doc_id, g.comp AS cluster_id, w.keep_id,
           g.doc_id = w.keep_id AS kept, s.csize AS cluster_size
         FROM g JOIN win w ON g.comp = w.comp JOIN sz s ON g.comp = s.comp""",
    "q256_length_buckets" ->
      """WITH d AS (SELECT doc_id, COALESCE(CAST(len(regexp_extract_all(
             text, '\w+|[^\w\s]')) AS BIGINT), 0) AS n FROM documents),
         b AS (SELECT n,
             CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
               WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
               WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
               WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
               ELSE 4096 END AS bucket_len
           FROM d)
         SELECT bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 8) AS BIGINT) AS n_batches,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(1.0 - CAST(SUM(n) AS DOUBLE)
             / CAST(COUNT(*) * bucket_len AS DOUBLE), 6) AS pad_frac
         FROM b GROUP BY bucket_len ORDER BY bucket_len""",
    "q257_holt_linear" ->
      """WITH RECURSIVE d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events WHERE value IS NOT NULL GROUP BY day),
         idx AS (SELECT day, total,
             CAST(row_number() OVER (ORDER BY day) AS INT) AS t FROM d),
         rec AS (
           SELECT i.t, i.day, i.total, i.total AS level,
             CAST(0 AS DOUBLE) AS trend,
             CAST(NULL AS DOUBLE) AS forecast
           FROM idx i WHERE i.t = 1
           UNION ALL
           SELECT i.t, i.day, i.total,
             CASE WHEN i.t = 2 THEN i.total
               ELSE 0.5 * i.total + 0.5 * (r.level + r.trend) END,
             CASE WHEN i.t = 2 THEN i.total - r.level
               ELSE 0.25 * ((0.5 * i.total + 0.5 * (r.level + r.trend))
                 - r.level) + 0.75 * r.trend END,
             CASE WHEN i.t <= 2 THEN CAST(NULL AS DOUBLE)
               ELSE r.level + r.trend END
           FROM rec r JOIN idx i ON i.t = r.t + 1)
         SELECT CAST(day AS TIMESTAMP) AS day, total,
           ROUND(level, 6) AS level, ROUND(trend, 6) AS trend,
           ROUND(forecast, 6) AS forecast,
           ROUND(total - forecast, 6) AS resid
         FROM rec ORDER BY day""",
    "q258_bradley_terry" -> PreferenceOracle.bradleyTerryOracleSql(
      """WITH nxt AS (SELECT event_type AS a, value AS va,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b,
             lead(value, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS vb
           FROM events),
         pp AS (SELECT LEAST(a, b) AS item_a, GREATEST(a, b) AS item_b,
             CASE WHEN va >= vb THEN a ELSE b END AS win
           FROM nxt WHERE b IS NOT NULL AND a != b)
         SELECT item_a, item_b,
           SUM(CASE WHEN win = item_a THEN 1 ELSE 0 END) AS wins_a,
           SUM(CASE WHEN win = item_b THEN 1 ELSE 0 END) AS wins_b
         FROM pp GROUP BY item_a, item_b""", iters = 8),
    "q259_annotator_agreement" ->
      """WITH lab AS (SELECT
           CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
             ELSE 'high' END AS label_a,
           CASE WHEN value + CAST(event_id % 40 AS DOUBLE) < 50 THEN 'low'
             WHEN value + CAST(event_id % 40 AS DOUBLE) < 150 THEN 'mid'
             ELSE 'high' END AS label_b
           FROM events),
         conf AS (SELECT label_a, label_b, COUNT(*) AS n
           FROM lab GROUP BY label_a, label_b),
         tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn,
             CAST(SUM(CASE WHEN label_a = label_b THEN n ELSE 0 END)
               AS DOUBLE) AS diag FROM conf),
         pa AS (SELECT label_a AS c, CAST(SUM(n) AS DOUBLE) AS na
           FROM conf GROUP BY label_a),
         pb AS (SELECT label_b AS c, CAST(SUM(n) AS DOUBLE) AS nb
           FROM conf GROUP BY label_b),
         pe AS (SELECT SUM(na / t.nn * (nb / t.nn)) AS pe
           FROM pa JOIN pb USING (c) CROSS JOIN tot t)
         SELECT conf.label_a, conf.label_b, conf.n,
           ROUND(t.diag / t.nn, 6) AS po, ROUND(pe.pe, 6) AS pe,
           ROUND((t.diag / t.nn - pe.pe) / (1 - pe.pe), 6) AS kappa
         FROM conf CROSS JOIN tot t CROSS JOIN pe""",
    "q260_ranking_metrics" -> RankingMetricsOracle.evaluateOracleSql(
      """SELECT c_nationkey AS query, c_custkey AS doc,
           c_acctbal AS score,
           CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS rel
         FROM customer""", k = 10),
    "q261_gini_concentration" ->
      ConcentrationOracle.concentrationOracleSql(
        """SELECT c_nationkey AS grp,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_nationkey, o_custkey""", topFrac = 0.1),
    "q262_qini_uplift" -> UpliftOracle.qiniOracleSql(
      """SELECT CAST(user_id % 2 = 1 AS INT) AS treat,
           SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
             THEN 1 ELSE 0 END) AS score,
           CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               AND event_type = 'purchase'
             THEN CAST(value AS DECIMAL(18,2)) END),
             CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y,
           user_id AS tb
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         GROUP BY user_id""", nBuckets = 10),
    "q263_binary_quantization" ->
      BinaryQuantOracle.hammingTopKOracleSql(
        "SELECT vec_id AS id, embedding AS vec FROM embeddings",
        "id % 100 = 0", dim = 64, k = 10),
    "q264_holt_winters" ->
      ForecastOracle.holtWintersOracleSql(),
    "q265_nelson_aalen" ->
      """WITH life AS (SELECT
             (COALESCE(MIN(CASE WHEN event_type = 'error'
                 THEN epoch_us(ts) END), MAX(epoch_us(ts)))
               - MIN(epoch_us(ts))) / 86400000000.0 AS duration,
             CASE WHEN MIN(CASE WHEN event_type = 'error'
                 THEN epoch_us(ts) END) IS NOT NULL
               THEN 1 ELSE 0 END AS event
           FROM events GROUP BY user_id),
         byt AS (SELECT duration AS t, COUNT(*) AS n,
             CAST(SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events
           FROM life GROUP BY duration),
         ar AS (SELECT t, n_events, CAST(SUM(n) OVER (ORDER BY t DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at_risk
           FROM byt),
         cum AS (SELECT t, n_at_risk, n_events,
             SUM(CAST(n_events AS DOUBLE) / n_at_risk)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS ch,
             SUM(CAST(n_events AS DOUBLE) / (n_at_risk * n_at_risk))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS vh
           FROM ar WHERE n_events > 0)
         SELECT t, n_at_risk, n_events,
           ROUND(ch, 6) AS cum_hazard, ROUND(vh, 6) AS var_hazard,
           ROUND(EXP(-ch), 6) AS na_survival
         FROM cum""",
    "q266_curriculum_order" -> CurriculumOracle.curriculumOracleSql(
      "SELECT doc_id AS id, source AS domain, n_chars AS score FROM documents",
      nBands = 4),
    "q267_ann_recall" -> {
      val ap = BinaryQuantOracle.hammingTopKOracleSql(
        "SELECT vec_id AS id, embedding AS vec FROM embeddings",
        "id % 100 = 0", dim = 64, k = 10)
      s"""WITH a AS (SELECT query_id AS query, cand_id AS doc FROM ($ap)),
          ex AS (
            WITH q AS (SELECT vec_id AS id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
              FROM embeddings WHERE vec_id % 100 = 0),
            r AS (SELECT vec_id AS nid,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS re
              FROM embeddings),
            pairs AS (SELECT id, nid,
                list_dot_product(qe, re) /
                (SQRT(list_dot_product(qe, qe)) *
                  SQRT(list_dot_product(re, re))) AS sim
              FROM q CROSS JOIN r WHERE id != nid)
            SELECT id AS query, nid AS doc FROM pairs
            QUALIFY row_number() OVER (PARTITION BY id
              ORDER BY sim DESC, nid) <= 10),
          sel AS (SELECT a.query, a.doc FROM a
            WHERE EXISTS (SELECT 1 FROM ex
              WHERE ex.query = a.query AND ex.doc = a.doc)),
          ov AS (SELECT query, COUNT(*) AS n_overlap
            FROM sel GROUP BY query),
          qs AS (SELECT DISTINCT query FROM a)
          SELECT qs.query, COALESCE(ov.n_overlap, 0) AS n_overlap,
            ROUND(COALESCE(ov.n_overlap, 0) / 10.0, 6) AS recall_at_k
          FROM qs LEFT JOIN ov USING (query)"""
    },
    "q268_position_bias" ->
      """WITH nxt AS (SELECT event_type AS a, value AS va,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b,
             lead(value, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS vb
           FROM events),
         pl AS (SELECT a AS item,
             CASE WHEN va >= vb THEN 1 ELSE 0 END AS fw
           FROM nxt WHERE b IS NOT NULL AND a != b),
         per AS (SELECT item, COUNT(*) AS n_first,
             CAST(SUM(fw) AS BIGINT) AS n_first_wins
           FROM pl GROUP BY item),
         p0 AS (SELECT CAST(SUM(n_first_wins) AS DOUBLE) / SUM(n_first)
             AS p0 FROM per)
         SELECT item, n_first, n_first_wins,
           ROUND(CAST(n_first_wins AS DOUBLE) / n_first, 6)
             AS first_win_rate,
           ROUND(p0.p0, 6) AS pooled_rate,
           CASE WHEN p0.p0 > 0 AND p0.p0 < 1 THEN ROUND(
             (CAST(n_first_wins AS DOUBLE) / n_first - p0.p0) /
               SQRT(p0.p0 * (1 - p0.p0) / n_first), 6) END AS z
         FROM per CROSS JOIN p0""",
    "q269_bootstrap_ci" -> BootstrapOracle.subsampleCiOracleSql(
      "SELECT event_type AS grp, event_id AS id, value AS y FROM events",
      b = 64),
    "q270_sssp_weighted" -> GraphOracle.ssspWeightedOracleSql(
      s"""WITH ${knnSql("true", "vec_id < 100", 5)}
          SELECT id AS src, neighbor_id AS dst, distance AS w FROM knn""",
      "SELECT vec_id AS id FROM embeddings WHERE vec_id < 3",
      rounds = 4),
    "q271_modularity" -> GraphOracle.modularityOracleSql(
      proximityEdgesSql,
      GraphOracle.labelPropagationOracleSql(proximityEdgesSql,
        iters = 3)),
    "q272_ridge_regression" -> RidgeOracle.ridge2OracleSql(
      """SELECT l_returnflag AS grp, l_quantity AS x1, l_discount AS x2,
           l_extendedprice AS y FROM lineitem""", lambda = 1.0),
    "q273_log_rank" -> StatsOracle.logRankOracleSql(
      """SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
             AS grp,
           (COALESCE(MIN(CASE WHEN event_type = 'error'
               THEN epoch_us(ts) END), MAX(epoch_us(ts)))
             - MIN(epoch_us(ts))) / 86400000000.0 AS duration,
           CASE WHEN MIN(CASE WHEN event_type = 'error'
               THEN epoch_us(ts) END) IS NOT NULL
             THEN 1 ELSE 0 END AS event
         FROM events GROUP BY user_id"""),
    "q274_weighted_quantiles" -> RobustOracle.weightedQuantilesOracleSql(
      """SELECT l_returnflag AS grp, l_extendedprice AS v, l_quantity AS w
         FROM lineitem"""),
    "q275_hits" -> GraphOracle.hitsOracleSql(
      proximityEdgesSql, iters = 3),
    "q276_quantile_normalize" ->
      QuantileNormOracle.quantileNormalizeOracleSql(
        "SELECT source AS grp, doc_id AS id, n_chars AS v FROM documents",
        nBins = 100),
    "q277_stratified_ate" -> ExperimentsOracle.stratifiedAteOracleSql(
      """SELECT MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS treated,
           SUM(CASE WHEN event_type != 'purchase'
             THEN CAST(value AS DECIMAL(18,2)) END) AS y,
           COUNT(*) AS x
         FROM events WHERE value IS NOT NULL GROUP BY user_id""",
      nStrata = 5),
    "q278_periodogram" -> ForecastOracle.periodogramOracleSql(
      """SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events WHERE value IS NOT NULL GROUP BY day""",
      maxK = 10),
    "q279_cross_correlation" ->
      ForecastOracle.crossCorrelationOracleSql(
        """SELECT CAST(ts AS DATE) AS day,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(18,2)) END),
               CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
               THEN CAST(1 AS DECIMAL(18,2)) END),
               CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y
           FROM events GROUP BY day""", maxLag = 7),
    "q280_eb_rates" -> StatsOracle.ebRatesOracleSql(
      """SELECT l_partkey AS grp,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS success
         FROM lineitem"""),
    "q281_ratio_metric_ci" -> ExperimentsOracle.ratioMetricCiOracleSql(
      """SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
             AS arm,
           SUM(CAST(value AS DECIMAL(18,2))) AS y, COUNT(*) AS x
         FROM events WHERE value IS NOT NULL GROUP BY user_id"""),
    "q282_caliper_matching" -> ExperimentsOracle.caliperMatchOracleSql(
      """SELECT MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS treated,
           SUM(CASE WHEN event_type != 'purchase'
             THEN CAST(value AS DECIMAL(18,2)) END) AS y,
           COUNT(*) AS x
         FROM events WHERE value IS NOT NULL GROUP BY user_id""",
      caliper = 2.0),
    "q283_interval_coalesce" ->
      IntervalsOracle.coalesceIntervalsOracleSql(
        """SELECT o.o_custkey AS key,
             CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS s,
             CAST(li.last_ship AS DATE) - DATE '1970-01-01' AS e
           FROM orders o
           JOIN (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
                 FROM lineitem GROUP BY l_orderkey) li
             ON li.l_orderkey = o.o_orderkey"""),
    "q284_theil_decomposition" ->
      ConcentrationOracle.theilDecompositionOracleSql(
        "SELECT o_orderpriority AS grp, o_totalprice AS x FROM orders"),
    "q285_hierarchy_flatten" -> HierarchyOracle.flattenOracleSql(
      // replica-aware parent (p_partkey nonneg → % == pmod), mirroring
      // the Spark wiring: the low digits mod the ScaleUp replica step
      // form each replica's own closed taxonomy — identical to plain
      // k // 2 at base scales, convergent at every ladder factor
      """SELECT p_partkey AS id,
           CASE WHEN p_partkey % 100000000 > 3
             THEN p_partkey - (p_partkey % 100000000)
               + (p_partkey % 100000000) // 2 END AS parent
         FROM part"""),
    "q286_cumulative_distinct" ->
      EventsOracle.cumulativeDistinctOracleSql(
        "SELECT user_id AS u, CAST(ts AS DATE) AS day FROM events"),
    "q287_partial_correlation" -> StatsOracle.partialCorrOracleSql(
      """SELECT l_returnflag AS grp, l_extendedprice AS x,
           l_quantity AS y, l_discount AS z FROM lineitem"""),
    "q288_mcnemar" -> StatsOracle.mcnemarOracleSql(
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END AS label,
           CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS pred_a,
           CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS pred_b
         FROM orders"""),
    "q289_fk_integrity" -> Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey",
        "lineitem->orders"),
      ("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey",
        "lineitem->supplier"),
      ("orders", "o_custkey", "customer", "c_custkey",
        "orders->customer"),
      ("customer", "c_nationkey", "nation", "n_nationkey",
        "customer->nation"),
      ("supplier", "s_nationkey", "nation", "n_nationkey",
        "supplier->nation"),
      ("nation", "n_regionkey", "region", "r_regionkey",
        "nation->region"))
      .map { case (ct, ck, pt, pk, e) =>
        IntegrityOracle.fkAuditOracleSql(ct, ck, pt, pk, e)
      }.mkString("", "\nUNION ALL\n", ""),
    "q290_cronbach_alpha" -> StatsOracle.cronbachAlphaOracleSql(
      """SELECT l_orderkey AS subj, l_linenumber AS item,
           l_quantity AS score FROM lineitem WHERE l_linenumber <= 3"""),
    "q292_assortativity" -> GraphOracle.assortativityOracleSql(
      proximityEdgesSql),
    "q293_fisher_exact" -> StatsOracle.fisherExactOracleSql(
      """SELECT CASE WHEN c_nationkey = 1 THEN 1 ELSE 0 END AS r,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS c
         FROM customer WHERE c_nationkey IN (1, 2)"""),
    "q294_term_bursts" -> BurstsOracle.termBurstsOracleSql(
      "SELECT doc_id % 4 AS batch, text FROM documents", minCount = 10),
    "q295_chow_break" -> RidgeOracle.chowTestOracleSql(
      """SELECT l_quantity AS x, l_extendedprice AS y,
           l_shipdate < DATE '1995-06-01' AS s FROM lineitem"""),
    "q296_brown_forsythe" -> StatTestsOracle.brownForsytheOracleSql(
      "SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem"),
    "q297_durbin_watson" -> ForecastOracle.durbinWatsonOracleSql(
      "ts", "value", "events"),
    "q298_cmh_pooled" -> StatsOracle.cmhOracleSql(
      """SELECT c_nationkey % 5 AS s,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS r,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS c
         FROM customer"""),
    "q299_cochran_q" -> StatsOracle.cochranQOracleSql(
      """SELECT o_custkey,
           MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS f1,
           MAX(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS f2,
           MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f3
         FROM orders GROUP BY o_custkey""", k = 3),
    "q300_vif" -> RidgeOracle.vif3OracleSql(
      """SELECT l_quantity AS x1, l_extendedprice AS x2,
           l_discount AS x3 FROM lineitem""",
      "l_quantity", "l_extendedprice", "l_discount"),
    "q301_hbos" -> OutlierScoresOracle.hbosOracleSql(
      """SELECT l_orderkey * 8 + l_linenumber AS id, f,
           CAST(v AS DOUBLE) AS v
         FROM (SELECT l_orderkey, l_linenumber,
             UNNEST(['l_quantity', 'l_extendedprice', 'l_discount']) AS f,
             UNNEST([CAST(l_quantity AS DOUBLE),
               CAST(l_extendedprice AS DOUBLE),
               CAST(l_discount AS DOUBLE)]) AS v
           FROM lineitem)
         WHERE v IS NOT NULL AND NOT isnan(v)""", bins = 10, k = 20),
    "q302_welch_anova" -> StatTestsOracle.welchAnovaOracleSql(
      """SELECT event_type AS grp, value AS v FROM events"""),
    "q303_shapley_attribution" ->
      ReportingOracle.shapleyAttributionOracleSql(
        "user_id", "ts", "event_type", "purchase", "events"),
    "q304_raking_weights" -> ExperimentsOracle.rakeWeightsOracleSql(
      """SELECT c_mktsegment AS r, c_nationkey % 3 AS c
         FROM customer WHERE c_acctbal > 0""",
      "SELECT c_mktsegment AS r, c_nationkey % 3 AS c FROM customer",
      iters = 3),
    "q305_leakage_split" -> LeakageSplitOracle.leakageSafeSplitOracleSql(
      "SELECT doc_id AS id, text FROM documents",
      shingleSize = 8, maxDf = 5, iters = 4, trainFraction = 0.8),
    "q306_snake_shards" -> PackingOracle.snakeShardsOracleSql(
      """SELECT doc_id AS id, len(list_filter(
           string_split_regex(lower(trim(text)), '\s+'),
           x -> length(x) > 0)) AS sz FROM documents""", nShards = 8),
    "q307_yuen_trimmed_t" -> StatsOracle.yuenTOracleSql(
      "SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem",
      "A", "N", trim = 0.2),
    "q308_item_triples" -> CooccurOracle.itemTriplesOracleSql(
      "SELECT l_orderkey AS b, l_partkey AS i FROM lineitem",
      minSupport = 2, maxBasketSize = 1000, topK = 20),
    "q309_bayesian_ab" -> ExperimentsOracle.bayesianAbOracleSql(
      """SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS conv
         FROM events GROUP BY user_id""", "A", "B"),
    "q310_collocations" -> DistinctiveOracle.collocationsOracleSql(
      "SELECT text FROM documents", minCount = 5, topK = 20),
    "q311_hurst" -> ForecastOracle.hurstRsOracleSql(
      "ts", "value", "events"),
    "q312_best_split" -> InfoGainOracle.bestSplitOracleSql(
      """SELECT l_extendedprice AS x,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem""", candidates = 19),
    "q313_croston" -> ForecastOracle.crostonOracleSql(
      "ts", "value", "(SELECT * FROM events WHERE event_type = 'purchase')",
      alpha = 0.25),
    "q314_pacf" -> ForecastOracle.pacfOracleSql(
      "ts", "value", "events", maxLag = 5),
    "q315_price_index" -> ReportingOracle.priceIndexOracleSql(
      "l_shipdate", "l_partkey", "l_extendedprice", "l_quantity",
      "lineitem"),
    "q316_ridge_cv" -> RidgeOracle.ridgeCvOracleSql(
      """SELECT l_orderkey * 8 + l_linenumber AS id, l_quantity AS x1,
           l_discount AS x2, l_extendedprice AS y FROM lineitem"""),
    "q317_motifs" -> ForecastOracle.motifsOracleSql(
      "ts", "value", "events", w = 7, topK = 5),
    "q318_gumbel_returns" -> ForecastOracle.gumbelOracleSql(
      "ts", "value", "events"),
    "q319_entropy_rate" -> DistinctiveOracle.entropyRateOracleSql(
      "SELECT text FROM documents"),
    "q320_cramer_von_mises" ->
      StatTestsOracle.cramerVonMisesOracleSql(
        "SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'R'",
        "SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q321_retention_half_life" ->
      CohortsOracle.retentionHalfLifeOracleSql(
        "user_id", "ts", "events"),
    "q322_seasonality_strength" ->
      ForecastOracle.seasonalityStrengthOracleSql(
        "ts", "value", "events"),
    "q323_qte" -> ExperimentsOracle.qteOracleSql(
      "SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem",
      "A", "N"),
    "q324_proportion_effects" ->
      StatsOracle.proportionEffectsOracleSql(
        """SELECT c_mktsegment AS g,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS conv
           FROM customer""", "BUILDING", "AUTOMOBILE"),
    "q325_nb_fit" -> StatsOracle.nbFitOracleSql(
      """SELECT COALESCE(k, 0) AS c FROM customer
         LEFT JOIN (SELECT o_custkey, COUNT(*) AS k FROM orders
           GROUP BY o_custkey) o ON customer.c_custkey = o.o_custkey"""),
    "q326_two_means" -> StatsOracle.twoMeans1dOracleSql(
      "SELECT l_extendedprice AS v FROM lineitem"),
    "q327_heaps_law" -> DistinctiveOracle.heapsLawOracleSql(
      "SELECT doc_id AS id, text FROM documents"),
    "q328_weibull_fit" -> StatsOracle.weibullFitOracleSql(
      """SELECT coalesce(e, l) - f AS dur,
           CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS event
         FROM (SELECT user_id,
             MIN(epoch_us(ts)) AS f,
             MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
               AS e,
             MAX(epoch_us(ts)) AS l
           FROM events GROUP BY user_id)
         WHERE coalesce(e, l) - f > 0"""),
    "q329_newey_west" -> ForecastOracle.neweyWestOracleSql(
      "ts", "value", "events"),
    "q330_hill_tail" -> ConcentrationOracle.hillTailIndexOracleSql(
      "SELECT o_totalprice AS v FROM orders", k = 100),
    "q331_dedup_completeness" ->
      DedupOracle.dedupCompletenessOracleSql(
        "SELECT doc_id AS id, text FROM documents"),
    "q332_ece_brier" -> StatsOracle.eceBrierOracleSql(
      """SELECT value / 100 AS p,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         FROM events
         WHERE value / 100 >= 0 AND value / 100 <= 1"""),
    "q333_decile_migration" ->
      ReportingOracle.decileMigrationOracleSql(
        "user_id", "ts", "value", "events"),
    "q334_trend_test" -> StatsOracle.cochranArmitageOracleSql(
      """SELECT o_custkey % 10 AS x,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
             AS conv
         FROM orders"""),
    "q335_gk_gamma" -> StatsOracle.gkGammaOracleSql(
      """SELECT CAST(FLOOR(l_quantity / 10) AS BIGINT) AS r,
           CAST(FLOOR(l_discount * 20) AS BIGINT) AS c
         FROM lineitem"""),
    "q336_krippendorff" -> StatsOracle.krippendorffAlphaOracleSql(
      """SELECT user_id AS item,
           CASE WHEN value > 50 THEN 1 ELSE 0 END AS rating
         FROM events"""),
    "q337_cross_source_dups" ->
      DedupOracle.crossSourceDupShareOracleSql(
        "SELECT doc_id AS id, text, source AS src FROM documents"),
    "q338_intrinsic_dim" -> EmbeddingsOracle.twoNnOracleSql(
      "SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 400"),
    "q339_rmst" -> StatsOracle.rmstOracleSql(
      """SELECT (coalesce(e, l) - f) / 86400000000.0 AS dur,
           CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS event
         FROM (SELECT user_id,
             MIN(epoch_us(ts)) AS f,
             MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
               AS e,
             MAX(epoch_us(ts)) AS l
           FROM events GROUP BY user_id)
         WHERE coalesce(e, l) - f > 0""", tau = 30.0),
    "q340_simpson_detector" -> StatsOracle.simpsonDetectorOracleSql(
      """SELECT l_returnflag AS g, l_discount AS x,
           l_extendedprice AS y FROM lineitem"""),
    "q341_slice_scan" -> QualityOracle.sliceScanOracleSql(
      """SELECT l_returnflag AS a, l_linestatus AS b,
           l_extendedprice AS v FROM lineitem""", minN = 30, topK = 10),
    "q342_agreement" -> StatsOracle.agreementOracleSql(
      "SELECT l_extendedprice AS x, l_quantity * 1500 AS y FROM lineitem"),
    "q343_term_burstiness" -> BurstsOracle.termBurstinessOracleSql(
      "SELECT doc_id AS id, text FROM documents", minCf = 20, topK = 20),
    "q344_median_ci" -> RobustOracle.medianCiOracleSql(
      "SELECT l_extendedprice AS v FROM lineitem"),
    "q345_wasserstein" -> StatTestsOracle.wasserstein1OracleSql(
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'",
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q346_anderson_darling" ->
      StatTestsOracle.andersonDarling2OracleSql(
        """SELECT o_totalprice AS v FROM orders
           WHERE o_orderpriority = '1-URGENT'""",
        """SELECT o_totalprice AS v FROM orders
           WHERE o_orderpriority = '5-LOW'"""),
    "q347_jarque_bera" -> ShapeTestsOracle.jarqueBeraOracleSql(
      "SELECT l_returnflag AS grp, l_quantity AS v FROM lineitem"),
    "q348_mood_median" -> ShapeTestsOracle.moodMedianOracleSql(
      "SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders"),
    "q349_wilcoxon_signed_rank" ->
      ShapeTestsOracle.wilcoxonSignedRankOracleSql(
        """SELECT
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               / SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 END) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               / SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 END) AS y
           FROM events GROUP BY user_id
           HAVING x IS NOT NULL AND y IS NOT NULL"""),
    "q350_runs_test" -> ShapeTestsOracle.runsTestOracleSql(
      """SELECT l_shipdate AS o,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS v
         FROM lineitem GROUP BY l_shipdate"""),
    "q351_ljung_box" -> ForecastOracle.ljungBoxOracleSql(
      "ts", "value", "events"),
    "q352_pettitt" -> ForecastOracle.pettittOracleSql(
      "ts", "value", "events"),
    "q353_granger" -> ForecastOracle.grangerLag1OracleSql(
      "ts", "value", "events"),
    "q354_permutation_entropy" ->
      ForecastOracle.permutationEntropyOracleSql(
        "ts", "value", "events"),
    "q355_dickey_fuller" ->
      ForecastOracle.dickeyFullerOracleSql(
        "ts", "value", "events"),
    "q356_engle_granger" ->
      ForecastOracle.engleGrangerOracleSql(
        "ts", "value", "events"),
    "q357_shewhart" -> ProcessControlOracle.shewhartIOracleSql(
      "ts", "value", "events"),
    "q358_capability" -> ProcessControlOracle.capabilityOracleSql(
      "SELECT l_returnflag AS grp, l_quantity AS v FROM lineitem",
      lsl = 0.0, usl = 55.0),
    "q359_grubbs" -> ProcessControlOracle.grubbsOracleSql(
      "SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders"),
    "q360_poisson_rate" -> StatTestsOracle.poissonRateTestOracleSql(
      """SELECT (user_id % 2 = 0) AS arm,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ev,
           COUNT(DISTINCT CAST(ts AS DATE)) AS expo
         FROM events GROUP BY user_id"""),
    "q361_tukey_hsd" -> StatTestsOracle.tukeyHsdOracleSql(
      "SELECT l_returnflag AS grp, l_quantity AS v FROM lineitem"),
    "q362_fleiss_kappa" -> StatTestsOracle.fleissKappaOracleSql(
      "SELECT l_orderkey AS item, l_returnflag AS cat FROM lineitem",
      nRaters = 4),
    "q363_leverage_cooks" ->
      RegressionDiagnosticsOracle.leverageCooksOracleSql(
        """SELECT l_orderkey * 8 + l_linenumber AS id,
             l_quantity AS x, l_extendedprice AS y FROM lineitem"""),
    "q364_breusch_pagan" ->
      RegressionDiagnosticsOracle.breuschPaganOracleSql(
        "SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem"),
    "q365_pca_2d" -> RegressionDiagnosticsOracle.pca2dOracleSql(
      "SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem"),
    "q366_aic_quadratic" ->
      RegressionDiagnosticsOracle.aicQuadraticOracleSql(
        "SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem"),
    "q367_anisotropy" ->
      EmbedDiagnosticsOracle.anisotropyOracleSql(
        "SELECT embedding AS v FROM embeddings"),
    "q368_hubness" -> EmbedDiagnosticsOracle.hubnessOracleSql(
      knnSql("true", "vec_id < 400", 5), k = 5),
    "q369_lid" -> EmbedDiagnosticsOracle.lidByLabelOracleSql(
      knnSql("true", "vec_id < 400", 6), k = 6),
    "q370_fisher_ratio" ->
      EmbedDiagnosticsOracle.fisherRatioOracleSql(
        "SELECT label, embedding AS v FROM embeddings"),
    "q371_centroid_distances" ->
      EmbedDiagnosticsOracle.centroidDistancesOracleSql(
        "SELECT label, embedding AS v FROM embeddings"),
    "q372_norm_profile" ->
      EmbedDiagnosticsOracle.normProfileOracleSql(
        "SELECT label, embedding AS v FROM embeddings"),
    "q373_fd_audit" -> DataAuditOracle.fdAuditOracleSql("part",
      Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
        ("p_type", "p_brand"))),
    "q374_key_candidates" -> DataAuditOracle.keyCandidatesOracleSql(
      "orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority")),
    "q375_herfindahl" -> DataAuditOracle.herfindahlOracleSql(
      """SELECT c_nationkey AS grp, c_mktsegment AS ent,
           c_acctbal AS v FROM customer"""),
    "q376_consistency_audit" ->
      DataAuditOracle.consistencyAuditOracleSql(),
    "q377_truss_support" -> TrussOracle
      .supportHistogramOracleSql(s"eg AS ($proximityEdgesSql)", "eg"),
    "q378_contamination" -> ContaminationOracle
      .evalOverlapOracleSql("doc_id % 50 = 0"),
    "q379_mann_kendall" -> ForecastOracle.mannKendallOracleSql(
      "ts", "value", "events"),
    "q380_sign_test" -> ShapeTestsOracle.signTestOracleSql(
      """SELECT
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS x,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS y
         FROM events GROUP BY user_id
         HAVING x IS NOT NULL AND y IS NOT NULL"""),
    "q381_cliffs_delta" -> StatTestsOracle.cliffsDeltaOracleSql(
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'",
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q382_hodges_lehmann" ->
      StatTestsOracle.hodgesLehmannOracleSql(
        "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'",
        "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q383_atkinson" -> ConcentrationOracle.atkinsonOracleSql(
      "SELECT c_nationkey AS grp, c_acctbal AS v FROM customer"),
    "q384_lorenz" -> ConcentrationOracle.lorenzDecilesOracleSql(
      "SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders"),
    "q385_burstiness" ->
      EventsOracle.interEventBurstinessOracleSql(
        "user_id", "ts", "events"),
    "q386_iv_wald" -> CausalOracle.ivWaldOracleSql(
      """SELECT CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS z,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS d,
           o_totalprice AS y
         FROM orders JOIN customer ON o_custkey = c_custkey"""),
    "q387_rdd" -> CausalOracle.rddSharpOracleSql(
      "SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem",
      cutoff = 25.0, bandwidth = 20.0),
    "q388_icc_deff" -> CausalOracle.iccDesignEffectOracleSql(
      "SELECT user_id AS c, value AS y FROM events"),
    "q389_char_entropy" ->
      CharStatsOracle.charEntropyProfileOracleSql(),
    "q390_containment" -> ContaminationOracle
      .containmentPairsOracleSql("doc_id < 300"),
    "q391_mcc" -> EvalExtrasOracle.mccSummaryOracleSql(
      """SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
           AS p,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS l
         FROM customer"""),
    "q392_effect_sizes" -> EvalExtrasOracle.effectSizesOracleSql(
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'",
      "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q393_srm" -> EvalExtrasOracle.srmCheckOracleSql(
      """SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm
         FROM (SELECT DISTINCT user_id FROM events)"""),
    "q394_best_thresholds" ->
      EvalExtrasOracle.bestThresholdsOracleSql(
        """SELECT o_totalprice AS s,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS l
           FROM orders"""),
    "q395_average_precision" ->
      EvalExtrasOracle.averagePrecisionOracleSql(
        """SELECT o_totalprice AS s,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS l
           FROM orders"""),
    "q396_equalized_odds" ->
      EvalExtrasOracle.equalizedOddsOracleSql(
        """SELECT c_mktsegment AS g,
             CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS p,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS l
           FROM customer"""),
    "q397_gopher_rules" -> GopherOracle.funnelOracleSql(),
    "q398_tail_dependence" ->
      ForecastOracle.tailDependenceOracleSql(
        "ts", "value", "events"),
    "q399_two_way_anova" -> StatTestsOracle.twoWayAnovaOracleSql(
      """SELECT l_returnflag AS a, l_linestatus AS b,
           l_quantity AS v FROM lineitem"""),
    "q400_split_half" ->
      EvalExtrasOracle.splitHalfReliabilityOracleSql(
        """SELECT user_id AS id, EXTRACT(day FROM ts) AS item,
             value AS v FROM events"""),
    "q401_vocab_coverage" -> VocabStatsOracle
      .vocabCoverageOracleSql(ks = Seq(10, 100, 1000, 10000)),
    "q402_oov_rate" -> VocabStatsOracle.oovRateOracleSql(
      "doc_id % 50 = 0"),
    "q403_sobel_mediation" -> CausalOracle.sobelMediationOracleSql(
      """SELECT l_quantity AS x, l_extendedprice AS m,
           l_discount * 100 AS y FROM lineitem"""),
    "q404_eb_shrink" -> CausalOracle.ebShrinkMeansOracleSql(
      "SELECT c_nationkey AS grp, c_acctbal AS v FROM customer"),
    "q405_stratified_ate" -> CausalOracle.stratifiedAteOracleSql(
      """SELECT c_nationkey AS s,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS tr,
           c_acctbal AS y FROM customer"""),
    "q406_cum_incidence" ->
      StatsOracle.cumulativeIncidenceOracleSql(
        """SELECT
             CASE WHEN de IS NOT NULL AND (dp IS NULL OR de <= dp)
                 THEN date_diff('day', d0, de)
               WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
               ELSE date_diff('day', d0, dl) END AS dur,
             CASE WHEN de IS NOT NULL AND (dp IS NULL OR de <= dp)
                 THEN 1
               WHEN dp IS NOT NULL THEN 2 ELSE 0 END AS cause
           FROM (SELECT user_id,
               MIN(CAST(ts AS DATE)) AS d0,
               MIN(CASE WHEN event_type = 'error'
                 THEN CAST(ts AS DATE) END) AS de,
               MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(ts AS DATE) END) AS dp,
               MAX(CAST(ts AS DATE)) AS dl
             FROM events GROUP BY user_id)
           WHERE CASE WHEN de IS NOT NULL AND (dp IS NULL OR de <= dp)
               THEN date_diff('day', d0, de)
             WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
             ELSE date_diff('day', d0, dl) END >= 0"""),
    "q407_mcf" -> StatsOracle.meanCumulativeFunctionOracleSql(
      "e.event_type = 'error'"),
    "q408_quantile_map" -> RobustOracle.quantileMapOracleSql(
      """SELECT o_totalprice AS v FROM orders
         WHERE o_orderpriority = '1-URGENT'""",
      """SELECT o_totalprice AS v FROM orders
         WHERE o_orderpriority = '5-LOW'"""),
    "q409_neyman" -> DataAuditOracle.neymanAllocationOracleSql(
      "SELECT c_nationkey AS s, c_acctbal AS v FROM customer",
      budget = 1000L),
    "q410_rich_club" -> TrussOracle.richClubOracleSql(
      s"eg AS ($proximityEdgesSql)", "eg", ks = Seq(1, 2, 3, 4)),
    "q411_det_sample" ->
      DataAuditOracle.deterministicSampleOracleSql(
        "SELECT source AS g, doc_id AS id FROM documents", k = 3),
    "q412_gini_stump" -> EvalExtrasOracle.giniStumpOracleSql(
      """SELECT o_totalprice AS f,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
             AS l
         FROM orders"""),
    "q413_calibration" ->
      EvalExtrasOracle.linearCalibrationOracleSql(
        """SELECT CAST(c_custkey % 100 AS DOUBLE) / 100 AS p,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS l
           FROM customer"""),
    "q414_kendall_w" -> StatTestsOracle.kendallWOracleSql(
      """SELECT event_type AS r, CAST(ts AS DATE) AS i,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM events GROUP BY event_type, CAST(ts AS DATE)"""),
    "q415_weighted_kappa" ->
      PreferenceOracle.weightedKappaOracleSql(
        """SELECT FLOOR(value / 20) AS a, FLOOR(value / 25) AS b
           FROM events"""),
    "q416_somers_d" -> StatsOracle.somersDOracleSql(
      """SELECT FLOOR(l_quantity / 10) AS x,
           FLOOR(l_discount * 20) AS y FROM lineitem"""),
    "q417_km_bands" -> StatsOracle.kaplanMeierBandsOracleSql(
      """SELECT date_diff('day', f, coalesce(e, l)) AS dur,
           CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS event
         FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
             MIN(CASE WHEN event_type = 'error'
               THEN CAST(ts AS DATE) END) AS e,
             MAX(CAST(ts AS DATE)) AS l
           FROM events GROUP BY user_id)
         WHERE date_diff('day', f, coalesce(e, l)) > 0"""),
    "q418_win_ratio" -> StatTestsOracle.winRatioOracleSql(
      "SELECT value AS v FROM events WHERE event_type = 'purchase'",
      "SELECT value AS v FROM events WHERE event_type = 'click'"),
    "q419_bimodality" ->
      ShapeTestsOracle.bimodalityCoefficientOracleSql(
        "SELECT l_returnflag AS grp, l_quantity AS v FROM lineitem"),
    "q420_theil_u" ->
      StatTestsOracle.uncertaintyCoefficientOracleSql(
        """SELECT l_returnflag AS x, l_linestatus AS y
           FROM lineitem"""),
    "q421_cmh" -> StatTestsOracle.cmhTestOracleSql(
      """SELECT c_nationkey AS s,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS o
         FROM customer"""),
    "q422_dispersion" -> StatTestsOracle.dispersionIndexOracleSql(
      """SELECT event_type AS grp, COUNT(*) AS c
         FROM events GROUP BY event_type, user_id"""),
    "q423_cv_ci" -> StatTestsOracle.cvWithCiOracleSql(
      "SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem"),
    "q424_friedman_page" -> StatTestsOracle.friedmanPageOracleSql(
      """SELECT l_shipdate AS b, FLOOR(l_discount * 20) AS t,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS v
         FROM lineitem GROUP BY l_shipdate, FLOOR(l_discount * 20)"""),
    "q425_robust_spread" -> RobustOracle.robustSpreadOracleSql(
      "SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem"),
    "q426_ks_uniform" -> StatTestsOracle.ksUniformOracleSql(
      "SELECT l_discount AS v FROM lineitem", lo = 0.0, hi = 0.1),
    "q427_topk_churn" -> DataAuditOracle.topkChurnOracleSql(
      """SELECT o_custkey AS e, o_totalprice AS v FROM orders
         WHERE o_orderdate < DATE '1995-01-01'""",
      """SELECT o_custkey AS e, o_totalprice AS v FROM orders
         WHERE NOT (o_orderdate < DATE '1995-01-01')""", k = 20),
    "q428_ess_weights" -> ExperimentsOracle.essProfileOracleSql(
      "SELECT source AS g, n_chars AS w FROM documents"),
    "q429_first_seen_dups" ->
      DedupOracle.firstSeenDupShareOracleSql(
        "SELECT doc_id AS id, source AS g, text FROM documents"),
    "q430_energy_distance" ->
      StatTestsOracle.energyDistanceOracleSql(
        "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'R'",
        "SELECT l_quantity AS v FROM lineitem WHERE l_returnflag = 'N'"),
    "q431_gini_mean_diff" ->
      ConcentrationOracle.giniMeanDifferenceOracleSql(
        "SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem"),
    "q432_c_index" -> StatsOracle.concordanceIndexOracleSql(
      """SELECT date_diff('day', f, coalesce(e, l)) AS t,
           CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS e,
           cnt AS p
         FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
             MIN(CASE WHEN event_type = 'error'
               THEN CAST(ts AS DATE) END) AS e,
             MAX(CAST(ts AS DATE)) AS l, COUNT(*) AS cnt
           FROM events GROUP BY user_id)
         WHERE date_diff('day', f, coalesce(e, l)) > 0"""),
    "q433_source_kl" ->
      DistinctiveOracle.sourceKlOracleSql(topK = 2000),
    "q434_page_hinkley" -> ForecastOracle
      .pageHinkleyOracleSql("ts", "value", "events"),
    "q435_dup_cluster_sizes" ->
      DedupOracle.dupClusterSizesOracleSql(
        "SELECT text FROM documents"),
    "q436_propensity_overlap" ->
      CausalOracle.propensityOverlapOracleSql(
        """SELECT FLOOR(c_acctbal / 500) AS b,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS tr
           FROM customer"""),
    "q437_cold_start" -> CohortsOracle.coldStartRateOracleSql(
      "user_id", "event_type", "ts", "events", "2024-01-15 00:00:00"),
    "q438_pinball" -> ForecastOracle.pinballEvalOracleSql(
      "ts", "value", "events", "2024-01-15"),
    "q439_winsorized_corr" -> RobustOracle.winsorizedCorrOracleSql(
      """SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem"""),
    "q440_shard_skew" -> SkewReportOracle.shardSkewAuditOracleSql(
      "SELECT o_custkey AS k FROM orders"),
    "q441_holm_pairwise" ->
      MultipleTestingOracle.pairwiseTestsHolmOracleSql(
        """SELECT event_type AS g, value AS v FROM events"""),
    "q442_tost_equivalence" ->
      ExperimentsOracle.tostEquivalenceOracleSql(
        "SELECT l_returnflag AS arm, l_quantity AS v FROM lineitem",
        armA = "R", armB = "N", margin = 0.5),
    "q443_power_proportions" ->
      StatTestsOracle.powerProportionsOracleSql(
        """SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
             AS conv FROM orders""", delta = 0.02),
    "q444_variance_changepoint" -> ForecastOracle
      .varianceChangepointOracleSql("ts", "value", "events"),
    "q445_group_trend" -> ForecastOracle
      .senSlopeByGroupOracleSql("event_type", "ts", "value", "events"),
    "q446_similarity_sweep" ->
      DedupOracle.jaccardBandSweepOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id < 500",
        minBand = 5),
    "q447_lilliefors" -> StatTestsOracle.lillieforsOracleSql(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
           AS DOUBLE) AS v
         FROM lineitem GROUP BY l_shipdate"""),
    "q448_bowker" -> StatsOracle.bowkerOracleSql(
      """SELECT LEAST(CAST(sp * 100 AS BIGINT) // (2500 * cp), 3) AS a,
           LEAST(CAST(sq * 100 AS BIGINT) // (2500 * cq), 3) AS b
         FROM (SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(value AS DECIMAL(18,2)) END) AS sp,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS cp,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(value AS DECIMAL(18,2)) END) AS sq,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS cq
           FROM events GROUP BY user_id)"""),
    "q449_jonckheere" ->
      StatTestsOracle.jonckheereTerpstraOracleSql(
        """SELECT CAST(FLOOR(l_discount * 20) AS BIGINT) AS g,
             CAST(l_quantity AS BIGINT) AS v FROM lineitem"""),
    "q450_interval_coverage" -> ForecastOracle
      .intervalCoverageOracleSql("ts", "value", "events", "2024-01-15"),
    "q451_operating_points" ->
      StatTestsOracle.operatingPointsOracleSql(
        """SELECT CAST(c_custkey % 100 AS DOUBLE) / 100 AS s,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
           FROM customer"""),
    "q452_mi_matrix" -> AssociationOracle.miMatrixOracleSql(
      """(SELECT l_returnflag, l_linestatus,
           CAST(FLOOR(l_discount * 20) AS BIGINT) AS disc_band
         FROM lineitem)""",
      Seq("l_returnflag", "l_linestatus", "disc_band")),
    "q453_cohort_ltv" -> CohortsOracle.cohortLtvOracleSql(
      "user_id", "ts", "value", "events"),
    "q454_partial_auc" -> EvalExtrasOracle.partialAucOracleSql(
      """SELECT CAST(c_custkey % 100 AS DOUBLE) / 100 AS s,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
         FROM customer"""),
    "q455_dedup_savings" -> DedupOracle.dedupSavingsOracleSql(
      "SELECT doc_id AS id, source AS g, text FROM documents"),
    "q456_position_attribution" ->
      ReportingOracle.positionAttributionOracleSql(
        conversionType = "purchase",
        touchTypes = Seq("click", "view", "signup")),
    "q457_novelty_curve" ->
      CorpusStatsOracle.noveltyCurveOracleSql(),
    "q458_ks_by_group" -> StatTestsOracle.ksByGroupOracleSql(
      """SELECT event_type AS g,
           CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
             THEN 1 ELSE 0 END AS a,
           value AS v FROM events"""),
    "q459_turning_points" -> ForecastOracle
      .turningPointsOracleSql("ts", "value", "events"),
    "q460_von_neumann" -> ForecastOracle
      .vonNeumannOracleSql("ts", "value", "events"),
    "q461_cost_curve" -> StatTestsOracle.costCurveOracleSql(
      """SELECT CAST(c_custkey % 100 AS DOUBLE) / 100 AS s,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
         FROM customer""", costFp = 1L, costFn = 5L),
    "q462_contamination_sweep" ->
      ContaminationOracle.contaminationSweepOracleSql(
        Seq("mod50" -> "doc_id % 50 = 0", "mod97" -> "doc_id % 97 = 0")),
    "q463_defect_scan" -> ScrubOracle.defectScanOracleSql(),
    "q464_w1_by_group" ->
      StatTestsOracle.wassersteinByGroupOracleSql(
        """SELECT event_type AS g,
             CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 ELSE 0 END AS a,
             value AS v FROM events"""),
    "q465_acf_by_group" -> ForecastOracle.acfByGroupOracleSql(
      "event_type", "ts", "value", "events"),
    "q466_seasonal_mk" -> ForecastOracle
      .seasonalMannKendallOracleSql("ts", "value", "events"),
    "q467_gini_sweep" -> InfoGainOracle.giniSweepOracleSql(
      """(SELECT CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_band,
           CAST(FLOOR(l_discount * 20) AS BIGINT) AS disc_band,
           CAST(FLOOR(l_extendedprice / 10000) AS BIGINT)
             AS price_band,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem)""",
      Seq("qty_band", "disc_band", "price_band"), "y"),
    "q468_rank_biserial" -> ShapeTestsOracle.rankBiserialOracleSql(
      """SELECT
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS x,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN 1 END) AS y
         FROM events GROUP BY user_id"""),
    "q469_variance_ratio" -> StatTestsOracle.varianceRatioOracleSql(
      "SELECT l_returnflag AS arm, l_quantity AS v FROM lineitem",
      armA = "R", armB = "N"),
    "q470_km_by_group" -> StatsOracle.kmMedianByGroupOracleSql(
      """SELECT ft.channel AS g,
           date_diff('day', lf.f, coalesce(lf.e, lf.l)) AS t,
           CASE WHEN lf.e IS NOT NULL THEN 1 ELSE 0 END AS e
         FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
             MIN(CASE WHEN event_type = 'error'
               THEN CAST(ts AS DATE) END) AS e,
             MAX(CAST(ts AS DATE)) AS l
           FROM events GROUP BY user_id) lf
         JOIN (SELECT user_id, event_type AS channel FROM (
             SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
             FROM events) WHERE rn = 1) ft
           ON lf.user_id = ft.user_id
         WHERE date_diff('day', lf.f, coalesce(lf.e, lf.l)) > 0"""),
    "q471_boilerplate_mass" ->
      CorpusStatsOracle.boilerplateMassOracleSql(),
    "q472_entropy_by_source" ->
      DistinctiveOracle.entropyBySourceOracleSql(),
    "q473_streaks" -> ForecastOracle.streaksOracleSql(
      "ts", "value", "events"),
    "q474_missingness" ->
      DataAuditOracle.missingnessPatternOracleSql(
        """(SELECT
             CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END
               AS va,
             CASE WHEN event_id % 37 = 0 OR event_id % 11 = 0
               THEN NULL ELSE value END AS vb,
             CASE WHEN event_id % 41 = 0 THEN NULL ELSE value END
               AS vc
           FROM events)""",
        Seq("va", "vb", "vc")),
    "q475_reorder_gaps" -> EventsOracle.reorderGapsOracleSql(
      "o_custkey", "o_orderdate", "orders"),
    "q476_latency_percentiles" ->
      EventsOracle.latencyPercentilesOracleSql(
        "user_id", "ts", "event_type", "events"),
    "q477_hourly_profile" ->
      ReportingOracle.hourlyProfileOracleSql("ts", "events"),
    "q478_weekend_lift" ->
      ReportingOracle.weekendLiftOracleSql(
        "ts", "value", "events"),
    "q479_psi_timeline" -> QualityOracle.psiTimelineOracleSql(
      "ts", "value", "events", binWidth = 10.0),
    "q480_shard_exchange" ->
      ShardExchangeOracle.exchangeReportOracleSql(
        "doc_id", "text", "documents", nShards = 4),
    "q481_logrank" -> SurvivalTestsOracle.logRankOracleSql(
      """SELECT date_diff('day', f, coalesce(e, l)) AS dur,
           CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS event,
           CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm
         FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
             MIN(CASE WHEN event_type = 'error'
               THEN CAST(ts AS DATE) END) AS e,
             MAX(CAST(ts AS DATE)) AS l
           FROM events GROUP BY user_id)
         WHERE date_diff('day', f, coalesce(e, l)) > 0""",
      armA = "even", armB = "odd"),
    "q482_krippendorff" -> AgreementOracle.krippendorffAlphaOracleSql(
      "SELECT l_orderkey AS u, l_returnflag AS c FROM lineitem"),
    "q483_mixture_reweight" ->
      CorpusStatsOracle.mixtureReweightOracleSql(
        Map("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.1,
          "src3" -> 0.05), cap = 3.0),
    "q484_cross_shard_neardups" ->
      ShardExchangeOracle.crossShardNearDupsOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id < 800",
        nShards = 4, threshold = 0.3),
    "q485_bucket_skew" -> ShardExchangeOracle.bucketSkewOracleSql(
      "doc_id", "text", "documents"),
    "q486_bigram_entropy" ->
      LmScoreOracle.bigramCrossEntropyOracleSql(k = 0.5),
    "q487_mixture_apply" -> CorpusStatsOracle.mixtureApplyOracleSql(
      Map("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.1,
        "src3" -> 0.05), cap = 3.0),
    "q488_token_fertility" -> CorpusStatsOracle
      .tokenFertilityOracleSql("source", "text", "documents"),
    "q489_shard_pair_overlap" -> ShardExchangeOracle
      .shardPairOverlapOracleSql("doc_id", "text", "documents",
        nShards = 4),
    "q490_order_reconciliation" ->
      IntegrityOracle.reconcileOrderTotalsOracleSql(),
    "q491_length_quality_grid" -> CorpusStatsOracle
      .lengthQualityGridOracleSql("text", "documents",
        Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")),
    "q492_backlog_curve" ->
      IntervalsOracle.backlogByMonthOracleSql(),
    "q493_lead_time" ->
      ReportingOracle.leadTimeProfileOracleSql(),
    "q494_shared_prefixes" -> TemplatesOracle
      .sharedPrefixesOracleSql("source", "text", "documents",
        k = 8, minDocs = 2L),
    "q495_dup_span_position" ->
      CorpusStatsOracle.dupSpanPositionOracleSql(n = 3),
    "q496_dup_attribution" ->
      DedupOracle.dupAttributionOracleSql(prefixChars = 8),
    "q497_langid_confusion" -> {
      def ratio(l: String): String = {
        val sw = Text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / GREATEST(len(toks), 1)"
      }
      s"""WITH d AS (SELECT lang,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (SELECT lang, ${ratio("de")} AS s_de, ${ratio("en")} AS s_en,
                      ${ratio("es")} AS s_es, ${ratio("fr")} AS s_fr FROM d),
         p AS (SELECT lang, CASE
           WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
           WHEN s_en > 0 AND s_en >= s_de THEN 'en'
           WHEN s_de > 0 THEN 'de'
           ELSE 'und' END AS lang_pred
          FROM s),
         cells AS (SELECT lang, lang_pred, COUNT(*) AS n_docs
           FROM p GROUP BY lang, lang_pred)
         SELECT lang, lang_pred, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) /
             SUM(n_docs) OVER (PARTITION BY lang), 6) AS share
         FROM cells ORDER BY lang, lang_pred"""
    },
    "q498_ngram_df_histogram" ->
      CorpusStatsOracle.ngramDfHistogramOracleSql(n = 3),
    "q499_growth_accounting" -> CohortsOracle
      .growthAccountingOracleSql("user_id", "ts", "events"),
    "q500_function_word_cosine" -> DistinctiveOracle
      .functionWordCosineOracleSql("source", "text", "documents",
        Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")),
    "q501_new_repeat_revenue" -> ReportingOracle
      .newRepeatRevenueOracleSql("o_custkey", "o_orderdate",
        "o_totalprice", "orders"),
    "q502_template_purity" -> TemplatesOracle
      .templatePurityOracleSql("source", "text", "documents", k = 8),
    "q503_winnow_density" ->
      WinnowingOracle.densityOracleSql(k = 3, w = 4),
    "q504_winnow_candidates" -> WinnowingOracle
      .candidatePairsOracleSql(k = 3, w = 4, minShared = 2, maxDf = 10),
    "q505_filter_agreement" -> FilterAgreementOracle
      .c4GopherCellsOracleSql(
        """SELECT doc_id, source,
             regexp_replace(text || CASE WHEN doc_id % 2 = 0
                 THEN ' more rows of the batch and that plan with scans to finish here now.'
                 ELSE ' tail' END,
               ' the ', '.' || chr(10), 'g') AS text
           FROM documents"""),
    "q506_rake_keywords" -> RakeOracle.keywordsOracleSql(
      Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")),
    "q507_m4_downsample" -> DownsampleOracle.m4OracleSql(
      "event_type", "ts", "event_id", "value", "events"),
    "q508_time_weighted_avg" -> TimeWeightedOracle
      .timeWeightedAvgOracleSql("event_type", "ts", "event_id",
        "value", "events"),
    "q509_stickiness" -> CohortsOracle
      .stickinessOracleSql("user_id", "ts", "events"),
    "q510_marginals" -> ReportingOracle.marginalsOracleSql(
      "l_returnflag", "l_linestatus", "l_quantity", "lineitem"),
    "q511_learning_curve" -> LearningCurveOracle
      .simpleOlsCurveOracleSql(
        """len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             w -> length(w) > 0))""",
        "n_chars", "doc_id", "documents"),
    "q512_winnow_spectrum" -> WinnowingOracle
      .sharedSpectrumOracleSql(k = 3, w = 4, maxDf = 10),
    "q513_minhash_calibration" -> SketchCalibrationOracle
      .minhashReliabilityOracleSql(numHashes = 16, idCap = 200),
    "q514_brunner_munzel" -> RankTestsOracle
      .brunnerMunzelOracleSql("event_type", "value", "events",
        "click", "view"),
    "q515_cucconi" -> RankTestsOracle
      .cucconiOracleSql("event_type", "value", "events",
        "purchase", "view"),
    "q516_isotonic_calibration" -> IsotonicOracle
      .calibrateOracleSql("value", "event_type = 'purchase'", "events"),
    "q517_copula_grid" -> CopulaOracle.copulaGridOracleSql(
      """len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           w -> length(w) > 0))""",
      "n_chars", "documents"),
    "q518_char_js_matrix" ->
      StyleDriftOracle.charJsMatrixOracleSql(n = 3),
    "q519_jl_distortion" ->
      JlAuditOracle.jlDistortionOracleSql(k = 16, idCap = 500),
    "q520_snapshot_diff" -> SnapshotDiffOracle
      .diffOracleSql(snapshotOldSql, snapshotNewSql),
    "q521_incremental_stats" -> SnapshotDiffOracle
      .incrementalStatsOracleSql(snapshotOldSql, snapshotNewSql),
    "q522_changed_similarity" -> SnapshotDiffOracle
      .changedSimilarityOracleSql(snapshotOldSql, snapshotNewSql),
    "q227_cramers_v" -> cramersVSql,
    "q228_lexical_richness" ->
      """WITH tok AS (SELECT source,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS term
           FROM documents),
         ps AS (SELECT source, term, COUNT(*) AS c
           FROM tok GROUP BY source, term),
         nd AS (SELECT source, COUNT(*) AS n_docs
           FROM documents GROUP BY source),
         pr AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_types,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(SUM(length(term) * c) AS BIGINT) AS len
           FROM ps GROUP BY source)
         SELECT source, n_docs, n_tokens, n_types,
           ROUND(n_types / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           ROUND(hapax / CAST(n_types AS DOUBLE), 6) AS hapax_frac,
           ROUND(len / CAST(n_tokens AS DOUBLE), 6) AS mean_token_len
         FROM pr JOIN nd USING (source)"""
  )
}
