package graft.eda

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EDA operator pack — the reference's most-executed query family.
  *
  * Every operator here is a SINGLE wide aggregate over the table (one scan,
  * partial+final aggregation handled by Spark), mirroring the reference's
  * "one SELECT with all per-column aggregates" pattern
  * (reference: src/workbench/algorithms/sql/descriptive_stats.py:22-34,
  * column_stats.py:104-111, correlations.py:29-35). At 100 TB these stay
  * a single scan + tiny shuffle of partial aggregates — no per-column
  * re-scans.
  */
object Eda {

  /** min/q1/median/q3/max/mean/stddev per numeric column in ONE pass,
    * returned long-format: (column, min, q1, median, q3, max, mean, stddev).
    * (reference: src/workbench/algorithms/sql/descriptive_stats.py:14-83)
    *
    * `exact = true` uses the exact interpolating percentile (oracle parity
    * with DuckDB's quantile_cont); `exact = false` uses approx_percentile,
    * the scale path for 100 TB (sketch mergeable, bounded memory).
    */
  def descriptiveStats(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    val aggs = statsAggs(cols, exact)
    val wide = statsFinish(statsInput(df, cols, exact).agg(aggs.head, aggs.tail: _*), cols, exact)
    // Pivot col__stat names back to one row per column, like the
    // reference's result reshaping (descriptive_stats.py:40-83).
    val stackExpr = cols.map { c =>
      (Seq(s"'$c'") ++ StatNames.map(s => s"`${c}__$s`")).mkString(", ")
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${cols.size}, $stackExpr) as (column_name, ${StatNames.mkString(", ")})")
  }

  /** The statistics of [[descriptiveStats]], in output order. */
  val StatNames: Seq[String] = Seq("min", "q1", "median", "q3", "max", "mean", "stddev")

  // [[descriptiveStats]] in three parts, so a caller can add its own
  // aggregates to the same pass (Monitor.createBaseline takes its
  // constraints from it): the per-row projection below the aggregate,
  // the aggregate expressions over it, and the projection that finishes
  // the one wide row into `<c>__<stat>` columns for every stat in
  // [[StatNames]] (other columns pass through).

  private[graft] def statsInput(df: DataFrame, cols: Seq[String],
                                exact: Boolean = true): DataFrame = {
    // exact path: graft.functions.ExactPercentiles — one primitive buffer
    // per column serves all three quantiles (~10× the built-in Percentile,
    // same interpolation rule). approx path: mergeable sketch for scale.
    // exact path means/stddevs ride the integer cents lattice (2dp
    // domain) with ONE portable double conversion per moment
    // (core/Lattice): engine-native AVG/STDDEV are partial-sum-order
    // dependent, which the round-13 100× sweep surfaced as 6dp drift
    // on key-magnitude columns. NaN propagates like AVG's (guarded
    // BEFORE the decimal cast — ANSI-safe).
    import org.apache.spark.sql.types.DecimalType
    // evaluate the cents cast chain ONCE per row via a projection below
    // the aggregate (guide §2.3 "project before the exchange"), and
    // accumulate all four moment quantities in ONE imperative aggregate
    // per column (functions.LatticeMoments): the four-expression form
    // (count/sum/sum²/nan-sum over a DECIMAL(38,0) lattice column) paid
    // a per-row BigDecimal multiply + two Decimal buffer adds, each
    // interpreted per row because ExactPercentiles already forces this
    // aggregate off whole-stage codegen. Identical values: the
    // DECIMAL(18,2) unscaled long IS the cents lattice.
    if (!exact) df
    else df.select(
      cols.map(c => col(c)) ++
        cols.map(c => when(!isnan(col(c).cast("double")), col(c))
          .cast(DecimalType(18, 2)).as(s"${c}__clat")) ++
        cols.map(c => col(c).cast("double").as(s"${c}__dlat")): _*)
  }

  private[graft] def statsAggs(cols: Seq[String], exact: Boolean = true): Seq[Column] =
    if (exact) cols.flatMap { c =>
      Seq(
        min(col(c)).cast("double").as(s"${c}__min"),
        graft.functions.ExactPercentiles
          .exactPercentiles(col(s"${c}__dlat"), Seq(0.25, 0.5, 0.75))
          .as(s"${c}__pct"),
        max(col(c)).cast("double").as(s"${c}__max"),
        graft.functions.LatticeMoments
          .latticeMoments(col(s"${c}__clat"), isnan(col(s"${c}__dlat")))
          .as(s"${c}__mom"))
    }
    else cols.flatMap { c =>
      Seq(
        min(col(c)).cast("double").as(s"${c}__min"),
        expr(s"approx_percentile($c, array(0.25, 0.5, 0.75), 10000)")
          .cast("array<double>").as(s"${c}__pct"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c)).cast("double").as(s"${c}__mean"),
        stddev(col(c)).cast("double").as(s"${c}__stddev"))
    }

  private[graft] def statsFinish(wide0: DataFrame, cols: Seq[String],
                                 exact: Boolean = true): DataFrame = {
    val pds = graft.core.Lattice.sparkPortableDoubleSigned _
    def momentCols(c: String): Seq[Column] =
      if (!exact) Seq.empty
      else {
        val s1 = expr(pds(s"`${c}__s1i`")) / 100.0
        val s2 = expr(pds(s"`${c}__s2i`")) / 10000.0
        val nd = col(s"${c}__cnt").cast("double")
        val nan = col(s"${c}__nanc") > 0
        Seq(
          when(nan, lit(Double.NaN))
            .when(col(s"${c}__cnt") > 0, s1 / nd).as(s"${c}__mean"),
          when(nan, lit(Double.NaN))
            .when(col(s"${c}__cnt") >= 2,
              sqrt(greatest((s2 - s1 * s1 / nd) / (nd - 1), lit(0.0))))
            .as(s"${c}__stddev"))
      }
    val wide1 = // flatten the moment structs back to the lattice names
      if (!exact) wide0
      else wide0.select(col("*") +: cols.flatMap(c => Seq(
        col(s"${c}__mom.cnt").as(s"${c}__cnt"),
        col(s"${c}__mom.nanc").as(s"${c}__nanc"),
        col(s"${c}__mom.s1").as(s"${c}__s1i"),
        col(s"${c}__mom.s2").as(s"${c}__s2i"))): _*)
    wide1
      .select(col("*") +: cols.flatMap(c => Seq(
        element_at(col(s"${c}__pct"), 1).as(s"${c}__q1"),
        element_at(col(s"${c}__pct"), 2).as(s"${c}__median"),
        element_at(col(s"${c}__pct"), 3).as(s"${c}__q3")) ++ momentCols(c)): _*)
  }

  /** COUNT(DISTINCT c) for every column in one SELECT
    * (reference: src/workbench/algorithms/sql/column_stats.py:13-23).
    * At scale prefer approxCountDistinct (HLL) — see `uniquesApprox`.
    */
  def countDistinct(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => count_distinct(col(c)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** HLL-sketch uniques — the 100 TB path (single scan, mergeable). */
  def uniquesApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => approx_count_distinct(col(c)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** COUNT(CASE WHEN c IS NULL) per column
    * (reference: src/workbench/algorithms/sql/column_stats.py:26-36). */
  def countNulls(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => count(when(col(c).isNull, 1)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** COUNT(CASE WHEN c = 0) per numeric column
    * (reference: src/workbench/algorithms/sql/column_stats.py:39-49). */
  def countZeros(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => count(when(col(c) === 0, 1)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Full pairwise correlation matrix in ONE aggregate pass, long format
    * (col_1, col_2, correlation), both orientations, sorted desc —
    * mirroring the reference's n·(n-1) corr() aggregates in one SELECT
    * (reference: src/workbench/algorithms/sql/correlations.py:14-91).
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    // ONE CorrMatrix aggregate instead of n·(n−1)/2 corr() aggregates:
    // the declarative corrs compiled into a ~1.3 s Janino method (the
    // dominant cost of this query, constant in data size); the typed
    // aggregate's update is compiled Scala over a primitive buffer with
    // the identical Welford co-moment math (bit-equal results, see
    // EdaSpec)
    val spark = df.sparkSession
    val cs = cols.sorted
    val pairs = for { i <- cs.indices; j <- i + 1 until cs.size } yield (cs(i), cs(j))
    val arr = df.agg(graft.functions.CorrMatrix.corrMatrix(cs.map(col)))
      .head().getSeq[Any](0)
    // both orientations reshaped on the DRIVER: the result is
    // metadata-sized (d² rows), and the previous 2·pairs-branch `stack`
    // projection cost ~1.1 s of Janino compile for a one-row input —
    // the same reshape the reference does in pandas
    val rows = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val c = arr(i).asInstanceOf[java.lang.Double]
      Seq(org.apache.spark.sql.Row(a, b, c), org.apache.spark.sql.Row(b, a, c))
    }
    // desc correlation (NaN largest like Spark's sort, nulls last),
    // then col_1, col_2 asc — same order as the previous orderBy
    val sortedRows = rows.sortWith { (x, y) =>
      val cx = x.get(2).asInstanceOf[java.lang.Double]
      val cy = y.get(2).asInstanceOf[java.lang.Double]
      if ((cx == null) != (cy == null)) cy == null // nulls last like desc
      else if (cx != null && java.lang.Double.compare(cx, cy) != 0)
        java.lang.Double.compare(cx, cy) > 0
      // ties (including the all-null group) break on names, matching the
      // previous orderBy(desc(corr), asc(col_1), asc(col_2)) contract
      else if (x.getString(0) != y.getString(0)) x.getString(0) < y.getString(0)
      else x.getString(1) < y.getString(1)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(sortedRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_1", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("col_2", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("correlation", org.apache.spark.sql.types.DoubleType))))
  }

  /** Per string column: top-20 by count desc UNION ALL bottom-20 asc
    * (reference: src/workbench/algorithms/sql/value_counts.py:13-63).
    * Ties broken by value for determinism. The groupBy shuffles only the
    * distinct values (map-side combine), then each limit is a tiny top-k.
    */
  def valueCounts(df: DataFrame, column: String, k: Int = 20,
                  collapseAllUnique: Boolean = true): DataFrame = {
    val counts = df.na.fill("NaN", Seq(column))
      .groupBy(col(column).as("value")).agg(count(lit(1)).as("count"))
    val top = counts.orderBy(desc("count"), asc("value")).limit(k)
    // the reference's "all counts are 1" collapse: keep only 5 rows
    // (value_counts.py:55-57). One cheap agg on the counts decides —
    // only when the collapse is enabled; max(count) is NULL on an empty
    // table — no collapse, no NPE.
    def allOnes = { val mx = counts.agg(max("count")).head()
      !mx.isNullAt(0) && mx.getLong(0) == 1L }
    if (collapseAllUnique && allOnes) top.limit(5)
    else top.unionByName(counts.orderBy(asc("count"), desc("value")).limit(k))
  }

  /** Full column-stats orchestration (reference: algorithms/sql/
    * column_stats.py:52-121): dtype + unique + nulls for every column,
    * zeros + descriptive stats for numeric columns, and (with
    * `includeMaps`) the nested value_counts (string columns) and
    * correlations (numeric columns) the reference embeds per column —
    * here as typed map columns instead of nested dicts.
    *
    * Composition mirrors the reference: each ingredient is one of the
    * existing single-pass aggregates, joined on column_name — the result
    * is metadata-sized (one row per column) regardless of data scale.
    */
  def columnStatsFull(df: DataFrame, includeMaps: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val cols = df.columns.toSeq
    val numeric = graft.core.Tables.numericCols(df)
    def stacked(wide: DataFrame, outName: String, subset: Seq[String]) =
      wide.selectExpr(s"stack(${subset.size}, " +
        subset.map(c => s"'$c', `$c`").mkString(", ") + s") as (column_name, $outName)")
    val dtypes = spark.createDataFrame(df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString.replace("timestamp_ntz", "timestamp"))))
      .toDF("column_name", "dtype")
    var out = dtypes
      .join(stacked(countDistinct(df, cols), "n_distinct", cols), Seq("column_name"))
      .join(stacked(countNulls(df, cols), "n_nulls", cols), Seq("column_name"))
    out =
      if (numeric.nonEmpty)
        out.join(stacked(countZeros(df, numeric), "num_zeros", numeric),
            Seq("column_name"), "left")
          .join(descriptiveStats(df, numeric), Seq("column_name"), "left")
      else
        Seq("num_zeros").foldLeft(out)((d, c) => d.withColumn(c, lit(null).cast("bigint")))
          .withColumns(Seq("min", "q1", "median", "q3", "max", "mean", "stddev")
            .map(c => c -> lit(null).cast("double")).toMap)
    if (includeMaps) {
      val stringCols = df.schema.fields
        .collect { case f if f.dataType == org.apache.spark.sql.types.StringType => f.name }
        .toSeq
      out =
        if (stringCols.isEmpty)
          out.withColumn("value_counts", lit(null).cast("map<string,bigint>"))
        else out.join(
          stringCols.map { c =>
            // top-k ∪ bottom-k overlap on low-cardinality columns —
            // dedup values before they become map keys
            valueCounts(df, c).dropDuplicates("value")
              .agg(map_from_entries(collect_list(struct(col("value"), col("count"))))
                .as("value_counts"))
              .withColumn("column_name", lit(c))
          }.reduce(_ unionByName _), Seq("column_name"), "left")
      out =
        if (numeric.size < 2)
          out.withColumn("correlations", lit(null).cast("map<string,double>"))
        else out.join(
          correlations(df, numeric)
            .groupBy(col("col_1").as("column_name"))
            .agg(map_from_entries(collect_list(struct(col("col_2"), col("correlation"))))
              .as("correlations")), Seq("column_name"), "left")
    }
    out.orderBy("column_name")
  }

  /** IQR outlier bounds per column, computed client-side in one agg pass —
    * phase 1 of the reference's two-phase outlier query
    * (reference: src/workbench/algorithms/sql/outliers.py:59-126).
    * Returns (column, lower_bound, upper_bound).
    */
  def outlierBounds(df: DataFrame, cols: Seq[String], scale: Double = 1.5,
                    exact: Boolean = true): Map[String, (Double, Double)] = {
    val aggs = cols.map { c =>
      if (exact)
        graft.functions.ExactPercentiles
          .exactPercentiles(col(c).cast("double"), Seq(0.25, 0.75)).as(s"${c}__pct")
      else
        expr(s"approx_percentile($c, array(0.25, 0.75), 10000)")
          .cast("array<double>").as(s"${c}__pct")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      // empty/all-null column -> unbounded range (no rows flagged) rather
      // than an NPE; NaN values still flag (NaN sorts above +Inf)
      if (row.isNullAt(i)) c -> (Double.NegativeInfinity, Double.PositiveInfinity)
      else {
        val pct = row.getSeq[Double](i)
        val (q1, q3) = (pct(0), pct(1))
        val iqr = q3 - q1
        c -> (q1 - scale * iqr, q3 + scale * iqr)
      }
    }.toMap
  }

  /** Phase 2: multi-column OR predicate over the precomputed bounds
    * (reference: src/workbench/algorithms/sql/outliers.py:128-155).
    * The bounds are plain literals so the predicate pushes down to the
    * parquet scan; no self-join, no percentile-in-WHERE.
    */
  def outliers(df: DataFrame, cols: Seq[String], scale: Double = 1.5,
               limit: Option[Int] = None): DataFrame = {
    val bounds = outlierBounds(df, cols, scale)
    val conds = cols.map { c =>
      val (lb, ub) = bounds(c)
      col(c) < lb || col(c) > ub
    }
    val filtered = df.filter(conds.reduce(_ || _))
    limit.fold(filtered)(filtered.limit)
  }

  /** σ-bounds variant: rows outside mean ± nSigma·stddev on any column
    * (reference: src/workbench/utils/pandas_utils.py:746-786
    * drop_outliers_sdev — same two-phase literal-bounds design). */
  def outliersSdev(df: DataFrame, cols: Seq[String], nSigma: Double = 3.0): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      avg(col(c)).cast("double").as(s"${c}__mu"),
      stddev(col(c)).cast("double").as(s"${c}__sd")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val conds = cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) lit(false)
      else {
        val mu = row.getDouble(2 * i); val sd = row.getDouble(2 * i + 1)
        col(c) < mu - nSigma * sd || col(c) > mu + nSigma * sd
      }
    }
    df.filter(conds.reduce(_ || _))
  }
}
