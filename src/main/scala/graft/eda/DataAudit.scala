package graft.eda

import graft.core.{Lattice, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table-quality audits a warehouse team schedules per ingest: does a
  * claimed functional dependency actually hold, which columns are
  * key candidates, how concentrated is a market, do two tables that
  * should agree actually agree. Each audit is one or two
  * map-combinable groupBys; nothing touches the driver beyond scalar
  * frames.
  */
object DataAudit {

  /** Functional-dependency audit: for each (determinant → dependent)
    * candidate, the share of determinant groups carrying MORE than one
    * dependent value. All pairs ride ONE (pair, det, dep) shuffle (the
    * columns stack into a long frame), not one job per pair.
    * Returns (determinant, dependent, n_groups, n_violating,
    * violation_rate 6dp). */
  def fdAudit(df: DataFrame,
              pairs: Seq[(String, String)]): DataFrame = {
    val stacked = df.select(explode(array(pairs.map { case (d, p) =>
      struct(lit(d).as("det"), lit(p).as("dep"),
        col(d).cast("string").as("dv"),
        col(p).cast("string").as("pv"))
    }: _*)).as("s")).select(col("s.det"), col("s.dep"), col("s.dv"),
      col("s.pv"))
    stacked.groupBy("det", "dep", "dv")
      .agg(countDistinct("pv").as("__nd"))
      .groupBy(col("det").as("determinant"), col("dep").as("dependent"))
      .agg(count(lit(1)).as("n_groups"),
        sum((col("__nd") > 1).cast("long")).as("n_violating"))
      .withColumn("violation_rate",
        round(col("n_violating").cast("double") / col("n_groups"), 6))
      .orderBy("determinant", "dependent")
  }

  /** Key-candidate scan: per column its distinct count, null count and
    * uniqueness ratio — the "which columns could be a primary key /
    * join key" profile. All columns stack into ONE
    * (column, value) shuffle with map-side combine; no per-column job
    * loop. Returns (column, n_rows, n_distinct, n_null,
    * uniqueness 6dp, is_unique_key). */
  def keyCandidates(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stacked = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*))
      .as("s")).select(col("s.c"), col("s.v"))
    stacked.groupBy("c", "v").agg(count(lit(1)).as("__n"))
      .groupBy(col("c").as("column"))
      .agg(sum("__n").as("n_rows"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L))
          .as("n_distinct"),
        sum(when(col("v").isNull, col("__n")).otherwise(0L))
          .as("n_null"))
      .withColumn("uniqueness",
        round(col("n_distinct").cast("double") /
          (col("n_rows") - col("n_null")), 6))
      .withColumn("is_unique_key",
        col("n_null") === 0 && col("n_distinct") === col("n_rows"))
      .orderBy("column")
  }

  /** Herfindahl–Hirschman concentration index per group: Σ shareᵢ²
    * over the entities inside each group (1/k = perfectly even, 1 =
    * monopoly; the regulator's market-concentration number, and a
    * data-pipeline's "is one source dominating this shard" check).
    * Entity totals are exact decimal sums; shares quantize at 9dp
    * into DECIMAL(10,9) so the share-squared sum is exact too.
    * Returns (group, n_entities, hhi 6dp). */
  def herfindahl(df: DataFrame, groupCol: String, entityCol: String,
                 valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val ent = df.filter(v.isNotNull && v > 0)
      .groupBy(col(groupCol).as("group"), col(entityCol).as("__e"))
      .agg(Lattice.centsSum(v).cast("double").as("__t"))
    val tot = ent.groupBy("group").agg(sum(col("__t")
      .cast(DecimalType(28, 2))).cast("double").as("__g"))
    ent.join(tot, Seq("group"))
      .select(col("group"),
        round(col("__t") / col("__g"), 9).cast(DecimalType(10, 9))
          .as("__s"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_entities"),
        round(sum(col("__s") * col("__s")).cast("double"), 6).as("hhi"))
      .orderBy("group")
  }

  /** Cross-table consistency audit: recompute each order's total from
    * its lines (Σ round(extprice·(1−disc)·(1+tax), 2), exact decimal
    * sum) and compare against the orders table's own total — the
    * "do these two tables still agree" invariant every star schema
    * should assert per load. One aggregate per table + one equi-join
    * on the key. Returns one row: (n_orders, n_mismatch,
    * max_rel_diff 6dp, mean_rel_diff 6dp); mismatch = relative gap
    * above `tol`. */
  def consistencyAudit(lineitem: DataFrame, orders: DataFrame,
                       tol: Double = 1e-6): DataFrame = {
    val line = round(col("l_extendedprice") * (lit(1.0) -
      col("l_discount")) * (lit(1.0) + col("l_tax")), 2)
    val recomputed = lineitem
      .groupBy(col("l_orderkey").as("__k"))
      .agg(Lattice.centsSum(line).cast("double").as("__r"))
    val joined = orders
      .select(col("o_orderkey").as("__k"),
        col("o_totalprice").cast("double").as("__t"))
      .join(recomputed, Seq("__k"))
      .select((abs(col("__r") - col("__t")) / col("__t")).as("__rel"))
    joined.agg(count(lit(1)).as("n_orders"),
      sum((col("__rel") > tol).cast("long")).as("n_mismatch"),
      round(max("__rel"), 6).as("max_rel_diff"),
      round(sum(round(col("__rel"), 9).cast(DecimalType(28, 9)))
        .cast("double") / count(lit(1)), 6).as("mean_rel_diff"))
  }

  /** Neyman allocation for stratified sampling: n_h ∝ N_h·σ_h — the
    * eval-set design table ("spend your labeling budget where the
    * strata are big AND noisy"), next to the proportional allocation
    * for contrast. Exact decimal per-stratum moments; the allocation
    * math rides the k-row frame. Returns (stratum, n_pop, sigma 6dp,
    * share_neyman 6dp, n_neyman, share_prop 6dp). */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    val y = col(valueCol).cast(DecimalType(18, 2))
    val per = df.filter(col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_pop"),
        sum(y).cast("double").as("__s1"),
        sum(y * y).cast("double").as("__s2"))
      .filter(col("n_pop") > 1)
    val nd = col("n_pop").cast("double")
    val sig = sqrt((col("__s2") - nd * (col("__s1") / nd) *
      (col("__s1") / nd)) / (nd - 1))
    val withS = per.select(col("stratum"), col("n_pop"),
      sig.as("__sig"), (nd * sig).as("__w"))
    val tot = withS.agg(sum("__w").as("__tw"), sum("n_pop").as("__tn"))
    withS.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_pop"),
        round(col("__sig"), 6).as("sigma"),
        round(col("__w") / col("__tw"), 6).as("share_neyman"),
        floor(lit(budget.toDouble) * col("__w") / col("__tw"))
          .cast("long").as("n_neyman"),
        round(col("n_pop").cast("double") / col("__tn"), 6)
          .as("share_prop"))
      .orderBy("stratum")
  }

  /** Deterministic stratified subsample: the k rows per group with
    * the smallest md5(id) — reproducible on any engine and any run
    * (the q37 smart-sample idea, made oracle-checkable because both
    * engines agree on md5 of the same string). Group-partitioned
    * row_number, k bounded. Returns (group, id, sample_rank). */
  def deterministicSample(df: DataFrame, groupCol: String,
                          idCol: String, k: Int): DataFrame = {
    val h = md5(col("id").cast("string"))
    TopK(df.select(col(groupCol).as("group"), col(idCol).as("id")),
        Seq(col("group")), Seq(h, col("id")), k, Some("sample_rank"))
      .orderBy("group", "sample_rank")
  }

  /** Leaderboard churn: Jaccard overlap of the top-k entities (by an
    * exact decimal value sum) between two periods — "is the ranking
    * stable enough to act on". Each side is one groupBy + a
    * distributed top-k (TakeOrderedAndProject, id tiebreak); the
    * overlap is a k-row join. Returns one row:
    * (k, n_overlap, jaccard 6dp). */
  def topkChurn(df: DataFrame, entityCol: String, valueCol: String,
                periodA: org.apache.spark.sql.Column,
                k: Int): DataFrame = {
    def side(cond: org.apache.spark.sql.Column) = df.filter(cond)
      .groupBy(col(entityCol).as("__e"))
      .agg(Lattice.centsSum(col(valueCol))
        .cast("double").as("__t"))
      .orderBy(col("__t").desc, col("__e")).limit(k)
      .select("__e")
    val inter = side(periodA)
      .join(side(!periodA), Seq("__e")).count()
    df.sparkSession.range(1).select(lit(k).as("k"),
      lit(inter).as("n_overlap"),
      round(lit(inter.toDouble) / (2 * k - inter), 6).as("jaccard"))
  }

  /** Co-missingness pattern audit: for every column pair, the 2×2
    * null-indicator table and its phi coefficient — nulls that arrive
    * TOGETHER mean one upstream failure (a dead join, a dropped
    * request field), nulls that arrive independently mean ordinary
    * sparsity; the triage that decides whether imputation or a
    * pipeline fix is the answer. One stacked pair shuffle (the q373
    * shape), all-integer cells. Returns (col_a, col_b, n, n_both_null,
    * n_only_a, n_only_b, phi 6dp) ordered. */
  def missingnessPattern(df: DataFrame,
                         cols: Seq[String]): DataFrame = {
    require(cols.size >= 2)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val stacked = df.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("ca"), lit(b).as("cb"),
          col(a).isNull.cast("long").as("ma"),
          col(b).isNull.cast("long").as("mb"))
      }: _*)).as("s"))
      .select(col("s.ca"), col("s.cb"), col("s.ma"), col("s.mb"))
    val g = stacked.groupBy(col("ca").as("col_a"), col("cb").as("col_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("ma") * col("mb")).as("n_both_null"),
        sum(col("ma") * (lit(1L) - col("mb"))).as("n_only_a"),
        sum((lit(1L) - col("ma")) * col("mb")).as("n_only_b"))
    val a = col("n_both_null") + col("n_only_a")   // row margin: a null
    val b = col("n_both_null") + col("n_only_b")   // col margin: b null
    val phi = try_divide(
      (col("n_both_null") * col("n") - a * b).cast("double"),
      sqrt((a * (col("n") - a)).cast("double") *
        (b * (col("n") - b)).cast("double")))
    g.select(col("col_a"), col("col_b"), col("n"), col("n_both_null"),
        col("n_only_a"), col("n_only_b"), round(phi, 6).as("phi"))
      .orderBy("col_a", "col_b")
  }
}
