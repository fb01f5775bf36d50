package graft.eda

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical association measures over a contingency table — the
  * feature-relevance screen a training pipeline runs before committing
  * to a feature set (mutual information for selection, chi-square /
  * Cramér's V for independence testing), next to the numeric
  * correlation matrix the EDA surface already has (eda/Eda.scala q07).
  *
  * Scale shape: ONE groupBy(a, b) reduces the corpus to
  * category-cardinality cells; marginals and totals are aggregates OF
  * THE CELLS (broadcast-joined back — the cell table is tiny by
  * construction). No window over the raw data, no single-partition
  * stage, corpus touched exactly once.
  */
object Association {

  /** Contingency cells with marginals: (a, b, n, n_a, n_b, n_tot). */
  def contingency(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val na = cells.groupBy("a").agg(sum("n").as("n_a"))
    val nb = cells.groupBy("b").agg(sum("n").as("n_b"))
    val nt = cells.agg(sum("n").as("n_tot"))
    cells.join(broadcast(na), Seq("a"))
      .join(broadcast(nb), Seq("b"))
      .crossJoin(broadcast(nt))
  }

  /** Mutual information (nats) between two categorical columns:
    * MI = Σ_ij p_ij · ln(p_ij / (p_i·p_j)), empty cells contribute 0.
    * Also returns the two marginal entropies and the normalized MI
    * (MI / min(H_a, H_b), 0 when either entropy is 0). One row.
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ct = contingency(df, aCol, bCol)
    val pij = col("n") / col("n_tot")
    val pa = col("n_a") / col("n_tot")
    val pb = col("n_b") / col("n_tot")
    val mi = ct.agg(sum(pij * log(pij / (pa * pb))).as("__mi"))
    val ha = ct.groupBy("a").agg(first("n_a").as("n_a"), first("n_tot").as("n_tot"))
      .agg((-sum((col("n_a") / col("n_tot")) * log(col("n_a") / col("n_tot")))).as("__ha"))
    val hb = ct.groupBy("b").agg(first("n_b").as("n_b"), first("n_tot").as("n_tot"))
      .agg((-sum((col("n_b") / col("n_tot")) * log(col("n_b") / col("n_tot")))).as("__hb"))
    mi.crossJoin(ha).crossJoin(hb)
      .select(round(col("__mi"), 6).as("mi_nats"),
        round(col("__ha"), 6).as("entropy_a"),
        round(col("__hb"), 6).as("entropy_b"),
        round(when(least(col("__ha"), col("__hb")) > 0,
          col("__mi") / least(col("__ha"), col("__hb"))).otherwise(0.0), 6)
          .as("normalized_mi"))
  }

  /** Pearson chi-square test of independence + Cramér's V:
    * χ² = Σ_ij (o_ij − e_ij)²/e_ij over OBSERVED cells plus the
    * expected mass of empty cells (Σ e over missing cells =
    * n·(1 − Σ_observed p_a·p_b), since (o−e)²/e = e there).
    * V = sqrt(χ² / (n·(min(r,c)−1))). One row: (chi2, dof, cramers_v).
    */
  /** Cramér's V association for every declared categorical pair — the
    * categorical analogue of the correlation matrix. Each pair is one
    * [[chiSquare]] (a 2-column columnar scan + contingency groupBy);
    * pairs are declared, so the scan count is the pair count, never a
    * quadratic column sweep. Returns
    * (col_a, col_b, chi2, dof, cramers_v). */
  def cramersVMatrix(df: DataFrame,
                     pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty)
    pairs.map { case (a, b) =>
      chiSquare(df, a, b).select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("chi2"), col("dof"), col("cramers_v"))
    }.reduce(_.unionByName(_))
  }

  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ct = contingency(df, aCol, bCol)
    val e = col("n_a").cast("double") * col("n_b") / col("n_tot")
    val obs = ct.agg(
      sum(pow(col("n") - e, 2) / e).as("__chi_obs"),
      sum(e).as("__e_obs"),
      first(col("n_tot")).as("__n"),
      countDistinct(col("a")).as("__r"),
      countDistinct(col("b")).as("__c"))
    obs.select(
      round(col("__chi_obs") + (col("__n") - col("__e_obs")), 6).as("chi2"),
      ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
      round(sqrt((col("__chi_obs") + (col("__n") - col("__e_obs"))) /
        (col("__n") * (least(col("__r"), col("__c")) - 1))), 6).as("cramers_v"))
  }

  /** Pairwise mutual information for EVERY pair of categorical
    * columns in ONE stacked pass — q155's single-pair MI, swept: the
    * "which columns are redundant / which drive the label" screening
    * matrix. Terms quantize to DECIMAL(20,12) before the per-pair sum
    * (order-free on any engine); margins re-aggregate FROM the cell
    * table, so the corpus is shuffled once for all pairs (the q373
    * stacked-audit shape). Cast only string/integer columns — float
    * VARCHAR rendering is engine-specific. Returns
    * (col_a, col_b, n, mi 6dp) ordered. */
  def miMatrix(df: DataFrame, cols: Seq[String]): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.types.DecimalType
    require(cols.size >= 2)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val stacked = df.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("ca"), lit(b).as("cb"),
          col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
      }: _*)).as("s")).select(col("s.ca"), col("s.cb"), col("s.va"),
        col("s.vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)
    val cells = Checkpoints.local(stacked.groupBy("ca", "cb", "va", "vb")
      .agg(count(lit(1)).as("__n")))
    val ma = cells.groupBy("ca", "cb", "va").agg(sum("__n").as("__na"))
    val mb = cells.groupBy("ca", "cb", "vb").agg(sum("__n").as("__nb"))
    val nt = cells.groupBy("ca", "cb").agg(sum("__n").as("__nt"))
    val term = (col("__n").cast("double") / col("__nt").cast("double")) *
      log((col("__n").cast("double") * col("__nt").cast("double")) /
        (col("__na").cast("double") * col("__nb").cast("double")))
    Checkpoints.local(cells
      .join(ma, Seq("ca", "cb", "va"))
      .join(mb, Seq("ca", "cb", "vb"))
      .join(nt, Seq("ca", "cb"))
      .select(col("ca"), col("cb"), col("__nt"),
        round(term, 12).cast(DecimalType(20, 12)).as("__t"))
      .groupBy(col("ca").as("col_a"), col("cb").as("col_b"))
      .agg(first("__nt").as("n"),
        round(sum("__t").cast("double"), 6).as("mi"))
      .orderBy("col_a", "col_b"))
  }
}
