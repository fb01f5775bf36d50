package graft.eda

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inter-rater agreement beyond the two-annotator kappas
  * (`ml/Preference.weightedKappa` is the 2-rater ordinal form): corpus
  * labeling campaigns have MANY raters and ragged coverage, which is
  * exactly Krippendorff's design point (beyond-reference, north-star
  * labeling-QA scope). */
object Agreement {

  /** Krippendorff's alpha for NOMINAL data: 1 − D_o/D_e, where D_o is
    * the within-unit pairwise disagreement (each unit weighted by its
    * m_u ratings, pairs counted with the 1/(m_u−1) coincidence
    * convention) and D_e the disagreement expected from the pooled
    * value marginals. Units with a single rating are unpairable and
    * drop from both; missing ratings need no imputation — that is the
    * point of alpha over kappa.
    *
    * Scale shape: one (unit, value) cell aggregate → per-unit m_u via
    * a unit-keyed frame; D_o's per-cell terms n_uc·(m_u−n_uc)/(m_u−1)
    * quantize to DECIMAL(28,9) before the global sum (order-free);
    * D_e's Σ n_c·(n−n_c) is EXACT integer math on the ≤|values|-row
    * marginal frame. Returns one row: (n_units, n_pairable, n_ratings,
    * n_values, d_o 6dp, d_e 6dp, alpha 6dp). */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .select(col(unitCol).as("__u"), col(valueCol).cast("string").as("__c"))
    val cells = base.groupBy("__u", "__c").agg(count(lit(1)).as("__nuc"))
    val units = cells.groupBy("__u").agg(sum("__nuc").as("__mu"))
    val withM = cells.join(units, "__u")
    val nUnitsAll = units.agg(count(lit(1)).as("n_units"))
    val pair = withM.filter(col("__mu") >= 2)
    // observed disagreement: quantized rational terms, exact sum
    val doTerm = round(col("__nuc").cast("double") *
      (col("__mu") - col("__nuc")) / (col("__mu") - 1), 9)
      .cast(DecimalType(28, 9))
    val doAgg = pair.agg(
      countDistinct("__u").as("n_pairable"),
      sum(doTerm).cast("double").as("__do_num"))
    // value marginals over pairable units: exact integer expectation
    val marg = pair.groupBy("__c").agg(sum("__nuc").as("__nc"))
    val tot = marg.agg(
      count(lit(1)).as("n_values"),
      sum("__nc").as("n_ratings"),
      sum(col("__nc") * col("__nc")).as("__sq"))
    doAgg.crossJoin(broadcast(tot)).crossJoin(broadcast(nUnitsAll))
      .select(col("n_units"), col("n_pairable"), col("n_ratings"),
        col("n_values"),
        round(try_divide(col("__do_num"),
          col("n_ratings").cast("double")), 6).as("d_o"),
        // Σ n_c(n−n_c) = n² − Σ n_c² — integer until the one division
        round(try_divide(
          (col("n_ratings") * col("n_ratings") - col("__sq"))
            .cast("double"),
          col("n_ratings").cast("double") * (col("n_ratings") - 1)), 6)
          .as("d_e"),
        round(lit(1.0) - try_divide(
          try_divide(col("__do_num"), col("n_ratings").cast("double")),
          try_divide(
            (col("n_ratings") * col("n_ratings") - col("__sq"))
              .cast("double"),
            col("n_ratings").cast("double") * (col("n_ratings") - 1))),
          6).as("alpha"))
  }
}
