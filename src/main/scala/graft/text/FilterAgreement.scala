package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Agreement matrix between two page-level quality filters — the C4
  * heuristics (Raffel et al. 2020) and the Gopher rules (Rae et al.
  * 2021) — per source: the 2×2 verdict cells plus Cohen's kappa. A
  * curation team reads this before stacking filters: high kappa means
  * the second filter is redundant; a big one-sided cell says the two
  * presets disagree about that source's house style and the pipeline
  * owner must pick deliberately (the multi-filter calibration step of
  * a FineWeb-style pipeline).
  *
  * Determinism discipline: both verdicts are integer-lattice boolean
  * flags, the cells are integer counts, and kappa is ONE division of
  * exact int64 products —
  *   κ = (n·agree − chance) / (n² − chance),
  *   chance = pass_c4·pass_g + fail_c4·fail_g
  * — so the read is bit-exact on every engine (no intermediate float
  * p_o/p_e). A degenerate source (all four cells but one empty on both
  * margins) nulls via try_divide, matching DuckDB's null-on-zero.
  *
  * Scale shape at 100 TB: ONE projection computes both verdicts per
  * row (no self-join on doc id — [[Gopher.passAll]] and the C4 page
  * rules are plain column expressions), then one integer groupBy on
  * source. Embarrassingly parallel; the shuffle is |sources| rows.
  */
object FilterAgreement {

  /** Per-source agreement cells between C4 and Gopher page verdicts.
    * Returns (source, n_docs, n_both, n_c4_only, n_gopher_only,
    * n_neither, agree_share 6dp, kappa 6dp). */
  def c4GopherCells(docs: DataFrame, srcCol: String, textCol: String,
                    minLineWords: Int = 5,
                    minSentences: Int = 3): DataFrame = {
    val t = col(textCol)
    val cleaned = C4.cleanLines(t, minLineWords)
    val c4 = C4.sentenceCount(cleaned) >= minSentences &&
      !lower(t).contains("lorem ipsum") && !t.contains("{")
    val g = Gopher.passAll(t)
    val cells = docs.filter(t.isNotNull)
      .select(col(srcCol).as("source"), c4.as("__c4"), g.as("__g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__c4") && col("__g"), 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("__c4") && !col("__g"), 1L).otherwise(0L))
          .as("n_c4_only"),
        sum(when(!col("__c4") && col("__g"), 1L).otherwise(0L))
          .as("n_gopher_only"),
        sum(when(!col("__c4") && !col("__g"), 1L).otherwise(0L))
          .as("n_neither"))
    // the chance/n² products run in DOUBLE, not int64 (ADVICE r12: at
    // >~3e9 docs per source the int64 products overflow); the int64
    // SUMS stay exact, each factor is cast once, and both engines
    // multiply the same doubles in the same order → still bit-exact
    val n = col("n_docs").cast("double")
    val agree = (col("n_both") + col("n_neither")).cast("double")
    val c4p = (col("n_both") + col("n_c4_only")).cast("double")
    val gp = (col("n_both") + col("n_gopher_only")).cast("double")
    val chance = c4p * gp + (n - c4p) * (n - gp)
    cells
      .withColumn("agree_share", round(agree / n, 6))
      .withColumn("kappa", round(try_divide(
        n * agree - chance,
        n * n - chance), 6))
      .orderBy("source")
  }
}
