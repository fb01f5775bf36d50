package graft.text

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Orthographic style-drift matrix: Jensen–Shannon divergence (log₂,
  * so JS ∈ [0,1]) between the character-trigram distributions of every
  * source pair — the sub-word complement to the function-word cosine
  * (q500): relabeled feeds match on BOTH; same-language different-
  * register sources match on trigrams but not function words;
  * different-orthography sources match on neither. Numeric-histogram
  * JS over one value column is q93; this is the distribution-over-
  * VOCABULARY pairwise form.
  *
  * The q=0 / p=0 vocabulary tails never materialize: for grams absent
  * from the other source the JS term is ½·p·log₂2 = ½·p, so
  *   JS = ½[Σ_∩ p·log₂(2p/(p+q)) + (1−Σ_∩ p)]
  *      + ½[Σ_∩ q·log₂(2q/(p+q)) + (1−Σ_∩ q)]
  * needs only the intersection join plus per-source totals — no
  * full-outer vocabulary union per pair.
  *
  * Scale shape at 100 TB: trigram instances collapse to (source, gram)
  * cells in the one corpus shuffle; the pair join runs on cells and is
  * quadratic only in |sources| (a bounded catalog dimension, same
  * contract as q500/q489's matrices). Pairs with zero shared grams
  * still appear (JS = 1) via the totals-frame pair scaffold. */
object StyleDrift {

  /** Pairwise char-n-gram JS matrix. Returns (source_a, source_b,
    * n_shared_grams, js 6dp) for every unordered source pair. */
  def charJsMatrix(docs: DataFrame, srcCol: String, textCol: String,
                   n: Int = 3): DataFrame = Checkpoints.scoped {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val cells = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"), norm.as("__t"))
      .filter(length(col("__t")) >= n)
      .select(col("__s"), explode(transform(
        sequence(lit(1), length(col("__t")) - (n - 1)),
        i => col("__t").substr(i, lit(n)))).as("__g"))
      .groupBy("__s", "__g")
      .agg(count(lit(1)).as("__c"))
    // |sources| rows; scaffold + two joins
    val totals = Checkpoints.local(cells.groupBy("__s").agg(sum("__c").as("__tot")))
    val joint = cells.as("a")
      .join(cells.as("b"),
        col("a.__g") === col("b.__g") && col("a.__s") < col("b.__s"))
      .join(broadcast(totals.as("ta")), col("a.__s") === col("ta.__s"))
      .join(broadcast(totals.as("tb")), col("b.__s") === col("tb.__s"))
      .select(col("a.__s").as("__sa"), col("b.__s").as("__sb"),
        (col("a.__c").cast("double") / col("ta.__tot")).as("__p"),
        (col("b.__c").cast("double") / col("tb.__tot")).as("__q"))
      .groupBy("__sa", "__sb")
      .agg(count(lit(1)).as("n_shared_grams"),
        sum("__p").as("__sp"), sum("__q").as("__sq"),
        sum(col("__p") *
          log2(lit(2.0) * col("__p") / (col("__p") + col("__q"))))
          .as("__ta"),
        sum(col("__q") *
          log2(lit(2.0) * col("__q") / (col("__p") + col("__q"))))
          .as("__tb"))
    totals.as("x").join(totals.as("y"), col("x.__s") < col("y.__s"))
      .select(col("x.__s").as("__sa"), col("y.__s").as("__sb"))
      .join(joint, Seq("__sa", "__sb"), "left")
      .select(col("__sa").as("source_a"), col("__sb").as("source_b"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        round(
          lit(0.5) * (coalesce(col("__ta"), lit(0.0)) +
            (lit(1.0) - coalesce(col("__sp"), lit(0.0)))) +
          lit(0.5) * (coalesce(col("__tb"), lit(0.0)) +
            (lit(1.0) - coalesce(col("__sq"), lit(0.0)))), 6).as("js"))
      .orderBy("source_a", "source_b")
  }
}
