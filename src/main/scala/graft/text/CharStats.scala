package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Character-level corpus statistics — the cheapest junk detector in
  * the quality stack: word soup, base64 blobs, and repeated-character
  * padding all show up in the char-unigram entropy long before a
  * tokenizer sees them.
  */
object CharStats {

  /** Per-source character-entropy profile: each document's unigram
    * char entropy H = ln(n) − (Σ c·ln c)/n over its character counts
    * (exact: the Σ c·ln c terms quantize at 6dp and sum as DECIMAL —
    * c and n are integers), then per-source decimal-exact mean, exact
    * median, min, and the share of docs below `junkBelow` nats
    * (suspiciously repetitive). One explode + two groupBys.
    * Returns (source, n_docs, mean_h 6dp, p50_h 6dp, min_h 6dp,
    * share_junk 6dp). */
  def charEntropyProfile(docs: DataFrame, srcCol: String,
                         idCol: String, textCol: String,
                         junkBelow: Double = 2.0): DataFrame = {
    val chars = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"), col(idCol).as("__id"),
        explode(split(lower(col(textCol)), "")).as("__ch"))
      .filter(length(col("__ch")) > 0)
    val counts = chars.groupBy("__s", "__id", "__ch")
      .agg(count(lit(1)).as("__c"))
    val perDoc = counts.groupBy("__s", "__id")
      .agg(sum("__c").as("__n"),
        sum(round(col("__c").cast("double") *
          log(col("__c").cast("double")), 6).cast(DecimalType(28, 6)))
          .cast("double").as("__clc"))
      .select(col("__s"),
        round(log(col("__n").cast("double")) -
          col("__clc") / col("__n").cast("double"), 6).as("__h"))
    perDoc.groupBy(col("__s").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("__h").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1)), 6).as("mean_h"),
        round(element_at(graft.functions.ExactPercentiles
          .exactPercentiles(col("__h"), Seq(0.5)), 1), 6).as("p50_h"),
        round(min("__h"), 6).as("min_h"),
        round(sum((col("__h") < junkBelow).cast("long"))
          .cast("double") / count(lit(1)), 6).as("share_junk"))
      .orderBy("source")
  }
}
