package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Item co-occurrence mining over baskets (orders, sessions, documents):
  * support counts, lift, and PMI for item PAIRS that appear together —
  * market-basket association and the "customers also bought" signal.
  *
  * Scale shape: the pair table comes from a SELF-JOIN OF ITEMS WITHIN A
  * BASKET (equi-join on the basket key with item< item dedup), so
  * fan-out per basket is |basket|² — which is why `maxBasketSize` drops
  * degenerate mega-baskets up front (the df-cap lesson from the
  * substring/TF-IDF kernels: one 10⁶-item basket is 10¹² pairs).
  * Everything else is count tables: items and pairs, both
  * catalog-cardinality.
  */
object Cooccur {

  /** (item_a, item_b, n_pair, n_a, n_b, lift 6dp, pmi 6dp) for pairs
    * co-occurring in ≥ `minSupport` baskets; a<b lexicographic.
    * lift = N·c_ab/(c_a·c_b); pmi = ln(lift). Items are counted once
    * per basket (distinct), N = baskets after the size cap.
    */
  def itemPairs(df: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long = 2, maxBasketSize: Int = 1000): DataFrame = Checkpoints.scoped {
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sized = items.groupBy("__b").agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasketSize).select("__b")
    // checkpoint (itemTriples already does): nBaskets/itemCounts/pairs
    // reference kept 4x, each otherwise recomputing the corpus distinct
    // + size-cap join
    val kept = Checkpoints.local(items.join(sized, Seq("__b")))
    val nBaskets = kept.select("__b").distinct().count()
    val itemCounts = kept.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val pairs = kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    val lift = col("n_pair").cast("double") * nBaskets /
      (col("n_a") * col("n_b"))
    pairs
      .join(itemCounts.select(col("__i").as("item_a"), col("__ci").as("n_a")),
        Seq("item_a"))
      .join(itemCounts.select(col("__i").as("item_b"), col("__ci").as("n_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        round(lift, 6).as("lift"), round(log(lift), 6).as("pmi"))
  }

  /** Frequent 3-itemsets with lift vs full independence — the Apriori
    * level-3 step above [[itemPairs]]. Candidate triples are generated
    * FROM THE FREQUENT-PAIR TABLE (a<b surviving minSupport) extended
    * by a third basket item c>b, so the basket fan-out is pruned by
    * the pair support floor before the cubic join ever runs — the
    * Apriori anti-monotonicity that makes level-3 viable at scale
    * (plus the same mega-basket cap as the pair miner).
    * lift₃ = N²·c_abc/(c_a·c_b·c_c). Returns the top-`topK` triples by
    * (support desc, keys): (item_a, item_b, item_c, n_triple,
    * lift 6dp). */
  def itemTriples(df: DataFrame, basketCol: String, itemCol: String,
                  minSupport: Long = 2, maxBasketSize: Int = 1000,
                  topK: Int = 20): DataFrame = Checkpoints.scoped {
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sized = items.groupBy("__b").agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasketSize).select("__b")
    val kept = Checkpoints.local(items.join(sized, Seq("__b")))
    val nBaskets = kept.select("__b").distinct().count()
    val itemCounts = kept.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val freqPairs = kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("__np"))
      .filter(col("__np") >= minSupport)
      .select("item_a", "item_b")
    // re-attach baskets to frequent pairs, extend with c > b
    val pairBaskets = kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .join(freqPairs, Seq("item_a", "item_b"))
    val triples = pairBaskets
      .join(kept.select(col("__b"), col("__i").as("item_c")), Seq("__b"))
      .filter(col("item_c") > col("item_b"))
      .groupBy("item_a", "item_b", "item_c")
      .agg(count(lit(1)).as("n_triple"))
      .filter(col("n_triple") >= minSupport)
    val lift3 = col("n_triple").cast("double") * nBaskets * nBaskets /
      (col("__ca") * col("__cb") * col("__cc"))
    triples
      .join(itemCounts.select(col("__i").as("item_a"), col("__ci").as("__ca")),
        Seq("item_a"))
      .join(itemCounts.select(col("__i").as("item_b"), col("__ci").as("__cb")),
        Seq("item_b"))
      .join(itemCounts.select(col("__i").as("item_c"), col("__ci").as("__cc")),
        Seq("item_c"))
      .select(col("item_a"), col("item_b"), col("item_c"),
        col("n_triple"), round(lift3, 6).as("lift"))
      .orderBy(col("n_triple").desc, col("item_a"), col("item_b"),
        col("item_c"))
      .limit(topK)
  }
}
