package graft.dedup

import graft.core.Checkpoints
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-shard exact-dedup exchange — the N-store orchestration of
  * [[Incremental]]'s single-store path (beyond the reference's operator
  * set; north-star 100 TB scope).
  *
  * A 100 TB ingest does not arrive as one frame: it lands as N shards
  * (per-source crawls, per-day backfills), each deduped LOCALLY while
  * it loads, then reconciled GLOBALLY without ever re-shuffling corpus
  * text. The exchange is two-level:
  *
  *  1. '''local''' — each shard reduces to a MANIFEST: one row per
  *     distinct fingerprint with the shard's first-seen doc id and
  *     local duplicate count ([[localManifest]]). Corpus text never
  *     leaves the shard; the manifest is ~2% of corpus bytes (one
  *     md5 + id + count per distinct document), the same economics as
  *     the [[Incremental]] store.
  *  2. '''exchange''' — manifests union and hash-exchange on
  *     fingerprint (equivalently on `fp_bucket`, the 256-bucket layout
  *     the Incremental store persists — a store-backed deployment
  *     exchanges bucket-by-bucket with partition pruning); a global
  *     first-seen assignment picks one winner per fingerprint:
  *     earliest shard in ingest order, then smallest doc id
  *     ([[globalAssign]]).
  *
  * Each shard then drops its losers with a fingerprint-keyed semi-join
  * against its OWN slice of the global manifest
  * ([[shardSurvivors]]) — again no corpus text moves, and the probe
  * side is winner rows only. [[exchangeReport]] is the oracle-checkable
  * rollup: per shard, how many rows arrived, how many manifest rows
  * were exchanged, how many fingerprints this shard won, lost, and how
  * many rows were within-shard duplicates.
  */
object ShardExchange {

  /** Level-1 shard manifest: one row per distinct fingerprint in the
    * shard — (fingerprint, fp_bucket, shard_id, shard_order, first_id,
    * n_local). One groupBy on the fingerprint; text is hashed once and
    * never carried. `shardOrder` is the shard's position in ingest
    * order (the global tiebreak's major key). */
  def localManifest(shard: DataFrame, idCol: String, textCol: String,
                    shardId: String, shardOrder: Int): DataFrame =
    shard.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol).cast("long")).as("first_id"),
        count(lit(1)).as("n_local"))
      .select(col("fingerprint"),
        substring(col("fingerprint"), 1, 2).as("fp_bucket"),
        lit(shardId).as("shard_id"),
        lit(shardOrder).as("shard_order"),
        col("first_id"), col("n_local"))

  /** Level-2 global first-seen assignment over the unioned manifests:
    * one row per fingerprint — the winner is the lexicographic min of
    * (shard_order, first_id), i.e. the first occurrence in ingest
    * order. Returns (fingerprint, fp_bucket, canonical_shard,
    * canonical_id, n_shards, n_total). ONE shuffle on fingerprint over
    * manifest-sized (not corpus-sized) rows. */
  def globalAssign(manifests: Seq[DataFrame]): DataFrame = {
    require(manifests.nonEmpty, "globalAssign needs at least one manifest")
    globalAssignFrom(manifests.reduce(_ unionByName _))
  }

  /** [[globalAssign]] over an already-unioned (possibly materialized)
    * manifest frame — callers that also consume the union directly
    * (e.g. [[exchangeReport]]) pass it once instead of re-deriving
    * every per-shard manifest from the corpus a second time. */
  def globalAssignFrom(allManifests: DataFrame): DataFrame = {
    allManifests
      .groupBy("fingerprint")
      .agg(
        min(struct(col("shard_order"), col("first_id"), col("shard_id")))
          .as("__w"),
        sum("n_local").as("n_total"),
        count(lit(1)).as("n_shards"))
      .select(col("fingerprint"),
        substring(col("fingerprint"), 1, 2).as("fp_bucket"),
        col("__w.shard_id").as("canonical_shard"),
        col("__w.first_id").as("canonical_id"),
        col("n_shards"), col("n_total"))
  }

  /** A shard's surviving rows under the global assignment: rows whose
    * (fingerprint, id) IS the global winner. The probe side is the
    * shard's own winner slice (filter on canonical_shard — in a
    * store-backed deployment this is a bucket-pruned read), so the
    * semi-join is fingerprint-keyed manifest rows vs the shard, never
    * shard vs full corpus. Output schema = input schema. */
  def shardSurvivors(shard: DataFrame, idCol: String, textCol: String,
                     shardId: String, global: DataFrame): DataFrame = {
    val mine = global.filter(col("canonical_shard") === shardId)
      .select(col("fingerprint").as("__fp"),
        col("canonical_id").as("__cid"))
    shard.withColumn("__fp0", Text.fingerprint(col(textCol)))
      .join(mine, col("__fp0") === col("__fp") &&
        col(idCol).cast("long") === col("__cid"), "left_semi")
      .drop("__fp0")
  }

  /** Oracle-checkable exchange rollup — per shard: rows arrived
    * (n_docs), manifest rows exchanged (n_manifest = the shard's
    * contribution to shuffle payload), fingerprints won (n_winners =
    * rows the shard keeps), fingerprints lost to an earlier shard
    * (n_lost), and within-shard duplicate rows collapsed locally
    * before any exchange (n_dup_rows). The manifest-to-assignment join
    * shares the fingerprint shuffle key with [[globalAssign]]'s
    * groupBy, so the rollup adds no new exchange pattern.
    * Returns (shard_id, n_docs, n_manifest, n_winners, n_lost,
    * n_dup_rows) ordered by shard_id. */
  def exchangeReport(shards: Seq[(String, Int, DataFrame)], idCol: String,
                     textCol: String): DataFrame = Checkpoints.scoped {
    val manifests = shards.map { case (sid, ord, df) =>
      localManifest(df, idCol, textCol, sid, ord) }
    // materialize the manifest union ONCE (manifest-sized — the ~2% of
    // corpus bytes a real exchange persists anyway): both the winner
    // assignment and the rollup consume it, and without the checkpoint
    // each consumer re-derives every per-shard manifest from the
    // corpus — 2N parquet scans + 2N fingerprint aggregates instead
    // of N (the q480 plan audit showed exactly that doubling)
    val all = Checkpoints.local(manifests.reduce(_ unionByName _))
    val winners = globalAssignFrom(all)
      .select(col("fingerprint").as("__fp"),
        col("canonical_shard").as("__ws"))
    all.join(winners, col("fingerprint") === col("__fp"))
      .groupBy("shard_id")
      .agg(
        sum("n_local").as("n_docs"),
        count(lit(1)).as("n_manifest"),
        sum((col("__ws") === col("shard_id")).cast("long"))
          .as("n_winners"),
        sum((col("__ws") =!= col("shard_id")).cast("long")).as("n_lost"),
        (sum("n_local") - count(lit(1))).as("n_dup_rows"))
      .orderBy("shard_id")
  }

  /** Cross-shard NEAR-dup audit: how much near-duplicate pair mass
    * CROSSES shard boundaries — the number that decides whether a
    * sharded ingest can near-dedup shard-locally (cross mass ≈ 0) or
    * must run a global candidate exchange. Pairs come from the exact
    * prefix-filter join ([[Dedup.jaccardJoinPrefix]] — corpus-linear
    * in matching prefix postings, never all-pairs); each pair
    * classifies by its endpoints' shards (shard = pmod(id, nShards),
    * the [[exchangeReport]] split). Returns one row per unordered
    * shard pair: (shard_x, shard_y, within, n_pairs) ordered. */
  def crossShardNearDups(docs: DataFrame, idCol: String, textCol: String,
                         nShards: Int, threshold: Double): DataFrame = {
    val pairs = Dedup.jaccardJoinPrefix(docs, idCol, textCol, threshold)
    val sa = pmod(col("id_a").cast("long"), lit(nShards.toLong))
    val sb = pmod(col("id_b").cast("long"), lit(nShards.toLong))
    pairs
      .select(least(sa, sb).cast("int").as("shard_x"),
        greatest(sa, sb).cast("int").as("shard_y"))
      .groupBy("shard_x", "shard_y")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within", col("shard_x") === col("shard_y"))
      .select("shard_x", "shard_y", "within", "n_pairs")
      .orderBy("shard_x", "shard_y")
  }

  /** Exchange bucket-skew audit: the manifest row count per fp_bucket
    * — the partition-balance check that decides whether the 256-bucket
    * exchange layout holds at scale (md5 prefixes should be near-
    * uniform; a hot bucket means a degenerate fingerprint, e.g. empty
    * text). Integer-only rollup over the global manifest frame.
    * Returns one row: (n_buckets, n_rows, min_rows, p50_rows,
    * max_rows, skew 6dp = max/mean). */
  def bucketSkew(globalManifest: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = globalManifest.groupBy("fp_bucket")
      .agg(count(lit(1)).as("__n"))
    // type-1 median over the ≤256-row bucket frame (metadata window)
    val wc = Window.orderBy("__n")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = per.withColumn("__cum", count(lit(1)).over(wc))
    val tot = per.agg(count(lit(1)).as("n_buckets"), sum("__n").as("n_rows"),
      min("__n").as("min_rows"), max("__n").as("max_rows"))
    val med = ranked.crossJoin(broadcast(tot))
      .agg(min(when(col("__cum") * 2 >= col("n_buckets"), col("__n")))
        .as("p50_rows"))
    tot.crossJoin(broadcast(med))
      .select(col("n_buckets"), col("n_rows"), col("min_rows"),
        col("p50_rows"), col("max_rows"),
        round(try_divide(col("max_rows").cast("double"),
          col("n_rows").cast("double") / col("n_buckets")), 6)
          .as("skew"))
  }

  /** Shard-pair fingerprint OVERLAP matrix: for every unordered shard
    * pair, the count of distinct fingerprints both shards hold and the
    * Jaccard of their fingerprint sets — the read that tells an ingest
    * team WHICH shards actually collide before they pay for a full
    * exchange (disjoint crawls can skip each other's buckets; a mirror
    * pair near Jaccard 1 should be dropped whole).
    *
    * Scale shape: the corpus reduces to a distinct (shard, fingerprint)
    * manifest (one groupBy — text is hashed once and never carried);
    * the pair counts come from ONE fingerprint-keyed self equi-join of
    * that manifest (manifest-sized, never corpus text), and the
    * (nShards choose 2) grid is a broadcast-trivial frame. */
  def shardPairOverlap(docs: DataFrame, idCol: String, textCol: String,
                       nShards: Int): DataFrame = {
    require(nShards > 1, s"need at least 2 shards, got $nShards")
    val m = docs.select(
        pmod(col(idCol).cast("long"), lit(nShards.toLong)).as("__shard"),
        Text.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    val sizes = m.groupBy("__shard").agg(count(lit(1)).as("__n"))
    val shared = m.as("a").join(m.as("b"),
        col("a.__fp") === col("b.__fp") &&
          col("a.__shard") < col("b.__shard"))
      .groupBy(col("a.__shard").as("__sa"), col("b.__shard").as("__sb"))
      .agg(count(lit(1)).as("__shared"))
    val grid = sizes.as("x")
      .join(sizes.as("y"), col("x.__shard") < col("y.__shard"))
      .select(col("x.__shard").as("shard_a"),
        col("y.__shard").as("shard_b"),
        col("x.__n").as("n_a"), col("y.__n").as("n_b"))
    val ns = coalesce(col("__shared"), lit(0L))
    grid.join(shared,
        grid("shard_a") === shared("__sa") &&
          grid("shard_b") === shared("__sb"), "left")
      .select(col("shard_a"), col("shard_b"), col("n_a"), col("n_b"),
        ns.as("n_shared"),
        round(ns.cast("double") / (col("n_a") + col("n_b") - ns), 6)
          .as("jaccard"))
      .orderBy("shard_a", "shard_b")
  }
}
