package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-packing manifest for LLM pre-training (concat-and-chunk:
  * documents are concatenated in id order into one token stream that
  * is cut every `maxLen` tokens) — the bookkeeping a trainer needs to
  * shard a corpus into fixed-length context windows (beyond the
  * reference's operator set — north-star scope).
  *
  * Scale shape: the running token offset is a DISTRIBUTED prefix sum
  * in the style of the ROC-AUC rank kernel (ml/Metrics.scala) — ids
  * are range-bucketed on approxQuantile cuts (outlier-robust; a
  * fixed-width [min, max] grid collapses under one snowflake id),
  * per-bucket token totals (metadata: ≤`buckets` rows) turn into
  * bucket offsets via a window over that tiny frame, and the
  * within-bucket cumsum window is PARTITIONED by bucket. No
  * single-partition sort at any corpus size.
  */
object Packing {

  /** One row per document: its token count, the global token offset of
    * its first token in the concatenated stream (documents ordered by
    * `idCol`, which must be unique numeric — ties would make the order,
    * and therefore every offset, nondeterministic), and the ids of the
    * first/last `maxLen`-token chunk it lands in. Returns
    * (idCol, n_tokens, token_offset, start_chunk, end_chunk); an empty
    * (0-token) document occupies no chunk — its start==end at the
    * boundary it sits on. */
  def packingManifest(df: DataFrame, idCol: String, textCol: String,
                      maxLen: Int, buckets: Int = 256): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive, got $maxLen")
    // null text counts as 0 tokens — a null row must not poison the
    // running offset of every document after it. A null id (or one the
    // long cast nulls out, e.g. a UUID string) fails fast per row:
    // null ids would all collapse into one bucket and tie-order
    // arbitrarily, making every offset silently nondeterministic.
    val base = df.select(
      coalesce(expr(s"try_cast(`$idCol` AS BIGINT)"), raise_error(lit(
        s"packingManifest: $idCol must be non-null and castable to long")))
        .as("__id"),
      coalesce(Text.tokenCount(col(textCol)).cast("long"), lit(0L)).as("n_tokens"))
    // QUANTILE bucket bounds, not fixed-width [min,max] ranges: one
    // outlier id (or snowflake-style epoch gaps) would collapse a
    // fixed-width grid into a single bucket and reintroduce the
    // whole-corpus single-task sort this kernel exists to avoid.
    // Boundary placement only affects balance, never results — the
    // prefix sum is exact for ANY id-ordered range partition.
    val cuts = base.stat
      .approxQuantile("__id",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      .distinct.sorted
    val bucketed =
      if (cuts.isEmpty) base.withColumn("__b", lit(0))
      else base.withColumn("__b",
        size(filter(array(cuts.map(c => lit(c.toLong)): _*),
          c => c <= col("__id"))))
    // ≤buckets rows: per-bucket totals → exclusive running offsets.
    // The window IS single-partition — over a metadata-sized frame.
    val offsets = bucketed.groupBy("__b").agg(sum("n_tokens").as("__bt"))
      .withColumn("__boff", coalesce(
        sum("__bt").over(Window.orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__boff")
    val local = Window.partitionBy("__b").orderBy("__id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // duplicate ids tie the order and make every offset after them
    // nondeterministic — fail fast per row. Equal ids share a bucket
    // (bucketing is a function of the id), so a lag over the same
    // window shuffle sees every duplicate; folding the guard into the
    // offset sum keeps column pruning from eliding it.
    val dupGuard = when(
      lag(col("__id"), 1).over(Window.partitionBy("__b").orderBy("__id"))
        === col("__id"),
      raise_error(lit(s"packingManifest: duplicate $idCol values — " +
        "document order (and every token_offset) would be nondeterministic"))
        .cast("long")).otherwise(lit(0L))
    bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn("token_offset",
        col("__boff") + coalesce(sum("n_tokens").over(local), lit(0L)) + dupGuard)
      .withColumn("start_chunk", floor(col("token_offset") / maxLen))
      .withColumn("end_chunk",
        floor((col("token_offset") + greatest(col("n_tokens"), lit(1L)) - 1) / maxLen))
      .select(col("__id").as(idCol), col("n_tokens"), col("token_offset"),
        col("start_chunk"), col("end_chunk"))
  }

  /** Corpus-level packing summary: total tokens, number of `maxLen`
    * chunks, number of documents that straddle a chunk boundary (a
    * proxy for attention-mask fragmentation). One aggregate over the
    * manifest. */
  /** Length-bucketed batching manifest: the padding-based alternative
    * to sequence packing — each document pads up to its power-of-two
    * length bucket and batches with same-bucket neighbors, the layout
    * inference servers and non-packing trainers use. Buckets are a
    * CASE ladder over fixed powers of two (exact, no float log2 at the
    * boundaries); batch ids come from a bucket-partitioned
    * row_number — never a global ordering. Documents longer than the
    * top bucket clamp into it (they would be truncated downstream).
    *
    * @return per bucket: (bucket_len, n_docs, n_batches, total_tokens,
    *         pad_frac 6dp) where pad_frac is the padded-slot waste
    *         1 − tokens/(docs·bucket_len).
    */
  def lengthBucketSummary(df: DataFrame, idCol: String, textCol: String,
                          batchSize: Int = 8): DataFrame = {
    require(batchSize >= 1)
    val buckets = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
    val n = coalesce(Text.tokenCount(col(textCol)).cast("long"), lit(0L))
    val bucket = buckets.init.foldRight(lit(buckets.last): Column) {
      (b, rest) => when(n <= b, lit(b)).otherwise(rest)
    }
    df.select(col(idCol), n.as("__n"), bucket.as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("__n").as("total_tokens"))
      .select(col("bucket_len"), col("n_docs"),
        ceil(col("n_docs").cast("double") / batchSize).cast("long").as("n_batches"),
        col("total_tokens"),
        round(lit(1.0) - col("total_tokens").cast("double") /
          (col("n_docs") * col("bucket_len")).cast("double"), 6).as("pad_frac"))
      .orderBy("bucket_len")
  }

  def packingSummary(manifest: DataFrame, maxLen: Int): DataFrame =
    manifest.agg(
      sum("n_tokens").as("total_tokens"),
      ceil(sum("n_tokens").cast("double") / maxLen).cast("long").as("n_chunks"),
      sum(when(col("end_chunk") > col("start_chunk"), 1L).otherwise(0L))
        .as("n_straddling"))

  /** Serpentine (snake) shard planner: assign items to `nShards`
    * output shards balanced by size — rank by size descending, deal in
    * boustrophedon order (0,1,…,n−1,n−1,…,1,0,0,1,…), the classic
    * greedy that bounds shard skew by one max-item per cycle. This is
    * the OUTPUT-FILE planner for a 100 TB rewrite: the input here is a
    * MANIFEST (one row per file/doc with a size), metadata-sized by
    * contract — the global rank window is over the manifest, never the
    * corpus (same argument as the day-rollup windows; a corpus-sized
    * manifest would mean billions of output files, which no one plans).
    *
    * Returns per shard: (shard, n_items, total_size, balance 6dp)
    * where balance = total_size/(Σsize/nShards) — 1.0 is perfect. */
  def snakeShards(manifest: DataFrame, idCol: String, sizeCol: String,
                  nShards: Int): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val sized = manifest.select(col(idCol).as("__id"),
      coalesce(col(sizeCol).cast("long"), lit(0L)).as("__sz"))
    val ranked = sized.withColumn("__r",
      row_number().over(Window.orderBy(col("__sz").desc, col("__id"))) - 1)
    val pass = (col("__r") / nShards).cast("long")
    val pos = col("__r") % nShards
    val shard = when(pass % 2 === 0, pos).otherwise(lit(nShards - 1) - pos)
    val tot = sized.agg(sum("__sz").cast("double").as("__tot"))
    ranked.withColumn("shard", shard.cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_items"), sum("__sz").as("total_size"))
      .crossJoin(tot)
      .select(col("shard"), col("n_items"), col("total_size"),
        round(col("total_size").cast("double") /
          (col("__tot") / nShards), 6).as("balance"))
      .orderBy("shard")
  }
}
