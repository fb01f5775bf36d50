package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (fuzzy) join for entity resolution: pair strings with
  * Levenshtein distance ≤ `maxDist` — dirty-catalog reconciliation,
  * near-identical name matching — without the cartesian plan a raw
  * `levenshtein(a,b) <= k` join produces.
  *
  * PassJoin-style segment blocking (Li et al. 2011, "PassJoin: A
  * Partition-based Method for Similarity Joins"): split each left
  * string into k+1 contiguous segments. If lev(a,b) ≤ k then at least
  * one segment of `a` survives unedited (pigeonhole: k edits touch ≤ k
  * segments), and its position inside `b` shifts by at most k (each
  * indel moves later characters by one). So `b` need only emit
  * substrings matching segment i's width at positions within ±k of
  * segment i's start — for each candidate left-length in
  * [len(b)−k, len(b)+k], since the segment layout depends on the left
  * string's length. The join is then a plain EQUI-join on
  * (candidate length, segment#, segment text) + the exact Levenshtein
  * filter on survivors.
  *
  * Fan-out per row: left k+1 keys; right ≤ (2k+1)·(k+1)·(2k+1)
  * (dedup'd) — corpus-LINEAR both sides, never n². Blocking keys
  * hash-spread the shuffle; a hot segment text (shared boilerplate
  * token) concentrates one key, the usual salting/AQE answer applies.
  *
  * Precondition: strings shorter than k+1 characters are skipped on the
  * left (they have no k+1 non-empty segments); pair them with a tiny
  * length-band cross join if they matter.
  */
object FuzzyJoin {

  /** Top-k most-similar entities to a probe entity by edit distance
    * over their EVENT-TYPE SEQUENCES (REPOSE-style trajectory
    * similarity, with event-type initials as the alphabet): each
    * entity's journey collapses to an ordered string, the probe's
    * string broadcasts as a plan constant, and similarity is one
    * codegen `levenshtein` per entity — linear in entities, top-k via
    * TakeOrderedAndProject. The probe is the busiest entity (ties →
    * smallest id) so the query is self-contained and deterministic.
    * Returns (entity, seq_len, distance) for the k nearest, probe
    * excluded. */
  def sequenceNeighbors(events: DataFrame, entityCol: String,
                        tsCol: String, typeCol: String, idCol: String,
                        k: Int = 10): DataFrame = Checkpoints.scoped {
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    val seqs = Checkpoints.local(ev.groupBy(col(entityCol).as("entity"))
      .agg(count(lit(1)).as("n_events"),
        concat_ws("", transform(
          array_sort(collect_list(struct(
            unix_micros(col(tsCol)).as("t"), col(idCol).as("i"),
            substring(col(typeCol), 1, 1).as("c")))),
          s => s.getField("c"))).as("seq")))
    val probeRow = seqs
      .orderBy(col("n_events").desc, col("entity")).limit(1)
      .head()
    val (probeId, probeSeq) =
      (probeRow.get(0), probeRow.getString(2))
    Checkpoints.local(seqs.filter(col("entity") =!= lit(probeId))
      .select(col("entity"), length(col("seq")).as("seq_len"),
        levenshtein(col("seq"), lit(probeSeq)).as("distance"))
      .orderBy(col("distance"), col("entity")).limit(k))
  }

  def fuzzyJoin(left: DataFrame, right: DataFrame, leftCol: String,
                rightCol: String, maxDist: Int,
                leftId: String, rightId: String): DataFrame = {
    require(maxDist >= 1)
    val m = maxDist + 1

    // segment layout for a string of length ℓ split into m parts:
    // widths base+1 for the first (ℓ mod m) segments, base after
    def base(len: Column): Column = (len / m).cast("int")
    def rem(len: Column): Column = pmod(len, lit(m))
    def width(len: Column, i: Column): Column =
      base(len) + when(i < rem(len), 1).otherwise(0)
    def start(len: Column, i: Column): Column = // 0-indexed
      i * base(len) + least(i, rem(len))

    val lKeys = left.select(col(leftId), col(leftCol))
      .withColumn("__len", length(col(leftCol)))
      .filter(col("__len") >= m)
      .withColumn("__i", explode(sequence(lit(0), lit(maxDist))))
      .select(col(leftId), col(leftCol), col("__len").as("__l"), col("__i"),
        substring(col(leftCol),
          start(col("__len"), col("__i")) + 1,
          width(col("__len"), col("__i"))).as("__key"))

    val rKeys = right.select(col(rightId), col(rightCol))
      .withColumn("__blen", length(col(rightCol)))
      .withColumn("__l", explode(sequence(col("__blen") - maxDist, col("__blen") + maxDist)))
      .filter(col("__l") >= m)
      .withColumn("__i", explode(sequence(lit(0), lit(maxDist))))
      .withColumn("__w", width(col("__l"), col("__i")))
      .withColumn("__p",
        explode(sequence(start(col("__l"), col("__i")) - maxDist,
          start(col("__l"), col("__i")) + maxDist)))
      .filter(col("__p") >= 0 && col("__p") + col("__w") <= col("__blen"))
      .select(col(rightId), col(rightCol), col("__l"), col("__i"),
        substring(col(rightCol), col("__p") + 1, col("__w")).as("__key"))
      .distinct()

    lKeys.join(rKeys, Seq("__l", "__i", "__key"))
      .filter(levenshtein(col(leftCol), col(rightCol)) <= maxDist)
      .select(col(leftId), col(rightId), col(leftCol), col(rightCol),
        levenshtein(col(leftCol), col(rightCol)).as("edit_dist"))
      .distinct()
  }
}
