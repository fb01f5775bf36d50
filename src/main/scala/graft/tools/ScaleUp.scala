package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder data generator: replicate an sf directory `factor`× with
  * key-shifted replicas, so bench numbers at the larger scale measure
  * plan behavior, not a changed data distribution.
  *
  * Replication rules keep PER-CAPITA structure constant — the property
  * that makes "no query may scale worse than ~linearly" a fair check:
  *  - every scaled int64 key shifts by `replica × KEY_STEP`, preserving
  *    referential integrity (orders↔lineitem↔part/supplier/customer);
  *  - `region`/`nation` stay fixed (TPC-H scaling semantics);
  *  - document text gets a per-replica digit suffixed onto every
  *    non-space run (whitespace/newline structure intact), so shingles
  *    are DISJOINT across replicas: near-dup pair counts scale ×factor,
  *    not ×factor² as verbatim copies would;
  *  - embeddings cyclic-shift their dimensions by `replica`, so
  *    cross-replica cosine is decorrelated while norms, per-dim
  *    distributions, and intra-replica neighbor structure are unchanged.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  /** Larger than any key domain at sf ≤ 1 (max observed ~6e5). */
  val KeyStep = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = graft.core.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, out, factor)
    graft.core.Tables.names.foreach { n =>
      println(s"[scaleup] $n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }
    spark.stop()
  }

  /** Replicate every table of `src` `factor`× into `out` (rules above). */
  def scale(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String, nFiles: Int): Unit =
      df.repartition(nFiles).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // fixed dimensions: copy verbatim
    Seq("region", "nation").foreach(n => write(read(n), n, 1))

    def shifted(name: String, keys: Seq[String],
                extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { r =>
        val base = keys.foldLeft(read(name))((d, k) =>
          d.withColumn(k, col(k) + lit(r * KeyStep)))
        extra(base, r)
      }.reduce(_ unionByName _)

    write(shifted("customer", Seq("c_custkey")), "customer", factor)
    write(shifted("supplier", Seq("s_suppkey")), "supplier", 1)
    write(shifted("part", Seq("p_partkey")), "part", factor)
    write(shifted("orders", Seq("o_orderkey", "o_custkey")), "orders", 2 * factor)
    write(shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem", 4 * factor)
    write(shifted("events", Seq("event_id", "user_id")), "events", 2 * factor)

    write(shifted("documents", Seq("doc_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1" + r.toString))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents", factor)

    write(shifted("embeddings", Seq("vec_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), r + 1, 10000),
          slice(col("embedding"), 1, r)))),
      "embeddings", factor)
  }
}
