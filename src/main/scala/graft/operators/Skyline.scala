package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Skyline (Pareto-optimal) query: the rows no other row dominates —
  * dominance meaning at-least-as-good on every declared dimension and
  * strictly better on one. The multi-criteria "best offers" operator
  * (max size AND min price) that single-metric top-k can't express
  * (OLAP lineage: Börzsönyi et al. ICDE'01 block-nested-loops; the
  * Spark SQL integration studied in EDBT'23 "Integration of Skyline
  * Queries into Spark SQL").
  *
  * Scale shape — the classic two-phase distributed skyline:
  *   1. LOCAL phase: one `mapPartitions` pass keeps each partition's
  *      own skyline (a block-nested-loops sweep over partition-local
  *      candidates) — 100 TB of rows collapse to
  *      ≤ partitions × |true skyline|-ish survivors without any
  *      shuffle, because a row dominated locally is dominated
  *      globally.
  *   2. GLOBAL phase: the survivor frame (bounded, typically tiny)
  *      anti-joins itself on the dominance predicate — quadratic only
  *      in SURVIVORS, never in input rows.
  * Rows with a null dimension can neither dominate nor safely survive
  * comparison and are excluded up front (the SQL NOT EXISTS contract).
  */
object Skyline {

  /** `dims`: (column, maximize?) — each dimension is normalized to
    * "smaller is better" internally. Returns the input rows (original
    * schema) that form the skyline. */
  def skyline(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = Checkpoints.scoped {
    require(dims.nonEmpty)
    val clean = df.filter(dims.map(d => col(d._1).isNotNull).reduce(_ && _))
    val idx = dims.map { case (name, _) => df.schema.fieldIndex(name) }
    val signs = dims.map { case (_, maximize) => if (maximize) -1.0 else 1.0 }

    def key(r: Row): Array[Double] = {
      val out = new Array[Double](idx.length)
      var i = 0
      while (i < idx.length) {
        out(i) = signs(i) * (r.get(idx(i)) match {
          case d: Double => d
          case f: Float => f.toDouble
          case l: Long => l.toDouble
          case n: Int => n.toDouble
          case s: Short => s.toDouble
          case b: Byte => b.toDouble
          case d: java.math.BigDecimal => d.doubleValue()
          case d: BigDecimal => d.toDouble
          case other => other.toString.toDouble
        })
        i += 1
      }
      out
    }
    // a dominates b: a_i <= b_i for all i, a_j < b_j for some j
    def dominates(a: Array[Double], b: Array[Double]): Boolean = {
      var strict = false
      var i = 0
      while (i < a.length) {
        if (a(i) > b(i)) return false
        if (a(i) < b(i)) strict = true
        i += 1
      }
      strict
    }

    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(clean.schema)
    val local = Checkpoints.local(clean.mapPartitions { it =>
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Row)]
      it.foreach { r =>
        val k = key(r)
        if (!kept.exists { case (ek, _) => dominates(ek, k) }) {
          // evict everything the newcomer dominates, then keep it
          val survivors = kept.filterNot { case (ek, _) => dominates(k, ek) }
          kept.clear(); kept ++= survivors; kept += ((k, r))
        }
      }
      kept.iterator.map(_._2)
    }(enc))

    // global phase: dominance anti-join over the bounded survivor set
    val domCond: Column = {
      val pairwise = dims.map { case (name, maximize) =>
        val (a, b) = (col(s"__dom.$name"), col(s"__cand.$name"))
        if (maximize) (a >= b, a > b) else (a <= b, a < b)
      }
      pairwise.map(_._1).reduce(_ && _) && pairwise.map(_._2).reduce(_ || _)
    }
    val out = Checkpoints.local(local.as("__cand")
      .join(local.as("__dom"), domCond, "left_anti"))
    out
  }
}
