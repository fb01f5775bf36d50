package graft

import graft.core.Tables
import graft.proximity.Proximity
import org.apache.spark.sql.functions._

class ProximitySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sf, "embeddings")

  test("knnJoin: k rows per query, self excluded, distances ascending") {
    val toD = transform(col("embedding"), x => x.cast("double"))
    val e = emb.withColumn("embedding", toD).filter(col("vec_id") < 50)
    val res = Proximity.knnJoin(e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
      k = 4, Proximity.euclidean).collect()
    assert(res.length == 3 * 4)
    assert(res.forall(r => r.getLong(0) != r.getLong(1))) // self-exclusion
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ds = rows.map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted)
    }
  }

  test("knnJoinAdaptive: an unknown metric throws before it counts or records a route") {
    val q = emb.filter(col("vec_id") < 10)
    graft.core.Routing.drain()
    val jobs = jobsDuring {
      intercept[IllegalArgumentException] {
        Proximity.knnJoinAdaptive(q, emb, "vec_id", "embedding", 3, "cosine", 64)
      }
      ()
    }
    assert(jobs == 0)
    assert(graft.core.Routing.drain().isEmpty)
  }

  test("cosineTopK: most similar first, in [-1, 1]") {
    val res = Proximity.cosineTopK(emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", 3).collect()
    assert(res.length == 6)
    assert(res.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("ruzicka: identical vectors distance 0; disjoint distance 1") {
    val df = Seq((Seq(1.0, 2.0, 0.0), Seq(1.0, 2.0, 0.0), Seq(0.0, 0.0, 3.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Proximity.ruzicka(col("a"), col("b")).as("same"),
      Proximity.ruzicka(col("a"), col("c")).as("disjoint")).head()
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("radiusJoin returns only neighbors within radius") {
    val toD = transform(col("embedding"), x => x.cast("double"))
    val e = emb.withColumn("embedding", toD).filter(col("vec_id") < 50)
    val res = Proximity.radiusJoin(e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
      radius = 1.0, Proximity.euclidean).collect()
    assert(res.forall(_.getDouble(2) <= 1.0))
  }

  test("cosineTopKLsh recall: finds most of the exact top-k") {
    val exact = Proximity.cosineTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5)
      .select("id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Proximity.cosineTopKLsh(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, dim = 64, nPlanes = 6, nTables = 6)
      .select("id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall") // loose floor at tiny nPlanes
  }

  test("cosineTopKIvf recall vs exact top-k") {
    val refs = emb.filter(col("vec_id") < 300)
    val qs = emb.filter(col("vec_id") < 5)
    val exact = Proximity.cosineTopK(qs, refs, "vec_id", "embedding", 5)
      .select("id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Proximity.cosineTopKIvf(qs, refs, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 4)
      .select("id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    assert(ivf.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("egoSubgraph keeps only edges between nodes within reach of center") {
    import graft.proximity.Analytics
    import spark.implicits._
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (3L, 4L, 0.7), (10L, 11L, 0.5))
      .toDF("src", "dst", "weight")
    val ego1 = Analytics.egoSubgraph(edges, 1L, hops = 1)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ego1 == Set((1L, 2L)))
    val ego2 = Analytics.egoSubgraph(edges, 1L, hops = 2)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ego2 == Set((1L, 2L), (2L, 3L)))
    assert(!ego2.contains((10L, 11L)))
  }
}
