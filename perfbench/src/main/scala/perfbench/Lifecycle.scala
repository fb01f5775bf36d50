package perfbench

import graft.api.{Catalog, Endpoint, InferenceCache}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** `lifecycle_rw`: one client drives the model lifecycle through
  * `graft.api` against a fresh catalog root per pass. Onboarding, training
  * and registry writes interleave with captured inference, read-backs,
  * cached inference with a seeded key overlap and a drift report. The
  * served model is a fixed-coefficient formula, so every prediction is
  * checked against its closed form. */
final class Lifecycle(spark: SparkSession, dataDir: String, catalogRoot: String,
                      seed: Long) extends Workload {
  private val Feats = Seq("l_quantity", "l_discount")
  private val Intercept = 10.0
  private val Coefs = Seq("l_quantity" -> 2.0, "l_discount" -> -5.0)
  /** The formula in the order the model applies it. */
  private def formula(q: Double, d: Double): Double = (Intercept + q * 2.0) + d * -5.0

  private val BatchRows = 5000
  private val SliceOrders = 5000L
  /** Share of the second cached batch's keys already in the cache (the
    * first meets an empty cache); the seed picks one. */
  private val Overlaps = Seq(0.25, 0.75)

  private val schema = StructType(Seq(StructField("rid", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false)))

  private def rowFor(rid: Long): Row = {
    val r = new Random(seed * 31 + rid)
    Row(rid, (1 + r.nextInt(50)).toDouble, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      math.round((900 + r.nextDouble() * 104100) * 100) / 100.0)
  }
  private def frame(keys: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map(rowFor): _*), schema)

  @volatile private var root: String = catalogRoot
  override def storeRoot: Option[String] = Some(root)

  private def predictionsOk(rows: Array[Row], n: Int): Option[String] =
    if (rows.length != n) Some(s"rows ${rows.length}, expected $n")
    else rows.find { r =>
      val p = r.getAs[Any]("prediction")
      p == null || p.asInstanceOf[Double] !=
        formula(r.getAs[Double]("l_quantity"), r.getAs[Double]("l_discount"))
    }.map(r => s"prediction differs from the formula for rid ${r.getAs[Long]("rid")}")

  private def sameRows(got: Array[Row], want: Array[Row]): Option[String] = {
    val g = Digest.of("", got); val w = Digest.of("", want)
    if (g.rows != w.rows) Some(s"rows ${g.rows}, expected ${w.rows}")
    else if (g.digest != w.digest) Some("read-back differs from the rows written")
    else None
  }

  // per-pass state shared by the ops of that pass
  private var cat: Catalog = _
  private var ep: Endpoint = _
  private var cache: InferenceCache = _
  private var written = Array.empty[Row]
  private var cacheBefore = 0L
  private val expectedNew = mutable.Map.empty[String, Long]

  override def traceBefore(op: Op): Unit =
    if (op.tag == "api.cached_inference") cacheBefore = cache.cacheSize()
  override def traceAfter(op: Op): Map[String, Double] =
    if (op.tag != "api.cached_inference") Map.empty
    else {
      val grown = cache.cacheSize() - cacheBefore
      if (grown != expectedNew(op.name))
        System.err.println(s"[perfbench] ${op.name}: cache grew by $grown keys, expected ${expectedNew(op.name)}")
      Map("batch_rows" -> BatchRows.toDouble, "new_keys" -> grown.toDouble)
    }

  def pass(p: Int): Seq[Op] = {
    val rnd = new Random(seed * 1000003L + p)
    val base = (p + 1).toLong * 10000000L
    val inferKeys = (0 until BatchRows).map(i => base + i)
    // the second cached batch reuses a seeded share of the first one's keys
    val firstCached = (0 until BatchRows).map(i => base + 5000000L + i)
    val reused = rnd.shuffle(firstCached).take((BatchRows * Overlaps(rnd.nextInt(Overlaps.size))).toInt)
    val cachedKeys = Seq(firstCached,
      rnd.shuffle(reused ++ (0 until BatchRows - reused.size).map(i => base + 6000000L + i)))
    val sliceStart = rnd.nextInt(100000).toLong
    // inputs are made before the pass starts, outside every op's timing
    val inferFrame = frame(inferKeys)
    val cachedFrames = cachedKeys.map(frame)

    def op(name: String, module: String, tag: String)(build: => DataFrame)(
        check: (StructType, Array[Row]) => Option[String]): Op =
      Op(name, module, tag, () => build, check)
    val slice = () => graft.core.Tables.load(spark, dataDir, "lineitem")
      .filter(col("l_orderkey").between(sliceStart, sliceStart + SliceOrders - 1))
      .select("l_orderkey", "l_quantity", "l_discount", "l_tax", "l_extendedprice")

    val prefix = Seq(
      op("onboard_lineitem", "api", "stores.append") {
        root = s"$catalogRoot/pass-$p"
        cat = new Catalog(spark, root)
        written = Array.empty
        cat.onboard("lineitem_slice", slice()).toDF
      } { (_, rows) => sameRows(rows, slice().collect()) },
      op("train", "ml", "ml.train") {
        cat.toModel("lineitem_slice", "price_lr", "regressor", "l_extendedprice",
          Seq("l_quantity", "l_discount", "l_tax"))
        cat.model("price_lr").getFeatureImportance().get
      } { (_, rows) => if (rows.length == 3) None else Some(s"${rows.length} importances") },
      op("register_endpoints", "stores", "stores.registry") {
        val m = cat.onboardFormulaModel("price_formula", Intercept, Coefs, target = "l_extendedprice")
        ep = m.toEndpoint("price-end")
        ep.monitor.enableDataCapture(100)
        cache = new InferenceCache(m.toEndpoint("price-cached-end"), "rid")
        cat.registry.list().select("name")
      } { (_, rows) =>
        val names = rows.map(_.getString(0)).toSet
        if (Set("price_formula", "price-end", "price-cached-end").subsetOf(names)) None
        else Some(s"registry holds ${names.mkString(",")}")
      },
      op("create_baseline", "api", "api.monitor") {
        ep.monitor.createBaseline(inferFrame.select(Feats.map(col): _*), Feats)
        ep.monitor.getConstraints().get
      } { (_, rows) => if (rows.length == Feats.size) None else Some(s"${rows.length} constraints") })

    val infer = op("inference", "api", "api.inference") {
      ep.inference(inferFrame, Some("run"), Some("rid"))
        .select("rid", "l_quantity", "l_discount", "prediction")
    } { (_, rows) =>
      written = rows.map(r => Row(r.getLong(0), r.getDouble(3)))
      predictionsOk(rows, BatchRows)
    }
    val readBack = op("read_predictions", "stores", "stores.read") {
      cat.model("price_formula").getInferencePredictions("run").get.select("rid", "prediction")
    } { (_, rows) => sameRows(rows, written) }
    val cachedOps = cachedKeys.zipWithIndex.map { case (keys, b) =>
      val name = s"cached_inference_$b"
      expectedNew(name) = keys.size - (if (b == 0) 0 else reused.size)
      op(name, "api", "api.cached_inference") {
        cache.inference(cachedFrames(b)).select("rid", "l_quantity", "l_discount", "prediction")
      } { (_, rows) => predictionsOk(rows, BatchRows) }
    }
    // seeded interleaving of the captured chain and the cached chain
    val chains = Seq(mutable.Queue(infer, readBack), mutable.Queue(cachedOps.toSeq: _*))
    val middle = mutable.ArrayBuffer.empty[Op]
    while (chains.exists(_.nonEmpty)) middle += rnd.shuffle(chains.filter(_.nonEmpty)).head.dequeue()

    val featSchema = StructType(Feats.map(StructField(_, DoubleType)))
    val suffix = Seq(
      op("read_capture", "sources", "stores.read") {
        ep.monitor.capturedData(featSchema).select(Feats.map(col): _*)
      } { (_, rows) =>
        // every captured input row, parsed back from the capture payloads
        sameRows(rows, inferKeys.map(rowFor).map(r => Row(r.getDouble(1), r.getDouble(2))).toArray)
      },
      op("drift_report", "api", "api.monitor") {
        ep.monitor.driftReport(ep.monitor.capturedData(featSchema), Feats)
      } { (_, rows) => if (rows.length == Feats.size) None else Some(s"${rows.length} drift rows") },
      op("registry_meta", "stores", "stores.registry") {
        cat.registry.upsertMeta("price_formula", Map("perfbench_pass" -> p.toString))
        cat.registry.list().filter(col("name") === "price_formula")
          .select(element_at(col("meta"), "perfbench_pass"))
      } { (_, rows) =>
        if (rows.length == 1 && rows.head.getString(0) == p.toString) None
        else Some("registry meta update not visible")
      })
    prefix ++ middle ++ suffix
  }
}
