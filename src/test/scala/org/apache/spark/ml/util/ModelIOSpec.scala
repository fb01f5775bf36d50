package org.apache.spark.ml.util

import graft.SparkSpec
import graft.ml.Models
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-side model persistence ([[GraftModelIO]]): no Spark job, the
  * same predictions after a reload, the thread-local flag restored, and
  * no model save or load left outside the shim. (In MLlib's package to
  * read the `private[spark]` flag.) */
class ModelIOSpec extends SparkSpec {

  private lazy val frame: DataFrame = {
    val x1 = (col("id") % 17) / 17.0
    val x2 = (col("id") * 7 % 13) / 13.0
    val y = x1 * 3.0 - x2 * 2.0 + (col("id") % 5) * 0.01
    spark.range(400).select(col("id"), x1.as("x1"), x2.as("x2"), y.as("y"),
      when(y > 0.5, "hi").otherwise("lo").as("label"))
  }
  private val features = Seq("x1", "x2")

  private def fit(kind: String, algo: String): PipelineModel =
    if (kind == "regressor") Models.trainRegressor(frame, features, "y", algo)
    else Models.trainClassifier(frame, features, "label", algo)

  /** Every output column a prediction carries, as raw bits. */
  private def outputBits(m: PipelineModel): Seq[Seq[Long]] = {
    val out = m.transform(frame).orderBy("id")
    val cols = Seq("prediction", "pred_proba").filter(out.columns.contains)
    out.select(cols.map(col): _*).collect().toSeq.map { r =>
      cols.indices.flatMap { i =>
        r.get(i) match {
          case v: Vector => v.toArray.toSeq
          case d: Double => Seq(d)
        }
      }.map(java.lang.Double.doubleToRawLongBits)
    }
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val state = ReadWriteUtils.localSavingModeState

  for ((kind, algo) <- Seq("regressor" -> "linear", "regressor" -> "rf",
    "regressor" -> "gbt", "classifier" -> "logistic", "classifier" -> "rf",
    "classifier" -> "gbt")) {
    test(s"$kind/$algo: save and load run no Spark job, same predictions") {
      val model = fit(kind, algo)
      val path = tmpDir(s"model-io-$algo") + "/model"
      assert(jobsDuring(GraftModelIO.save(model, path)) == 0)
      var loaded: PipelineModel = null
      assert(jobsDuring { loaded = GraftModelIO.load(PipelineModel.read, path) } == 0)
      assert(!state.get())
      assert(loaded.stages.map(_.uid).toSeq == model.stages.map(_.uid).toSeq)
      assert(outputBits(loaded) == outputBits(model))
      // a second save replaces the first in place
      GraftModelIO.save(model, path)
      assert(outputBits(GraftModelIO.load(PipelineModel.read, path)) == outputBits(model))
    }
  }

  test("a save that throws leaves the local-saving flag as it found it") {
    val model = fit("regressor", "linear")
    // a regular file where the model's parent dir should be
    val blocker = java.nio.file.Files.createTempFile("model-io-blocker", "")
    val path = s"$blocker/model"
    for (before <- Seq(false, true)) {
      state.set(before)
      try {
        intercept[Exception](GraftModelIO.save(model, path))
        assert(state.get() == before)
      } finally state.set(false)
    }
  }

  test("a catalog rooted at a file: URI onboards and reloads a model") {
    val local = tmpDir("model-io-catalog")
    val cat = new graft.api.Catalog(spark, "file://" + local)
    val fitted = fit("regressor", "rf")
    cat.onboardModel("uri_model", fitted, "regressor", "y", features, algo = "rf")
    // MLlib's local layout: the metadata is one file, not a part-file dir
    assert(new java.io.File(local, "models/uri_model/metadata").isFile)
    val reopened = new graft.api.Catalog(spark, "file://" + local).model("uri_model")
    val bits = (df: DataFrame) => df.orderBy("id").select("prediction").collect()
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSeq
    assert(bits(reopened.transform(frame)) == bits(fitted.transform(frame)))
  }

  test("only GraftModelIO saves or loads an MLlib model in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val patterns = Seq(
      """[A-Z]\w*Model\s*(\.read\s*)?\.load\(""",
      """\.write\s*\.overwrite\(\)\s*\.save\(""",
      """\.write\s*\.save\(""").map(_.r)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sites = files(root).filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        patterns.exists(_.findFirstIn(src).isDefined)
      }
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(sites.toSet == Set("org/apache/spark/ml/util/GraftModelIO.scala"), sites)
  }
}
