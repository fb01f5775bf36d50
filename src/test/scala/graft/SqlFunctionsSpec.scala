package graft

import graft.functions.SqlFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** SQL surface: registered functions equal their Column-API twins, and
  * the one-line extension wires a fresh session. */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match the Column API bit-for-bit") {
    SqlFunctions.install(spark)
    val docs = Seq((1L, "The quick  Brown fox. Il est la!"),
      (2L, "le chat est dans la maison pour le diner"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sqlfun_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_fingerprint(text) AS fp,
         graft_token_count(text) AS tc, graft_word_count(text) AS wc,
         graft_lang_id(text) AS lang, graft_simhash(graft_tokens(text)) AS sh,
         graft_minhash(graft_shingles(text, 2), 8) AS mh
         FROM sqlfun_docs""").collect().map(r => r.getLong(0) -> r).toMap
    val viaCols = docs.select(col("doc_id"),
        graft.text.Text.fingerprint(col("text")).as("fp"),
        graft.text.Text.tokenCount(col("text")).as("tc"),
        graft.text.Text.wordCount(col("text")).as("wc"),
        graft.text.Text.langId(col("text")).as("lang"),
        graft.functions.Signatures.simhash(
          graft.text.Text.tokens(col("text"))).as("sh"),
        graft.functions.Signatures.minhashSignature(
          graft.functions.Signatures.wordShingles(col("text"), 2), 8).as("mh"))
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(viaSql(id).getString(1) == viaCols(id).getString(1))
      assert(viaSql(id).getInt(2) == viaCols(id).getInt(2))
      assert(viaSql(id).getInt(3) == viaCols(id).getInt(3))
      assert(viaSql(id).getString(4) == viaCols(id).getString(4))
      assert(viaSql(id).getLong(5) == viaCols(id).getLong(5))
      assert(viaSql(id).getSeq[Int](6) == viaCols(id).getSeq[Int](6))
    }
  }

  test("vector SQL functions compute the proximity measures") {
    SqlFunctions.install(spark)
    val r = spark.sql(
      """SELECT graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs,
         graft_euclidean(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS eu,
         graft_ruzicka(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS rz,
         graft_tanimoto(array(1, 2), array(1, 2)) AS tn,
         graft_parse_fingerprint('0,3,1') AS pf""").head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 5.0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0)
    assert(r.getSeq[Int](4) == Seq(0, 3, 1))
  }

  test("curation SQL functions match the Column API") {
    SqlFunctions.install(spark)
    val r = spark.sql(
      """SELECT graft_redact_pii('mail a@b.co or 555-123-4567 at 10.0.0.1') AS red,
         graft_char_chunks('abcdefgh', 3) AS ch,
         graft_dup_line_frac(array('a', 'b', 'a', 'a')) AS dlf,
         graft_top_ngram_frac('spam spam spam spam', 2) AS tnf,
         graft_hash_keep(42, 1.0) AS keep_all,
         graft_hash_keep(42, 0.0) AS keep_none""").head()
    assert(r.getString(0) == "mail <EMAIL> or <PHONE> at <IP>")
    assert(r.getSeq[String](1) == Seq("abc", "def", "gh"))
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 1.0)
    assert(r.getBoolean(4) && !r.getBoolean(5))
  }

  test("round-7 SQL functions: url/c4/pii/perplexity scalars") {
    SqlFunctions.install(spark)
    val r = spark.sql(
      """SELECT graft_url_normalize('https://www.Ex.COM/a/b?q=1#f') AS u,
         graft_url_host('https://www.Ex.COM/a/b') AS h,
         graft_url_domain('https://sub.ex.com/a') AS d,
         graft_c4_clean(concat('Good sentence with enough words here.',
                               chr(10), 'bad line'), 5) AS c4,
         graft_sentence_count('One. Two! Three?') AS sc,
         graft_has_pii('reach a@b.co now') AS pii,
         graft_perplexity(-2.0) AS pp""").head()
    assert(r.getString(0) == "ex.com/a/b")
    assert(r.getString(1) == "ex.com")
    assert(r.getString(2) == "ex.com")
    assert(r.getString(3) == "Good sentence with enough words here.")
    assert(r.getLong(4) == 3L)
    assert(r.getBoolean(5))
    assert(math.abs(r.getDouble(6) - math.exp(2.0)) < 1e-3)
  }

  test("non-literal signature width is rejected with a clear error") {
    SqlFunctions.install(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'), cast(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.contains("literal INT"))
  }

  test("GraftSparkExtension injects every SQL function") {
    // spark.sql.extensions is a STATIC conf — it cannot be exercised by
    // building a session on the suite's shared SparkContext, so assert
    // on the extension's registrations directly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftSparkExtension().apply(ext)
    val names = org.apache.spark.sql.GraftExprBridge.extensionFunctionNames(ext)
    assert(SqlFunctions.functions.map(_._1).toSet.subsetOf(names), names.toString)
  }

  test("sketch SQL aggregates: GROUP BY kll/theta sketch == Column API") {
    SqlFunctions.install(spark)
    val df = (1 to 2000).map(i => ((i % 4).toLong, (i % 500).toDouble))
      .toDF("shard", "v")
    df.createOrReplaceTempView("sqlfun_sketch")
    // quantile read-back must agree between the SQL and Column routes
    val sqlMerged = spark.sql(
      """SELECT graft_kll_merge(sk) FROM (
           SELECT shard, graft_kll_sketch(v) AS sk
           FROM sqlfun_sketch GROUP BY shard)""").head().getAs[Array[Byte]](0)
    val colMerged = graft.eda.Sketches
      .quantileShardSketches(df, "shard", "v")
      .agg(graft.functions.KllSketch.kllMerge(col("qsketch")))
      .head().getAs[Array[Byte]](0)
    // sketch CONTENT is merge-order-dependent (partial-agg order
    // differs between the two routes), so the routes agree within the
    // k=200 rank-error bound, not bit-for-bit
    val (qs, qc) = (graft.functions.KllSketch.quantiles(sqlMerged, Seq(0.5)),
      graft.functions.KllSketch.quantiles(colMerged, Seq(0.5)))
    assert(math.abs(qs.head - qc.head) < 10,
      s"sql ${qs.head} vs column ${qc.head}")
    assert(math.abs(qs.head - 249.5) < 10) // true median of 0..499
    // theta: distinct shards estimate exactly in the small regime
    val thetaEst = spark.sql(
      "SELECT graft_theta_sketch(v) FROM sqlfun_sketch")
      .head().getAs[Array[Byte]](0)
    assert(math.round(graft.functions.ThetaSketch.estimate(thetaEst)) === 500L)
  }

  test("wave SQL functions: simhash64 / ngrams / ngram_bag") {
    SqlFunctions.install(spark)
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("sqlfun_docs2")
    val r = spark.sql(
      """SELECT graft_simhash64(graft_tokens(text)) AS sh,
         graft_ngrams(text, 2) AS ng, graft_ngram_bag(text) AS bag
         FROM sqlfun_docs2""").head()
    val e = docs.select(
      graft.functions.Signatures.simhash64(
        graft.text.Text.tokens(col("text"))).as("sh"),
      graft.functions.Signatures.wordNgrams(col("text"), 2).as("ng"),
      graft.functions.Signatures.wordNgramBag(col("text")).as("bag")).head()
    assert(r.getLong(0) === e.getLong(0))
    assert(r.getSeq[String](1) === Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](2) === Seq("a", "b", "c", "d", "a b", "b c", "c d"))
    assert(r.getSeq[String](2) === e.getSeq[String](2))
  }
}
