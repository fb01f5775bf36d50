package graft.functions

import org.apache.spark.sql.{Column, GraftExprBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** The library's SQL surface: every scalar graft operator exposed as a
  * Spark SQL function, so `spark.sql("SELECT graft_fingerprint(text)
  * …")` works exactly like the Column API. All functions are the SAME
  * codegen'd expressions the Column API builds — registration only adds
  * a FunctionRegistry name, no UDF wrapper, no performance difference.
  *
  * Two installation paths:
  *  - [[install]] on a live session (tests, notebooks);
  *  - `spark.sql.extensions=graft.GraftSparkExtension` at session build
  *    (cluster deployment), so one config line wires the whole library
  *    into plain SQL.
  */
object SqlFunctions {

  private def c(e: Expression): Column = GraftExprBridge.toColumn(e)
  private def x(col: Column): Expression = GraftExprBridge.toExpression(col)

  /** Extract a literal Int argument (signature widths must be plan
    * constants — they size the generated expression). */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected a literal INT argument, got $other")
  }

  private def arity(fn: String, es: Seq[Expression], n: Int): Unit =
    require(es.length == n, s"$fn expects $n argument(s), got ${es.length}")

  /** (name, builder) for every SQL function the library exports. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_fingerprint" -> { es: Seq[Expression] =>
      arity("graft_fingerprint", es, 1)
      x(graft.text.Text.fingerprint(c(es.head)))
    },
    "graft_tokens" -> { es: Seq[Expression] =>
      arity("graft_tokens", es, 1)
      x(graft.text.Text.tokens(c(es.head)))
    },
    "graft_token_count" -> { es: Seq[Expression] =>
      arity("graft_token_count", es, 1)
      x(graft.text.Text.tokenCount(c(es.head)))
    },
    "graft_word_count" -> { es: Seq[Expression] =>
      arity("graft_word_count", es, 1)
      x(graft.text.Text.wordCount(c(es.head)))
    },
    "graft_lang_id" -> { es: Seq[Expression] =>
      arity("graft_lang_id", es, 1)
      x(graft.text.Text.langId(c(es.head)))
    },
    "graft_shingles" -> { es: Seq[Expression] =>
      arity("graft_shingles", es, 2)
      x(graft.functions.Signatures.wordShingles(
        c(es.head), intArg(es(1), "graft_shingles")))
    },
    "graft_minhash" -> { es: Seq[Expression] =>
      arity("graft_minhash", es, 2)
      x(graft.functions.Signatures.minhashSignature(
        c(es.head), intArg(es(1), "graft_minhash")))
    },
    "graft_simhash" -> { es: Seq[Expression] =>
      arity("graft_simhash", es, 1)
      x(graft.functions.Signatures.simhash(c(es.head)))
    },
    "graft_simhash64" -> { es: Seq[Expression] =>
      arity("graft_simhash64", es, 1)
      x(graft.functions.Signatures.simhash64(c(es.head)))
    },
    "graft_ngrams" -> { es: Seq[Expression] =>
      arity("graft_ngrams", es, 2)
      x(graft.functions.Signatures.wordNgrams(
        c(es.head), intArg(es(1), "graft_ngrams")))
    },
    "graft_ngram_bag" -> { es: Seq[Expression] =>
      arity("graft_ngram_bag", es, 1)
      x(graft.functions.Signatures.wordNgramBag(c(es.head)))
    },
    "graft_cosine_sim" -> { es: Seq[Expression] =>
      arity("graft_cosine_sim", es, 2)
      x(graft.proximity.Proximity.cosine(c(es.head), c(es(1))))
    },
    "graft_euclidean" -> { es: Seq[Expression] =>
      arity("graft_euclidean", es, 2)
      x(graft.proximity.Proximity.euclidean(c(es.head), c(es(1))))
    },
    "graft_ruzicka" -> { es: Seq[Expression] =>
      arity("graft_ruzicka", es, 2)
      x(graft.proximity.Proximity.ruzicka(c(es.head), c(es(1))))
    },
    "graft_tanimoto" -> { es: Seq[Expression] =>
      arity("graft_tanimoto", es, 2)
      x(Chem.tanimoto(c(es.head), c(es(1))))
    },
    "graft_parse_fingerprint" -> { es: Seq[Expression] =>
      arity("graft_parse_fingerprint", es, 1)
      x(Chem.parseFingerprint(c(es.head)))
    },
    "graft_redact_pii" -> { es: Seq[Expression] =>
      arity("graft_redact_pii", es, 1)
      x(graft.text.Scrub.redact(c(es.head)))
    },
    "graft_char_chunks" -> { es: Seq[Expression] =>
      arity("graft_char_chunks", es, 2)
      x(graft.text.Text.charChunks(
        c(es.head), intArg(es(1), "graft_char_chunks")))
    },
    "graft_dup_line_frac" -> { es: Seq[Expression] =>
      arity("graft_dup_line_frac", es, 1)
      x(graft.text.Text.dupLineFraction(c(es.head)))
    },
    "graft_top_ngram_frac" -> { es: Seq[Expression] =>
      arity("graft_top_ngram_frac", es, 2)
      x(graft.text.Text.topNgramFraction(
        c(es.head), intArg(es(1), "graft_top_ngram_frac")))
    },
    "graft_hash_keep" -> { es: Seq[Expression] =>
      arity("graft_hash_keep", es, 2)
      x(graft.text.Mixing.hashKeep(c(es.head), c(es(1))))
    },
    "graft_normalize_text" -> { es: Seq[Expression] =>
      arity("graft_normalize_text", es, 1)
      x(graft.text.Scrub.normalizeText(c(es.head)))
    },
    "graft_url_normalize" -> { es: Seq[Expression] =>
      arity("graft_url_normalize", es, 1)
      x(graft.text.Urls.normalize(c(es.head)))
    },
    "graft_url_host" -> { es: Seq[Expression] =>
      arity("graft_url_host", es, 1)
      x(graft.text.Urls.host(graft.text.Urls.normalize(c(es.head))))
    },
    "graft_url_domain" -> { es: Seq[Expression] =>
      arity("graft_url_domain", es, 1)
      x(graft.text.Urls.registeredDomain(
        graft.text.Urls.host(graft.text.Urls.normalize(c(es.head)))))
    },
    "graft_c4_clean" -> { es: Seq[Expression] =>
      arity("graft_c4_clean", es, 2)
      x(graft.text.C4.cleanLines(c(es.head), intArg(es(1), "graft_c4_clean")))
    },
    "graft_sentence_count" -> { es: Seq[Expression] =>
      arity("graft_sentence_count", es, 1)
      x(graft.text.C4.sentenceCount(c(es.head)))
    },
    "graft_has_pii" -> { es: Seq[Expression] =>
      arity("graft_has_pii", es, 1)
      x(graft.text.Scrub.hasPii(c(es.head)))
    },
    "graft_perplexity" -> { es: Seq[Expression] =>
      arity("graft_perplexity", es, 1)
      x(graft.text.Ccnet.perplexity(c(es.head)))
    },
    // mergeable-sketch AGGREGATES: the builders return the raw
    // AggregateFunction — the analyzer wraps it into an
    // AggregateExpression when it lands in an aggregation context, the
    // same treatment built-in aggregates get (readability at 100 TB:
    // `SELECT shard, graft_kll_sketch(v) FROM t GROUP BY shard` in
    // plain SQL builds the identical plan as the Column API)
    "graft_kll_sketch" -> { es: Seq[Expression] =>
      require(es.length == 1 || es.length == 2,
        s"graft_kll_sketch expects 1-2 argument(s), got ${es.length}")
      KllSketchAgg(es.head,
        if (es.length > 1) intArg(es(1), "graft_kll_sketch") else 200)
    },
    "graft_kll_merge" -> { es: Seq[Expression] =>
      require(es.length == 1 || es.length == 2,
        s"graft_kll_merge expects 1-2 argument(s), got ${es.length}")
      KllMergeAgg(es.head,
        if (es.length > 1) intArg(es(1), "graft_kll_merge") else 200)
    },
    "graft_theta_sketch" -> { es: Seq[Expression] =>
      arity("graft_theta_sketch", es, 1)
      ThetaSketchAgg(es.head)
    },
    "graft_freq_sketch" -> { es: Seq[Expression] =>
      arity("graft_freq_sketch", es, 2)
      FreqSketchAgg(es.head, intArg(es(1), "graft_freq_sketch"))
    },
    "graft_jaro_winkler" -> { es: Seq[Expression] =>
      arity("graft_jaro_winkler", es, 2)
      JaroWinklerExpr(es.head, es(1))
    })

  /** Register every graft SQL function on a live session (idempotent —
    * re-registration replaces the same builders). */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      GraftExprBridge.registerFunction(spark, name, builder)
    }
}
