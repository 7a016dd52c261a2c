package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering this engine's native expressions
  * for SQL use:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or: spark.sql.extensions=graft.expressions.GraftExtensions
  *   spark.sql("SELECT simhash60_portable(split(text, ' ')) FROM docs")
  *   spark.sql("SELECT minhash_sig(hashed_shingles(text, 5), 64) FROM docs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {

  /** Wrap a fixed-arity builder with an arity gate: a wrong-arity SQL
    * call fails at analysis with a message naming the function and the
    * expected count, never an IndexOutOfBoundsException from a bare
    * `exprs(1)` — and extra arguments are rejected, not silently
    * ignored. `atLeast` covers the variadic registrations. */
  private def arity(fn: String, n: Int, atLeast: Boolean = false)(
      builder: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      val ok = if (atLeast) exprs.length >= n else exprs.length == n
      if (!ok) throw new IllegalArgumentException(
        s"$fn requires ${if (atLeast) "at least " else "exactly "}$n " +
        s"argument${if (n == 1) "" else "s"}, got ${exprs.length}")
      builder(exprs)
    }

  /** Every native expression, by SQL name. Integer parameters arrive as
    * foldable literals (`minhash_sig(hs, 64)`). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_sig" -> arity("minhash_sig", 2)(exprs =>
      MinHashSigExpr(exprs.head, intArg(exprs, 1, "minhash_sig"))),
    "hashed_shingles" -> arity("hashed_shingles", 2)(exprs =>
      HashedShinglesExpr(exprs.head, intArg(exprs, 1, "hashed_shingles"))),
    "word_shingle_hash" -> arity("word_shingle_hash", 2)(exprs =>
      WordShingleHashExpr(exprs.head, intArg(exprs, 1, "word_shingle_hash"))),
    "jaccard_sorted" -> arity("jaccard_sorted", 2)(exprs =>
      JaccardSortedExpr(exprs(0), exprs(1))),
    "kmv_sketch" -> arity("kmv_sketch", 2)(exprs =>
      KmvSketchAgg(exprs.head, intArg(exprs, 1, "kmv_sketch"))
        .toAggregateExpression()),
    "kmv_merge" -> arity("kmv_merge", 2)(exprs =>
      KmvMergeAgg(exprs.head, intArg(exprs, 1, "kmv_merge"))
        .toAggregateExpression()),
    "hll_sketch" -> arity("hll_sketch", 2)(exprs =>
      HllSketchAgg(exprs.head, intArg(exprs, 1, "hll_sketch"))
        .toAggregateExpression()),
    "hll_merge" -> arity("hll_merge", 2)(exprs =>
      HllMergeAgg(exprs.head, intArg(exprs, 1, "hll_merge"))
        .toAggregateExpression()),
    "top_k" -> arity("top_k", 3)(exprs =>
      TopKAgg(exprs(0), exprs(1), intArg(exprs, 2, "top_k"))
        .toAggregateExpression()),
    "dot_product" -> arity("dot_product", 2)(exprs =>
      DotProductExpr(exprs(0), exprs(1))),
    "simhash60_portable" -> arity("simhash60_portable", 1)(exprs =>
      SimHashPortableExpr(exprs.head)),
    "json_leaf_keys" -> arity("json_leaf_keys", 1)(exprs =>
      JsonLeafKeysExpr(exprs.head)),
    "nfc_normalize" -> arity("nfc_normalize", 1)(exprs =>
      NfcNormalizeExpr(exprs.head)),
    // fused one-pass ingest parse: json_keyset_tuple(raw, 'a', 'b', ...)
    // returns struct(_keyset, a, b, ...); the _nested variant keysets on
    // dotted leaf paths (drift-aware nested ingest)
    "json_keyset_tuple" -> arity("json_keyset_tuple", 1, atLeast = true)(
      exprs => JsonKeysetTupleExpr(exprs.head,
        exprs.tail.zipWithIndex.map { case (e, i) =>
          strArg(e, i, "json_keyset_tuple") }, nested = false)),
    "hash60" -> arity("hash60", 1)(exprs => Hash60Expr(exprs.head)),
    "span_hash60" -> arity("span_hash60", 2)(exprs =>
      SpanHash60Expr(exprs.head, intArg(exprs, 1, "span_hash60"))),
    "bpe_token_count" -> arity("bpe_token_count", 1)(exprs =>
      BpeTokenCountExpr(exprs.head)),
    "bpe_segments" -> arity("bpe_segments", 1)(exprs =>
      BpeSegmentsExpr(exprs.head)),
    "quantile_sketch" -> arity("quantile_sketch", 4)(exprs =>
      QuantileSketchAgg(exprs(0), exprs(1), exprs(2),
        intArg(exprs, 3, "quantile_sketch")).toAggregateExpression()),
    "kll_sketch" -> arity("kll_sketch", 2)(exprs =>
      KllSketchAgg(exprs.head, intArg(exprs, 1, "kll_sketch"))
        .toAggregateExpression()),
    "kll_merge" -> arity("kll_merge", 2)(exprs =>
      KllMergeAgg(exprs.head, intArg(exprs, 1, "kll_merge"))
        .toAggregateExpression()),
    "bottom_k_by_score" -> arity("bottom_k_by_score", 3)(exprs =>
      BottomKAgg(exprs(0), exprs(1), intArg(exprs, 2, "bottom_k_by_score"))
        .toAggregateExpression()),
    // bpe_apply(s, '[["e","r"],["i","n"]]'): the merge table as a JSON
    // literal, parsed once at analysis into the one-reference-object
    // kernel (tokens may contain any character except the '|' delimiter,
    // so a positional text encoding would be ambiguous — JSON is not)
    "bpe_apply" -> arity("bpe_apply", 2)(exprs =>
      BpeApplyExpr(exprs.head, mergesArg(exprs(1)))),
    // wordpiece_apply(word, '["the","##e",...]'): the vocabulary as a
    // JSON string-array literal, built once at analysis into the
    // hash-set kernel (unk = "[UNK]", maxWordChars = 100)
    "wordpiece_apply" -> arity("wordpiece_apply", 2)(exprs =>
      WordPieceApplyExpr(exprs.head, vocabArg(exprs(1)), "[UNK]", 100)),
    // unigram_apply(word, '[["ab",20],["a",5]]'): scored vocabulary as a
    // JSON array of [token, integer-score] pairs (unk = "[UNK]",
    // maxWordChars = 100)
    "unigram_apply" -> arity("unigram_apply", 2)(exprs =>
      UnigramApplyExpr(exprs.head, scoredVocabArg(exprs(1)), "[UNK]", 100)),
    "jaro_winkler" -> arity("jaro_winkler", 2)(exprs =>
      JaroWinklerExpr(exprs(0), exprs(1))),
    "jaro_winkler_bytes" -> arity("jaro_winkler_bytes", 2)(exprs =>
      JaroWinklerExpr(exprs(0), exprs(1), byteMode = true)),
    "json_keyset_tuple_nested" -> arity("json_keyset_tuple_nested", 1,
      atLeast = true)(exprs => JsonKeysetTupleExpr(exprs.head,
        exprs.tail.zipWithIndex.map { case (e, i) =>
          strArg(e, i, "json_keyset_tuple_nested") }, nested = true)))

  private def strArg(e: Expression, i: Int, fn: String): String = {
    import org.apache.spark.sql.types.StringType
    if (e.foldable && e.dataType == StringType && e.eval() != null)
      e.eval().toString
    else throw new IllegalArgumentException(
      s"$fn: argument ${i + 2} must be a string literal")
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse a JSON-array literal argument, mapping each element through
    * `elem`. Malformed JSON and wrong-shape elements both fail at
    * ANALYSIS with the function name attached (a raw Jackson message
    * names neither the function nor the argument). */
  private def jsonArrayArg[T](e: Expression, fn: String, shape: String)(
      elem: com.fasterxml.jackson.databind.JsonNode => T): Seq[T] = {
    val json = strArg(e, 0, fn)
    val node =
      try jsonMapper.readTree(json)
      catch { case ex: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(
          s"$fn: argument 2 is not valid JSON ($shape): ${ex.getMessage}")
      }
    require(node != null && node.isArray, s"$fn: argument 2 must be $shape")
    import scala.jdk.CollectionConverters._
    node.elements().asScala.map(elem).toSeq
  }

  private def mergesArg(e: Expression): Seq[(String, String)] =
    jsonArrayArg(e, "bpe_apply", "a JSON array of two-string pairs") { p =>
      require(p.isArray && p.size() == 2 &&
        p.get(0).isTextual && p.get(1).isTextual,
        "bpe_apply: each merge must be a two-string JSON array")
      (p.get(0).asText(), p.get(1).asText())
    }

  private def vocabArg(e: Expression): Seq[String] =
    jsonArrayArg(e, "wordpiece_apply", "a JSON string array") { t =>
      require(t.isTextual, "wordpiece_apply: each vocab entry must be a string")
      t.asText()
    }

  private def scoredVocabArg(e: Expression): Seq[(String, Long)] =
    jsonArrayArg(e, "unigram_apply",
        "a JSON array of [token, integer-score] pairs") { p =>
      require(p.isArray && p.size() == 2 && p.get(0).isTextual &&
        p.get(1).canConvertToLong,
        "unigram_apply: each entry must be [string token, integer score]")
      (p.get(0).asText(), p.get(1).asLong())
    }

  private def intArg(exprs: Seq[Expression], i: Int, fn: String): Int = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    exprs.lift(i) match {
      case Some(e) if e.foldable &&
          Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType) =>
        e.eval().toString.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal")
    }
  }

  /** Register on an already-built session (e.g. the driver-owned one).
    * Idempotent: a name the session already knows (an earlier call, or
    * the extension hook) is left as it is rather than replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
