package graft.expressions

import org.apache.spark.sql.functions.{lit, typedLit}

import graft.SparkSpec

/** SQL-surface completeness: every native expression/aggregate is
  * callable by name from `spark.sql` after registration — the library's
  * SQL-user story, not just the Column API. (Individual semantics are
  * pinned by each expression's own spec; here each name just has to
  * resolve, type-check, and execute.) */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions evaluate (extensions hook)") {
    GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT simhash60_portable(array('a','b')) = " +
      "simhash60_portable(array('a','b')) AS eq, " +
      "simhash60_portable(array('a','b')) <> " +
      "simhash60_portable(array('x','y','z')) AS ne")
      .as[(Boolean, Boolean)].head()
    assert(out == ((true, true)))
    // the whole native-expression surface is SQL-callable and agrees with
    // the Column-level entry points
    val sql = spark.sql(
      """SELECT
        | minhash_sig(hashed_shingles('hello world docs', 5), 16) AS sig,
        | word_shingle_hash(array('a','b','c','d'), 3) AS ws,
        | jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
        | dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
      .collect().head
    val viaColumns = spark.range(1).select(
        graft.functions.Dedup.minhashSignatureFromHashes(
          graft.functions.Dedup.hashedCharShingles(lit("hello world docs"), 5), 16).as("sig"),
        graft.functions.Dedup.hashedWordShingles(
          typedLit(Seq("a", "b", "c", "d")), 3).as("ws"))
      .collect().head
    assert(sql.getSeq[Long](0) == viaColumns.getSeq[Long](0))
    assert(sql.getSeq[Long](1) == viaColumns.getSeq[Long](1))
    assert(sql.getDouble(2) == 0.5)
    assert(sql.getDouble(3) == 11.0)
  }

  test("round-13 registrations resolve and execute from SQL: hash60, " +
       "span_hash60, bpe_token_count, bpe_segments, quantile_sketch, " +
       "bottom_k_by_score") {
    GraftExtensions.register(spark)
    Seq(("the quick brown fox", 1L), ("jumps over", 2L))
      .toDF("text", "id").createOrReplaceTempView("gx_in")

    val h = spark.sql(
      "SELECT hash60('abc') AS h, hash60(CAST(NULL AS STRING)) AS hn")
      .head()
    assert(h.getLong(0) >= 0L && h.getLong(0) < (1L << 60) && h.isNullAt(1))

    val spans = spark.sql(
      "SELECT span_hash60(split(text, ' '), 2) FROM gx_in WHERE id = 1")
      .head().getSeq[Long](0)
    assert(spans.length == 3 && spans.forall(x => x >= 0 && x < (1L << 60)))
    // equals the Column-API kernel
    val viaCol = spark.table("gx_in")
      .where($"id" === 1)
      .select(graft.functions.SpanDedup.spanHashes(
        org.apache.spark.sql.functions.split($"text", " "), 2))
      .head().getSeq[Long](0)
    assert(spans == viaCol)

    // bpe_segments takes a single lowercase alnum RUN (the tokenizer's
    // pre-split unit); bpe_token_count takes whole text
    val bpe = spark.sql(
      "SELECT bpe_token_count(text), bpe_segments('quick') FROM gx_in " +
        "WHERE id = 1").head()
    assert(bpe.getLong(0) > 0L && bpe.getSeq[String](1).nonEmpty)

    val bk = spark.sql(
      "SELECT bottom_k_by_score(id, CAST(id AS DOUBLE), 1) FROM gx_in")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(bk.map(r => (r.getLong(0), r.getDouble(1))) == Seq((1L, 1.0)))

    val qs = spark.sql(
      "SELECT quantile_sketch(id, id, 1L, 16) FROM gx_in")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(qs.map(_.getLong(0)).sorted == Seq(1L, 2L))

    // arity gate fires with the function's name, not an index error
    val err = intercept[Exception] {
      spark.sql("SELECT hash60('a', 'b')").collect()
    }
    assert(err.getMessage.contains("hash60"), err.getMessage)
  }

  test("bpe_apply resolves from SQL with a JSON merge-table literal and " +
       "matches the Column-API kernel") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT bpe_apply('|l|o|w|e|r',
        |  '[["e","r"],["l","o"],["lo","w"]]')""".stripMargin)
      .head().getString(0)
    assert(got == "|low|er")
    val viaCol = Seq("lower").toDF("w")
      .select(graft.functions.Bpe.applyMerges(
        graft.functions.Bpe.delimit($"w"),
        Seq(("e", "r"), ("l", "o"), ("lo", "w"))))
      .as[String].head()
    assert(got == viaCol)
    // malformed table literals fail at analysis with the function name —
    // both wrong-shape JSON and SYNTACTICALLY INVALID JSON (a raw
    // Jackson message would name neither the function nor the argument)
    val err = intercept[Exception] {
      spark.sql("SELECT bpe_apply('|a|b', '[\"notapair\"]')").collect()
    }
    assert(err.getMessage.contains("bpe_apply"), err.getMessage)
    val truncated = intercept[Exception] {
      spark.sql("SELECT bpe_apply('|a|b', '[[\"a\",\"b\"')").collect()
    }
    assert(truncated.getMessage.contains("bpe_apply"), truncated.getMessage)
    val notJson = intercept[Exception] {
      spark.sql("SELECT unigram_apply('a', 'not json at all')").collect()
    }
    assert(notJson.getMessage.contains("unigram_apply"), notJson.getMessage)
  }

  test("register is idempotent: a second call on the same session " +
       "replaces nothing and every function still resolves") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def infos() = GraftExtensions.functions.map { case (name, _) =>
      registry.lookupFunction(FunctionIdentifier(name))
        .getOrElse(fail(s"$name is not registered"))
    }
    GraftExtensions.register(spark)
    val first = infos()
    GraftExtensions.register(spark)
    assert(infos().zip(first).forall { case (a, b) => a eq b })
    val h = spark.sql("SELECT hash60('abc')").head().getLong(0)
    assert(h >= 0L && h < (1L << 60))
  }
}
