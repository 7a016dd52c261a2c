package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: materialize every n-token window STRING per doc,
    * count duplicates by global string equality (no hashing) — the report
    * must agree exactly (hash collisions are ~impossible on this corpus). */
  private def naive(docs: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long)] = {
    val windows = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(w => id -> w.mkString(" ")).toSeq
    }
    val totals = windows.groupBy(_._2).view.mapValues(_.size).toMap
    docs.map { case (id, _) =>
      val mine = windows.filter(_._1 == id)
      id -> (mine.size.toLong,
        mine.count(w => totals(w._2) >= 2).toLong)
    }.toMap
  }

  private def report(docs: Seq[(Long, String)], n: Int) =
    SpanDedup.spanReport(docs.toDF("id", "text"), "id", "text", n)
      .select($"id", $"n_spans", $"n_dup_spans")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("fused span_hash60 kernel is bit-exact with the built-ins md5 chain") {
    // the portable seam the DuckDB oracles restate — the fused kernel must
    // produce the IDENTICAL longs, including sub-n, repeated-token, empty,
    // unicode, and single-token (no separator) shapes
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "m m m m m m m m"),
      (3L, "short one"),
      (4L, ""),
      (5L, "café naïve 你好 tok tok tok tok tok tok"),
      (6L, (1 to 50).map(i => s"w${(i * 37) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.tokens(lower($"text")).as("_toks"))
      .select($"doc_id",
        SpanDedup.spanHashes($"_toks", 8).as("fused"),
        SpanDedup.spanHashesSql($"_toks", 8).as("chain"))
    val rows = docs.select($"doc_id", $"fused", $"chain")
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(rows.length == 6)
    rows.foreach { case (id, fused, chain) =>
      assert(fused == chain, s"doc $id: fused $fused != chain $chain")
    }
    assert(rows.find(_._1 == 1L).get._2.size == 3) // 10 tokens, n=8
    assert(rows.find(_._1 == 4L).get._2.isEmpty)
  }

  test("fused kernel matches concat_ws null semantics on nullable token " +
       "arrays (skip, no separator) — no NPE") {
    val df = Seq(1L, 2L).toDF("doc_id")
      .withColumn("_toks",
        when($"doc_id" === 1L,
          array(lit("a"), lit(null).cast("string"), lit("b"), lit("c"),
            lit(null).cast("string")))
          .otherwise(array(lit(null).cast("string"),
            lit(null).cast("string"), lit("x"))))
      .select($"doc_id",
        SpanDedup.spanHashes($"_toks", 3).as("fused"),
        SpanDedup.spanHashesSql($"_toks", 3).as("chain"))
    val rows = df.as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, fused, chain) =>
      assert(fused == chain, s"doc $id: fused $fused != chain $chain")
    }
  }

  test("span report equals the naive all-windows recount") {
    val docs = Seq(
      1L -> "a b c d e f",          // windows abc bcd cde def
      2L -> "x y z a b c d q r",    // shares abc+bcd? windows: xyz yza zab abc bcd cdq dqr
      3L -> "a b c d e f",          // exact clone of 1 — every window dup
      4L -> "m m m m m",            // within-doc repetition: mmm ×3 (self-dup)
      5L -> "t u",                  // shorter than n → 0 windows
      6L -> "")                     // empty
    assert(report(docs, 3) == naive(docs, 3))
  }

  test("clone corpus: clones and originals both fully duplicated") {
    val base = Seq(1L -> "one two three four five six seven eight nine ten",
                   2L -> "alpha beta gamma delta epsilon zeta eta theta")
    val corpus = base ++ base.map { case (id, t) => (id + 100L) -> t }
    val got = report(corpus, 4)
    assert(got == naive(corpus, 4))
    // every window of every doc is duplicated by its clone
    got.foreach { case (_, (n, dup)) => assert(n > 0 && dup == n) }
  }

  test("short documents report zero windows and keep = true") {
    val out = SpanDedup.spanReport(
        Seq(1L -> "just two", 2L -> "").toDF("id", "text"), "id", "text", 5)
      .select($"id", $"n_spans", $"dup_span_frac", $"keep")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out.size == 2)
    out.values.foreach { case (n, frac, keep) =>
      assert(n == 0L && frac == 0.0 && keep)
    }
  }

  test("within-doc repetition counts as duplication") {
    // "p q p q p q": windows (n=2) pq qp pq qp pq — all totals >= 2
    val got = report(Seq(1L -> "p q p q p q"), 2)
    assert(got(1L) == ((5L, 5L)))
  }

  test("winnowFromSpans selects window minima, deduplicated") {
    import org.apache.spark.sql.functions.{col, typedLit}
    val df = Seq(1).toDF("x")
      .withColumn("spans", typedLit(Seq(5L, 3L, 9L, 1L, 7L)))
    // w=2 windows: (5,3)(3,9)(9,1)(1,7) → mins 3,3,1,1 → distinct [3,1]
    val got = df.select(SpanDedup.winnowFromSpans(col("spans"), 2))
      .head().getSeq[Long](0)
    assert(got == Seq(3L, 1L))
    // fewer spans than the window → the single overall minimum
    val short = Seq(1).toDF("x")
      .withColumn("spans", typedLit(Seq(8L, 6L)))
    assert(short.select(SpanDedup.winnowFromSpans(col("spans"), 4))
      .head().getSeq[Long](0) == Seq(6L))
    val empty = Seq(1).toDF("x")
      .withColumn("spans", typedLit(Seq.empty[Long]))
    assert(empty.select(SpanDedup.winnowFromSpans(col("spans"), 4))
      .head().getSeq[Long](0).isEmpty)
  }

  test("winnowing guarantee: a shared run of w+n-1 tokens shares a fingerprint") {
    val shared = (1 to 11).map(i => s"tok$i").mkString(" ") // w+n-1 = 4+8-1
    val docs = Seq(
      (1L, s"aaa bbb ccc ddd eee fff ggg hhh iii $shared"),
      (2L, s"$shared zzz yyy xxx www vvv uuu ttt sss rrr"),
      (3L, "totally unrelated words qqq ppp ooo nnn mmm lll kkk jjj"))
      .toDF("doc_id", "text")
    val rep = SpanDedup.winnowReport(docs, "doc_id", "text", n = 8, w = 4)
      .select($"doc_id", $"n_fps", $"n_shared_fps")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep(1L)._2 >= 1L && rep(2L)._2 >= 1L) // the run surfaces
    assert(rep(3L)._2 == 0L)
  }

  test("winnowReport preserves the MOSS invariants: clones fully shared, " +
       "disjoint docs share nothing, sub-n and null docs report zero") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"tok${i % 13}").mkString(" ")),
      (2L, (1 to 40).map(i => s"tok${i % 13}").mkString(" ")), // clone of 1
      (3L, (1 to 60).map(i => s"w${(i * 37) % 91}").mkString(" ")),
      (4L, "short doc"), // fewer than n tokens: zero fingerprints
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val m = SpanDedup.winnowReport(docs, "doc_id", "text", n = 8, w = 4)
      .select($"doc_id", $"n_fps", $"n_shared_fps")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(m.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // exact clones: every fingerprint shared, and identical text means
    // identical fingerprint sets
    assert(m(1L)._1 > 0 && m(1L) == m(2L) && m(1L)._2 == m(1L)._1)
    // disjoint doc shares nothing; winnowed set is a strict subset
    assert(m(3L)._2 == 0L && m(3L)._1 > 0 && m(3L)._1 < 60 - 8 + 1)
    // sub-n and null docs report zero, not a dropped row
    assert(m(4L) == ((0L, 0L)) && m(5L) == ((0L, 0L)))
  }

  /** Naive rewrite reference: global first occurrence by (id, pos),
    * mark-covered, rejoin. */
  private def naiveRemove(docs: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val occ = docs.flatMap { case (id, _) =>
      val ts = toks(id)
      if (ts.length < n) Seq.empty
      else (0 to ts.length - n).map(p => (ts.slice(p, p + n).mkString(" "),
        id, p))
    }
    val firstOf = occ.groupBy(_._1).view
      .mapValues(_.map(o => (o._2, o._3)).min).toMap
    val covered = occ.filter(o => firstOf(o._1) != ((o._2, o._3)))
      .flatMap(o => (o._3 until o._3 + n).map(p => (o._2, p))).toSet
    docs.map { case (id, _) =>
      val ts = toks(id)
      val kept = ts.zipWithIndex.collect {
        case (t, i) if !covered((id, i)) => t }
      id -> (ts.length.toLong, ts.zipWithIndex.count(p =>
        covered((id, p._2))).toLong, kept.mkString(" "))
    }.toMap
  }

  test("removeDuplicateSpans equals the naive rewrite: clones collapse " +
       "to one full copy, partial overlaps cut only the shared run") {
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // > n tokens
    val docs = Seq(
      1L -> s"intro one two three $shared tail aaa bbb",
      2L -> s"$shared completely different ending here zzz", // loses the run
      3L -> s"intro one two three $shared tail aaa bbb",     // exact clone of 1
      4L -> "too short",                                     // < n: untouched
      5L -> "m m m m m m m m m m m m m m m m m m m m")       // self-repetition
    val got = SpanDedup.removeDuplicateSpans(
        docs.toDF("id", "text"), "id", "text", n = 8)
      .select($"id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val want = naiveRemove(docs, 8)
    assert(got == want)
    assert(got(3L)._3.isEmpty)          // the clone vanishes entirely
    assert(got(1L) == ((got(1L)._1, 0L, docs.head._2.toLowerCase))) // first copy intact
    assert(got(4L)._3 == "too short")
    assert(got(5L)._2 > 0 && got(5L)._3.nonEmpty) // first m-run survives
    // doc 2 keeps its unique tail but loses the shared run
    assert(got(2L)._3.endsWith("completely different ending here zzz"))
    assert(!got(2L)._3.contains("s1 s2"))
  }

  test("removeDuplicateSpans: null text and empty docs survive as " +
       "empty-clean rows, not dropped rows") {
    val docs = Seq((1L, Some("a b c")), (2L, None), (3L, Some("")))
      .toDF("id", "text")
    val got = SpanDedup.removeDuplicateSpans(docs, "id", "text", n = 8)
      .select($"id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((3L, 0L, "a b c")))
    assert(got(2L) == ((0L, 0L, "")))
    assert(got(3L) == ((0L, 0L, "")))
  }

  test("removeDuplicateSpans: a doc id past the 2^43 packed-key bound " +
       "raises loudly instead of silently corrupting the min ordering") {
    val docs = Seq(
      (SpanDedup.MaxSpanDocId, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i j"))
      .toDF("id", "text")
    val e = intercept[Exception] {
      SpanDedup.removeDuplicateSpans(docs, "id", "text", n = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("overflows the packed")))
    // Long.MinValue would slip past an abs()-based bound (non-ANSI abs
    // overflows back to negative) — the guard must still fire
    val minDocs = Seq(
      (Long.MinValue, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i j"))
      .toDF("id", "text")
    val e2 = intercept[Exception] {
      SpanDedup.removeDuplicateSpans(minDocs, "id", "text", n = 8).collect()
    }
    assert(messages(e2).exists(_.contains("overflows the packed")))
  }

  test("winnowed set is a bounded subset of the span set") {
    val text = (1 to 200).map(i => s"w${(i * 37) % 91}").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val nSpans = 200 - 8 + 1
    val nFps = SpanDedup.winnowReport(df, "doc_id", "text", n = 8, w = 4)
      .select($"n_fps").as[Long].head()
    assert(nFps > 0 && nFps < nSpans)
    // expected density 2/(w+1) = 0.4; allow generous slack
    assert(nFps.toDouble / nSpans < 0.7)
  }
}
