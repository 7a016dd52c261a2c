package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different text about spark shuffles and partitions"))

  test("exactDedup keeps the minimum id per text") {
    val out = Dedup.exactDedup(corpus.toDF("id", "text"), "text", "id")
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L))
  }

  test("exactDedup keeps a real row when every id in a group is null") {
    val df = Seq((Some(1L), "a", 10), (None, "b", 20), (None, "b", 21))
      .toDF("id", "text", "extra")
    val out = Dedup.exactDedup(df, "text", "id")
      .orderBy("text")
      .select($"text", $"extra").as[(String, Int)].collect().toSeq
    // the all-null-id group still yields one row with its payload intact
    assert(out.map(_._1) == Seq("a", "b"))
    assert(Set(20, 21).contains(out(1)._2))
  }

  test("charShingles produces length-k windows; short strings yield one shingle") {
    val out = Seq("abcde", "ab").toDF("t")
      .select(Dedup.charShingles($"t", 3).as("s")).as[Seq[String]].collect()
    assert(out(0) == Seq("abc", "bcd", "cde"))
    assert(out(1) == Seq("ab"))
  }

  test("wordShingles produces n-grams; short docs collapse to one") {
    val out = Seq("a b c d", "a").toDF("t")
      .select(Dedup.wordShingles(TextAnalysis.tokens($"t"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a"))
  }

  test("minhash signatures of identical shingle sets are identical") {
    val df = Seq("a b c d e f g h", "a b c d e f g h", "z y x w v u t s")
      .toDF("t").select(Dedup.minhashSignatureFromHashes(
        Dedup.hashedShingles(Dedup.charShingles($"t", 3)), 16).as("sig")).as[Seq[Long]].collect()
    assert(df(0) == df(1) && df(0) != df(2))
    assert(df(0).size == 16)
    assert(df.flatten.forall(h => h >= 0 && h < 2147483647L))
  }

  test("minhashNearDups finds the near-dup pair, not the distinct pair") {
    val out = Dedup.minhashNearDups(corpus.toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 5, threshold = 0.5)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // exact dup always found
    assert(out.contains((1L, 3L)) || out.contains((2L, 3L))) // near dup
    assert(!out.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash: identical token arrays hash identically, near texts are close") {
    val sims = corpus.toDF("id", "text")
      .select(Dedup.simhash60Portable(TextAnalysis.tokens(lower($"text"))).as("s"))
      .as[Long].collect()
    assert(sims(0) == sims(1))
    val hammingNear = java.lang.Long.bitCount(sims(0) ^ sims(2))
    val hammingFar = java.lang.Long.bitCount(sims(0) ^ sims(3))
    assert(hammingNear < hammingFar)
  }

  test("simhashNearDups pairs exact dups at hamming 0") {
    val df = corpus.toDF("doc_id", "text")
      .select($"doc_id",
        Dedup.simhash60Portable(TextAnalysis.tokens(lower($"text"))).as("sh"))
    val out = Dedup.simhashNearDups(df, "doc_id", "sh", maxDist = 3,
        simBits = 60)
      .select("doc_id_a", "doc_id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("ngramJaccardNearDups respects blocking and threshold") {
    val blocked = corpus.toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Dedup.ngramJaccardNearDups(blocked, "doc_id", "text", "lang",
        n = 2, threshold = 0.99)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L))) // only the exact dup survives 0.99
  }

  test("prefix-filter candidates lose no qualifying pair and prune the join") {
    // 40 docs in one block: 20 clone pairs (J=1) + unrelated noise
    val rnd = new scala.util.Random(5)
    val docs = (0 until 20).flatMap { i =>
      val words = Seq.fill(12)(s"w${rnd.nextInt(40)}").mkString(" ")
      Seq((i.toLong, words), (i.toLong + 100, words))
    }
    val df = docs.toDF("doc_id", "text").withColumn("blk", lit("b"))
    val grams = df.select($"blk", $"doc_id",
      Dedup.hashedShingles(Dedup.wordShingles(TextAnalysis.tokens(lower($"text")), 3)).as("g"))
    val nCands = Dedup.prefixFilterCandidates(grams, "doc_id", "g", "blk", 0.9).count()
    val allPairs = docs.size.toLong * (docs.size - 1) / 2
    assert(nCands < allPairs) // pruned vs the all-pairs block join

    // same final pairs as the all-pairs formulation
    val viaPrefix = Dedup.ngramJaccardNearDups(df, "doc_id", "text", "blk",
        n = 3, threshold = 0.9)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val a = grams.toDF("blk", "id_a", "g_a")
    val b = grams.toDF("blk", "id_b", "g_b")
    val bruteForce = a.join(b, "blk").filter($"id_a" < $"id_b")
      .filter(Dedup.jaccardSorted($"g_a", $"g_b") >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaPrefix == bruteForce)
    assert((0 until 20).forall(i => viaPrefix.contains((i.toLong, i.toLong + 100))))
  }

  test("jaccard is zero-guarded on empty arrays") {
    val out = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(Dedup.jaccard($"a", $"b").as("j")).as[Double].collect().head
    assert(out == 0.0)
  }

  test("incrementalDedup equals the naive dedup-then-anti-join") {
    val corpus = (1 to 300).map(i => (i.toLong, s"known text $i"))
      .toDF("doc_id", "text").withColumn("fp", md5($"text"))
    // batch: 100 dups of corpus docs, 100 new docs, plus an internal clone
    val batch = ((1 to 100).map(i => (i + 1000L, s"known text $i")) ++
      (1 to 100).map(i => (i + 2000L, s"fresh text $i")) ++
      Seq((3000L, "fresh text 1")))
      .toDF("doc_id", "text").withColumn("fp", md5($"text"))
    val naive = Dedup.exactDedup(batch, "fp", "doc_id")
      .join(corpus.select($"fp"), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val out = Dedup.incrementalDedup(batch, corpus, "fp", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out == naive)
    // all fresh docs survive (min-id keeper for the internal clone pair)
    assert(out == (1 to 100).map(_ + 2000L).toSet)
  }

  test("incrementalDedup keeps null-fingerprint rows and tolerates corpus nulls") {
    val corpus = Seq((1L, Some("a")), (2L, None))
      .toDF("doc_id", "fp")
    val batch = Seq((10L, Some("a")), (11L, None), (12L, Some("b")))
      .toDF("doc_id", "fp")
    val out = Dedup.incrementalDedup(batch, corpus, "fp", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // 10 is a known dup; 11 (null fp) and 12 (new) survive
    assert(out == Set(11L, 12L))
  }

  test("crossCorpusNearDups finds only cross pairs, never within-side ones") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (3L, "completely different content with no overlap at all"))
      .toDF("doc_id", "text")
    val right = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "yet another unrelated document body entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(left, right, "doc_id", "text",
        shingleSize = 5, threshold = 0.9)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // 1-2 is a WITHIN-left dup and must not appear; both left dups pair
    // with right's 10
    assert(got == Set((1L, 10L), (2L, 10L)))
  }

  test("crossCorpusNearDups equals the exhaustive bipartite recount") {
    val mk = (i: Long) => s"document body number ${i % 4} with shared phrasing"
    val left = (1L to 12L).map(i => (i, mk(i))).toDF("doc_id", "text")
    val right = (101L to 112L).map(i => (i, mk(i))).toDF("doc_id", "text")
    def shingles(t: String): Set[String] =
      (if (t.length <= 5) Seq(t)
       else t.toLowerCase.sliding(5).toSeq).toSet
    val naive = for {
      (a, ta) <- (1L to 12L).map(i => (i, mk(i)))
      (b, tb) <- (101L to 112L).map(i => (i, mk(i)))
      sa = shingles(ta); sb = shingles(tb)
      j = sa.intersect(sb).size.toDouble / (sa ++ sb).size
      if j >= 0.9
    } yield (a, b)
    val got = Dedup.crossCorpusNearDups(left, right, "doc_id", "text",
        shingleSize = 5, threshold = 0.9)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(got == naive.toSet)
  }

  test("lsh bucket cap engages on a saturated band bucket") {
    // 70 identical docs: every band's bucket holds all 70 members, so at
    // maxBucket = 64 every bucket is dropped and NO candidate survives —
    // the degenerate-band guard. Raising the cap past the population
    // re-admits the bucket and yields the full C(70,2) pair set.
    val clones = (1 to 70).map(i => (i.toLong, "identical saturated text"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(
      clones.select($"doc_id", Dedup.minhashSignatureFromHashes(
        Dedup.hashedShingles(Dedup.charShingles(lower($"text"), 4)), 16).as("sig")),
      "doc_id", "sig", bands = 4, rowsPerBand = 4)
    assert(Dedup.lshCandidates(bands, "doc_id", maxBucket = 64).count() == 0L)
    assert(Dedup.lshCandidates(bands, "doc_id", maxBucket = 70).count() ==
      70L * 69 / 2)
  }

  test("near-dup operators leave no cache entries behind") {
    // library materialization is localCheckpoint (ContextCleaner-owned),
    // never persist: a long-lived session calling these repeatedly must
    // not accumulate cache blocks the caller never asked for
    spark.catalog.clearCache()
    val df = corpus.toDF("doc_id", "text")
    Dedup.minhashNearDups(df, "doc_id", "text", shingleSize = 5,
      threshold = 0.5).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
    Dedup.crossCorpusNearDups(df, df.withColumn("doc_id", $"doc_id" + 100L),
      "doc_id", "text", shingleSize = 5, numHashes = 32, bands = 8,
      threshold = 0.5).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
    val blocked = df.withColumn("lang", lit("en"))
    Dedup.ngramJaccardNearDups(blocked, "doc_id", "text", "lang",
      n = 2, threshold = 0.9).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("simhashCrossPairs: bipartite only (within-side pairs never " +
      "generated), equal to the exhaustive cross recount, pigeonhole-" +
      "exact at the chunk fence") {
    import spark.implicits._
    // planted hashes: newA==oldA (d0), newB 3 bits from oldB, newC far
    val oldSide = Seq((1L, 0x1111222233334444L), (2L, 0x00FF00FF00FF00FFL),
      (3L, 0x7777777777777777L)).toDF("id", "sim")
    val newSide = Seq((10L, 0x1111222233334444L),
      (11L, 0x00FF00FF00FF00F8L), // 3 low bits flipped vs old 2
      (12L, -1L)).toDF("id", "sim")
    val got = Dedup.simhashCrossPairs(newSide, oldSide, "id", "sim",
        maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val oldRows = Seq((1L, 0x1111222233334444L),
      (2L, 0x00FF00FF00FF00FFL), (3L, 0x7777777777777777L))
    val newRows = Seq((10L, 0x1111222233334444L),
      (11L, 0x00FF00FF00FF00F8L), (12L, -1L))
    val want = (for {
      (n, hn) <- newRows; (o, ho) <- oldRows
      d = java.lang.Long.bitCount(hn ^ ho) if d <= 3
    } yield (n, o, d)).toSet
    assert(got == want)
    assert(want == Set((10L, 1L, 0), (11L, 2L, 3)))
    // within-side pairs never appear even for identical hashes
    val self = Dedup.simhashCrossPairs(newSide, newSide.limit(0), "id",
      "sim", 3)
    assert(self.count() == 0L)
    intercept[IllegalArgumentException](
      Dedup.simhashCrossPairs(newSide, oldSide, "id", "sim", maxDist = 8))
  }

  test("size bands: integer boundaries grow by >= 1/t and ANY ratio->t " +
      "pair lands within one band (probe +-1 is exact)") {
    val t = 0.95
    val bounds = Dedup.sizeBandBounds(t)
    // boundary growth: strictly increasing, factor >= 10000/9500
    bounds.sliding(2).foreach { case Seq(a, b2) =>
      assert(b2 > a && b2 >= math.max(a + 1, (a * 10000L + 9499) / 9500))
      case _ =>
    }
    def band(n: Long): Int = bounds.count(_ <= n)
    // exhaustive sweep: every integer pair at exactly the threshold
    // ratio must differ by <= 1 band — including boundary-straddlers
    (1L to 50000L by 7L).foreach { nSmall =>
      val nBig = (nSmall * 100L) / 95L // largest size ratio-0.95-compatible
      if (nBig * 95 <= nSmall * 100 || nSmall * 95 <= nBig * 100) {
        val d = math.abs(band(nBig) - band(nSmall))
        assert(d <= 1, s"sizes $nSmall/$nBig bands differ by $d")
      }
    }
    // far sizes separate: a half-size doc sits many bands away
    assert(band(10000) - band(5000) > 5)
    // DataFrame expression agrees with the driver count
    import spark.implicits._
    val got = Seq(0L, 1L, 5000L, 10000L).toDF("n")
      .select(Dedup.sizeBand($"n", bounds)).as[Int].collect().toSeq
    assert(got == Seq(0, 1, band(5000), band(10000)))
  }
}
