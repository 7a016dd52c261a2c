package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Seq(0.9f, 0.1f, 0.0f)),   // close to 0
    (3L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Seq(-1.0f, 0.0f, 0.0f)))  // opposite

  /** Untrained IVF baseline: k rows of a hash-ordered sample used as
    * centroids as they are. */
  private def hashSampledCentroids(df: org.apache.spark.sql.DataFrame,
                                   k: Int): Seq[Seq[Double]] =
    df.select($"id", $"v")
      .orderBy(pmod(xxhash64($"id"), lit(1000003L)), $"id")
      .limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

  /** Mean squared distance of each vector to its nearest centroid — the
    * quantization error Lloyd iterations minimize. */
  private def quantizationError(vectors: Seq[Seq[Double]],
                                centroids: Seq[Seq[Double]]): Double =
    vectors.map { v =>
      centroids.map(c => c.zip(v).map { case (x, y) => (x - y) * (x - y) }.sum).min
    }.sum / vectors.size

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val df = vecs.toDF("id", "v")
    val out = df.select(Similarity.cosine($"v", typedLit(Seq(1.0, 0.0, 0.0))).as("c"))
      .as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 1.0)
    assert(out(2) > 0.9 && out(2) < 1.0)
    assert(out(3) == 0.0)
    assert(out(4) == -1.0)
  }

  test("cosine survives zero vectors (guard, no division error)") {
    val out = Seq(Seq(0.0f, 0.0f, 0.0f)).toDF("v")
      .select(Similarity.cosine($"v", typedLit(Seq(1.0, 0.0, 0.0))).as("c"))
      .as[Double].collect().head
    assert(out == 0.0)
  }

  test("bruteForceTopK ranks by similarity desc with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs.toDF("id", "v"), "v", "id",
        Seq(1.0, 0.0, 0.0), 3)
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(0L, 1L, 2L)) // ids 0,1 tie at 1.0 → id order
  }

  test("annTopK returns the query's own bucket including itself") {
    val out = Similarity.annTopK(vecs.toDF("id", "v"), "v", "id",
        Seq(1.0, 0.0, 0.0), 5, numPlanes = 2)
      .select("id").as[Long].collect().toSeq
    assert(out.contains(0L) && out.contains(1L)) // identical vectors co-bucket
    assert(!out.contains(4L)) // opposite vector lands elsewhere
  }

  test("probeCodes enumerates hamming-ball codes") {
    assert(Similarity.probeCodes(0L, 3, 0) == Seq(0L))
    assert(Similarity.probeCodes(0L, 3, 1).toSet == Set(0L, 1L, 2L, 4L))
    assert(Similarity.probeCodes(5L, 3, 1).toSet == Set(5L, 4L, 7L, 1L))
    assert(Similarity.probeCodes(0L, 3, 2).toSet ==
      Set(0L, 1L, 2L, 4L, 3L, 5L, 6L))
  }

  test("multi-probe widens recall over single-bucket probing") {
    val rnd = new scala.util.Random(11)
    val many = (0 until 200).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = many.toDF("id", "v")
    val q = many.head._2.map(_.toDouble)
    val single = Similarity.annTopK(df, "v", "id", q, 50, numPlanes = 6,
      probeHamming = 0).count()
    val multi = Similarity.annTopK(df, "v", "id", q, 50, numPlanes = 6,
      probeHamming = 1).count()
    assert(multi >= single)
    // full-hamming probe = brute force
    val all = Similarity.annTopK(df, "v", "id", q, 200, numPlanes = 6,
      probeHamming = 6).count()
    assert(all == 200)
  }

  test("bucketCodeOf mirrors the Column-side bucketCode") {
    val planes = Similarity.hyperplanes(4, 3)
    val scalaCodes = vecs.map { case (_, v) =>
      Similarity.bucketCodeOf(v.map(_.toDouble), planes) }
    val sparkCodes = vecs.toDF("id", "v")
      .select(Similarity.bucketCode($"v", planes).as("b")).as[Long].collect().toSeq
    assert(scalaCodes == sparkCodes)
  }

  test("ivf: cells partition the data; probing finds the exact neighbor") {
    val data = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq(base + i * 0.001f, base, 0.1f * (i % 3)))
    }
    val df = data.toDF("id", "v")
    val centroids = hashSampledCentroids(df, 4)
    assert(centroids.size == 4)
    // deterministic across calls
    assert(centroids == hashSampledCentroids(df, 4))
    val cells = df.select(Similarity.ivfCell($"v", centroids).as("c"))
      .as[Int].collect()
    assert(cells.forall(c => c >= 1 && c <= 4))
    // with all cells probed, IVF == brute force
    val brute = Similarity.bruteForceTopK(df, "v", "id", Seq(1.0, 1.0, 0.0), 5)
      .select("id").as[Long].collect().toSeq
    val ivfAll = Similarity.ivfTopK(df, "v", "id", Seq(1.0, 1.0, 0.0), 5,
      centroids, nProbe = 4).select("id").as[Long].collect().toSeq
    assert(ivfAll == brute)
    // with 1 probe, the query's own cluster is still found (top1 agrees)
    val ivf1 = Similarity.ivfTopK(df, "v", "id", Seq(1.0, 1.0, 0.0), 5,
      centroids, nProbe = 1).select("id").as[Long].collect().toSeq
    assert(ivf1.nonEmpty && ivf1.head == brute.head)
  }

  test("Lloyd-trained centroids cut quantization error and lift probe recall") {
    // four well-separated clusters; hash-sampled centroids land arbitrarily
    val rnd = new scala.util.Random(31)
    val data = (0 until 200).map { i =>
      val center = i % 4
      val base = Seq(
        Seq(4.0f, 0.0f, 0.0f), Seq(-4.0f, 0.0f, 0.0f),
        Seq(0.0f, 4.0f, 0.0f), Seq(0.0f, -4.0f, 0.0f))(center)
      (i.toLong, base.map(_ + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = data.toDF("id", "v")
    val untrained = hashSampledCentroids(df, 4)
    val trained =
      Similarity.ivfCentroidsTrainedPortable(df, "v", "id", 4, iters = 5)
    assert(trained ==
      Similarity.ivfCentroidsTrainedPortable(df, "v", "id", 4, iters = 5))
    val vecs = data.map(_._2.map(_.toDouble))
    val errU = quantizationError(vecs, untrained)
    val errT = quantizationError(vecs, trained)
    assert(errT < errU)
    // single-probe recall vs brute force improves with trained cells
    val q = Seq(4.0, 0.1, 0.0)
    val brute = Similarity.bruteForceTopK(df, "v", "id", q, 20)
      .select("id").as[Long].collect().toSet
    def recall(cents: Seq[Seq[Double]]): Double = {
      val got = Similarity.ivfTopK(df, "v", "id", q, 20, cents, nProbe = 1)
        .select("id").as[Long].collect().toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    assert(recall(trained) >= recall(untrained))
    assert(recall(trained) == 1.0) // the query's cluster is one trained cell
  }

  test("portable Lloyd training: deterministic, quantized, still clusters") {
    val rnd = new scala.util.Random(47)
    val data = (0 until 200).map { i =>
      val base = Seq(
        Seq(4.0f, 0.0f, 0.0f), Seq(-4.0f, 0.0f, 0.0f),
        Seq(0.0f, 4.0f, 0.0f), Seq(0.0f, -4.0f, 0.0f))(i % 4)
      (i.toLong, base.map(_ + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = data.toDF("id", "v")
    val p1 = Similarity.ivfCentroidsTrainedPortable(df, "v", "id", 4, iters = 3)
    // deterministic across repartitionings (the oracle depends on it)
    val p2 = Similarity.ivfCentroidsTrainedPortable(
      df.repartition(7), "v", "id", 4, iters = 3)
    assert(p1 == p2)
    // every coordinate sits exactly on the 1e-6 floor grid
    p1.flatten.foreach(x =>
      assert(x == math.floor(x * 1e6) / 1e6, s"unquantized coord $x"))
    // quantization is cosmetic: error comparable to hash-seeded centroids
    val vecs = data.map(_._2.map(_.toDouble))
    val untrained = hashSampledCentroids(df, 4)
    assert(quantizationError(vecs, p1) <=
      quantizationError(vecs, untrained))
  }

  test("blocking axes track variance; concentrated-first-dims corpus still exact") {
    // dim0 nearly constant, dims 2 and 3 spread: fixed (0,1) axes would put
    // every row in one cell; variance choice must pick the spread dims
    val rnd = new scala.util.Random(11)
    val data = (0 until 120).map { i =>
      (i.toLong, Seq(0.9f + rnd.nextFloat() * 1e-4f, 0.1f,
        rnd.nextFloat() * 2f - 1f, rnd.nextFloat() * 2f - 1f))
    }
    val axes = Similarity.chooseBlockAxes(
      data.map(_._2.map(_.toDouble)), nAxes = 2)
    assert(axes.toSet == Set(2, 3), s"picked $axes")
    // and the pair set still equals all-pairs (exactness is axis-invariant)
    val df = data.toDF("vec_id", "embedding").withColumn("label", lit(1))
    val blocked = Similarity.cosineNearDups(df, "vec_id", "embedding", "label", 0.995)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    val e1 = df.toDF("vec_id_a", "vec_a", "label")
    val e2 = df.toDF("vec_id_b", "vec_b", "label")
    val allPairs = e1.join(e2, "label")
      .filter($"vec_id_a" < $"vec_id_b")
      .filter(Similarity.dot($"vec_a", $"vec_b") /
        greatest(Similarity.norm($"vec_a") * Similarity.norm($"vec_b"),
          lit(1e-12)) >= 0.995)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    assert(blocked == allPairs)
  }

  test("cosineNearDups finds identical pairs within blocks only") {
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("label", when($"vec_id" < 3, 1).otherwise(2))
    val out = Similarity.cosineNearDups(df, "vec_id", "embedding", "label", 0.999)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("cosineNearDups tolerates null vectors (axis sample must skip them)") {
    // nulls FIRST so the bounded driver sample is guaranteed to see them —
    // the unfiltered sample used to NPE on getSeq before any job ran
    val rows: Seq[(Long, Option[Seq[Float]], Int)] =
      Seq((100L, None, 1), (101L, None, 1)) ++
        Seq((0L, Some(Seq(1.0f, 0.0f)), 1), (1L, Some(Seq(1.0f, 1e-5f)), 1),
          (2L, Some(Seq(0.0f, 1.0f)), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineNearDups(df, "vec_id", "embedding", "label", 0.999)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("cosineNearDups cell blocking equals the all-pairs result (exact, no recall loss)") {
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f), s"l${i % 3}"))
    // add clones so qualifying pairs exist across cell boundaries too
    val data = base ++ base.take(25).map { case (id, v, l) =>
      (id + 1000, v.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f), l) }
    val df = data.toDF("vec_id", "embedding", "label")
    val viaCells = Similarity.cosineNearDups(df, "vec_id", "embedding", "label", 0.99)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    val n = df.select($"label", $"vec_id", $"embedding",
      Similarity.norm($"embedding").as("nrm"))
    val a = n.toDF("label", "id_a", "v_a", "n_a")
    val b = n.toDF("label", "id_b", "v_b", "n_b")
    val bruteForce = a.join(b, "label").filter($"id_a" < $"id_b")
      .filter(Similarity.dot($"v_a", $"v_b") /
        greatest($"n_a" * $"n_b", lit(1e-12)) >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaCells == bruteForce)
    assert(bruteForce.size >= 25) // the planted clone pairs are all there
  }

  test("signMatrix is deterministic ±1 with both signs present") {
    val m = Similarity.signMatrix(64, 8)
    assert(m.size == 8 && m.forall(_.size == 64))
    assert(m.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(m.flatten.toSet == Set(1.0, -1.0)) // not degenerate
    assert(m == Similarity.signMatrix(64, 8)) // reproducible
  }

  test("signProject: linearity, negation symmetry, hand-computed dims") {
    val signs = Seq(Seq(1.0, -1.0, 1.0), Seq(-1.0, -1.0, 1.0))
    val df = Seq((1L, Seq(1.0f, 2.0f, 4.0f)), (2L, Seq(-1.0f, -2.0f, -4.0f)))
      .toDF("id", "v")
    val got = df.select($"id", Similarity.signProject($"v", signs).as("y"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(1.0 - 2.0 + 4.0, -1.0 - 2.0 + 4.0))
    assert(got(2L) == got(1L).map(-_)) // projection is linear
  }

  test("signProject: identical vectors project identically (clone recall)") {
    val signs = Similarity.signMatrix(16, 4)
    val v = Seq.fill(16)(0.25f)
    val df = Seq((1L, v), (2L, v), (3L, v.map(x => -x)))
      .toDF("id", "v")
    val got = df.select($"id", Similarity.signProject($"v", signs).as("y"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == got(2L))
    assert(got(3L) == got(1L).map(-_))
  }

  test("hardNegatives: each vector's negative is its most-similar " +
       "different-label cellmate; lone-label cells report null") {
    // two tight geometric clusters (k=2 recovers them); labels split
    // cluster A, cluster B is single-label
    def vec(x: Float, y: Float) = Seq(x, y) ++ Seq.fill(6)(0.0f)
    val df = Seq(
      (1L, vec(1.00f, 0.00f), 0),
      (2L, vec(0.99f, 0.14f), 1),  // negative of 1 and 3
      (3L, vec(0.97f, 0.24f), 0),
      (10L, vec(0.00f, 1.00f), 2),
      (11L, vec(0.14f, 0.99f), 2)) // same label — no negative in cell
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, "vec_id", "embedding", "label",
        k = 2, sampleN = 5)
      .select($"vec_id", $"neg_id", $"cosine_sim")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1.contains(2L) && got(3L)._1.contains(2L))
    assert(got(2L)._1.exists(n => n == 3L)) // 2's closest 0-label is 3
    assert(got(10L)._1.isEmpty && got(11L)._1.isEmpty)
    // cosine of the reported pair is the true max over the other label
    assert(got(1L)._2.get > 0.98 && got(1L)._2.get < 1.0)
  }
}
