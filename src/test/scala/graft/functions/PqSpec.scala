package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Product quantization: codebook training, encoding, and ADC top-k. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val sub = dim / m

  /** Deterministic synthetic vectors around 8 planted modes. */
  private def vectors(n: Int): Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { id =>
      val mode = (id % 8).toInt
      (id, (0 until dim).map(i =>
        (mode * 2.0 + math.sin(id * 0.7 + i) * 0.3).toFloat))
    }

  private def df(n: Int) = vectors(n).toDF("vec_id", "embedding")

  /** Driver reference encode against the returned codebooks. */
  private def refCodes(v: Seq[Float],
                       cbs: Seq[Seq[Seq[Double]]]): Seq[Int] =
    cbs.zipWithIndex.map { case (cb, s) =>
      val sv = v.slice(s * sub, (s + 1) * sub).map(_.toDouble)
      cb.zipWithIndex.map { case (c, j) =>
        (sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, j)
      }.minBy { case (d, j) => (d, j) }._2
    }

  test("codes match the driver reference; invariant under repartitioning") {
    val data = df(400)
    val cbs = Similarity.pqCodebooks(data, "embedding", "vec_id",
      m = m, ksub = 8, iters = 2)
    assert(cbs.size == m && cbs.forall(_.size == 8) &&
      cbs.forall(_.forall(_.size == sub)))
    val got = data
      .select($"vec_id", Similarity.pqEncode($"embedding", cbs).as("codes"))
      .orderBy($"vec_id").as[(Long, Seq[Int])].collect()
    vectors(400).zip(got).foreach { case ((id, v), (gid, codes)) =>
      assert(id == gid && codes == refCodes(v, cbs), s"vec $id")
    }
    val reshuffled = data.repartition(13)
      .select($"vec_id", Similarity.pqEncode($"embedding", cbs).as("codes"))
      .orderBy($"vec_id").as[(Long, Seq[Int])].collect()
    assert(reshuffled.toSeq == got.toSeq)
  }

  test("iters=0 codebooks are the id-ordered sample-init rows") {
    val data = df(100)
    val cbs = Similarity.pqCodebooks(data, "embedding", "vec_id",
      m = m, ksub = 8, iters = 0)
    // the 4096-vector sample covers everything -> init = subvectors of
    // vec_id 0..7
    val first = vectors(100).take(8).map(_._2)
    (0 until m).foreach { s =>
      val expected = first.map(_.slice(s * sub, (s + 1) * sub)
        .map(_.toDouble).toSeq)
      assert(cbs(s) == expected, s"subspace $s")
    }
  }

  test("ADC distance equals the LUT-sum reference and ranks sanely") {
    val data = df(400)
    val cbs = Similarity.pqCodebooks(data, "embedding", "vec_id",
      m = m, ksub = 8, iters = 2)
    val query = vectors(1).head._2.map(_.toDouble)
    val top = Similarity.pqAdcTopK(data, "embedding", "vec_id",
      query, cbs, k = 20).as[(Long, Double)].collect()
    // reference ADC
    val lut = cbs.zipWithIndex.map { case (cb, s) =>
      cb.map(c => query.slice(s * sub, (s + 1) * sub).zip(c)
        .map { case (x, y) => (x - y) * (x - y) }.sum)
    }
    val ref = vectors(400).map { case (id, v) =>
      (id, refCodes(v, cbs).zipWithIndex.map { case (c, s) => lut(s)(c) }
        .reduce(_ + _))
    }.sortBy { case (id, dd) => (dd, id) }.take(20)
    assert(top.toSeq == ref.toSeq)
    // every returned vector shares the query's planted mode (id % 8 == 0):
    // quantized distance still separates well-separated modes
    assert(top.forall { case (id, _) => id % 8 == 0 })
  }

  test("IVF-PQ: residual codes match the driver reference and beat " +
      "plain PQ on reconstruction error") {
    val data = df(400)
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      data, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(data, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    val got = Similarity.ivfPqEncode(
        data.select($"vec_id", $"embedding"), "embedding", coarse, cbs)
      .select($"vec_id", $"pq_cell", $"pq_codes")
      .orderBy($"vec_id").as[(Long, Int, Seq[Int])].collect()
    // driver reference: nearest coarse cell (ties lowest), then refCodes
    // of the residual against the residual codebooks
    vectors(400).zip(got).foreach { case ((id, v), (gid, cell, codes)) =>
      val vd = v.map(_.toDouble)
      val refCell = coarse.zipWithIndex.map { case (c, i) =>
        (vd.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }.minBy { case (d, i) => (d, i) }._2
      assert(id == gid && cell == refCell + 1, s"vec $id cell")
      val resid = vd.zip(coarse(refCell)).map { case (x, y) => x - y }
      val refC = cbs.zipWithIndex.map { case (cb, s) =>
        val sv = resid.slice(s * sub, (s + 1) * sub)
        cb.zipWithIndex.map { case (c, j) =>
          (sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, j)
        }.minBy { case (d, j) => (d, j) }._2
      }
      assert(codes == refC, s"vec $id codes")
    }
    // reconstruction: ivfpq decode = coarse[cell] + cb[s][code] must beat
    // plain PQ decode on total squared error (the point of residuals)
    val plain = Similarity.pqCodebooks(data, "embedding", "vec_id",
      m = m, ksub = 8, iters = 2)
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val (ivfpqErr, pqErr) = vectors(400).map { case (id, v) =>
      val vd = v.map(_.toDouble)
      val (_, cell, codes) = got(id.toInt)
      val dec1 = (0 until dim).map(i =>
        coarse(cell - 1)(i) + cbs(i / sub)(codes(i / sub))(i % sub))
      val pc = refCodes(v, plain)
      val dec2 = (0 until dim).map(i => plain(i / sub)(pc(i / sub))(i % sub))
      (sq(vd, dec1), sq(vd, dec2))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(ivfpqErr < pqErr,
      s"ivfpq total err $ivfpqErr not better than plain pq $pqErr")
  }

  test("ivfPqTopK equals the driver ADC reference over probed cells " +
      "and finds the planted mode") {
    val data = df(400)
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      data, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(data, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    val query = vectors(1).head._2.map(_.toDouble)
    val top = Similarity.ivfPqTopK(data, "embedding", "vec_id",
      query, coarse, cbs, k = 20, nProbe = 3).as[(Long, Double)].collect()
    // driver reference: per probed cell, residual-query LUT; score only
    // vectors assigned to probed cells
    val probed = Similarity.probeCells(query, coarse, 3).toSet
    val ref = vectors(400).flatMap { case (id, v) =>
      val vd = v.map(_.toDouble)
      val cell = coarse.zipWithIndex.map { case (c, i) =>
        (vd.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i + 1)
      }.minBy { case (dd, i) => (dd, i) }._2
      if (!probed.contains(cell)) None
      else {
        val cc = coarse(cell - 1)
        val resid = vd.indices.map(i => vd(i) - cc(i))
        val codes = cbs.zipWithIndex.map { case (cb, s) =>
          val sv = resid.slice(s * sub, (s + 1) * sub)
          cb.zipWithIndex.map { case (c, j) =>
            (sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, j)
          }.minBy { case (dd, j) => (dd, j) }._2
        }
        val qres = query.indices.map(i => query(i) - cc(i))
        val dd = codes.zipWithIndex.map { case (cjj, s) =>
          val cent = cbs(s)(cjj)
          qres.slice(s * sub, (s + 1) * sub).zip(cent)
            .map { case (x, y) => (x - y) * (x - y) }.sum
        }.reduce(_ + _)
        Some((id, dd))
      }
    }.sortBy { case (id, dd) => (dd, id) }.take(20)
    assert(top.toSeq == ref.toSeq)
    // the query's own mode must dominate the results
    assert(top.count { case (id, _) => id % 8 == 0 } >= 15)
  }

  test("serving from a stored index equals the inline encode path, " +
      "including a stale-artifact append") {
    val all = df(400)
    val wave1 = all.filter($"vec_id" % 2 === 0)
    val wave2 = all.filter($"vec_id" % 2 === 1)
    // artifacts FROZEN on wave 1
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      wave1, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(wave1, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    def enc(d: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqEncode(d.select($"vec_id", $"embedding"),
        "embedding", coarse, cbs, cellCol = "cell", codesCol = "codes")
        .select($"vec_id", $"cell", $"codes")
    val index = enc(wave1).unionByName(enc(wave2)) // the appended index
    val query = vectors(1).head._2.map(_.toDouble)
    val fromIndex = Similarity.ivfPqTopKFromIndex(index, "vec_id",
        "cell", "codes", query, coarse, cbs, k = 20, nProbe = 3)
      .as[(Long, Double)].collect().toSeq
    // inline path over the SAME frozen artifacts must agree exactly
    val inline = Similarity.ivfPqTopK(all, "embedding", "vec_id",
        query, coarse, cbs, k = 20, nProbe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("ivfPqMaintain: wave order never changes the index, the counts, " +
      "or what the index serves; folded counts equal a recount") {
    val all = df(400)
    val base = all.filter($"vec_id" % 3 === 0)
    val waveA = all.filter($"vec_id" % 3 === 1)
    val waveB = all.filter($"vec_id" % 3 === 2)
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      base, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(base, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    val idx0 = Similarity.ivfPqEncode(
        base.select($"vec_id", $"embedding"), "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val c0 = Similarity.ivfPqCellCounts(idx0, "cell")
    def fold(waves: Seq[org.apache.spark.sql.DataFrame]) =
      waves.foldLeft((idx0, c0)) { case ((ix, ct), w) =>
        Similarity.ivfPqMaintain(ix, ct, w, "vec_id", "embedding",
          "cell", "codes", coarse, cbs)
      }
    val (ixAB, ctAB) = fold(Seq(waveA, waveB))
    val (ixBA, ctBA) = fold(Seq(waveB, waveA))
    // wave-order invariance: same rows, same counts
    assert(ixAB.exceptAll(ixBA).isEmpty && ixBA.exceptAll(ixAB).isEmpty)
    assert(ctAB.as[(Int, Long)].collect().toSet ==
      ctBA.as[(Int, Long)].collect().toSet)
    // folded counts ≡ recount of the maintained index
    assert(ctAB.as[(Int, Long)].collect().toSet ==
      Similarity.ivfPqCellCounts(ixAB, "cell")
        .as[(Int, Long)].collect().toSet)
    // serving from the maintained index ≡ a one-shot encode of all rows
    val oneShot = Similarity.ivfPqEncode(
        all.select($"vec_id", $"embedding"), "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val query = vectors(1).head._2.map(_.toDouble)
    def serve(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKFromIndex(ix, "vec_id", "cell", "codes",
          query, coarse, cbs, k = 20, nProbe = 3)
        .as[(Long, Double)].collect().toSeq
    assert(serve(ixAB) == serve(oneShot))
    assert(serve(ixAB) == serve(ixBA))
  }

  test("ivfPqRebalance: the flagged cell splits on its own lobes, only " +
      "its rows re-encode, the spliced index equals a full rebuild, the " +
      "fence goes quiet, and wave order never changes the outcome") {
    // planted geometry: cluster = id % 4 (centers 100 apart/dim), the
    // hot cluster 3 bimodal (ids ≡ 7 mod 8 sit +10 away), exact dyadic
    // jitter — the q294 fixture in miniature
    def vec(id: Long): Seq[Float] = (1 to 8).map { i =>
      ((id % 4) * 100.0 + (if (id % 8 == 7) 10.0 else 0.0)
        + ((id * 37 + i * 101) % 19) / 16.0).toFloat }
    def frame(ids: Seq[Long]) = ids.map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val base = frame(0L until 120L)
    // two clone waves of the hot cluster, one per lobe; the +10M/+20M
    // offsets preserve id mod 4 and mod 8, so clones stay in-lobe
    val waveA = frame((0L until 120L).filter(_ % 8 == 3).map(_ + 10000000L))
    val waveB = frame((0L until 120L).filter(_ % 8 == 7).map(_ + 20000000L))
    val coarse = Seq.tabulate(4)(j => Seq.fill(8)(j * 100.0 + 0.5))
    val big = 1 << 20
    val cbs = Similarity.ivfPqCodebooks(base, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 0, sampleN = big)
    val idx0 = Similarity.ivfPqEncode(
        base.select($"vec_id", $"embedding"), "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val c0 = Similarity.ivfPqCellCounts(idx0, "cell")
    def rebalanced(waves: Seq[org.apache.spark.sql.DataFrame]) = {
      val (ix, ct) = waves.foldLeft((idx0, c0)) { case ((i, c), w) =>
        Similarity.ivfPqMaintain(i, c, w, "vec_id", "embedding",
          "cell", "codes", coarse, cbs)
      }
      val flagged = Similarity.ivfPqCellBalance(ct, "cell", 21L, 20L)
        .filter($"rebalance").select($"cell")
        .collect().map(_.getInt(0)).toSeq.sorted
      assert(flagged == Seq(4), s"fence must flag cell 4, got $flagged")
      val source = base.unionByName(waves.reduce(_.unionByName(_)))
      val (coarse2, ix2) = Similarity.ivfPqRebalance(ix.localCheckpoint(),
        "vec_id", "cell", "codes", source, "embedding", coarse, cbs,
        flagged, splitK = 2, sampleN = big)
      (ix.localCheckpoint(), coarse2, ix2.localCheckpoint(), source)
    }
    val (pre, coarse2, spliced, source) = rebalanced(Seq(waveA, waveB))
    val (_, coarse2r, splicedR, _) = rebalanced(Seq(waveB, waveA))
    // wave-order invariance: identical split centroids and rows
    assert(coarse2 == coarse2r)
    assert(spliced.exceptAll(splicedR).isEmpty &&
      splicedR.exceptAll(spliced).isEmpty)
    // the split landed on the two planted lobes (sub-centroids are the
    // hot cell's two lowest-id rows: id 3 = lobe 0, id 7 = lobe 1)
    assert(coarse2.size == 5)
    assert(coarse2(3) == vec(3L).map(_.toDouble).toSeq)
    assert(coarse2(4) == vec(7L).map(_.toDouble).toSeq)
    // untouched cells' code rows are byte-identical
    val before = pre.filter($"cell" =!= 4)
    val after = spliced.filter($"cell" =!= 4 && $"cell" =!= 5)
    assert(before.exceptAll(after).isEmpty &&
      after.exceptAll(before).isEmpty)
    // spliced == full rebuild against the split coarse list
    val full = Similarity.ivfPqEncode(
        source.select($"vec_id", $"embedding"), "embedding", coarse2, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    assert(spliced.exceptAll(full).isEmpty && full.exceptAll(spliced)
      .isEmpty)
    // serving equivalence and the quiet fence
    val query = vec(7L).map(_.toDouble)
    def serve(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKFromIndex(ix, "vec_id", "cell", "codes",
          query, coarse2, cbs, k = 10, nProbe = 3)
        .as[(Long, Double)].collect().toSeq
    assert(serve(spliced) == serve(full) && serve(spliced).nonEmpty)
    assert(Similarity.ivfPqCellBalance(
        Similarity.ivfPqCellCounts(spliced, "cell"), "cell", 21L, 20L)
      .filter($"rebalance").count() == 0)
  }

  test("ivfPqRebalance fails loudly on a null cell in the index — a " +
      "bare !isin would evaluate NULL and silently drop the row") {
    def vec(id: Long): Seq[Float] =
      (1 to 8).map(i => ((id % 2) * 100.0 + i).toFloat)
    val src = (0L until 16L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val coarse = Seq.tabulate(2)(j => Seq.fill(8)(j * 100.0 + 4.0))
    val cbs = Similarity.ivfPqCodebooks(src, "embedding", "vec_id",
      coarse, m = m, ksub = 4, iters = 0, sampleN = 1 << 20)
    val idx = Similarity.ivfPqEncode(src, "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val poisoned = idx.withColumn("cell",
      when($"vec_id" === 5L, lit(null).cast("int")).otherwise($"cell"))
    val e = intercept[Exception] {
      Similarity.ivfPqRebalance(poisoned, "vec_id", "cell", "codes",
        src, "embedding", coarse, cbs, Seq(1), splitK = 2,
        sampleN = 1 << 20)._2.count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("null cell")),
      s"expected the null-cell raise_error, got: ${messages(e)}")
  }

  test("ivfPqCellBalance: exact ppm and cross-multiplied fence on " +
      "hand-checked counts") {
    val counts = Seq((1, 60L), (2, 30L), (3, 10L)).toDF("cell", "n_vecs")
    val got = Similarity.ivfPqCellBalance(counts, "cell", 3L, 2L)
      .as[(Int, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // total 100, 3 cells; ratio_ppm = n*3*1e6 div 100
    assert(got(1) == ((1, 60L, 3L, 100L, 1800000L, true)))  // 1.8 >= 1.5
    assert(got(2) == ((2, 30L, 3L, 100L, 900000L, false)))  // 0.9 < 1.5
    assert(got(3) == ((3, 10L, 3L, 100L, 300000L, false)))
    // exact boundary: ratio == tNum/tDen trips the trigger (>=)
    val edge = Similarity.ivfPqCellBalance(
        Seq((1, 75L), (2, 25L)).toDF("cell", "n_vecs"), "cell", 3L, 2L)
      .as[(Int, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._6).toMap
    assert(edge(1) && !edge(2)) // 75*2 = 150 = 100*3/2 exactly
    intercept[IllegalArgumentException](
      Similarity.ivfPqCellBalance(counts, "cell", 1L, 0L))
  }

  test("ivfPqTopKBatch equals the single-query serving path for every " +
      "query in the frame — no cross-query leak, same tie rules") {
    val all = df(400)
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      all, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(all, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    val index = Similarity.ivfPqEncode(
        all.select($"vec_id", $"embedding"), "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val qids = Seq(0L, 7L, 123L, 333L)
    val queries = all.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding")
    val batch = Similarity.ivfPqTopKBatch(queries, "qid", "embedding",
        index, "vec_id", "cell", "codes", coarse, cbs, k = 20, nProbe = 3)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))
        .sortBy { case (id, dd) => (dd, id) }.toSeq).toMap
    assert(batch.keySet == qids.toSet)
    for (qid <- qids) {
      val qvec = vectors(400).find(_._1 == qid).get._2.map(_.toDouble)
      val single = Similarity.ivfPqTopKFromIndex(index, "vec_id",
          "cell", "codes", qvec, coarse, cbs, k = 20, nProbe = 3)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single, s"qid $qid")
    }
  }

  test("l2TopKBatch equals the driver exact reference; recallAtK " +
      "counts overlap per query with integer-exact division") {
    val all = df(200)
    val qids = Seq(0L, 33L, 77L)
    val queries = all.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding")
    val exact = Similarity.l2TopKBatch(queries, "qid", "embedding",
        all.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._3, r._2))
        .map(_._2).toSeq).toMap
    for (qid <- qids) {
      val q = vectors(200).find(_._1 == qid).get._2.map(_.toDouble)
      val ref = vectors(200).map { case (id, v) =>
        val d = v.map(_.toDouble).zip(q)
          .map { case (x, y) => (x - y) * (x - y) }.sum
        (id, d)
      }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
      assert(exact(qid) == ref, s"qid $qid")
      // the query itself is its own nearest neighbor (distance 0)
      assert(exact(qid).head == qid)
    }
    // recall: overlap of exact-top-5 with a deliberately partial approx
    val exactDf = Similarity.l2TopKBatch(queries, "qid", "embedding",
      all.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 5)
    val approx = exactDf.filter($"vec_id" % 2 === 0) // drop odd-id hits
    val rec = Similarity.recallAtK(exactDf, approx, "qid", "vec_id", k = 5)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(rec.keySet == qids.toSet)
    for (qid <- qids) {
      val expectHits = exact(qid).count(_ % 2 == 0).toLong
      assert(rec(qid)._2 == expectHits)
      assert(rec(qid)._3 == expectHits / 5.0)
    }
  }

  test("indexDelete: tombstoned ids vanish from serving, survivors " +
       "score identically, and the index side never re-shuffles") {
    val all = df(400)
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      all, "embedding", "vec_id", k = 8, iters = 2)
    val cbs = Similarity.ivfPqCodebooks(all, "embedding", "vec_id",
      coarse, m = m, ksub = 8, iters = 2)
    val index = Similarity.ivfPqEncode(
        all.select($"vec_id", $"embedding"), "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val tomb = all.filter($"vec_id" % 5 === 0).select($"vec_id")
    val kept = Similarity.indexDelete(index, "vec_id", tomb, "vec_id")
    val query = vectors(1).head._2.map(_.toDouble)
    val before = Similarity.ivfPqTopKFromIndex(index, "vec_id", "cell",
        "codes", query, coarse, cbs, k = 40, nProbe = 3)
      .as[(Long, Double)].collect().toSeq
    val after = Similarity.ivfPqTopKFromIndex(kept, "vec_id", "cell",
        "codes", query, coarse, cbs, k = 40, nProbe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(after.forall { case (id, _) => id % 5 != 0 })
    // survivors keep their exact pre-deletion scores and relative order
    val beforeSurvivors = before.filter(_._1 % 5 != 0)
    assert(after.take(beforeSurvivors.size)
      .zip(beforeSurvivors).forall { case (a, b) => a == b })
    // the anti-join must not exchange the index side (AQE broadcasts
    // the tombstones): no shuffle of the kept plan beyond the input's
    kept.collect()
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
  }

  test("dim must divide m; empty input yields empty codebooks") {
    val data = df(10)
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(data, "embedding", "vec_id", m = 5, ksub = 4)
    }
    assert(ex.getMessage.contains("not divisible"))
    assert(Similarity.pqCodebooks(data.limit(0), "embedding", "vec_id",
      m = 4, ksub = 4).isEmpty)
  }
}
