package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (one scan, no shuffle —
  * per-row arithmetic then a global top-k, which Spark executes as per-
  * partition top-k + driver merge via `orderBy().limit()` with
  * TakeOrderedAndProject). The scale path is random-hyperplane LSH: each
  * vector hashes to a small bucket code, the query probes only its bucket —
  * at 100 TB the bucket column is a partition key, turning ANN into a
  * partition-pruned scan.
  */
object Similarity {

  /** Dot product of two numeric array columns — native single-pass
    * expression (left-to-right double accumulation; see
    * `graft.expressions.DotProductExpr`). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProductExpr.dot(a, b)

  /** Built-in HOF formulation: identical values to [[dot]] (pinned by
    * DotProductExprSpec), kept as the executable spec. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, zero-norm-guarded. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / greatest(norm(a) * norm(b), lit(1e-12))

  /** Exact brute-force top-k: cosine of every row against one query vector.
    * Output ordered by (similarity desc, id) for determinism. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol),
        cosine(col(vecCol), typedLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)

  /** Deterministic random hyperplanes for LSH bucketing. */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7L)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket code of a vector under the given hyperplanes. */
  def bucketCode(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Scala-side bucket code of the query vector (must mirror bucketCode). */
  def bucketCodeOf(query: Seq[Double], planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d > 0) 1L << i else 0L
    }.foldLeft(0L)(_ | _)

  /** LSH-bucketed approximate top-k with multi-probe: search the query's
    * bucket plus every bucket within `probeHamming` sign-bit flips —
    * near-misses on a single hyperplane are the dominant recall loss, so
    * probing hamming-1 neighbors buys most of it back for numPlanes+1
    * buckets of work. Probed codes are enumerated driver-side; the scan
    * stays a bucket-pruned filter. */
  def annTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Double], k: Int, numPlanes: Int = 8,
              probeHamming: Int = 1): DataFrame = {
    val planes = hyperplanes(numPlanes, query.size)
    val qCode = bucketCodeOf(query, planes)
    val probed = probeCodes(qCode, numPlanes, probeHamming)
    df.withColumn("bucket", bucketCode(col(vecCol), planes))
      .filter(col("bucket").isin(probed: _*))
      .select(col(idCol), cosine(col(vecCol), typedLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** All codes within `maxFlips` bit flips of `code` (incl. itself). */
  def probeCodes(code: Long, numPlanes: Int, maxFlips: Int): Seq[Long] = {
    def flips(c: Long, fromBit: Int, remaining: Int): Seq[Long] =
      if (remaining == 0) Seq(c)
      else Seq(c) ++ (fromBit until numPlanes).flatMap(b =>
        flips(c ^ (1L << b), b + 1, remaining - 1))
    flips(code, 0, maxFlips).distinct
  }

  // ------------------------------------------------------------------ IVF

  /** Trained IVF centroids: Lloyd (k-means) iterations over a bounded,
    * deterministic md5-ordered driver sample — FAISS trains IVF on a
    * sample too. Every arithmetic step is restatable in ANSI-ish SQL, so
    * an external engine reproduces the centroids BIT-FOR-BIT (the q42
    * correctness row):
    *
    *   - the bounded sample is ordered by (md5(id), id) — portable and
    *     unbiased;
    *   - iteration runs in ascending-id order, so per-cell mean sums
    *     accumulate in the same sequence as a SQL `list(v ORDER BY id)` +
    *     sequential `list_sum`;
    *   - each new centroid coordinate is floor-quantized to 1e-6 —
    *     `floor(sum/n * 1e6) / 1e6` is exact in both engines, absorbing
    *     any accumulation-order residue;
    *   - distance ties break to the lowest centroid index (strict `<`),
    *     matching `ORDER BY dist, cell LIMIT 1`.
    *
    * Quantization at 1e-6 is far below embedding noise, so training
    * quality is unaffected. Empty cells keep their previous centroid. */
  def ivfCentroidsTrainedPortable(df: DataFrame, vecCol: String, idCol: String,
                                  k: Int, iters: Int = 3,
                                  sampleN: Int = 4096): Seq[Seq[Double]] = {
    val sample = portableSample(df, vecCol, idCol, sampleN)
    if (sample.isEmpty) return Seq.empty
    lloydPortable(sample, k, iters)
  }

  /** The md5-ordered bounded driver sample, re-sorted by id — the
    * training material every portable trainer (IVF, PQ) reads, and the
    * selection the oracles restate (`row_number() OVER (ORDER BY
    * md5(id), id) <= sampleN`, then id order). Driver-side data is
    * ≤ sampleN × dim doubles. */
  private def portableSample(df: DataFrame, vecCol: String, idCol: String,
                             sampleN: Int): Array[Array[Double]] =
    df.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(sampleN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
      .map(_._2)

  /** The portable Lloyd core over an id-ordered driver sample — init =
    * first k rows, `iters` assign+mean rounds with ascending sequential
    * sums and floor-quantized means (the arithmetic the q42/q76 oracles
    * unroll bit-for-bit). Shared by the full-space IVF trainer and the
    * per-subspace PQ trainer. */
  private def lloydPortable(sample: Array[Array[Double]], k: Int,
                            iters: Int): Seq[Seq[Double]] = {
    val dim = sample.head.length
    var centroids = sample.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i =>
          math.floor(sums(c)(i) / counts(c) * 1e6) / 1e6)
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Squared-L2 distances to every centroid (array, centroid order). */
  private def centroidDists(vec: Column, centroids: Seq[Seq[Double]]): Column =
    transform(typedLit(centroids), c =>
      aggregate(zip_with(vec, c, (x, y) => {
        val d = x.cast("double") - y
        d * d
      }), lit(0.0), (acc, v) => acc + v))

  /** IVF cell id = index of the nearest centroid (1-based). */
  def ivfCell(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = centroidDists(vec, centroids)
    array_position(dists, array_min(dists)).cast("int")
  }

  /** Product-quantization codebooks: the space splits into `m` contiguous
    * subspaces of dim/m dims, each with an INDEPENDENT ksub-centroid
    * codebook from the shared portable Lloyd trainer (Jégou et al. 2011)
    * — so a vector compresses to m small codes (m bytes at ksub ≤ 256)
    * instead of dim floats, an 8-64× memory cut that is what makes
    * billion-vector ANN indexes fit at 100 TB scale. `iters = 0` keeps
    * the codebook at the sample-init rows (id-ordered), fully
    * SQL-restatable for the q137 gate; production callers train with
    * iters > 0. Trains on a 4096-vector portable sample. Returns
    * [subspace][centroid][subdim]. */
  def pqCodebooks(df: DataFrame, vecCol: String, idCol: String,
                  m: Int, ksub: Int,
                  iters: Int = 3): Seq[Seq[Seq[Double]]] = {
    val sample = portableSample(df, vecCol, idCol, 4096)
    if (sample.isEmpty) return Seq.empty
    val dim = sample.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m = $m")
    val d = dim / m
    (0 until m).map { s =>
      lloydPortable(sample.map(_.slice(s * d, (s + 1) * d)), ksub, iters)
    }
  }

  /** PQ code array of a vector: per subspace, the 0-based index of the
    * nearest codebook centroid (ties → lowest index, the ivfCell
    * convention). Same squared-distance accumulation as centroidDists —
    * ascending dims, sequential sum — so an external engine restates
    * every code. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val d = codebooks.head.head.size
    array((0 until m).map { s =>
      val sub = slice(vec, s * d + 1, d)
      val dists = transform(typedLit(codebooks(s)), c =>
        aggregate(zip_with(sub, c, (x, y) => {
          val t = x.cast("double") - y
          t * t
        }), lit(0.0), (acc, v) => acc + v))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** IVF-PQ residual codebooks (the FAISS IVFPQ composition): vectors
    * first quantize to a coarse cell, and PQ codebooks train on the
    * RESIDUAL `v − c_cell` — residuals concentrate near the origin, so
    * the same ksub codes spend their resolution on the within-cell
    * detail instead of re-encoding the coarse position. Sample rows
    * assign to their nearest coarse centroid with the [[ivfCell]]
    * arithmetic (ascending dims, ties → lowest index) before the
    * per-subspace Lloyd. */
  def ivfPqCodebooks(df: DataFrame, vecCol: String, idCol: String,
                     coarse: Seq[Seq[Double]], m: Int, ksub: Int,
                     iters: Int = 3,
                     sampleN: Int = 4096): Seq[Seq[Seq[Double]]] = {
    val sample = portableSample(df, vecCol, idCol, sampleN)
    if (sample.isEmpty) return Seq.empty
    val dim = sample.head.length
    require(dim % m == 0, s"ivfPqCodebooks: dim $dim not divisible by m = $m")
    val d = dim / m
    val residuals = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        var dd = 0.0; var i = 0
        while (i < dim) {
          val t = v(i) - coarse(c)(i); dd += t * t; i += 1
        }
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      Array.tabulate(dim)(i => v(i) - coarse(best)(i))
    }
    (0 until m).map { s =>
      lloydPortable(residuals.map(_.slice(s * d, (s + 1) * d)), ksub, iters)
    }
  }

  /** IVF-PQ encode: appends `cellCol` ([[ivfCell]], 1-based) and
    * `codesCol` (PQ codes of the residual `v − coarse[cell]`) to the
    * frame. Cell and residual MATERIALIZE as their own projection
    * columns — a single nested expression would re-evaluate the coarse
    * argmin inside every residual-centroid lambda (m × ksub × the 8×64
    * assignment walk per row: measured 60× slower at sf0.1), and
    * Catalyst's CollapseProject keeps multiply-referenced non-cheap
    * aliases materialized, so each stage runs once per row. At scale
    * the stored index is the small cell + m codes per vector. */
  def ivfPqEncode(df: DataFrame, vecCol: String, coarse: Seq[Seq[Double]],
                  codebooks: Seq[Seq[Seq[Double]]],
                  cellCol: String = "pq_cell",
                  codesCol: String = "pq_codes"): DataFrame =
    df.withColumn(cellCol, ivfCell(col(vecCol), coarse))
      .withColumn("_graft_resid", zip_with(col(vecCol),
        element_at(typedLit(coarse), col(cellCol)),
        (x, c) => x.cast("double") - c))
      .withColumn(codesCol, pqEncode(col("_graft_resid"), codebooks))
      .drop("_graft_resid")

  /** Asymmetric-distance (ADC) approximate top-k over PQ codes: the
    * query stays EXACT while every corpus vector is its m codes — the
    * distance is a sum of m lookup-table reads, never a 64-dim float
    * walk. The m × ksub LUT (‖q_s − c_sj‖², ascending-dim accumulation)
    * is driver-computed and inlined as literals; the per-row work is m
    * array reads + (m−1) adds inside whole-stage codegen, and the top-k
    * is a TakeOrdered (per-partition heads). At scale the scan reads
    * ONLY the m-byte code column — the 8-64× scan-byte cut is the whole
    * point of PQ. */
  def pqAdcTopK(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]],
                k: Int): DataFrame = {
    val m = codebooks.size
    val d = codebooks.head.head.size
    val lut: Seq[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { c =>
        var acc = 0.0
        var i = 0
        while (i < d) {
          val t = query(s * d + i) - c(i)
          acc += t * t
          i += 1
        }
        acc
      }
    }
    val codes = pqEncode(col(vecCol), codebooks)
    df.select(col(idCol), codes.as("_graft_codes"))
      .select(col(idCol),
        (0 until m).map(s =>
            element_at(typedLit(lut(s)),
              element_at(col("_graft_codes"), s + 1) + 1))
          .reduce(_ + _).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ approximate top-k — the full FAISS IVFPQ serving path:
    * probe the query's `nProbe` nearest coarse cells, and inside them
    * score ONLY the stored (cell, codes) index via per-cell ADC lookup
    * tables on the RESIDUAL query `q − c_cell` (each probed cell gets
    * its own m × ksub LUT, driver-computed — nProbe · m · ksub doubles
    * of literals). At scale the scan reads the code column of ~nProbe/k
    * of the data (cell is the partition/bucket column) and never
    * touches a corpus float; per row the cost is m LUT reads + adds in
    * codegen, and the top-k is a TakeOrdered. */
  def ivfPqTopK(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], coarse: Seq[Seq[Double]],
                codebooks: Seq[Seq[Seq[Double]]], k: Int,
                nProbe: Int = 4): DataFrame =
    ivfPqTopKFromIndex(
      ivfPqEncode(df.select(col(idCol), col(vecCol)), vecCol,
        coarse, codebooks, cellCol = "_graft_cell", codesCol = "_graft_codes"),
      idCol, "_graft_cell", "_graft_codes", query, coarse, codebooks, k,
      nProbe)

  /** The serving half of [[ivfPqTopK]] over an ALREADY-ENCODED index
    * frame `(id, cell, codes)` — the shape a standing vector index has
    * after [[ivfPqEncode]] output is persisted to a table. This is the
    * 100 TB serving pattern: the index is STORED (and grown
    * incrementally — new batches encode against the frozen coarse/PQ
    * artifacts and append, no retrain, q163), queries probe `nProbe`
    * cells of the stored codes, and no corpus float is ever re-read. */
  def ivfPqTopKFromIndex(index: DataFrame, idCol: String, cellCol: String,
                         codesCol: String, query: Seq[Double],
                         coarse: Seq[Seq[Double]],
                         codebooks: Seq[Seq[Seq[Double]]], k: Int,
                         nProbe: Int = 4): DataFrame = {
    val m = codebooks.size
    val d = codebooks.head.head.size
    val probed = probeCells(query, coarse, nProbe)
    // per probed cell: LUT over the residual query (ascending-dim sums)
    val luts: Map[Int, Seq[Seq[Double]]] = probed.map { cell =>
      val c = coarse(cell - 1)
      val qres = query.indices.map(i => query(i) - c(i))
      cell -> codebooks.zipWithIndex.map { case (cb, s) =>
        cb.map { cent =>
          var acc = 0.0
          var i = 0
          while (i < d) {
            val t = qres(s * d + i) - cent(i)
            acc += t * t
            i += 1
          }
          acc
        }
      }
    }.toMap
    val indexed = index
      .select(col(idCol), col(cellCol), col(codesCol))
      .filter(col(cellCol).isin(probed: _*))
    val dist = probed.map { cell =>
      (col(cellCol) === cell,
        (0 until m).map(s =>
            element_at(typedLit(luts(cell)(s)),
              element_at(col(codesCol), s + 1) + 1))
          .reduce(_ + _))
    }.foldLeft(when(lit(false), lit(0.0))) { case (acc, (cond, e)) =>
      acc.when(cond, e)
    }
    indexed.select(col(idCol), dist.as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** Tombstone DELETE from a stored ANN index: drop the deleted ids'
    * code rows with one left-anti join. Cell assignments and codebooks
    * are unchanged — they are trained artifacts, not per-row state —
    * so the remaining index serves immediately, exactly as if the rows
    * had never been encoded (gated by q179 against the q147 oracle
    * chain with the membership filter). At scale the tombstone side is
    * typically small → AQE broadcasts the anti-join; the index never
    * re-shuffles. */
  def indexDelete(index: DataFrame, idCol: String,
                  tombstones: DataFrame, tombIdCol: String): DataFrame =
    index.join(
      tombstones.select(col(tombIdCol).as("_graft_del_id")).distinct(),
      col(idCol) === col("_graft_del_id"), "left_anti")

  /** Per-cell occupancy of a stored `(id, cell, codes)` index:
    * `(cellCol, n_vecs)` — the standing state [[ivfPqMaintain]] folds
    * wave counts into. One map-side-combinable aggregate. */
  def ivfPqCellCounts(index: DataFrame, cellCol: String): DataFrame =
    index.groupBy(col(cellCol)).agg(count(lit(1)).as("n_vecs"))

  /** Incremental IVF-PQ index MAINTENANCE — the daily-embedding-wave
    * upkeep the rest of the maintenance family (q190 aggregates, q193
    * distinct counts, q278 joins, q261 components, q264 reservoirs)
    * already has: a new wave encodes against the FROZEN coarse
    * quantizer and residual codebooks (they are trained artifacts, not
    * per-row state — the [[indexDelete]] argument) and appends to the
    * stored index, while per-cell occupancy counts fold as a
    * commutative monoid (state + wave counts — any wave order, any
    * batching, same counts). The index never rescans and never
    * reshuffles: per wave the work is encode (one codegen projection
    * per row) + one wave-sized count aggregate.
    *
    * Returns `(index', counts')`: the grown index and the folded
    * per-cell counts. Feed `counts'` to [[ivfPqCellBalance]] for the
    * rebalance trigger — the point of maintaining counts at all is
    * knowing WHEN the frozen quantizer has drifted from the data
    * (a hot cell degrades ADC resolution and probe selectivity) and a
    * retrain is due, without ever scanning the index. */
  def ivfPqMaintain(index: DataFrame, counts: DataFrame, wave: DataFrame,
                    idCol: String, vecCol: String, cellCol: String,
                    codesCol: String, coarse: Seq[Seq[Double]],
                    codebooks: Seq[Seq[Seq[Double]]])
      : (DataFrame, DataFrame) = {
    val encoded = ivfPqEncode(wave.select(col(idCol), col(vecCol)),
        vecCol, coarse, codebooks, cellCol, codesCol)
      .select(col(idCol), col(cellCol), col(codesCol))
    val folded = counts
      .unionByName(ivfPqCellCounts(encoded, cellCol))
      .groupBy(col(cellCol)).agg(sum(col("n_vecs")).as("n_vecs"))
    (index.unionByName(encoded), folded)
  }

  /** Cell-skew report over maintained counts — [[
    * graft.operators.SkewAudit]]'s uniform-ratio machinery in EXACT
    * integer form: `skew_ppm = n_vecs·n_cells·10⁶ div total` (ppm of
    * the perfectly-uniform occupancy) and the `rebalance` trigger
    * `n_vecs·n_cells ≥ total·tNum/tDen` decided by cross-multiplied
    * DECIMAL(38,0) comparison — both engines agree on every fence.
    * One 1-row broadcast onto the cell-count frame; no window, no
    * driver data. A tripped trigger means the frozen quantizer no
    * longer matches the data distribution: retrain coarse/codebooks
    * and re-encode (the one full-scan operation, now scheduled by
    * MEASUREMENT instead of by calendar). */
  def ivfPqCellBalance(counts: DataFrame, cellCol: String,
                       tNum: Long, tDen: Long): DataFrame = {
    require(tDen > 0 && tNum >= 0,
      s"ivfPqCellBalance: need tNum >= 0, tDen > 0, got $tNum/$tDen")
    val dec = "decimal(38,0)"
    val lt = org.apache.spark.sql.types.LongType
    val tot = counts.agg(sum(col("n_vecs")).as("_total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .select(col(cellCol), col("n_vecs"), col("n_cells"),
        col("_total").as("total_vecs"),
        expr(s"CAST(n_vecs AS $dec) * n_cells * 1000000 div _total")
          .try_cast(lt).as("skew_ppm"),
        (expr(s"CAST(n_vecs AS $dec) * n_cells * $tDen") >=
          expr(s"CAST(_total AS $dec) * $tNum")).as("rebalance"))
  }

  /** Execute the rebalance [[ivfPqCellBalance]]'s fence calls for —
    * without the full-corpus retrain the calendar path would burn:
    * each flagged hot cell SPLITS into `splitK` sub-cells by training
    * sub-centroids on ONLY that cell's vectors (the bounded-sample
    * portable Lloyd path — deterministic, oracle-restatable), and ONLY
    * the hot cell's rows re-encode (residual PQ codes against their
    * new sub-centroid, codebooks stay frozen). Sub-centroid 1 splices
    * into the split cell's slot and the rest append, so every
    * untouched cell keeps its centroid, its cell id, and its code rows
    * BYTE-IDENTICAL — serving, probe order, and stored state for the
    * cold 99% of the index never move.
    *
    * `source` supplies the raw vectors for re-encoding (codes are
    * lossy, so a rebalance necessarily re-reads the hot rows' vectors
    * from the lake — and ONLY those: the join keys on the hot cell's
    * ids, a corpus fraction, never a full scan). Returns
    * `(coarse', index')`; recount with [[ivfPqCellCounts]].
    *
    * The split's sub-centroids are the sample-init rows (no Lloyd
    * rounds), so the split is SQL-restatable like the q137 codebooks.
    *
    * At 100 TB: work is (hot-cell rows) × encode + one bounded driver
    * sample per split — proportional to the skew, not the index. */
  def ivfPqRebalance(index: DataFrame, idCol: String, cellCol: String,
                     codesCol: String, source: DataFrame, vecCol: String,
                     coarse: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]],
                     hotCells: Seq[Int], splitK: Int,
                     sampleN: Int = 4096)
      : (Seq[Seq[Double]], DataFrame) = {
    require(splitK >= 2, s"ivfPqRebalance: splitK must be >= 2, got $splitK")
    require(hotCells.nonEmpty && hotCells.toSet.size == hotCells.size,
      "ivfPqRebalance: hotCells must be non-empty and distinct")
    require(hotCells.forall(c => c >= 1 && c <= coarse.size),
      s"ivfPqRebalance: hot cell out of range 1..${coarse.size}")
    var coarseNew = coarse
    var pieces = List.empty[DataFrame]
    val src = source.select(col(idCol), col(vecCol))
    hotCells.foreach { c =>
      val rows = index.filter(col(cellCol) === c).select(col(idCol))
        .join(src, Seq(idCol))
      val subs = ivfCentroidsTrainedPortable(rows, vecCol, idCol, splitK,
        iters = 0, sampleN)
      require(subs.nonEmpty,
        s"ivfPqRebalance: hot cell $c has no source vectors to train on")
      val base = coarseNew.size
      // global cell ids: sub 1 keeps slot c, subs 2.. append past base
      val globalIds: Seq[Int] = c +: (1 until subs.size).map(base + _)
      // sub assignment, new cell, and residual each materialize as
      // their own projection (the ivfPqEncode anti-re-evaluation rule)
      val re = rows
        .withColumn("_graft_sub", ivfCell(col(vecCol), subs))
        .withColumn(cellCol,
          element_at(typedLit(globalIds), col("_graft_sub")).cast("int"))
        .withColumn("_graft_resid", zip_with(col(vecCol),
          element_at(typedLit(subs), col("_graft_sub")),
          (x, cc) => x.cast("double") - cc))
        .withColumn(codesCol, pqEncode(col("_graft_resid"), codebooks))
        .select(col(idCol), col(cellCol), col(codesCol))
      pieces ::= re
      coarseNew = coarseNew.updated(c - 1, subs.head) ++ subs.tail
    }
    // null-SAFE keep predicate: `!isin` is NULL (row dropped) for a null
    // cell — a malformed index row must fail loudly, not vanish from the
    // rebuilt index
    val untouched = index.filter(
      when(col(cellCol).isNull, raise_error(lit(
        s"ivfPqRebalance: null $cellCol in index — malformed index row")))
        .otherwise(!col(cellCol).isin(hotCells: _*)))
    (coarseNew, pieces.foldLeft(untouched)(_.unionByName(_)))
  }

  /** BATCHED IVF-PQ serving over a stored index — offline retrieval
    * evaluation's shape: a query *DataFrame* `(qid, vector)` joins the
    * standing `(id, cell, codes)` index cell-wise, with NO per-query
    * driver loop (the [[ivfPqTopKFromIndex]] single-vector path is the
    * online-serving special case). Per query row the plan computes its
    * `nProbe` probe cells and its per-cell residual ADC LUTs as array
    * columns (HOFs over the broadcast coarse/codebook literals — work
    * proportional to queries × nProbe, never to the corpus), then the
    * query side — tiny next to the index — broadcast-joins the index
    * on the cell column, so the index scan reads each probed cell ONCE
    * for ALL queries probing it and never touches a corpus float.
    * Per-query top-k is the BOUNDED bottom-k aggregate
    * ([[graft.functions.Sketches.bottomKByScore]]): ≤ k entries of
    * partial state per query per partition, map-side combined — never a
    * `PARTITION BY qid` sort window, which would shuffle and sort every
    * query's full candidate set (a corpus fraction) on one task.
    * Requires a bigint id column. Accumulation orders (ascending dim
    * inside a subspace, ascending subspace across) mirror
    * [[ivfPqTopKFromIndex]] exactly, so the q147 oracle restates
    * per-query (q166). */
  def ivfPqTopKBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                     index: DataFrame, idCol: String, cellCol: String,
                     codesCol: String, coarse: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]], k: Int,
                     nProbe: Int = 4): DataFrame = {
    val m = codebooks.size
    val d = codebooks.head.head.size
    // nProbe nearest cells per query: (dist, cell) structs sorted by
    // (dist, cell) — the probeCells tie rule — then the cell ids
    val dists = centroidDists(col(qvecCol), coarse)
    val ranked = array_sort(zip_with(dists,
      sequence(lit(1), lit(coarse.size)),
      (dd, cc) => struct(dd.as("d"), cc.as("cell"))))
    val probed = queries.select(col(qidCol), col(qvecCol),
        explode(slice(ranked, 1, nProbe)).as("_p"))
      .select(col(qidCol), col(qvecCol),
        col("_p.cell").cast("int").as(cellCol))
    // residual q − c_cell, then the m × ksub ADC LUT for THIS (query,
    // cell) pair — ascending-dim aggregate inside a subspace, matching
    // the driver-side LUT loop bit for bit
    val qres = zip_with(col(qvecCol).cast("array<double>"),
      element_at(typedLit(coarse), col(cellCol)), (a, b) => a - b)
    val lut = transform(typedLit(codebooks), (cbS, s) =>
      transform(cbS, cent =>
        aggregate(sequence(lit(0), lit(d - 1)), lit(0.0), (acc, i) => {
          val t = element_at(col("_qres"), (s * d + i + 1).cast("int")) -
            element_at(cent, (i + 1).cast("int"))
          acc + t * t
        })))
    val qSide = probed.withColumn("_qres", qres)
      .select(col(qidCol), col(cellCol), lut.as("_lut"))
    // the query side is queries × nProbe rows — broadcast it so the
    // index scan stays shuffle-free and each probed cell is read once
    val joined = index.select(col(idCol), col(cellCol), col(codesCol))
      .join(broadcast(qSide), cellCol)
    val adc = aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, s) =>
      acc + element_at(element_at(col("_lut"), s.cast("int")),
        (element_at(col(codesCol), s.cast("int")) + 1).cast("int")))
    joined.select(col(qidCol), col(idCol), adc.as("adc_dist"))
      .groupBy(col(qidCol))
      .agg(Sketches.bottomKByScore(col(idCol), col("adc_dist"), k)
        .as("_graft_topk"))
      .select(col(qidCol), explode(col("_graft_topk")).as("_graft_e"))
      .select(col(qidCol), col("_graft_e.id").as(idCol),
        col("_graft_e.score").as("adc_dist"))
  }

  /** EXACT batched top-k by squared L2 — the ground-truth side of an
    * offline retrieval evaluation: every query row scores the whole
    * corpus (inherently O(N·Q); that is what "exact baseline" means),
    * with the tiny query frame broadcast so the corpus scans ONCE for
    * all queries and never shuffles. Ascending-dim accumulation, so the
    * distances restate in SQL (q167). Per-query top-k = the bounded
    * bottom-k aggregate with (dist, id) ties — ≤ k entries of partial
    * state per query per partition, crucial here because the exact
    * side's candidate set per query is the WHOLE corpus. Requires a
    * bigint id column. Same tie rule as [[ivfPqTopKBatch]]. */
  def l2TopKBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                  corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    // the query vector renames internally so callers may use the same
    // column name on both sides (the common case)
    val dist = aggregate(
      zip_with(col(vecCol).cast("array<double>"),
        col("_graft_qvec").cast("array<double>"), (x, y) => {
          val t = x - y
          t * t
        }),
      lit(0.0), (acc, v) => acc + v)
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(queries.select(col(qidCol),
        col(qvecCol).as("_graft_qvec"))))
      .select(col(qidCol), col(idCol), dist.as("l2_dist"))
      .groupBy(col(qidCol))
      .agg(Sketches.bottomKByScore(col(idCol), col("l2_dist"), k)
        .as("_graft_topk"))
      .select(col(qidCol), explode(col("_graft_topk")).as("_graft_e"))
      .select(col(qidCol), col("_graft_e.id").as(idCol),
        col("_graft_e.score").as("l2_dist"))
  }

  /** Recall@k report — the index-quality metric an offline evaluation
    * ships: per query, how many of the exact top-k the approximate
    * index surfaced. `exact`/`approx` are (qid, id, …) frames (the
    * [[l2TopKBatch]] / [[ivfPqTopKBatch]] shapes); the overlap is one
    * equi-join + count, recall a single integer division (restates
    * exactly in SQL). Queries the approx side missed entirely still
    * report (n_hit = 0) via the exact side's qid set. */
  def recallAtK(exact: DataFrame, approx: DataFrame, qidCol: String,
                idCol: String, k: Int): DataFrame = {
    val hits = exact.select(col(qidCol), col(idCol))
      .join(approx.select(col(qidCol), col(idCol)), Seq(qidCol, idCol))
      .groupBy(col(qidCol)).agg(count(lit(1)).as("n_hit"))
    exact.select(col(qidCol)).distinct()
      .join(hits, Seq(qidCol), "left")
      .select(col(qidCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / k.toDouble).as("recall_at_k"))
  }

  /** Scala-side nProbe nearest cells for the query (must mirror ivfCell). */
  def probeCells(query: Seq[Double], centroids: Seq[Seq[Double]],
                 nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (x, y) => (x - y) * (x - y) }.sum, i + 1)
    }.sortBy { case (d, i) => (d, i) }.take(nProbe).map(_._2)

  /** IVF approximate top-k: assign every vector to its nearest coarse
    * centroid, probe only the query's nProbe nearest cells. At scale the
    * cell id is a partition/bucket column, so the probe is a
    * partition-pruned scan over ~nProbe/k of the data. */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Double], k: Int, centroids: Seq[Seq[Double]],
              nProbe: Int = 4): DataFrame = {
    val probed = probeCells(query, centroids, nProbe)
    df.withColumn("ivf_cell", ivfCell(col(vecCol), centroids))
      .filter(col("ivf_cell").isin(probed: _*))
      .select(col(idCol), cosine(col(vecCol), typedLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-dup pairs within blocking groups (same label).
    *
    * EXACT sub-blocking: cos(a,b) ≥ τ on unit vectors means
    * ‖â−b̂‖² ≤ 2(1−τ) =: r², so every coordinate of the normalized vectors
    * differs by at most r. Quantizing `nAxes` coordinates into cells of
    * width r means a qualifying pair's cells differ by at most 1 per axis —
    * the b-side probes its 3^k cell neighborhood and NO qualifying pair is
    * missed (unlike hyperplane-LSH blocking, which trades recall). Each
    * pair meets on exactly one delta vector, so no distinct is needed. The
    * within-(label, cell) pair count replaces the within-label m² blowup.
    * Axes are the highest-variance normalized coordinates from a bounded
    * driver-side sample (see [[chooseBlockAxes]]), so a corpus whose first
    * dimensions are concentrated cannot recreate a hot cell.
    *
    * Norms are computed once per vector before the pair join — the join
    * evaluates only one dot product per pair instead of three.
    */
  /** Blocking axes = the `nAxes` highest-variance coordinates of the
    * NORMALIZED vectors. Fixed axes (0, 1) degrade silently when the first
    * coordinates are concentrated or correlated (common with learned
    * embeddings): most rows land in one (label, cell) and the within-cell
    * join slides back toward m². Variance is the right spread proxy because
    * cell width is fixed (r): the axis with the widest normalized spread
    * splits the corpus into the most cells. Ties break to the lower dim. */
  def chooseBlockAxes(vectors: Seq[Seq[Double]], nAxes: Int): Seq[Int] = {
    if (vectors.isEmpty) return (0 until nAxes)
    val dim = vectors.head.length
    val normed = vectors.map { v =>
      val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
      v.map(_ / n)
    }
    val m = normed.size.toDouble
    val variance = (0 until dim).map { i =>
      val mean = normed.map(_(i)).sum / m
      normed.map(v => (v(i) - mean) * (v(i) - mean)).sum / m
    }
    variance.zipWithIndex.sortBy { case (v, i) => (-v, i) }
      .take(math.min(nAxes, dim)).map(_._2)
  }

  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, threshold: Double): DataFrame = {
    // block on the 2 highest-variance axes of a 2048-vector sample
    val (nAxes, sampleN) = (2, 2048)
    val r = math.sqrt(2.0 * math.max(1.0 - threshold, 1e-9))
    // axis choice is pure performance tuning: the 3^k neighborhood probe is
    // exact on ANY axes, so the result set is identical whatever the sample
    // returns — an unordered limit() is fine here
    // null vectors must not reach the driver-side getSeq (SQL null
    // propagation handles them in the distributed plan; the sample can't)
    val axes = chooseBlockAxes(
      df.select(col(vecCol)).filter(col(vecCol).isNotNull)
        .limit(sampleN).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq, nAxes)
    def cell(i: Int): Column = floor(
      element_at(col(vecCol), i + 1).cast("double") /
        greatest(norm(col(vecCol)), lit(1e-12)) / lit(r)).cast("long")
    val cCols = axes.indices.map(j => s"c$j")
    val kCols = axes.indices.map(j => s"k$j")
    // localCheckpoint, not persist: both join sides read it, and the
    // blocks are ContextCleaner-reclaimed — no cache residue across calls
    val normed = df.select(
      Seq(col(blockCol), col(idCol), col(vecCol), norm(col(vecCol)).as("nrm")) ++
        axes.zipWithIndex.map { case (ax, j) => cell(ax).as(s"c$j") }: _*)
      .localCheckpoint()
    val a = normed.toDF(
      Seq(blockCol, s"${idCol}_a", "vec_a", "norm_a") ++ kCols: _*)
    // 3^k probe deltas: each qualifying pair meets on exactly one delta
    val deltas = axes.indices.foldLeft(Seq(Seq.empty[Long]))((acc, _) =>
      acc.flatMap(d => Seq(-1L, 0L, 1L).map(d :+ _)))
    val b = normed.toDF(
      Seq(blockCol, s"${idCol}_b", "vec_b", "norm_b") ++ cCols: _*)
      .withColumn("d", explode(typedLit(deltas)))
      .select(
        Seq(col(blockCol), col(s"${idCol}_b"), col("vec_b"), col("norm_b")) ++
          axes.indices.map(j =>
            (col(s"c$j") + element_at(col("d"), j + 1)).as(s"k$j")): _*)
    a.join(b, blockCol +: kCols)
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .withColumn("cosine_sim",
        dot(col("vec_a"), col("vec_b")) /
          greatest(col("norm_a") * col("norm_b"), lit(1e-12)))
      .filter(col("cosine_sim") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("cosine_sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * embedding space with the portable Lloyd quantizer, then within each
    * cluster drop every vector that has a LOWER-id neighbor at cosine ≥
    * threshold (keep the first, drop the rest — the greedy min-id rule).
    * Unlike [[cosineNearDups]] this needs no caller-provided blocking
    * column: the learned cells ARE the blocks, which is the whole point at
    * 100 TB — candidate pairs are bounded by Σ cell² instead of n², and k
    * scales with the corpus so cells stay machine-sized. Near-dup pairs
    * split across a cell boundary are missed (SemDeDup's documented
    * trade-off); exact duplicates always share a cell because identical
    * vectors produce identical distance rows and the tie breaks to the same
    * lowest index.
    *
    * Returns `(id, cell, keep)` for every input row. Every arithmetic step
    * (portable centroids, sequential-accumulation cosine) restates
    * bit-for-bit in SQL, so the whole operator is oracle-checkable. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, threshold: Double): DataFrame = {
    val centroids = ivfCentroidsTrainedPortable(df, vecCol, idCol, k)
    // assigned feeds both self-join sides and the final flag join —
    // materialize so the scan + k×64-dim distance battery runs once.
    // localCheckpoint: ContextCleaner-reclaimed, no cache residue
    val assigned = df.select(col(idCol), col(vecCol))
      .withColumn("cell", ivfCell(col(vecCol), centroids))
      .localCheckpoint()
    val a = assigned.toDF(s"${idCol}_a", "vec_a", "cell")
    val b = assigned.toDF(s"${idCol}_b", "vec_b", "cell")
    val dropped = a.join(b, "cell")
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select(col(s"${idCol}_b").as(idCol)).distinct()
      .withColumn("_graft_dup", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        col("_graft_dup").isNull.as("keep"))
  }

  /** In-cluster HARD-NEGATIVE mining for contrastive training data: for
    * each labeled vector, the most-similar vector with a DIFFERENT label
    * among its Lloyd-cell mates (highest cosine; ties break to the
    * smallest id). Hard negatives are the pairs a contrastive objective
    * learns most from, and the near neighbors that make them hard are by
    * construction concentrated in the same quantizer cell — so the cells
    * double as the candidate blocks, the [[semanticDedup]] Σ cell² shape,
    * never an n² sweep. Vectors whose cell holds no other label report a
    * null negative (left join), not a dropped row.
    *
    * Output: `(id, label, cell, neg_id, neg_label, cosine_sim)`. Portable
    * centroids + sequential-accumulation cosine, so the whole mine
    * restates in SQL (q158). */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int,
                    sampleN: Int = 4096): DataFrame = {
    val centroids = ivfCentroidsTrainedPortable(df, vecCol, idCol, k,
      3, sampleN)
    // assigned feeds both self-join sides and the restore join —
    // localCheckpoint so the k×dim distance battery runs once
    val assigned = df.select(col(idCol), col(vecCol), col(labelCol))
      .withColumn("cell", ivfCell(col(vecCol), centroids))
      .localCheckpoint()
    val a = assigned.toDF(idCol, "vec_a", "label_a", "cell")
    val b = assigned.toDF("neg_id", "vec_b", "neg_label", "cell")
    val best = a.join(b, "cell")
      .filter(col("label_a") =!= col("neg_label"))
      .withColumn("cosine_sim", cosine(col("vec_a"), col("vec_b")))
      .groupBy(col(idCol))
      // min over (−cos, id) = max cosine, ties to the smallest neg id —
      // a partial-aggregating pick, never a PARTITION BY window
      .agg(min_by(
        struct(col("neg_id"), col("neg_label"), col("cosine_sim")),
        struct(negate(col("cosine_sim")), col("neg_id"))).as("_n"))
    assigned.select(col(idCol), col(labelCol), col("cell"))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col(labelCol), col("cell"),
        col("_n.neg_id").as("neg_id"),
        col("_n.neg_label").as("neg_label"),
        col("_n.cosine_sim").as("cosine_sim"))
  }

  /** Deterministic ±1 sign matrix for Johnson–Lindenstrauss projection:
    * entry (j, i) is +1 iff the portable 60-bit md5 hash of "i:j" is even
    * — no PRNG, no stored model, any engine regenerates the identical
    * matrix from the formula (the thresholdHex/hash60 reproducibility
    * seam). Rows are output dims, columns input dims (1-based i). */
  def signMatrix(inDim: Int, outDim: Int): Seq[Seq[Double]] =
    (0 until outDim).map(j => (1 to inDim).map(i =>
      if (graft.expressions.Hash60Expr
            .hash60(s"$i:$j".getBytes("UTF-8")) % 2 == 0) 1.0 else -1.0).toSeq)

  /** Sign (Achlioptas-style) random projection of a float vector onto
    * `signs.size` dims: y_j = Σ_i x_i·s_ji as a STATIC left-to-right
    * addition chain — pure arithmetic, whole-stage-codegen'd (no
    * higher-order functions), and the sequential order restates exactly
    * as `x[1]·s + x[2]·s + …` in an external engine.
    *
    * Why at 100 TB: a 64-dim float embedding store projected to 8 dims
    * cuts ANN scan bytes 8×, and the JL lemma bounds the distance
    * distortion; pair with [[Quantize.quantizeVectors]] for the full
    * compression ladder. The matrix is deterministic, so re-projection of
    * new data needs no model artifact. */
  def signProject(vec: Column, signs: Seq[Seq[Double]]): Column =
    // the codegen'd kernel computes the identical left-to-right IEEE
    // accumulation as the element_at chain it replaced (pinned
    // bit-for-bit by MatVecExprSpec) — but as one expression node, so
    // (k·d) no longer scales the plan or busts janino's method limits
    graft.expressions.MatVecExpr.matVec(vec, signs,
      Seq.fill(signs.headOption.map(_.size).getOrElse(0))(0.0))
}
