package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.BinaryType

/** Explicit bloom-filter join pruning — the manual form of the runtime row
  * filter Spark's AQE injects for shuffle joins (InjectRuntimeFilter), usable
  * where the optimizer can't: across separately-submitted stages, against a
  * pre-shuffled/bucketed probe side, or pushed ahead of an expensive probe
  * pipeline (decode, dedup) that runs BEFORE the join.
  *
  * Shape: the build side aggregates its join keys into one bloom filter
  * (distributed tree aggregation — partial filters build map-side and
  * OR-merge; one blob per partition moves); the single
  * binary blob (`numBits/8` bytes, independent of build-side row count) is
  * the only thing that reaches the driver, and is inlined as a literal into
  * a [[BloomFilterMightContain]] predicate on the probe side, where it
  * filters rows BEFORE the join's exchange. The join still runs, so false
  * positives (rate `fpp`) are eliminated exactly; false negatives are
  * impossible — results are bit-identical to the unpruned join while the
  * probe-side shuffle carries ~`fpp` of its non-matching rows.
  *
  * At 100 TB: the classic use is a selective dim-filter driving a fact-scan
  * prune where the fact side is too large to shuffle unfiltered and the dim
  * side is too large to broadcast as a hash relation (a 100M-key build fits
  * in a few MB of bloom bits but not in a broadcast hash join).
  */
object BloomPrune {

  /** Bloom filter of `keyCol`, built distributed, returned as the serialized
    * blob. `expectedItems` sizes the filter for the target `fpp`.
    *
    * Built with the PUBLIC `util.sketch.BloomFilter` via a tree aggregation
    * over the xxhash64 image of the key — the same domain
    * [[BloomFilterMightContain]] probes (it evaluates XxHash64 and calls
    * `mightContainLong`), and the same serialization (`BloomFilter.readFrom`).
    * Neither BloomFilterAggregate NOR Spark 4's `stat.bloomFilter` (which
    * delegates to it — verified in the shipped bytecode) is usable here:
    * the aggregate silently clamps its sizing to the runtime-filter confs
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`,
    * defaults 4M / 67.1M), so a 100M-key build would get ~1 bit per key
    * and an fpp near 1 with no error — full build cost, zero pruning.
    * The tree aggregate honors the requested size exactly, needs no
    * session-conf mutation (which would race concurrent builds), and
    * returns a valid empty filter for an empty build side. */
  def buildFilter(build: DataFrame, keyCol: String,
                  expectedItems: Long, fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    import org.apache.spark.util.sketch.BloomFilter
    val hashes = build.select(xxhash64(col(keyCol)).as("_graft_h"))
      .rdd.map(_.getLong(0))
    val bf = hashes.treeAggregate(BloomFilter.create(expectedItems, fpp))(
      (b, v) => { b.putLong(v); b },
      (a, b) => { a.mergeInPlace(b); a })
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Predicate: `keyCol` might be in the serialized bloom filter. Codegen'd
    * (BloomFilterMightContain deserializes once per task, not per row). */
  def mightContain(filter: Array[Byte], key: Column): Column =
    if (filter.isEmpty) lit(false)
    else column(new BloomFilterMightContain(
      Literal(filter, BinaryType), new XxHash64(Seq(expression(key)))))

  /** Prune `probe` to rows whose `probeKey` might match a `buildKey` of
    * `build` (a bloom filter at a 3% false-positive rate), then the
    * caller joins as usual. Null probe keys are dropped (they can never
    * equi-match). */
  def prune(probe: DataFrame, probeKey: String,
            build: DataFrame, buildKey: String,
            expectedItems: Long): DataFrame = {
    val bf = buildFilter(build.filter(col(buildKey).isNotNull), buildKey,
      expectedItems, 0.03)
    probe.filter(mightContain(bf, col(probeKey)))
  }

  /** Bloom-pruned inner equi-join: exact join result (the join clears the
    * bloom's false positives), with the probe-side exchange fed only rows
    * that might match. */
  def join(probe: DataFrame, probeKey: String,
           build: DataFrame, buildKey: String,
           expectedItems: Long): DataFrame = {
    // frame-qualified refs: col(...) === col(...) would be ambiguous (or a
    // trivially-true self-reference) when both sides name the key alike
    val pruned = prune(probe, probeKey, build, buildKey, expectedItems)
    pruned.join(build, pruned(probeKey) === build(buildKey))
  }
}
