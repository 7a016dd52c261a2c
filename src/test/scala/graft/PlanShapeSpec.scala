package graft

import org.apache.spark.sql.functions._

/** Pins the physical-plan properties the 100 TB posture depends on — a
  * passing result with a regressed plan (lost pushdown, surprise
  * broadcast of a big side) is still a failure at scale. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("filters and projection push into the parquet scan") {
    val plan = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .filter($"l_quantity" > 40.0)
      .select($"l_orderkey", $"l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment")) // untouched columns pruned
  }

  test("dimension joins broadcast the small side, not the fact side") {
    val plan = graft.SparkEntry.queries("q04_nation_revenue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // the broadcast exchanges sit on dimension scans (nation/region/customer
    // paths), never on lineitem
    val broadcastBlocks = plan.split("BroadcastExchange").drop(1)
    assert(broadcastBlocks.nonEmpty &&
      !broadcastBlocks.exists(b =>
        b.linesIterator.take(8).exists(_.contains("lineitem"))))
  }

  test("q03/q04 leave join selection on row-scaling tables to AQE (no forced hints)") {
    // A broadcast() hint on orders/customer would override Spark's size
    // checks and force the driver to materialize a table that grows with
    // the scale factor — driver-OOM-by-construction at 100×. Only the
    // constant-size dims (nation: 25 rows, region: 5 rows) may carry
    // explicit hints; everything else is AQE's runtime decision.
    def hintedRelations(name: String): Seq[String] = {
      val analyzed = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.analyzed
      analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
          h.child.collectLeaves().map(_.toString).mkString
      }
    }
    assert(hintedRelations("q03_join_topk").isEmpty)
    val q04Hints = hintedRelations("q04_nation_revenue")
    assert(q04Hints.size == 2)
    assert(q04Hints.forall(r => r.contains("nation") || r.contains("region")))
    assert(!q04Hints.exists(r => r.contains("orders") || r.contains("customer")))
  }

  test("salted join never broadcasts the replicated side") {
    val l = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderstatus")
    val plan = graft.operators.Skew.saltedJoin(l, o, Seq("l_orderkey"),
        distCol = "l_linenumber")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"))
  }

  test("config-lookup join broadcasts the config side (J2)") {
    val facts = graft.sources.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus")
    val config = Seq(("O", "open"), ("F", "final"), ("P", "pending"))
      .toDF("o_orderstatus", "status_name")
    val plan = facts.join(broadcast(config), Seq("o_orderstatus"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("as-of join runs on a SINGLE exchange (no join-then-prune blowup)") {
    val quotes = Seq((1L, 100L, 9.5), (1L, 200L, 9.7), (2L, 150L, 4.2))
      .toDF("sym", "ts", "px")
    val trades = Seq((1L, 150L, 10), (1L, 250L, 20), (2L, 160L, 30))
      .toDF("sym", "ts", "qty")
    val joined = graft.operators.AsofJoin(trades, quotes, Seq("sym"), "ts", Seq("px"))
    joined.collect()
    // AQE prints the plan twice (final + initial) — pin the final only
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // one hash-partitioning exchange for the window; no join operator at all
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
    assert(!plan.contains("Join"))
  }

  test("pre-partitioned upsert does not re-shuffle an aligned frame") {
    // both sides repartitioned on the key: the window's required
    // distribution is already satisfied on the union? No — the union of two
    // hash-partitioned frames is NOT co-partitioned, so the window must
    // shuffle ONCE; the pin is that exactly one key exchange exists (the
    // formulation never shuffles twice or per-side).
    val t = graft.sources.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice")
    val s = t.limit(100)
    val plan = graft.operators.Upsert(t, s, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    val keyExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("o_orderkey"))
    assert(keyExchanges == 1, s"expected 1 key exchange, got $keyExchanges")
  }

  test("large-target upsert broadcasts the key probe, target never shuffles") {
    val t = graft.sources.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice")
    val s = t.limit(50)
    val plan = graft.operators.Upsert.forLargeTarget(t, s, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
    // the target side reaches the anti-join without a hash exchange
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bloom prune filters the probe scan BEFORE any exchange") {
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val l = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val plan = graft.operators.BloomPrune.prune(l, "l_orderkey",
        o, "o_orderkey", expectedItems = 1000)
      .queryExecution.executedPlan.toString
    // the pruned frame is a might_contain FILTER over the scan — no join,
    // no exchange; whatever the caller composes next sees pre-pruned rows
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("kmv sketch aggregates partially before the exchange (map-side)") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "h")
    val plan = df.groupBy($"g")
      .agg(graft.functions.Sketches.kmvSketch($"h", 16))
      .queryExecution.executedPlan.toString
    // bounded partial state per partition, merged after one exchange —
    // the sketch must never ship raw values
    // the partial_ prefix is the load-bearing assertion: it proves the
    // bounded buffer reduces BEFORE the exchange (a final-only aggregate
    // would ship raw values)
    assert(plan.contains("partial_kmv_sketch"), plan)
  }

  test("top_k aggregates partially before the exchange (map-side)") {
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "z", 3L))
      .toDF("g", "item", "w")
    val plan = df.groupBy($"g")
      .agg(graft.functions.Sketches.topK($"item", $"w", 5))
      .queryExecution.executedPlan.toString
    // ≤ k entries per group per partition cross the exchange — the
    // aggregate must never ship the whole group like collect_list would
    assert(plan.contains("partial_top_k"), plan)
  }

  test("kll sketch aggregates partially before the exchange (map-side)") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
    val plan = df.groupBy($"g")
      .agg(graft.functions.Sketches.kllSketch($"v", 64))
      .queryExecution.executedPlan.toString
    // O(k log(n/k)) level buffers reduce per partition BEFORE the
    // exchange — a final-only aggregate would ship raw values
    assert(plan.contains("partial_kll_sketch"), plan)
  }

  test("perceptual media dedup pairing stays window-free (the LSH cap " +
      "discipline applies to hash fingerprint joins too)") {
    import graft.multimodal.ImagePixels
    val media = ImagePixels.fixtureFrame(
      Seq(1L, 2L, 3L).toDF("id"), "id", 36, 32, "png")
    val plan = ImagePixels.imageNearDups(media, "media_id", "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("snapshot diff runs join-free on one id exchange") {
    val o = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val n = Seq((1L, "a"), (3L, "c")).toDF("id", "text")
    val plan = graft.operators.SnapshotDiff.diff(o, n, "id", Seq("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    val idExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("id"))
    assert(idExchanges == 1, s"expected 1 id exchange:\n$plan")
  }

  test("sparse retrieval broadcasts the query side, postings never re-shuffle wide") {
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val out = graft.functions.TermStats.sparseTopK(
      d, "doc_id", "text", "spark table scan", 10)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan) // top-k, no global sort
  }

  test("sequence packing never funnels through a single-partition window") {
    val chunks = (1 to 200).map(i => (i.toLong, (i % 9 + 1).toLong))
      .toDF("key", "w")
    val plan = graft.functions.Sharding
      .packSequences(chunks, "key", "w", capacity = 40, numPartitions = 5)
      .queryExecution.executedPlan.toString
    // the prefix sum must be the distributed form: the window PARTITIONED
    // BY the range-partition id — never an unpartitioned (SinglePartition)
    // global window. (The range exchange itself sits behind packShards'
    // localCheckpoint, so it does not appear in this plan.)
    assert(plan.contains("windowspecdefinition(_graft_pid"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("lsh bucket cap is aggregation-based — no Window in the cap plan") {
    // a window cap (count() OVER (PARTITION BY band_idx, band_sig)) moves
    // every member of a hot bucket onto ONE task before the cap can drop
    // it; the agg + semi-join shape combines map-side. The pin targets
    // capBuckets ITSELF — the shared guard both minhashNearDups and
    // crossCorpusNearDups route through — because the library functions
    // materialize their results (localCheckpoint), which would hide an
    // upstream Window from their returned frames' executed plans.
    val df = (1 to 40).map(i =>
      (i.toLong, s"document number ${i % 7} shares phrasing with others"))
      .toDF("doc_id", "text")
    val bands = graft.functions.Dedup.lshBands(
      df.select($"doc_id", graft.functions.Dedup.minhashSignatureFromHashes(
        graft.functions.Dedup.hashedShingles(
          graft.functions.Dedup.charShingles(lower($"text"), 4)), 16).as("sig")),
      "doc_id", "sig", bands = 4, rowsPerBand = 4)
    val capped = graft.functions.Dedup.capBuckets(bands, "doc_id", 64)
    capped.collect()
    val plan = capped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    // and the shape that replaced it is really there: a partial-agg
    // bucket count joined back semi
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("HashAggregate") ||
      plan.contains("ObjectHashAggregate"), plan)
  }

  test("fuzzy-dedup hot-variant cap is aggregation-based — no Window " +
      "anywhere in the pair plan") {
    // same hazard class as the LSH cap: a window count over the variant
    // hash would sort every member of a degenerate variant (constant
    // column) onto one task; the agg + semi-join shape combines map-side
    val df = (1 to 60).map(i => (i.toLong, s"name${i % 9}"))
      .toDF("doc_id", "name")
    val pairs = graft.functions.FuzzyDedup.nearDupPairs(
      df, "doc_id", "name", maxBucket = 64, maxDist = 2)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("bipartite fuzzy probe stays window-free with a semi-join cap") {
    val corpus = (1 to 30).map(i => (i.toLong, s"name${i % 5}"))
      .toDF("doc_id", "name")
    val batch = (100 to 110).map(i => (i.toLong, s"name${i % 5}"))
      .toDF("doc_id", "name")
    val cross = graft.functions.FuzzyDedup.crossNearDupPairs(
      corpus, batch, "doc_id", "name", maxBucket = 64)
    cross.collect()
    val p1 = cross.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p1.contains("Window"), p1)
    assert(p1.contains("LeftSemi"), p1)
  }

  test("per-group sampling ranks via the range-partitioned prefix sum") {
    // the rank window must be partitioned by the RANGE id (+ group) —
    // never by the group alone, which would funnel a hot stratum onto
    // one task; the window sits downstream of groupedPrefixSum's
    // localCheckpoint, so it is visible in this executed plan
    val df = (1 to 300).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    val out = graft.functions.Sampling.perGroupSample(df, "id", "g", 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("windowspecdefinition(_graft_pid"), plan)
  }

  test("pruneByScore ranks via the range-partitioned prefix sum and " +
      "broadcasts the group totals") {
    // same hazard class as per-group sampling: a PARTITION BY group
    // window would funnel a dominant language onto one task; the rank
    // must ride the _graft_pid range windows, and the small per-group
    // count frame must broadcast, never shuffle the ranked side again
    val df = (1 to 300).map(i => (i.toLong, s"g${i % 3}", (i * 31L) % 97))
      .toDF("id", "g", "score")
    val out = graft.functions.Sampling.pruneByScore(df, "id", "g", "score", 0.5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("windowspecdefinition(_graft_pid"), plan)
    assert(!plan.contains("windowspecdefinition(g#"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("PQ ADC top-k is a TakeOrdered over a codegen'd projection — " +
      "no global sort, no join") {
    val df = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val cbs = graft.functions.Similarity.pqCodebooks(
      df, "embedding", "vec_id", m = 8, ksub = 16, iters = 1)
    val query = df.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val plan = graft.functions.Similarity.pqAdcTopK(
        df, "embedding", "vec_id", query, cbs, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange range"),
      plan)
    // codegen'd stages print as "*(n)" in the executed-plan string; the
    // LUT projection must sit inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(")), plan.take(2000))
  }

  test("whole-stage codegen covers the text-analysis projections") {
    val df = graft.SparkEntry.queries("q23_quality_score")(spark, sfDir)
    df.collect() // finalize the adaptive plan so codegen nodes materialize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.linesIterator.exists(_.trim.matches("""^(\+-|:-)?\s*\*\(\d+\).*""")))
  }

  test("weightedSample: min-ticket agg combines map-side, top-k is a TakeOrdered") {
    // the lottery must never materialize a global sort of the corpus:
    // per-key min-ticket partially aggregates before its exchange, and
    // the k winners come from TakeOrderedAndProject (per-partition heads)
    val df = (1L to 500L).toDF("id").withColumn("w", lit(1L) + $"id" % 4)
    val winners = graft.functions.Sampling.weightedSample(df, "id", "w", 20)
    winners.collect()
    val plan = winners.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort "), s"unexpected global sort:\n$plan")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(exchangeIdx >= 0 && aggIdx > exchangeIdx,
      s"no partial aggregate below the exchange:\n$plan")
  }

  test("stripBoilerplate and the skew audit stay window-free") {
    val docs = (1 to 100).map(i => (i.toLong, s"s${i % 3}",
      s"HEADER s${i % 3}\nbody $i")).toDF("doc_id", "source", "text")
    val bp = graft.functions.LineDedup.stripBoilerplate(
      docs, "doc_id", "text", Seq("source"), 10)
    bp.collect()
    assert(!bp.queryExecution.executedPlan.toString.contains("Window"),
      "boilerplate strip must not window")
    val audit = graft.operators.SkewAudit.keySkewReport(docs, Seq("source"))
    audit.collect()
    assert(!audit.queryExecution.executedPlan.toString.contains("Window"),
      "skew audit must not window")
  }

  test("BPE pair mining aggregates distinct runs partially before its exchange") {
    val df = graft.SparkEntry.queries("q113_bpe_merge_mine")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // piece-count and pair-count stages both partial-agg; top-20 is a
    // TakeOrdered, never a global sort of the pair space
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("span-removal rewrite: window-free, global-first decision is a " +
       "numeric HashAggregate min, one shared hash exchange for both " +
       "consumers") {
    val docs = Seq((1L, (1 to 30).map(i => s"t${i % 9}").mkString(" ")),
        (2L, (1 to 30).map(i => s"t${i % 9}").mkString(" ")))
      .toDF("id", "text")
    val out = graft.functions.SpanDedup
      .removeDuplicateSpans(docs, "id", "text", n = 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    // the first-occurrence min runs as a HASH aggregate (the packed long
    // key — a struct-min buffer would demote it to SortAggregate)
    assert(plan.contains("HashAggregate"), plan)
    // explicit repartition(h) exchange reused by the coverage join
    assert(plan.contains("REPARTITION_BY_COL"), plan)
  }

  test("batched IVF-PQ serving: the query side broadcasts into a hash " +
       "join on the cell column — the index is never shuffled or " +
       "cartesian-joined") {
    val vecs = (0L until 64L).map(i =>
      (i, Seq.tabulate(16)(j => ((i * 7 + j) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val coarse = graft.functions.Similarity.ivfCentroidsTrainedPortable(
      vecs, "embedding", "vec_id", k = 4, iters = 0)
    val cbs = graft.functions.Similarity.ivfPqCodebooks(vecs, "embedding",
      "vec_id", coarse, m = 4, ksub = 4, iters = 0)
    val idx = graft.functions.Similarity.ivfPqEncode(
      vecs, "embedding", coarse, cbs, cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes")
    val qs = vecs.filter($"vec_id" % 16 === 0)
      .select($"vec_id".as("qid"), $"embedding")
    val out = graft.functions.Similarity.ivfPqTopKBatch(qs, "qid",
      "embedding", idx, "vec_id", "cell", "codes", coarse, cbs, k = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
    // per-query top-k is the bounded bottom-k AGGREGATE (≤ k partial
    // state per query per partition), never a PARTITION BY qid sort
    // window over the full candidate set
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("bottom_k_by_score"), plan)
  }

  test("document chunking is pure generator work — no exchange, no " +
       "window, tokenization inside codegen") {
    val docs = (1L to 50L).map(i =>
      (i, (1 to 30).map(t => s"w$t").mkString(" "))).toDF("doc_id", "text")
    val out = graft.functions.TextAnalysis.chunkDocuments(
      docs, "doc_id", "text", chunkTokens = 8, stride = 6)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("funnel, privacy audits, and aggregate maintenance are " +
       "window-free: per-key work is aggregation, never a sort funnel") {
    import java.sql.Timestamp
    // a hot user with many events must combine map-side, not sort onto
    // one task via a PARTITION BY user window
    val ev = (1 to 300).map(i => (i.toLong % 5,
      Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
      Seq("view", "click", "buy")(i % 3))).toDF("user_id", "ts", "etype")
    val fun = graft.operators.Funnels.funnel(ev, "user_id", "ts", "etype",
      Seq("view", "click", "buy"), maxStepGapSec = Some(3600L))
    fun.collect()
    val p1 = fun.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p1.contains("Window"), p1)
    val rel = (1 to 200).map(i => (s"z${i % 9}", s"d${i % 4}"))
      .toDF("zip", "disease")
    val aud = graft.functions.Privacy.lDiversityAudit(rel, Seq("zip"),
      "disease", l = 2)
    aud.collect()
    val p2 = aud.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p2.contains("Window"), p2)
    val sup = graft.functions.Privacy.kAnonymizeSuppress(rel, Seq("zip"),
      k = 10)
    sup.collect()
    val p3 = sup.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p3.contains("Window"), p3)
    val st = graft.operators.AggMaintain.maintainDistinct(
      graft.operators.AggMaintain.distinctState(rel.toDF("k", "v"), "k",
        "v", 4),
      rel.toDF("k", "v"), "k", "v", 4)
    st.collect()
    val p4 = st.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p4.contains("Window"), p4)
    // the register fold is a partial/final (ObjectHash) aggregate
    assert(p4.contains("ObjectHashAggregate") ||
      p4.contains("HashAggregate"), p4)
  }

  test("label-prop votes, drift audit, and perceptron rounds are " +
       "window-free aggregations; densify grids without a window") {
    // a hub node's full vote list must partial-aggregate, never sort
    // onto one task through a PARTITION BY node argmax window
    val edges = (1 to 400).map(i => ((i % 20).toLong, (i % 7).toLong))
      .toDF("src", "dst")
    val lp = graft.operators.LabelProp.propagate(edges, "src", "dst", 2)
    lp.collect()
    val p1 = lp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p1.contains("Window"), p1)
    val snaps = (1 to 200).map(i => s"c${i % 6}").toDF("cat")
    val dr = graft.functions.Drift.chiSquaredAudit(snaps, snaps, "cat", 1, 4)
    dr.collect()
    val p2 = dr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p2.contains("Window"), p2)
    // the snapshot totals ride a broadcast, the category frame never
    // funnels to one partition for them
    assert(p2.contains("BroadcastNestedLoopJoin") ||
      p2.contains("BroadcastExchange"), p2)
    // one perceptron round = one filtered partial/final aggregate
    val rows = (1 to 300).map(i => (if (i % 3 == 0) 1L else -1L,
      (i % 17).toLong)).toDF("y", "x")
    val hist = graft.functions.LinearClassifier.perceptronHistory(
      rows, "y", Seq("x"), 1)
    assert(hist.count() == 2L)
    val dense = graft.operators.GapFill.densify(
      (1 to 100).map(i => ((i % 9).toLong, (i % 23).toLong))
        .toDF("k", "day"), Seq("k"), "day")
    dense.collect()
    val p3 = dense.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p3.contains("Window"), p3)
    // the span explode is generator work over the key-sized agg result
    assert(p3.contains("Generate"), p3)
  }

  test("triangle wedge join and k-core peels are equi-joins — no " +
       "cartesian, no nested loop, no window") {
    val pairs = (1 to 300).map(i => ((i % 23).toLong, (i % 17).toLong))
      .toDF("a", "b")
    val edges = graft.operators.Triangles.canonicalEdges(pairs, "a", "b")
    val tri = graft.operators.Triangles.perNodeCounts(edges)
    tri.collect()
    val p1 = tri.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p1.contains("CartesianProduct"), p1)
    assert(!p1.contains("BroadcastNestedLoopJoin"), p1)
    assert(!p1.contains("Window"), p1)
    val sym = edges.unionAll(edges.select(col("v").as("u"),
      col("u").as("v")))
    val kc = graft.operators.KCore.kCore(sym, "u", "v", 3, 2)
    kc.collect()
    val p2 = kc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p2.contains("CartesianProduct"), p2)
    assert(!p2.contains("Window"), p2)
  }

  test("interval-overlap join rides the (key, bucket) equi-join: no " +
       "cartesian, no nested loop, no window") {
    import java.sql.Timestamp
    def iv(n: Int, names: (String, String, String)) =
      (1 to n).map(i => (i.toLong % 7, i.toLong,
          Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00"),
          Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:45:00")))
        .toDF("k", names._1, names._2, names._3)
    val out = graft.operators.RangeJoin.intervalOverlap(
      iv(80, ("a_id", "a_start", "a_end")),
      iv(60, ("b_id", "b_start", "b_end")),
      Seq("k"), "a_start", "a_end", "b_start", "b_end",
      bucketSeconds = 1800L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("t-closeness audit: window-free, the corpus total rides a 1-row " +
       "broadcast") {
    val rel = (1 to 200).map(i => (s"z${i % 9}", s"d${i % 4}"))
      .toDF("zip", "disease")
    val aud = graft.functions.Privacy.tClosenessAudit(rel, Seq("zip"),
      "disease", tNum = 1, tDen = 5)
    aud.collect()
    val plan = aud.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    // the only nested-loop join is the deliberate 1-row total broadcast
    // (a Cross build of a single aggregate row); group-keyed work rides
    // hash joins
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("tokenizer kernels (bpe/wordpiece/unigram apply) stay inside " +
       "whole-stage codegen") {
    // spark.range keeps the projection in the physical plan (a local
    // Seq would be constant-folded into a LocalTableScan)
    val words = spark.range(50)
      .select(concat(lit("w"), $"id", lit("ord")).as("w"))
    val df = words.select(
      graft.functions.Bpe.applyMerges(graft.functions.Bpe.delimit($"w"),
        Seq(("w", "o"), ("r", "d"))).as("b"),
      graft.functions.WordPiece.applyVocab($"w",
        Seq("w", "##o", "##r", "##d", "##1", "##2", "##3")).as("p"),
      graft.functions.Unigram.applyVocab($"w",
        Seq("w" -> 5L, "o" -> 5L, "r" -> 5L, "d" -> 5L)).as("u"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the projection carrying all three kernels is a codegen stage
    // ("*(n)" marks WholeStageCodegen in the plan string)
    val projLine = plan.linesIterator.find(_.contains("bpe_apply")).get
    assert(projLine.contains("wordpiece_apply") &&
      projLine.contains("unigram_apply"), projLine)
    assert(projLine.trim.matches("""^(\+-|:-)?\s*\*\(\d+\).*"""), projLine)
  }

  test("hard-negative mining: window-free pick; candidates ride the " +
       "cell equi-join, never a cartesian") {
    val vecs = (1L to 40L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 7 + j) % 13).toFloat / 13f),
        (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val out = graft.functions.Similarity.hardNegatives(vecs, "vec_id",
      "embedding", "label", k = 4, sampleN = 40)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
  test("weightedReservoir: rank projection stays codegen, top-k is a " +
      "TakeOrdered, the only window ranks the post-limit rows") {
    val df = (1L to 500L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val out = graft.functions.Sampling.weightedReservoir(df, "id", "w", 25)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan) // no global sort
    // exactly one Window, and it sits ABOVE the TakeOrdered (<= k rows)
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("Window", winIdx + 1) < 0, plan)
    assert(winIdx < plan.indexOf("TakeOrderedAndProject"), plan)
  }

  test("joinCardinality: the audit never joins row-scale tables — both " +
      "join inputs are aggregates") {
    val l = (1L to 300L).map(i => i % 40).toDF("k")
    val out = graft.operators.JoinAudit.joinCardinality(l, l, "k", "k", 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every SortMergeJoin/HashJoin block must sit above HashAggregates
    // (the per-key count frames), and the total rides one broadcast
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tvdDrift: counts aggregate map-side before the bucket-grid " +
      "full outer join; no windows anywhere") {
    val a = (1L to 200L).map(i => (i % 3, s"t${i % 5}")).toDF("g", "b")
    val out = graft.functions.Drift.tvdDrift(a, a, "g", "b", 1L, 10L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("contentDefinedChunks: the chunker is a pure projection — no " +
      "exchange, no window, codegen boundary scan") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog " * 3))
      .toDF("id", "t")
    val out = graft.functions.Chunking.contentDefinedChunks(
      df, "id", "t", 8, 16)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("contamination probe BROADCASTS the benchmark shingle set — the " +
      "corpus side never shuffles for the membership join") {
    val corpus = (1L to 50L)
      .map(i => (i, s"document $i with some running text " * 3))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "a small benchmark sentence here ok " * 3))
      .toDF("doc_id", "text")
    val out = graft.functions.Contamination.overlapReport(
      corpus, "doc_id", "text", bench, "text", n = 4)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchange below the probe join is the benchmark
    // broadcast; the corpus's first shuffle is the per-doc aggregation
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("htmlText extraction is a pure codegen projection — no UDF, no " +
      "exchange") {
    // a real scan input: a local relation would be constant-folded to
    // LocalTableScan, hiding the codegen question entirely
    val df = graft.sources.Tables.load(spark, sfDir, "documents")
    val out = df.select($"doc_id",
      graft.functions.TextAnalysis.htmlText($"text").as("t"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
    assert(plan.contains("*(1) Project"), plan) // whole-stage codegen span
  }

  test("ivfPqRebalance re-encodes ONLY the hot cell: the re-encode " +
      "join probes with the hot-cell id slice, never a full-index scan " +
      "per cell") {
    def vec(id: Long): Seq[Float] = (1 to 8).map { i =>
      ((id % 4) * 100.0 + ((id * 37 + i * 101) % 19) / 16.0).toFloat }
    val src = (0L until 64L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val S = graft.functions.Similarity
    val coarse = Seq.tabulate(4)(j => Seq.fill(8)(j * 100.0 + 0.5))
    val cbs = S.ivfPqCodebooks(src, "embedding", "vec_id", coarse,
      m = 4, ksub = 4, iters = 0, sampleN = 1 << 20)
    val idx = S.ivfPqEncode(src, "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select($"vec_id", $"cell", $"codes").localCheckpoint()
    val (_, out) = S.ivfPqRebalance(idx, "vec_id", "cell", "codes",
      src, "embedding", coarse, cbs, hotCells = Seq(4), splitK = 2,
      sampleN = 1 << 20)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the union has exactly two legs: untouched-filter + one re-encode
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // pqEncode must stay materialized projections, not a window
    assert(!plan.contains("Window"), plan)
  }
}
