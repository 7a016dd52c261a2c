package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.jobs.IngestPipeline
import graft.sources.Tables
import graft.streaming.EventStreams

/** End-to-end surfaces: the streaming window expression (batch-equivalent
  * semantics) and the full drift-ingest pipeline driven from constructed
  * NDJSON records.
  */
object PipelineQueries {

  /** Driver-side row cap for the lake/cursor FIXTURE builders below: the
    * fixtures collect the documents table to lay it out as NDJSON objects
    * / cursor pages — test-scale plumbing for the DISTRIBUTED scan under
    * test, not a data path. The limit+1 collect is bounded by
    * construction, so pointing a fixture builder at real data fails
    * loudly instead of OOMing the driver. */
  private[queries] val MaxFixtureRows = 100000

  private[queries] def collectFixture(df: DataFrame, what: String) = {
    val rows = df.limit(MaxFixtureRows + 1).collect()
    require(rows.length <= MaxFixtureRows,
      s"$what: fixture builder collects the input driver-side and is " +
      s"capped at $MaxFixtureRows rows - it exists to exercise the scan " +
      "path at test scale, not to ingest real data")
    rows
  }

  /** Tumbling 1-hour windowed aggregation over events — the identical
    * expression runs under readStream+watermark in EventStreams. */
  def eventWindowQ(s: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingAgg(
        Tables.load(s, dir, "events")
          .withColumn("ts", date_trunc("second", col("ts")))
          // exact decimal sum: order-insensitive, engine-portable
          .withColumn("value", col("value").cast(DecimalType(18, 2))),
        "ts", "1 hour")
      .withColumn("total_value", col("total_value").cast("double"))
      .orderBy(col("window_start"), col("event_type"))

  /** Full ingest pipeline over drifting NDJSON built from orders: half the
    * records carry an extra field, minting two schema versions; the silver
    * output unions both with sorted columns. */
  def ingestPipelineQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val raw = o.select(
      when(col("o_orderkey") % 2 === 0,
        to_json(struct(col("o_orderkey"), col("o_totalprice"))))
      .otherwise(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice")))).as("rec"))
    IngestPipeline.ingest(s, raw, "rec").silver
      .withColumn("schema_version", col("schema_version").cast("long"))
      .withColumn("o_orderkey", col("o_orderkey").cast("long"))
      .orderBy(col("o_orderkey"))
  }

  /** DSv2 lake scan end-to-end: the documents table re-laid out as a
    * simulated data lake (5 objects + range index), scanned through the
    * LakeSim source with filter + column pushdown, checked against the
    * DuckDB oracle over the original table. Fixture construction is
    * driver-side (500-5000 rows at test scale) — the scan itself is the
    * distributed path under test. */
  def lakesimScanQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = collectFixture(Tables.load(s, dir, "documents")
      // explicit long casts: regenerated corpora (target/sf1) may store
      // these as INT32 parquet, and the fixture reads them as longs
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")), "lakesimScanQ")
    withTempDir("graft_q37") { base =>
      val lakeDir = base.toString
      val objects = docs.grouped(math.max(docs.length / 5, 1)).zipWithIndex.toSeq
      val index = objects.map { case (rows, i) =>
        val ids = rows.map(_.getLong(0)); val chars = rows.map(_.getLong(3))
        s"""{"file": "obj$i.ndjson", "count": ${rows.length},
           | "ranges": {"doc_id": [${ids.min}, ${ids.max}],
           |            "n_chars": [${chars.min}, ${chars.max}]}}""".stripMargin
      }.mkString("{\"objects\": [", ",", "]}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$lakeDir/index.json"), index)
      objects.foreach { case (rows, i) =>
        val ndjson = rows.map(r =>
          s"""{"doc_id": ${r.getLong(0)}, "lang": "${r.getString(1)}",
             | "source": "${r.getString(2)}", "n_chars": ${r.getLong(3)}}"""
            .stripMargin.replace("\n", "")).mkString("\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$lakeDir/obj$i.ndjson"), ndjson)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      s.read.format(classOf[graft.sources.lakesim.LakeSimSource].getName)
        .schema(schema).option("path", lakeDir).option("pageSize", "200").load()
        .filter(col("n_chars") > 300 && col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /** Schema-registry persistence round-trip (reference `{bc}_schemas.json`,
    * `datalakewrapper.py:180-186`): ingest the even-key records first and
    * SAVE the registry, then load it back and ingest the full drifted set.
    * The odd-key keyset sorts BEFORE the even-key one, so only stable
    * persisted ids produce version 1 = even keyset — which is exactly what
    * the oracle pins. */
  def registryRoundTripQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val even = o.filter(col("o_orderkey") % 2 === 0)
      .select(to_json(struct(col("o_orderkey"), col("o_totalprice"))).as("rec"))
    val full = o.select(
      when(col("o_orderkey") % 2 === 0,
        to_json(struct(col("o_orderkey"), col("o_totalprice"))))
      .otherwise(to_json(struct(col("o_custkey"), col("o_orderkey")))).as("rec"))
    // registry-building needs only drift discovery (ingest step 1) — the
    // full first ingest parsed/cleansed 7500 records just to throw the
    // frame away, which made this the slowest benchmark query
    val first = graft.schema.SchemaRegistry.seed.observeSorted(
      graft.schema.SchemaRegistry.discoverKeysets(even, "rec"))
    val loaded = withTempDir("graft_q44") { base =>
      val regPath = base.resolve("orders_schemas.json").toString
      graft.schema.SchemaRegistry.save(s, first, regPath)
      graft.schema.SchemaRegistry.loadOrSeed(s, regPath)
    }
    graft.jobs.IngestPipeline.ingest(s, full, "rec", loaded).silver
      .withColumn("schema_version", col("schema_version").cast("long"))
      .withColumn("o_orderkey", col("o_orderkey").cast("long"))
      .orderBy(col("o_orderkey"))
  }

  /** FSM-cursor scan end-to-end (S6): the documents table re-laid out as a
    * chain of cursor pages (count header + `_links` follow + zero-count
    * terminal), scanned through the CursorSim source with filter + column
    * pushdown, checked against DuckDB over the original table. */
  def cursorScanQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = collectFixture(Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")), "cursorScanQ")
    withTempDir("graft_q46") { base =>
      val lakeDir = base.toString
      val pages = docs.grouped(math.max(docs.length / 4, 1)).toSeq
      pages.zipWithIndex.foreach { case (rows, i) =>
        val next = if (i + 1 < pages.length) s"page${i + 1}.json" else "terminal.json"
        val header =
          s"""{"_count": ${rows.length}, "_links": [{"href": "page$i.json"}, {"href": "$next"}]}"""
        val recs = rows.map(r =>
          s"""{"_fields": {"doc_id": ${r.getLong(0)}, "lang": "${r.getString(1)}",
             | "source": "${r.getString(2)}", "n_chars": ${r.getLong(3)}}}"""
            .stripMargin.replace("\n", ""))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$lakeDir/page$i.json"),
          (header +: recs).mkString("[", ",", "]"))
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$lakeDir/terminal.json"),
        """[{"_count": 0, "_links": [{"href": "terminal.json"}, {"href": "page0.json"}]}]""")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      s.read.format(classOf[graft.sources.lakesim.CursorSimSource].getName)
        .schema(schema).option("path", lakeDir).option("start", "page0.json").load()
        .filter(col("n_chars") <= 300 && col("source") === "src7")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /** OAuth-authenticated cursor extraction under the gate (q227): the
    * q46 cursor walk re-run against a LIVE in-process HTTP server —
    * pages AND token endpoint — with server-side token revocation
    * tuned so authentication DIES MID-WALK, deterministically: every
    * minted access token is good for at most two page GETs, the chain
    * is five pages long, so the driver-side header walk alone must
    * survive ≥ 2 mid-scan 401s (invalidate → re-grant → retry, the
    * [[graft.sources.lakesim.HttpTransport]] hardening path) and every
    * executor page fetch re-authenticates through the same
    * [[graft.sources.lakesim.OAuthTokenProvider]] lifecycle. The
    * output is the scanned record set — pushdown filter included — so
    * the oracle pins that re-authentication is INVISIBLE to the data:
    * a dropped page, a double-served page, or a retry that skips
    * records all hash-mismatch. In-gate requires pin ≥ 2 rejected
    * requests and ≥ 3 grants, so the 401 path provably ran. */
  def cursorOAuthQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = collectFixture(Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")), "cursorOAuthQ")
    val pages = docs.grouped(math.max(docs.length / 4, 1)).toSeq
    val pageBody = scala.collection.mutable.Map.empty[String, String]
    pages.zipWithIndex.foreach { case (rows, i) =>
      val next = if (i + 1 < pages.length) s"page${i + 1}.json" else "terminal.json"
      val header =
        s"""{"_count": ${rows.length}, "_links": [{"href": "page$i.json"}, {"href": "$next"}]}"""
      val recs = rows.map(r =>
        s"""{"_fields": {"doc_id": ${r.getLong(0)}, "lang": "${r.getString(1)}",
           | "source": "${r.getString(2)}", "n_chars": ${r.getLong(3)}}}"""
          .stripMargin.replace("\n", ""))
      pageBody(s"page$i.json") = (header +: recs).mkString("[", ",", "]")
    }
    pageBody("terminal.json") =
      """[{"_count": 0, "_links": [{"href": "terminal.json"}, {"href": "page0.json"}]}]"""
    // live server: POST /token mints tok-N (rotating refresh token);
    // each access token serves at most TWO page GETs, then 401s —
    // server-side revocation the client clock cannot foresee
    val minted = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    val nTok = new java.util.concurrent.atomic.AtomicInteger(0)
    val nGrant = new java.util.concurrent.atomic.AtomicInteger(0)
    val nRejected = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        nGrant.incrementAndGet()
        val i = nTok.incrementAndGet()
        val tok = s"tok-$i"
        minted.put(tok, new java.util.concurrent.atomic.AtomicInteger(0))
        val body =
          s"""{"access_token": "$tok", "refresh_token": "rt-$i",
             | "token_type": "Bearer", "expires_in": 3600}""".stripMargin
        val bytes = body.getBytes(UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.createContext("/lake",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val tok = Option(ex.getRequestHeaders.getFirst("Authorization"))
          .map(_.stripPrefix("Bearer ")).orNull
        val uses = Option(tok).map(minted.get).orNull
        val name = ex.getRequestURI.getPath.stripPrefix("/lake/")
        if (uses == null || uses.incrementAndGet() > 2) {
          nRejected.incrementAndGet()
          ex.sendResponseHeaders(401, -1); ex.close()
        } else {
          val bytes = pageBody(name).getBytes(UTF_8)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      val out = s.read
        .format(classOf[graft.sources.lakesim.CursorSimSource].getName)
        .schema(schema)
        .option("url", s"http://127.0.0.1:$port/lake")
        .option("start", "page0.json")
        .option("tokenUrl", s"http://127.0.0.1:$port/token")
        .option("clientId", "graft-gate").option("clientSecret", "s3cr3t")
        .load()
        .filter(col("n_chars") <= 400 && col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(nRejected.get() >= 2,
        s"cursorOAuthQ: expected >= 2 mid-scan 401s, saw ${nRejected.get()}")
      require(nGrant.get() >= 3,
        s"cursorOAuthQ: expected >= 3 token grants, saw ${nGrant.get()}")
      out
    } finally server.stop(0)
  }

  /** OAuth REFRESH-TOKEN ROTATION mid-scan under the gate (q302): q227
    * proves the 401-revocation path (invalidate → fresh grant); this
    * gate proves the EXPIRY path nothing else exercises — tokens are
    * minted with `expires_in = 1` and every page header is served with
    * a 250 ms delay UNTIL the first successful rotation has happened
    * (then full speed — the walk only needs enough server-enforced wall
    * to cross the 1 s token lifetime twice: once into the demotion
    * grant, once into the rotation off that grant; ≥ 5 delayed headers
    * ≈ 1.25 s guarantees the second crossing before the delay stops
    * because the rotation that stops it IS the second crossing). The
    * live token endpoint ROTATES the
    * refresh token on every `grant_type=refresh_token` (single-use rts,
    * the RFC 6749 §10.4 posture) and REJECTS the first refresh attempt
    * with `invalid_grant: refresh token expired` — the reference's
    * InvalidRefreshTokenError demotion, so the walk must demote to a
    * second credentials grant and LATER refresh-rotate off that grant's
    * rt. In-gate requires pin: ≥ 2 refresh attempts, ≥ 1 successful
    * rotation, ≥ 2 credentials grants (initial + demotion), and ZERO
    * presentations of an already-consumed rt (each provider must carry
    * its rotated token forward, never replay one the server burned).
    * The oracle is the plain table restatement of the scanned slice —
    * rotation, demotion, and re-grants must be invisible to the data. */
  def cursorRotationQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = collectFixture(Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")), "cursorRotationQ")
    val pages = docs.grouped(math.max(docs.length / 6, 1)).toSeq
    val pageBody = scala.collection.mutable.Map.empty[String, String]
    pages.zipWithIndex.foreach { case (rows, i) =>
      val next = if (i + 1 < pages.length) s"page${i + 1}.json"
                 else "terminal.json"
      val header = s"""{"_count": ${rows.length}, "_links": """ +
        s"""[{"href": "page$i.json"}, {"href": "$next"}]}"""
      val recs = rows.map(r =>
        s"""{"_fields": {"doc_id": ${r.getLong(0)}, "lang": "${r.getString(1)}",
           | "source": "${r.getString(2)}", "n_chars": ${r.getLong(3)}}}"""
          .stripMargin.replace("\n", ""))
      pageBody(s"page$i.json") = (header +: recs).mkString("[", ",", "]")
    }
    pageBody("terminal.json") =
      """[{"_count": 0, "_links": [{"href": "terminal.json"}, {"href": "page0.json"}]}]"""
    val validRts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val consumedRts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val nTok = new java.util.concurrent.atomic.AtomicInteger(0)
    val nCredGrant = new java.util.concurrent.atomic.AtomicInteger(0)
    val nRefreshAttempt = new java.util.concurrent.atomic.AtomicInteger(0)
    val nRefreshOk = new java.util.concurrent.atomic.AtomicInteger(0)
    val nReusedRt = new java.util.concurrent.atomic.AtomicInteger(0)
    def mint(ex: com.sun.net.httpserver.HttpExchange): Unit = {
      val i = nTok.incrementAndGet()
      validRts.add(s"rt-$i")
      val body = s"""{"access_token": "tok-$i", "refresh_token": "rt-$i",
                    | "token_type": "Bearer", "expires_in": 1}""".stripMargin
      val bytes = body.getBytes(UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def reject(ex: com.sun.net.httpserver.HttpExchange): Unit = {
      val bytes =
        """{"error": "invalid_grant", "error_description": "refresh token expired"}"""
          .getBytes(UTF_8)
      ex.sendResponseHeaders(400, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val form = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          .split("&").map(_.split("=", 2))
          .collect { case Array(k, v) =>
            java.net.URLDecoder.decode(k, UTF_8) ->
              java.net.URLDecoder.decode(v, UTF_8) }.toMap
        if (form.get("grant_type").contains("refresh_token")) {
          val attempt = nRefreshAttempt.incrementAndGet()
          val rt = form.getOrElse("refresh_token", "")
          if (consumedRts.contains(rt)) { nReusedRt.incrementAndGet()
            reject(ex) }
          else if (attempt == 1) reject(ex) // force the demotion path
          else if (!validRts.remove(rt)) reject(ex)
          else { consumedRts.add(rt); nRefreshOk.incrementAndGet()
            mint(ex) } // single-use rt: rotate
        } else { nCredGrant.incrementAndGet(); mint(ex) }
      })
    server.createContext("/lake",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val name = ex.getRequestURI.getPath.stripPrefix("/lake/")
        // server-enforced wall, EXACTLY as long as needed: the
        // sequential page walk must cross the 1 s token lifetime twice
        // (demotion crossing, then rotation crossing) — so delay every
        // GET only UNTIL the successful rotation has happened, then
        // serve fast; the gate's wall cost is the ~2.2 s the proof
        // needs, not sleep × every planning walk
        if (nRefreshOk.get() < 1) Thread.sleep(250)
        val bytes = pageBody(name).getBytes(UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      val out = s.read
        .format(classOf[graft.sources.lakesim.CursorSimSource].getName)
        .schema(schema)
        .option("url", s"http://127.0.0.1:$port/lake")
        .option("start", "page0.json")
        .option("tokenUrl", s"http://127.0.0.1:$port/token")
        .option("clientId", "graft-gate").option("clientSecret", "s3cr3t")
        .load()
        .filter(col("n_chars") > 200 && col("source") === "src3")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(nRefreshAttempt.get() >= 2,
        s"cursorRotationQ: expected >= 2 refresh attempts, " +
          s"saw ${nRefreshAttempt.get()}")
      require(nRefreshOk.get() >= 1,
        s"cursorRotationQ: expected >= 1 successful rotation, " +
          s"saw ${nRefreshOk.get()}")
      require(nCredGrant.get() >= 2,
        s"cursorRotationQ: expected >= 2 credentials grants " +
          s"(initial + demotion), saw ${nCredGrant.get()}")
      require(nReusedRt.get() == 0,
        s"cursorRotationQ: a consumed refresh token was re-presented " +
          s"${nReusedRt.get()} time(s) - rotation not carried forward")
      out
    } finally server.stop(0)
  }

  /** DSv2 lake WRITE path end-to-end (S10 push side) under the oracle:
    * the documents table is pushed through [[graft.sources.lakesim
    * .LakeSimWrite]]'s real `BatchWrite` commit protocol — task temp
    * files, driver-side publish, index swap — in three waves that
    * exercise BOTH modes:
    *
    *   1. overwrite a decoy subset (doc_id ≤ 100) — seeds a lake whose
    *      objects must later disappear;
    *   2. TRUNCATE-overwrite with the even-id half — the decoy objects
    *      are gone only if the index swap + old-object delete ran;
    *   3. APPEND the odd-id half — the even objects survive only if
    *      append extended the index instead of replacing it.
    *
    * Final lake = even ∪ odd = exactly the original table, scanned back
    * through [[LakeSimSource]] with the q37 pruning filter (the written
    * index's task-side ranges drive the split pruning), so the DuckDB
    * oracle over the ORIGINAL table pins the whole write→index→scan
    * loop: a stale decoy row, a lost append, or a bad written range all
    * hash-mismatch. No parquet shortcut anywhere — the lake content
    * exists only via the V2 writer. */
  def lakesimWriteQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    withTempDir("graft_q105") { base =>
      val lakeDir = base.toString
      docs.filter(col("doc_id") <= 100).repartition(2)
        .write.format(fmt).option("path", lakeDir).mode("overwrite").save()
      docs.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.format(fmt).option("path", lakeDir).mode("overwrite").save()
      docs.filter(col("doc_id") % 2 === 1).repartition(3)
        .write.format(fmt).option("path", lakeDir).mode("append").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      s.read.format(fmt)
        .schema(schema).option("path", lakeDir).option("pageSize", "200").load()
        .filter(col("n_chars") > 300 && col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /** Bloom-filter data skipping under the gate (q199): the documents
    * table HASH-partitioned into a lake — every object's doc_id range
    * spans ~the whole id domain, so range pruning keeps all objects by
    * construction — written with `bloomfields`, then ONE scan with a
    * pushed 3-needle IN filter whose only split-pruning help is the
    * per-object blooms. The query REQUIRES the planner to have pruned
    * (the IN keeps at most the union of per-needle bloom hits): a
    * silently-broken bloom path would still return correct rows, so the
    * gate checks the skipping itself, and the DuckDB oracle over the
    * original table pins the row values. At 100 TB this is the
    * difference between a full lake scan and opening one object for a
    * needle query on a high-cardinality id. */
  def bloomSkipQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    withTempDir("graft_q199") { base =>
      val lakeDir = base.toString
      // object count scales with the table so per-object distinct ids stay
      // near the bloom's design capacity (~600 ids → FP well under 1%); a
      // FIXED count would saturate the 8192-bit filters at larger SFs and
      // false positives would erase the skipping this gate asserts
      val nDocs = docs.count()
      val nObjects = math.max(8L, (nDocs + 599) / 600).toInt
      docs.repartition(nObjects, col("doc_id"))
        .write.format(fmt).option("path", lakeDir)
        .option("bloomfields", "doc_id,source").mode("overwrite").save()
      val needles = Seq(42L, 137L, 443L)
      val entries = graft.sources.lakesim.LakeIndex.load(lakeDir)
      val kept = graft.sources.lakesim.LakeIndex.prune(entries,
        Seq(org.apache.spark.sql.sources.In("doc_id",
          needles.toArray[Any]))).size
      // needle hits plus generous false-positive headroom — the signal is
      // "pruning happened", not an exact object count
      require(kept <= needles.size + math.max(1, entries.size / 10),
        s"bloom skipping regressed: IN(${needles.mkString(",")}) kept " +
        s"$kept of ${entries.size} objects (ranges alone keep all)")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      s.read.format(fmt).schema(schema).option("path", lakeDir).load()
        .filter(col("doc_id").isin(needles: _*))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  /** Schema-DRIFT warehouse evolution under the gate (q180), against
    * LIVE embedded Derby — the reference's defining end-to-end move:
    * version-1 rows (no n_chars yet) create and load the staging
    * table; the corpus then drifts (n_chars appears) and
    * [[graft.sinks.Sinks.jdbcEvolve]] reconciles — introspects the
    * standing table, issues real `ALTER TABLE ADD COLUMN`, aligns, and
    * appends. The final table reads back through the LIVE JDBC
    * metadata; standing rows must carry NULL in the new column and
    * drifted rows their values. The oracle restates the
    * version-membership arithmetic. */
  def jdbcEvolveQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q180") { base =>
      val url = s"jdbc:derby:$base/db;create=true"
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      // version 1: the evens, BEFORE n_chars existed
      graft.sinks.Sinks.jdbcLoad(
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang")),
        url, "DOCS_EVOLVE", mode = org.apache.spark.sql.SaveMode.Overwrite,
        batchSize = 500)
      // version 2: the odds arrive carrying the drifted column
      val added = graft.sinks.Sinks.jdbcEvolve(
        docs.filter(col("doc_id") % 2 === 1), url, "DOCS_EVOLVE",
        batchSize = 500)
      require(added.map(_.toLowerCase) == Seq("n_chars"),
        s"jdbcEvolveQ: expected to add n_chars, added $added")
      s.read.jdbc(url, "DOCS_EVOLVE", new java.util.Properties())
        .select(col("DOC_ID").as("doc_id"), col("LANG").as("lang"),
          col("N_CHARS").as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Index-only aggregate pushdown under the gate (q184): documents
    * land in a lakesim lake through the V2 writer (per-field ranges
    * computed task-side at write time), then COUNT(*)/MIN/MAX answer
    * from the INDEX ALONE — the plan is a metadata scan
    * (LakeSimSourceSpec pins `aggPushed` and the fallback cases), no
    * data object opens. The oracle restates the aggregates over the
    * source table, so a stale range, a lost object, or a bad count in
    * the written index breaks the hash. */
  def lakeAggPushdownQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q184") { base =>
      import org.apache.spark.sql.types._
      val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(4)
        .write.format(fmt).option("path", s"$base/lake")
        .mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      s.read.format(fmt).schema(schema).option("path", s"$base/lake").load()
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .localCheckpoint()
    }

  /** The reference's §3.1 DAILY PIPELINE as one end-to-end gate
    * (q183): a standing warehouse from day 1 (2/3 of the corpus, with
    * day-1 values perturbed so a wrongly re-extracted row is visible
    * in the hash), the full day-2 corpus landing in a REAL lakesim
    * lake under a hostile column name, extract-by-set-difference on
    * ids only (updated day-2 values for standing ids are NOT
    * re-extracted — the reference's watermark-id semantics), name
    * cleansing, and a MERGE insert-only append (one null-safe
    * anti-join on the id is both the set-difference and the append).
    * Every stage is the production operator — V2 writer/scanner,
    * `Cleanse.cleanNames`, `Upsert.insertOnly` — and the oracle
    * restates the whole composition as one CASE. */
  def dailyPipelineQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q183") { base =>
      import org.apache.spark.sql.types._
      val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val warehouse = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("n_chars", col("n_chars") + lit(1000L))
      docs.withColumnRenamed("n_chars", "n.chars")
        .repartition(3)
        .write.format(fmt).option("path", s"$base/lake")
        .mode("overwrite").save()
      val lakeSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n.chars", LongType)))
      val lake = s.read.format(fmt).schema(lakeSchema)
        .option("path", s"$base/lake").load()
      val appended = graft.operators.Upsert.insertOnly(
        warehouse, graft.operators.Cleanse.cleanNames(lake), Seq("doc_id"))
      warehouse.unionByName(appended)
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** FULL MULTI-BUSINESS-CLASS ORCHESTRATION under the gate (q284) —
    * the reference's daily `workflow.ps1` shape end to end
    * (`workflow.ps1:469-509`, `run.ps1:16-30`): one subject area of
    * four business classes with MIXED incremental/full flags and
    * DRIFTING schemas, driven through
    * [[graft.jobs.PipelineRunner.runSubjectArea]] for two extract
    * waves with persisted per-BC schema registries.
    *
    *  - `bc_clicks` (incremental on event_id): wave A lands the even
    *    click ids; wave B redelivers EVERY click with a drifted record
    *    shape (new `cents` field — version 2) and the anti-join
    *    against silver's own keys appends only the odds.
    *  - `bc_views` (full load): wave A evens, wave B the full drifted
    *    set — run 2 OVERWRITES, so silver is exactly wave B.
    *  - `bc_signups` (incremental, stable schema): id%3==0 then the
    *    rest; the registry stays at one version.
    *  - `bc_poison`: its extract file never lands — BOTH runs must
    *    fail IN ISOLATION (`workflow.ps1:192-203`: log, record, keep
    *    going) while the other three classes load.
    *
    * The gate reconciles in-process (per-BC loaded-rows vs final
    * silver counts — the reference's A3 validation step) and the
    * oracle restates the whole run report — per-wave success flags,
    * loaded row counts, the drift-version census, and final warehouse
    * counts — straight from the events table. */
  def orchestrationQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q284") { base =>
      import graft.jobs.{EngineConfig, TableConfig, PipelineRunner}
      val lake = s"$base/lake"
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
      def land(df: DataFrame, bc: String): Unit =
        df.write.mode("overwrite").text(s"$lake/$bc.ndjson")
      def recA(t: String, pred: org.apache.spark.sql.Column) =
        e.filter(col("event_type") === t && pred)
          .select(to_json(struct(col("event_id"), col("user_id"))).as("r"))
      def recB(t: String) = e.filter(col("event_type") === t)
        .select(to_json(struct(col("cents"), col("event_id"),
          col("user_id"))).as("r"))
      val config = EngineConfig(
        tables = Map(
          "clicks" -> TableConfig("bc_clicks", "clicks_dl", "rs1",
            incremental = true, keyColumn = Some("event_id")),
          "views" -> TableConfig("bc_views", "views_dl", "rs1",
            incremental = false),
          "signups" -> TableConfig("bc_signups", "signups_dl", "rs1",
            incremental = true, keyColumn = Some("event_id")),
          "poison" -> TableConfig("bc_poison", "poison_dl", "rs1",
            incremental = false)),
        subjectAreas = Map(
          "daily" -> Seq("clicks", "poison", "signups", "views")))
      def run() = PipelineRunner.runSubjectArea(s, config, "daily", lake,
        s"$base/bronze", s"$base/silver", registryRoot = Some(s"$base/reg"))
      // wave A
      land(recA("click", col("event_id") % 2 === 0), "bc_clicks")
      land(recA("view", col("event_id") % 2 === 0), "bc_views")
      land(recA("signup", col("event_id") % 3 === 0), "bc_signups")
      val r1 = run()
      // wave B: full redelivery; clicks/views drift, signups stay stable
      land(recB("click"), "bc_clicks")
      land(recB("view"), "bc_views")
      land(recA("signup", lit(true)), "bc_signups")
      val r2 = run()
      // per-class failure isolation: poison fails BOTH runs, others land
      require(r1.zip(r2).forall { case (a, b) =>
        a.businessClass == b.businessClass &&
        (a.success == (a.businessClass != "bc_poison")) &&
        (b.success == (b.businessClass != "bc_poison"))
      }, "orchestrationQ: per-class success/failure isolation broken")
      def silverCount(table: String): Long = {
        val p = new org.apache.hadoop.fs.Path(s"$base/silver/$table")
        if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
          s.read.parquet(p.toString).count()
        else 0L
      }
      val silver = Map("bc_clicks" -> silverCount("clicks"),
        "bc_views" -> silverCount("views"),
        "bc_signups" -> silverCount("signups"), "bc_poison" -> 0L)
      // A3 reconciliation: loaded rows must account for final silver
      r1.zip(r2).foreach { case (a, b) =>
        val want = silver(a.businessClass)
        val got =
          if (a.businessClass == "bc_views") b.rows // full load: run 2 wins
          else a.rows + b.rows                      // incremental: appends
        require(got == want, s"orchestrationQ: ${a.businessClass} loaded " +
          s"$got rows but silver holds $want")
      }
      import s.implicits._
      r1.zip(r2).map { case (a, b) =>
        (a.businessClass, a.success, a.rows, a.schemaVersions,
          b.success, b.rows, b.schemaVersions, silver(a.businessClass))
      }.toDF("business_class", "ok_run1", "rows_run1", "versions_run1",
        "ok_run2", "rows_run2", "versions_run2", "silver_rows")
        .orderBy(col("business_class"))
    }

  /** Lake TIME TRAVEL under the gate (q178): three VERSIONED commits —
    * the low half, an append of the rest, then a truncate down to one
    * lang — and the query reads versions 1-3 side-by-side through
    * `versionAsOf` (each version's own index drives its scan; objects
    * are immutable so old versions stay byte-exact after the
    * truncate). The oracle restates each version's membership straight
    * from the documents table; a version that leaks another commit's
    * rows, loses its own, or reads through the wrong index breaks the
    * hash. */
  def lakeTimeTravelQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q178") { base =>
      import org.apache.spark.sql.types._
      val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val lakeDir = s"$base/lake"
      def write(df: DataFrame, mode: String): Unit =
        df.repartition(2).write.format(fmt).option("path", lakeDir)
          .option("versioned", "true").mode(mode).save()
      write(docs.filter(col("doc_id") % 2 === 0), "overwrite") // v1
      write(docs.filter(col("doc_id") % 2 === 1), "append")    // v2
      write(docs.filter(col("lang") === "en"), "overwrite")    // v3 truncate
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      (1 to 3).map { v =>
        s.read.format(fmt).schema(schema).option("path", lakeDir)
          .option("versionAsOf", v.toString).load()
          .select(lit(v).as("version"), col("doc_id"), col("lang"))
      }.reduce(_ unionByName _)
        .orderBy(col("version"), col("doc_id"))
        .localCheckpoint()
    }

  /** AvailableNow lake drain under the oracle gate: documents land in a
    * lakesim lake as 8 data objects, then `readStream` drains it with
    * `maxobjectsperbatch = 3` — the admission-controlled path
    * ([[graft.sources.lakesim.LakeSimMicroBatchStream]]
    * SupportsTriggerAvailableNow): the target offset pins at query
    * start and the drain commits in ceil(8/3) = 3 bounded micro-batches
    * (asserted on the drain's batch count), not one giant batch.
    * The sink must hold exactly the table — any dropped/duplicated
    * object or page breaks the hash. */
  def lakesimStreamQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q134") { base =>
      import org.apache.spark.sql.types._
      val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(8)
        .write.format(fmt).option("path", s"$base/lake")
        .mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      val batches = graft.streaming.StreamState.drain(s.readStream
          .format(fmt).schema(schema).option("path", s"$base/lake")
          .option("maxobjectsperbatch", "3").load(), s"$base/ckpt")(
        _.format("parquet").option("path", s"$base/sink"))
      // the drain was admission-controlled: 3 batches for 8 objects at
      // <= 3 each
      require(batches == 3,
        s"lakesimStreamQ: expected 3 admission-controlled micro-batches " +
        s"for 8 objects at maxobjectsperbatch=3, the drain ran $batches")
      s.read.parquet(s"$base/sink")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Schema'd CSV round trip under the gate (S9/P12): a documents
    * projection (with its free text run through
    * [[graft.operators.Cleanse.sanitizeCsv]] — the reference's
    * pre-serialization pass) writes as CSV and reads back through the
    * EXPLICIT-StructType reader (no inference — a misparse surfaces as a
    * null/shifted column and breaks the hash, instead of inference
    * papering over it with a different type). The oracle restates the
    * projection and the sanitizer's regex semantics. */
  def csvRoundTripQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q139") { base =>
      import org.apache.spark.sql.types._
      // append a CSV-hostile suffix (quote + newline) so the sanitizer
      // provably earns its keep: without it the embedded newline splits
      // the record on read-back and the hash breaks
      val out = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          graft.operators.Cleanse.sanitizeCsv(
            concat(col("text"), lit("\"x\ny"))).as("text_clean"))
      out.write.option("header", "true").mode("overwrite")
        .csv(s"$base/csv")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("text_clean", StringType)))
      graft.operators.OpsTooling.readCsv(s, s"$base/csv", schema)
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** LIVE JDBC round trip under the gate (K3/K4/S12): a documents
    * projection loads into an embedded Derby table through the
    * chunked-batch JDBC sink TWICE — append then truncate-and-reload
    * (the reference's full-load reset; a broken truncate would double
    * every row and break the hash) — then the table is introspected
    * (S12: schema resolved from the live JDBC metadata, and the read
    * projects through THAT StructType's field list) and read back
    * partitioned on the key. The oracle is the original projection: the
    * sink and source must be value-faithful end to end. */
  def jdbcRoundTripQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q140") { base =>
      val url = s"jdbc:derby:$base/db;create=true"
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sinks.Sinks.jdbcLoad(docs, url, "DOCS_STAGE",
        mode = org.apache.spark.sql.SaveMode.Overwrite, batchSize = 500)
      graft.sinks.Sinks.jdbcLoad(docs, url, "DOCS_STAGE",
        mode = org.apache.spark.sql.SaveMode.Overwrite, batchSize = 500,
        truncate = true)
      val introspected = graft.sinks.Sinks.jdbcIntrospect(s, url, "DOCS_STAGE")
      val props = new java.util.Properties()
      props.setProperty("partitionColumn", "doc_id")
      props.setProperty("lowerBound", "0")
      props.setProperty("upperBound", "1000000")
      props.setProperty("numPartitions", "4")
      s.read.jdbc(url, "DOCS_STAGE", props)
        .select(introspected.fieldNames.map(f => col(f.toLowerCase)): _*)
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Nested-NDJSON drift ingest (SURVEY §1.1): records carry a true nested
    * `meta` object; odd keys add a nested field, minting a second leaf-path
    * keyset. Silver is the flattened `_`-joined projection the oracle
    * states over the original table. Keyset sort order: the odd keyset
    * ("meta.cust,meta.status,o_orderkey") precedes the even one
    * ("meta.cust,o_orderkey"), so odd = version 1. */
  def nestedIngestQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val raw = o.select(
      when(col("o_orderkey") % 2 === 0,
        to_json(struct(col("o_orderkey"),
          struct(col("o_custkey").as("cust")).as("meta"))))
      .otherwise(to_json(struct(col("o_orderkey"),
        struct(col("o_custkey").as("cust"),
          col("o_orderstatus").as("status")).as("meta")))).as("rec"))
    IngestPipeline.ingestNested(s, raw, "rec").silver
      .withColumn("schema_version", col("schema_version").cast("long"))
      .withColumn("o_orderkey", col("o_orderkey").cast("long"))
      .orderBy(col("o_orderkey"))
  }

  /** Co-located bucketed join under the oracle gate: customer and orders
    * are REWRITTEN as catalog tables bucketed on the customer key
    * ([[graft.sinks.Sinks.writeBucketed]], 16 buckets, matching counts),
    * then joined and aggregated per market segment THROUGH the bucketed
    * read path — at 100 TB this join runs with no Exchange on either side
    * (pinned by BucketedJoinSpec; at bench scale AQE may still choose to
    * broadcast the small side, which is also shuffle-free). The oracle is
    * the same join over the raw parquet — bucketing must change the
    * LAYOUT, never the answer. The bucketed copies live under a
    * deterministic temp-dir database recreated per run (the write is the
    * point: the shuffle is paid once at write time). */
  def bucketedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val dbDir = s"${System.getProperty("java.io.tmpdir")}/graft_q112_db"
    s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q112 LOCATION '$dbDir'")
    // a PREVIOUS session's table files may survive at the fixed location
    // while this session's catalog has no such table — drop both the
    // catalog entry and any orphaned directory so the write never trips
    // LOCATION_ALREADY_EXISTS
    Seq("customer_b", "orders_b").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS graft_q112.$t")
      val p = new org.apache.hadoop.fs.Path(s"$dbDir/$t")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice").cast(DecimalType(18, 2))
        .as("o_totalprice"))
    graft.sinks.Sinks.writeBucketed(c, "graft_q112.customer_b", 16,
      Seq("c_custkey"), Seq("c_custkey"))
    graft.sinks.Sinks.writeBucketed(o, "graft_q112.orders_b", 16,
      Seq("o_custkey"), Seq("o_custkey"))
    s.table("graft_q112.orders_b")
      .join(s.table("graft_q112.customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** STREAMING quantile monitor under the oracle gate: the documents
    * table arrives in two disjoint waves (evens, then odds — staged
    * files, one micro-batch each under [[graft.streaming.StreamWaves]]) and
    * q110's own [[graft.functions.Sketches.groupQuantiles]] runs on the
    * stream through [[graft.streaming.StreamState.maintain]] — wave 2's
    * report must reflect wave-1 sketch state committed to and loaded
    * from the state store (restart/replay safety is StreamStatsSpec's
    * pin). Because the sketch is a pure set function, the final
    * per-source quantiles are identical to the one-shot batch
    * aggregate — so the oracle is exactly q110's whole-corpus
    * restatement. */
  def streamStatsQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q119") { base =>
      val src = s"$base/landing"
      val docs = Tables.load(s, dir, "documents")
      val narrow = docs.select(col("doc_id"), col("source"), col("n_chars"))
      // two waves, one lifecycle: the one-file-per-micro-batch source
      // drains each staged wave as its own micro-batch (state-store fold between batches is
      // identical to separate drains); restart/replay safety is pinned by
      // StreamStatsSpec
      graft.streaming.StreamWaves.stage(src, Seq(
        narrow.filter(col("doc_id") % 2 === 0).drop("doc_id"),
        narrow.filter(col("doc_id") % 2 === 1).drop("doc_id")))
      graft.streaming.StreamState.maintain(
        graft.functions.Sketches.groupQuantiles(
          graft.streaming.StreamWaves.reader(s, narrow.drop("doc_id").schema,
            src), Seq("source"), "n_chars",
          Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)), capacity = 256),
        s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamState.latest(s.read.parquet(s"$base/sink"),
          Seq("source"))
        .orderBy(col("source"))
        .localCheckpoint()
    }

  /** Run `body` against a fresh temp directory, deleting the tree even on
    * failure (the walk stream holds directory handles and must close).
    * Package-visible: TrainingData's file-producing gates reuse it. */
  private[queries] def withTempDir[T](prefix: String)
      (body: java.nio.file.Path => T): T = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base)
    finally {
      val walk = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  /** TRUE streaming ingest under the oracle gate (§2.11): the documents
    * table is staged into a landing directory in two waves, each ingested
    * by the checkpointed AvailableNow incremental stream — a real
    * `writeStream` + `foreachBatch` run, not a batch restatement. Wave 1
    * lands the even doc_ids (micro-batch 0); wave 2 redelivers EVERY doc
    * and the anti-join against the sink's ids keeps only the odd ones
    * (micro-batch 1); a third run with no new files must be a no-op. The
    * final frame reads the sink back WITH its batch_id partition column,
    * so the oracle pins the payload AND which incremental wave each row
    * landed in — and any replay duplication or loss breaks the hash. */
  def streamIngestQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q98") { base =>
      val src = s"$base/landing"
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      def run(): Unit = graft.streaming.IncrementalIngest.runAvailableNow(
        s, src, docs.schema, "doc_id", s"$base/sink", s"$base/ckpt")
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      run()
      docs.write.mode("append").parquet(src) // evens again + the odds
      run()
      run() // no new files: replay safety — the sink must not change
      s.read.parquet(s"$base/sink")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy(col("doc_id"))
        // materialize before withTempDir removes the staging dirs
        .localCheckpoint()
    }

  /** The STATEFUL streaming path under the oracle gate: watermark-bounded
    * streaming dedup (`dropDuplicatesWithinWatermark` + state store +
    * file-sink exactly-once log), complementing q98's stateless ingest.
    * Wave 1 delivers every third document TWICE (exact duplicate rows in
    * one micro-batch — within-batch dedup); wave 2 redelivers the full
    * corpus, so the wave-1 docs re-arrive a micro-batch later and must
    * be dropped by RESTORED state (the constant event time keeps the
    * watermark below every fingerprint, so nothing evicts mid-test); a
    * third run with no new files is a no-op. Texts are made unique per
    * doc_id so the md5 fingerprint collapses ONLY the staged duplicates
    * — the surviving row set is deterministic and the oracle is just the
    * distinct corpus. */
  def streamDedupQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q104") { base =>
      val src = s"$base/landing"
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(col("doc_id").cast("string"), lit(":"), col("text")).as("text"))
        .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      val third = docs.filter(col("doc_id") % 3 === 0)
      // wave 1 carries exact duplicate rows INSIDE one micro-batch
      // (within-batch dedup); wave 2 re-delivers the full corpus a
      // micro-batch later, dropped by state committed to and loaded
      // from the state store. One lifecycle, one staged file per wave;
      // restart/replay safety is StreamDedupSpec's pin.
      graft.streaming.StreamWaves.stage(src,
        Seq(third.unionAll(third), docs))
      graft.streaming.StreamState.drain(graft.streaming.StreamDedup
          .dedupByFingerprint(
            graft.streaming.StreamWaves.reader(s, docs.schema, src),
            "ts", "text", watermarkDelay = "30 days"), s"$base/ckpt")(
        _.format("parquet").option("path", s"$base/sink"))
      s.read.parquet(s"$base/sink")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Streaming near-dup against a persisted STANDING BAND INDEX — the
    * incremental LSH shape a continuous crawl pipeline runs
    * ([[graft.streaming.StreamNearDup]]). Wave 1 lands the full corpus
    * (all accepted — the index is empty). Wave 2 lands one derived doc
    * per original: every third doc as an EXACT CLONE (identical text,
    * shifted id — signatures identical, so its bands must collide with
    * the STORED wave-1 bands and the stored-shingle Jaccard is 1.0 →
    * dropped), the rest as a HALF-TEXT doc (Jaccard ≈ 0.5 against its
    * original, and the 0.95 size-ratio prefilter kills candidacy →
    * kept, unless exhaustively ≥ 0.95-similar to some wave-1 doc, which
    * the oracle recounts all-pairs). A third run with no new files must
    * leave the accepted sink unchanged. Wave-1 text is NEVER re-read in
    * wave 2 — the drop decision rides the persisted band + shingle
    * state only. */
  def streamNearDupQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q106") { base =>
      val src = s"$base/landing"
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      val wave1 = docs.select(col("doc_id"), col("text"))
      val wave2 = docs.select((col("doc_id") + 100000).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(substring_index_half(col("text"), col("n_chars")))
          .as("text"))
      // two staged waves, one lifecycle: each wave is ONE file, so the
      // one-file-per-micro-batch source drains exactly one wave per
      // micro-batch — the oracle's greedy two-wave semantics assume one
      // wave = one micro-batch (intra-wave pairs deliberately not
      // deduped); fail loudly rather than diverge if that ever breaks.
      // Replay safety is StreamNearDupSpec's pin.
      graft.streaming.StreamWaves.stage(src, Seq(wave1, wave2))
      val n = graft.streaming.StreamNearDup.runAvailableNow(
        s, src, wave1.schema, "doc_id", "text",
        s"$base/state", s"$base/ckpt")
      require(n == 2,
        s"streamNearDupQ: expected 2 micro-batches, source produced $n" +
        " - the one-batch-per-wave oracle assumption no longer holds")
      s.read.parquet(s"$base/state/accepted")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Streaming FUZZY dedup through the REAL runner under the oracle
    * gate: wave 1 (even doc_ids of the sparse typo corpus) seeds the
    * standing variant index, wave 2 (odd ids) probes it — rows within
    * lev ≤ 1 of an accepted wave-1 name drop via STORED state (wave-1
    * names are no longer in the stream), then a no-data replay must
    * leave the accepted set unchanged. The oracle restates the greedy
    * two-wave semantics: all of wave 1, plus wave-2 rows with NO wave-1
    * row within distance 1 (the deletion-neighborhood blocking is
    * complete for d ≤ 1, so the engine's index probe equals the
    * exhaustive NOT EXISTS). */
  def streamFuzzyQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q128") { base =>
      val src = s"$base/landing"
      val named = TrainingData.typoNamesSparse(s, dir)
      val wave1 = named.filter(col("doc_id") % 2 === 0)
      val wave2 = named.filter(col("doc_id") % 2 === 1)
      // two staged waves, one lifecycle (one wave per micro-batch — the
      // greedy two-wave oracle assumption, asserted); replay safety is
      // StreamFuzzyDedupSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(wave1, wave2))
      val n = graft.streaming.StreamFuzzyDedup.runAvailableNow(
        s, src, wave1.schema, "doc_id", "name",
        s"$base/state", s"$base/ckpt")
      require(n == 2,
        s"streamFuzzyQ: expected 2 micro-batches, source produced $n" +
        " - the one-batch-per-wave oracle assumption no longer holds")
      s.read.parquet(s"$base/state/accepted")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** STREAMING as-of join through the REAL `flatMapGroupsWithState` path
    * ([[graft.streaming.StreamAsof]]) under the DuckDB native ASOF JOIN
    * oracle — the q50 data shape (even events probe, odd events quote,
    * quotes pre-deduped to max(value) per user/second) driven as a
    * checkpointed file-source stream instead of the batch operator.
    * Probes buffer in keyed state until the event-time watermark passes
    * them (the StreamAsof emission contract), so two sentinel flush waves
    * on an out-of-band key push the watermark past every buffered probe;
    * the sentinel key is filtered from the result. The whole corpus lands
    * as ONE file so no probe/quote can be dropped by the late filter
    * mid-stream (asserted via the progress log). */
  def streamAsofQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q151") { base =>
      import s.implicits._
      val src = s"$base/landing"
      // a third of the key space: the gate proves streaming≡batch as-of
      // semantics, which is key-local — subsetting keys cuts the state
      // volume each drain pays without weakening the proof
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 3 === 0)
        .withColumn("ts", date_trunc("second", col("ts")))
      val probes = e.filter(col("event_id") % 2 === 0)
        .select(col("user_id").as("key"), col("ts"), lit("l").as("side"),
          col("event_id").cast("double").as("value"))
      val quotes = e.filter(col("event_id") % 2 === 1)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
        .select(col("user_id").as("key"), col("ts"), lit("r").as("side"),
          col("value"))
      val wave = probes.unionByName(quotes)
      def sentinel(tsLit: String) =
        Seq((-1L, java.sql.Timestamp.valueOf(tsLit), "r", 0.0))
          .toDF("key", "ts", "side", "value")
      // the whole corpus is micro-batch 0 (one staged file, one file per
      // micro-batch, so no probe/quote can be dropped by the
      // late filter mid-stream), followed by two sentinel flush batches:
      // the watermark computed at the end of one micro-batch emits
      // buffered probes (via event-time timeout) in the NEXT — all
      // inside ONE AvailableNow lifecycle
      graft.streaming.StreamWaves.stage(src, Seq(wave,
        sentinel("2030-01-01 00:00:00"), sentinel("2030-06-01 00:00:00")))
      val n1 = graft.streaming.StreamState.drain(
          graft.streaming.StreamAsof.asofJoin(
            graft.streaming.StreamWaves.reader(s, wave.schema, src)
              .as[graft.streaming.StreamAsof.AsofInput]
              .withWatermark("ts", "60 seconds")).toDF(), s"$base/ckpt")(
        _.format("parquet").option("path", s"$base/sink")
          .outputMode("append"))
      require(n1 == 3, s"streamAsofQ: expected 3 data micro-batches " +
        s"(corpus + two sentinels), ran $n1 - the no-late-drop premise " +
        "no longer holds")
      s.read.parquet(s"$base/sink")
        .filter(col("key") >= 0)
        .select(col("key"), col("ts"), col("left_value"),
          col("right_ts"), col("right_value"))
        .orderBy(col("key"), col("left_value"))
        .localCheckpoint()
    }

  /** STREAMING sessionization through the real `session_window`
    * aggregation ([[graft.streaming.Sessionize.sessionsStream]]) under
    * the batch lag/gap oracle — q43 gates the batch formulation; this
    * drives the append-mode streaming state path: sessions only reach
    * the sink once the event-time watermark passes their close, so two
    * sentinel flush waves on user −1 close every real session (the
    * sentinel's own rows are filtered out). SessionizeSpec pins the
    * == gap merge boundary both formulations share; values sum as
    * DECIMAL(18,2) so the streaming arrival-order sum restates exactly. */
  def streamSessionsQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q152") { base =>
      import s.implicits._
      val src = s"$base/landing"
      // key-local semantics again (see streamAsofQ): a third of the users
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 3 === 0)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("value").cast(DecimalType(18, 2)).as("value"))
      def sentinel(tsLit: String) =
        Seq((-1L, java.sql.Timestamp.valueOf(tsLit),
            new java.math.BigDecimal(0)))
          .toDF("user_id", "ts", "value")
          .select(col("user_id"), col("ts"),
            col("value").cast(DecimalType(18, 2)).as("value"))
      // corpus + two sentinel flush waves as three micro-batches of ONE
      // lifecycle (sessions reach the append sink once the watermark —
      // advanced between micro-batches — passes their close)
      graft.streaming.StreamWaves.stage(src, Seq(e,
        sentinel("2030-01-01 00:00:00"), sentinel("2030-06-01 00:00:00")))
      graft.streaming.StreamState.drain(graft.streaming.Sessionize
          .sessionsStream(
            graft.streaming.StreamWaves.reader(s, e.schema, src)
              .withWatermark("ts", "60 seconds"),
            "user_id", "ts", "30 minutes", col("value")), s"$base/ckpt")(
        _.format("parquet").option("path", s"$base/sink")
          .outputMode("append"))
      s.read.parquet(s"$base/sink")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value").cast("double").as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
        .localCheckpoint()
    }

  /** Watermark EVICTION of streaming-dedup state under the gate — the
    * piece q104 deliberately freezes (its constant event time keeps every
    * fingerprint alive). Three waves with advancing event times: wave 1
    * (even doc_ids at t1) seeds the state; wave 2 (odd ids at t2 ≫ t1 +
    * 2·delay) advances the watermark far past wave 1's expiry; wave 3
    * redelivers BOTH halves at t2+10min — the even texts are accepted
    * AGAIN (their state was evicted: too-eager retention would drop
    * them) while the odd texts are still inside their watermark window
    * and must drop (too-eager eviction would keep them). The oracle
    * states the resulting (doc_id, wave) multiset exactly. */
  def streamDedupEvictionQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q153") { base =>
      val src = s"$base/landing"
      val t1 = "2026-01-01 00:00:00"
      val t2 = "2026-02-01 00:00:00"
      val t3 = "2026-02-01 00:10:00"
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("doc_id").cast("string"), lit(":"), col("text"))
            .as("text"))
      def at(df: DataFrame, ts: String) =
        df.withColumn("ts", to_timestamp(lit(ts)))
      val evens = docs.filter(col("doc_id") % 2 === 0)
      val odds = docs.filter(col("doc_id") % 2 === 1)
      def run(): Unit = graft.streaming.StreamState.drain(
          graft.streaming.StreamDedup.dedupByFingerprint(
            s.readStream.schema(at(evens, t1).schema).parquet(src),
            "ts", "text", watermarkDelay = "1 hour"), s"$base/ckpt")(
        _.format("parquet").option("path", s"$base/sink"))
      at(evens, t1).coalesce(1).write.mode("append").parquet(src)
      run() // wave 1: all accepted, state expires at t1 + 1h
      at(odds, t2).coalesce(1).write.mode("append").parquet(src)
      run() // wave 2: accepted; watermark advances to t2 − 1h ≫ t1 + 1h
      at(evens, t3).unionByName(at(odds, t3)).coalesce(1)
        .write.mode("append").parquet(src)
      run() // wave 3: evens re-accepted (evicted), odds still dropped
      s.read.parquet(s"$base/sink")
        .select(col("doc_id"),
          when(col("ts") === to_timestamp(lit(t1)), 1L)
            .when(col("ts") === to_timestamp(lit(t2)), 2L)
            .otherwise(3L).as("wave"))
        .orderBy(col("doc_id"), col("wave"))
        .localCheckpoint()
    }

  /** First half of the text — `floor(n_chars/2)` chars, stated with
    * `floor` so the Spark and DuckDB integer semantics agree exactly. */
  private def substring_index_half(text: org.apache.spark.sql.Column,
      nChars: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    text.substr(lit(1), floor(nChars / lit(2)).cast("int"))

  /** SCD2 history build under the gate: the events stream compacts into
    * per-user type-2 intervals on the tracked `event_type` attribute —
    * consecutive observations with the same type collapse into one
    * version, `valid_to` chains to the next run's start, the open run is
    * current ([[graft.operators.Scd2.fromChangeLog]]; the warehouse
    * history the reference's overwrite-upsert loses). `event_id` breaks
    * timestamp ties deterministically in both engines. */
  def scd2Q(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    graft.operators.Scd2.fromChangeLog(e, Seq("user_id"), "ts",
        Seq("event_type"), tieCols = Seq("event_id"))
      .orderBy(col("user_id"), col("version"))
  }

  /** SCD2 history RETENTION under the gate (q176): the q143 history
    * vacuumed to the 2024-01-20 horizon through
    * [[graft.operators.Scd2.retain]] — open intervals and every closed
    * version still live at the horizon survive; older versions drop
    * with their version numbers preserved. The oracle restates the
    * q143 build plus the retention predicate. */
  def scd2RetainQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2.retain(scd2Q(s, dir),
        to_timestamp(lit("2024-01-20 00:00:00")))
      .orderBy(col("user_id"), col("version"))

  /** SCD2 POINT-IN-TIME join under the gate — the "as-was" temporal
    * lookup the q143 history exists to answer: every event joins the
    * dimension version valid at its timestamp (half-open intervals,
    * boundary events take the newer version, the open interval covers
    * the tail). [[graft.operators.Scd2.pointInTime]] runs it as a
    * time-bucketed equi-join, never an inequality join; the oracle
    * recomputes the history and states the interval predicate directly,
    * so a wrong version attach anywhere breaks the hash. Every event is
    * its own observation, so the output row count must equal the event
    * count — inner-join drops would show. */
  def scd2LookupQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    val hist = graft.operators.Scd2.fromChangeLog(e, Seq("user_id"), "ts",
        Seq("event_type"), tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type").as("type_at_time"),
        col("valid_from"), col("valid_to"), col("version"))
    graft.operators.Scd2.pointInTime(
        e.select(col("event_id"), col("user_id"), col("ts")), hist,
        Seq("user_id"), "ts", bucketSeconds = 86400L,
        dimCols = Seq("type_at_time"))
      .select(col("event_id"), col("user_id"), col("ts"), col("version"),
        col("type_at_time"))
      .orderBy(col("event_id"))
  }

  /** STREAMING SCD2 maintenance under the gate: three event-time-ordered
    * waves drain through [[graft.streaming.Scd2Stream]] — each micro-batch
    * folds into the standing history via `Scd2.merge` (closed versions
    * pass through untouched; only affected keys' current rows re-compact)
    * — and the FINAL standing history must equal the q143 batch recompute
    * of the full log, which is exactly what the oracle states. A no-data
    * fourth run must leave the snapshot chain's answer unchanged. This is
    * the incremental-equals-full invariant the Scd2Spec merge test pins,
    * proven through the real checkpointed stream. */
  def scd2StreamQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q157") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 2 === 0) // half the key space: the
        // merge/enrich/compact invariants are key-local, so the gate
        // proves them at half the fold cost (oracle mirrors the slice)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_id"), col("event_type"))
      // event-time-ordered staged waves (the merge ordering contract):
      // day 1-10, 11-20, then the rest — one lifecycle, one micro-batch
      // per wave; replay safety is Scd2StreamSpec's pin
      val d = dayofmonth(col("ts"))
      graft.streaming.StreamWaves.stage(src, Seq(
        e.filter(d <= 10), e.filter(d > 10 && d <= 20), e.filter(d > 20)))
      val n = graft.streaming.Scd2Stream.runAvailableNow(
        s, src, e.schema, Seq("user_id"), "ts", Seq("event_type"),
        Seq("event_id"), s"$base/state", s"$base/ckpt")
      require(n == 3, s"scd2StreamQ: expected 3 micro-batches, ran $n")
      graft.streaming.Scd2Stream.currentHistory(s, s"$base/state")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))
        .orderBy(col("user_id"), col("version"))
        .localCheckpoint()
    }

  /** STREAMING drift monitor under the gate (q210): the q207 chi-squared
    * audit's batch≡stream invariant — the high-value event slice drains
    * in three waves while [[graft.functions.Drift.categoryCounts]] runs
    * on the stream through [[graft.streaming.StreamState.maintain]]
    * (per-category cumulative counts as streaming aggregate state,
    * batch_id-keyed emission), and the audit computed from the STANDING
    * counts against the batch reference slice must hash-equal the batch
    * [[graft.functions.Drift.chiSquaredAudit]] — q207's oracle verbatim. */
  def streamDriftQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q210") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
      val cur = e.filter(col("value") > 50)
        .select(col("event_id"), col("event_type"))
      // three staged waves, one lifecycle (one micro-batch per wave);
      // replay safety is StreamDriftSpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(w =>
        cur.filter(col("event_id") % 3 === w)))
      graft.streaming.StreamState.maintain(graft.functions.Drift
          .categoryCounts(graft.streaming.StreamWaves.reader(s, cur.schema,
            src), "event_type", "cur_n"),
        s"$base/sink", s"$base/ckpt")
      graft.functions.Drift.chiSquaredAuditFromCounts(
          graft.functions.Drift.categoryCounts(e.filter(col("value") <= 50),
            "event_type", "ref_n"),
          graft.streaming.StreamState.latest(s.read.parquet(s"$base/sink"),
            Seq("category")),
          tNum = 1, tDen = 4)
        .withColumn("chi_num", col("chi_num").cast("long"))
        .withColumn("chi_den", col("chi_den").cast("long"))
        .orderBy(col("category"))
        .localCheckpoint()
    }

  /** STREAMING CUSUM monitor under the gate (q221): the q213 alarm
    * family's batch≡stream invariant — the same sparse event slice
    * drains through [[graft.streaming.StreamCusum]] in three day-ordered
    * waves (per-key (lastDay, S) state; silent days SYNTHESIZED by the
    * fold, decaying the statistic exactly as the batch densify+cusum
    * composition does), and the full emitted (k, day, x, cusum) series
    * with alarms must hash-equal the batch pipeline — q213's oracle
    * verbatim. A no-data fourth drain must leave the sink untouched. */
  def streamCusumQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q221") { base =>
      val src = s"$base/landing"
      val days = Tables.load(s, dir, "events")
        .filter(col("event_id") % 11 === 0)
        .select((col("user_id") % 25).as("k"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
      val bounds = days.agg(min(col("day")), max(col("day")))
        .collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val cut1 = lo + (hi - lo) / 3
      val cut2 = lo + 2 * (hi - lo) / 3
      // day-ordered staged waves (a calendar day never spans two
      // batches), one lifecycle; replay safety is StreamCusumSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(
        days.filter(col("day") <= cut1),
        days.filter(col("day") > cut1 && col("day") <= cut2),
        days.filter(col("day") > cut2)))
      graft.streaming.StreamCusum.runAvailableNow(
        s, src, days.schema, "k", "day", drift = 2,
        s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamCusum.emittedSeries(s, s"$base/sink")
        .withColumn("alarm", col("cusum") > 3)
        .orderBy(col("k"), col("day"))
        .localCheckpoint()
    }

  /** STREAMING heavy-hitter sketch under the gate (q225): the q93
    * count-min family's batch≡stream invariant — the corpus token
    * stream drains in three doc-keyed waves while
    * [[graft.functions.Sketches.countMinCells]] runs on it through
    * [[graft.streaming.StreamState.maintain]] (per-cell cumulative
    * counts as streaming aggregate state, batch_id-keyed emission). The
    * standing 4×1024 grid therefore equals the one-shot batch grid
    * REGISTER FOR REGISTER (StreamSketchSpec's pin), and the top-20
    * heavy hitters SERVED off the maintained grid must hash-equal the
    * batch estimates — q93's oracle verbatim.
    * [[graft.streaming.StreamState.compact]]
    * runs MID-CHAIN (after wave 2) and again before serving: the
    * folded `batch_id=-1` snapshot must be a valid maintenance
    * substrate and leave the served grid identical, while bounding the
    * serving scan by state size instead of batches elapsed. */
  def streamHeavyQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q225") { base =>
      val src = s"$base/landing"
      val toks = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          explode(graft.functions.TextAnalysis.tokens(lower(col("text"))))
            .as("term"))
      def run(): Unit = graft.streaming.StreamState.maintain(
        graft.functions.Sketches.countMinCells(graft.streaming.StreamWaves
          .reader(s, toks.select("term").schema, src), "term"),
        s"$base/sink", s"$base/ckpt")
      def wave(wv: Int) = toks.filter(col("doc_id") % 3 === wv)
        .select("term")
      // waves 0-1 in one lifecycle (one micro-batch each), then the
      // MID-CHAIN compaction — the folded batch_id=-1 snapshot must be a
      // valid serving AND maintenance substrate — then wave 2 folds on
      // top of the compacted state in a second lifecycle. Replay safety
      // is StreamSketchSpec's pin.
      graft.streaming.StreamWaves.stage(src, Seq(wave(0), wave(1)))
      run()
      graft.streaming.StreamState.compact(
        s, s"$base/sink", Seq("depth", "bucket"))
      graft.streaming.StreamWaves.stage(src, Seq(wave(2)))
      run()
      // serving identity through compaction is StreamSinkCompactSpec's
      // pin and maintained ≡ batch sketch is StreamSketchSpec's; the
      // oracle restates the estimates, so the gate no longer runs a
      // third compaction round or rebuilds the batch sketch per bench run
      val cells = graft.streaming.StreamState.latest(
        s.read.parquet(s"$base/sink"), Seq("depth", "bucket")).localCheckpoint()
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(20)
      graft.functions.Sketches.countMinEstimate(cells, top, "term")
        .join(top, "term")
        .select(col("term"), col("cnt"), col("est_count"))
        .orderBy(col("cnt").desc, col("term"))
        .localCheckpoint()
    }

  /** STREAMING churn monitor under the gate (q232): the q229 snapshot
    * diff's batch≡stream invariant — the NEW snapshot (q229's modified
    * orders slice) drains through [[graft.streaming.StreamChurn]] in
    * three key-split waves, each micro-batch classifying against the
    * static old-side fingerprints and appending disjoint metric
    * increments; the summed standing report (with `removed` derived
    * from the old-side count) must hash-equal the batch
    * [[graft.operators.SnapshotDiff.columnChurn]] — q229's oracle
    * verbatim. A no-data fourth drain must leave the sink untouched. */
  def streamChurnQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q232") { base =>
      val src = s"$base/landing"
      val orders = Tables.load(s, dir, "orders")
      val cols = Seq("o_custkey", "o_orderstatus")
      val old = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_custkey"),
          col("o_orderstatus"))
      val nw = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 3 === 0, col("o_custkey") + 1000000)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      val oldFps = graft.streaming.StreamChurn
        .oldFingerprints(old, "k", cols).localCheckpoint()
      val nOld = old.count()
      // three staged key-split waves, one lifecycle; replay safety is
      // StreamChurnSpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(wv =>
        nw.filter(col("k") % 3 === wv)))
      graft.streaming.StreamChurn.runAvailableNow(
        s, src, nw.schema, oldFps, "k", cols, s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamChurn.currentChurn(s, s"$base/sink", nOld)
        .orderBy(col("metric"))
        .localCheckpoint()
    }

  /** STREAMING lateness monitor under the gate (q247): the q245
    * out-of-orderness audit's batch≡stream invariant — the jittered
    * event stream drains through [[graft.streaming.StreamLateness]] in
    * three ARRIVAL-ORDERED waves (event_id range split, the append-log
    * shape; per-key high-water/count state, batch_id-keyed emission),
    * and the standing per-user audit must hash-equal the batch
    * [[graft.operators.TimeSeries.latenessAudit]] — q245's oracle
    * verbatim. A no-data fourth drain must leave the sink untouched. */
  def streamLatenessQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q247") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) -
            (col("event_id") % 7) * 1800000000L).as("et_us"))
      val bounds = e.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (c1, c2) = (bounds / 3, 2 * bounds / 3)
      // three staged arrival-ordered waves, one lifecycle; replay safety
      // is StreamLatenessSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(
        e.filter(col("event_id") <= c1),
        e.filter(col("event_id") > c1 && col("event_id") <= c2),
        e.filter(col("event_id") > c2)))
      graft.streaming.StreamLateness.runAvailableNow(
        s, src, e.schema, "user_id", "event_id", "et_us",
        s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamLateness.currentAudit(s, s"$base/sink")
        .select(col("k").as("user_id"), col("n"), col("n_late"),
          col("max_late_us"))
        .orderBy(col("user_id"))
        .localCheckpoint()
    }

  /** STREAMING exact-bitmap monitor under the gate (q258): the q249
    * family's batch≡stream invariant on the EXACT side — the full
    * event stream drains in four waves while
    * [[graft.functions.Bitmap.bitmaps]] runs on it through
    * [[graft.streaming.StreamState.maintain]] (per-(type, bucket)
    * OR-word state), so the standing words equal the one-shot batch
    * bitmap WORD FOR WORD (StreamBitmapSpec's pin); the output serves
    * the words plus popcounts — q249's oracle shape over the full
    * corpus. Waves OVERLAP on purpose (the %3 split re-delivers
    * boundary users' events across waves): idempotent OR state must
    * absorb re-delivery, the property the HLL monitors share and
    * counters lack. */
  def streamBitmapQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q258") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      // four staged waves (three OVERLAPPING key slices, then the full
      // top-up), one lifecycle; replay safety is StreamBitmapSpec's pin
      graft.streaming.StreamWaves.stage(src,
        (0 to 2).map(wv => e.filter(col("event_id") % 3 === wv ||
          col("event_id") % 7 === wv)) :+ e)
      graft.streaming.StreamState.maintain(graft.functions.Bitmap.bitmaps(
          graft.streaming.StreamWaves.reader(s, e.schema, src),
          "event_type", "user_id"),
        s"$base/sink", s"$base/ckpt")
      // the oracle restates the expected words, so the gate does not
      // rebuild the batch bitmap per bench run
      graft.streaming.StreamState.latest(s.read.parquet(s"$base/sink"),
          Seq("event_type", "bucket"))
        .select(col("event_type"), col("bucket"), col("bits"),
          bit_count(col("bits")).cast("long").as("n_bits"))
        .orderBy(col("event_type"), col("bucket"))
        .localCheckpoint()
    }

  /** STREAMING quantile-sketch monitor under the gate (q260): the
    * q237 maintenance invariant, streamed — the per-event-type cent
    * histogram (capacity 256, SATURATED) maintained across three waves
    * by [[graft.operators.AggMaintain.quantileState]] run on the stream
    * through [[graft.streaming.StreamState.maintain]]; the standing
    * entries equal the one-shot batch sketch ENTRY FOR ENTRY
    * (StreamQuantileSpec's pin — the once-evicted-never-returns
    * hash-rank argument is what makes bounded streaming state exact),
    * and the output is the standing histogram under q237's oracle
    * verbatim. */
  def streamQuantileQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q260") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .select(col("event_id"), col("event_type"), col("cents"))
      // three staged waves, one lifecycle; replay safety is
      // StreamQuantileSpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(wv =>
        e.filter(col("event_id") % 3 === wv)))
      graft.streaming.StreamState.maintain(
        graft.operators.AggMaintain.quantileState(
          graft.streaming.StreamWaves.reader(s, e.schema, src),
          "event_type", "cents", 256),
        s"$base/sink", s"$base/ckpt")
      // the oracle restates the maintained histogram, so the gate does
      // not rebuild the batch sketch
      graft.streaming.StreamState.latest(s.read.parquet(s"$base/sink"),
          Seq("event_type"))
        .select(col("event_type"), explode(col("q_sketch")).as("e"))
        .select(col("event_type"), col("e.value"), col("e.count"))
        .orderBy(col("event_type"), col("value"))
        .localCheckpoint()
    }

  /** STREAMING connected-components maintenance under the gate (q261):
    * the dedup-cluster family's maintenance member — two waves of
    * synthetic near-dup pairs drain through
    * [[graft.streaming.StreamComponents]] (star-forest replay + delta
    * edges per micro-batch, delta-only writes), and the standing
    * assignment must row-match a one-shot
    * [[graft.operators.Components.connectedComponents]] over the UNION
    * of both waves (StreamComponentsSpec's pin). Wave 2 re-delivers a
    * slice of wave 1 (idempotent under the star forest), absorbs fresh
    * singletons, and bridges pairs of standing clusters — the merge
    * relabels every member of the losing cluster, the path a
    * from-scratch recompute never exercises. A no-data third drain
    * must leave the sink untouched. */
  def streamComponentsQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q261") { base =>
      val src = s"$base/landing"
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      // moduli chosen so the gate proves every maintenance path at half
      // the graph: w2's %16 slice RE-DELIVERS part of w1's %4 set
      // (idempotent), %20 absorbs fresh singletons onto standing nodes,
      // and the %40 bridge joins TWO STANDING clusters (doc+200000 from
      // the %8 chain, doc+100004 from the %4 chain) so the merge
      // relabels the losing cluster's members
      val w1 = d.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 100000L).as("b"))
        .union(d.filter(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 100000L).as("a"),
            (col("doc_id") + 200000L).as("b")))
      val w2 = d.filter(col("doc_id") % 16 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 100000L).as("b"))
        .union(d.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("a"), (col("doc_id") + 3L).as("b")))
        .union(d.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 200000L).as("a"),
            (col("doc_id") + 100004L).as("b")))
      // two staged waves, one lifecycle; replay safety is
      // StreamComponentsSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(w1, w2))
      graft.streaming.StreamComponents.runAvailableNow(
        s, src, w1.schema, "a", "b", s"$base/sink", s"$base/ckpt")
      // standing ≡ one-shot connectedComponents over w1 ∪ w2 is
      // StreamComponentsSpec's pin; the oracle's recursive-CTE closure
      // independently restates the assignment, so the gate no longer
      // re-runs the batch operator (a full iterative CC) per bench run
      graft.streaming.StreamComponents
        .currentAssignment(s, s"$base/sink")
        .orderBy(col("id")).localCheckpoint()
    }

  /** STREAMING weighted reservoir under the gate (q264): q263's
    * Efraimidis–Spirakis bottom-k MAINTAINED — three doc-keyed waves
    * (wave 2 re-delivers a slice of wave 1) drain through
    * [[graft.streaming.StreamReservoir]], folding each batch into the
    * standing k-row reservoir; the standing sample row-matches the
    * one-shot [[graft.functions.Sampling.weightedReservoir]] over the
    * full corpus — the KMV eviction argument: ranks are pure row
    * functions and the k-th rank only decreases. That equivalence is
    * SamplingSpec's maintenance pin; the DuckDB oracle (q263's verbatim)
    * independently restates the expected rows, so the gate no longer
    * re-proves it in the timed region (it was a second full one-shot
    * rank plus two exceptAll scans per bench run). A no-data fourth
    * drain must leave the sink untouched. */
  def streamReservoirQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q264") { base =>
      val src = s"$base/landing"
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      // three staged waves (wave 2 re-delivers wave 1's %5 slice:
      // idempotent under rank-identical re-arrival), one lifecycle;
      // replay safety is StreamReplaySpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(wv =>
        d.filter(col("doc_id") % 3 === wv ||
          (lit(wv) === 1 && col("doc_id") % 3 === 0 &&
            col("doc_id") % 5 === 0))))
      graft.streaming.StreamReservoir.runAvailableNow(
        s, src, d.schema, "doc_id", "n_chars", 100,
        s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamReservoir
        .currentReservoir(s, s"$base/sink")
        .select(col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"), col("n_chars"))
        .orderBy(col("sample_rank")).localCheckpoint()
    }

  /** STREAMING TVD monitor under the gate (q279): q276's exact
    * total-variation drift maintained while the current side lands —
    * the second-half event mix (with q276's planted cohort-0/1 signup
    * drop) drains through [[graft.streaming.StreamTvd]] in three
    * event-keyed waves of per-batch count increments; the standing
    * report row-matches the one-shot batch
    * [[graft.functions.Drift.tvdDrift]] — StreamTvdSpec's pin; the
    * DuckDB oracle (q276's verbatim) independently restates the
    * expected report, so the gate no longer re-proves the equivalence
    * in the timed region. A no-data fourth drain must leave the sink
    * untouched. */
  def streamTvdQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q279") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .select((col("user_id") % 4).as("cohort"), col("event_type"),
          col("event_id"),
          (dayofmonth(col("ts").cast("date")) <= 15).as("is_a"))
      val ref = e.filter(col("is_a"))
      val cur = e.filter(!col("is_a"))
        .filter(!(col("event_type") === "signup" && col("cohort") <= 1 &&
          col("event_id") % 3 === 0))
        .select(col("cohort"), col("event_type"), col("event_id"))
      // three staged waves, one lifecycle; replay safety is
      // StreamReplaySpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(wv =>
        cur.filter(col("event_id") % 3 === wv)))
      graft.streaming.StreamTvd.runAvailableNow(
        s, src, cur.schema, "cohort", "event_type",
        s"$base/sink", s"$base/ckpt")
      graft.streaming.StreamTvd.currentDrift(
          s, s"$base/sink", ref, "cohort", "event_type", 3L, 100L)
        .orderBy(col("cohort"), col("event_type")).localCheckpoint()
    }

  /** STREAMING funnel maintenance under the gate (q195): the q186
    * funnel family's batch≡stream invariant — three event-time-ordered
    * waves of the 1/7 event slice drain through
    * [[graft.streaming.FunnelStream]] (per-user chained-MIN state folded
    * per micro-batch, batch-user-sized writes, max_by(batch_id)
    * resolution), and the standing per-user step times must equal the
    * batch [[graft.operators.Funnels.funnelTimes]] over the full slice —
    * which is what the oracle states, per user. Chains completing
    * within one wave and across waves both occur in the slice. A
    * no-data fourth drain must leave the answer unchanged. */
  def funnelStreamQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q195") { base =>
      val src = s"$base/landing"
      val steps = Seq("view", "click", "signup", "purchase")
      val e = Tables.load(s, dir, "events")
        .filter(col("event_id") % 7 === 0 && col("user_id") % 2 === 0)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_type"))
      val d = dayofmonth(col("ts"))
      // three staged event-time-ordered waves, one lifecycle (one
      // micro-batch per wave); replay safety is FunnelStreamSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(
        e.filter(d <= 10), e.filter(d > 10 && d <= 20), e.filter(d > 20)))
      val n = graft.streaming.FunnelStream.runAvailableNow(
        s, src, e.schema, "user_id", "ts", "event_type", steps,
        s"$base/state", s"$base/ckpt")
      require(n == 3, s"funnelStreamQ: expected 3 micro-batches, ran $n")
      graft.streaming.FunnelStream.currentTimes(s, s"$base/state",
          "user_id", steps, e.schema("user_id"))
        .orderBy(col("user_id"))
        .localCheckpoint()
    }

  /** NATIVE stream-stream interval join under the gate (q205): the q198
    * interval-overlap pairs re-derived by Spark's built-in watermarked
    * stream-stream inner join (equi-key + event-time range → bounded
    * join state) over three time-ordered waves of the two event slices —
    * cross-wave pairs near the wave boundaries force joins against
    * buffered state from earlier drains. The emitted pair set must
    * equal the batch join: q198's oracle verbatim. A no-data fourth
    * drain must append nothing (exactly-once across restarts). */
  def streamIntervalJoinQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q205") { base =>
      val (aDir, bDir) = (s"$base/a", s"$base/b")
      val e = Tables.load(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      val a = e.filter(col("event_id") % 3 === 1)
        .select(col("event_id").as("a_id"), col("user_id"),
          col("ts").as("a_start"))
      val b = e.filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("b_id"), col("user_id").as("b_user_id"),
          col("ts").as("b_start"))
      // event-time-ordered staged waves (the watermark contract any
      // production feed honors); boundary-adjacent intervals overlap
      // across waves, so batch N joins against join state buffered from
      // batches < N. One lifecycle, one wave file per side per
      // micro-batch; exactly-once replay across restarts is
      // StreamReplaySpec's pin.
      val cuts = Seq(
        (ts: org.apache.spark.sql.Column) =>
          ts < lit("2024-01-11").cast("timestamp"),
        (ts: org.apache.spark.sql.Column) =>
          ts >= lit("2024-01-11").cast("timestamp") &&
            ts < lit("2024-01-21").cast("timestamp"),
        (ts: org.apache.spark.sql.Column) =>
          ts >= lit("2024-01-21").cast("timestamp"))
      graft.streaming.StreamWaves.stageAll(Seq(
        aDir -> cuts.map(c => a.filter(c(col("a_start")))),
        bDir -> cuts.map(c => b.filter(c(col("b_start"))))))
      graft.streaming.StreamIntervalJoin.runAvailableNow(
        s, aDir, bDir, a.schema, b.schema,
        aLenSec = 7200L, bLenSec = 2700L, delay = "2 hours",
        outDir = s"$base/out", checkpointPath = s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .select(col("a_id"), col("b_id"), col("user_id"))
        .orderBy(col("a_id"), col("b_id"))
        .localCheckpoint()
    }

  /** Stream-stream LEFT OUTER interval join under the gate (q262):
    * q205's inner join covers matches; the reference's late/failed-
    * record posture (unmatched work SURFACES, it doesn't vanish —
    * `datalakewrapper.py:286-297`) wants the outer variant, which
    * Spark bounds with the identical watermark state: unmatched left
    * rows emit null-extended when the global watermark passes their
    * join window. The 1/5 slices leave ~97% of left rows unmatched at
    * sf0.01, so the expiry path dominates the output — a join that
    * silently drops them is unmistakable. The final far-future
    * sentinel wave (both sides; the global watermark is the min across
    * sources) flushes every straggler; sentinels are filtered out, and
    * the result equals the batch LEFT join under identical bounds —
    * StreamIntervalJoinSpec's pin, independently stated by the oracle's
    * DuckDB LEFT JOIN, so the gate no longer re-runs the batch range
    * join plus two exceptAll scans in the timed region. */
  def streamLeftIntervalQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q262") { base =>
      val (aDir, bDir) = (s"$base/a", s"$base/b")
      val e = Tables.load(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      val a = e.filter(col("event_id") % 5 === 1)
        .select(col("event_id").as("a_id"), col("user_id"),
          col("ts").as("a_start"))
      val b = e.filter(col("event_id") % 5 === 2)
        .select(col("event_id").as("b_id"), col("user_id").as("b_user_id"),
          col("ts").as("b_start"))
      // two event-time-ordered waves plus far-future sentinels on BOTH
      // sides (the global watermark is the min across sources): the
      // sentinel micro-batch pushes the watermark past every buffered
      // row, and the engine's trailing no-data micro-batch inside the
      // SAME AvailableNow drain evicts and emits the null-extended rows.
      // One lifecycle, one wave file per side per micro-batch.
      val t = lit("2024-03-01").cast("timestamp")
      graft.streaming.StreamWaves.stageAll(Seq(
        aDir -> Seq(
          a.filter(col("a_start") < lit("2024-01-16").cast("timestamp")),
          a.filter(col("a_start") >= lit("2024-01-16").cast("timestamp")),
          a.limit(0).union(s.range(1).select(lit(-1L).as("a_id"),
            lit(-999L).as("user_id"), t.as("a_start")))),
        bDir -> Seq(
          b.filter(col("b_start") < lit("2024-01-16").cast("timestamp")),
          b.filter(col("b_start") >= lit("2024-01-16").cast("timestamp")),
          b.limit(0).union(s.range(1).select(lit(-1L).as("b_id"),
            lit(-998L).as("b_user_id"), t.as("b_start"))))))
      graft.streaming.StreamIntervalJoin.runAvailableNow(
        s, aDir, bDir, a.schema, b.schema,
        aLenSec = 3600L, bLenSec = 1800L, delay = "1 hour",
        outDir = s"$base/out", checkpointPath = s"$base/ckpt",
        joinType = "left_outer")
      s.read.parquet(s"$base/out")
        .filter(col("a_id") >= 0)
        .select(col("a_id"), coalesce(col("b_id"), lit(-1L)).as("b_id"),
          col("user_id"))
        .orderBy(col("a_id"), col("b_id")).localCheckpoint()
    }

  /** SCD2 snapshot COMPACTION under the gate (q165): the same staged
    * drain as q157, but [[graft.streaming.Scd2Stream.compact]] runs
    * MID-CHAIN (after wave 2) and again after the final wave — the
    * base-fold/manifest-rewrite path, the trickiest replay surface in
    * the streaming state machine, must leave the standing history
    * byte-identical to the full batch recompute (the q157/q143 oracle
    * verbatim). A fold that loses a bucket, mis-points a manifest at
    * the base, or absorbs the newest delta breaks the hash; the
    * post-compact drain proves the compacted state is a valid merge
    * input, not just a valid read. */
  def scd2StreamCompactQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q165") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 2 === 0) // half the key space: the
        // merge/enrich/compact invariants are key-local, so the gate
        // proves them at half the fold cost (oracle mirrors the slice)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_id"), col("event_type"))
      def run(): Long = graft.streaming.Scd2Stream.runAvailableNow(
        s, src, e.schema, Seq("user_id"), "ts", Seq("event_type"),
        Seq("event_id"), s"$base/state", s"$base/ckpt")
      val d = dayofmonth(col("ts"))
      // waves 1-2 drain in one lifecycle (one micro-batch each), then the
      // MID-CHAIN compaction; wave 3 folds on top of the compacted state
      // in a second lifecycle — the post-compact drain proves the folded
      // state is a valid merge input, not just a valid read
      graft.streaming.StreamWaves.stage(src, Seq(
        e.filter(d <= 10), e.filter(d > 10 && d <= 20)))
      run()
      graft.streaming.Scd2Stream.compact(s, s"$base/state")
      graft.streaming.StreamWaves.stage(src, Seq(e.filter(d > 20)))
      run()
      graft.streaming.Scd2Stream.compact(s, s"$base/state")
      graft.streaming.Scd2Stream.compact(s, s"$base/state") // idempotent
      graft.streaming.Scd2Stream.currentHistory(s, s"$base/state")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))
        .orderBy(col("user_id"), col("version"))
        .localCheckpoint()
    }

  /** STREAMING CDC SCD2 under the gate (q170): the q157 staged drain
    * with an op column — waves 1-2 are upserts, wave 3 carries the rest
    * of the log PLUS delete tombstones (every 7th user, one hour after
    * their last observation) in the SAME batch, and the standing
    * history must equal the batch recompute with deletes applied — the
    * q169 oracle verbatim. Proves the CDC split (upserts merge first,
    * tombstones close after) through the real checkpointed stream. */
  def scd2CdcStreamQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q170") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 2 === 0) // half the key space: the
        // merge/enrich/compact invariants are key-local, so the gate
        // proves them at half the fold cost (oracle mirrors the slice)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_id"), col("event_type"))
      val asCdc = (df: DataFrame) => df.withColumn("op", lit("u"))
      val tombstones = e.filter(col("user_id") % 7 === 0)
        .groupBy(col("user_id"))
        .agg((max(col("ts")) + expr("INTERVAL 1 HOUR")).as("ts"))
        .select(col("user_id"), col("ts"),
          lit(null).cast("long").as("event_id"),
          lit(null).cast("string").as("event_type"),
          lit("d").as("op"))
      val schema = asCdc(e).schema
      val d = dayofmonth(col("ts"))
      // three staged CDC waves (the last mixes upserts + tombstones in
      // ONE batch), one lifecycle; replay safety is Scd2StreamSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(
        asCdc(e.filter(d <= 10)),
        asCdc(e.filter(d > 10 && d <= 20)),
        asCdc(e.filter(d > 20)).unionByName(tombstones)))
      val n = graft.streaming.Scd2Stream.runAvailableNow(
        s, src, schema, Seq("user_id"), "ts", Seq("event_type"),
        Seq("event_id"), s"$base/state", s"$base/ckpt",
        opCol = Some("op"))
      require(n == 3, s"scd2CdcStreamQ: expected 3 micro-batches, ran $n")
      graft.streaming.Scd2Stream.currentHistory(s, s"$base/state")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))
        .orderBy(col("user_id"), col("version"))
        .localCheckpoint()
    }

  /** SCD2 DELETE semantics under the gate (q169): every 7th user gets a
    * tombstone one hour after their last observation, and
    * [[graft.operators.Scd2.applyDeletes]] must close exactly those
    * users' open intervals at the tombstone time — no successor version,
    * closed history untouched, everyone else still current. The state an
    * overwrite-upsert warehouse cannot represent (the reference's merge
    * just loses the row); the oracle restates the q143 history with the
    * tombstone-close as one CASE over a left join. */
  def scd2DeletesQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    val hist = graft.operators.Scd2.fromChangeLog(e, Seq("user_id"), "ts",
      Seq("event_type"), tieCols = Seq("event_id"))
    val dels = e.filter(col("user_id") % 7 === 0)
      .groupBy(col("user_id"))
      .agg((max(col("ts")) + expr("INTERVAL 1 HOUR")).as("ts"))
    graft.operators.Scd2.applyDeletes(hist, dels, Seq("user_id"), "ts")
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("version"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Dead-letter routing under the gate: documents render to NDJSON
    * lines, every 7th line is truncated mid-record (invalid JSON —
    * unclosed object), and [[graft.jobs.IngestPipeline.parseWithDlq]]
    * must route EVERY line — typed fields on the main channel, the raw
    * record (carried by Spark's PERMISSIVE corrupt column) hashed on the
    * DLQ channel, nothing dropped or aborted. Typed fields of corrupt
    * rows are nulled on the way out (PERMISSIVE may fill a parsed
    * prefix). The oracle rebuilds the identical lines by concatenation
    * and routes on `json_valid`, so a swallowed bad record, a leaked
    * partial parse, or a missing main row breaks the hash. */
  def dlqRoutingQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val lines = docs.select(col("doc_id").as("_id"),
      to_json(struct(col("doc_id"), col("source"), col("n_chars")))
        .as("line"))
    val staged = lines.select(
      when(col("_id") % 7 === 0,
        expr("substring(line, 1, length(line) - 2)"))
        .otherwise(col("line")).as("line"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val parsed = graft.jobs.IngestPipeline.parseWithDlq(staged, "line",
      schema)
    val ok = col("_corrupt").isNull
    parsed.select(
        when(ok, col("doc_id")).as("doc_id"),
        when(ok, col("source")).as("source"),
        when(ok, col("n_chars")).as("n_chars"),
        when(ok, lit("main")).otherwise(lit("dlq")).as("channel"),
        when(!ok, md5(col("_corrupt"))).as("raw_md5"))
      .orderBy(col("channel"), col("doc_id"), col("raw_md5"))
  }

  /** Incremental vector-index APPEND under the gate — the standing-index
    * life cycle a crawl-scale serving deployment runs: wave 1 trains the
    * coarse + PQ artifacts and lands its codes as a stored table; wave 2
    * encodes against the FROZEN artifacts (no retrain) and appends; the
    * query serves top-k from the stored (id, cell, codes) table alone
    * ([[graft.functions.Similarity.ivfPqTopKFromIndex]] — no corpus
    * float re-read). The oracle is the q147 serving restatement with the
    * training CTEs restricted to wave 1 — so stale-artifact encoding of
    * wave 2 and the stored-index read-back are both value-checked. */
  def indexAppendQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q163") { base =>
      import graft.functions.Similarity
      val e = Tables.load(s, dir, "embeddings")
      val wave1 = e.filter(col("vec_id") % 2 === 0)
      val wave2 = e.filter(col("vec_id") % 2 === 1)
      val coarse = Similarity.ivfCentroidsTrainedPortable(
        wave1, "embedding", "vec_id", k = 8, iters = 0)
      val cbs = Similarity.ivfPqCodebooks(wave1, "embedding", "vec_id",
        coarse, m = 8, ksub = 16, iters = 0)
      def encode(df: DataFrame) =
        Similarity.ivfPqEncode(df.select(col("vec_id"), col("embedding")),
            "embedding", coarse, cbs, cellCol = "cell", codesCol = "codes")
          .select(col("vec_id"), col("cell"), col("codes"))
      encode(wave1).write.mode("append").parquet(s"$base/index")
      encode(wave2).write.mode("append").parquet(s"$base/index")
      val idx = s.read.parquet(s"$base/index")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.ivfPqTopKFromIndex(idx, "vec_id", "cell", "codes", q,
          coarse, cbs, k = 10, nProbe = 4)
        .localCheckpoint()
    }

  /** STREAMING fact enrichment against the evolving dimension (q164):
    * the same three event-time-ordered waves as q157, but each
    * micro-batch ALSO point-in-time joins its own facts against the
    * just-updated standing history and appends enriched rows. Because a
    * version's identity depends only on observations at or before a
    * fact's timestamp, the union of the per-wave enrichments must equal
    * the FULL-history batch join — which is exactly the q156 oracle,
    * reused verbatim. A stale snapshot read, a wrong merge, or a
    * boundary slip in any wave breaks the hash. */
  def scd2EnrichStreamQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q164") { base =>
      val src = s"$base/landing"
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 2 === 0) // half the key space: the
        // merge/enrich/compact invariants are key-local, so the gate
        // proves them at half the fold cost (oracle mirrors the slice)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_id"), col("event_type"))
      val d = dayofmonth(col("ts"))
      // three staged event-time-ordered waves, one lifecycle; replay
      // safety is Scd2StreamSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(
        e.filter(d <= 10), e.filter(d > 10 && d <= 20), e.filter(d > 20)))
      val n = graft.streaming.Scd2Stream.runEnrichAvailableNow(
        s, src, e.schema, Seq("user_id"), "ts", Seq("event_type"),
        Seq("event_id"), factCols = Seq("event_id", "user_id", "ts"),
        s"$base/state", s"$base/ckpt")
      require(n == 3,
        s"scd2EnrichStreamQ: expected 3 micro-batches, ran $n")
      s.read.parquet(s"$base/state/enriched")
        .select(col("event_id"), col("user_id"), col("ts"), col("version"),
          col("event_type_at_time").as("type_at_time"))
        .orderBy(col("event_id"))
        .localCheckpoint()
    }

  /** Declarative data-quality gate under the oracle: the
    * [[graft.operators.Expectations]] battery over events — not-null
    * rate, accepted-values rate (with one value deliberately missing
    * from the allowlist so a rate genuinely lands strictly below 1),
    * bounds rate, key uniqueness, row count — one report row per check.
    * All row checks fold into ONE aggregation pass; Unique adds its one
    * partial-agg shuffle. Rates are single integer-count divisions, so
    * the doubles restate exactly. */
  def expectationsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val e = Tables.load(s, dir, "events")
    run(e, Seq(
      NotNull("user_id"),
      AcceptedValues("event_type",
        Seq("click", "error", "purchase", "view"), minRate = 0.75),
      Bounds("value", 0.0, 400.0, minRate = 0.9),
      Unique(Seq("event_id")),
      RowCount(1L)))
  }

  /** Lake compaction (OPTIMIZE) under the gate: documents land as 16
    * small lake objects, [[graft.sources.lakesim.LakeOptimize.compact]]
    * rewrites them to ~4 right-sized ones (self-overwrite with
    * commit-time deletion — readers of the old objects finish first),
    * and the compacted lake must still hold exactly the table. The
    * object-count assertion proves compaction actually happened; the
    * oracle proves it lost nothing. */
  def lakeCompactQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q145") { base =>
      import org.apache.spark.sql.types._
      val fmt = classOf[graft.sources.lakesim.LakeSimSource].getName
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(16)
        .write.format(fmt).option("path", s"$base/lake")
        .mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      val rows = docs.count()
      val (before, after) = graft.sources.lakesim.LakeOptimize.compact(
        s, s"$base/lake", schema, targetRows = math.max(1L, rows / 4))
      require(before == 16 && after < before,
        s"lakeCompactQ: expected compaction 16 -> <16 objects, got " +
        s"$before -> $after")
      s.read.format(fmt).schema(schema).option("path", s"$base/lake").load()
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** NDJSON export round trip under the gate: the documents projection
    * serializes through `to_json` into text files (the payload-export
    * side of the reference's NDJSON ingest) and reads back through the
    * explicit-schema JSON reader — field order, type rendering, and
    * parse must be value-faithful end to end. */
  def jsonlRoundTripQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q148") { base =>
      import org.apache.spark.sql.types._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"))
        .write.mode("overwrite").text(s"$base/jsonl")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(s"$base/jsonl")
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** ORC round trip under the gate: the third columnar container the
    * warehouse-facing surface serves (parquet everywhere, CSV q139,
    * JSONL q148). The write is `partitionBy(lang)` so the read-back
    * proves BOTH pushdown paths a 100 TB scan lives on: the `lang`
    * predicate prunes whole partition directories (never opened) and
    * the `n_chars` predicate pushes into the ORC reader as a search
    * argument (row-group skip). OrcRoundTripSpec pins both in the plan;
    * the oracle restates the filter over the parquet original. */
  def orcRoundTripQ(s: SparkSession, dir: String): DataFrame =
    withTempDir("graft_q173") { base =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.write.mode("overwrite").partitionBy("lang").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .where(col("lang") >= "e" && col("n_chars") >= 100L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Latest-version-per-key compaction (CDC/crawl "keep newest") under
    * the gate: one `max_by` partial-aggregating pass — the struct
    * ordering (ts, event_id) makes the pick deterministic under
    * timestamp ties, and the heaviest key crosses the wire once per
    * input partition (never a PARTITION BY key window). */
  def latestByKeyQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    e.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"),
        col("r.event_id").as("event_id"),
        col("r.event_type").as("event_type"))
      .orderBy(col("user_id"))
  }

  /** Gap-based sessionization (30-minute gap) over the events stream. */
  def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
      .withColumn("value", col("value").cast(DecimalType(18, 2)))
    graft.streaming.Sessionize.sessions(e, "user_id", "ts", 1800L, col("value"))
      .withColumn("total_value", col("total_value").cast("double"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val gates: Seq[Gate] = Seq(
    // the whole two-wave orchestration report restated from events:
    // per-wave loaded rows (incremental appends = the anti-joined
    // remainder; full load = wave B), the drift-version census (clicks/
    // views mint a second keyset in wave B, signups stay at one), the
    // poisoned class failing both waves, and final warehouse counts
    Gate("q284_orchestration", orchestrationQ _,
      """WITH c AS (SELECT
        |  CAST(count(*) FILTER (event_type = 'click' AND event_id % 2 = 0)
        |    AS BIGINT) AS click_even,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
        |    AS click_all,
        |  CAST(count(*) FILTER (event_type = 'view' AND event_id % 2 = 0)
        |    AS BIGINT) AS view_even,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view_all,
        |  CAST(count(*) FILTER (event_type = 'signup' AND event_id % 3 = 0)
        |    AS BIGINT) AS signup_3,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT)
        |    AS signup_all
        | FROM events)
        |SELECT * FROM (
        | SELECT 'bc_clicks' AS business_class, true AS ok_run1,
        |  click_even AS rows_run1, CAST(1 AS INTEGER) AS versions_run1,
        |  true AS ok_run2, click_all - click_even AS rows_run2,
        |  CAST(2 AS INTEGER) AS versions_run2, click_all AS silver_rows
        | FROM c
        | UNION ALL SELECT 'bc_poison', false, CAST(0 AS BIGINT),
        |  CAST(0 AS INTEGER), false, CAST(0 AS BIGINT),
        |  CAST(0 AS INTEGER), CAST(0 AS BIGINT) FROM c
        | UNION ALL SELECT 'bc_signups', true, signup_3,
        |  CAST(1 AS INTEGER), true, signup_all - signup_3,
        |  CAST(1 AS INTEGER), signup_all FROM c
        | UNION ALL SELECT 'bc_views', true, view_even,
        |  CAST(1 AS INTEGER), true, view_all, CAST(2 AS INTEGER),
        |  view_all FROM c)
        |ORDER BY business_class""".stripMargin),
    // the q50 ASOF shape with left_value = event_id so every emitted row
    // is uniquely keyed; right_ts rides along so the oracle pins WHICH
    // quote each probe joined, not just its value
    Gate("q151_stream_asof", streamAsofQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts, value
        | FROM events WHERE user_id % 3 = 0),
        |probes AS (
        | SELECT user_id AS key, ts, event_id::DOUBLE AS left_value
        | FROM e WHERE event_id % 2 = 0),
        |quotes AS (
        | SELECT user_id AS key, ts, max(value) AS right_value FROM e
        | WHERE event_id % 2 = 1 GROUP BY user_id, ts)
        |SELECT p.key, p.ts, p.left_value,
        | q.ts AS right_ts, q.right_value
        |FROM probes p ASOF LEFT JOIN quotes q
        | ON p.key = q.key AND p.ts >= q.ts
        |ORDER BY p.key, p.left_value""".stripMargin),
    // the q43 lag/gap session rule; session_end is last event + gap
    // (the session_window convention), totals sum as DECIMAL(18,2)
    Gate("q152_stream_sessions", streamSessionsQ _,
      """WITH e AS (
        | SELECT user_id, date_trunc('second', ts) AS ts,
        |        CAST(value AS DECIMAL(18,2)) AS v
        | FROM events WHERE user_id % 3 = 0),
        |l AS (
        | SELECT user_id, ts, v,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        | FROM e),
        |t AS (
        | SELECT user_id, ts, v,
        |        SUM(CASE WHEN prev_ts IS NULL
        |              OR epoch(ts) - epoch(prev_ts) > 1800
        |             THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sid
        | FROM l)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 1800 SECOND AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(v) AS DOUBLE) AS total_value
        |FROM t GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    // the three-wave construction restated directly: evens land in waves
    // 1 and 3 (their wave-1 state must have EVICTED), odds only in wave 2
    // (their state must have survived into wave 3)
    Gate("q153_dedup_eviction", streamDedupEvictionQ _,
      """SELECT doc_id, CAST(1 AS BIGINT) AS wave FROM documents
        | WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, CAST(2 AS BIGINT) FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT doc_id, CAST(3 AS BIGINT) FROM documents WHERE doc_id % 2 = 0
        |ORDER BY doc_id, wave""".stripMargin),
    Gate("q35_event_window", eventWindowQ _,
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    Gate("q43_sessionize", sessionizeQ _,
      """WITH tagged AS (
        | SELECT user_id, date_trunc('second', ts) AS ts, value,
        |  SUM(CASE WHEN prev_ts IS NULL
        |        OR epoch(date_trunc('second', ts)) - epoch(prev_ts) > 1800
        |       THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts)
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM (SELECT user_id, ts, value,
        |   LAG(date_trunc('second', ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events) t)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM tagged GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    Gate("q37_lakesim_scan", lakesimScanQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars > 300 AND lang = 'en' ORDER BY doc_id""".stripMargin),
    Gate("q46_cursor_scan", cursorScanQ _,
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars <= 300 AND source = 'src7' ORDER BY doc_id""".stripMargin),
    // the re-authenticating walk must be invisible to the data: the
    // oracle is the plain table restatement of the q227 slice
    Gate("q227_cursor_oauth", cursorOAuthQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars <= 400 AND lang = 'en' ORDER BY doc_id""".stripMargin),
    // rotation, demotion, and re-grants must be invisible to the data:
    // the oracle is the plain table restatement of the q302 slice
    Gate("q302_cursor_rotation", cursorRotationQ _,
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars > 200 AND source = 'src3' ORDER BY doc_id""".stripMargin),
    // the streamed per-source sketch state is a pure set function of
    // everything ingested, so the final monitor rows equal the one-shot
    // batch sketch — q110's whole-corpus restatement verbatim
    Gate("q119_stream_stats", streamStatsQ _,
      """WITH vc AS (SELECT source, n_chars AS v, count(*) AS c
        |            FROM documents GROUP BY source, n_chars),
        |h AS (SELECT source, v, c,
        |  ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS hv
        | FROM vc),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY hv) AS r FROM h),
        |sk AS (SELECT source, v, c FROM rk WHERE r <= 256),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS sketch_size,
        |        CAST(sum(c) AS BIGINT) AS sketch_mass
        |        FROM sk GROUP BY source),
        |cum AS (SELECT sk.source, v,
        |        sum(c) OVER (PARTITION BY sk.source ORDER BY v) AS cw,
        |        t.sketch_mass AS mass
        | FROM sk JOIN tot t USING (source)),
        |q AS (SELECT source,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.5::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p50,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.9::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p90,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.99::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p99
        | FROM cum GROUP BY source)
        |SELECT t.source, t.sketch_size, t.sketch_mass, q.p50, q.p90, q.p99
        |FROM tot t JOIN q USING (source) ORDER BY source""".stripMargin),
    // bucketing must change the layout, never the answer: the oracle is
    // the same join/aggregate over the raw parquet tables
    Gate("q112_bucketed_join", bucketedJoinQ _,
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // the truncate+append write waves reconstruct the table exactly, so
    // the oracle is the original table under the same pruning filter
    Gate("q105_lakesim_write", lakesimWriteQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars > 300 AND lang = 'en' ORDER BY doc_id""".stripMargin),
    // the streamed pair set equals the batch interval-overlap join:
    // q198's oracle verbatim over the same slices
    Gate("q205_stream_interval", streamIntervalJoinQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events),
        |a AS (
        | SELECT event_id AS a_id, user_id, ts AS a_start,
        |  ts + INTERVAL 2 HOUR AS a_end
        | FROM e WHERE event_id % 3 = 1),
        |b AS (
        | SELECT event_id AS b_id, user_id, ts AS b_start,
        |  ts + INTERVAL 45 MINUTE AS b_end
        | FROM e WHERE event_id % 3 = 2)
        |SELECT a.a_id, b.b_id, a.user_id
        |FROM a JOIN b ON a.user_id = b.user_id
        | AND a.a_start <= b.b_end AND b.b_start <= a.a_end
        |ORDER BY a_id, b_id""".stripMargin),
    // the standing report equals the one-shot TVD — q276's oracle
    // verbatim
    Gate("q279_stream_tvd", streamTvdQ _,
      """WITH e AS (SELECT user_id % 4 AS g, event_type AS bucket,
        |  day(CAST(ts AS DATE)) <= 15 AS is_a, event_id
        | FROM events),
        |f AS (SELECT * FROM e WHERE is_a OR NOT (bucket = 'signup'
        |  AND g <= 1 AND event_id % 3 = 0)),
        |ca AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c_a FROM f
        |       WHERE is_a GROUP BY 1, 2),
        |cb AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c_b FROM f
        |       WHERE NOT is_a GROUP BY 1, 2),
        |j AS (SELECT COALESCE(ca.g, cb.g) AS g,
        |  COALESCE(ca.bucket, cb.bucket) AS bucket,
        |  COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        | FROM ca FULL JOIN cb USING (g, bucket)),
        |t AS (SELECT g, sum(c_a) AS na, sum(c_b) AS nb FROM j GROUP BY g),
        |d AS (SELECT j.g, bucket, c_a, c_b,
        |  abs(c_a::HUGEINT * nb - c_b::HUGEINT * na) AS contrib, na, nb
        | FROM j JOIN t ON t.g = j.g),
        |v AS (SELECT g, sum(contrib) AS num, max(na) AS na,
        |  max(nb) AS nb FROM d GROUP BY g)
        |SELECT d.g AS cohort, d.bucket AS event_type, d.c_a, d.c_b,
        | CAST(d.contrib AS BIGINT) AS contrib,
        | CAST(v.num AS BIGINT) AS tvd_num,
        | v.num * 100 >= v.na::HUGEINT * v.nb * 2 * 3 AS drifted
        |FROM d JOIN v ON v.g = d.g
        |ORDER BY cohort, event_type""".stripMargin),
    // the standing reservoir equals the one-shot bottom-k — q263's
    // exact integer rank restatement verbatim
    Gate("q264_stream_reservoir", streamReservoirQ _,
      """WITH h AS (SELECT doc_id, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS hv
        | FROM documents),
        |r AS (SELECT doc_id, n_chars, hv, hv // n_chars AS rnk FROM h),
        |s AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY rnk, hv, doc_id) AS sample_rank
        | FROM r)
        |SELECT CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_chars
        |FROM s WHERE sample_rank <= 100 ORDER BY sample_rank""".stripMargin),
    // the streamed left join equals the batch LEFT join under the same
    // bounds; unmatched left rows surface as b_id = -1
    Gate("q262_stream_left_interval", streamLeftIntervalQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events),
        |a AS (
        | SELECT event_id AS a_id, user_id, ts AS a_start,
        |  ts + INTERVAL 1 HOUR AS a_end
        | FROM e WHERE event_id % 5 = 1),
        |b AS (
        | SELECT event_id AS b_id, user_id, ts AS b_start,
        |  ts + INTERVAL 30 MINUTE AS b_end
        | FROM e WHERE event_id % 5 = 2)
        |SELECT a.a_id, COALESCE(b.b_id, -1) AS b_id, a.user_id
        |FROM a LEFT JOIN b ON a.user_id = b.user_id
        | AND a.a_start <= b.b_end AND b.b_start <= a.a_end
        |ORDER BY a_id, b_id""".stripMargin),
    // the bloom-pruned point lookups return exactly the source rows
    Gate("q199_bloom_skip", bloomSkipQ _,
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (42, 137, 443) ORDER BY doc_id""".stripMargin),
    // the index-only aggregates restated over the source table
    Gate("q184_lake_agg_pushdown", lakeAggPushdownQ _,
      """SELECT CAST(count(*) AS BIGINT) AS n,
        | min(doc_id) AS min_id, max(doc_id) AS max_id,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents""".stripMargin),
    // the whole daily composition as one CASE: standing rows keep
    // their day-1 perturbed values (never re-extracted), new ids
    // arrive with day-2 values
    Gate("q183_daily_pipeline", dailyPipelineQ _,
      """SELECT doc_id, lang,
        | CASE WHEN doc_id % 3 = 0 THEN n_chars
        |      ELSE n_chars + 1000 END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // drift membership restated: evens loaded before the column
    // existed (NULL), odds carried it
    Gate("q180_jdbc_evolve", jdbcEvolveQ _,
      """SELECT doc_id, lang,
        | CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // each version's membership restated from the source table: v1 =
    // evens, v2 = everything, v3 = the truncate's lang slice
    Gate("q178_lake_time_travel", lakeTimeTravelQ _,
      """SELECT 1 AS version, doc_id, lang FROM documents
        |WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2 AS version, doc_id, lang FROM documents
        |UNION ALL
        |SELECT 3 AS version, doc_id, lang FROM documents
        |WHERE lang = 'en'
        |ORDER BY version, doc_id""".stripMargin),
    // the admission-controlled AvailableNow drain reconstructs the table
    // exactly (every object, every page, exactly once across batches)
    Gate("q134_lakesim_stream", lakesimStreamQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
    // the CSV write -> schema'd read round trip is value-faithful; the
    // sanitizer strips exactly ["\n] from the hostile-suffixed text
    Gate("q139_csv_roundtrip", csvRoundTripQ _,
      ("SELECT doc_id, lang, n_chars,\n" +
       " regexp_replace(text || '\"x' || chr(10) || 'y', '[\"\\n]', '', 'g')" +
       " AS text_clean\n" +
       "FROM documents ORDER BY doc_id")),
    // the chunked JDBC load (append, then truncate-and-reload), live
    // introspection, and partitioned read-back are value-faithful
    Gate("q140_jdbc_roundtrip", jdbcRoundTripQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
    // SCD2 compaction restated: run starts where the tracked attribute
    // null-safely differs from the previous observation (or rn = 1);
    // valid_to chains via lead over the run frame; event_id breaks ts
    // ties identically in both engines
    // the q147 serving restatement with the TRAINING CTEs (sample,
    // coarse cells, residual codebooks) restricted to wave 1 (even
    // vec_ids); assignment/encode/probe run over the full corpus
    Gate("q163_index_append", indexAppendQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings WHERE vec_id % 2 = 0),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT c.cell0 FROM c0 c, q
        | ORDER BY list_sum(list_transform(range(1, 65), i ->
        |    (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |    * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), c.cell0
        | LIMIT 4),
        |lut AS (SELECT c.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
        |    * ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
        |    AS dd
        | FROM c0 c, sp, cbr, q WHERE c.cell0 IN (SELECT cell0 FROM probe)),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
        | WHERE b.cell0 IN (SELECT cell0 FROM probe)
        | GROUP BY b.vec_id)
        |SELECT vec_id, adc_dist FROM pervec
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin),
    // identical line construction by concatenation; routing on
    // json_valid — corrupt rows carry ONLY the raw-record hash
    Gate("q160_dlq_routing", dlqRoutingQ _,
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |l AS (SELECT doc_id AS _id,
        |  '{"doc_id":' || doc_id || ',"source":"' || source ||
        |  '","n_chars":' || n_chars || '}' AS line FROM d),
        |s2 AS (SELECT CASE WHEN _id % 7 = 0
        |         THEN substring(line, 1, length(line) - 2)
        |         ELSE line END AS line FROM l),
        |r AS (SELECT line, json_valid(line) AS ok FROM s2)
        |SELECT
        | CASE WHEN ok THEN CAST(line->>'doc_id' AS BIGINT) END AS doc_id,
        | CASE WHEN ok THEN line->>'source' END AS source,
        | CASE WHEN ok THEN CAST(line->>'n_chars' AS BIGINT) END AS n_chars,
        | CASE WHEN ok THEN 'main' ELSE 'dlq' END AS channel,
        | CASE WHEN NOT ok THEN md5(line) END AS raw_md5
        |FROM r ORDER BY channel, doc_id, raw_md5""".stripMargin),
    // the streaming funnel state must equal the batch chained-MIN
    // recompute over the full slice, per user
    Gate("q195_funnel_stream", funnelStreamQ _,
      """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts,
        |  event_type FROM events
        |  WHERE event_id % 7 = 0 AND user_id % 2 = 0),
        |s1 AS (SELECT user_id, min(ts) AS step_1_ts FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS step_2_ts FROM ev e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS step_3_ts FROM ev e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'signup' AND e.ts > s2.step_2_ts
        |       GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS step_4_ts FROM ev e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.step_3_ts
        |       GROUP BY 1)
        |SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
        |       s4.step_4_ts
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |        LEFT JOIN s4 ON s1.user_id = s4.user_id
        |ORDER BY s1.user_id""".stripMargin),
    // the full emitted day series must equal the batch densify+cusum
    // pipeline — the oracle IS q213's verbatim
    Gate("q221_stream_cusum", streamCusumQ _,
      """WITH daily AS (SELECT user_id % 25 AS k,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS n FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
        |grid AS (SELECT k, unnest(generate_series(lo, hi)) AS day
        |         FROM (SELECT k, min(day) AS lo, max(day) AS hi
        |               FROM daily GROUP BY k)),
        |d AS (SELECT g.k, g.day, COALESCE(daily.n, 0) AS x
        |      FROM grid g LEFT JOIN daily USING (k, day)),
        |p AS (SELECT k, day, x,
        |  list(x) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        | FROM d)
        |SELECT k, day, x,
        | CAST(list_reduce(list_prepend(0, xs),
        |   (acc, x) -> greatest(0, acc + x - 2)) AS BIGINT) AS cusum,
        | (list_reduce(list_prepend(0, xs),
        |   (acc, x) -> greatest(0, acc + x - 2)) > 3) AS alarm
        |FROM p ORDER BY k, day""".stripMargin),
    // the streamed increments plus the derived removed row must equal
    // the batch columnChurn — the oracle IS q229's restatement verbatim
    Gate("q232_stream_churn", streamChurnQ _,
      """WITH old AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |new AS (SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
        |       ELSE o_custkey END AS o_custkey,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |       ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (SELECT old.k AS ok, new.k AS nk,
        |  old.o_custkey AS oc, new.o_custkey AS nc,
        |  old.o_orderstatus AS os, new.o_orderstatus AS ns
        | FROM old FULL JOIN new ON old.k = new.k)
        |SELECT * FROM (
        | SELECT 'added' AS metric,
        |   CAST(count(*) FILTER (ok IS NULL) AS BIGINT) AS n FROM j
        | UNION ALL SELECT 'removed',
        |   count(*) FILTER (nk IS NULL) FROM j
        | UNION ALL SELECT 'changed', count(*) FILTER (ok IS NOT NULL
        |   AND nk IS NOT NULL AND (oc IS DISTINCT FROM nc
        |   OR os IS DISTINCT FROM ns)) FROM j
        | UNION ALL SELECT 'unchanged', count(*) FILTER (ok IS NOT NULL
        |   AND nk IS NOT NULL AND oc IS NOT DISTINCT FROM nc
        |   AND os IS NOT DISTINCT FROM ns) FROM j
        | UNION ALL SELECT 'changed:o_custkey', count(*) FILTER
        |   (ok IS NOT NULL AND nk IS NOT NULL
        |    AND oc IS DISTINCT FROM nc) FROM j
        | UNION ALL SELECT 'changed:o_orderstatus', count(*) FILTER
        |   (ok IS NOT NULL AND nk IS NOT NULL
        |    AND os IS DISTINCT FROM ns) FROM j
        |) ORDER BY metric""".stripMargin),
    // the standing per-user audit must equal the batch recompute —
    // the oracle IS q245's restatement verbatim
    Gate("q247_stream_lateness", streamLatenessQ _,
      """WITH e AS (SELECT user_id AS k, event_id,
        |  epoch_us(ts) - (event_id % 7) * 1800000000 AS t FROM events),
        |m AS (SELECT k, t, max(t) OVER (PARTITION BY k ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw
        | FROM e)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) FILTER (hw IS NOT NULL AND t < hw) AS BIGINT)
        |   AS n_late,
        | CAST(COALESCE(max(CASE WHEN hw IS NOT NULL AND t < hw
        |   THEN hw - t END), 0) AS BIGINT) AS max_late_us
        |FROM m GROUP BY k ORDER BY user_id""".stripMargin),
    // the standing words must equal the one-shot batch bitmap —
    // q249's construction over the full corpus
    Gate("q258_stream_bitmap", streamBitmapQ _,
      """WITH b AS (SELECT event_type, user_id // 63 AS bucket,
        |  bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, bits,
        | CAST(bit_count(bits) AS BIGINT) AS n_bits
        |FROM b ORDER BY event_type, bucket""".stripMargin),
    // the standing assignment must equal min-label components over
    // the union of both waves — q56's recursive-CTE restatement
    Gate("q261_stream_components", streamComponentsQ _,
      """WITH RECURSIVE base AS (SELECT doc_id FROM documents),
        |pairs AS (
        | SELECT doc_id AS a, doc_id + 100000 AS b FROM base
        |  WHERE doc_id % 4 = 0
        | UNION SELECT doc_id + 100000, doc_id + 200000 FROM base
        |  WHERE doc_id % 8 = 0
        | UNION SELECT doc_id, doc_id + 3 FROM base WHERE doc_id % 20 = 0
        | UNION SELECT doc_id + 200000, doc_id + 100004 FROM base
        |  WHERE doc_id % 40 = 0),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION SELECT b, a FROM pairs),
        |ids AS (SELECT u AS id FROM edges UNION SELECT v FROM edges),
        |reach(id, lbl) AS (
        | SELECT id, id FROM ids
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(lbl) AS BIGINT)
        |  AS cluster_id
        |FROM reach GROUP BY id ORDER BY id""".stripMargin),
    // the standing entries must equal the one-shot sketch — q237's
    // 256-smallest-hash restatement verbatim
    Gate("q260_stream_quantile", streamQuantileQ _,
      """WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT)
        |    AS x FROM events),
        |vc AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
        |       FROM v GROUP BY event_type, x),
        |h AS (SELECT event_type, x, c,
        |  ('0x' || substring(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT
        |    AS hv FROM vc),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY hv) AS r FROM h)
        |SELECT event_type, x AS value, c AS count FROM rk
        |WHERE r <= 256 ORDER BY event_type, value""".stripMargin),
    // the maintained grid serves the batch estimates — the oracle IS
    // q93's one-shot count-min construction verbatim
    Gate("q225_stream_heavy", streamHeavyQ _,
      """WITH toks AS (
        | SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents WHERE doc_id % 2 = 0),
        |cells AS (
        | SELECT depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket,
        |  count(*) AS c
        | FROM toks, (SELECT unnest(generate_series(0, 3)) AS depth)
        | GROUP BY depth, bucket),
        |top AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term
        |        ORDER BY cnt DESC, term LIMIT 20),
        |probe AS (
        | SELECT term, depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket
        | FROM top, (SELECT unnest(generate_series(0, 3)) AS depth)),
        |est AS (SELECT term, min(coalesce(c, 0)) AS est_count
        |        FROM probe LEFT JOIN cells USING (depth, bucket) GROUP BY term)
        |SELECT t.term, t.cnt, e.est_count
        |FROM top t JOIN est e USING (term)
        |ORDER BY cnt DESC, term""".stripMargin),
    // the streaming monitor's standing counts must equal the batch
    // recompute — the oracle IS q207's exact rational audit verbatim
    Gate("q210_stream_drift", streamDriftQ _,
      """WITH r AS (SELECT event_type AS category, count(*) AS ref_n
        |           FROM events WHERE value <= 50 GROUP BY 1),
        |c AS (SELECT event_type AS category, count(*) AS cur_n
        |      FROM events WHERE value > 50 GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
        |      FROM r FULL JOIN c
        |        ON r.category IS NOT DISTINCT FROM c.category),
        |t AS (SELECT sum(ref_n) AS tr, sum(cur_n) AS tc FROM j)
        |SELECT category, ref_n, cur_n,
        | CAST((ref_n*tc - cur_n*tr) * (ref_n*tc - cur_n*tr)
        |   AS BIGINT) AS chi_num,
        | CAST(tr * tc * (ref_n + cur_n) AS BIGINT) AS chi_den,
        | ((ref_n*tc - cur_n*tr) * (ref_n*tc - cur_n*tr) * 4 >
        |   tr * tc * (ref_n + cur_n) * 1) AS drifted
        |FROM j, t ORDER BY category""".stripMargin),
    // the streaming incremental history must equal the batch recompute —
    // the oracle IS q143's full-log restatement
    Gate("q157_scd2_stream", scd2StreamQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events
        |  WHERE user_id % 2 = 0),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current
        |FROM runs ORDER BY user_id, version""".stripMargin),
    // the streaming CDC drain must equal the batch recompute with
    // deletes applied — the q169 oracle verbatim
    Gate("q170_scd2_cdc", scd2CdcStreamQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events
        |  WHERE user_id % 2 = 0),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |dels AS (SELECT user_id, max(ts) + INTERVAL 1 HOUR AS del_ts
        | FROM e WHERE user_id % 7 = 0 GROUP BY user_id)
        |SELECT r.user_id, r.event_type, r.valid_from,
        | CASE WHEN r.valid_to IS NULL AND d.user_id IS NOT NULL
        |      THEN d.del_ts ELSE r.valid_to END AS valid_to,
        | r.version,
        | (r.valid_to IS NULL AND d.user_id IS NULL) AS is_current
        |FROM runs r LEFT JOIN dels d USING (user_id)
        |ORDER BY r.user_id, r.version""".stripMargin),
    // the q143 history with tombstone-close restated: every 7th user's
    // open interval ends at max(ts) + 1 hour, no successor version
    Gate("q169_scd2_deletes", scd2DeletesQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |dels AS (SELECT user_id, max(ts) + INTERVAL 1 HOUR AS del_ts
        | FROM e WHERE user_id % 7 = 0 GROUP BY user_id)
        |SELECT r.user_id, r.event_type, r.valid_from,
        | CASE WHEN r.valid_to IS NULL AND d.user_id IS NOT NULL
        |      THEN d.del_ts ELSE r.valid_to END AS valid_to,
        | r.version,
        | (r.valid_to IS NULL AND d.user_id IS NULL) AS is_current
        |FROM runs r LEFT JOIN dels d USING (user_id)
        |ORDER BY r.user_id, r.version""".stripMargin),
    // mid-chain + post-drain compaction must preserve the standing
    // history exactly — the q157 oracle verbatim
    Gate("q165_scd2_compact", scd2StreamCompactQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events
        |  WHERE user_id % 2 = 0),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current
        |FROM runs ORDER BY user_id, version""".stripMargin),
    // per-wave streaming enrichment must union to the FULL-history batch
    // join — the q156 restatement verbatim
    Gate("q164_enrich_stream", scd2EnrichStreamQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events
        |  WHERE user_id % 2 = 0),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT f.event_id, f.user_id, f.ts, r.version,
        | r.event_type AS type_at_time
        |FROM e f JOIN runs r ON f.user_id = r.user_id
        | AND f.ts >= r.valid_from
        | AND (r.valid_to IS NULL OR f.ts < r.valid_to)
        |ORDER BY f.event_id""".stripMargin),
    // the q143 history CTEs + the half-open point-in-time predicate (the
    // open interval unbounded above); each event matches exactly one
    // version of its user
    Gate("q156_scd2_lookup", scd2LookupQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT f.event_id, f.user_id, f.ts, r.version,
        | r.event_type AS type_at_time
        |FROM e f JOIN runs r ON f.user_id = r.user_id
        | AND f.ts >= r.valid_from
        | AND (r.valid_to IS NULL OR f.ts < r.valid_to)
        |ORDER BY f.event_id""".stripMargin),
    Gate("q143_scd2_history", scd2Q _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current
        |FROM runs ORDER BY user_id, version""".stripMargin),
    // the q143 build plus the retention predicate: open intervals and
    // closed versions still live at the horizon survive
    Gate("q176_scd2_retention", scd2RetainQ _,
      """WITH e AS (SELECT user_id, event_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER w AS prev,
        |  row_number() OVER w AS rn
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |runs AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        | FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current
        |FROM runs
        |WHERE valid_to IS NULL OR valid_to >= TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY user_id, version""".stripMargin),
    // each expectation row restated: rates are one integer-count
    // division; the check names come from the operator's own name
    // formatting (kept in sync by the gate itself)
    Gate("q144_expectations", expectationsQ _,
      """WITH m AS (SELECT
        |  sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE AS notnull_r,
        |  sum(CASE WHEN event_type IN ('click','error','purchase','view')
        |      THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS acc_r,
        |  sum(CASE WHEN value >= 0.0 AND value <= 400.0 THEN 1 ELSE 0
        |      END)::DOUBLE / count(*)::DOUBLE AS bounds_r,
        |  count(*)::DOUBLE AS n
        | FROM events),
        |u AS (SELECT count(DISTINCT event_id)::DOUBLE
        |    / count(*)::DOUBLE AS uniq_r FROM events)
        |SELECT * FROM (
        | SELECT 'accepted_values(event_type)' AS check, acc_r AS metric,
        |  0.75 AS threshold, acc_r >= 0.75 AS pass FROM m
        | UNION ALL SELECT 'bounds(value,0.0,400.0)', bounds_r, 0.9,
        |  bounds_r >= 0.9 FROM m
        | UNION ALL SELECT 'not_null(user_id)', notnull_r, 1.0,
        |  notnull_r >= 1.0 FROM m
        | UNION ALL SELECT 'row_count(1,9223372036854775807)', n, 1.0,
        |  n >= 1.0 AND n <= 9.223372036854776e18 FROM m
        | UNION ALL SELECT 'unique(event_id)', uniq_r, 1.0,
        |  uniq_r >= 1.0 FROM u)
        |ORDER BY "check"""".stripMargin),
    // compaction rewrites the object layout, never the data
    Gate("q145_lake_compact", lakeCompactQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
    // the to_json -> text -> schema'd json read chain is value-faithful
    Gate("q148_jsonl_roundtrip", jsonlRoundTripQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
    // the partitioned-ORC write/read chain is value-faithful; the
    // filter restates the partition-prune + pushdown predicates
    Gate("q173_orc_roundtrip", orcRoundTripQ _,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang >= 'e' AND n_chars >= 100
        |ORDER BY doc_id""".stripMargin),
    // newest row per key, ties broken by event_id — the max_by struct
    // order restated as a descending row_number
    Gate("q149_latest_by_key", latestByKeyQ _,
      """WITH r AS (SELECT user_id, date_trunc('second', ts) AS ts,
        |  event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rk
        | FROM events)
        |SELECT user_id, ts, event_id, event_type FROM r
        |WHERE rk = 1 ORDER BY user_id""".stripMargin),
    // batch restatement of the sequential wave filter: wave 1 is fully
    // accepted (empty index); a wave-2 doc is dropped iff it is
    // >= 0.95-Jaccard similar (7-char shingles, q27's exhaustive
    // formulation) to SOME wave-1 doc
    Gate("q128_stream_fuzzy", streamFuzzyQ _,
      (s"WITH ${TrainingData.sparseTypoCte}\n" +
      """SELECT doc_id FROM n WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT c.doc_id FROM n c
        |WHERE c.doc_id % 2 = 1 AND NOT EXISTS (
        | SELECT 1 FROM n a
        | WHERE a.doc_id % 2 = 0 AND levenshtein(a.name, c.name) <= 1)
        |ORDER BY doc_id""".stripMargin)),
    Gate("q106_stream_neardup", streamNearDupQ _,
      """WITH w1 AS (SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 2 = 0),
        |w2 AS (SELECT doc_id + 100000 AS doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN lower(text)
        |       ELSE lower(substring(text, 1, CAST(floor(n_chars / 2) AS INT)))
        |  END AS t
        | FROM documents WHERE doc_id % 2 = 0),
        |g1 AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
        |   i -> substring(t, CAST(i AS INT), 7))) AS sh FROM w1),
        |g2 AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
        |   i -> substring(t, CAST(i AS INT), 7))) AS sh FROM w2),
        |dropped AS (
        | SELECT DISTINCT b.doc_id FROM g2 b JOIN g1 a
        |  ON len(a.sh) >= 0.95 * len(b.sh) AND len(b.sh) >= 0.95 * len(a.sh)
        |   AND CAST(len(list_intersect(b.sh, a.sh)) AS DOUBLE)
        |    / greatest(len(a.sh) + len(b.sh) - len(list_intersect(b.sh, a.sh)), 1)
        |    >= 0.95)
        |SELECT doc_id FROM w1
        |UNION ALL
        |SELECT doc_id FROM w2
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin),
    Gate("q36_ingest_pipeline", ingestPipelineQ _,
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 2 <> 0 THEN o_orderstatus END AS o_orderstatus,
        | CAST(o_totalprice AS VARCHAR) AS o_totalprice,
        | CAST(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 2 END AS BIGINT) AS schema_version
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("q54_nested_ingest", nestedIngestQ _,
      """SELECT
        | CAST(o_custkey AS VARCHAR) AS meta_cust,
        | CASE WHEN o_orderkey % 2 <> 0 THEN o_orderstatus END AS meta_status,
        | o_orderkey,
        | CAST(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 2 END AS BIGINT) AS schema_version
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // streaming dedup: every staged duplicate (within-batch AND
    // cross-batch via restored state) collapses, so the sink is exactly
    // the distinct corpus
    Gate("q104_stream_dedup", streamDedupQ _,
      """SELECT doc_id, source FROM documents ORDER BY doc_id"""),
    // the incremental-wave assignment: evens land in micro-batch 0,
    // odds survive the history anti-join into micro-batch 1; replay adds
    // nothing — any duplication or loss breaks the hash
    Gate("q98_stream_ingest", streamIngestQ _,
      """SELECT doc_id, source, n_chars,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |   AS batch_id
        |FROM documents ORDER BY doc_id""".stripMargin),
    // version 1 = the EVEN keyset even though the odd keyset sorts first:
    // only the persisted registry produces this assignment
    Gate("q44_registry_roundtrip", registryRoundTripQ _,
      """SELECT
        | CASE WHEN o_orderkey % 2 <> 0 THEN CAST(o_custkey AS VARCHAR) END AS o_custkey,
        | o_orderkey,
        | CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_totalprice AS VARCHAR) END AS o_totalprice,
        | CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS schema_version
        |FROM orders ORDER BY o_orderkey""".stripMargin),
  )
}
