package graft.jobs

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class PipelineRunnerSpec extends SparkSpec {

  private val glTable = TableConfig("FSM_GLTransactionDetail",
    "luma_dl_gl_transaction_detail", "GeneralLedgerRepSet", incremental = true)

  /** The general-ledger area: one incremental class, one full-load class
    * and one class the lake does not hold. */
  val config = EngineConfig(
    Map("gl_transaction_detail" -> glTable,
      "account" -> TableConfig("FSM_Account", "luma_dl_account",
        "GeneralLedgerRepSet", incremental = false),
      "missing_bc" -> TableConfig("FSM_DoesNotExist", "luma_dl_missing", "X",
        incremental = false)),
    Map("general_ledger" -> Seq("gl_transaction_detail", "account", "missing_bc")))

  test("subject-area run ingests each class, isolates failures, reports jobs") {
    val base = tempDir("graft_runner").toString
    val (lake, bronze, silver) = (s"$base/lake", s"$base/bronze", s"$base/silver")
    Files.createDirectories(Paths.get(lake))
    Files.writeString(Paths.get(s"$lake/FSM_GLTransactionDetail.ndjson"),
      Seq(
        """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
        """{"GLTransactionDetail": 2, "TransactionAmount": 20.5, "JournalCode": "GJ"}"""
      ).mkString("\n"))
    Files.writeString(Paths.get(s"$lake/FSM_Account.ndjson"),
      """{"Account": "1000", "Description": "Cash"}""")

    val reports = PipelineRunner.runSubjectArea(spark, config, "general_ledger",
      lake, bronze, silver)

    assert(reports.map(_.success) == Seq(true, true, false))
    val gl = reports.head
    assert(gl.rows == 2 && gl.schemaVersions == 2)
    // bronze is version-partitioned, silver has the reconciled columns
    assert(new java.io.File(
      s"$bronze/luma_dl_gl_transaction_detail/schema_version=1").exists() ||
      new java.io.File(
      s"$bronze/luma_dl_gl_transaction_detail/schema_version=2").exists())
    val silverDf = spark.read.parquet(s"$silver/luma_gl_transaction_detail")
    assert(silverDf.columns.toSeq.sorted.containsSlice(
      Seq("GLTransactionDetail", "JournalCode", "TransactionAmount")))
    // failed class reports its error and doesn't abort the area
    assert(reports.last.error.isDefined)
  }

  /** The general-ledger area with its one class keyed for incremental
    * loads. */
  val incConfig = EngineConfig(
    Map("gl_transaction_detail" -> glTable.copy(keyColumn = Some("GLTransactionDetail"))),
    Map("general_ledger" -> Seq("gl_transaction_detail")))

  test("incremental re-run loads only new keys and keeps registry ids stable") {
    val base = tempDir("graft_runner_inc").toString
    val (lake, bronze, silver, reg) =
      (s"$base/lake", s"$base/bronze", s"$base/silver", s"$base/registry")
    Files.createDirectories(Paths.get(lake))
    val lakeFile = Paths.get(s"$lake/FSM_GLTransactionDetail.ndjson")
    Files.writeString(lakeFile, Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"GLTransactionDetail": 2, "TransactionAmount": 20.5, "JournalCode": "GJ"}"""
    ).mkString("\n"))

    val r1 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake, bronze, silver, registryRoot = Some(reg))
    assert(r1.head.success && r1.head.rows == 2)
    val saved1 = graft.schema.SchemaRegistry.loadOrSeed(spark,
      s"$reg/FSM_GLTransactionDetail_schemas.json")
    val v1 = saved1.versionOf(Set("GLTransactionDetail", "TransactionAmount"))
    assert(v1.isDefined)

    // restart with a new extract drop: two already-loaded keys plus one new
    // key with a NEW keyset whose sort order precedes the old ones — only
    // stable ids keep v1 (a fresh lake dir, as a re-rewritten file would hit
    // the session's file-status cache in this shared-session spec)
    val lake2 = s"$base/lake2"
    Files.createDirectories(Paths.get(lake2))
    Files.writeString(Paths.get(s"$lake2/FSM_GLTransactionDetail.ndjson"), Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"GLTransactionDetail": 2, "TransactionAmount": 20.5, "JournalCode": "GJ"}""",
      """{"GLTransactionDetail": 3, "Amount": 1.0}"""
    ).mkString("\n"))
    val r2 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake2, bronze, silver, registryRoot = Some(reg))
    // only the new key loads; silver holds the union without duplicates
    assert(r2.head.success && r2.head.rows == 1)
    assert(spark.read.option("mergeSchema", "true").parquet(
      s"$silver/luma_gl_transaction_detail").count() == 3)
    val saved2 = graft.schema.SchemaRegistry.loadOrSeed(spark,
      s"$reg/FSM_GLTransactionDetail_schemas.json")
    assert(saved2.versionOf(Set("GLTransactionDetail", "TransactionAmount")) == v1)
    assert(saved2.withoutSeed.versions.size == 3)
  }

  test("incremental diff reads the key history, not the silver table") {
    val base = tempDir("graft_runner_hist").toString
    val (lake, bronze, silver) = (s"$base/lake", s"$base/bronze", s"$base/silver")
    Files.createDirectories(Paths.get(lake))
    Files.writeString(Paths.get(s"$lake/FSM_GLTransactionDetail.ndjson"),
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""")
    val r1 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake, bronze, silver)
    assert(r1.head.success && r1.head.rows == 1)
    // the run left a narrow id-only history beside the warehouse table
    val hist = s"$silver/_keyhistory/luma_gl_transaction_detail"
    assert(spark.read.parquet(hist).columns.toSeq == Seq("GLTransactionDetail"))
    // plant key 99 in SILVER ONLY (never extracted per the history): if the
    // runner diffed against silver it would skip 99; diffing against the
    // history must load it
    import spark.implicits._
    Seq(("99", "99.0")).toDF("GLTransactionDetail", "TransactionAmount")
      .write.mode("append").parquet(s"$silver/luma_gl_transaction_detail")
    val lake2 = s"$base/lake2"
    Files.createDirectories(Paths.get(lake2))
    Files.writeString(Paths.get(s"$lake2/FSM_GLTransactionDetail.ndjson"), Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"GLTransactionDetail": 99, "TransactionAmount": 99.0}"""
    ).mkString("\n"))
    val r2 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake2, bronze, silver)
    assert(r2.head.success && r2.head.rows == 1)
    // and the history now covers the loaded key
    assert(spark.read.parquet(hist).as[String].collect().toSet == Set("1", "99"))
  }

  test("silver predating the history backfills it PERSISTENTLY (no re-append)") {
    val base = tempDir("graft_runner_bf").toString
    val (lake, bronze, silver) = (s"$base/lake", s"$base/bronze", s"$base/silver")
    Files.createDirectories(Paths.get(lake))
    // pre-existing silver from an older deployment, no key history
    import spark.implicits._
    Seq(("1", "10.5"), ("2", "20.5"))
      .toDF("GLTransactionDetail", "TransactionAmount")
      .write.parquet(s"$silver/luma_gl_transaction_detail")
    // run 1: lake has one old key and one new key
    Files.writeString(Paths.get(s"$lake/FSM_GLTransactionDetail.ndjson"), Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"GLTransactionDetail": 3, "TransactionAmount": 30.5}"""
    ).mkString("\n"))
    val r1 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake, bronze, silver)
    assert(r1.head.success && r1.head.rows == 1)
    // the backfill was persisted: history = pre-existing keys + the new one
    val hist = s"$silver/_keyhistory/luma_gl_transaction_detail"
    assert(spark.read.parquet(hist).as[String].collect().toSet ==
      Set("1", "2", "3"))
    // run 2 over the SAME old keys must load nothing (the bug re-appended
    // every pre-history row on each run)
    val lake2 = s"$base/lake2"
    Files.createDirectories(Paths.get(lake2))
    Files.writeString(Paths.get(s"$lake2/FSM_GLTransactionDetail.ndjson"), Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"GLTransactionDetail": 2, "TransactionAmount": 20.5}"""
    ).mkString("\n"))
    val r2 = PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
      lake2, bronze, silver)
    assert(r2.head.success && r2.head.rows == 0)
    assert(spark.read.parquet(s"$silver/luma_gl_transaction_detail")
      .count() == 3)
  }
}
