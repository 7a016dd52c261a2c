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

  test("a null-key record loads once: the incremental diff is null-safe") {
    val base = tempDir("graft_runner_null").toString
    val (bronze, silver) = (s"$base/bronze", s"$base/silver")
    val extract = Seq(
      """{"GLTransactionDetail": 1, "TransactionAmount": 10.5}""",
      """{"TransactionAmount": 5.0}""").mkString("\n")
    // the same extract lands twice, each time in a fresh lake dir
    def run(lake: String) = {
      Files.createDirectories(Paths.get(lake))
      Files.writeString(
        Paths.get(s"$lake/FSM_GLTransactionDetail.ndjson"), extract)
      PipelineRunner.runSubjectArea(spark, incConfig, "general_ledger",
        lake, bronze, silver).head
    }
    val r1 = run(s"$base/lake")
    assert(r1.success && r1.rows == 2)
    val r2 = run(s"$base/lake2")
    assert(r2.success && r2.rows == 0)
    val keys = spark.read.parquet(s"$silver/luma_gl_transaction_detail")
      .select("GLTransactionDetail").collect().map(r => Option(r.getString(0)))
    assert(keys.sortBy(_.toString).toSeq == Seq(None, Some("1")))
  }

  test("a pre-existing silver table is the diff's key set (no re-append)") {
    val base = tempDir("graft_runner_bf").toString
    val (lake, bronze, silver) = (s"$base/lake", s"$base/bronze", s"$base/silver")
    Files.createDirectories(Paths.get(lake))
    // pre-existing silver from an older deployment
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
    // run 2 over the SAME old keys must load nothing
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
