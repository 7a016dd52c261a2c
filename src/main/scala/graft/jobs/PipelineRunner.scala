package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.sinks.Sinks

/** Subject-area pipeline runner — the reference's orchestration loop
  * (`workflow.ps1:469-509`: per business class, load_s3 → load_staging →
  * load_data_warehouse, with per-class success/failure recording via
  * `report_job`, `workflow.ps1:192-203`) as one driver program.
  *
  * Per business class: read raw NDJSON from the lake root → drift-ingest
  * (IngestPipeline) → versioned bronze append → silver overwrite. Failures
  * are isolated per class (the reference logs and continues the area), and
  * the job report carries what the reference writes to its `job_tracker`
  * table (A8).
  */
object PipelineRunner {

  final case class JobReport(
      configName: String,
      businessClass: String,
      success: Boolean,
      rows: Long,
      schemaVersions: Int,
      durationSec: Double,
      error: Option[String])

  /** Run every business class of a subject area.
    *
    * @param registryRoot when set, each class's schema registry is loaded
    *   from `{root}/{bc}_schemas.json` before the run and saved back after a
    *   successful load (the reference persists `{bc}_schemas.json` per
    *   extract, `datalakewrapper.py:180-186`) — version ids stay stable
    *   across runs no matter what order drift is rediscovered in.
    *
    * Load mode mirrors the reference's `--il` vs `--fl` dispatch
    * (`datalakewrapper.py:252-257`, `workflow.ps1:266-267`): a table marked
    * incremental (with a configured key column) anti-joins the incoming rows
    * against the keys silver already holds, null-safe
    * ([[graft.operators.Upsert.insertOnly]]), and APPENDS only the new
    * ones; a full load overwrites silver. Bronze always appends (versioned
    * history). `JobReport.rows` is the number of rows loaded by THIS run.
    *
    * Silver is its own extraction history (the reference keeps a separate
    * id file, `utilities/utilities.py:208-224`): the diff reads only
    * silver's key column, which a Parquet scan prunes to, so a key-only
    * copy would buy no narrower build side. The silver append is the one
    * commit of an incremental load; there is no second write a crash
    * could fall between.
    */
  def runSubjectArea(spark: SparkSession, config: EngineConfig,
                     subjectArea: String, lakeRoot: String,
                     bronzeRoot: String, silverRoot: String,
                     registryRoot: Option[String] = None): Seq[JobReport] = {
    // business classes are INDEPENDENT (per-class lake files, bronze and
    // silver paths, registries, observation names, and per-class
    // failure isolation), so they run CONCURRENTLY on a small
    // driver pool: Spark schedules several jobs at once and the next
    // class's tasks back-fill executors idled by the current class's
    // stage tails (the reference loops sequentially only because its
    // runtime is one Lambda per class). Reports keep the config order.
    def runOne(name: String, tc: TableConfig): JobReport = {
      val t0 = System.nanoTime()
      try {
        // a missing extract fails the class before any read: a read of a
        // missing path fails in analysis, and Spark's Observation listener
        // re-raises that failure as an ERROR line of its own
        val lakeFile = s"$lakeRoot/${tc.businessClassName}.ndjson"
        if (!pathExists(spark, lakeFile))
          throw new java.io.FileNotFoundException(s"no extract at $lakeFile")
        val raw = spark.read.text(lakeFile).withColumnRenamed("value", "rec")
        val registryPath = registryRoot.map(r =>
          s"$r/${tc.businessClassName}_schemas.json")
        val prior = registryPath.map(graft.schema.SchemaRegistry.loadOrSeed(spark, _))
          .getOrElse(graft.schema.SchemaRegistry.seed)
        val result = IngestPipeline.ingest(spark, raw, "rec", prior)

        val silverPath = s"$silverRoot/${tc.warehouseTableName}"
        val incrementalRun = tc.incremental && tc.keyColumn.isDefined &&
          pathExists(spark, silverPath)
        val loaded =
          if (incrementalRun)
            graft.operators.Upsert.insertOnly(spark.read.parquet(silverPath),
              result.silver, tc.keyColumn.toSeq)
          else result.silver
        // one computation feeds bronze, silver, and the row count
        val data = loaded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the row count OBSERVES the bronze write (zero-pass A8 metrics)
          // instead of running its own count job — and still lands BEFORE
          // the silver write: appending to silverPath recaches every plan
          // reading it, so a later count would re-list the freshly-appended
          // files and see this run's own rows
          val (observed, obs) = Metrics.observed(data, tc.stagingTableName)
          Sinks.writeVersioned(observed, s"$bronzeRoot/${tc.stagingTableName}")
          val rows = Metrics.rows(obs)
          if (incrementalRun)
            data.drop("schema_version").write
              .mode(org.apache.spark.sql.SaveMode.Append).parquet(silverPath)
          else Sinks.writeMerged(data.drop("schema_version"), silverPath)
          registryPath.foreach(p =>
            graft.schema.SchemaRegistry.save(spark, result.registry, p))
          JobReport(name, tc.businessClassName, success = true, rows,
            result.registry.withoutSeed.versions.size,
            (System.nanoTime() - t0) / 1e9, None)
        } finally data.unpersist()
      } catch {
        case e: Exception =>
          JobReport(name, tc.businessClassName, success = false, 0L, 0,
            (System.nanoTime() - t0) / 1e9, Some(e.getMessage))
      }
    }
    graft.operators.Concurrent.all(config.tablesFor(subjectArea).map {
      case (name, tc) => () => runOne(name, tc)
    }, threads = 4)
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
