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
    * against a narrow KEY-HISTORY table and APPENDS only the new ones; a
    * full load overwrites silver (and resets the history). Bronze always
    * appends (versioned history). `JobReport.rows` is the number of rows
    * loaded by THIS run.
    *
    * The key history (`{silverRoot}/_keyhistory/{table}`) is the reference's
    * extraction-history id file (`utilities/utilities.py:208-224`): ids
    * only, so the anti-join's build side stays small — the warehouse table
    * itself is never scanned for the diff. A silver table predating the
    * history is backfilled from one silver key scan. History is appended
    * AFTER the data writes, matching the reference's at-least-once ordering
    * (`datalakewrapper.py:180-195`): a crash between the two re-loads rows
    * on retry rather than losing them; the checkpointed
    * `streaming.IncrementalIngest` is the exactly-once variant.
    */
  def runSubjectArea(spark: SparkSession, config: EngineConfig,
                     subjectArea: String, lakeRoot: String,
                     bronzeRoot: String, silverRoot: String,
                     registryRoot: Option[String] = None): Seq[JobReport] = {
    // business classes are INDEPENDENT (per-class lake files, bronze and
    // silver paths, key histories, registries, observation names, and
    // per-class failure isolation), so they run CONCURRENTLY on a small
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
        val historyPath = s"$silverRoot/_keyhistory/${tc.warehouseTableName}"
        val incrementalRun = tc.incremental && tc.keyColumn.isDefined &&
          pathExists(spark, silverPath)
        val loaded =
          if (incrementalRun) {
            if (!pathExists(spark, historyPath)) {
              // silver predates the key history: PERSIST the backfill —
              // diffing against an unsaved scan would leave later runs an
              // incomplete history and re-append every pre-history row
              spark.read.parquet(silverPath).select(tc.keyColumn.get)
                .distinct().write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(historyPath)
            }
            graft.operators.Incremental.notExtracted(result.silver,
              spark.read.parquet(historyPath), tc.keyColumn.get)
          } else result.silver
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
          // the run's distinct keys, MATERIALIZED before the silver append:
          // a persist alone is not enough — if cached partitions are lost
          // after the append, recomputation re-runs the anti-join against
          // silver that now CONTAINS this run's rows, yielding an empty key
          // set, so the keys never enter history and the rows re-append as
          // duplicates on every later run. localCheckpoint cuts the lineage
          // to the pre-append result (and fails loudly, not silently, if
          // its blocks are lost). Computed only when it will be written: a
          // zero-row incremental run appends nothing — otherwise every
          // no-op scheduled run would litter one empty file set.
          val runKeys = tc.keyColumn
            .filter(_ => !incrementalRun || rows > 0)
            .map(k => data.select(k).distinct().localCheckpoint())
          if (incrementalRun)
            data.drop("schema_version").write
              .mode(org.apache.spark.sql.SaveMode.Append).parquet(silverPath)
          else Sinks.writeMerged(data.drop("schema_version"), silverPath)
          // record THIS run's keys after the data lands (at-least-once);
          // a full load resets the history to exactly its own keys
          runKeys.foreach(_.write
            .mode(if (incrementalRun) org.apache.spark.sql.SaveMode.Append
                  else org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(historyPath))
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
