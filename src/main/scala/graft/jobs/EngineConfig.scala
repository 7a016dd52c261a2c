package graft.jobs

/** Typed configuration surface replacing the reference's JSON/ini config
  * files (FIXTURES.md §5-6; reference `config/bc_table_map.json`,
  * `subject_area_configuration_mappings.json`, `app.config` sections read
  * at `utilities/utilities.py:428-456`). The reference mutates `app.config`
  * to select the active business class; here job parameters are explicit
  * values — no config-as-state.
  */
final case class TableConfig(
    businessClassName: String,
    stagingTableName: String,
    replicationSetName: String,
    incremental: Boolean,
    keyColumn: Option[String] = None) {

  /** Warehouse table name = staging minus `_dl` (reference
    * `table_generator.py:54`). */
  def warehouseTableName: String = stagingTableName.replace("_dl", "")
}

final case class EngineConfig(
    tables: Map[String, TableConfig],
    subjectAreas: Map[String, Seq[String]]) {

  def tablesFor(subjectArea: String): Seq[(String, TableConfig)] =
    subjectAreas.getOrElse(subjectArea, Seq.empty)
      .flatMap(name => tables.get(name).map(name -> _))
}
