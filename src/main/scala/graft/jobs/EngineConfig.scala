package graft.jobs

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

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

object EngineConfig {

  private val mapper = new ObjectMapper()

  /** Parse the FIXTURES.md §5 table-config map and §6 subject-area map. */
  def fromJson(tableConfigJson: String, subjectAreaJson: String): EngineConfig = {
    val tablesNode = mapper.readTree(tableConfigJson)
    val tables = tablesNode.properties().asScala.map { e =>
      val n = e.getValue
      e.getKey -> TableConfig(
        businessClassName = n.get("business_class_name").asText(),
        stagingTableName = n.get("staging_table_name").asText(),
        replicationSetName = n.get("replication_set_name").asText(),
        incremental = Option(n.get("incremental")).exists(_.asBoolean()),
        keyColumn = Option(n.get("key_column")).map(_.asText()))
    }.toMap
    val saNode = mapper.readTree(subjectAreaJson)
    val subjectAreas = saNode.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
    EngineConfig(tables, subjectAreas)
  }
}
