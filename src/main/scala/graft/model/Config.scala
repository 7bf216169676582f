package graft.model

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The component configuration contract (`config.json` in the `/data` dir),
  * mirroring the reference's pydantic models field for field:
  * catalog connection (`components/common/configuration.py:4-8`), extractor
  * parameters (`components/ex-iceberg/src/configuration.py:1-57`), writer
  * parameters (`components/wr-iceberg/src/configuration.py:1-36`). Unknown
  * keys are tolerated everywhere (the platform injects `storage`,
  * `image_parameters`, `authorization`, ... — FIXTURES §A3).
  */
final case class CatalogConf(
    name: String = "icelite",
    warehouse: String = "",
    uri: String = "",
    token: String = "")

final case class SourceConf(
    namespace: String = "",
    @JsonProperty("table_name") tableName: String = "")

/** Extractor column selection (`ex/src/configuration.py:18-20,34-36`).
  * `query` backs the UI's `custom_query` mode and its `query_preview`
  * sync action (`ex/component_config/configRowSchema.json:94-107` — the
  * reference advertises the button but ships no executing code for it).
  */
final case class DataSelection(
    mode: String = "all_data", // all_data | selected_columns | custom_query
    columns: Seq[String] = Nil,
    query: String = "",
    // erasure hides the Long from Jackson, which would box a small id as an
    // Integer and fail later with a ClassCastException
    @JsonProperty("snapshot_id")
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    snapshotId: Option[Long] = None)

/** Extractor output config (`ex/src/configuration.py:23-25,44-50`). */
final case class ExDestination(
    @JsonProperty("preserve_insertion_order") preserveInsertionOrder: Boolean = true,
    @JsonProperty("parquet_output") parquetOutput: Boolean = false,
    @JsonProperty("load_type") loadType: String = "full_load", // full_load | incremental_load
    @JsonProperty("primary_key") primaryKey: Seq[String] = Nil)

/** Writer destination (`wr/src/configuration.py:18-31`). */
final case class WrDestination(
    namespace: String = "",
    @JsonProperty("table_name") tableName: String = "",
    mode: String = "append", // append | upsert | replace
    @JsonProperty("primary_key") primaryKey: Seq[String] = Nil)

final case class Parameters(
    catalog: CatalogConf = CatalogConf(),
    // extractor side
    source: Option[SourceConf] = None,
    @JsonProperty("data_selection") dataSelection: DataSelection = DataSelection(),
    destination: Option[ExDestination] = None,
    // writer side
    @JsonProperty("wr_destination") wrDestination: Option[WrDestination] = None,
    @JsonProperty("all_varchar") allVarchar: Boolean = false,
    @JsonProperty("partition_by") partitionBy: Seq[String] = Nil,
    // the reference's silent 100k cap (`ex/src/component.py:37`), made an
    // explicit overridable knob (SURVEY §4 note 1)
    @JsonProperty("scan_limit") scanLimit: Long = 100000L,
    // kept for config compatibility; Spark's own memory management applies
    @JsonProperty("duckdb_max_memory_mb") maxMemoryMb: Int = 128)

/** Platform-injected storage input mapping (the piece `list_table_columns`
  * reads: `wr/src/component.py:156-163` uses `tables_input_mapping[0].source`
  * as the Storage API table id).
  */
final case class StorageInputTable(
    source: String = "",
    destination: String = "")

final case class StorageInput(tables: Seq[StorageInputTable] = Nil)

final case class StorageConf(input: StorageInput = StorageInput())

final case class ComponentConfig(
    action: String = "run",
    parameters: Parameters = Parameters(),
    storage: StorageConf = StorageConf())

object ComponentConfig {

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def fromJson(json: String): ComponentConfig =
    mapper.readValue(json, classOf[ComponentConfig])
}

/** User-caused failure → exit code 1; anything else → exit code 2 (the
  * reference's error taxonomy, `ex/src/component.py:168-178`).
  */
final class UserException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)
