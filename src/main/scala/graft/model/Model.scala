package graft.model

import org.apache.spark.sql.types._

/** Core data model of the catalog engine.
  *
  * Mirrors the reference's single document type — the dataset-metadata entry —
  * declared twice in the reference: the Cerberus write-side schema
  * (reference: data_catalog/metadata_entry.py:41-52) and the ES index mapping
  * (reference: data_catalog/configuration_const.py:21-66). Here it is declared
  * once as a case class + StructType; `id` is an ordinary column (Spark has no
  * row identity), `storeType` is mapping-only in the reference (present in
  * example data, rejected by write validation) and so is optional here and
  * excluded from the filter whitelist.
  */
final case class MetadataEntry(
    id: String,
    category: String,
    creationTime: java.sql.Timestamp,
    dataSample: String,
    format: String,
    isPublic: Boolean,
    orgUUID: String,
    recordCount: Long,
    size: Long,
    sourceUri: String,
    targetUri: String,
    title: String,
    storeType: Option[String] = None
)

object MetadataSchema {

  /** Legal filter fields = the Cerberus schema keys, NOT the mapping keys:
    * `storeType` is filterable-in-principle via the ES mapping but the
    * reference whitelists off the Cerberus schema
    * (reference: query_translation.py:258-260), so it is not legal here either.
    */
  val filterWhitelist: Set[String] = Set(
    "category", "creationTime", "dataSample", "format", "isPublic",
    "orgUUID", "recordCount", "size", "sourceUri", "targetUri", "title")

  val structType: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("creationTime", TimestampType, nullable = true),
    StructField("dataSample", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("isPublic", BooleanType, nullable = false),
    StructField("orgUUID", StringType, nullable = false),
    StructField("recordCount", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("sourceUri", StringType, nullable = false),
    StructField("targetUri", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("storeType", StringType, nullable = true)
  ))
}

/** Visibility mode, selected by onlyPublic/onlyPrivate request args in the
  * reference (reference: search.py:137-145, query_translation.py:312-315).
  */
sealed trait DataSetFiltering
object DataSetFiltering {
  /** default: (orgUUID ∈ orgs) OR isPublic */
  case object Both extends DataSetFiltering
  /** onlyPrivate: orgUUID ∈ orgs AND NOT isPublic */
  case object OnlyPrivate extends DataSetFiltering
  /** onlyPublic: isPublic */
  case object OnlyPublic extends DataSetFiltering
}

/** The caller's access context — the engine-relevant tail of the reference's
  * auth layer. ACL is compiled into the plan, never row-filtered afterwards
  * (reference: search.py:105, query_translation.py:182-191).
  */
final case class AclContext(
    orgUuidList: Seq[String],
    isAdmin: Boolean,
    filtering: DataSetFiltering = DataSetFiltering.Both
)

/** Parsed query DSL (reference DSL shape, search.py:40-68):
  * {"query": text, "filters": [{field: [v,...]}...], "from": n, "size": n}.
  * Filter values keep their JSON type (String | Long | Double | Boolean) so the
  * compiler can do typed comparisons (documented deviation from the
  * reference's stringify-then-lowercase, SURVEY.md §2.1 F1).
  */
final case class CatalogQuery(
    query: Option[String] = None,
    filters: Seq[(String, Seq[Any])] = Nil,
    from: Option[Int] = None,
    size: Option[Int] = None
)

/** Search result shape (reference: search.py:121-135): hits carry the full
  * entry, facet lists carry bucket keys only (counts discarded).
  */
final case class SearchResult(
    hits: Seq[MetadataEntry],
    total: Long,
    categories: Seq[String],
    formats: Seq[String]
)

/** Malformed DSL / illegal filter → the reference answers HTTP 400
  * (reference: query_translation.py:57-68, 258-260, 280-281).
  */
final class InvalidQueryException(msg: String) extends RuntimeException(msg)
