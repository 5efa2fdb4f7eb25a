package graft
package entries

import graft.model.{AclContext, DataSetFiltering}
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Filter, ACL and DSL-whitelist entries (F1-F7) over the metadata corpus. */
object Filters {
  val entries: Seq[Entry] = Seq(
    // F1 equality filter (single-value term)
    Entry("f1_equality", (s, d) =>
      hits(s, d, all("""{"filters":[{"category":["cat3"]}]}"""), admin)
        .select(col("id"), col("category")),
      M + "SELECT id, category FROM meta WHERE category = 'cat3' ORDER BY id"),

    // F2 set-membership filter (terms)
    Entry("f2_set_membership", (s, d) =>
      hits(s, d, all("""{"filters":[{"format":["csv","avro"]}]}"""), admin)
        .select(col("id"), col("format")),
      M + "SELECT id, format FROM meta WHERE format IN ('csv','avro') ORDER BY id"),

    // F3 closed time range (inclusive both ends)
    Entry("f3_time_range", (s, d) =>
      hits(s, d, all("""{"filters":[{"creationTime":["2015-03-01 00:00:00","2015-06-01 00:00:00"]}]}"""), admin)
        .select(col("id"), date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date")),
      M + "SELECT id, strftime(creationTime, '%Y-%m-%d') AS creation_date FROM meta " +
        "WHERE creationTime BETWEEN TIMESTAMP '2015-03-01 00:00:00' AND TIMESTAMP '2015-06-01 00:00:00' ORDER BY id"),

    // F3 open range: -1 elides the lower bound
    Entry("f3_open_range", (s, d) =>
      hits(s, d, all("""{"filters":[{"creationTime":["-1","2015-02-01 00:00:00"]}]}"""), admin)
        .select(col("id"), date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date")),
      M + "SELECT id, strftime(creationTime, '%Y-%m-%d') AS creation_date FROM meta " +
        "WHERE creationTime <= TIMESTAMP '2015-02-01 00:00:00' ORDER BY id"),

    // F4 conjunction of three filters
    Entry("f4_conjunction", (s, d) =>
      hits(s, d, all("""{"filters":[{"category":["cat2"]},{"isPublic":[true]},{"format":["csv","avro"]}]}"""), admin)
        .select(col("id"), col("category"), col("format"), col("isPublic").as("is_public")),
      M + "SELECT id, category, format, isPublic AS is_public FROM meta " +
        "WHERE category = 'cat2' AND isPublic AND format IN ('csv','avro') ORDER BY id"),

    // F5 ACL OR-group, default mode: (orgUUID ∈ orgs) OR isPublic
    Entry("f5_acl_default", (s, d) =>
      hits(s, d, all("{}"), AclContext(Seq("org1"), isAdmin = false))
        .select(col("id"), col("orgUUID").as("org_uuid"), col("isPublic").as("is_public")),
      M + s"SELECT id, orgUUID AS org_uuid, isPublic AS is_public FROM meta WHERE $aclOr ORDER BY id"),

    // F5 onlyPrivate mode: orgUUID ∈ orgs AND NOT isPublic
    Entry("f5_only_private", (s, d) =>
      hits(s, d, all("{}"),
        AclContext(Seq("org1", "org2"), isAdmin = false, DataSetFiltering.OnlyPrivate))
        .select(col("id"), col("orgUUID").as("org_uuid"), col("isPublic").as("is_public")),
      M + "SELECT id, orgUUID AS org_uuid, isPublic AS is_public FROM meta " +
        "WHERE orgUUID IN ('org1','org2') AND NOT isPublic ORDER BY id"),

    // F5 onlyPublic mode: isPublic only
    Entry("f5_only_public", (s, d) =>
      hits(s, d, all("{}"),
        AclContext(Seq("org1"), isAdmin = false, DataSetFiltering.OnlyPublic))
        .select(col("id"), col("isPublic").as("is_public")),
      M + "SELECT id, isPublic AS is_public FROM meta WHERE isPublic ORDER BY id"),

    // F6 whitelist: illegal filter field → InvalidQuery (the reference's 400)
    Entry("f6_whitelist_reject", (s, d) =>
      queryError(s)(hits(s, d, """{"filters":[{"badField":["x"]}]}""", admin)),
      "SELECT 'InvalidQuery' AS error"),

    // F7 stemmed title term-filter: the reference's title field is
    // english-analyzed, so {"title":["rings"]} matches stored token `ring`
    Entry("f7_title_stemmed", (s, d) =>
      hits(s, d, all("""{"filters":[{"title":["rings"]}]}"""), admin)
        .select(col("id"), col("title")),
      M + s"SELECT id, title FROM meta WHERE list_contains(" +
        s"list_transform(${stdToks("title")}, w -> ${stemSql("w")}), " +
        s"'${graft.analyzers.Analyzers.stem("rings")}') ORDER BY id")
  )
}
