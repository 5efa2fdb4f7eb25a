package graft
package entries

import graft.model.AclContext
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Result-shape entry: the full search response row. */
object Results {
  val entries: Seq[Entry] = Seq(
    // R1 result shaping: full entry columns on a paged, filtered, scored search
    Entry("r1_result_shape", (s, d) =>
      hits(s, d, """{"query":"red","filters":[{"format":["json"]}],"size":5}""",
        AclContext(Seq("org1"), isAdmin = false))
        .select(col("id"), col("category"),
          date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date"),
          col("dataSample").as("data_sample"), col("format"),
          col("isPublic").as("is_public"), col("orgUUID").as("org_uuid"),
          col("recordCount").as("record_count"), col("size"),
          col("sourceUri").as("source_uri"), col("targetUri").as("target_uri"),
          col("title")),
      M + s"""SELECT id, category, creation_date, data_sample, format, is_public, org_uuid,
              | record_count, "size", source_uri, target_uri, title FROM (
              |   SELECT id, category, strftime(creationTime, '%Y-%m-%d') AS creation_date,
              |     dataSample AS data_sample, format, isPublic AS is_public, orgUUID AS org_uuid,
              |     recordCount AS record_count, "size", sourceUri AS source_uri,
              |     targetUri AS target_uri, title, ${score1("red")} AS score
              |   FROM meta WHERE $aclOr AND format = 'json')
              | WHERE score > 0 ORDER BY score DESC, id LIMIT 5 OFFSET 0""".stripMargin.replaceAll("\n", " "))
  )
}
