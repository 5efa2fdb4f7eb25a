package graft

import graft.entries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator: the Spark query the driver runs over an sf
  * directory, and the DuckDB SQL whose result it must hash-equal. Output
  * column names must equal the oracle's aliases exactly (the driver sorts
  * columns by name before hashing).
  */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** Driver contract: one [[Entry]] per implemented operator from SURVEY.md §2,
  * each kept in the family object its name prefix names (`graft.entries`).
  * All catalog operators run over the deterministic metadata corpus derived
  * from the driver's `part` table ([[Corpus]]); the oracle SQL prefixes
  * [[Corpus.metaSql]] so DuckDB computes the identical corpus.
  */
object SparkEntry {

  /** Every registered entry, family by family. */
  val registry: Seq[Entry] = Seq(
    Filters.entries, Ranking.entries, Aggregations.entries, Formats.entries,
    Storage.entries, Text.entries, Duplicates.entries, Pretraining.entries,
    Vectors.entries, Olap.entries, Streams.entries, EventJoins.entries,
    Checks.entries, Graphs.entries, Media.entries, Results.entries).flatten

  private val duplicates = registry.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
  require(duplicates.isEmpty, s"entry names registered twice: ${duplicates.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(e => e.name -> e.run).toMap

  val oracleSql: Map[String, String] = registry.map(e => e.name -> e.oracleSql).toMap

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Fixtures.hits(spark, "/root/testdata/sf0.001", """{"query":"red","size":100}""", Fixtures.admin)
}
