package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val mapper = new ObjectMapper()

  /** The oracle_sql.json body, in the map's order. Jackson escapes every
    * control character, so a tab or CR in an oracle query cannot make the
    * oracle compare's json.load fail and silently skip every entry.
    */
  def oracleSqlJson(sql: Map[String, String]): String = {
    val n = mapper.createObjectNode()
    sql.foreach { case (k, v) => n.put(k, v) }
    mapper.writeValueAsString(n)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: only run queries whose name contains ANY of the
    // comma-separated substrings
    val nameFilter = args.drop(2).headOption.map(_.split(',').toSeq)
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleSqlJson(SparkEntry.oracleSql))
    GraftSession.stop(spark)
  }
}
