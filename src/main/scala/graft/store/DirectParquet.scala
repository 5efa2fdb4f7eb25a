package graft.store

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** DRIVER-SIDE parquet segment writer for metadata-scale store mutations
  * (r18, guide §5 "the driver should do almost no data work" read in
  * reverse: a point mutation should cost no DISTRIBUTED work).
  *
  * Every single-entry store op (`upsert`, `partialUpdate`, `delete`,
  * `upsertIf`) and small-Seq `upsertAll` stages a delta whose rows are
  * ALREADY DRIVER-RESIDENT — yet the former path bounced them through
  * `Seq(...).toDS().write.parquet`: a full Dataset plan (analysis +
  * optimization), a scheduled one-task job, and the Hadoop commit
  * protocol, per mutation — ~100 ms of fixed engine overhead to move a
  * few hundred bytes that never needed an executor. JobProfile showed
  * this per-action overhead as the s-family's dominant cost (the r17
  * "driver gap").
  *
  * This writer produces the SAME bytes the distributed path would — it
  * runs Spark's own `ParquetWriteSupport` (the exact WriteSupport every
  * executor parquet task uses) under the session's parquet conf (legacy
  * format, output timestamp type, rebase modes, codec) — so readers
  * (which pass an explicit schema) cannot tell the difference. Only HOW
  * the staged file is produced changes; the staging directory + atomic
  * publish + pointer-swap commit protocol around it is untouched.
  *
  * Scale contract: callers hand a `Seq` that is by definition driver-
  * resident and metadata-scale (the distributed batch surfaces —
  * `bulkLoad`, `upsertAll(Dataset)`, `merge` — keep their executor-side
  * writes; they may be corpus-scale).
  *
  * Read side ([[rowsWhere]]): the point read of one key, for the store's
  * `get`/`versionOf`. It runs Spark's own `VectorizedParquetRecordReader`
  * (the reader every executor parquet scan uses) on the driver, with the
  * footer-derived datetime and INT96 rebase specs `ParquetFileFormat`
  * derives, so a row reads back exactly as a scan would return it. A
  * parquet `FilterPredicate` on the key skips every row group whose
  * statistics exclude it from the footer alone; only admitted row groups
  * are decoded. Cost: one footer per file, plus the decode of the row
  * groups the statistics cannot rule out.
  */
object DirectParquet {

  /** Write `rows` (external Rows matching `schema`) as one parquet file
    * under directory `dir` (created if absent).
    */
  def writeRows(spark: SparkSession, dir: Path, schema: StructType,
                rows: Seq[Row]): Unit = {
    Files.createDirectories(dir)
    val hconf = GraftBridge.hadoopConf(spark)
    val sql = GraftBridge.sqlConf(spark)
    ParquetWriteSupport.setSchema(schema, hconf)
    // the keys ParquetWriteSupport.init asserts/reads — populated from the
    // session conf exactly as ParquetFileFormat.prepareWrite does
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    hconf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    hconf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    val codec = sql.parquetCompressionCodec.toLowerCase match {
      case "uncompressed" | "none" => CompressionCodecName.UNCOMPRESSED
      case other => CompressionCodecName.valueOf(other.toUpperCase)
    }
    val file = dir.resolve(
      s"part-00000-${java.util.UUID.randomUUID}${codec.getExtension}.parquet")
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = new RowBuilder(
      HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), hconf))
      .withConf(hconf)
      .withCompressionCodec(codec)
      .build()
    try rows.foreach(r => writer.write(conv(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** A driver-side point reader of the string column `key` = `value`: the
    * returned function gives every row (copied, in `schema` order) of the
    * parquet files under a directory whose `key` equals `value`. Files are
    * listed as Spark's file index lists them: `_`- and `.`-prefixed names
    * are skipped, except partition dirs (`k=v`), which are descended. A
    * missing dir reads as empty. The Hadoop conf and the pushed predicate
    * are built once per reader, so one point read over many segments pays
    * for them once; the function is for one thread.
    */
  def rowsWhere(spark: SparkSession, key: String,
                value: String): (Path, StructType) => Seq[InternalRow] = {
    val sql = GraftBridge.sqlConf(spark)
    // the task context copies the conf it is given: configure its copy
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      GraftBridge.hadoopConf(spark), new org.apache.hadoop.mapreduce.TaskAttemptID())
    val hconf = ctx.getConfiguration
    // the keys ParquetReadSupport.init and ParquetToSparkSchemaConverter
    // read — set from the session conf exactly as ParquetFileFormat does
    hconf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID, SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => hconf.set(e.key, sql.getConf(e).toString))
    hconf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    val predicate = FilterApi.eq(FilterApi.binaryColumn(key), Binary.fromString(value))
    ParquetInputFormat.setFilterPredicate(hconf, predicate)
    val want = UTF8String.fromString(value)
    val datetimeMode = sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString
    val int96Mode = sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString
    val int96Convert = sql.getConf(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION)

    def readFile(file: Path, keyIdx: Int): Seq[InternalRow] = {
      val path = new org.apache.hadoop.fs.Path(file.toUri)
      val in = HadoopInputFile.fromPath(path, hconf)
      val stream = in.newStream()
      try {
        val footer = ParquetFileReader.readFooter(in,
          HadoopReadOptions.builder(hconf, path).build(), stream)
        val meta = footer.getFileMetaData
        if (footer.getBlocks.asScala.forall(b => StatisticsFilter.canDrop(predicate, b.getColumns))) Nil
        else {
          val kv = meta.getKeyValueMetaData
          val datetime = DataSourceUtils.datetimeRebaseSpec(k => kv.get(k), datetimeMode)
          val int96 = DataSourceUtils.int96RebaseSpec(k => kv.get(k), int96Mode)
          // INT96 zone conversion applies only to files not written by
          // parquet-mr (ParquetFileFormat's per-file rule)
          val convertTz =
            if (int96Convert && !meta.getCreatedBy.startsWith("parquet-mr"))
              DateTimeUtils.getZoneId(sql.sessionLocalTimeZone)
            else null
          val reader = new VectorizedParquetRecordReader(convertTz,
            datetime.mode.toString, datetime.timeZone, int96.mode.toString, int96.timeZone,
            false, sql.parquetVectorizedReaderBatchSize)
          try {
            reader.initialize(new org.apache.hadoop.mapred.FileSplit(path, 0L, in.getLength,
              Array.empty[String]), ctx, Some(in), Some(stream), Some(footer))
            reader.initBatch(new StructType(), InternalRow.empty)
            val hits = Seq.newBuilder[InternalRow]
            while (reader.nextKeyValue()) {
              val row = reader.getCurrentValue.asInstanceOf[InternalRow]
              if (!row.isNullAt(keyIdx) && row.getUTF8String(keyIdx) == want) hits += row.copy()
            }
            hits.result()
          } finally reader.close()
        }
      } finally stream.close() // the reader closes it too; a second close is a no-op
    }

    (dir, schema) => {
      hconf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
      dataFiles(dir).flatMap(readFile(_, schema.fieldIndex(key)))
    }
  }

  /** The data files under `dir`, listed by the file-index rule of [[rowsWhere]]. */
  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else graft.util.FsUtil.listDir(dir)(_.toSeq).sortBy(_.getFileName.toString).flatMap { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Nil
      else if (Files.isDirectory(p)) dataFiles(p)
      else Seq(p)
    }

  private class RowBuilder(out: org.apache.parquet.io.OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowBuilder](out) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
