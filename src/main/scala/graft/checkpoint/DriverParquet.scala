package graft.checkpoint

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.types._

/** Driver-side reads and writes of tiny parquet tables (build manifest
  * rows, the one-row stats and blocks_meta tables) through
  * parquet-hadoop — no Spark job. A one-row `Seq(x).toDS().write` costs a
  * job, and a `spark.read...head()` one or two more; for bookkeeping rows
  * that is pure scheduling overhead. Executor tasks read the blocks bucket
  * files with it too ([[graft.query.BucketFiles]]): serving plans no scan.
  *
  * Files go through parquet's `java.nio` local files, like the rest of
  * the checkpoint's bookkeeping (commit markers are `java.nio` files too):
  * Hadoop's local file system shells out to `chmod` on every create when
  * its native library is absent, which made each one-row file cost
  * ~15 ms instead of ~2.
  *
  * Files written here carry the parquet schema Spark's own writer derives
  * from the same `StructType` (and Spark's row-metadata footer key), so
  * `spark.read.parquet` reads them like any Spark-written table. The
  * reader reads Spark-written files as well: it takes every visible file
  * of a directory (names starting with `_` or `.` are skipped, as Spark's
  * file index does) and projects each record onto a pinned schema.
  */
private[graft] object DriverParquet {

  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Entries of a local directory (empty if it does not exist); the
    * directory stream is closed before returning.
    */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** Delete a local file or directory tree; nothing if it does not exist. */
  def remove(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) list(p).foreach(remove)
    Files.deleteIfExists(p)
  }

  /** Replace the table at `dir` by the single row `row` (manifest rows,
    * `stats`, `blocks_meta`): written under a hidden temp name, renamed in
    * once `dir` is cleared, so a crash leaves the old, no or the new table.
    */
  def writeTable(spark: SparkSession, dir: Path, schema: StructType, row: Row): Unit = {
    val tmp = dir.resolveSibling(s".${dir.getFileName}-${java.util.UUID.randomUUID()}.tmp")
    Files.createDirectories(dir.getParent)
    write(spark, tmp, schema, Seq(row))
    remove(dir)
    Files.createDirectories(dir)
    Files.move(tmp, dir.resolve("part-00000.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Write `rows` (matching `schema`) as ONE parquet file at `file`. */
  def write(spark: SparkSession, file: Path, schema: StructType,
      rows: Seq[Row]): Unit = {
    val mt = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(Map(ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case StringType  => g.add(f.name, r.getString(i))
          case IntegerType => g.add(f.name, r.getInt(i))
          case LongType    => g.add(f.name, r.getLong(i))
          case DoubleType  => g.add(f.name, r.getDouble(i))
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Every record of the visible parquet files directly under `dir`,
    * projected onto `schema` by field name: a field the file lacks reads
    * as null. Empty when `dir` does not exist.
    */
  def read(dir: Path, schema: StructType): Seq[Row] =
    list(dir).filter(f => Files.isRegularFile(f) && !hidden(f.getFileName.toString))
      .sortBy(_.getFileName.toString).flatMap(readFile(_, schema))

  /** The records of `file` (see [[read]]) in the row groups whose column
    * statistics `rowGroups` keeps; no record is filtered. Explicit options
    * per file: the defaults parse a fresh Hadoop Configuration, and a
    * reader releases its codec factory on close, so tasks share none.
    */
  def readFile(file: Path, schema: StructType,
      rowGroups: FilterCompat.Filter = FilterCompat.NOOP): Seq[Row] = {
    val options = ParquetReadOptions.builder(new PlainParquetConfiguration())
      .withRecordFilter(rowGroups).useRecordFilter(false).useDictionaryFilter(false).build()
    val r = ParquetFileReader.open(new LocalInputFile(file), options)
    try {
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      val out = ArrayBuffer[Row]()
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val records = new ColumnIOFactory().getColumnIO(fileSchema)
          .getRecordReader(pages, new GroupRecordConverter(fileSchema))
        var i = 0L
        while (i < pages.getRowCount) { out += project(records.read(), schema); i += 1 }
        pages = r.readNextRowGroup()
      }
      out.toSeq
    } finally r.close()
  }

  private def project(g: Group, schema: StructType): Row = {
    val t = g.getType
    Row.fromSeq(schema.fields.toSeq.map { f =>
      if (!t.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case StringType  => g.getString(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
        case LongType    => g.getLong(f.name, 0)
        case DoubleType  => g.getDouble(f.name, 0)
        case BinaryType  => g.getBinary(f.name, 0).getBytes
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
    })
  }
}
