package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.core.cbor.DnsMagCodec

/**
 * DataSource V2 provider making the reference's `.dnsmag` dataset files a
 * FIRST-CLASS Spark source: `spark.read.format("dnsmag").load(path)` (the
 * reference CLI treats dataset files as its primary input —
 * /root/reference/internal/store.go:109-172 reads them as an incremental
 * CBOR sequence). Each decoded dataset maps to rows by
 * [[graft.io.DnsMagCbor.datasetToState]], in one row mapping
 * ([[DnsMagDataSource.fileRows]]) that serves both `.dnsmag` read paths:
 * the scan tasks of this source, and [[DnsMagDataSource.readOnDriver]],
 * which [[graft.io.DnsMagCbor.read]] takes for inputs within its driver
 * caps (64 files, 16 MiB) and which returns a local frame. Tests pin the
 * rows against a direct decode of the file bytes and the golden fixtures
 * (estimate 92 through `spark.read.format`), and the two paths against
 * each other. A scan task reads its file on its first row, so the task's
 * input metrics count the file's bytes.
 *
 * Scale shape: one input partition per file (dataset files are
 * CLI-exchange-sized by construction — the reference truncates them to
 * top-N domains in memory — so per-file decode inside one task is right;
 * a directory of thousands of daily exports parallelizes per file, and
 * `DnsMagCbor.read` sends it here rather than decoding it on the driver), with
 * required-column pruning pushed into the reader (`select(domain)` never
 * materializes the HLL byte arrays). Directories expand non-recursively,
 * skipping hidden/metadata entries (`_SUCCESS`, dotfiles), and glob
 * patterns work as in any file source.
 */
class DnsMagDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dnsmag"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DnsMagDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    require(schema == DnsMagDataSource.Schema,
      s"dnsmag source has a fixed schema ${DnsMagDataSource.Schema.simpleString}; " +
        s"user-specified schema ${schema.simpleString} is not supported")
    new DnsMagTable(DnsMagDataSource.pathsFrom(properties))
  }
}

object DnsMagDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("domain", StringType, nullable = true),
    StructField("hll", BinaryType, nullable = false),
    StructField("queries", LongType, nullable = false)))

  /** `load(p)` passes "path"; `load(p1, p2, ...)` passes "paths" as a JSON
    * string array (Spark's own convention, written with Jackson). */
  private[sources] def pathsFrom(properties: util.Map[String, String]): Seq[String] = {
    val multi = Option(properties.get("paths")).map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }.getOrElse(Seq.empty)
    val single = Option(properties.get("path")).toSeq
    val all = multi ++ single
    require(all.nonEmpty, "dnsmag source requires a path: " +
      "spark.read.format(\"dnsmag\").load(\"/path/to/file.dnsmag\")")
    all
  }

  /** The files `load(path)` reads, listed as the scan lists them. A path
    * that matches nothing fails here, naming it. */
  private[graft] def listFiles(spark: SparkSession, path: String): Seq[FileStatus] =
    DataFileListing.listDataFiles(Seq(path), spark.sessionState.newHadoopConf(), "dnsmag")

  /** `files` decoded on the driver, one after another, into a local frame
    * of [[Schema]]. The rows are the reader's: [[fileRows]] over each
    * file's [[fileBytes]]. */
  private[graft] def readOnDriver(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    shims.localFrame(spark, Schema, files.flatMap(f =>
      fileRows(fileBytes(f.getPath, conf), Schema.fieldNames)).toVector)
  }

  /** One `.dnsmag` file's bytes, read whole through the Hadoop FS. */
  private[sources] def fileBytes(p: Path, conf: Configuration): Array[Byte] = {
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue,
      s"dnsmag file $p is ${len}B — dataset files are the reference CLI's " +
        "in-memory exchange format and are never GB-scale; refusing to decode")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes
  }

  /** The rows of one file (a CBOR sequence of datasets, each mapped by
    * [[graft.io.DnsMagCbor.datasetToState]]), holding the `fields` columns
    * of [[Schema]] in that order. */
  private[sources] def fileRows(bytes: Array[Byte], fields: Array[String]): Iterator[InternalRow] =
    DnsMagCodec.decodeSeq(bytes).iterator
      .flatMap(ds => graft.io.DnsMagCbor.datasetToState(ds).iterator)
      .map { case (date, domain, hll, queries) =>
        val vals = new Array[Any](fields.length)
        var i = 0
        while (i < fields.length) {
          vals(i) = fields(i) match {
            case "date" => java.time.LocalDate.parse(date).toEpochDay.toInt
            case "domain" => if (domain == null) null else UTF8String.fromString(domain)
            case "hll" => hll
            case "queries" => queries
            case other => throw new IllegalStateException(s"unknown column $other")
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
}

private[sources] class DnsMagTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"dnsmag ${paths.mkString(", ")}"
  override def schema(): StructType = DnsMagDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DnsMagScanBuilder(paths)
}

private[sources] class DnsMagScanBuilder(paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = DnsMagDataSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new DnsMagScan(paths, required)
}

private[sources] class DnsMagScan(paths: Seq[String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"dnsmag ${paths.mkString(", ")}"

  override def planInputPartitions(): Array[InputPartition] =
    DataFileListing.listDataFiles(paths,
        SparkSession.active.sessionState.newHadoopConf(), "dnsmag")
      .map(f => DnsMagInputPartition(f.getPath.toString): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    DnsMagReaderFactory(required.fieldNames, conf)
  }
}

private[sources] case class DnsMagInputPartition(path: String) extends InputPartition

private[sources] case class DnsMagReaderFactory(
    fields: Array[String], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DnsMagPartitionReader(
      partition.asInstanceOf[DnsMagInputPartition].path, fields, conf)
}

private[sources] class DnsMagPartitionReader(
    path: String, fields: Array[String], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  // read on the first next(), not here: the scan takes its input-bytes
  // baseline after it creates the reader, so a read in the constructor
  // would count 0 bytes for the task
  private lazy val iter: Iterator[InternalRow] =
    DnsMagDataSource.fileRows(DnsMagDataSource.fileBytes(new Path(path), conf.value), fields)

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
