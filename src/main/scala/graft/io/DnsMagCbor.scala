package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import graft.core.cbor.DnsMagCodec
import graft.core.cbor.DnsMagCodec.{Dataset, DomainData}
import graft.core.sketch.Hll
import graft.sources.DnsMagDataSource

/**
 * Reference-compatible `.dnsmag` dataset file interop (CBOR sequence of
 * magnitude datasets — /root/reference/internal/store.go:63-86 write,
 * :109-172 incremental sequence read, schema/dataset.cddl). The HLL payload
 * bytes are the byte-exact AK storage spec already used by the engine, so a
 * file written by an existing dnsmag deployment loads directly into
 * sketch-state rows (and vice versa: state written here is consumable by
 * `dnsmag aggregate` / `dnsmag view`).
 *
 * Representation mapping: the CBOR dataset stores per-domain sketches PLUS
 * the global all-clients sketch (which also covers clients that only ever
 * queried the root "." or invalid names). The engine's sketch_state derives
 * global totals by merging all rows of a date, so the residual is carried
 * as the NULL-domain bucket row:
 *   hll     = all_clients_hll  (register-wise max is idempotent: merging it
 *             with every per-domain sketch reproduces all_clients EXACTLY)
 *   queries = all_queries_count - sum(domain queries)
 */
object DnsMagCbor {

  /** Read one or many .dnsmag files (a file, directory or glob) into
    * sketch-state rows, each file a CBOR sequence of datasets. The files
    * are listed here, so a missing path fails at this call, naming the
    * path. At most [[DriverMaxFiles]] files of at most [[DriverMaxBytes]]
    * in total (the common case: dataset files are top-N-truncated exchange
    * files) are decoded here, on the driver, into a local frame (`isLocal`),
    * which [[graft.pipelines.DnsMagnitude.aggregate]] and `report` then
    * merge and rank on the driver with no Spark job. Larger inputs read
    * lazily through [[readByScan]], which lists the files again when the
    * plan runs. Both paths build their rows with the same code,
    * [[graft.sources.DnsMagDataSource.fileRows]]. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = DnsMagDataSource.listFiles(spark, path)
    if (files.length <= DriverMaxFiles && files.map(_.getLen).sum <= DriverMaxBytes)
      DnsMagDataSource.readOnDriver(spark, files)
    else readByScan(spark, path)
  }

  /** Largest `.dnsmag` input [[read]] decodes on the driver. The driver
    * decodes, merges and ranks on one thread and holds the decoded rows,
    * where the scan spreads the files over tasks; the driver path wins while
    * the Spark job it saves costs more than that. Measured on 4 cores
    * (`local[4]`, local disk), read -> aggregate -> reportJson, driver vs
    * scan, median of 5: 4 files of 16 MiB in total 0.43 vs 0.93 s (every
    * run faster) and 25-28 MB live heap; 32 MiB 0.66 vs 1.06 s; 64 MiB
    * 1.51 vs 1.71 s (101 MB live), near the crossover; more executor cores
    * would speed the scan side (not measured). By file count, 16 MiB in total: 64 files took 0.24
    * vs 1.56 s and 512 files 0.29 vs 3.62 s; the scan pays a task per file.
    * On a store with a slow open per file (an object store GET, not
    * measured) the driver pays those opens one after another; the file cap
    * bounds them at 64. */
  private[graft] val DriverMaxFiles = 64
  private[graft] val DriverMaxBytes = 16L * 1024 * 1024

  /** [[read]] through the `dnsmag` DataSource V2 provider whatever the
    * input's size: one scan task per file, decoded when the plan runs. */
  private[graft] def readByScan(spark: SparkSession, path: String): DataFrame =
    spark.read.format("dnsmag").load(path)

  /** Dataset -> sketch-state tuples (date ISO string, domain or null, hll
    * bytes, queries): the mapping the `dnsmag` reader applies per dataset. */
  private[graft] def datasetToState(ds: Dataset): Seq[(String, String, Array[Byte], Long)] = {
    val domainRows = ds.domains.toSeq.sortBy(_._1).map { case (name, d) =>
      (ds.date, name, d.hll, d.queries)
    }
    val residualQueries = ds.allQueriesCount - ds.domains.valuesIterator.map(_.queries).sum
    require(residualQueries >= 0,
      s"dnsmag: corrupt dataset ${ds.id}: per-domain query counts exceed all_queries_count")
    domainRows :+ ((ds.date, null, ds.allClientsHll, residualQueries))
  }

  /** Write sketch-state rows as a reference-consumable .dnsmag file (one
    * dataset per date, CBOR sequence if several dates). Deliberately
    * driver-side: dataset files are the reference CLI's in-memory,
    * top-N-truncated exchange format — cap the state with
    * Magnitude/DnsMagnitude top-N before exporting huge states.
    *
    * A local state (a bare LocalRelation, as `DnsMagnitude.collect` and
    * `aggregate` return for small inputs) is read with no query; any other
    * state is selected and collected by a Spark query.
    *
    * `maxExportRows` enforces that contract: exporting an untruncated
    * crawl-scale state would OOM the driver with an opaque error, so the
    * collect is bounded (limit cap+1 — at most cap+1 rows ever reach the
    * driver; a local state's rows are there already) and over-cap states
    * fail fast with an actionable message, on both paths. At
    * the default 100k rows a worst-case all-dense state is ~1.6 GB of HLL
    * bytes — within a default driver heap. */
  def write(state: DataFrame, path: String,
            generator: String = "graft-spark 0.1.0",
            maxExportRows: Int = 100000): Unit = {
    val columns = Seq("date", "domain", "hll", "queries")
    val rows = shims.localSelect(state, columns).getOrElse(
      state.select(columns.map(col): _*).limit(maxExportRows + 1).collect())
    require(rows.length <= maxExportRows,
      s"dnsmag export: state has more than $maxExportRows rows — .dnsmag is " +
        "the reference CLI's in-memory top-N exchange format, not a bulk " +
        "store. Truncate first (aggregate --chunked --top N / " +
        "DnsMagnitude.truncateState) or raise maxExportRows.")
    val datasets = rows.groupBy(_.getAs[java.sql.Date]("date")).toSeq
      .sortBy(_._1.toString).map { case (date, rs) =>
        // each row's sketch is parsed once: its estimate for a domain row,
        // and its registers for the global sketch = merge of every row of
        // the date (incl. NULL bucket)
        val global = Hll()
        val domains = Map.newBuilder[String, DomainData]
        var allQueries = 0L
        rs.foreach { r =>
          val hllBytes = r.getAs[Array[Byte]]("hll")
          val h = Hll.fromBytes(hllBytes)
          val queries = r.getAs[Long]("queries")
          if (!r.isNullAt(1))
            domains += r.getAs[String]("domain") -> DomainData(hllBytes, h.estimate, queries)
          global.union(h)
          allQueries += queries
        }
        Dataset(
          version = DnsMagCodec.Version,
          id = java.util.UUID.nameUUIDFromBytes(
            (date.toString + generator).getBytes).toString,
          generator = generator,
          date = date.toString,
          allClientsHll = global.toBytes,
          allClientsCount = global.estimate,
          allQueriesCount = allQueries,
          domains = domains.result())
      }
    writeBytes(state.sparkSession, path, DnsMagCodec.encodeSeq(datasets))
  }

  /** Hadoop-FS write (works on local paths, HDFS and object stores alike). */
  private def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }
}
