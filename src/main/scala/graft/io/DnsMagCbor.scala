package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.cbor.DnsMagCodec
import graft.core.cbor.DnsMagCodec.{Dataset, DomainData}
import graft.core.sketch.Hll

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
    * sketch-state rows through the `dnsmag` DataSource V2 provider
    * ([[graft.sources.DnsMagDataSource]]): one task per file, each file a
    * CBOR sequence of datasets. Lazy: files are listed when the plan runs,
    * so a missing path fails at the first action, naming the path. */
  def read(spark: SparkSession, path: String): DataFrame =
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
    * `maxExportRows` enforces that contract: exporting an untruncated
    * crawl-scale state would OOM the driver with an opaque error, so the
    * collect is bounded (limit cap+1 — at most cap+1 rows ever reach the
    * driver) and over-cap states fail fast with an actionable message. At
    * the default 100k rows a worst-case all-dense state is ~1.6 GB of HLL
    * bytes — within a default driver heap. */
  def write(state: DataFrame, path: String,
            generator: String = "graft-spark 0.1.0",
            maxExportRows: Int = 100000): Unit = {
    val rows = state.select(col("date"), col("domain"), col("hll"), col("queries"))
      .limit(maxExportRows + 1)
      .collect()
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
