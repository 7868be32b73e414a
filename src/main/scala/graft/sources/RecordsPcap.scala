package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.hash.XXH3
import graft.core.net.{DomainUtil, IpUtil, PcapDns}

/**
 * PCAP record source — the reference CLI's primary input
 * (/root/reference/internal/pcap.go): one record per DNS question, source
 * IP from the IP layer, count 1. Produces the same columns as
 * [[RecordsCsv.read]] (client_ip, domain_raw, cnt, invalid, hash, domain)
 * plus `ts` (the packet timestamp — the reference derives the dataset date
 * from the first packet when none is given).
 *
 * Scale shape: pcap is not splittable (records aren't self-synchronizing),
 * so parallelism is per FILE — `binaryFile` hands each capture file to one
 * task, which is exactly how multi-file capture archives are laid out. The
 * decode loop streams one file's bytes; gzip is sniffed by magic. The same
 * loop derives each record's columns, each value once: filters above it
 * (say `DnsMagnitude.collect`'s) cannot be pushed into the decode, so no
 * filter re-runs the IP truncation.
 */
object RecordsPcap {

  /** One decoded record with its derived columns. */
  final case class Parsed(tsMicros: Long, client_ip: String, domain_raw: String, cnt: Long,
                          invalid: Boolean, hash: java.lang.Long, domain: String)

  // no unescaping: backslash escapes are a CSV-encoding artifact
  // (csv.go:85,126-129); pcap names are the raw label bytes already
  private def parsed(r: PcapDns.Record): Parsed = {
    val truncated = IpUtil.truncate(r.srcIp)
    Parsed(r.tsMicros, r.srcIp, r.qname, 1L, invalid = truncated == null,
      if (truncated == null) null else XXH3.hash(truncated), DomainUtil.normalize(r.qname, 1))
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(bytes => PcapDns.decode(bytes).map(parsed))
      .select((col("tsMicros").cast("double") / 1e6).cast("timestamp").as("ts"),
        col("client_ip"), col("domain_raw"), col("cnt"), col("invalid"), col("hash"),
        col("domain"))
  }
}
