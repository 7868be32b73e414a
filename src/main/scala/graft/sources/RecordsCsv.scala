package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.unsafe.types.UTF8String.LongWrapper
import graft.functions.TextKernels

/**
 * CSV/TSV record source with the reference's semantics
 * (/root/reference/internal/csv.go:15-124):
 *
 *  - `#` comments, lenient quotes, comma or tab delimiter
 *  - 2 or 3 fields: client_ip, domain[, query_count]
 *  - gzip transparently (Spark decodes `.gz` by extension — the reference
 *    sniffs magic bytes, same effect for file inputs)
 *  - count semantics: missing/empty -> 1; 0 -> row dropped; negative,
 *    non-numeric or beyond a long -> invalid row (the reference hard-errors
 *    the whole file; in a distributed engine we surface them via the
 *    `invalid` flag so the caller can fail or count them — matching the
 *    collector's invalidRecordCount path)
 *  - header-row heuristic: a FIRST line whose IP or count doesn't parse is
 *    silently dropped (/root/reference/internal/csv.go:98-110). Spark has
 *    no "first line" in a distributed file; see [[parse]] for the proxy.
 *  - domain escapes decoded (`\DDD`, `\xHH`), then normalized.
 *
 * Output columns: client_ip (trimmed), domain_raw (unescaped), cnt,
 * invalid (true where the row must not contribute), plus the derived
 * `hash` and `domain` columns the magnitude pipeline needs; all nullable.
 *
 * Plan shape: the CSV scan feeds ONE kernel call per record, [[parse]],
 * which computes every value once and emits zero or one rows through
 * `inline`. Filters above it (say `DnsMagnitude.collect`'s) cannot be
 * pushed below the Generate, so no filter re-runs a kernel; written as
 * Column expressions, the filters pushed into the scan's `Filter` (which
 * has no subexpression elimination) ran `truncate_ip(trim(client_ip))`
 * four times per row.
 */
object RecordsCsv {

  val schema: StructType = StructType(Seq(
    StructField("client_ip", StringType),
    StructField("domain_field", StringType),
    StructField("count_field", StringType)))

  /** The fields of a parsed record, as [[read]] returns them. */
  private val Record: StructType = StructType(Seq(
    StructField("client_ip", StringType),
    StructField("domain_raw", StringType),
    StructField("cnt", LongType),
    StructField("invalid", BooleanType),
    StructField("hash", LongType),
    StructField("domain", StringType)))

  def read(spark: SparkSession, path: String, tsv: Boolean = false): DataFrame = {
    val raw = spark.read
      .schema(schema)
      .option("comment", "#")
      .option("sep", if (tsv) "\t" else ",")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    val kernel = StaticInvoke(RecordsCsv.getClass, ArrayType(Record, containsNull = false),
      "parse", schema.fieldNames.toSeq.map(f => shims.expression(col(f))),
      Seq(StringType, StringType, StringType), propagateNull = false)
    raw.select(inline(shims.column(kernel)))
  }

  /** `^-?[0-9]+$` as `rlike` finds it: `$` also matches before a final
    * line terminator. */
  private val CountPattern = java.util.regex.Pattern.compile("^-?[0-9]+$")

  /** The count a trimmed count field holds, as the reference reads it:
    * an optional minus and digits (`$` may precede a final line
    * terminator), parsed as Spark's non-ANSI cast does; null when the
    * field is anything else or the number does not fit a long. */
  private def countOf(s: UTF8String): java.lang.Long = {
    val n = s.numBytes
    var i = if (n > 0 && s.getByte(0) == '-') 1 else 0
    val digitsFrom = i
    while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
    val digits = i == n && i > digitsFrom ||
      i < n && CountPattern.matcher(s.toString).find()
    val parsed = new LongWrapper
    if (digits && s.toLong(parsed)) parsed.value else null
  }

  private def hasDigit(s: UTF8String): Boolean = {
    var i = 0
    while (i < s.numBytes) { val b = s.getByte(i); if (b >= '0' && b <= '9') return true; i += 1 }
    false
  }

  /** One CSV record, `(client_ip, domain_field, count_field)` as scanned,
    * to zero rows (a header-shaped or zero-count row) or one row of the
    * parsed [[Record]]. Each field is trimmed of spaces, each value is
    * computed once:
    *  - `cnt`: 1 when the count field is missing or empty, else its
    *    number, null when it holds none;
    *  - `invalid`: no IP, an IP that does not truncate, or a null or
    *    negative count;
    *  - header proxy: the reference drops only a FILE'S FIRST line when it
    *    looks like a header. A distributed CSV scan has no row position,
    *    so the proxy is deliberately narrow: an invalid row is dropped when
    *    its IP field holds no digit at all (header names like
    *    "ip"/"client_ip" qualify; corrupt real addresses virtually always
    *    contain digits and stay visible via `invalid`) and its count does
    *    not parse. Documented divergence: an all-alphabetic garbage IP row
    *    mid-file is dropped like a header. A row with no IP field at all is
    *    dropped unless its count parses (the SQL three-valued logic of the
    *    Column expressions this kernel replaced);
    *  - `domain_raw` unescaped, `hash` = XXH3 of the truncated IP,
    *    `domain` normalized to one label. */
  def parse(ip: UTF8String, domainField: UTF8String, countField: UTF8String): ArrayData = {
    val ipT = if (ip == null) null else ip.trim()
    val cntStr = if (countField == null) null else countField.trim()
    val parsed = if (cntStr == null) null else countOf(cntStr)
    val cnt: java.lang.Long =
      if (countField == null || cntStr.numBytes == 0) java.lang.Long.valueOf(1L) else parsed
    val truncated = if (ipT == null) null else TextKernels.truncateIp(ipT)
    val invalid = ip == null || truncated == null || cnt == null || cnt < 0
    val header = invalid && truncated == null && (cntStr == null || parsed == null) &&
      (ipT == null || !hasDigit(ipT))
    if (header || (cnt != null && cnt == 0)) return Empty
    val domainRaw = if (domainField == null) null else TextKernels.unescapeDomain(domainField.trim())
    val row = new GenericInternalRow(Array[Any](ipT, domainRaw, cnt, invalid,
      if (truncated == null) null else graft.core.hash.XXH3.hash(truncated),
      if (domainRaw == null) null else TextKernels.normalizeDomain(domainRaw, 1)))
    new GenericArrayData(Array[Any](row))
  }

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])
}
