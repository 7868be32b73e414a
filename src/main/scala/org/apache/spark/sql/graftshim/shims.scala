package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericRowWithSchema}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/**
 * Column <-> Expression bridge for Spark 4.x, where the converters in
 * `org.apache.spark.sql.classic.ExpressionUtils` are private[sql]. Placing
 * this one-file shim inside the org.apache.spark.sql package tree is the
 * standard idiom for Catalyst-extension libraries (the alternative —
 * round-tripping every expression through SQL text — loses type info and
 * costs a parse per call).
 */
object shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  /** A `lit` column converts now, to the Literal it becomes at analysis,
    * so a function builder can read its value; any other column stays the
    * converter's lazy wrapper. */
  def expression(c: Column): Expression = c.node match {
    case l: org.apache.spark.sql.internal.Literal =>
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(l)
    case _ => org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  }

  /** DataFrame over an InternalRow RDD with FRESH attribute ids — the
    * re-rooting primitive behind the engine's `pin` (self-join-safe
    * references to a materialized frame). The public alternative,
    * `createDataFrame(df.toJavaRDD, schema)`, round-trips every row
    * through the boxed RowEncoder on write AND per downstream reference —
    * measured ~50 CPU-seconds on a 1.5M-row pin; this is a zero-copy
    * re-wrap of the already-checkpointed rows. The relation carries the
    * exact row count and bytes of those rows as its statistics, so the
    * planner sizes joins against it from the start instead of assuming an
    * unknown (maximal) size. */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      rows: Long, bytes: Long): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
        s, Some(Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows))))))
  }

  /** DataFrame over rows held on the driver: a bare LocalRelation, so
    * `Dataset.isLocal` holds and collecting it runs no Spark job. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(s,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** The schema and rows of a frame that is a bare LocalRelation (what
    * [[localFrame]] and `createDataFrame` over local rows build); None for
    * any other plan. */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.queryExecution.analyzed match {
      case l: LocalRelation => Some((DataTypeUtils.fromAttributes(l.output), l.data))
      case _ => None
    }

  /** `df.select(columns).collect()` read with no query, for a frame that is
    * a bare LocalRelation and whose columns each resolve to one field
    * spelled as given: the rows' selected fields converted as `collect`
    * converts them (`CatalystTypeConverters`), in rows that carry their
    * schema. None for any other frame. */
  def localSelect(df: DataFrame, columns: Seq[String]): Option[Array[Row]] =
    localRows(df).flatMap { case (schema, rows) =>
      val picked = columns.map { c =>
        schema.fields.indices.filter(i => schema(i).name.equalsIgnoreCase(c)) match {
          case Seq(i) if schema(i).name == c => Some(i)
          case _ => None
        }
      }
      if (picked.exists(_.isEmpty)) None else {
        val at = picked.flatten.toArray
        val types = at.map(schema(_).dataType)
        val convert = types.map(CatalystTypeConverters.createToScalaConverter)
        val out = StructType(at.map(schema(_)))
        Some(rows.iterator.map { r =>
          new GenericRowWithSchema(Array.tabulate[Any](at.length) { k =>
            if (r.isNullAt(at(k))) null else convert(k)(r.get(at(k), types(k)))
          }, out): Row
        }.toArray)
      }
    }

  /** The bytes of the files `df`'s plan reads, when every leaf of the plan
    * is a batch file relation (its index lists the files, so the size is
    * known without a job); None when any leaf is something else (an RDD,
    * local rows, a V2 or streaming source). */
  def inputFileBytes(df: DataFrame): Option[Long] = {
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
        case _ => None
      }
      case _ => None
    }
    if (sizes.nonEmpty && sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  /** Eagerly checkpoint `rdd` (reliably into the context's checkpoint dir
    * when one is set, else locally) in exactly one job. */
  def checkpointNow[T](rdd: RDD[T], reliable: Boolean): RDD[T] = {
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    rdd.doCheckpoint()
    rdd
  }

  /** Run `body` with `label` as the call site of the jobs and stages it
    * starts (adaptive stage jobs inherit it through the captured local
    * properties), then restore the caller's call site. */
  def withCallSite[T](sc: SparkContext, label: String)(body: => T): T = {
    val key = org.apache.spark.util.CallSite.SHORT_FORM
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, label)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Delete `dir` (recursively) when the JVM exits, after the Spark
    * context has stopped — never while a session may still read it. */
  def deleteAtExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
