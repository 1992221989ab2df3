package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tebis.{Discovery, TebisCsv}
import graft.util.HadoopConf

/** DataSourceV2 batch READ source for TEBIS wide-CSV: the long-form
  * datapoints of a file tree through the standard reader API —
  * `spark.read.format("tebis").load(dir)` — so the source composes with
  * everything downstream (SQL, joins, the datapoints sink) without
  * touching the library's Scala API.
  *
  * Schema: (path STRING, externalId STRING, name STRING,
  * timestampMs BIGINT, value DOUBLE). Files are listed by
  * [[graft.tebis.Discovery.csvFiles]] and read by
  * [[graft.tebis.TebisCsv.read]] (reference csv_extractor.py:92-160), as
  * the extractor does: files that dead-letter contribute zero rows here —
  * lifecycle/dead-letter routing stays with the pipeline.
  *
  * Spark-native behaviors, visible in `.explain`:
  *  - one [[InputPartition]] per file — a 100 TB corpus of micro-batch
  *    CSVs parallelizes across the cluster; the driver only lists paths;
  *  - column pruning ([[SupportsPushDownRequiredColumns]]): the scan
  *    builds only the projected fields;
  *  - filter pushdown ([[SupportsPushDownFilters]]): `externalId = v` /
  *    `externalId IN (...)` prune whole series AT THE SCAN — only the
  *    requested series' rows are ever emitted, so nothing upstream
  *    materializes or shuffles the other columns. (The predicate is
  *    absorbed exactly, so it is not re-evaluated above the scan. The
  *    file itself is still parsed in full: whole-file dead-letter
  *    detection — a bad timestamp under ANY surviving value cell — is a
  *    cross-column property, so skipping the float parse of unrequested
  *    columns would change which files count as failed.)
  */
class TebisDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tebis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TebisDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TebisTable(TebisDataSource.paths(properties), HadoopConf.active())
}

object TebisDataSource {
  val Schema: StructType = StructType.fromDDL(
    "path STRING, externalId STRING, name STRING, timestampMs BIGINT, value DOUBLE")

  /** `load(paths*)` hands the roots over as the JSON string array Spark
    * writes into the `paths` option; `load(path)` as the plain `path`. */
  private def paths(properties: util.Map[String, String]): Seq[String] = {
    val opts = properties.asScala
    val raw = opts.get("paths")
      .map(p => new ObjectMapper().readValue(p, classOf[Array[String]]).toSeq)
      .orElse(opts.get("path").map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException("tebis source requires a load(path)"))
    raw.filter(_.nonEmpty)
  }

  /** (kept, total) from the most recent runtime-filtered partition
    * planning — observability for specs and operators. */
  val lastPlanned = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Driver-side listing: a directory root contributes its
    * [[Discovery.csvFiles]], a file root itself. Cost is one FS listing
    * per root — no content is read on the driver. */
  private[sources] def listFiles(roots: Seq[String], conf: Configuration): Seq[String] =
    roots.flatMap { r =>
      val p = new Path(r)
      val st = p.getFileSystem(conf).getFileStatus(p)
      if (st.isDirectory) Discovery.csvFiles(r, conf).map(_.getPath.toString)
      else Seq(st.getPath.toString)
    }.sorted
}

private class TebisTable(roots: Seq[String], conf: HadoopConf)
    extends Table with SupportsRead {
  override def name(): String = s"tebis(${roots.mkString(",")})"
  override def schema(): StructType = TebisDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TebisScanBuilder(roots, conf)
}

/** One pushed aggregate function over the long-form schema. Partial
  * semantics: the reader emits PER-FILE partials (count as LONG, min/max
  * as the column type); Spark's final aggregate merges them (sum of
  * counts, min of mins, max of maxes) — `supportCompletePushDown` stays
  * false, so correctness never depends on the file split. */
private sealed trait TebisAggFunc { def name: String }
private case object FCountStar extends TebisAggFunc { val name = "count(*)" }
private case class FCount(col: String) extends TebisAggFunc { def name = s"count($col)" }
private case class FMin(col: String) extends TebisAggFunc { def name = s"min($col)" }
private case class FMax(col: String) extends TebisAggFunc { def name = s"max($col)" }

private case class TebisPushedAgg(groupByExternalId: Boolean, funcs: Seq[TebisAggFunc]) {
  def describe: String = {
    val g = if (groupByExternalId) " group by externalId" else ""
    s"PushedAggregates: [${funcs.map(_.name).mkString(", ")}]$g"
  }
}

private class TebisScanBuilder(roots: Seq[String], conf: HadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = TebisDataSource.Schema
  private var keepIds: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[TebisPushedAgg] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Absorb externalId equality/IN (intersecting repeated conjuncts);
    * everything else stays post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("externalId", _: String) => true
      case In("externalId", vs) => vs.forall(_.isInstanceOf[String])
      // externalId is never null by construction (header cells parse to
      // strings), so the implied not-null guard is absorbed too — a
      // residual post-scan Filter would otherwise block aggregate
      // pushdown above this scan
      case IsNotNull("externalId") => true
      case _ => false
    }
    ours.foreach {
      case EqualTo(_, v: String) => intersect(Set(v))
      case In(_, vs) => intersect(vs.map(_.asInstanceOf[String]).toSet)
      case _ => ()
    }
    pushed = ours
    rest
  }
  private def intersect(s: Set[String]): Unit =
    keepIds = Some(keepIds.fold(s)(_ intersect s))

  override def pushedFilters(): Array[Filter] = pushed

  /** Aggregate pushdown (partial): COUNT(*) / COUNT(col) / MIN / MAX,
    * optionally grouped by externalId. The win is volume: the scan emits
    * group-cardinality partial rows per FILE instead of datapoint-volume
    * long rows, so the exchange above a 100 TB file tree carries series
    * counts, not points. Spark only attempts this when every filter was
    * absorbed (our externalId pushdown), and the final merge stays in
    * Spark (`supportCompletePushDown = false`), so a file split can
    * never change an answer. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames().length == 1 => Some(f.fieldNames()(0))
        case _ => None
      }
    val gb = aggregation.groupByExpressions()
    val groupOk = gb.isEmpty ||
      (gb.length == 1 && colOf(gb(0)).contains("externalId"))
    if (!groupOk) return false
    val numeric = Set("timestampMs", "value")
    val all = TebisDataSource.Schema.fieldNames.toSet
    val fs: Seq[Option[TebisAggFunc]] = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(FCountStar)
      case c: Count if !c.isDistinct => colOf(c.column).filter(all).map(FCount.apply)
      case m: Min => colOf(m.column).filter(numeric).map(FMin.apply)
      case m: Max => colOf(m.column).filter(numeric).map(FMax.apply)
      case _ => None
    }
    if (fs.isEmpty || fs.exists(_.isEmpty)) false
    else { agg = Some(TebisPushedAgg(gb.nonEmpty, fs.flatten)); true }
  }

  override def build(): Scan = agg match {
    case Some(a) => new TebisAggScan(roots, keepIds, a, conf)
    case None => new TebisScan(roots, required, keepIds, conf)
  }
}

private[graft] class TebisScan(roots: Seq[String], required: StructType,
    keepIds: Option[Set[String]],
    conf: HadoopConf = HadoopConf.active())
    extends Scan with Batch with SupportsRuntimeFiltering {
  /** Runtime (join-delivered) externalIds, intersected into [[eff]].
    * Populated by Spark's dynamic pruning calling [[filter]] after the
    * broadcast build side materializes — the DSv2 analog of dynamic
    * partition pruning, here pruning whole FILES. */
  @volatile private var runtimeIds: Option[Set[String]] = None

  private def eff: Option[Set[String]] = (keepIds, runtimeIds) match {
    case (Some(a), Some(b)) => Some(a intersect b)
    case (a, b) => a.orElse(b)
  }

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("externalId"))

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case EqualTo("externalId", v: String) => Set(v)
      case In("externalId", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    if (sets.nonEmpty) runtimeIds = Some(sets.reduce(_ intersect _))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val f = keepIds.fold("")(s => s", pushedExternalIds=[${s.toSeq.sorted.mkString(",")}]")
    s"tebis ReadSchema: ${required.catalogString}$f"
  }

  /** With any id set (static pushdown or runtime filter), files whose
    * HEADER (first physical line, read driver-side — bytes until the
    * first newline, never the body) names none of the wanted ids are
    * skipped entirely: at 100 TB of sensor files a catalog join on a
    * handful of ids opens only the matching files. A file whose header
    * fails to parse is conservatively KEPT — the full parser decides. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = TebisDataSource.listFiles(roots, conf.value)
    val kept = eff match {
      case None => files
      case Some(ids) => files.filter { f =>
        val hdr = TebisCsv.headerIds(f, conf.value)
        hdr.isEmpty || hdr.exists(ids.contains)
      }
    }
    TebisDataSource.lastPlanned.set((kept.size, files.size))
    kept.map(TebisInputPartition.apply).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TebisReaderFactory(required.fieldNames, eff, conf)
}

private case class TebisInputPartition(path: String) extends InputPartition

/** Scan for a pushed (partial) aggregation: schema = group columns then
  * one column per aggregate, matching V2ScanRelationPushDown's
  * positional contract. */
private class TebisAggScan(roots: Seq[String], keepIds: Option[Set[String]],
    agg: TebisPushedAgg, conf: HadoopConf) extends Scan with Batch {
  override def readSchema(): StructType = {
    import org.apache.spark.sql.types._
    val group = if (agg.groupByExternalId)
      Seq(StructField("externalId", StringType)) else Seq.empty
    val aggs = agg.funcs.map {
      case FCountStar => StructField("count(*)", LongType)
      case FCount(c) => StructField(s"count($c)", LongType)
      case FMin("value") => StructField("min(value)", DoubleType)
      case FMin(c) => StructField(s"min($c)", LongType)
      case FMax("value") => StructField("max(value)", DoubleType)
      case FMax(c) => StructField(s"max($c)", LongType)
    }
    StructType(group ++ aggs)
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val f = keepIds.fold("")(s => s", pushedExternalIds=[${s.toSeq.sorted.mkString(",")}]")
    s"tebis ${agg.describe}$f"
  }
  override def planInputPartitions(): Array[InputPartition] =
    TebisDataSource.listFiles(roots, conf.value).map(TebisInputPartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TebisAggReaderFactory(keepIds, agg, conf)
}

private class TebisAggReaderFactory(keepIds: Option[Set[String]], agg: TebisPushedAgg,
    conf: HadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TebisAggPartitionReader(
      partition.asInstanceOf[TebisInputPartition].path, keepIds, agg, conf.value)
}

/** Per-task aggregating reader: parse ONE file, fold its surviving
  * datapoints into per-group (or global) partial aggregates, emit
  * group-cardinality rows. */
private class TebisAggPartitionReader(
    path: String, keepIds: Option[Set[String]], agg: TebisPushedAgg, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private final class Acc {
    var n = 0L
    var minTs = Long.MaxValue; var maxTs = Long.MinValue
    var minV = Double.NaN; var maxV = Double.NaN
  }

  private val rows: Iterator[InternalRow] = {
    val file = TebisCsv.read(path, conf)
    val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    if (file.error.isEmpty) {
      file.columns.iterator
        .filter(c => keepIds.forall(_.contains(c.externalId)))
        .foreach { c =>
          val key = if (agg.groupByExternalId) c.externalId else ""
          val a = accs.getOrElseUpdate(key, new Acc)
          c.datapoints.foreach { d =>
            a.n += 1
            if (d.timestampMs < a.minTs) a.minTs = d.timestampMs
            if (d.timestampMs > a.maxTs) a.maxTs = d.timestampMs
            if (a.minV.isNaN || d.value < a.minV) a.minV = d.value
            if (a.maxV.isNaN || d.value > a.maxV) a.maxV = d.value
          }
        }
    }
    val nGroup = if (agg.groupByExternalId) 1 else 0
    accs.iterator.filter(_._2.n > 0).map { case (key, a) =>
      val row = new GenericInternalRow(nGroup + agg.funcs.length)
      if (agg.groupByExternalId) row.update(0, UTF8String.fromString(key))
      agg.funcs.zipWithIndex.foreach { case (f, i) =>
        row.update(nGroup + i, f match {
          case FCountStar | FCount(_) => a.n
          case FMin("timestampMs") => a.minTs
          case FMax("timestampMs") => a.maxTs
          case FMin("value") => a.minV
          case FMax("value") => a.maxV
          case FMin(_) | FMax(_) => a.n // unreachable: builder filters to numeric
        })
      }
      row: InternalRow
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private class TebisReaderFactory(fields: Array[String], keepIds: Option[Set[String]],
    conf: HadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TebisPartitionReader(partition.asInstanceOf[TebisInputPartition].path, fields, keepIds,
      conf.value)
}

/** Per-task reader: materialize + parse ONE file (TEBIS files are
  * micro-batch-sized — same per-process bound as the reference), then
  * stream its surviving datapoints as rows of the projected schema. */
private class TebisPartitionReader(
    path: String, fields: Array[String], keepIds: Option[Set[String]], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val file = TebisCsv.read(path, conf)
    val pathU = UTF8String.fromString(file.path)
    val cols =
      if (file.error.isDefined) Iterator.empty
      else file.columns.iterator.filter(c => keepIds.forall(_.contains(c.externalId)))
    cols.flatMap { c =>
      val idU = UTF8String.fromString(c.externalId)
      val nameU = UTF8String.fromString(c.name)
      c.datapoints.iterator.map { d =>
        val row = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          row.update(i, fields(i) match {
            case "path" => pathU
            case "externalId" => idU
            case "name" => nameU
            case "timestampMs" => d.timestampMs
            case "value" => d.value
          })
          i += 1
        }
        row: InternalRow
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
