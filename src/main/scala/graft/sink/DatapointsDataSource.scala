package graft.sink

import java.util

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tebis.DatapointValue

/** DataSourceV2 batched datapoints sink: exposes the reference's
  * insert-protocol semantics (<= `batchMax` series per request,
  * csv_extractor.py:22,138) through the standard writer API —
  * `df.write.format("graft-datapoints").option("clientClass", ...)`.
  *
  * Schema: (externalId STRING, timestampMs LONG, value DOUBLE). Each task
  * buffers its partition's points per series and posts on commit, so
  * repartition the frame by externalId (and sort within partitions) first
  * to keep any series in one request; at-least-once delivery —
  * the client must upsert on (externalId, timestamp) like the reference's
  * endpoint (SURVEY §3 E2).
  *
  * `clientClass` names a no-arg-constructible [[DatapointsClient]]
  * (instantiated per task — connections are never serialized). */
class DatapointsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-datapoints"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DatapointsDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DatapointsTable
}

object DatapointsDataSource {
  val Schema: StructType =
    StructType.fromDDL("externalId STRING, timestampMs BIGINT, value DOUBLE")
}

private class DatapointsTable extends Table with SupportsWrite {
  override def name(): String = "graft-datapoints"
  override def schema(): StructType = DatapointsDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val clientClass = info.options.get("clientClass")
    require(clientClass != null, "graft-datapoints requires option clientClass")
    val batchMax = Option(info.options.get("batchMax")).map(_.toInt)
      .getOrElse(BatchedSink.BatchMax)
    val apiKey = Option(info.options.get("apiKey"))
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DatapointsBatchWrite(clientClass, batchMax, apiKey, schema)
      }
    }
  }
}

private class DatapointsBatchWrite(
    clientClass: String, batchMax: Int, apiKey: Option[String], schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DatapointsWriterFactory(clientClass, batchMax, apiKey,
      schema.fieldIndex("externalId"), schema.fieldIndex("timestampMs"), schema.fieldIndex("value"))
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DatapointsWriterFactory(
    clientClass: String, batchMax: Int, apiKey: Option[String],
    idIdx: Int, tsIdx: Int, valIdx: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val client = Class.forName(clientClass).getDeclaredConstructor().newInstance()
      .asInstanceOf[DatapointsClient]
    // credentials injected post-construction (ApiKeyAuthed) so the
    // reflective path stays no-arg and the key rides the options map only
    (client, apiKey) match {
      case (a: ApiKeyAuthed, Some(k)) => a.setApiKey(k)
      case _ => ()
    }
    new DatapointsWriter(client, batchMax, idIdx, tsIdx, valIdx)
  }
}

/** Memory is bounded by `batchMax` series: once the buffer holds batchMax
  * distinct series and a row for a NEW series arrives, the buffered
  * series are posted and dropped. With input repartitioned+sorted by
  * externalId every flushed series is
  * complete, so series stay whole per request; unsorted input may split a
  * series across requests — harmless under the endpoint's
  * (externalId, timestamp) upsert. Flushing during write() also means a
  * retried/speculated task re-posts only its own attempt's batches —
  * at-least-once, same as the reference's delete-after-post protocol. */
private class DatapointsWriter(
    client: DatapointsClient, batchMax: Int, idIdx: Int, tsIdx: Int, valIdx: Int)
    extends DataWriter[InternalRow] {
  private val buffer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[DatapointValue]]

  private def flush(): Unit = {
    buffer.iterator
      .map { case (id, points) => SeriesPayload(id, points.toSeq) }
      .grouped(batchMax)
      .foreach(g => client.insertMultiple(g.toSeq))
    buffer.clear()
  }

  override def write(row: InternalRow): Unit = {
    val id = row.getUTF8String(idIdx).toString
    if (buffer.size >= batchMax && !buffer.contains(id)) flush()
    buffer.getOrElseUpdate(id, mutable.ArrayBuffer.empty) +=
      DatapointValue(row.getLong(tsIdx), row.getDouble(valIdx))
  }

  override def commit(): WriterCommitMessage = {
    flush()
    new WriterCommitMessage {}
  }

  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}
