package graftbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `noop` sink plus one per-task row counter, published as the SQL
  * metric `graftbench_rows` on the write node. The plan below the write
  * is exactly the one `format("noop")` runs; [[RowCounter]] reads the
  * metric from a QueryExecutionListener. */
class CountSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountTable
}

object CountSink {
  val Format: String = classOf[CountSink].getName
  val Metric = "graftbench_rows"
}

object CountTable extends Table with SupportsWrite {
  override def name(): String = "graftbench_count"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              info: PhysicalWriteInfo): DataWriterFactory = new CountWriterFactory
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
        override def supportedCustomMetrics(): Array[CustomMetric] =
          Array(new RowsMetric)
      }
    }
}

class RowsMetric extends CustomSumMetric {
  override def name(): String = CountSink.Metric
  override def description(): String = "rows written"
}

class CountWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      override def write(record: InternalRow): Unit = rows += 1
      override def commit(): WriterCommitMessage = new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(new CustomTaskMetric {
          override def name(): String = CountSink.Metric
          override def value(): Long = rows
        })
    }
}
