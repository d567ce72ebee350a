package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row counter: every row of the plan is
  * produced and handed to a writer that only increments a local long.
  * The total is summed on the driver at commit, before `save()`
  * returns, under the write option `op`, so every timed operation's
  * row count can be checked against its verified pass.
  *
  * Usage: `df.write.format(CountingSink.Format).mode("overwrite")
  * .option("op", id).save()`, then `CountingSink.rows(id)`.
  */
class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = CountingTable
}

object CountingSink {
  val Format: String = classOf[CountingSink].getName
  private val counts = new ConcurrentHashMap[String, java.lang.Long]()
  def rows(op: String): Long = Option(counts.remove(op)).map(_.longValue).getOrElse(-1L)
  private[perfbench] def put(op: String, n: Long): Unit = counts.put(op, n)
}

private object CountingTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-counting-noop"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CountingWriteBuilder(info.options().getOrDefault("op", ""))
}

private class CountingWriteBuilder(op: String) extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        CountingWriterFactory
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        CountingSink.put(op, messages.collect { case Counted(n) => n }.sum)
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

private case class Counted(n: Long) extends WriterCommitMessage

private object CountingWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(record: InternalRow): Unit = n += 1
      override def commit(): WriterCommitMessage = Counted(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
