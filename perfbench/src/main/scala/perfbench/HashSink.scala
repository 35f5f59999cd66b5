package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-like sink that consumes every row and column of a result and
  * keeps only its row count and an order-sensitive hash.
  *
  * The hash is a polynomial fold `h = h * 31 + rowHash` over the rows in
  * result order, so it checks the final sort as well as the values. Each
  * partition folds its own rows; the Spark driver joins the partitions in
  * partition order, which for a sorted result is the result order:
  * `H = H * 31^n + h` for a partition of `n` rows. A result read back from
  * one file therefore hashes the same as the partitioned original.
  *
  * Usage: `df.write.format(classOf[HashSink].getName).mode("append")
  *   .option("id", key).save()`, then `HashSink.take(key)`. */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new HashSink.HashTable(schema)
}

object HashSink {
  final case class Digest(rows: Long, hash: Long)

  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest committed under `id`, removed from the sink. */
  def take(id: String): Option[Digest] = Option(results.remove(id))

  /** `31^n` modulo 2^64. */
  def pow31(n: Long): Long = {
    var result = 1L; var base = 31L; var e = n
    while (e > 0) {
      if ((e & 1L) == 1L) result *= base
      base *= base; e >>= 1
    }
    result
  }

  /** Hash of the concatenation of two folded row sequences. */
  def concat(a: Digest, b: Digest): Digest =
    Digest(a.rows + b.rows, a.hash * pow31(b.rows) + b.hash)

  private final case class Part(partition: Int, digest: Digest) extends WriterCommitMessage

  private class HashTable(tableSchema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench_hash"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new HashBatch(info.options.get("id"), info.schema)
      }
    }
  }

  private class HashBatch(id: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }.sortBy(_.partition)
      results.put(id, parts.map(_.digest).foldLeft(Digest(0L, 0L))(concat))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class HashWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toUnsafe = UnsafeProjection.create(schema)
        private var rows = 0L
        private var hash = 0L
        override def write(row: InternalRow): Unit = {
          hash = hash * 31 + toUnsafe(row).hashCode()
          rows += 1
        }
        override def commit(): WriterCommitMessage = Part(partitionId, Digest(rows, hash))
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
