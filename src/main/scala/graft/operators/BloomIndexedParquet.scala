package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** Spark's parquet format that also writes each data file's bloom
  * sidecars from inside the write task (Delta collects per-file
  * statistics the same way, in `DeltaJobStatisticsTracker`): every
  * row's `xxhash64` of each indexed column — the expression the
  * backfill's `BloomFilterAggregate` hashes, so a null hashes to the
  * seed — feeds a filter sized from THIS file's row count, written as
  * `<data file>.<j>.bloom` (j = the column's position in the option)
  * beside the data file in the task attempt directory. The commit
  * protocol that publishes or discards the data file therefore
  * publishes or discards its sidecars too. A zero-row file gets none.
  *
  * Sizing matches the backfill pass for a file alone in its size
  * class: `BloomFilter.create(min(rows, 4M), min(optimalNumOfBits,
  * 2^26))`. Hashes are buffered until the row count is known; a file
  * past the 4M-item cap switches to a cap-sized filter, the size the
  * backfill would pick too. Without indexed columns in its options
  * ([[BloomIndexedParquet.writeOptions]]) the writer is Spark's own. */
class BloomIndexedParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    val cols = options.get(BloomIndexedParquet.ColumnsOption).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
    if (cols.isEmpty) inner
    else new BloomIndexedParquet.Factory(inner, cols,
      options(BloomIndexedParquet.FppOption).toDouble)
  }
}

object BloomIndexedParquet {
  // the physical columns to index (each URL-encoded, comma-separated)
  // and the false-positive rate the filters are sized for
  private val ColumnsOption = "graft.bloom.write.columns"
  private val FppOption = "graft.bloom.write.fpp"

  /** The write options that index `physCols` at false-positive rate
    * `fpp` (no columns: a plain parquet write). */
  def writeOptions(physCols: Seq[String], fpp: Double): Map[String, String] =
    Map(ColumnsOption -> physCols.map(java.net.URLEncoder.encode(_, "UTF-8"))
      .mkString(","), FppOption -> fpp.toString)

  /** Most items a filter is sized for, and its largest size in bits —
    * the caps the backfill's `BloomFilterAggregate` applies. */
  val MaxItems: Long = 4000000L
  val MaxBits: Long = 1L << 26

  /** The sidecar written beside data file `file` for column `j`. */
  def sidecarName(file: String, j: Int): String = s"$file.$j.bloom"

  /** (expected items, bits) of the filter for a file of `rows` rows. */
  def sizing(rows: Long, fpp: Double): (Long, Long) = {
    val items = math.max(1L, math.min(rows, MaxItems))
    (items, math.min(BloomFilter.optimalNumOfBits(items, fpp), MaxBits))
  }

  private def sized(rows: Long, fpp: Double): BloomFilter = {
    val (items, bits) = sizing(rows, fpp)
    BloomFilter.create(items, bits)
  }

  private final class Factory(inner: OutputWriterFactory, cols: Seq[String],
                              fpp: Double) extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String =
      inner.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
                             ctx: TaskAttemptContext): OutputWriter =
      new Writer(inner.newInstance(path, dataSchema, ctx), dataSchema,
        cols, fpp, ctx)
  }

  private final class Writer(inner: OutputWriter, schema: StructType,
                             cols: Seq[String], fpp: Double,
                             ctx: TaskAttemptContext) extends OutputWriter {
    private val hash = UnsafeProjection.create(cols.map { c =>
      val i = schema.fieldIndex(c)
      new XxHash64(Seq(BoundReference(i, schema(i).dataType,
        schema(i).nullable))): Expression
    })
    private val n = cols.size
    // per column: hashes buffered while the row count is under the
    // cap; past it, the cap-sized filter itself
    private var buf = Array.fill(n)(new Array[Long](1024))
    private var rows = 0L
    private var capped: Array[BloomFilter] = null

    override def path(): String = inner.path()

    override def write(row: InternalRow): Unit = {
      inner.write(row)
      val h = hash(row)
      if (capped == null && rows == MaxItems) {
        capped = buf.map(b => fill(sized(MaxItems, fpp), b, rows))
        buf = null
      }
      var j = 0
      if (capped != null)
        while (j < n) { capped(j).putLong(h.getLong(j)); j += 1 }
      else {
        if (rows == buf(0).length) buf = buf.map(b =>
          java.util.Arrays.copyOf(b, math.min(MaxItems, 2L * b.length).toInt))
        while (j < n) { buf(j)(rows.toInt) = h.getLong(j); j += 1 }
      }
      rows += 1
    }

    private def fill(bf: BloomFilter, hashes: Array[Long],
                     count: Long): BloomFilter = {
      var i = 0
      while (i < count) { bf.putLong(hashes(i)); i += 1 }
      bf
    }

    override def close(): Unit = {
      inner.close()
      if (rows > 0) {
        val filters = Option(capped)
          .getOrElse(buf.map(b => fill(sized(rows, fpp), b, rows)))
        rows = 0
        filters.zipWithIndex.foreach { case (bf, j) =>
          val p = new Path(sidecarName(inner.path(), j))
          val out = p.getFileSystem(ctx.getConfiguration).create(p, false)
          try bf.writeTo(out) finally out.close()
        }
      }
    }
  }
}
