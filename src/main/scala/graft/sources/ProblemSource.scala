package graft.sources

import java.util.Base64

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch,
  InputPartition,
  PartitionReader,
  PartitionReaderFactory,
  Scan,
  ScanBuilder,
  Statistics,
  SupportsPushDownFilters,
  SupportsPushDownRequiredColumns,
  SupportsReportStatistics
}
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit,
  MicroBatchStream,
  Offset,
  ReadAllAvailable,
  ReadLimit,
  ReadMaxRows,
  SupportsAdmissionControl,
  SupportsTriggerAvailableNow
}
import org.apache.spark.sql.sources.{
  EqualTo,
  Filter,
  GreaterThan,
  GreaterThanOrEqual,
  LessThan,
  LessThanOrEqual
}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 producer twin of kinesis_stream/main.go: a bounded,
  * deterministic stream of Kinesis-style base64(JSON {Num1,Num2})
  * envelopes, generated executor-side across `numPartitions` splits.
  *
  * Batch usage:
  * {{{
  * spark.read.format("graft.sources.ProblemSource")
  *   .option("numRows", 10000).option("numPartitions", 32).load()
  * }}}
  *
  * Streaming usage (the reference's actual consumption model — a
  * Lambda polling a Kinesis shard iterator, lcount.go:110-127):
  * {{{
  * spark.readStream.format("graft.sources.ProblemSource")
  *   .option("numRows", 10000).option("rowsPerBatch", 2500).load()
  * }}}
  * Offsets are sequence numbers (exactly Kinesis semantics): each
  * micro-batch covers `[start, min(start+rowsPerBatch, numRows))`,
  * planned as `numPartitions` executor-side ranges; `commit` marks the
  * consumed prefix. The stream is deterministic, so a batch query over
  * anything derived from it shares the generate_series oracle.
  *
  * Demonstrates the full read-connector surface: schema inference,
  * capability declaration, planned input partitions (rows are generated
  * where they are consumed — nothing flows through the driver), column
  * pruning (`SupportsPushDownRequiredColumns`: `select(seq)` never
  * builds an envelope string), `seq`-range filter pushdown
  * (`SupportsPushDownFilters`: a `seq >= N` predicate shrinks the
  * planned ranges — the DSv2 analog of partition pruning), statistics
  * (`SupportsReportStatistics`: row count and size of the narrowed
  * range, which bound every micro-batch too), and micro-batch
  * streaming.
  */
class ProblemSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ProblemSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]
  ): Table = new ProblemTable()
}

object ProblemSource {
  val Schema: StructType = StructType(
    Seq(
      StructField("seq", LongType, nullable = false),
      StructField("partition_key", StringType, nullable = false),
      StructField("data", StringType, nullable = false)
    )
  )

  /** The deterministic problem for a sequence number (rand 0..99 in
    * the reference, kinesis_stream/main.go:24-27).
    */
  def num1(seq: Long): Long = seq % 100
  def num2(seq: Long): Long = (seq * 7 + 3) % 100

  def envelope(seq: Long): String =
    Base64.getEncoder.encodeToString(
      s"""{"Num1":${num1(seq)},"Num2":${num2(seq)}}""".getBytes("UTF-8")
    )

  /** The widest envelope: both operands of seq 99 have two digits. */
  private[sources] val MaxEnvelopeChars: Int = envelope(99).length
}

private class ProblemTable extends Table with SupportsRead {
  override def name(): String          = "graft_problems"
  override def schema(): StructType    = ProblemSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ProblemScanBuilder(
      options.getLong("numRows", 1000L),
      options.getInt("numPartitions", 4),
      options.getLong("rowsPerBatch", 1000L)
    )
}

private class ProblemScanBuilder(numRows: Long, numPartitions: Int, rowsPerBatch: Long)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType    = ProblemSource.Schema
  private var lo: Long                = 0L
  private var hi: Long                = numRows
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** `seq` is the generation coordinate, so a range predicate on it
    * narrows [lo, hi) exactly — the accepted filters never need
    * re-evaluation after the scan (we report them as fully pushed).
    * Everything else stays with Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // the translated literal arrives as whatever box Catalyst used —
    // accept any integral Number
    val (ours, rest) = filters.partition {
      case EqualTo("seq", _: Number)            => true
      case GreaterThan("seq", _: Number)        => true
      case GreaterThanOrEqual("seq", _: Number) => true
      case LessThan("seq", _: Number)           => true
      case LessThanOrEqual("seq", _: Number)    => true
      case _                                    => false
    }
    ours.foreach {
      case EqualTo("seq", v: Number)            => lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue + 1)
      case GreaterThan("seq", v: Number)        => lo = math.max(lo, v.longValue + 1)
      case GreaterThanOrEqual("seq", v: Number) => lo = math.max(lo, v.longValue)
      case LessThan("seq", v: Number)           => hi = math.min(hi, v.longValue)
      case LessThanOrEqual("seq", v: Number)    => hi = math.min(hi, v.longValue + 1)
      case _                                    => ()
    }
    accepted = ours
    rest
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = new ProblemScan(required, lo, math.max(lo, hi), numRows, numPartitions, rowsPerBatch)
}

/** One Scan serves both execution modes: `toBatch` reads the whole
  * (filter-narrowed) range at once; `toMicroBatchStream` replays the
  * same range as offset-bounded micro-batches. Its statistics describe
  * the whole range, so they are an upper bound on every micro-batch:
  * Spark asks the scan, not the batch, for a streaming relation's
  * statistics.
  */
private class ProblemScan(
    schema: StructType,
    lo: Long,
    hi: Long,
    numRows: Long,
    numPartitions: Int,
    rowsPerBatch: Long
) extends Scan
    with SupportsReportStatistics {

  override def readSchema(): StructType = schema
  override def description(): String    = s"graft_problems range=[$lo,$hi) rowsPerBatch=$rowsPerBatch"

  /** The widest row of `schema`, counted as Spark's
    * `EstimationUtils.getSizePerRow` counts a row whose string lengths
    * are known: 8 bytes per row, 8 per long, and a string's length + 12.
    */
  private val rowBytes: Long = 8L + schema.fieldNames.map {
    case "seq"           => 8L
    case "partition_key" => 2L + 12 // seq % 16: "0" .. "15"
    case "data"          => ProblemSource.MaxEnvelopeChars + 12L
  }.sum

  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong     = java.util.OptionalLong.of(hi - lo)
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of((hi - lo) * rowBytes)
  }

  /** Split [from, until) into at most numPartitions contiguous ranges,
    * sized by the FULL-table granule (numRows/numPartitions) so a
    * pushed-down range plans proportionally fewer partitions — the
    * observable pruning effect PlanSpec asserts.
    */
  private def ranges(from: Long, until: Long): Array[InputPartition] = {
    val per = math.max(1L, (numRows + numPartitions - 1) / numPartitions)
    (from until until by per)
      .map(s => ProblemRange(s, math.min(s + per, until)): InputPartition)
      .toArray
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = ranges(lo, hi)
    override def createReaderFactory(): PartitionReaderFactory = new ProblemReaderFactory(schema)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ProblemMicroBatchStream(schema, lo, hi, rowsPerBatch, ranges)
}

/** Sequence-number offsets, exactly the Kinesis model the reference
  * consumes (adder.go:38-44 iterates Records in shard order). Offset
  * arithmetic is STATELESS (`end = min(start + maxRows, hi)`) via
  * `SupportsAdmissionControl` — a driver-side cursor would break
  * `Trigger.AvailableNow`, whose wrapper samples a plain
  * `latestOffset()` exactly once. With admission control +
  * `SupportsTriggerAvailableNow`, AvailableNow drains the range in
  * ⌈(hi-lo)/rowsPerBatch⌉ batches and terminates, and a restart
  * resumes from the checkpointed offset (replayable — the generator is
  * a pure function of seq).
  */
private class ProblemMicroBatchStream(
    schema: StructType,
    lo: Long,
    hi: Long,
    rowsPerBatch: Long,
    ranges: (Long, Long) => Array[InputPartition]
) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = ProblemOffset(lo)

  /** Engine fallback when admission control is bypassed: everything. */
  override def latestOffset(): Offset = ProblemOffset(hi)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ProblemOffset].seq
    val step = limit match {
      case r: ReadMaxRows      => r.maxRows()
      case _: ReadAllAvailable => hi - from
      // composite limits (how the engine combines e.g. a min-rows hint
      // with the source default) — honor the row cap inside
      case c: CompositeReadLimit =>
        c.getReadLimits.collectFirst { case r: ReadMaxRows => r.maxRows().toLong }
          .getOrElse(rowsPerBatch)
      case _ => rowsPerBatch
    }
    ProblemOffset(math.min(from + math.max(1L, step), hi))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)

  override def reportLatestOffset(): Offset = ProblemOffset(hi)

  /** Bounded source: the AvailableNow target is always `hi`. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def deserializeOffset(json: String): Offset = ProblemOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ranges(start.asInstanceOf[ProblemOffset].seq, end.asInstanceOf[ProblemOffset].seq)

  override def createReaderFactory(): PartitionReaderFactory = new ProblemReaderFactory(schema)

  override def commit(end: Offset): Unit = () // nothing to release: generation is stateless

  override def stop(): Unit = ()
}

private case class ProblemOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

private case class ProblemRange(start: Long, end: Long) extends InputPartition

private class ProblemReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[ProblemRange]
    new PartitionReader[InternalRow] {
      private var seq            = range.start - 1
      private val fields         = schema.fieldNames
      override def next(): Boolean = { seq += 1; seq < range.end }
      override def get(): InternalRow =
        InternalRow.fromSeq(fields.toSeq.map {
          case "seq"           => seq
          case "partition_key" => UTF8String.fromString((seq % 16).toString)
          case "data"          => UTF8String.fromString(ProblemSource.envelope(seq))
        })
      override def close(): Unit = ()
    }
  }
}
