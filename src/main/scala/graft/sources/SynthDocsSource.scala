package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector: a DETERMINISTIC synthetic document corpus
  * generated AT SCAN TIME — `spark.read.format("synthdocs")
  * .option("rows", N).option("partitions", P)`. The benchmark/soak
  * seam a 100 TB engine needs: corpus size is a config constant, no
  * bytes ever hit storage, generation is embarrassingly parallel (each
  * InputPartition owns a doc_id range and synthesizes rows locally —
  * the TPC-dbgen pattern as a first-class Spark table).
  *
  * The point of writing it as a FULL DSv2 implementation rather than
  * `spark.range(N).select(...)` is the pushdown surface, exercised and
  * spec-asserted:
  *
  *   - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): the reader
  *     materializes only the projected columns — `count(*)` over the
  *     corpus never builds a text string.
  *   - FILTER PUSHDOWN ([[SupportsPushDownFilters]]): doc_id range
  *     predicates prune whole InputPartitions at PLANNING time and clip
  *     the surviving ranges at READ time — the generator twin of
  *     parquet row-group pruning. Pushed filters are also RETURNED as
  *     residuals, so Spark re-evaluates them post-scan: pruning is a
  *     pure optimization and can never change results (the conservative
  *     contract a correctness-gated source wants).
  *
  * Row formula (fixed so the DuckDB oracle regenerates the identical
  * corpus from `range()` arithmetic): source = 'synth' ∥ (id % 5),
  * text = 'alpha tok(id%97) tok(id·31%89) tok(id·7%83) end'.
  *
  * Registered under the `synthdocs` short name via the standard
  * META-INF/services [[DataSourceRegister]] mechanism. */
class SynthDocsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "synthdocs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthDocs.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SynthDocsTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("partitions", "8").toInt,
      properties.getOrDefault("maxRowsPerTrigger", "100").toLong)
}

object SynthDocs {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** The `src_synth_pushdown` query body: slice the synthetic corpus by
    * doc_id (pushed → partitions pruned) and summarize per source. */
  def sliceSummary(spark: SparkSession, rows: Int = 5000,
                   partitions: Int = 16): DataFrame =
    spark.read.format("synthdocs")
      .option("rows", rows).option("partitions", partitions).load()
      .filter(col("doc_id") >= 1200 && col("doc_id") < 3800)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("source")

  /** The `src_synth_agg_pushdown` query body: size a 200k-doc corpus
    * via the pushed-aggregate path — COUNT/MIN/MAX answered from
    * partition range arithmetic (one summary row per partition reaches
    * Spark's final merge agg; no document text is ever synthesized). */
  def corpusSizing(spark: SparkSession, rows: Int = 200000,
                   partitions: Int = 32): DataFrame =
    spark.read.format("synthdocs")
      .option("rows", rows).option("partitions", partitions).load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def sourceOf(id: Long): String = "synth" + (id % 5)
  def textOf(id: Long): String =
    s"alpha tok${id % 97} tok${id * 31 % 89} tok${id * 7 % 83} end"
}

final class SynthDocsTable(rows: Long, partitions: Int,
                           maxRowsPerTrigger: Long = 100L)
    extends Table with SupportsRead {
  require(rows >= 0 && partitions >= 1,
    s"bad synthdocs sizing: rows=$rows partitions=$partitions")
  override def name(): String = s"synthdocs($rows,$partitions)"
  override def schema(): StructType = SynthDocs.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthDocsScanBuilder(rows, partitions, maxRowsPerTrigger)
}

final class SynthDocsScanBuilder(rows: Long, partitions: Int,
                                 maxRowsPerTrigger: Long = 100L)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = SynthDocs.schema
  private var pushed: Array[Filter] = Array.empty
  // agg functions accepted by pushAggregation, in request order; empty
  // = normal row scan
  private var pushedAggs: Seq[AggregateFunc] = Seq.empty
  // doc_id bounds accumulated from the pushed predicates: [lo, hi)
  private var lo: Long = 0L
  private var hi: Long = Long.MaxValue

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE PUSHDOWN ([[SupportsPushDownAggregates]]): COUNT(*) /
    * MIN(doc_id) / MAX(doc_id) with no grouping are answered from the
    * partition RANGE ARITHMETIC — the reader emits ONE summary row per
    * surviving partition and never synthesizes a document. The
    * metadata-count path every warehouse source ships (parquet footer
    * counts, JDBC pushDownAggregate): sizing a 100 TB corpus costs P
    * arithmetic rows, not N generated ones. PARTIAL pushdown contract
    * (supportCompletePushDown stays false): Spark still runs the final
    * merge agg (SUM of partial counts, MIN of mins, MAX of maxes), so
    * pushing is a pure optimization and can never change results —
    * the same conservative stance as the filter residuals above. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    val ok = aggregation.aggregateExpressions.forall {
      case _: CountStar => true
      case m: Min => m.column match {
        case f: NamedReference => f.fieldNames.sameElements(Array("doc_id"))
        case _ => false
      }
      case m: Max => m.column match {
        case f: NamedReference => f.fieldNames.sameElements(Array("doc_id"))
        case _ => false
      }
      case _ => false
    }
    if (!ok || aggregation.aggregateExpressions.isEmpty) return false
    pushedAggs = aggregation.aggregateExpressions.toSeq
    true
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("doc_id", _: Long) => true
      case GreaterThan("doc_id", _: Long) => true
      case GreaterThanOrEqual("doc_id", _: Long) => true
      case LessThan("doc_id", _: Long) => true
      case LessThanOrEqual("doc_id", _: Long) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("doc_id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case GreaterThan("doc_id", v: Long) => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("doc_id", v: Long) => lo = math.max(lo, v)
      case LessThan("doc_id", v: Long) => hi = math.min(hi, v)
      case LessThanOrEqual("doc_id", v: Long) => hi = math.min(hi, v + 1)
      case _ =>
    }
    pushed = accepted
    // conservative contract: hand EVERY filter back as a residual —
    // pruning only ever skips rows the filters would reject anyway
    rejected ++ accepted
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // pushed-agg scans read the summary schema: one LongType field per
    // accepted function, in request order (Spark maps them by POSITION)
    val aggCols = pushedAggs.map {
      case _: CountStar => "count_star"
      case _: Min => "min_doc_id"
      case _: Max => "max_doc_id"
    }
    new SynthDocsScan(rows, partitions, required, lo, math.min(hi, rows),
      pushed.map(_.toString).toSeq, aggCols, maxRowsPerTrigger)
  }
}

final class SynthDocsScan(rows: Long, partitions: Int, required: StructType,
                          lo: Long, hi: Long, pushedDesc: Seq[String],
                          aggCols: Seq[String],
                          maxRowsPerTrigger: Long = 100L)
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (aggCols.isEmpty) required
    else StructType(aggCols.map(StructField(_, LongType, nullable = false)))
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SynthDocsMicroBatchStream(rows, partitions, required.fieldNames,
      maxRowsPerTrigger)
  override def description(): String =
    s"synthdocs rows=$rows partitions=$partitions bounds=[$lo,$hi) " +
      s"pushed=${pushedDesc.mkString("[", ",", "]")} " +
      s"aggs=${aggCols.mkString("[", ",", "]")} " +
      s"columns=${required.fieldNames.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // even doc_id ranges, intersected with the pushed [lo, hi) bounds —
    // non-overlapping partitions vanish at PLANNING time (the generator
    // twin of partition pruning), survivors are clipped at read time
    val per = math.max(1L, (rows + partitions - 1) / partitions)
    (0 until partitions).iterator
      .map { k =>
        val s = k * per
        val e = math.min(rows, s + per)
        (math.max(s, lo), math.min(e, hi))
      }
      .collect { case (s, e) if s < e =>
        SynthDocsPartition(s, e): InputPartition
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (aggCols.isEmpty) new SynthDocsReaderFactory(required.fieldNames)
    else new SynthDocsAggReaderFactory(aggCols.toArray)
}

final case class SynthDocsPartition(start: Long, end: Long)
    extends InputPartition

/** Offset for the streaming read: the next unread doc_id. JSON is the
  * bare number, so checkpoints are human-auditable. */
final case class SynthDocsOffset(pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = pos.toString
}

/** MICRO-BATCH STREAM over the same deterministic corpus — the read
  * half of the streaming DSv2 surface (next to [[MetricsSinkProvider]]'s
  * write half): offsets are doc_id positions, each trigger admits at
  * most `maxRowsPerTrigger` rows ([[SupportsAdmissionControl]], the
  * public rate-source contract — the engine asks "how far may I read
  * given this limit" instead of the source guessing trigger shape), and
  * `planInputPartitions(start, end)` splits the admitted range across
  * the configured parallelism with the SAME partition/reader classes as
  * the batch path — the replayable-by-range discipline every
  * exactly-once source (kafka offsets, file lists, CDC LSNs) follows:
  * a restarted query re-plans the identical [start, end) from the
  * checkpoint and regenerates identical rows. Backlog admission is
  * O(1) arithmetic; no state lives in the source. */
final class SynthDocsMicroBatchStream(rows: Long, partitions: Int,
                                      columns: Array[String],
                                      maxRowsPerTrigger: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Trigger.AvailableNow drains in admitted steps until the backlog
  // head CAPTURED AT START is reached; the corpus bound is a config
  // constant, so the capture is a no-op — rows IS the drain target
  // (a file/kafka source would snapshot its listing here)
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def initialOffset(): Offset = SynthDocsOffset(0L)
  override def deserializeOffset(json: String): Offset =
    SynthDocsOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxRowsPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control path")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SynthDocsOffset].pos
    val cap = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        m.maxRows()
      case _ => maxRowsPerTrigger
    }
    SynthDocsOffset(math.min(rows, s + math.max(1L, cap)))
  }
  /** Unthrottled backlog head — what AvailableNow uses to decide when
    * the stream has drained. */
  override def reportLatestOffset(): Offset = SynthDocsOffset(rows)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SynthDocsOffset].pos
    val e = end.asInstanceOf[SynthDocsOffset].pos
    val per = math.max(1L, (e - s + partitions - 1) / partitions)
    (0 until partitions).iterator
      .map { k => (s + k * per, math.min(e, s + (k + 1) * per)) }
      .collect { case (a, b) if a < b => SynthDocsPartition(a, b): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthDocsReaderFactory(columns)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Pushed-aggregate reader: ONE row per partition, every value pure
  * range arithmetic over [start, end) — count = end−start, min = start,
  * max = end−1. No document is ever synthesized. */
final class SynthDocsAggReaderFactory(aggCols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SynthDocsPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val values = aggCols.map[Any] {
          case "count_star" => p.end - p.start
          case "min_doc_id" => p.start
          case "max_doc_id" => p.end - 1
          case other => throw new IllegalArgumentException(
            s"unknown synthdocs agg column: $other")
        }
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
  }
}

/** Serializable factory: only the projected column NAMES travel to the
  * executors; each reader generates its range locally. */
final class SynthDocsReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SynthDocsPartition]
    new PartitionReader[InternalRow] {
      private var id = p.start - 1
      override def next(): Boolean = { id += 1; id < p.end }
      override def get(): InternalRow = {
        // build ONLY the projected columns — a pruned scan never pays
        // for the text synthesis
        val values = columns.map[Any] {
          case "doc_id" => id
          case "source" => UTF8String.fromString(SynthDocs.sourceOf(id))
          case "text" => UTF8String.fromString(SynthDocs.textOf(id))
          case other => throw new IllegalArgumentException(
            s"unknown synthdocs column: $other")
        }
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
  }
}
