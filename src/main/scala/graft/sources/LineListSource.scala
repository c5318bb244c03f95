package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{Filter, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSource V2 connector for the reference's line-list
  * artifact (sorted unique terms, one per line — `process_pubmed.sh`'s
  * K3 text sink format), built on the full connector contract rather
  * than a plain text read:
  *
  *   - `SupportsPushDownFilters`: a `value STARTS WITH p` predicate
  *     reaches the READER, which skips non-matching lines at the
  *     source — at 100 TB the scan emits only the matching slice
  *     instead of materializing everything for a post-filter.
  *   - `SupportsPushDownRequiredColumns`: the reader computes only the
  *     requested columns (the derived `len` costs a code-point walk
  *     per line — pruning it makes the value-only path allocation-free
  *     per column).
  *   - One `InputPartition` per file: split-level parallelism with no
  *     shuffle, the same granularity Spark's own file sources use.
  *   - `SupportsPushDownAggregates`: ungrouped COUNT/MIN/MAX collapse
  *     to one partial-stats row per file computed inside the reader
  *     ([[LineListAggScan]]) — the parquet-footer-stats idea for a
  *     format with no footer.
  *
  * The scan's `description()` reports the pushed prefix and surviving
  * columns, and the spec asserts both off the physical plan. */
class LineListSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = LineListSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LineListTable(properties.get("path"))
}

object LineListSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("len", IntegerType, nullable = false)))
}

class LineListTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"linelist($path)"
  override def schema(): StructType = LineListSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LineListScanBuilder(path,
      Option(options.get("maxfilespertrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LineListWriteBuilder(path, info.schema())
}

/** The aggregate shapes the reader can serve per file: COUNT(*) /
  * COUNT(col) (both columns are non-null, so they coincide), and
  * MIN/MAX over either column. Emitted as one PARTIAL row per file
  * partition; Spark's final aggregate merges them. */
sealed trait LineListAgg { def name: String; def dataType: DataType }
case object AggCountStar extends LineListAgg {
  val name = "count_star"; val dataType: DataType = LongType
}
case class AggMin(col: String) extends LineListAgg {
  val name = s"min_$col"
  val dataType: DataType = if (col == "value") StringType else IntegerType
}
case class AggMax(col: String) extends LineListAgg {
  val name = s"max_$col"
  val dataType: DataType = if (col == "value") StringType else IntegerType
}

class LineListScanBuilder(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var prefix: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = LineListSource.Schema
  private var aggs: Option[Seq[LineListAgg]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case StringStartsWith("value", _) => true
      case _ => false
    }
    pushed = accepted
    prefix = accepted.collectFirst { case StringStartsWith(_, p) => p }
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
        LineListSource.Schema.fieldNames.contains(nr.fieldNames()(0)) =>
        Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Partial aggregate pushdown (`supportCompletePushDown` stays
    * false): the scan emits one stats row PER FILE and Spark's final
    * aggregate merges them — at 100 TB a COUNT/MIN/MAX over the
    * artifact moves one row per file instead of materializing every
    * line into rows for an engine-side aggregate. Rejecting any
    * non-translatable shape (grouping, DISTINCT, other functions)
    * falls back to the plain row scan. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (agg.groupByExpressions().nonEmpty) return false
    val translated: Seq[Option[LineListAgg]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(AggCountStar)
      // both columns are non-null by schema, so COUNT(col) == COUNT(*)
      case c: Count if !c.isDistinct => colName(c.column()).map(_ => AggCountStar)
      case m: Min => colName(m.column()).map(AggMin)
      case m: Max => colName(m.column()).map(AggMax)
      case _ => None
    }
    if (translated.nonEmpty && translated.forall(_.isDefined)) {
      aggs = Some(translated.map(_.get)); true
    } else false
  }

  override def build(): Scan = aggs match {
    case Some(a) => new LineListAggScan(path, prefix, a)
    case None    => new LineListScan(path, prefix, required, maxFilesPerTrigger)
  }
}

/** Batch scan serving a PUSHED aggregation: schema is the aggregate
  * columns (in `Aggregation.aggregateExpressions()` order, no grouping
  * columns), one partial-stats row per file. */
class LineListAggScan(path: String, prefix: Option[String], aggs: Seq[LineListAgg])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(aggs.map(a => StructField(a.name, a.dataType, nullable = true)))
  override def toBatch: Batch = this
  override def description(): String =
    s"LineListAggScan path=$path pushedPrefix=${prefix.getOrElse("-")} " +
      s"pushedAggs=${aggs.map(_.name).mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val files = fs.listStatus(p)
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
      .map(f => LineListPartition(f): InputPartition)
    // an all-empty directory must still emit ONE zero-stats partial:
    // with zero partitions Spark's final rewrite of the pushed COUNT
    // (Sum over the partial column) aggregates zero rows and returns
    // NULL, where the row-scan path returns 0 — same query, two
    // answers. The sentinel partition makes the reader produce the
    // (n=0, min/max NULL) row instead.
    if (files.isEmpty) Array(LineListPartition(""))
    else files
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LineListAggReaderFactory(prefix, aggs)
}

/** Computes the per-file stats in one streamed pass — min/max on
  * `value` compare UTF8String bytes (Spark's own StringType ordering,
  * so the engine-side final merge sees consistent partials). */
class LineListAggReaderFactory(prefix: Option[String], aggs: Seq[LineListAgg])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val file = partition.asInstanceOf[LineListPartition].file
      private var emitted = false
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (emitted) return false
        var n = 0L
        var minV: UTF8String = null; var maxV: UTF8String = null
        var minL = Int.MaxValue; var maxL = Int.MinValue
        if (file.nonEmpty) { // "" = the empty-directory sentinel partition
          val p = new Path(file)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            p.getFileSystem(new Configuration()).open(p),
            java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              if (prefix.forall(line.startsWith)) {
                n += 1
                val u = UTF8String.fromString(line)
                if (minV == null || u.compareTo(minV) < 0) minV = u
                if (maxV == null || u.compareTo(maxV) > 0) maxV = u
                val l = line.codePointCount(0, line.length)
                if (l < minL) minL = l
                if (l > maxL) maxL = l
              }
              line = in.readLine()
            }
          } finally in.close()
        }
        row = InternalRow.fromSeq(aggs.map {
          case AggCountStar    => n
          case AggMin("value") => minV
          case AggMax("value") => maxV
          case AggMin(_)       => if (n == 0) null else minL
          case AggMax(_)       => if (n == 0) null else maxL
        })
        emitted = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

class LineListScan(path: String, prefix: Option[String], required: StructType,
    maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LineListMicroBatchStream(path, prefix, required, maxFilesPerTrigger)
  override def description(): String =
    s"LineListScan path=$path pushedPrefix=${prefix.getOrElse("-")} " +
      s"columns=${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    fs.listStatus(p)
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
      .map(f => LineListPartition(f): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LineListReaderFactory(prefix, required.fieldNames)
}

case class LineListPartition(file: String) extends InputPartition

/** STREAMING read surface of the connector (`MicroBatchStream`): the
  * offset is simply "how many files of the sorted listing have been
  * consumed", so each microbatch is a contiguous file slice —
  * `maxFilesPerTrigger` bounds the slice exactly like Spark's own
  * file source, giving backlog drains bounded batch sizes instead of
  * one giant batch. The same pushed prefix and pruned columns reach
  * the streaming reader (one ScanBuilder serves both surfaces).
  * Offset contract: files must arrive in listing-sort order (the
  * standard drop-folder assumption — e.g. monotonically named parts);
  * a late file sorting BEFORE a consumed position would be skipped,
  * exactly like Spark's own file source without the option to track
  * per-file state. Offsets round-trip through the checkpoint
  * (`deserializeOffset`), so a restarted query resumes from the last
  * committed file count — the resume spec pins this. */
case class LineListOffset(n: Int)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

class LineListMicroBatchStream(path: String, prefix: Option[String],
    required: StructType, maxFilesPerTrigger: Option[Int])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def files: Array[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    fs.listStatus(p)
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }
  private var committed = 0
  // AvailableNow pins the drain target at prepare time: the query runs
  // ceil(target/k) bounded batches and stops when committed == target,
  // even if new files land mid-drain (they wait for the next run)
  private var target: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit = target = Some(files.length)
  override def initialOffset(): Offset = LineListOffset(0)
  // admission-control form (SupportsTriggerAvailableNow extends
  // SupportsAdmissionControl): advance at most maxFilesPerTrigger
  // files past the engine-supplied start offset
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val total = target.getOrElse(files.length)
    val from = start.asInstanceOf[LineListOffset].n
    LineListOffset(maxFilesPerTrigger
      .map(k => math.min(total, from + k)).getOrElse(total))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")
  override def deserializeOffset(json: String): Offset = LineListOffset(json.toInt)
  override def commit(end: Offset): Unit =
    committed = end.asInstanceOf[LineListOffset].n
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    files.slice(start.asInstanceOf[LineListOffset].n, end.asInstanceOf[LineListOffset].n)
      .map(f => LineListPartition(f): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new LineListReaderFactory(prefix, required.fieldNames)
}

/** WRITE side of the connector — the real two-phase protocol: each
  * task streams its lines to an invisible `_tmp-…` file and reports it
  * in its commit message; the DRIVER renames every temp to its final
  * `part-…` name only in [[LineListWrite.commit]], so a failed or
  * speculated task can never leave a half-visible artifact (its
  * temps are deleted in abort, and the reader lists only
  * non-`_`-prefixed files, the Hadoop visibility convention). A part
  * name that is already taken, or a rename that fails, fails the commit
  * with an `IOException` naming both paths. */
class LineListWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new LineListWrite(path, doTruncate, schema)
}

case class LineListCommitMessage(tmpPath: String, finalName: String)
  extends WriterCommitMessage

class LineListWrite(path: String, doTruncate: Boolean, schema: StructType)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (doTruncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new LineListWriterFactory(path, schema.fieldIndex("value"))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = new Configuration()
    messages.foreach { case LineListCommitMessage(tmp, fin) =>
      val t = new Path(tmp)
      val dst = new Path(t.getParent, fin)
      val fs = t.getFileSystem(conf)
      // a Hadoop rename onto an existing directory moves the file INTO
      // it, and onto an existing local file replaces it: either way a
      // part would be lost to the reader
      if (fs.exists(dst))
        throw new java.io.IOException(s"line-list commit: $dst exists, not renaming $t onto it")
      if (!fs.rename(t, dst))
        throw new java.io.IOException(s"line-list commit: rename $t -> $dst failed")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = new Configuration()
    messages.foreach {
      case LineListCommitMessage(tmp, _) =>
        val t = new Path(tmp)
        t.getFileSystem(conf).delete(t, false)
      case _ => ()
    }
  }
}

class LineListWriterFactory(path: String, valueIdx: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val tmp = new Path(path, s"_tmp-$partitionId-$taskId")
      private val fs = tmp.getFileSystem(new Configuration())
      private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))

      override def write(row: InternalRow): Unit = {
        out.write(row.getUTF8String(valueIdx).toString)
        out.write('\n')
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        LineListCommitMessage(tmp.toString, f"part-$partitionId%05d")
      }
      override def abort(): Unit = {
        out.close()
        fs.delete(tmp, false)
      }
      override def close(): Unit = ()
    }
}

class LineListReaderFactory(prefix: Option[String], cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = new Path(partition.asInstanceOf[LineListPartition].file)
      private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        p.getFileSystem(new Configuration()).open(p),
        java.nio.charset.StandardCharsets.UTF_8))
      private var line: String = _

      override def next(): Boolean = {
        line = in.readLine()
        while (line != null && prefix.exists(pf => !line.startsWith(pf)))
          line = in.readLine()
        line != null
      }
      override def get(): InternalRow = InternalRow.fromSeq(cols.toSeq.map {
        case "value" => UTF8String.fromString(line)
        case "len" => line.codePointCount(0, line.length)
      })
      override def close(): Unit = in.close()
    }
}
