package graft.streaming.source

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Column, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A native shard-ordered streaming source (DataSourceV2 MicroBatchStream),
  * rebuilt from the reference's consumer surface: a named stream of N
  * shards, each an ordered log of (partitionKey, data) records addressed
  * by per-shard sequence numbers, replayed in order with checkpointed
  * offsets (reference: AmazonKinesisRecordConsumerSample.java:70-84 — shard
  * discovery + per-shard iteration; AmazonKinesisApplicationSampleRecord
  * Processor.java:117-148 — sequence-number checkpointing).
  *
  * The physical log is one staged text file per shard
  * (`shard-NNN.txt`, lines `tsNanos\tpartitionKey\tpayload`); the line
  * number IS the sequence number. Offsets are `{shardId -> nextSeq}` maps,
  * serialized to the checkpoint log, so restart-recovery resumes each
  * shard exactly where it left off (exactly-once replay — pinned in
  * NativeSourceSpec). One InputPartition per shard per batch preserves
  * within-shard order end-to-end, the same contract the reference's
  * per-shard record processor provides.
  *
  * Scale shape: shards map 1:1 to input partitions, so parallelism = shard
  * count (exactly the reference's model). The driver keeps a per-shard
  * byte-offset seek index (the analogue of a shard iterator): each planned
  * slice carries the byte position of its first record, so a resumed or
  * rate-limited reader seeks straight to `fromSeq` instead of re-reading
  * the log from the head.
  */
class KinesisLikeProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  /** Short name for `spark.readStream.format("kinesis-like")` (registered
    * via META-INF/services).
    */
  override def shortName(): String = "kinesis-like"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisLikeSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // fail fast at table resolution: a missing/typo'd path would otherwise
    // surface as a bare NullPointerException deep inside planning
    val path = opts.get("path")
    if (path == null || path.isEmpty)
      throw new IllegalArgumentException(
        "kinesis-like source requires a 'path' option pointing at a shard-log directory")
    val dir = new java.io.File(path)
    if (!dir.isDirectory)
      throw new IllegalArgumentException(
        s"kinesis-like path '$path' does not exist or is not a directory")
    new KinesisLikeTable(path,
      Option(opts.get("maxRecordsPerShardPerBatch")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      Option(opts.get("streamName")).getOrElse("graft-events"))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object KinesisLikeSource {
  /** The reference record surface (SURVEY.md §1.3): payload bytes +
    * partition key + per-shard sequence number + shard id + arrival time.
    */
  val Schema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("shardId", StringType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", LongType),
    StructField("data", BinaryType),
    StructField("arrivalTs", TimestampType)))

  def shardFiles(path: String): Seq[java.io.File] = {
    val listed = new java.io.File(path).listFiles()
    if (listed == null)
      throw new IllegalArgumentException(
        s"kinesis-like path '$path' does not exist or is not a readable directory")
    listed
      .filter(f => f.getName.startsWith("shard-") && f.getName.endsWith(".txt"))
      .sortBy(_.getName).toSeq
  }

  /** Resharding topology [REF A14]: an optional `_topology.txt` sidecar in
    * the shard-log directory, one `childShardId\tparentShardId` line per
    * split/merge edge. A child shard's records become visible only after
    * its parent is fully consumed — the same parent-before-children
    * ordering the KCL guarantees across a reshard (the reference
    * checkpoints the parent at shard end, then its worker picks up the
    * children). Directories without the sidecar have no lineage and every
    * shard streams independently, as before.
    */
  def shardParents(path: String): Map[String, Seq[String]] = {
    val f = new java.io.File(path, "_topology.txt")
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      // one line per edge; a SPLIT child has one parent, a MERGE child has
      // two lines (one per merged parent) — both must drain before it
      try src.getLines().filter(_.nonEmpty).map { line =>
        val parts = line.split("\t", 2)
        if (parts.length != 2) throw new IllegalArgumentException(
          s"malformed _topology.txt line (expected child\\tparent): '$line'")
        parts(0) -> parts(1)
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      finally src.close()
    }
  }

  /** 0, then the byte offset just past each newline of `f`: the start of
    * every newline-terminated line plus the end of the last one. The file
    * is scanned in 64 KB chunks into a primitive array.
    */
  def lineIndex(f: java.io.File): Array[Long] = {
    val in = new java.io.FileInputStream(f)
    val buf = new Array[Byte](1 << 16)
    var offs = new Array[Long](1024)
    var n = 1
    var base = 0L
    try {
      var len = in.read(buf)
      while (len != -1) {
        var i = 0
        while (i < len) {
          if (buf(i) == '\n') {
            if (n == offs.length) offs = java.util.Arrays.copyOf(offs, n * 2)
            offs(n) = base + i + 1
            n += 1
          }
          i += 1
        }
        base += len
        len = in.read(buf)
      }
    } finally in.close()
    java.util.Arrays.copyOf(offs, n)
  }

  def shardIdOf(fileName: String): String =
    "shardId-" + fileName.stripPrefix("shard-").stripSuffix(".txt").reverse
      .padTo(12, '0').reverse
}

class KinesisLikeTable(path: String, maxPerBatch: Long, streamName: String)
    extends Table with SupportsRead {
  override def name(): String = s"kinesis_like($streamName)"
  // columns() uses the Table interface default, derived from schema()
  override def schema(): StructType = KinesisLikeSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KinesisLikeSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KinesisLikeMicroBatch(path, maxPerBatch, streamName)
      }
    }
}

/** Offset = next sequence number to read, per shard. JSON is a sorted-key
  * object so serialization is stable across runs.
  */
case class ShardOffsets(offsets: Map[String, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (s, o) => s""""$s":$o""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  private val Entry = """"([^"]+)":(\d+)""".r
  def fromJson(json: String): ShardOffsets =
    ShardOffsets(Entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

class KinesisLikeMicroBatch(path: String, maxPerBatch: Long, streamName: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow contract: fix the end target at query start so
    * rate-limited batches walk to exactly that point and the query stops.
    * The shard logs are immutable fixtures, so the discovered shardEnds IS
    * the snapshot — materializing the (lazy) index here pins it; a live
    * service would copy the current per-shard tips instead.
    */
  override def prepareForTriggerAvailableNow(): Unit = { val _ = shardEnds }

  private val files: Seq[java.io.File] = KinesisLikeSource.shardFiles(path)

  /** Per-shard seek index: `index(i)` is the byte offset of sequence number
    * i's line (one extra trailing entry = the end of the last record). Only
    * newline-terminated lines are records: an unterminated tail is a record
    * still being written, and reading it now would serve it truncated and
    * skip the rest of it for good. The shard-iterator
    * analogue — planInputPartitions hands each slice its start byte so a
    * reader seeks instead of re-reading from the head. One raw byte pass
    * per shard file, shared with shard-end discovery [REF A14]. (At this
    * fixture's scale the full index fits trivially; a production reader
    * would index every Nth sequence number and scan the tail.)
    */
  private lazy val shardIndex: Map[String, Array[Long]] =
    files.map(f => KinesisLikeSource.shardIdOf(f.getName) -> KinesisLikeSource.lineIndex(f)).toMap

  /** Total records per shard (the shard's end sequence number). */
  private lazy val shardEnds: Map[String, Long] =
    shardIndex.map { case (s, idx) => s -> (idx.length - 1).toLong }

  /** child → parents reshard lineage (empty without a `_topology.txt`;
    * one parent per split child, two per merge child).
    */
  private lazy val shardParents: Map[String, Seq[String]] =
    KinesisLikeSource.shardParents(path)

  override def initialOffset(): Offset =
    ShardOffsets(shardEnds.keys.map(_ -> 0L).toMap)

  /** Smallest ReadMaxRows cap in the engine-supplied limit, if any
    * (composite limits hold several; min is the conservative read).
    */
  private def engineMaxRows(limit: ReadLimit): Option[Long] = limit match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      Some(r.maxRows())
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      val caps = c.getReadLimits.toSeq.flatMap(l => engineMaxRows(l))
      if (caps.isEmpty) None else Some(caps.min)
    case _ => None
  }

  /** Rate-limited advance from the engine-provided start — the
    * SupportsAdmissionControl form receives the restored start offset on
    * restart, so a resumed query continues from its checkpoint (the no-arg
    * latestOffset has no start and cannot express per-shard rate limits).
    * The per-shard option composes with any engine ReadMaxRows (e.g. a
    * Trigger.AvailableNow composite): the option caps each shard, the
    * engine cap bounds the batch total, allotted in sorted shard order.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[ShardOffsets].offsets
    var totalBudget = engineMaxRows(limit).getOrElse(Long.MaxValue)
    // parent-before-children [REF A14]: a child shard is withheld (its
    // offset does not advance) until the whole ANCESTOR chain is drained
    // as of this batch's START offsets — so the final parent slice and the
    // first child slice never share a micro-batch, preserving cross-reshard
    // order end to end.
    def ancestorsDrained(s: String): Boolean =
      shardParents.getOrElse(s, Nil).forall(p =>
        cur.getOrElse(p, 0L) >= shardEnds.getOrElse(p, 0L) && ancestorsDrained(p))
    ShardOffsets(shardEnds.toSeq.sortBy(_._1).map { case (s, end) =>
      val c = cur.getOrElse(s, 0L)
      if (!ancestorsDrained(s)) s -> c
      else {
        // saturating add: maxPerBatch defaults to Long.MaxValue
        val capped = if (Long.MaxValue - maxPerBatch < c) Long.MaxValue else c + maxPerBatch
        val next = math.max(c, math.min(end, math.min(capped,
          if (Long.MaxValue - totalBudget < c) Long.MaxValue else c + totalBudget)))
        totalBudget -= next - c
        s -> next
      }
    }.toMap)
  }

  /** Unreachable when SupportsAdmissionControl is implemented; report
    * everything available for safety.
    */
  override def latestOffset(): Offset = ShardOffsets(shardEnds)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].offsets
    val e = end.asInstanceOf[ShardOffsets].offsets
    files.flatMap { f =>
      val shard = KinesisLikeSource.shardIdOf(f.getName)
      val (from, until) = (s.getOrElse(shard, 0L), e.getOrElse(shard, 0L))
      if (until > from)
        Some(KinesisShardPartition(f.getAbsolutePath, shard, from, until, streamName,
          shardIndex(shard)(from.toInt)))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisShardReaderFactory

  override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One shard slice: [fromSeq, untilSeq) of the shard's ordered log,
  * starting at byte `fromByte` (the planner's seek index entry for
  * fromSeq — the shard-iterator analogue).
  */
case class KinesisShardPartition(file: String, shardId: String,
    fromSeq: Long, untilSeq: Long, streamName: String, fromByte: Long)
  extends InputPartition

class KinesisShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KinesisShardPartition]
    new PartitionReader[InternalRow] {
      private val stream = new java.io.FileInputStream(p.file)
      locally {
        // seek straight to the slice's first record — no head re-read
        var toSkip = p.fromByte
        while (toSkip > 0) {
          val skipped = stream.skip(toSkip)
          if (skipped <= 0) throw new IllegalStateException(
            s"could not seek to byte ${p.fromByte} (sequenceNumber ${p.fromSeq}) in ${p.file}")
          toSkip -= skipped
        }
      }
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(stream, java.nio.charset.StandardCharsets.UTF_8))
      private var seq = p.fromSeq
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (seq >= p.untilSeq) return false
        val line = reader.readLine()
        if (line == null) return false
        val parts = line.split("\t", 3)
        if (parts.length != 3) throw new IllegalStateException(
          s"malformed shard-log line in ${p.file} at sequenceNumber $seq " +
            s"(expected tsNanos\\tpartitionKey\\tpayload): '${line.take(120)}'")
        row = new GenericInternalRow(Array[Any](
          UTF8String.fromString(p.streamName),
          UTF8String.fromString(p.shardId),
          UTF8String.fromString(parts(1)),
          seq,
          parts(2).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          parts(0).toLong / 1000L)) // nanos -> micros
        seq += 1
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = reader.close()
    }
  }
}
