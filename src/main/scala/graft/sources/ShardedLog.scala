package graft.sources

import java.security.MessageDigest
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Emulated sharded record log — the Kinesis-wire-protocol stand-in.
  *
  * Layout (format v3): `<path>/shard-<i>.log` = the 8-byte magic
  * `GRAFTLG3` followed by length-prefixed binary records
  * `[arrivalMillis:long][pkLen:int][pk utf8][dataLen:int][data raw]`,
  * big-endian, length −1 encoding a null field. A record's sequence number
  * is its record index. This models the reference's
  * shard/sequence-number/iterator surface (reference
  * kinesis_consumer.cpp:200-242 shard discovery, 296-325 shard iterators,
  * 364-434 GetRecords loop) without the AWS SDK (offline env — see
  * SURVEY.md §0), and carries the two per-record fields the reference
  * fixes at ingest time:
  *
  *  - **approximate arrival timestamp** is written into the record by
  *    `append` (the put-record analog), exactly like the reference stores
  *    it on the record object (kinesis_consumer.cpp:485-489,
  *    kinesis_consumer.h:68). A replayed partition therefore reproduces
  *    byte-identical rows — timestamps no longer depend on when a reader
  *    happened to run.
  *  - **data is raw bytes** (kinesis_consumer.h:65-69): binary payloads
  *    ride with zero inflation (the old escaped-text framing forced
  *    base64, +33%), and text formats decode UTF-8 at parse time.
  *
  * Spark-native mapping:
  *  - shard discovery → `planInputPartitions` (shard slices grouped into
  *    at most `parallelism` tasks — the reference's worker-process knob,
  *    pipeline_kinesis.c:439-451; 0 = one task per shard);
  *  - per-(consumer, shard) seqnum checkpoints → the streaming offset log
  *    ({shard → [bytePos, nextSeq]} JSON), committed by the engine's
  *    single commit log — strictly stronger than the reference's
  *    two-transaction COPY-then-upsert (pipeline_kinesis.c:738-758);
  *  - `GetRecords(limit=batchsize)` → `batchsize` option capping records
  *    per shard per micro-batch (kinesis_consumer.cpp:375-376);
  *  - start positions trim_horizon | latest | after_sequence_number:<n>
  *    (kinesis_consumer.cpp:259-291) → `startingposition` option.
  *
  * Scale design — offsets are BYTE positions (plus the record index for
  * seqnum semantics), so nothing ever re-reads a file prefix:
  *  - the driver's `latestOffset` scans only [lastOffset, lastOffset +
  *    batchsize records) of each shard — per-trigger cost is O(admitted
  *    batch), not O(total shard file);
  *  - `reportLatestOffset` advances a monotone in-memory [[TailCache]] by
  *    scanning only bytes appended since the previous call;
  *  - `Trigger.AvailableNow` takes its snapshot from that same cache, so
  *    the first `reportLatestOffset` of a backfill scans nothing new;
  *  - each `PartitionReader` seeks straight to its slice's first byte —
  *    cumulative read cost over a stream's lifetime is O(data);
  *  - driver-side scans ([[scanForward]]) read each shard sequentially in
  *    64 KiB buffer windows, take the two length fields of each record at
  *    computed offsets and jump over a payload that runs past the window,
  *    so offset planning costs O(records) of CPU, not O(bytes); the
  *    executors' reader decodes records from the same kind of window.
  *
  * Framing safety: every shard file begins with the 8-byte magic
  * `GRAFTLG3`; a file in any other framing (the v1 escaped-text format, a
  * foreign file) FAILS FAST at the first scan instead of being silently
  * misparsed as binary records — the same fail-fast contract as the
  * engine's catalog version header. The legacy `{"shard":nextSeq}`
  * bare-number offset form is rejected for the same reason: such a
  * checkpoint was written against a v1 text log, so "resolving" it by
  * walking a v3 file could only produce garbage positions.
  */
object ShardedLog {
  val SCHEMA: StructType = StructType(Seq(
    StructField("shard_id", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("partition_key", StringType, nullable = true),
    StructField("data", BinaryType, nullable = true),
    StructField("approximate_arrival_timestamp", TimestampType, nullable = false)))

  val FORMAT = "graft.sources.ShardedLogProvider"

  /** 8-byte file magic: shard files not starting with it fail fast (see
    * class doc). The digit names the framing generation. */
  val MAGIC: Array[Byte] =
    "GRAFTLG3".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  val HEADER: Long = MAGIC.length.toLong

  /** Position within one shard: byte offset (for seeking) and record
    * count (the user-visible sequence number). `bytes` always sits on a
    * record boundary; the sentinel 0 means "nothing consumed" (the first
    * record starts at [[HEADER]] — scans and readers normalize). */
  case class ShardPos(bytes: Long, recs: Long)

  def shardFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("shard-") && f.getName.endsWith(".log"))
      .sortBy(_.getName).toSeq
  }

  // --- record framing (format v2: length-prefixed binary) ------------------

  /** Test/demo helper: append UTF-8 text records to one shard
    * (`put-record` analog). Arrival time is fixed HERE, at append — the
    * reference's per-record approximateArrivalTimestamp semantics
    * (kinesis_consumer.cpp:485-489). */
  def append(dir: String, shard: Int, records: Seq[(String, String)]): Unit =
    appendBytes(dir, shard, records.map { case (pk, d) =>
      (pk, if (d == null) null else d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    })

  /** Write one record in GRAFTLG3 framing. Callable from executor tasks —
    * a distributed producer stages per-partition framed files and the
    * driver splices them with [[appendFramedFiles]]. */
  def frameRecord(out: java.io.DataOutputStream, arrivalMillis: Long,
                  pk: String, data: Array[Byte]): Unit = {
    out.writeLong(arrivalMillis)
    if (pk == null) out.writeInt(-1)
    else {
      val b = pk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    if (data == null) out.writeInt(-1)
    else { out.writeInt(data.length); out.write(data) }
  }

  /** Append raw-byte records (opaque-payload parity,
    * kinesis_consumer.h:65-69). One buffered write per call so concurrent
    * readers observe whole records (a partial tail is dropped by
    * [[scanForward]] until complete). */
  def appendBytes(dir: String, shard: Int, records: Seq[(String, Array[Byte])],
                  arrivalMillis: Long = System.currentTimeMillis()): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    val bos = new java.io.ByteArrayOutputStream(4096)
    val out = new java.io.DataOutputStream(bos)
    records.foreach { case (pk, data) => frameRecord(out, arrivalMillis, pk, data) }
    out.flush()
    // Single-writer-per-shard (the Kinesis shard model): the creating
    // writer stamps the magic header before its first records.
    val file = new java.io.File(d, s"shard-$shard.log")
    val headerNeeded = !file.exists() || file.length() == 0L
    val f = new java.io.FileOutputStream(file, true)
    try {
      if (headerNeeded) f.write(MAGIC)
      f.write(bos.toByteArray)
    } finally f.close()
  }

  /** Splice staged files of pre-framed records (written with
    * [[frameRecord]]) onto a shard, via a bounded-buffer byte copy: the
    * producer-side memory for an arbitrarily large append is one 64 KB
    * buffer, never the record set. Each part must contain only whole
    * records — guaranteed when the writer framed and closed it. */
  def appendFramedFiles(dir: String, shard: Int, parts: Seq[java.io.File]): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    val file = new java.io.File(d, s"shard-$shard.log")
    val headerNeeded = !file.exists() || file.length() == 0L
    val out = new java.io.FileOutputStream(file, true)
    try {
      if (headerNeeded) out.write(MAGIC)
      val buf = new Array[Byte](1 << 16)
      parts.foreach { p =>
        val in = new java.io.FileInputStream(p)
        try {
          var n = in.read(buf)
          while (n >= 0) {
            if (n > 0) { out.write(buf, 0, n); bytesSpliced.addAndGet(n) }
            n = in.read(buf)
          }
        } finally in.close()
      }
    } finally out.close()
  }

  /** Test instrumentation: cumulative bytes appended via the staged-file
    * splice path ([[appendFramedFiles]]). Lets specs assert that a large
    * emission traveled the executor-staged route — every record byte in
    * the target log accounted for here was never materialized as a
    * driver-side row collection. */
  val bytesSpliced = new java.util.concurrent.atomic.AtomicLong(0L)

  private def badFraming(file: java.io.File) = new IllegalStateException(
    s"$file: unrecognized shard-log framing (expected ${HEADER}-byte " +
      "'GRAFTLG3' magic). This log was written by an incompatible graft " +
      "version or is not a graft shard log — migrate or remove it.")

  /** Producer-side PutRecords analog with the Kinesis routing rule: each
    * record lands on the shard selected by the MD5 of its partition key
    * (the hash-range semantics of the real service) — same key, same
    * shard, so per-key ordering holds end to end without the producer
    * ever naming a shard. Encounter order is preserved within each
    * shard's append. */
  def putRecords(dir: String, nShards: Int,
                 records: Seq[(String, Array[Byte])],
                 arrivalMillis: Long = System.currentTimeMillis()): Unit = {
    require(nShards > 0, "nShards must be positive")
    records.foreach { case (pk, _) =>
      require(pk != null, "partition key is required (Kinesis PutRecord)") }
    val md = MessageDigest.getInstance("MD5")
    def shardOf(pk: String): Int = {
      md.reset()
      val d = md.digest(pk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 digest bytes as a big-endian long, mapped into [0, nShards)
      val h = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      math.floorMod(h, nShards.toLong).toInt
    }
    records.groupBy(r => shardOf(r._1)).toSeq.sortBy(_._1).foreach {
      case (shard, recs) => appendBytes(dir, shard, recs, arrivalMillis)
    }
  }

  /** Test instrumentation: cumulative bytes consumed by driver-side
    * [[scanForward]] calls. Lets specs assert the scale contract directly:
    * per-trigger scan cost must track the appended delta, not the file
    * size. */
  val bytesScanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Scan `file` forward from byte `fromBytes`, counting whole records,
    * stopping after `maxRecs` records or EOF. Returns the position after
    * the last complete record (a trailing partial record — e.g. a
    * concurrent writer mid-append — is never included). Reads the two
    * length fields of each record and jumps over its payloads. */
  def scanForward(file: java.io.File, fromBytes: Long, maxRecs: Long): ShardPos = {
    val len = file.length() // stable snapshot under concurrent appends
    if (len == 0L || maxRecs <= 0) return ShardPos(fromBytes, 0L)
    val fr = new Frames(file)
    try {
      // position 0 is the logical start: verify the magic once (fail fast
      // on any other framing, like the engine's catalog version check),
      // then begin at the first record boundary behind it
      val start = if (fromBytes == 0L) {
        val i = if (len < HEADER) -1 else fr.at(0L, MAGIC.length)
        if (i < 0 || !java.util.Arrays.equals(fr.bytes(i, MAGIC.length), MAGIC))
          throw badFraming(file)
        HEADER
      } else fromBytes
      var pos = start
      var recs = 0L
      var ok = true
      while (ok && recs < maxRecs && pos + 12 <= len) {
        val i = fr.at(pos, 12)
        val pkLen = if (i < 0) -2 else fr.int(i + 8)
        val pkSkip = math.max(pkLen, 0)
        if (pkLen < -1 || pos + 12 + pkSkip + 4 > len) ok = false
        else {
          val j = fr.at(pos + 12 + pkSkip, 4)
          val dataLen = if (j < 0) -2 else fr.int(j)
          val end = pos + 16 + pkSkip + math.max(dataLen, 0)
          if (dataLen < -1 || end > len) ok = false
          else { pos = end; recs += 1 }
        }
      }
      bytesScanned.addAndGet(pos - start)
      ShardPos(pos, recs)
    } finally fr.close()
  }

  /** A read window over one shard file: one heap buffer refilled by
    * positional channel reads, so scans and readers decode records from
    * memory rather than with a stream call per field. */
  private[sources] final class Frames(val file: java.io.File) extends java.io.Closeable {
    private val ch = java.nio.channels.FileChannel.open(file.toPath)
    private var buf = java.nio.ByteBuffer.allocate(1 << 16)
    private var base = 0L // file position of buffer index 0
    private var valid = 0 // bytes of the file held from index 0

    /** Buffer index of file position `pos` with `n` bytes valid behind it,
      * or −1 when the file ends first. A refill keeps the unread tail and
      * grows the buffer only for a record larger than it. */
    def at(pos: Long, n: Int): Int = {
      val off = pos - base
      if (off >= 0 && off + n <= valid) return off.toInt
      val keep = if (off >= 0 && off < valid) valid - off.toInt else 0
      val dst = if (n > buf.capacity) java.nio.ByteBuffer.allocate(n) else buf
      System.arraycopy(buf.array, valid - keep, dst.array, 0, keep)
      buf = dst; base = pos; valid = keep
      while (valid < n) {
        buf.position(valid)
        val r = ch.read(buf, base + valid)
        if (r < 0) return -1
        valid += r
      }
      0
    }

    def int(i: Int): Int = buf.getInt(i)
    def long(i: Int): Long = buf.getLong(i)
    def bytes(i: Int, n: Int): Array[Byte] = java.util.Arrays.copyOfRange(buf.array, i, i + n)
    override def close(): Unit = ch.close()
  }

  /** Arrival timestamp (epoch millis) of the record starting at `bytePos`
    * (0 = first record), or None if the position is past EOF /
    * mid-append. O(1) — one seek. */
  def arrivalTsAt(file: java.io.File, bytePos: Long): Option[Long] = {
    val pos = if (bytePos == 0L) HEADER else bytePos
    if (pos < 0 || pos + 8 > file.length()) return None
    val raf = new java.io.RandomAccessFile(file, "r")
    try { raf.seek(pos); Some(raf.readLong()) } finally raf.close()
  }

  /** Full positions of every shard (one complete scan — observability /
    * one-time initialization only; the streaming hot path never calls
    * this). */
  def latestPositions(dir: String): Map[String, ShardPos] =
    shardFiles(dir).map(f => f.getName -> scanForward(f, 0L, Long.MaxValue)).toMap

  /** Monotone tail cache over one log directory: every [[advance]] scans
    * only bytes appended since the previous call, so cumulative scan cost
    * is O(data ingested), never O(data × polls). Shared by the micro-batch
    * driver and the engine's seqnums observability view. */
  final class TailCache(dir: String) {
    private val tail = scala.collection.mutable.Map[String, ShardPos]()
    def advance(): Map[String, ShardPos] = synchronized {
      shardFiles(dir).foreach { f =>
        val t = tail.getOrElse(f.getName, ShardPos(0L, 0L))
        if (f.length() > t.bytes) {
          val d = scanForward(f, t.bytes, Long.MaxValue)
          tail(f.getName) = ShardPos(d.bytes, t.recs + d.recs)
        }
      }
      tail.toMap
    }
  }

  /** {"shard-0.log":[120,12],...} with sorted keys; [bytePos, nextSeq]. */
  def offsetJson(m: Map[String, ShardPos]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, p) => s""""$k":[${p.bytes},${p.recs}]""" }
      .mkString("{", ",", "}")

  private val OffsetEntry =
    """"((?:[^"\\]|\\.)*)"\s*:\s*(?:\[\s*(-?\d+)\s*,\s*(-?\d+)\s*\]|(-?\d+))""".r

  /** Parses the `{"shard":[bytes,recs]}` offset form. The legacy
    * `{"shard":nextSeq}` bare-number form FAILS FAST: such a checkpoint
    * was written against a v1 escaped-text log, which the current binary
    * framing cannot scan — "resolving" it would silently compute garbage
    * positions. */
  def parseOffsetJson(s: String): Map[String, ShardPos] =
    OffsetEntry.findAllMatchIn(s).map { m =>
      val k = m.group(1)
      if (m.group(4) != null) throw new IllegalStateException(
        s"offset checkpoint entry for '$k' uses the legacy bare-number " +
          "form, written by a graft version with escaped-text shard logs " +
          "— that checkpoint cannot pair with GRAFTLG3 logs. Remove the " +
          "old checkpoint (the consumer restarts from start_seq) or " +
          "migrate the log.")
      k -> ShardPos(m.group(2).toLong, m.group(3).toLong)
    }.toMap

  /** Group per-shard slices into at most `parallelism` tasks (round-robin;
    * 0 = one task per shard). The reference's parallelism knob caps worker
    * processes and assigns shards modulo worker (pipeline_kinesis.c:439-451,
    * MAX_PROCS cap at pipeline_kinesis.c:54). */
  def groupSlices(slices: Seq[ShardedLogSlice], parallelism: Int): Array[InputPartition] = {
    val n = if (parallelism <= 0) slices.size else math.min(parallelism, slices.size)
    if (n == 0) Array.empty
    else slices.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1)
      .map { case (_, xs) => ShardedLogPartition(xs.map(_._1)): InputPartition }
      .toArray
  }
}

case class ShardedLogOffset(pos: Map[String, ShardedLog.ShardPos]) extends Offset {
  override def json(): String = ShardedLog.offsetJson(pos)
}

class ShardedLogProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardedLog.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ShardedLogTable(properties.get("path"),
      Option(properties.get("batchsize")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("startingposition")).getOrElse("trim_horizon"),
      Option(properties.get("parallelism")).map(_.toInt).getOrElse(0))
}

class ShardedLogTable(path: String, batchsize: Long, startPos: String, parallelism: Int)
    extends Table with SupportsRead {
  require(path != null, "ShardedLog requires a 'path' option")
  override def name(): String = s"sharded_log($path)"
  override def schema(): StructType = ShardedLog.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ShardedLogScan(path, batchsize, startPos, parallelism)
}

class ShardedLogScan(path: String, batchsize: Long, startPos: String, parallelism: Int)
    extends Scan {
  override def readSchema(): StructType = ShardedLog.SCHEMA
  override def description(): String = s"ShardedLog($path)"

  override def toBatch: Batch = new Batch {
    // slice bounds MUST sit on record boundaries (the reader trusts them),
    // so plan to the last complete record, not the raw file length — a
    // concurrent writer's torn tail is excluded, exactly like the
    // micro-batch offsets from scanForward.
    override def planInputPartitions(): Array[InputPartition] =
      ShardedLog.groupSlices(
        ShardedLog.shardFiles(path).map { f =>
          ShardedLogSlice(path, f.getName, 0L,
            ShardedLog.scanForward(f, 0L, Long.MaxValue).bytes, 0L)
        }, parallelism)
    override def createReaderFactory(): PartitionReaderFactory = ShardedLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedLogMicroBatchStream(path, batchsize, startPos, parallelism)
}

class ShardedLogMicroBatchStream(path: String, batchsize: Long, startPos: String,
                                 parallelism: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  import ShardedLog.ShardPos

  private val tailCache = new ShardedLog.TailCache(path)

  // Trigger.AvailableNow (batch-backfill mode): the end positions captured
  // at query start. Subsequent micro-batches (still batchsize-capped, so a
  // backlog drains through several) never admit past this snapshot, and
  // shards created after the snapshot wait for the next run — the same
  // "process what existed when the query started" contract as Spark's
  // Kafka/file sources.
  @volatile private var availableNowCap: Option[Map[String, ShardPos]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(tailCache.advance())

  override def initialOffset(): Offset = {
    val init = startPos.toLowerCase match {
      case "trim_horizon" =>
        ShardedLog.shardFiles(path).map(f => f.getName -> ShardPos(0L, 0L)).toMap
      case "latest" => tailCache.advance()
      case p if p.startsWith("after_sequence_number:") =>
        val n = p.substring("after_sequence_number:".length).toLong
        // one-time bounded scan: byte position of record n+1 (or EOF)
        ShardedLog.shardFiles(path).map { f =>
          val d = ShardedLog.scanForward(f, 0L, n + 1)
          f.getName -> ShardPos(d.bytes, d.recs)
        }.toMap
      case other => throw new IllegalArgumentException(
        s"unknown startingposition '$other' (trim_horizon|latest|after_sequence_number:<n>)")
    }
    ShardedLogOffset(init)
  }

  // Admission control separates "what this trigger may ingest" (capped at
  // batchsize per shard — the GetRecords limit) from "what exists" —
  // Spark keeps triggering until the two agree, so processAllAvailable
  // drains a backlog through multiple capped micro-batches.
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ShardedLogOffset].pos
    val next = ShardedLog.shardFiles(path).map { f =>
      val p = s.getOrElse(f.getName, ShardPos(0L, 0L))
      if (f.length() > p.bytes) {
        // scan only the admitted window: ≤ batchsize records past `start`
        val d = ShardedLog.scanForward(f, p.bytes, batchsize)
        f.getName -> ShardPos(d.bytes, p.recs + d.recs)
      } else f.getName -> p
    }.toMap
    val capped = availableNowCap match {
      case None => next
      case Some(cap) => next.map { case (shard, p) =>
        val from = s.getOrElse(shard, ShardPos(0L, 0L))
        // clamp to the snapshot; never regress below the committed start
        // (positions are record-aligned, so the clamp is batch-consistent)
        val c = cap.getOrElse(shard, from)
        shard -> (if (c.bytes < from.bytes) from
                  else if (p.bytes > c.bytes) c else p)
      }
    }
    ShardedLogOffset(capped)
  }

  override def reportLatestOffset(): Offset = ShardedLogOffset(tailCache.advance())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset =
    ShardedLogOffset(ShardedLog.parseOffsetJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardedLogOffset].pos
    val e = end.asInstanceOf[ShardedLogOffset].pos
    val slices = e.toSeq.sortBy(_._1).flatMap { case (shard, until) =>
      val from = s.getOrElse(shard, ShardPos(0L, 0L))
      if (until.bytes > from.bytes)
        Some(ShardedLogSlice(path, shard, from.bytes, until.bytes, from.recs))
      else None
    }
    ShardedLog.groupSlices(slices, parallelism)
  }

  override def createReaderFactory(): PartitionReaderFactory = ShardedLogReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One shard slice [fromBytes, untilBytes) — the reference's shard→worker
  * assignment unit (pipeline_kinesis.c:439-451). `fromRec` seeds the
  * sequence numbers for the slice; both bounds sit on record boundaries. */
case class ShardedLogSlice(path: String, shard: String,
                           fromBytes: Long, untilBytes: Long, fromRec: Long)

/** One executor task: one or more shard slices read sequentially (the
  * parallelism knob maps N shards onto ≤ parallelism tasks, like the
  * reference's modulo shard→worker loop). */
case class ShardedLogPartition(slices: Seq[ShardedLogSlice]) extends InputPartition

object ShardedLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slices = partition.asInstanceOf[ShardedLogPartition].slices
    new PartitionReader[InternalRow] {
      private var sliceIdx = -1
      private var frames: ShardedLog.Frames = _
      private var pos = 0L
      private var until = 0L
      private var seq = 0L
      private var shardName: UTF8String = _
      private var row: InternalRow = _

      private def openNext(): Boolean = {
        if (frames != null) { frames.close(); frames = null }
        sliceIdx += 1
        if (sliceIdx >= slices.length) return false
        val p = slices(sliceIdx)
        // seek straight to the slice: no prefix re-read, Long-safe
        // positions; fromBytes 0 is the logical start, i.e. the first
        // record boundary behind the magic header (verified driver-side
        // by the scanForward that planned these bounds)
        pos = if (p.fromBytes == 0L) ShardedLog.HEADER else p.fromBytes
        until = p.untilBytes
        frames = new ShardedLog.Frames(new java.io.File(p.path, p.shard))
        seq = p.fromRec - 1
        shardName = UTF8String.fromString(p.shard.stripSuffix(".log"))
        true
      }

      private def need(at: Long, n: Int): Int = {
        val i = frames.at(at, n)
        if (i < 0) throw new java.io.EOFException(
          s"${frames.file}: record at byte $pos runs past the end of the file")
        i
      }

      /** Decode one whole record of the current slice, or null at its end.
        * Both slice bounds sit on record boundaries (scanForward-derived),
        * so what remains is 0 or ≥ one 16-byte header at every boundary.
        * Key and data are copied out: a row must not alias the window. */
      private def readRecord(): InternalRow = {
        if (until - pos < 16) return null
        val i = need(pos, 12)
        val ts = frames.long(i)
        val pkLen = frames.int(i + 8)
        val pkSkip = math.max(pkLen, 0)
        val j = need(pos + 12, pkSkip + 4)
        val pk = if (pkLen < 0) null else UTF8String.fromBytes(frames.bytes(j, pkLen))
        val dataLen = frames.int(j + pkSkip)
        val data =
          if (dataLen < 0) null else frames.bytes(need(pos + 16 + pkSkip, dataLen), dataLen)
        pos += 16L + pkSkip + math.max(dataLen, 0)
        seq += 1
        InternalRow(shardName, seq, pk, data, ts * 1000L)
      }

      override def next(): Boolean = {
        row = if (frames == null) null else readRecord()
        while (row == null && openNext()) row = readRecord()
        row != null
      }

      override def get(): InternalRow = row

      override def close(): Unit = if (frames != null) frames.close()
    }
  }
}
