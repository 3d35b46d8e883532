package graft.connector

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 connector for the file-backed log store — the engine's
  * "custom Pravega source" (SURVEY.md §7.1 LogStore v2; the reference's
  * Pravega connector surface, processor.py:82,105,216): a stream is a
  * directory of immutable JSON-line segment files; the connector exposes
  * it for BATCH_READ (the reference's scan.execution.type=batch) and
  * MICRO_BATCH_READ with real offsets.
  *
  * Offset model: an offset is the set of fully-consumed segment files
  * (segments are immutable and appended whole, so file granularity IS
  * the per-segment offset), serialized COMPACTLY: stamped segment names
  * sort in append order, so the consumed prefix folds into a single
  * watermark name plus a lag-bounded exception list (see LogOffsetV2) —
  * the serialized offset stays bounded as the stream grows instead of
  * enumerating every consumed name. A micro-batch reads exactly the
  * segments in `latest -- start`, one input partition per segment — so
  * a restart from a checkpoint resumes precisely after the consumed
  * set, and executors read segments in parallel like any file scan.
  * Retention interacts through stamped tombstones: vacuuming data a
  * lagging checkpoint had not yet consumed fails the query
  * (failOnDataLoss=false downgrades to a warning, Kafka-style).
  *
  * Rows are `value: STRING` JSON lines; decoding to the declared schema
  * happens in the query via from_json (LogStore.decode), keeping the
  * connector schema-agnostic like a real stream store.
  */
class LogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogSourceV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogTable(Option(properties.get("path")).getOrElse(
      sys.error("graft log source requires option 'path'")))

  override def supportsExternalMetadata(): Boolean = false
}

object LogSourceV2 {
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = true)))

  // --- Hadoop-FS plumbing (r18, the r17-verdict #3 port) --------------
  // The log store is the engine's identity component (the Pravega-
  // analog inter-job transport); with the artifact layer already on the
  // Hadoop FS API since r17, the TRANSPORT is off java.io.File too, so
  // a stream directory can live on HDFS/object storage like any other
  // 100 TB artifact. Small-record IO and path spelling are the SHARED
  // Work helpers (r18 review: one implementation of the canonical
  // spelling and the atomic record-replace for every module).
  // Default-filesystem paths spell PLAIN — which preserves the
  // pre-port spelling of serialized offsets/stream-cuts/tombstones on
  // a local-default box — and other-filesystem paths stay qualified
  // (a `file:`-spelled stream on an hdfs-default cluster must not
  // serialize a string that re-resolves against HDFS).

  /** Canonical string spelling of a store path (see above). */
  private[connector] def spell(p: org.apache.hadoop.fs.Path): String =
    graft.Work.spell(p)

  private[connector] def pathExists(p: String): Boolean =
    graft.Work.pathExists(p)

  /** Marker left by [[LogStore.compact]] recording the last compaction
    * stamp. Underscore-prefixed, so invisible to segment listings; its
    * presence lets readers/appenders distinguish "stream was compacted
    * under me" from ordinary corruption and fail with an actionable
    * message instead of FileNotFound or silent re-reads.
    */
  val CompactionMarker = "_graft_compaction"

  /** Stamp of the last compaction of `dir`, 0 if never compacted. */
  def compactionStamp(dir: String): Long =
    graft.Work.readSmallRecord(dir, CompactionMarker).map(_.trim.toLong).getOrElse(0L)

  /** A failed stamp write SURFACES (replaceSmallRecord propagates the
    * root cause): the stamp arms the checkpoint guards BEFORE the
    * destructive phase of compact/truncate, and proceeding unstamped
    * would disarm them silently. */
  private[connector] def writeCompactionStamp(dir: String, stamp: Long): Unit =
    graft.Work.replaceSmallRecord(dir, CompactionMarker, stamp.toString)

  /** Tombstone of retention-deleted segment paths (one per line, the
    * vacuum stamp tab-prefixed; legacy lines are bare paths = stamp 0).
    * Distinguishes "consumed then retention-trimmed" (safe for a
    * checkpointed reader to resume over — the data was already read and
    * no rewrite exists) from "compacted" (the data was REWRITTEN into
    * new segments, so resuming would re-read it — must refuse). The
    * stamp lets a resuming reader separate vacuums it already accounted
    * for (stamp <= its offset's vacuum horizon) from vacuums that
    * removed data it had NOT yet consumed — the failOnDataLoss check.
    * [[graft.connector.LogStore.compact]] prunes the file: compaction
    * invalidates every checkpoint anyway (stamp guard), so no reader
    * can still reference the entries. */
  val VacuumTombstone = "_graft_vacuumed"

  def vacuumedSegments(dir: String): Set[String] =
    vacuumedStamped(dir).map(_._1).toSet

  /** (path, vacuum stamp) pairs from the tombstone file. */
  def vacuumedStamped(dir: String): Seq[(String, Long)] =
    graft.Work.readSmallRecord(dir, VacuumTombstone).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty)
      .map { line =>
        line.split("\t", 2) match {
          case Array(st, path) if st.forall(_.isDigit) && st.nonEmpty =>
            (path, st.toLong)
          case _ => (line, 0L) // legacy bare-path line
        }
      }

  def maxVacuumStamp(dir: String): Long =
    vacuumedStamped(dir).map(_._2).maxOption.getOrElse(0L)

  /** Append tombstone entries: read-extend-swap (the atomic
    * [[graft.Work.replaceSmallRecord]]) — FileSystem.append is
    * unsupported on several stores (the checksummed local fs among
    * them), and the swap gives concurrent readers old-or-new instead
    * of a truncated middle. The read-modify-replace runs under an
    * exclusive lock record (r18 ADVICE: the single-coordinator
    * contract was comment-only — two concurrent truncate/vacuum calls
    * could silently lose each other's entries BEFORE the data files
    * are deleted, stranding a resumed checkpoint on the generic
    * consumed-set error instead of the vacuumed-segment route). A
    * failed replace must SURFACE (data deletion follows the tombstone
    * — fail-safe ordering), hence the propagation. */
  private[connector] def recordVacuumed(dir: String, segs: Seq[String],
      stamp: Long): Unit =
    graft.Work.withExclusiveRecord(dir, "_graft_vacuum_lock") {
      val prior = graft.Work.readSmallRecord(dir, VacuumTombstone)
        .getOrElse("")
      // a failed replace propagates from replaceSmallRecord with its
      // root cause — data deletion follows the tombstone (fail-safe
      // ordering)
      graft.Work.replaceSmallRecord(dir, VacuumTombstone,
        prior + segs.map(s => s"$stamp\t$s").mkString("", "\n", "\n"))
    }

  // --- put-commit mode (r18 verdict #2) --------------------------------
  // On S3-class object stores FileSystem.rename is a copy — a reader
  // listing mid-copy can open a PARTIALLY-copied segment (GuardSpec
  // demonstrates it against a test FS whose file rename dies half-way).
  // The put commit mode mirrors the artifact layer's markerLast: tasks
  // still stage invisibly, but the driver then writes each segment to
  // its FINAL name through one output stream (a single-object PUT is
  // atomic on the stores that need this mode) and publishes the whole
  // append with ONE marker object, `_put-<stamp>-<tag>` — no rename
  // anywhere on the visible path. Put-named segments
  // (`segment-<stamp>-<i>-<tag>-p.json`) are GATED in the listing on
  // their append's marker, so even on a store whose create() is
  // visible mid-write (local fs, HDFS) a reader can never observe a
  // partial or uncommitted segment: the marker is written strictly
  // after every data stream closed. A crashed put append leaves
  // marker-less files that stay invisible forever and are swept by the
  // next [[LogStore.compact]].
  private[connector] val PutMarkerPrefix = "_put-"

  private val PutPendingName =
    """segment-(\d{20})-\d{5}-([0-9a-f]{8})-p\.json""".r

  /** The `<stamp>-<tag>` commit key of a put-mode segment name, None
    * for rename-committed/foreign names. */
  private[graft] def putKey(name: String): Option[String] =
    name match {
      case PutPendingName(stamp, tag) => Some(s"$stamp-$tag")
      case _ => None
    }

  /** Data segment files in `dir` with their FileStatus (one listStatus
    * resolves names, sizes, mtimes AND put-commit markers for every
    * consumer), sorted by the canonical path spelling — the same order
    * the old name sort gave. Put-mode segments are included only when
    * their append's `_put-` marker exists (see above): the gate that
    * makes a put-committed append atomic for readers. */
  def listSegmentStatuses(
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fsys, d) = graft.Work.fs(dir)
    if (!fsys.exists(d)) Nil
    else {
      val all = fsys.listStatus(d).toSeq
      val markers = all.iterator.map(_.getPath.getName)
        .filter(_.startsWith(PutMarkerPrefix)).toSet
      all
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith(".") && !n.startsWith("_") &&
            putKey(n).forall(k => markers.contains(PutMarkerPrefix + k))
        }
        .sortBy(st => spell(st.getPath))
    }
  }

  /** Data segment files in `dir`, sorted by name (no _SUCCESS/hidden). */
  def listSegments(dir: String): Seq[String] =
    listSegmentStatuses(dir).map(st => spell(st.getPath))

  // --- stamped segment names ------------------------------------------

  /** Segment names written by the store's commit paths carry a
    * zero-padded, per-directory strictly-increasing stamp:
    * `segment-<stamp 20 digits>-....json`. Stamped names therefore sort
    * in append order, which is what lets the streaming offset fold its
    * consumed set into a watermark instead of enumerating every name
    * (the round-4 offset grew with the segment count). Names from other
    * writers (streaming file sink part files, legacy segments) are
    * simply not watermark-eligible and ride in the offset's explicit
    * list. */
  private val StampedName = """segment-(\d{20})-.*""".r

  def isStamped(path: String): Boolean = stampOf(path) >= 0L

  def stampOf(path: String): Long =
    path.substring(path.lastIndexOf('/') + 1) match {
      // 20 digits can exceed Long.MaxValue — a foreign writer's name
      // must degrade to "unstamped" (explicit-list routing), not crash
      // every listing-driven path with a NumberFormatException
      case StampedName(d) =>
        try d.toLong catch { case _: NumberFormatException => -1L }
      case _ => -1L
    }

  /** Grace window for watermark advancement: only stamped names older
    * than this fold under the watermark, so a commit whose rename lands
    * up to a minute after its stamp was computed cannot sort under an
    * already-advanced watermark and be silently treated as consumed.
    * Names inside the window ride in the offset's explicit list.
    * Deployments whose rename path can stall longer (slow object store,
    * long GC pauses) raise it via -Dgraft.log.watermarkGraceMs=...;
    * a commit landing later than the grace is additionally detected at
    * its first listing appearance (loud warning in latestOffset). */
  def WatermarkGraceMs: Long =
    sys.props.get("graft.log.watermarkGraceMs").map(_.toLong)
      .getOrElse(60000L)

  /** Next segment stamp for `dir`: strictly above every stamped segment
    * already visible (and the wall clock, so stamps stay meaningful
    * across streams). Driver-side callers only — concurrent appenders
    * in separate JVMs could still race to the same stamp within one
    * listing window, which the per-append unique suffix keeps
    * collision-free (same-stamp siblings are handled by the offset's
    * boundary-stamp rule). */
  private[connector] def nextSegmentStamp(dir: String): Long = {
    val maxSeen = listSegments(dir).map(stampOf).maxOption.getOrElse(-1L)
    math.max(maxSeen + 1, System.currentTimeMillis())
  }
}

final class LogTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graftlog(`$path`)"
  override def schema(): StructType = LogSourceV2.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new LogScan(path, options.getBoolean("failOnDataLoss", true),
          options.getInt("maxFilesPerTrigger", 8))
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new LogBatchWrite(path,
          info.queryId(),
          Option(info.options.get("commitMode"))
            .getOrElse(LogStore.defaultCommitMode))
      }
    }
}

/** V2 batch append with a two-phase commit — the log store's one
  * write path, behind both [[LogStore.append]] and `INSERT INTO`: tasks
  * write dot-prefixed staging files (invisible to
  * [[LogSourceV2.listSegments]]) and the driver's commit publishes the
  * committed tasks' files with [[LogStore.publishSegments]] — readers
  * never observe a partial write, task retries/speculation leave only
  * the one committed attempt, and abort deletes the staging files.
  * `commitMode` (option `commitMode` on the write, default
  * [[LogStore.defaultCommitMode]]) picks the publish: `rename` is one
  * atomic rename per file; `put` copies each file to its final
  * put-named segment and gates visibility on one trailing `_put-`
  * marker — the object-store mode where rename is a half-readable
  * copy (r18 verdict #2).
  */
final class LogBatchWrite(path: String, queryId: String,
    commitMode: String = LogStore.defaultCommitMode) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    // DRIVER-side capture of the session Hadoop conf (r18 verdict #1):
    // the factory ships it into every task, so a scheme/credential
    // registered only on the session (spark.conf.set("fs.x.impl", …))
    // resolves inside executors exactly as it does on the driver —
    // previously tasks fell back to the classpath Configuration, which
    // silently lacks session-level registrations on a real cluster
    LogWriterFactory(path, queryId, graft.Work.taskConf())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // one stamp per commit, strictly above everything visible, so the
    // streaming offset can watermark over the published names; a fresh
    // random tag per COMMIT (not a queryId prefix): two concurrent
    // writes that list before either publishes get the same stamp, and
    // ATOMIC_MOVE on POSIX silently REPLACES an existing target — a tag
    // collision would be silent data loss, so it must be practically
    // impossible
    val (fsys, dirPath) = graft.Work.fs(path)
    LogStore.publishSegments(fsys, dirPath,
      messages.toSeq.collect {
        case LogCommitMessage(tmp) if tmp.nonEmpty => tmp
      },
      LogSourceV2.nextSegmentStamp(path),
      java.util.UUID.randomUUID().toString.take(8), commitMode)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LogCommitMessage(tmp) if tmp.nonEmpty =>
        val (fsys, p) = graft.Work.fs(tmp)
        fsys.delete(p, false): Unit
      case _ => ()
    }
}

final case class LogCommitMessage(tmpPath: String)
    extends WriterCommitMessage

final case class LogWriterFactory(path: String, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // lazily created: an empty partition commits no segment; the
      // FINAL (stamped) name is assigned by the driver-side commit.
      // EXECUTOR-side FS resolution goes through the SHIPPED driver
      // session conf (r18 verdict #1) — no SparkSession exists in a
      // task, and the classpath Configuration fallback Work.fs would
      // use covers file:/hdfs:/core-site stores but silently lacks any
      // scheme or credential registered only on the driver's session.
      private var out: java.io.OutputStream = _
      private var fsys: org.apache.hadoop.fs.FileSystem = _
      private var tmp: org.apache.hadoop.fs.Path = _

      override def write(record: InternalRow): Unit = {
        if (out == null) {
          val (f, dirPath) = graft.Work.fsWith(conf.value, path)
          fsys = f
          fsys.mkdirs(dirPath): Unit
          tmp = new org.apache.hadoop.fs.Path(dirPath,
            s".tmp-$queryId-$partitionId-$taskId")
          out = new java.io.BufferedOutputStream(fsys.create(tmp, true))
        }
        // the value's UTF-8 bytes go out as-is (no String decode); the
        // schema's value column is nullable: a NULL payload round-trips
        // as the JSON literal `null` (from_json decodes it to a null
        // struct), never an NPE
        val v = record.getUTF8String(0)
        if (v == null)
          out.write("null".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        else v.writeTo(out)
        out.write('\n')
      }

      override def commit(): WriterCommitMessage = {
        // spelled against the SHIPPED conf's defaultFS (the driver's),
        // not the task's fallback default — an executor whose local
        // default differs from the cluster's would otherwise serialize
        // a plain path that re-resolves against the wrong store
        if (out == null) LogCommitMessage("")
        else { out.close()
          LogCommitMessage(graft.Work.spellWith(conf.value, tmp)) }
      }

      override def abort(): Unit = if (out != null) {
        out.close()
        fsys.delete(tmp, false): Unit
      }

      override def close(): Unit = ()
    }
}

final class LogScan(path: String, failOnDataLoss: Boolean = true,
    maxFilesPerTrigger: Int = 8)
    extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = LogSourceV2.schema
  override def description(): String = s"graft log scan of $path"

  /** Size statistics from segment file lengths — lets the planner make
    * broadcast decisions for small streams read through the V2 path
    * (a stats-less V2 table defaults to "huge", never broadcast). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = LogSourceV2.listSegmentStatuses(path)
      .map(_.getLen).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      LogSourceV2.listSegments(path).map(LogSegmentPartition(_): InputPartition)
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      // driver-side conf capture, shipped to every reader task
      LogSegmentReaderFactory(graft.Work.taskConf())
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(path, failOnDataLoss, maxFilesPerTrigger)
}

/** Offset = the consumed segment set, encoded compactly:
  *
  *  - `watermark` ("" = none): every STAMPED segment name <= watermark
  *    is consumed unless listed in `holes` — the per-directory
  *    watermark that keeps the serialized offset bounded as the stream
  *    grows (the raw consumed set grew with total segment count).
  *  - `holes`: stamped names <= watermark NOT consumed (the admission
  *    cap can skip ahead; bounded by reader lag, not stream length).
  *  - `extra`: explicitly-consumed names outside the watermark —
  *    unstamped writers (streaming file-sink part files, legacy names)
  *    and the newest stamp group. The watermark only ever advances to
  *    names STRICTLY BELOW the newest consumed stamp, so a same-stamp
  *    sibling segment committed by a racing appender can never sort
  *    under it and be silently treated as consumed.
  *  - `vacuumHorizon`: newest vacuum stamp this reader has observed;
  *    a tombstone above it naming an unconsumed segment is data loss
  *    (failOnDataLoss semantics, round-4 advice).
  *  - `consumedCount`: cumulative number of segments ever consumed —
  *    the integrity cross-check that turns an externally-deleted,
  *    untombstoned planned segment (invisible to the compact encoding)
  *    into a loud replay failure instead of silent loss: a replayed
  *    batch must find exactly end.count - start.count segments.
  *    -1 = unknown (offsets written before the field existed), which
  *    disables the check.
  *
  * Legacy offsets (plain JSON array of consumed names) deserialize
  * with everything in `extra` and horizon 0.
  */
final case class LogOffsetV2(watermark: String, holes: Set[String],
    extra: Set[String], vacuumHorizon: Long,
    consumedCount: Long = -1L) extends Offset {

  def isConsumed(path: String): Boolean =
    extra.contains(path) ||
      (watermark.nonEmpty && LogSourceV2.isStamped(path) &&
        path <= watermark && !holes.contains(path))

  /** The names whose liveness proves the checkpoint still matches the
    * stream: every explicit entry plus the watermark segment itself
    * (compaction deletes it; vacuum tombstones it). */
  def livenessWitnesses: Seq[String] =
    (if (watermark.nonEmpty) extra + watermark else extra).toSeq

  override def json(): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("v", 2): Unit
    root.put("w", watermark): Unit
    val h = root.putArray("h")
    holes.toSeq.sorted.foreach(h.add(_): Unit)
    val x = root.putArray("x")
    extra.toSeq.sorted.foreach(x.add(_): Unit)
    root.put("vs", vacuumHorizon): Unit
    root.put("n", consumedCount): Unit
    mapper.writeValueAsString(root)
  }
}

object LogOffsetV2 {
  /** Consumed-nothing offset with a vacuum horizon of `vs` (a fresh
    * reader accounts all vacuums that predate it — retention before
    * subscription is not data loss, matching Kafka semantics). */
  def initial(vs: Long): LogOffsetV2 =
    LogOffsetV2("", Set.empty, Set.empty, vs, 0L)

  /** Exact-set offset (no watermark) — legacy shape and tests; the
    * enumeration is exact, so the count is too. */
  def ofSegments(segments: Seq[String]): LogOffsetV2 =
    LogOffsetV2("", Set.empty, segments.toSet, 0L, segments.size.toLong)

  def fromJson(json: String): LogOffsetV2 = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    if (node.isArray)
      ofSegments(node.elements().asScala.map(_.asText()).toSeq)
    else {
      require(node.isObject && node.has("w"),
        s"unrecognized graft log offset JSON: $json")
      LogOffsetV2(
        node.get("w").asText(),
        node.get("h").elements().asScala.map(_.asText()).toSet,
        node.get("x").elements().asScala.map(_.asText()).toSet,
        node.get("vs").asLong(),
        if (node.has("n")) node.get("n").asLong() else -1L)
    }
  }
}

final case class LogSegmentPartition(file: String) extends InputPartition

/** Admission control caps each micro-batch at a bounded number of
  * segments; SupportsTriggerAvailableNow pins the end offset at query
  * start so Trigger.AvailableNow drains in proper batches (with
  * between-batch watermark advancement and the trailing no-data batch
  * that finalizes append-mode windows) instead of degrading to a single
  * Trigger.Once-style batch.
  */
final class LogMicroBatchStream(path: String, failOnDataLoss: Boolean = true,
    maxFilesPerTrigger: Int = 8)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private var availableNowEnd: Option[Seq[String]] = None

  override def initialOffset(): Offset =
    LogOffsetV2.initial(LogSourceV2.maxVacuumStamp(path))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(LogSourceV2.listSegments(path))

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxFiles(maxFilesPerTrigger)

  private def allAvailable: Seq[String] =
    availableNowEnd.getOrElse(LogSourceV2.listSegments(path))

  override def latestOffset(): Offset =
    sys.error("latestOffset(start, limit) should be called (admission control)")

  /** Refuse to continue when a checkpointed offset's witness segments no
    * longer exist: after a compaction the consumed set's file names are
    * gone, so every compacted segment would look "fresh" and the query
    * would silently RE-READ all previously consumed data. A CONSUMED
    * segment deleted by retention vacuum is tombstoned and safe to
    * resume over (fully read, no rewritten copy); compaction-deleted
    * segments are not tombstoned, so that unsafe case still refuses.
    */
  private def requireConsumedIntact(off: LogOffsetV2): Unit = {
    var missing = off.livenessWitnesses
      .filterNot(LogSourceV2.pathExists)
    if (missing.nonEmpty)
      missing = missing.filterNot(LogSourceV2.vacuumedSegments(path))
    if (missing.nonEmpty) fail("checkpoint (consumed-set)", missing)
  }

  private def fail(role: String, missing: Seq[String]): Nothing = {
    val stamp = LogSourceV2.compactionStamp(path)
    val cause =
      if (stamp > 0)
        s"the stream was compacted or vacuumed (marker stamp $stamp)"
      else "the segment files were removed outside the store"
    throw new IllegalStateException(
      s"graft log stream at $path: $role offset references " +
        s"${missing.size} segment(s) that no longer exist ($cause). " +
        "Resuming would duplicate or lose consumed data — restart " +
        "the query with a fresh checkpoint.")
  }

  /** The failOnDataLoss guard (round-4 advice): a tombstone with a
    * vacuum stamp ABOVE the checkpoint's horizon naming a segment this
    * checkpoint never consumed means retention destroyed data the
    * reader still needed — the lagging-reader case the liveness check
    * cannot see (the checkpoint never referenced the segment). Fails
    * hard unless the source was opened with failOnDataLoss=false, which
    * downgrades to a loud warning (Kafka-source semantics). Returns the
    * new horizon. */
  private def checkDataLoss(startOff: LogOffsetV2,
      tombs: Seq[(String, Long)]): Long = {
    val lost = tombs.filter { case (p, st) =>
      st > startOff.vacuumHorizon && !startOff.isConsumed(p)
    }
    if (lost.nonEmpty) {
      val msg =
        s"graft log stream at $path: ${lost.size} segment(s) were " +
          s"vacuumed before this checkpoint consumed them (e.g. " +
          s"${lost.head._1}) — data the reader still needed is gone."
      if (failOnDataLoss) throw new IllegalStateException(
        msg + " Restart from a fresh checkpoint, or set the source " +
          "option failOnDataLoss=false to continue with data loss.")
      System.err.println(s"[graft] WARNING $msg Continuing " +
        "(failOnDataLoss=false).")
    }
    math.max(startOff.vacuumHorizon,
      tombs.map(_._2).maxOption.getOrElse(0L))
  }

  /** Build the end offset: fold the post-batch consumed set into
    * watermark + holes + extra against the current listing. `tombs` is
    * the SAME tombstone read the loss check used — a vacuum landing
    * between two reads could otherwise prune an extra whose stamp is
    * above the horizon being written, tripping a spurious loss failure
    * on the next batch. */
  private def encodeEnd(startOff: LogOffsetV2, avail: Seq[String],
      admitted: Set[String], vs: Long,
      tombs: Seq[(String, Long)]): LogOffsetV2 = {
    def consumed(s: String) = startOff.isConsumed(s) || admitted(s)
    val consumedVisible = avail.filter(consumed)
    val stamped = consumedVisible.filter(LogSourceV2.isStamped)
    val w0 =
      if (stamped.isEmpty) ""
      else {
        // two guards against a racing appender's segment sorting under
        // an already-advanced watermark (which would silently mark it
        // consumed): (1) strictly below the newest consumed stamp, so
        // a SAME-stamp sibling can never fold under it; (2) a grace
        // window — stamps are wall-clock-scale, and a writer computes
        // its stamp before the (driver-side) rename lands, so only
        // names older than the grace period are watermark-eligible;
        // a commit delayed longer than the grace is outside the
        // store's single-coordinator contract.
        val cutoff = System.currentTimeMillis() - LogSourceV2.WatermarkGraceMs
        val maxStamp = stamped.map(LogSourceV2.stampOf).max
        val below = stamped.filter(s => {
          val st = LogSourceV2.stampOf(s)
          st < maxStamp && st < cutoff
        })
        if (below.isEmpty) "" else below.max
      }
    val w = if (w0 > startOff.watermark) w0 else startOff.watermark
    val tombNames = tombs.map(_._1).toSet
    val holes =
      if (w.isEmpty) Set.empty[String]
      else (avail ++ tombNames).filter(s =>
        LogSourceV2.isStamped(s) && s <= w && !consumed(s)).toSet
    // carry consumed names the listing no longer shows (needed to
    // detect compaction on resume), but prune ones tombstoned at or
    // below the horizon being written: their files are gone (no
    // re-read) and their stamps can no longer trip the loss check
    val prunable = tombs.filter(_._2 <= vs).map(_._1).toSet
    val extra = consumedVisible
      .filterNot(s => LogSourceV2.isStamped(s) && w.nonEmpty && s <= w)
      .toSet ++
      startOff.extra.filterNot(avail.contains).filterNot(prunable)
    // admitted segments were never consumed before, so the cumulative
    // count advances by exactly the admission size; an unknown start
    // count stays unknown (pre-field checkpoints)
    val n = if (startOff.consumedCount < 0) -1L
      else startOff.consumedCount + admitted.size
    LogOffsetV2(w, holes, extra, vs, n)
  }

  // every name seen in a previous listing of this stream instance: a
  // stamped segment whose FIRST appearance is already under the start
  // watermark was renamed later than the grace window allows — it
  // would be silently treated as consumed without ever being read.
  // That case is distinguishable exactly once (the listing diff), so
  // it is reported loudly here (round-5 advice); recovery is manual
  // (the single-coordinator contract was broken).
  private var seenListing: Option[Set[String]] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[LogOffsetV2]
    requireConsumedIntact(startOff)
    val tombs = LogSourceV2.vacuumedStamped(path)
    val vs = checkDataLoss(startOff, tombs)
    val avail = allAvailable
    seenListing.foreach { prev =>
      val late = avail.filter(s => !prev.contains(s) &&
        LogSourceV2.isStamped(s) && !startOff.extra.contains(s) &&
        startOff.isConsumed(s))
      if (late.nonEmpty)
        System.err.println(s"[graft] WARNING log stream $path: segment(s) " +
          late.mkString(", ") + " first appeared ALREADY UNDER the " +
          "consumed watermark — their commit landed after the " +
          s"${LogSourceV2.WatermarkGraceMs} ms grace window and they " +
          "will NOT be read; raise -Dgraft.log.watermarkGraceMs or fix " +
          "the appender's commit latency")
    }
    // prune vacuumed names while accumulating: a stamped segment name
    // is unique and its vacuum permanently retires it, so it can never
    // "first appear" again — without the prune this set grows with the
    // stream's FULL history under compaction/vacuum churn (unbounded
    // driver memory on a long-running query; round-6 advice), with it
    // the set is bounded by the live listing plus recent tombstones
    seenListing = Some(
      (seenListing.getOrElse(Set.empty[String]) ++ avail)
        -- tombs.map(_._1))
    val fresh = avail.filterNot(startOff.isConsumed)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    encodeEnd(startOff, avail, admitted.toSet, vs, tombs)
  }

  override def reportLatestOffset(): Offset = {
    val avail = allAvailable
    LogOffsetV2("", Set.empty, avail.toSet,
      LogSourceV2.maxVacuumStamp(path), avail.size.toLong)
  }

  override def deserializeOffset(json: String): Offset =
    LogOffsetV2.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[LogOffsetV2]
    val endOff = end.asInstanceOf[LogOffsetV2]
    requireConsumedIntact(startOff)
    requireConsumedIntact(endOff)
    val avail = LogSourceV2.listSegments(path)
    val planned = avail.filter(s =>
      endOff.isConsumed(s) && !startOff.isConsumed(s))
    // a WAL-replayed batch NEEDS its planned segments' data — gone is
    // gone, never tolerated here. Enumerable loss witnesses: (a) any
    // TOMBSTONED name inside (end -- start); (b) any start-offset HOLE
    // the end offset considers consumed but the listing lacks (a
    // sub-watermark name deleted outside the store). A sub-watermark
    // segment that was never a hole and was deleted untombstoned is
    // not enumerable from a compacted offset — external unlogged
    // deletion is outside the store's contract (the maintenance ops
    // always tombstone or bump the compaction stamp).
    val tombNames = LogSourceV2.vacuumedSegments(path)
    val availSet = avail.toSet
    val gone = (tombNames ++ startOff.holes).toSeq.distinct.filter(t =>
      endOff.isConsumed(t) && !startOff.isConsumed(t) &&
        !availSet.contains(t))
    if (gone.nonEmpty) fail("replayed-batch", gone)
    // cumulative-count integrity: fewer planned segments than the
    // offsets' count delta means a planned segment vanished WITHOUT a
    // tombstone (external deletion the compact encoding cannot name) —
    // fail rather than silently commit a partial batch. More planned
    // than the delta (a late stamped arrival folding under the end
    // watermark) self-corrects: the extra segment is simply read now.
    if (startOff.consumedCount >= 0 && endOff.consumedCount >= 0 &&
        planned.size < endOff.consumedCount - startOff.consumedCount)
      throw new IllegalStateException(
        s"graft log stream at $path: replayed batch expected " +
          s"${endOff.consumedCount - startOff.consumedCount} segment(s) " +
          s"but only ${planned.size} still exist and none are " +
          "tombstoned — segment files were removed outside the store. " +
          "Restart the query with a fresh checkpoint.")
    planned.map(LogSegmentPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // driver-side conf capture, shipped to every reader task
    LogSegmentReaderFactory(graft.Work.taskConf())

  /** Segments are immutable and retained; nothing to release. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final case class LogSegmentReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[LogSegmentPartition].file
    new PartitionReader[InternalRow] {
      // executor-side open through the Hadoop FS API against the
      // SHIPPED driver session conf (r18 verdict #1 — same note as the
      // writer factory: session-registered schemes/credentials must
      // resolve inside tasks)
      private val in = {
        val (fsys, p) = graft.Work.fsWith(conf.value, file)
        fsys.open(p)
      }
      private val source = scala.io.Source.fromInputStream(in, "UTF-8")
      private val lines = source.getLines()
      private var current: String = _

      override def next(): Boolean =
        if (lines.hasNext) { current = lines.next(); true } else false

      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(current))

      override def close(): Unit = source.close()
    }
  }
}
