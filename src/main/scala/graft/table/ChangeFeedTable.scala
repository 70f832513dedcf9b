package graft.table

import java.util

import graft.merge.Intervals
import graft.model.{DataFileEntry, EpochManifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, EqualNullSafe, Expression, If, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * The table's commit log AS A TABLE: `<catalog>.<table>.changes` — the
 * streaming half of the engine's CDC-distribution role (the reference
 * publishes change streams for downstream consumers; here a downstream
 * Spark job simply runs `readStream.table("graft.commits.changes")` on its
 * session and tails every committed snapshot). Batch reads of the same
 * identifier return the feed from the table origin to the current
 * snapshot.
 *
 * Feed rows are CHANGE-EVENT SHAPED — `op` ('u' upsert / 'd' delete),
 * `seq`, then the user columns (the applied image; tombstones carry the
 * delete image the engine stored), then two METADATA columns:
 *  - `_commit_version` — the snapshot version this row's batch was planned
 *    TO (an upper bound on the row's actual commit version; exact when the
 *    batch spans one version — e.g. under `maxVersionsPerTrigger=1`). A
 *    feed-driven consumer reads `max(_commit_version)` per micro-batch to
 *    learn which upstream version the batch lands it at (the streaming
 *    mirror's sync point).
 *  - `_schema_id` — the feed's pinned schema vintage; a consumer that sees
 *    a LOADED table whose current schema id moved past this knows to
 *    restart the stream to pick up evolved columns (the reference's
 *    in-band MetadataUpdateControlMessage role,
 *    gobblin-modules/gobblin-kafka-common/.../KafkaSchemaChangeInjector
 *    .java:84-117, as a detectable signal rather than an injected record).
 * This envelope is exactly what `MergeEngine.applyEpoch` ingests, so a
 * downstream graft table can replay the upstream by feeding the stream
 * straight back through the engine (idempotent by the same LWW/fence
 * semantics). MirrorJob.followStream reads only `_commit_version` and
 * copies files instead.
 *
 * Incremental mechanics (scale shape — never O(table) per batch):
 *  - stream offsets are SNAPSHOT VERSIONS; a micro-batch (v1 → v2] reads
 *    only files listed in v2's manifest and not in v1's (immutable,
 *    content-addressed files present in both cannot hold new changes);
 *  - within those files, rows whose `lastSeq` falls inside v1's committed
 *    offset intervals are dropped by the readers (they were carried, not
 *    changed — e.g. untouched keys inside a rewritten bucket file), and a
 *    file whose whole [minSeq, maxSeq] span is fenced is pruned WITHOUT
 *    being opened (manifest stats);
 *  - `latestOffset` is one metadata listing; empty-progress batches plan
 *    zero partitions;
 *  - ADMISSION CONTROL ([[ChangeFeedStream]] implements Spark's
 *    `SupportsAdmissionControl`): a consumer resuming after a long outage
 *    does NOT get the whole backlog as one giant batch — reader options
 *    `maxVersionsPerTrigger` / `maxFilesPerTrigger` / `maxBytesPerTrigger`
 *    cap each micro-batch (by snapshot count, net-new file count, or
 *    net-new bytes, from manifest stats alone), and the backlog drains as
 *    a sequence of bounded batches with normal checkpointing between them
 *    (the reference rate-limits the same way everywhere:
 *    gobblin-runtime/.../RateBasedLimiter.java;
 *    gobblin-core/.../writer/ThrottleWriter.java:44-47).
 *    `Trigger.AvailableNow` is supported (drain-to-now in bounded batches).
 *
 * DELETES WHOSE TOMBSTONE PURGED INSIDE THE WINDOW: a key can go
 * live→ABSENT between two versions with no surviving tombstone row — its
 * delete committed and a compaction purged the tombstone below the safe
 * horizon, both inside (v1, v2]. New-file rows alone cannot show this (the
 * key simply has no row at v2), so the plan SYNTHESIZES those deletes:
 * when the endpoint manifests' `purgedBelowSeq` marks differ (the
 * metadata-only proof a purge happened in the window — stamped by
 * compaction, carried by every commit), extra partitions diff the REMOVED
 * files' live keys against the new files' keys per bucket and emit a `'d'`
 * row (key only, NULL seq — the tombstone's seq is unrecoverable; NULL
 * payload, matching engine tombstones) for each key absent at v2. Windows
 * with no purge — the overwhelming norm — skip the synthesis entirely and
 * pay nothing. Memory shape: one task per bucket holding the bucket's
 * removed-file live keys (same order as a bucket-scoped hash-join build
 * side); a rebucket inside a purge window degrades the synthesis to a
 * single cross-layout task (rare maintenance × rare maintenance).
 *
 * Contracts and caveats (the standard table-format CDC ones):
 *  - retention must retain the stream's horizon: a consumer whose start
 *    version has been expired fails loudly on its next batch (configure
 *    `expireSnapshots` keepLast/age above the max consumer lag);
 *  - a tombstone purged in a window BEFORE the consumer's start version
 *    emits nothing (the consumer's own start state already excludes the
 *    key — nothing to delete);
 *  - rows admitted via quarantine REPROCESS carry their original
 *    (already-claimed) seqs and are fenced out of the incremental feed —
 *    use [[IceTable.changesBetween]] for an exact version diff;
 *  - the feed schema pins the LOAD-TIME table schema; restart the stream
 *    to pick up later schema evolution (newer-vintage files are projected
 *    back by colId meanwhile; `_schema_id` is the drift-detection signal).
 */
object ChangeFeed {

  val CommitVersionCol = "_commit_version"
  val SchemaIdCol = "_schema_id"

  /** `op`, `seq`, the user columns of `schemaId`, then the metadata
    * columns `_commit_version`, `_schema_id` */
  def feedSchema(schemaId: Int): StructType = {
    val user = BucketScan.userSchema(schemaId).fields
    StructType(
      (StructField("op", StringType, nullable = false) +:
        StructField("seq", LongType, nullable = true) +: user) ++ Seq(
        StructField(CommitVersionCol, LongType, nullable = false),
        StructField(SchemaIdCol, IntegerType, nullable = false)))
  }

  /** all partitions' committed `(lo, hi]` intervals merged into one
    * normalized global set (seqs are globally unique, so membership in ANY
    * partition's set means "already committed at that version") */
  def mergedFence(m: Option[EpochManifest]): Array[(Long, Long)] =
    m.map(mf => Intervals.normalize(
      mf.offsets.map(o => (o.lowSeq, o.highSeq))).toArray)
      .getOrElse(Array.empty)

  /** true iff every seq in [lo, hi] lies inside ONE fence interval —
    * binary search over the merged normalized array (same shape as the
    * row-path fence test; the old linear `exists` was O(intervals) per
    * file on gap-dense segment histories) */
  def spanFenced(fence: Array[(Long, Long)], lo: Long, hi: Long): Boolean = {
    var a = 0; var b = fence.length - 1
    while (a <= b) {
      val mid = (a + b) >>> 1
      val (flo, fhi) = fence(mid)
      if (lo <= flo) b = mid - 1
      else if (lo > fhi) a = mid + 1
      else return hi <= fhi // flo < lo <= fhi
    }
    false
  }

  /** files of `mEnd` not listed in `mStart`, minus files whose whole seq
    * span is fenced (fully-carried rewrites — skipped unopened) */
  def planFiles(mStart: Option[EpochManifest],
                mEnd: EpochManifest): Seq[DataFileEntry] = {
    val startPaths =
      mStart.map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
    val fence = mergedFence(mStart)
    def fullyFenced(f: DataFileEntry): Boolean =
      (f.minSeq, f.maxSeq) match {
        case (Some(lo), Some(hi)) => spanFenced(fence, lo, hi)
        case _ => false // stats-less files are always read
      }
    mEnd.files.filterNot(f => startPaths(f.path)).filterNot(fullyFenced)
  }
}

/** DSv2 table for the `.changes` identifier. `t` re-resolves manifests per
  * streaming batch; the feed schema is pinned at load. */
private[table] final class ChangeFeedTable(tableName: String, t: IceTable)
    extends Table with SupportsRead {

  private val schemaId = t.currentManifest()
    .map(_.schemaId).getOrElse(SchemaRegistry.baseSchemaId)

  override def name(): String = tableName
  override def schema(): StructType = ChangeFeed.feedSchema(schemaId)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangeFeedScan(tableName, t, schemaId,
        Option(opts.get("startingversion")).map(_.toLong).getOrElse(-1L),
        Option(opts.get("maxversionspertrigger")).map(_.toLong),
        Option(opts.get("maxfilespertrigger")).map(_.toInt),
        Option(opts.get("maxbytespertrigger")).map(_.toLong))
    }
}

private final class ChangeFeedScan(tableName: String, t: IceTable,
    schemaId: Int, startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long]) extends Scan {

  override def readSchema(): StructType = ChangeFeed.feedSchema(schemaId)
  override def description(): String = s"graft-change-feed[$tableName]"

  /** batch = the feed from `startingVersion` (default: table origin) to
    * the snapshot current at scan construction */
  override def toBatch: Batch = new Batch {
    private val end = t.currentVersion()
    private lazy val planned = ChangeFeedScan.plan(t, schemaId,
      startingVersion, end)
    override def planInputPartitions(): Array[InputPartition] = planned._1
    override def createReaderFactory(): PartitionReaderFactory = planned._2
  }

  override def toMicroBatchStream(checkpointLoc: String): MicroBatchStream =
    new ChangeFeedStream(t, schemaId, startingVersion,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)
}

private object ChangeFeedScan {
  /** shared batch planner: (partitions, factory) for versions (from, to].
    * Partitions are the net-new-file feed partitions plus, when the purge
    * mark moved inside the window, the removed-file delete-synthesis
    * partitions (see the [[ChangeFeed]] scaladoc). */
  def plan(t: IceTable, schemaId: Int, fromVersion: Long, toVersion: Long)
      : (Array[InputPartition], PartitionReaderFactory) = {
    val spark = SparkSession.active
    val mStart =
      if (fromVersion < 0) None else Some(t.readManifest(fromVersion))
    val mEnd =
      if (toVersion < 0) None else Some(t.readManifest(toVersion))
    val files = mEnd.map(ChangeFeed.planFiles(mStart, _)).getOrElse(Nil)

    // delete synthesis: only when a purge provably happened in the window
    val purgeInWindow = (mStart, mEnd) match {
      case (Some(a), Some(b)) => b.purgedBelowSeq > a.purgedBelowSeq
      case _ => false
    }
    val (synthParts, synthFactories) = if (!purgeInWindow) (Nil, None) else {
      val a = mStart.get; val b = mEnd.get
      val endPaths = b.files.map(_.path).toSet
      val startPaths = a.files.map(_.path).toSet
      val removed = a.files.filterNot(f => endPaths(f.path))
      // presence side: ALL net-new end files, INCLUDING fully-fenced ones
      // (a carried key's row in a fenced rewrite still proves presence)
      val added = b.files.filterNot(f => startPaths(f.path))
      if (removed.isEmpty) (Nil, None) else {
        val keyNames = {
          val sch = SchemaRegistry.schemaFor(schemaId)
          Seq(sch.byColId(1).name, sch.byColId(2).name)
        }
        val buckets = (removed ++ added).map(_.bucket).distinct.sorted
        val synthCols = Some(keyNames ++ Seq("lastSeq", "deleted"))
        val oldScan = BucketScan.scanParts(spark, removed, buckets, schemaId,
          requiredCols = synthCols)
        val newScan = BucketScan.scanParts(spark, added, buckets, schemaId,
          requiredCols = synthCols)
        val (oldParts, newParts) = (oldScan.parts, newScan.parts)
        val sameLayout =
          t.bucketCountOf(Some(a)) == t.bucketCountOf(Some(b))
        val pairs: Seq[InputPartition] =
          if (sameLayout) {
            // arrays align index-for-index over the shared bucket universe;
            // a pair whose OLD side has no files yields no candidate keys
            oldParts.zip(newParts).collect {
              case (o: BucketScan.BucketInputPartition,
                    n: BucketScan.BucketInputPartition)
                if o.files.nonEmpty => FeedSynthPartition(o, n)
            }.toSeq
          } else {
            // rebucket inside a purge window: key→bucket moved, so the
            // presence check must be cross-layout — one task over all
            // removed + all added files (rare maintenance × rare
            // maintenance; documented degradation)
            def merge(ps: Array[InputPartition]) =
              BucketScan.BucketInputPartition(0, ps.toSeq.flatMap {
                case p: BucketScan.BucketInputPartition => p.files
              })
            Seq(FeedSynthPartition(merge(oldParts), merge(newParts)))
          }
        (pairs, Some((oldScan.factory, newScan.factory)))
      }
    }

    if (files.isEmpty && synthParts.isEmpty)
      return (Array.empty[InputPartition], EmptyFeedFactory)
    val (parts, inner) =
      if (files.isEmpty) (Array.empty[InputPartition], EmptyFeedFactory)
      else {
        val scan = BucketScan.scanParts(spark, files,
          BucketScan.occupiedBuckets(files), schemaId)
        (scan.parts, scan.factory)
      }
    val factory = new FeedFactory(inner, BucketScan.canonicalSchema(schemaId),
      ChangeFeed.mergedFence(mStart), toVersion, schemaId,
      synthFactories.map(_._1).orNull, synthFactories.map(_._2).orNull)
    ((parts ++ synthParts).toArray, factory)
  }
}

/** Streaming source over the snapshot log: offsets are versions. Implements
  * [[SupportsAdmissionControl]] (bounded backlog drains — see the
  * [[ChangeFeed]] scaladoc) and [[SupportsTriggerAvailableNow]]. */
private final class ChangeFeedStream(t: IceTable, schemaId: Int,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset =
    VersionOffset(math.max(-1L, startingVersion))
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  // Trigger.AvailableNow: pin the drain target ONCE; batches (still
  // admission-capped) advance to it and the query stops there even if
  // more commits land meanwhile.
  @volatile private var availableNowCap: Long = -2L
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = t.currentVersion()
  }

  override def getDefaultReadLimit: ReadLimit = {
    val ls: Seq[ReadLimit] =
      maxFilesPerTrigger.map(ReadLimit.maxFiles(_)).toSeq ++
        maxBytesPerTrigger.map(ReadLimit.maxBytes(_)).toSeq
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def reportLatestOffset(): Offset =
    VersionOffset(t.currentVersion())

  /** Cap the batch end version by the admitted limits. Versions-only caps
    * are O(1) metadata; file/byte caps walk the backlog's manifests (one
    * read per ADMITTED version — proportional to what the batch reads
    * anyway, and the walk stops at the cap). Always admits at least one
    * version when the source has moved (Spark's min-progress contract). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].version
    val cur0 = t.currentVersion()
    val cur = if (availableNowCap >= -1L) math.min(cur0, availableNowCap)
              else cur0
    if (cur <= s) return VersionOffset(s)
    def flat(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flat)
      case _: ReadAllAvailable => Nil
      case x => Seq(x)
    }
    val lims = flat(limit)
    val maxF = lims.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
    val maxB = lims.collectFirst { case m: ReadMaxBytes => m.maxBytes() }
    val capV = maxVersionsPerTrigger
      .map(mv => math.min(cur, s + math.max(1L, mv))).getOrElse(cur)
    if (maxF.isEmpty && maxB.isEmpty) return VersionOffset(capV)
    // Per-admitted-version NET-NEW files/bytes: each step diffs the
    // version's file list against its predecessor's path set, one manifest
    // read per step (an epoch leaves one file per touched bucket, so a list
    // is about numBuckets long).
    var prevPaths: Set[String] =
      if (s < 0) Set.empty else t.readManifest(s).files.map(_.path).toSet
    var end = s
    var files = 0L
    var bytes = 0L
    var v = s
    while (v < capV) {
      v += 1
      val m = t.readManifest(v)
      val stepNew = m.files.filterNot(f => prevPaths(f.path))
      files += stepNew.size
      bytes += stepNew.map(f => math.max(0L, f.bytes)).sum
      if (end > s && (maxF.exists(files > _) || maxB.exists(bytes > _)))
        return VersionOffset(end)
      end = v
      prevPaths = m.files.map(_.path).toSet
    }
    VersionOffset(end)
  }

  // the (start,end) plan is deterministic from immutable manifests, but
  // Spark may ask for the same range more than once (retries, WAL replay)
  @volatile private var cached: ((Long, Long),
      (Array[InputPartition], PartitionReaderFactory)) = _

  private def planned(start: Long, end: Long) = {
    val c = cached
    if (c != null && c._1 == (start, end)) c._2
    else {
      val p = ChangeFeedScan.plan(t, schemaId, start, end)
      cached = ((start, end), p)
      p
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) Array.empty else planned(s, e)._1
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val c = cached
    if (c == null) EmptyFeedFactory else c._2._2
  }

  override def commit(offset: Offset): Unit = () // checkpoint is the truth
  override def stop(): Unit = ()
}

private final case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private object EmptyFeedFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new IllegalStateException("empty feed plans no partitions")
}

/** One delete-synthesis unit: the removed files and the net-new files of
  * one bucket (or of the whole window, across a rebucket). The reader
  * diffs live keys of `oldPart` against keys present in `newPart`. */
private final case class FeedSynthPartition(
    oldPart: BucketScan.BucketInputPartition,
    newPart: BucketScan.BucketInputPartition) extends InputPartition

/** Wraps canonical-row readers `[user..., bucket, lastSeq, deleted]` into
  * feed rows `[op, seq, user..., _commit_version, _schema_id]`, dropping
  * rows whose seq the START version already committed (carried, not
  * changed). Fence test is [[ChangeFeed.spanFenced]] over one seq;
  * the projection is a codegen'd UnsafeProjection built on the executor.
  * Also serves [[FeedSynthPartition]]s: live keys of the removed files not
  * present in the end version's new files emit `'d'` rows with NULL
  * seq/payload (the purged-tombstone synthesis). */
private final class FeedFactory(inner: PartitionReaderFactory,
    canonical: StructType, fence: Array[(Long, Long)],
    endVersion: Long, schemaId: Int,
    synthOldFactory: PartitionReaderFactory,
    synthNewFactory: PartitionReaderFactory)
    extends PartitionReaderFactory {

  private val nUser = canonical.length - 3
  private val lastSeqIdx = canonical.length - 2
  private val deletedIdx = canonical.length - 1

  private def metaLits: Seq[Expression] = Seq(
    Literal(endVersion, LongType), Literal(schemaId, IntegerType))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case sp: FeedSynthPartition => synthReader(sp)
      case _ => feedReader(p)
    }

  private def feedReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(p)
    new PartitionReader[InternalRow] {
      private val proj = {
        def ref(i: Int): Expression =
          BoundReference(i, canonical(i).dataType, nullable = true)
        val op = If(
          EqualNullSafe(ref(deletedIdx), Literal(true)),
          Literal(UTF8String.fromString("d"), StringType),
          Literal(UTF8String.fromString("u"), StringType))
        UnsafeProjection.create(
          ((op +: ref(lastSeqIdx) +: (0 until nUser).map(ref)) ++
            metaLits).toArray)
      }
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val r = in.get()
          val carried = !r.isNullAt(lastSeqIdx) && {
            val s = r.getLong(lastSeqIdx)
            ChangeFeed.spanFenced(fence, s, s)
          }
          if (!carried) { cur = proj(r); return true }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
  }

  /** live keys of the removed files, minus keys present (live OR
    * tombstoned) in the end version's net-new files, emitted as `'d'`
    * rows. Both sides arrive in the pruned canonical layout
    * `[repo, path, bucket, lastSeq, deleted]` (key columns only). */
  private def synthReader(sp: FeedSynthPartition)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val proj = {
      // feed row from a 2-field (repo, path) input: 'd', NULL seq, key
      // columns in their canonical positions, NULL payload, metadata
      val sch = SchemaRegistry.schemaFor(schemaId)
      val exprs: Seq[Expression] =
        Seq(Literal(UTF8String.fromString("d"), StringType),
          Literal(null, LongType)) ++
        sch.columns.map { c =>
          c.colId match {
            case 1 => BoundReference(0, StringType, nullable = true)
            case 2 => BoundReference(1, StringType, nullable = true)
            case _ => Literal(null, SchemaRegistry.sparkType(c.dataType))
          }
        } ++ metaLits
      UnsafeProjection.create(exprs.toArray)
    }
    private lazy val it: Iterator[InternalRow] = {
      val live = new java.util.HashSet[(String, String)]()
      val oldIn = synthOldFactory.createReader(sp.oldPart)
      try {
        while (oldIn.next()) {
          val r = oldIn.get()
          val del = !r.isNullAt(4) && r.getBoolean(4)
          if (!del)
            live.add((r.getUTF8String(0).toString, r.getUTF8String(1).toString))
        }
      } finally oldIn.close()
      if (!live.isEmpty) {
        val newIn = synthNewFactory.createReader(sp.newPart)
        try {
          while (newIn.next() && !live.isEmpty) {
            val r = newIn.get()
            live.remove(
              (r.getUTF8String(0).toString, r.getUTF8String(1).toString))
          }
        } finally newIn.close()
      }
      val buf = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      import scala.jdk.CollectionConverters._
      live.iterator().asScala.map { case (repo, path) =>
        buf.update(0, UTF8String.fromString(repo))
        buf.update(1, UTF8String.fromString(path))
        proj(buf)
      }
    }
    private var cur: InternalRow = _
    override def next(): Boolean =
      if (it.hasNext) { cur = it.next(); true } else false
    override def get(): InternalRow = cur
    override def close(): Unit = ()
  }
}
