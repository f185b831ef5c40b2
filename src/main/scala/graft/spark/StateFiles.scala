package graft.spark

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{Header, StateReader, StateWriter}
import graft.model.StateItem

/** S7/S8 — the reference's `.dat` file format as a Spark source/sink
  * (erigon_extract.c:1340-1428 reader, 824-1269 writer, 2266-2288 header).
  *
  * Sink: one `part-NNNNN.dat` per non-empty partition, each a 256-byte
  * header plus page-aligned opcode stream (the merge output layout,
  * page_shift 12). Every `.dat` writer — write/append/compact here and
  * the DSv2 batch and streaming sinks — stages parts in its tasks and
  * commits them through one routine, [[publish]].
  *
  * Source: files are NOT read sequentially. Because the writer restarts
  * compression state at every 4 KiB page boundary, every page is
  * independently decodable — so the read path explodes (file × page-range)
  * tasks and decodes pages in parallel, which is what makes the format
  * splittable for Spark in exactly the way the reference's O(log N) seek
  * exploits on disk (README.md:36-41).
  */
object StateFiles {

  private val PageShift = 12
  private val PageSize = 1 << PageShift

  /** Content-pairing token binding an `.idx` sidecar to ITS `.dat`: FNV-1a
    * over the first (header + 4 KiB) and last 4 KiB of the file. Renames
    * are per-file atomic but the PAIR is not — after a crash mid-rewrite a
    * new `.dat` can sit next to a stale same-page-count `.idx`, and
    * pruning against stale bounds silently drops rows. The reader verifies
    * (size, checksum) from the sidecar trailer and ignores the index on
    * mismatch (no pruning = correct, just slower).
    */
  private[spark] def pairingChecksum(prefix: Array[Byte],
                                     suffix: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(b: Array[Byte]): Unit = {
      var i = 0
      while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    }
    mix(prefix); mix(suffix)
    h
  }

  private[spark] val PairPrefixLen: Int = Header.Size + PageSize
  private[spark] val PairSuffixLen: Int = PageSize

  /** Write a sorted Dataset[StateItem] as header-prefixed page-aligned .dat
    * files, one per non-empty partition (partition ordering = caller's
    * sort). Over an existing dataset this is an OVERWRITE: a fresh
    * snapshot under fresh part names, the old parts deleted after the
    * manifest swap (see [[publish]]).
    */
  def write(items: Dataset[StateItem], dir: String, strategy: Int,
            blockStart: Long = 0L, blockEnd: Long = 0L): Unit =
    writeCore(items, dir, strategy, blockStart, blockEnd, overwrite = true)

  /** Incremental APPEND: new part files after the existing ones, manifest
    * totals merged — the daily-increment flow (changesets are an
    * append-only log; each increment converts its block range and lands
    * as additional files). Reads stay pruned and correct because the
    * `.idx` bounds are true per-page min/max for ANY order — overlapping
    * address ranges across increments just mean more splits match. A
    * crash mid-append leaves the previous snapshot readable (see
    * [[publish]]).
    *
    * `streamBatchId` (optional, for streaming foreachBatch writers):
    * recorded in the manifest ATOMICALLY with the append, so a
    * micro-batch replayed after a crash BETWEEN the manifest commit and
    * the streaming checkpoint commit can be detected via
    * [[lastStreamBatch]] and skipped — exactly-once appends for a
    * linear (monotone-batch-id) stream.
    */
  def append(items: Dataset[StateItem], dir: String, strategy: Int,
             blockStart: Long = 0L, blockEnd: Long = 0L,
             streamBatchId: Long = -1L, streamId: String = ""): Unit = {
    // a streaming append must carry its writer identity: the batch id is
    // only monotone WITHIN one linear stream, so an id without an owner
    // cannot support the replay-skip contract
    require(streamBatchId < 0L || streamId.nonEmpty,
      "streaming append (streamBatchId >= 0) requires a streamId — " +
        "use StateFiles.streamIdentity(checkpointDir)")
    requireAppendable(dir, strategy, streamId)
    writeCore(items, dir, strategy, blockStart, blockEnd, overwrite = false,
      streamBatchId = streamBatchId, streamId = streamId)
  }

  /** The append guards, run before any part is staged: a torn directory
    * (part files, no manifest) has unknowable strategy and contents; a
    * strategy mismatch would make the existing parts decode as garbage;
    * a stream-owned dataset takes appends only from its owner
    * (commitManifest re-checks the owner as a backstop, but by then
    * orphans would exist).
    */
  private[spark] def requireAppendable(dir: String, strategy: Int,
                                       streamId: String = ""): Unit = {
    val s0 = manifestField(dir, "strategy")
    require(s0.isDefined || partFiles(dir).isEmpty,
      s"$dir has part files but no manifest — cannot append to a torn dataset")
    s0.foreach(s => require(s == strategy.toLong,
      s"append strategy $strategy != dataset strategy $s"))
    if (streamId.nonEmpty)
      manifestStringField(dir, "stream_id").foreach(owner =>
        require(owner == streamId,
          s"dataset $dir is stream-owned by $owner; " +
            s"refusing append from stream $streamId"))
  }

  /** COMPACTION — the archive-maintenance op the incremental flows
    * eventually need: [[append]] and the streaming sink each land one
    * part-file set per increment/epoch, so a long-lived dataset
    * accumulates many small files (the classic small-files problem; at
    * daily-increment cadence, hundreds of parts whose per-file open and
    * split overhead dominates reads). Compact rewrites the WHOLE dataset
    * as one fresh generation of `targetParts` range-sorted part files:
    *
    *  - the old generation is scanned through the DSv2 source (planned
    *    against the OLD manifest), range-repartitioned on the canonical
    *    (address, isStorage, slot, block) order — restoring the sorted
    *    layout interleaved increments erode, which is what keeps the
    *    `.idx` bounds tight and split pruning effective;
    *  - the new generation is published as an overwrite: fresh part
    *    names, then the atomic manifest swap, which mints a new
    *    `dataset_id` so a live streaming tail (st08) pinned to the old
    *    generation fails LOUDLY instead of silently re-reading
    *    reshuffled offsets, then the old generation's deletion (on an
    *    object store this delete would be a grace-period GC).
    */
  def compact(spark: SparkSession, dir: String, strategy: Int,
              targetParts: Int = 1): Unit = {
    require(targetParts >= 1, s"compact: targetParts $targetParts")
    if (manifestFileList(dir).isEmpty)
      throw new IllegalStateException(s"compact: no manifest in $dir")
    manifestField(dir, "strategy").foreach(s0 =>
      require(s0 == strategy.toLong,
        s"compact strategy $strategy != dataset strategy $s0"))
    val bStart = manifestField(dir, "block_start").getOrElse(0L)
    val bEnd = manifestField(dir, "block_end").getOrElse(0L)
    val items = read(spark, dir, strategy)
    val sorted = items
      .repartitionByRange(targetParts, col("address"), col("isStorage"),
        col("slot"), col("block"))
      .sortWithinPartitions(col("address"), col("isStorage"), col("slot"),
        col("block"))
    // a stream-owned dataset keeps its writer identity and replay
    // watermark across the rewrite: the DATA is equivalent, so the
    // exactly-once guard (lastStreamBatch) must survive — dropping the
    // fields would reset the skip and let a replayed epoch double-append
    val sb = manifestField(dir, "stream_batch").getOrElse(-1L)
    val sid = manifestStringField(dir, "stream_id").getOrElse("")
    // the scan executes inside writeCore's job, strictly before publish
    writeCore(sorted, dir, strategy, bStart, bEnd, overwrite = true,
      streamBatchId = sb, streamId = sid)
  }

  /** Small-files POLICY for [[compact]] — the threshold an [[append]] /
    * streaming-sink loop consults after each increment instead of
    * compacting on a human's schedule. Triggers when the committed
    * `.dat` count exceeds `maxParts` (per-file open + split-planning
    * overhead is linear in file count) OR when more than
    * `maxSmallFraction` of the committed files are under
    * `smallFileBytes` (a dataset can hold few-but-tiny files whose
    * per-file fixed cost dominates long before the count trips —
    * the bytes-ratio arm of the policy). A dataset without a manifest
    * has nothing to compact; a single committed file never needs it.
    *
    * Reads the manifest + `Files.size` only — safe to call from inside
    * a foreachBatch or an append loop every increment.
    */
  def needsCompaction(dir: String, maxParts: Int = 64,
                      smallFileBytes: Long = 64L << 20,
                      maxSmallFraction: Double = 0.5): Boolean = {
    require(maxParts >= 1, s"needsCompaction: maxParts $maxParts")
    manifestFileList(dir).map(_.filter(_.endsWith(".dat"))) match {
      case None => false
      case Some(dats) if dats.length <= 1 => false
      case Some(dats) if dats.length > maxParts => true
      case Some(dats) =>
        val sizes = dats.map { f =>
          try Files.size(Paths.get(dir, f))
          catch { case _: java.io.IOException => Long.MaxValue }
        }
        sizes.count(_ < smallFileBytes).toDouble / sizes.length >
          maxSmallFraction
    }
  }

  /** [[compact]] gated by [[needsCompaction]]; returns whether a rewrite
    * ran. The auto-maintenance call for append/streaming loops:
    *
    * {{{
    * StateFiles.append(increment, dir, strategy)
    * StateFiles.compactIfNeeded(spark, dir, strategy, targetParts = 8)
    * }}}
    *
    * RECOVERY RECIPE for streams tailing the dataset (st08-shape):
    * compaction mints a new `dataset_id`, so a tail pinned to the old
    * generation fails LOUDLY at its next trigger ("the dataset was
    * overwritten under a live stream") rather than silently re-reading
    * reshuffled offsets — that failure is the designed signal, not a
    * bug. To recover, restart the tail with a FRESH checkpoint
    * directory: the new stream plans against the compacted manifest
    * from offset zero and re-delivers the full (content-equal) dataset;
    * downstream consumers that must not double-process keep their own
    * idempotence key, exactly as they already must for at-least-once
    * redelivery after any checkpoint loss. A stream-OWNED dataset (the
    * streaming SINK side) is unaffected: the writer identity and replay
    * watermark survive the rewrite, so exactly-once append resumes
    * against the new generation with no operator action.
    */
  def compactIfNeeded(spark: SparkSession, dir: String, strategy: Int,
                      targetParts: Int = 1, maxParts: Int = 64,
                      smallFileBytes: Long = 64L << 20,
                      maxSmallFraction: Double = 0.5): Boolean = {
    val go = needsCompaction(dir, maxParts, smallFileBytes,
      maxSmallFraction)
    if (go) compact(spark, dir, strategy, targetParts)
    go
  }

  /** Highest `streamBatchId` committed to `dir`'s manifest by the stream
    * identified by `streamId` — the replay-skip seam. The batch id is
    * only meaningful within ONE linear stream: if the manifest's recorded
    * `stream_id` differs (the dataset is being appended by a second
    * streaming query, or the original checkpoint was reset so batch ids
    * restarted at 0), a `>= batchId` skip would silently drop data — so
    * an ownership mismatch FAILS LOUDLY instead of answering.
    */
  def lastStreamBatch(dir: String, streamId: String): Option[Long] = {
    val batch = manifestField(dir, "stream_batch").filter(_ >= 0L)
    batch.foreach { _ =>
      val owner = manifestStringField(dir, "stream_id")
      require(owner.contains(streamId),
        s"dataset $dir was stream-appended by " +
          s"${owner.fold("an unidentified stream")(o => s"stream $o")}, " +
          s"not $streamId — batch ids are not comparable across streams " +
          "(second query, or a reset checkpoint restarting at batch 0); " +
          "refusing the replay-skip check rather than losing data")
    }
    batch
  }

  /** Stable identity of one linear streaming writer, persisted IN its
    * checkpoint directory (write-once `graft-stream-id` file): a restart
    * from the same checkpoint reads the same id — batch ids continue one
    * monotone sequence, so the replay-skip applies — while a RESET or
    * different checkpoint mints a fresh id, which [[lastStreamBatch]]
    * then rejects against the manifest instead of silently dropping the
    * restarted batches.
    */
  def streamIdentity(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "graft-stream-id")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (Files.exists(p)) new String(Files.readAllBytes(p), utf8).trim
    else {
      Files.createDirectories(p.getParent)
      val id = java.util.UUID.randomUUID().toString
      try {
        Files.write(p, id.getBytes(utf8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        id
      } catch { // lost a creation race: the winner's id is the identity
        case _: java.nio.file.FileAlreadyExistsException =>
          new String(Files.readAllBytes(p), utf8).trim
      }
    }
  }

  private def manifestText(dir: String): Option[String] = {
    val p = Paths.get(dir, "_manifest.json")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  private[graft] def manifestField(dir: String, name: String): Option[Long] =
    manifestText(dir).flatMap(s =>
      s"""\"$name\":(-?\\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toLong))

  private[graft] def manifestStringField(dir: String,
                                         name: String): Option[String] =
    manifestText(dir).flatMap(s =>
      s"""\"$name\":\"([^\"]*)\"""".r.findFirstMatchIn(s)
        .map(_.group(1)))

  /** The committed file snapshot, if the dataset has a manifest with one.
    * Readers use it to ignore orphan files from failed appends.
    */
  private[graft] def manifestFileList(dir: String): Option[Seq[String]] =
    manifestText(dir).flatMap { s =>
      """"file_list":\[([^\]]*)\]""".r.findFirstMatchIn(s).map { m =>
        """"([^"]+)"""".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSeq
      }
    }

  /** One part staged by a write task: its encoded `.dat` (header +
    * page-aligned body) and `.idx` sidecar in hidden temp files, waiting
    * for [[publish]] to name and commit them, plus the manifest counters
    * (`bytes` is the body length). An empty partition stages nothing
    * (`rows == 0`, no files). It doubles as the DSv2 sink's task commit
    * message.
    */
  private[spark] final case class StagedPart(datTmp: String, idxTmp: String,
                                             bytes: Long, accounts: Long,
                                             slots: Long,
                                             anomIncDecrease: Long,
                                             anomCodeHashNoInc: Long)
      extends org.apache.spark.sql.connector.write.WriterCommitMessage {
    def rows: Long = accounts + slots

    /** Deletes the temps of a part that will not be published. */
    def discard(): Unit = if (rows > 0) {
      Files.deleteIfExists(Paths.get(datTmp))
      Files.deleteIfExists(Paths.get(idxTmp))
    }
  }

  /** A fresh encoder for one part; feed it the partition's (pre-sorted)
    * rows, then [[stage]] it.
    */
  private[spark] def partWriter(strategy: Int): StateWriter =
    new StateWriter(strategy, PageShift, baseOffset = Header.Size)

  /** Finish the rows fed to `w` as one part and write it to the temps
    * `.stage-<tag>.dat.tmp` / `.stage-<tag>.idx.tmp` in `dir`. `tag` is
    * unique per task attempt, so retried and speculative attempts never
    * share a temp; a failed write removes its temps.
    */
  private[spark] def stage(w: StateWriter, dir: String, tag: String,
                           strategy: Int, blockStart: Long,
                           blockEnd: Long): StagedPart = {
    if (w.countAccounts + w.countStorageSlots == 0)
      return StagedPart("", "", 0L, 0L, 0L, 0L, 0L)
    val body = w.toArray
    val header = Header.build(
      endOfStates = Header.Size.toLong + body.length, PageShift,
      blockStart, blockEnd, w.countStorageSlots)
    val full = header ++ body
    // sidecar index, 56 bytes/page: min address (20) + max address
    // (20) + min block (8) + max block (8) — TRUE per-page bounds, so
    // split pruning is sound for ANY row order (address-major,
    // block-major, arbitrary), exactly like parquet row-group min/max
    // statistics (the reference's O(log N) seek, README.md:36-41, as
    // source-level pruning). Pages are aligned to ABSOLUTE file
    // offsets (reference layout): page 0 is the header-shortened
    // [256, 4096) region. Empty pages get full-range bounds (never
    // pruned).
    val nPages =
      ((Header.Size + body.length + PageSize - 1) / PageSize).toInt
    // + 16-byte trailer: .dat size + pairing checksum (see
    // pairingChecksum — binds this sidecar to exactly this .dat)
    val idx = new Array[Byte](nPages * 56 + 16)
    var p = 0
    while (p < nPages) {
      val bodyStart = math.max(0, p * PageSize - Header.Size)
      val bodyEnd =
        math.min((p + 1) * PageSize - Header.Size, body.length)
      val r = new StateReader(strategy, body, bodyStart, bodyEnd)
      var minB = Long.MaxValue
      var maxB = Long.MinValue
      var any = false
      val minA = Array.fill[Byte](20)(-1) // 0xff..ff
      val maxA = new Array[Byte](20)      // 0x00..00
      r.foreach { item =>
        any = true
        if (java.util.Arrays.compareUnsigned(item.address, minA) < 0)
          System.arraycopy(item.address, 0, minA, 0, 20)
        if (java.util.Arrays.compareUnsigned(item.address, maxA) > 0)
          System.arraycopy(item.address, 0, maxA, 0, 20)
        if (item.block < minB) minB = item.block
        if (item.block > maxB) maxB = item.block
      }
      if (!any) {
        java.util.Arrays.fill(minA, 0.toByte)
        java.util.Arrays.fill(maxA, -1.toByte)
        minB = 0L; maxB = Long.MaxValue
      }
      System.arraycopy(minA, 0, idx, p * 56, 20)
      System.arraycopy(maxA, 0, idx, p * 56 + 20, 20)
      graft.functions.Bytes.put64be(idx, p * 56 + 40, minB)
      graft.functions.Bytes.put64be(idx, p * 56 + 48, maxB)
      p += 1
    }
    graft.functions.Bytes.put64be(idx, nPages * 56, full.length.toLong)
    graft.functions.Bytes.put64be(idx, nPages * 56 + 8,
      pairingChecksum(
        java.util.Arrays.copyOf(full, math.min(full.length, PairPrefixLen)),
        java.util.Arrays.copyOfRange(full,
          math.max(0, full.length - PairSuffixLen), full.length)))
    val datTmp = Paths.get(dir, s".stage-$tag.dat.tmp")
    val idxTmp = Paths.get(dir, s".stage-$tag.idx.tmp")
    try { Files.write(datTmp, full); Files.write(idxTmp, idx) }
    catch {
      case e: Throwable =>
        Files.deleteIfExists(datTmp); Files.deleteIfExists(idxTmp); throw e
    }
    StagedPart(datTmp.toString, idxTmp.toString, body.length.toLong,
      w.countAccounts, w.countStorageSlots, w.anomalyIncarnationDecrease,
      w.anomalyCodeHashNoIncarnation)
  }

  private[spark] def atomicWrite(dir: String, name: String,
                                 bytes: Array[Byte]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Names of the `part-*.dat` / `part-*.idx` files in `dir`. */
  private def partFiles(dir: String): Seq[String] = {
    if (!Files.exists(Paths.get(dir))) return Nil
    val listed = Files.list(Paths.get(dir))
    try listed.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") &&
        (n.endsWith(".dat") || n.endsWith(".idx")))
      .toList
    finally listed.close()
  }

  /** THE commit of every `.dat` writer: [[write]], [[append]],
    * [[compact]] and the DSv2 batch and streaming sinks all end here.
    * `staged` comes in partition order, which is the dataset's order.
    *
    *  1. Empty parts are dropped.
    *  2. The rest get FRESH part numbers, past every part file on disk,
    *     so no rename ever lands on a name an older snapshot used: a
    *     reader holding the old manifest reads the old bytes, or finds
    *     them deleted and fails, but never reads new bytes under an old
    *     name.
    *  3. The temps are renamed into place.
    *  4. The manifest is replaced atomically — the dataset's ONE commit
    *     point ([[commitManifest]]): merged into the previous one on
    *     append, a fresh snapshot with a new `dataset_id` on overwrite.
    *  5. On overwrite, every part file outside the new `file_list` — the
    *     old snapshot and any orphans — is deleted (best-effort: the
    *     snapshot is already committed).
    *
    * A crash before step 4 leaves orphan part files that the manifest
    * does not list: readers keep the previous snapshot, a retried append
    * commits past them, the next overwrite deletes them. A crash in step
    * 5 leaves unreferenced garbage. Single-writer: concurrent writes to
    * one dataset are not supported (no lock service here).
    */
  private[spark] def publish(dir: String, strategy: Int, blockStart: Long,
                             blockEnd: Long, staged: Seq[StagedPart],
                             overwrite: Boolean, streamBatchId: Long = -1L,
                             streamId: String = ""): Unit = {
    val parts = staged.filter(_.rows > 0)
    val base = partFiles(dir)
      .flatMap(_.stripPrefix("part-").dropRight(4).toIntOption)
      .foldLeft(-1)(math.max) + 1
    val names = parts.indices.map(i => f"part-${base + i}%05d")
    def move(tmp: String, name: String): Unit =
      Files.move(Paths.get(tmp), Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    parts.zip(names).foreach { case (p, n) =>
      move(p.datTmp, n + ".dat"); move(p.idxTmp, n + ".idx")
    }
    commitManifest(dir, strategy, blockStart, blockEnd,
      mergeManifest = !overwrite, names.map(_ + ".dat"), parts,
      streamBatchId, streamId)
    if (overwrite) {
      val keep = names.toSet
      partFiles(dir).filterNot(n => keep(n.dropRight(4))).foreach { n =>
        try Files.deleteIfExists(Paths.get(dir, n))
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Write/merge the dataset-level manifest — the multi-file replacement
    * for the reference's single 256-byte header (C11): totals + layout
    * params in one JSON (the per-file headers remain byte-compatible). On
    * merge (append), totals accumulate and the block range widens. The
    * `file_list` snapshot is replaced ATOMICALLY as the last step — this
    * IS the dataset-level commit point, reached only through [[publish]].
    */
  private def commitManifest(dir: String, strategy: Int, blockStart: Long,
                             blockEnd: Long, mergeManifest: Boolean,
                             newNames: Seq[String], parts: Seq[StagedPart],
                             streamBatchId: Long,
                             streamId: String): Unit = {
    def prev(name: String): Long =
      if (mergeManifest) manifestField(dir, name).getOrElse(0L) else 0L
    val accounts = parts.map(_.accounts).sum + prev("accounts")
    val slots = parts.map(_.slots).sum + prev("storage_slots")
    val bytes = parts.map(_.bytes).sum + prev("bytes")
    val files = parts.length + prev("files")
    // write-time anomaly telemetry (SURVEY §5 mechanism 3) accumulates
    // across appends exactly like the row totals
    val anomInc = parts.map(_.anomIncDecrease).sum +
      prev("anomaly_incarnation_decrease")
    val anomCh = parts.map(_.anomCodeHashNoInc).sum +
      prev("anomaly_codehash_no_incarnation")
    val bStart =
      if (mergeManifest)
        math.min(blockStart,
          manifestField(dir, "block_start").getOrElse(blockStart))
      else blockStart
    val bEnd =
      if (mergeManifest)
        math.max(blockEnd,
          manifestField(dir, "block_end").getOrElse(blockEnd))
      else blockEnd
    val allNames =
      (if (mergeManifest) manifestFileList(dir).getOrElse(Seq.empty)
       else Seq.empty) ++ newNames
    val fileListJson =
      allNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // dataset GENERATION id: minted at the snapshot's first write,
    // preserved by every append, REPLACED by an overwrite — the streaming
    // source pins it in its offsets, so a stream whose consumed prefix
    // was invalidated by an overwrite fails loudly even when the new
    // snapshot reuses a part name (every write takes fresh numbers, but
    // once an overwrite with no rows has deleted every part file,
    // numbering restarts at 0; names alone cannot tell the generations
    // apart).
    // Merging into a pre-existing manifest that PREDATES the field keeps
    // it ABSENT rather than minting mid-life: a live stream pinned the
    // absent generation ("") at start, and minting on a legitimate
    // append would false-fail it with an "overwritten" diagnostic.
    val datasetId: Option[String] =
      if (mergeManifest && manifestText(dir).isDefined)
        manifestStringField(dir, "dataset_id")
      else Some(java.util.UUID.randomUUID().toString)
    // streaming appenders carry their batch id forward (monotone max) so
    // a replayed micro-batch is detectable; batch writers omit the field,
    // keeping pre-existing manifests byte-identical in shape. The WRITER
    // IDENTITY travels with the batch id: a second stream (or a reset
    // checkpoint) must not silently adopt another stream's id sequence.
    val prevSid =
      if (mergeManifest) manifestStringField(dir, "stream_id") else None
    require(streamId.isEmpty || prevSid.forall(_ == streamId),
      s"dataset $dir is stream-owned by ${prevSid.getOrElse("?")}; " +
        s"refusing append from stream $streamId")
    val sb = math.max(streamBatchId,
      if (mergeManifest) manifestField(dir, "stream_batch").getOrElse(-1L)
      else -1L)
    val sidOut = if (streamId.nonEmpty) Some(streamId) else prevSid
    val sbJson =
      if (sb >= 0)
        s""""stream_batch":$sb,""" +
          sidOut.fold("")(id => s""""stream_id":"$id",""")
      else ""
    val datasetIdJson =
      datasetId.fold("")(id => s""""dataset_id":"$id",""")
    val manifest =
      s"""{"format":"graft-dat","strategy":$strategy,""" +
        s"""$datasetIdJson"page_shift":$PageShift,""" +
        s""""block_start":$bStart,""" +
        s""""block_end":$bEnd,"files":$files,$sbJson""" +
        s""""accounts":$accounts,"storage_slots":$slots,""" +
        s""""anomaly_incarnation_decrease":$anomInc,""" +
        s""""anomaly_codehash_no_incarnation":$anomCh,""" +
        s""""bytes":$bytes,"file_list":$fileListJson}"""
    atomicWrite(dir, "_manifest.json",
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def writeCore(items: Dataset[StateItem], dir: String,
                        strategy: Int, blockStart: Long, blockEnd: Long,
                        overwrite: Boolean, streamBatchId: Long = -1L,
                        streamId: String = ""): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    val writeId = java.util.UUID.randomUUID().toString
    val staged = items.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      val w = partWriter(strategy)
      it.foreach(w.write)
      Iterator.single(stage(w, dir,
        s"$writeId-p${tc.partitionId()}-t${tc.taskAttemptId()}", strategy,
        blockStart, blockEnd))
    }.collect()
    publish(dir, strategy, blockStart, blockEnd, staged.toSeq, overwrite,
      streamBatchId, streamId)
  }

  /** Page-parallel read, delegated to the DataSource V2
    * ([[graft.spark.datasource.DatDataSource]]): ranged `RandomAccessFile`
    * reads with Long offsets (no 2 GiB whole-file buffering), .idx split
    * pruning, and pushdown-aware planning. Kept as the typed convenience
    * entry point so there is exactly ONE read implementation.
    */
  def read(spark: SparkSession, dir: String, strategy: Int): Dataset[StateItem] = {
    import spark.implicits._
    spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", strategy.toString)
      .load(dir)
      .as[StateItem]
  }
}
