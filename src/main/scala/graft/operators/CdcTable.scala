package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** An [[CdcTable.incremental]] pull or [[CdcTable.asOf]] read named a
  * timeline instant whose artifacts the retain-one cleaner has already
  * collected, or that never existed. Named so consumers can distinguish
  * "re-seed from a snapshot read" (the Hudi incremental-consumer
  * recovery) from genuine table corruption.
  */
class InstantUnavailableException(msg: String) extends IllegalStateException(msg)

/** A Hudi-MoR-style upsertable lake table (SURVEY K10/S6/ST9; ref
  * `hudi/debezium_hudi_demo/`): a compacted, hive-partitioned parquet
  * **base** plus an append-only **log** of pending change-image commits.
  *
  *  - [[upsert]] appends a change batch to the log — the cheap write path,
  *    Hudi's delta commit; it is the `foreachBatch` body for a streaming
  *    CDC sink (wired in CdcLakeSpec).
  *  - [[readOptimized]] (`_ro`) reads the base only: stale until the next
  *    compaction, exactly the Hudi read-optimized contract.
  *  - [[realTime]] (`_rt`) merges base ∪ log at read with the W3
  *    last-write-wins window — the Hudi real-time contract.
  *  - [[compact]] folds the log into a rewritten base.
  *  - [[incremental]] pulls the latest change image per key between two
  *    timeline instants — the Hudi incremental query type, O(changes).
  *  - [[asOf]] reads the merged snapshot at a past instant — Hudi time
  *    travel, retention-bounded.
  *
  * Each step has one spelling: `_rt` and time travel are the same
  * snapshot read (one pointer read, one log listing, base ∪ pending
  * deltas, merge), and [[upsert]]'s next seq, [[bulkInsert]]'s discard
  * point and incremental pulls' upper bound all come from one
  * newest-instant rule ([[latestCommit]]).
  *
  * Storage keeps Debezium *rewrite-mode* images: tombstones stay as rows
  * flagged `__deleted='true'` (the reference demos query them:
  * `moma_debezium_hudi_demo.ipynb` cells 17-20); readers choose
  * [[CdcMerge.Drop]] when they want hard-delete visibility.
  *
  * == Concurrency: versioned base + atomic pointer (mini-timeline) ==
  *
  * The base lives at `base_v<N>` and the log as per-commit `delta_<seq>`
  * dirs; a one-line pointer file (`_meta`: live base version + the seq
  * the base has folded) is committed with an ATOMIC rename, which is the
  * linearization point of every table-state change — the Hudi timeline
  * contract in miniature. A reader resolves the pointer ONCE when its
  * DataFrame is built and from then on holds immutable files: compaction
  * writes a NEW `base_v<N+1>` and never touches the version a reader may
  * hold, so a `realTime()` plan built before a concurrent [[compact]]
  * still executes correctly after it (pinned by CdcLakeSpec's snapshot
  * law). Superseded artifacts (the previous base version, already-folded
  * deltas) are retained for ONE more table-state change and cleaned by
  * the next one — the Hudi cleaner's retain-N-commits policy with N=1:
  * readers must materialize within one compaction cycle, after which
  * their snapshot may be garbage-collected. WRITES stay single-writer
  * ([[bulkInsert]]/[[upsert]]/[[compact]] must not race each other),
  * Hudi's own default; only reader-vs-compaction is lock-free. The rule
  * is ENFORCED at the delta-commit rename ([[commitDelta]]): two racing
  * upserts that allocate the same seq fail loudly on the second rename
  * instead of silently dropping a commit (CdcLakeSpec's collision law).
  *
  * Crash safety: a crash before the pointer commit leaves the old
  * pointer → the old base + log remain the readable truth (the orphan
  * `base_v<N+1>` is overwritten by the next attempt); a crash after
  * leaves the new state committed and only superseded artifacts behind.
  * A missing base can never be observed.
  *
  * Scale notes: the merge shuffles once, globally, on the record key —
  * GLOBAL_BLOOM semantics (`deltastreamer_artists_file_based_schema
  * .properties:25-31`), so a change that moves a row across storage
  * partitions (`update.partition.path`) collapses to the single latest
  * image with no special casing. At 100 TB the base would be bucketed by
  * the key so compaction rewrites only touched buckets; the log stays
  * small relative to base between compactions, which is what keeps `_rt`
  * reads cheap.
  */
class CdcTable(
    spark: SparkSession,
    root: String,
    keyCols: Seq[String],
    orderingCols: Seq[String],
    partitionCol: String) {

  private val logDir = s"$root/log"
  private val metaFile = Paths.get(s"$root/_meta")

  private def baseDir(v: Long): String = s"$root/base_v$v"

  /** (live base version, log seq folded into it, timeline-reset epoch
    * floor); (0, 0, 0) = no base yet. The epoch floor is the highest seq
    * a [[bulkInsert]] RESET discarded: those change images were never
    * folded into the new base, so a pull whose range touches them must
    * be refused loudly (ADVICE r16) instead of reading discarded deltas
    * during their one cleaner cycle of grace. Only the three-field form
    * [[commitMeta]] writes parses; anything else fails loudly as
    * unparseable, never read under guessed semantics.
    */
  private def meta: (Long, Long, Long) =
    if (Files.exists(metaFile)) {
      val text = Files.readString(metaFile).trim
      text.split(" ").map(_.toLongOption) match {
        case Array(Some(v), Some(c), Some(epoch)) => (v, c, epoch)
        case _ => throw new IllegalStateException(
          s"CdcTable pointer $metaFile unparseable: '$text'")
      }
    } else (0L, 0L, 0L)

  /** Atomic pointer commit — the linearization point of bulkInsert and
    * compact: readers see the old (base, fold point, epoch) or the new
    * one, never an intermediate.
    */
  private def commitMeta(v: Long, c: Long, epoch: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(s"$root/_meta.tmp")
    Files.writeString(tmp, s"$v $c $epoch")
    Files.move(tmp, metaFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reads of the compacted base require a committed base. Refusing by
    * name here (instead of handing Spark a nonexistent `base_v0` path)
    * is ADVICE r16's second item: never-committed state is an
    * [[InstantUnavailableException]], not a raw AnalysisException.
    */
  private def requireBase(v: Long): Unit =
    if (v == 0L) throw new InstantUnavailableException(
      s"CdcTable at $root has no committed base yet — bulkInsert first")

  private def deltaSeq(p: Path): Long =
    p.getFileName.toString.stripPrefix("delta_").toLong

  private def deltaDirs: Seq[Path] = {
    val p = Paths.get(logDir)
    if (!Files.exists(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("delta_")).sortBy(deltaSeq)
      finally st.close() // Files.list holds a directory fd until closed
    }
  }

  /** Delta commits not yet folded into base version with fold point `c`. */
  private def pendingDeltas(c: Long): Seq[Path] = deltaDirs.filter(deltaSeq(_) > c)

  /** The newest instant over one log listing: the highest delta seq, or
    * the fold point `c` when the listing holds none above it.
    */
  private def newest(deltas: Seq[Path], c: Long): Long = (deltas.map(deltaSeq) :+ c).max

  /** The cleaner (retain-one-commit): called AFTER a pointer commit with
    * the state that was already superseded BEFORE this change — so every
    * artifact survives exactly one extra table-state change for in-flight
    * readers.
    *
    * The staging GC is AGE-GATED against `stagingCutoff` — the pointer's
    * modification time as observed when this table-state change STARTED:
    * single-writer discipline means no staging can legally be live now,
    * but if the contract is ever violated (a concurrent upsert
    * mid-staging during a compact), its fresh staging dir survives this
    * GC and the violation surfaces loudly at the rename collision in
    * [[commitDelta]] instead of as an opaque missing-path error mid-write
    * (ADVICE r10). Only dirs older than the previous commit — provably
    * orphans of a crashed writer — are collected.
    */
  private def clean(prevV: Long, prevC: Long,
      stagingCutoff: java.nio.file.attribute.FileTime): Unit = {
    (1L until prevV).foreach(v => FileUtils.deleteDirectory(new java.io.File(baseDir(v))))
    deltaDirs.filter(deltaSeq(_) <= prevC).foreach(d => FileUtils.deleteDirectory(d.toFile))
    val p = Paths.get(logDir)
    if (Files.exists(p)) {
      val st = Files.list(p)
      try st.iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.startsWith(".staging_delta_") &&
          Files.getLastModifiedTime(f).compareTo(stagingCutoff) < 0)
        .foreach(f => FileUtils.deleteDirectory(f.toFile))
      finally st.close()
    }
  }

  /** The live pointer's mtime, or MIN when no base exists yet — the
    * staging-GC cutoff captured at the start of a table-state change.
    */
  private def metaMtime: java.nio.file.attribute.FileTime =
    if (Files.exists(metaFile)) Files.getLastModifiedTime(metaFile)
    else java.nio.file.attribute.FileTime.fromMillis(Long.MinValue)

  private def merge(df: DataFrame, mode: CdcMerge.DeleteMode): DataFrame =
    CdcMerge.mergeByKey(keyCols, orderingCols, deleteMode = mode)(df)

  /** Initial bulk load (ref `deltastreamer_jobs_bulk.sh` `--op BULK_INSERT`
    * `--filter-dupes`): pre-merged so the base starts clean. Resets the
    * table: any pending log is discarded (marked folded without being
    * merged — the files themselves get one cleaner cycle of grace).
    */
  def bulkInsert(changelog: DataFrame): Unit = {
    val (v, c, _) = meta
    val cutoff = metaMtime
    val discardThrough = latestCommit
    merge(changelog, CdcMerge.Rewrite).write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(baseDir(v + 1))
    // the reset is a TIMELINE EPOCH: everything at or below
    // discardThrough was discarded, never folded — record it so
    // incremental()/asOf() refuse stale checkpoints loudly (ADVICE r16)
    commitMeta(v + 1, discardThrough, discardThrough)
    clean(v, c, cutoff)
  }

  /** Append a change batch to the log as the next delta commit
    * (`--op UPSERT --continuous` per-trigger write). O(batch) I/O, no
    * base rewrite.
    *
    * Additive schema evolution (the Hudi DeltaStreamer contract this
    * table models: schema-provider indirection lets successive runs carry
    * evolved schemas — ref `hudi/debezium_hudi_demo/deltastreamer_artists_
    * file_based_schema.properties:21-24`): a batch may carry MORE columns
    * than the base (new columns null-back-fill old rows at read) or FEWER
    * (a dropped column reads as null for the batch's images). Only the
    * merge-critical columns are mandatory — key, ordering, and partition
    * columns must be present in every change image.
    */
  def upsert(batch: DataFrame): Unit = {
    val required = (keyCols ++ orderingCols :+ partitionCol).distinct
    val missing = required.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"change batch is missing merge-critical column(s) ${missing.mkString(",")}")
    commitDelta(batch, latestCommit + 1)
  }

  /** Publish a change batch as delta commit `seq`, atomically.
    *
    * The batch is written to a dot-prefixed staging dir under the log
    * (same filesystem — invisible to [[deltaDirs]]' `delta_` filter, so a
    * concurrent `realTime()` can never observe a half-written commit) and
    * then RENAMED into place: the rename is the delta's linearization
    * point, mirroring the `_meta` pointer-commit discipline.
    *
    * The rename also ENFORCES the class contract's single-writer rule
    * (Hudi acquires a write lock; this table makes the violation loud
    * instead): two concurrent upserts that both listed the same log state
    * compute the same `seq`, and the loser's rename hits the existing
    * non-empty `delta_<seq>` dir and throws — a detected collision, never
    * a silent same-seq overwrite that drops the winner's commit.
    */
  private[graft] def commitDelta(batch: DataFrame, seq: Long): Unit = {
    val staging = Paths.get(f"$logDir/.staging_delta_$seq%06d_${java.util.UUID.randomUUID}")
    batch.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val dst = Paths.get(f"$logDir/delta_$seq%06d")
    // only a rename failure that is ACTUALLY a destination collision is
    // reported as a concurrent writer; any other rename error (mount
    // without atomic dir rename, permissions, transient IO) propagates
    // as-is WITH the staged batch left on disk for inspection
    try Files.move(staging, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException if Files.exists(dst) =>
        FileUtils.deleteDirectory(staging.toFile)
        throw new IllegalStateException(
          s"concurrent writer detected: delta commit $seq already exists — " +
            "CdcTable writes are single-writer (see class doc); this batch was NOT committed", e)
    }
  }

  /** `_ro` view: the compacted base only — fast, possibly stale. */
  def readOptimized: DataFrame = {
    val (v, _, _) = meta
    requireBase(v)
    spark.read.parquet(baseDir(v))
  }

  /** The newest committed instant on the timeline: the highest delta
    * commit seq, or the base's fold point when the log is empty — the
    * value an incremental consumer checkpoints as its next `since`.
    */
  def latestCommit: Long = newest(deltaDirs, meta._2)

  /** INCREMENTAL QUERY (the Hudi `incremental` query type with
    * begin/end instants — the read mode chained DeltaStreamer pipelines
    * consume each other with): the latest change image per key among the
    * delta commits with `since < seq <= until`. This reads ONLY the
    * in-range commits — O(changes since the checkpoint), never O(table):
    * at 100 TB a downstream consumer pulls megabytes per cycle while a
    * snapshot read would scan the full base. The single shuffle is the
    * key-merge over the pulled changes.
    *
    * In [[CdcMerge.Rewrite]] mode (default) delete images surface as
    * `__deleted='true'` rows, so a consumer can propagate deletes — the
    * Debezium rewrite contract carried through the pull; [[CdcMerge.Drop]]
    * hides keys whose latest in-range image is a delete.
    *
    * Availability is RETENTION-BOUNDED, exactly as in Hudi: delta commits
    * survive one table-state change past their folding compaction (the
    * class doc's retain-one cleaner), so a consumer must pull within one
    * compaction cycle of its checkpoint; a pull that names a collected
    * (or never-committed) instant is refused with the named
    * [[InstantUnavailableException]] — re-seed from a snapshot read. A
    * [[bulkInsert]] RESETS the timeline: checkpoints from before it are
    * meaningless and must be re-seeded (a bulk insert is a new table in
    * Hudi too).
    */
  def incremental(since: Long, until: Long,
      mode: CdcMerge.DeleteMode = CdcMerge.Rewrite): DataFrame = {
    require(until > since, s"empty incremental range ($since, $until]")
    // ONE deltaDirs snapshot drives every guard below (ADVICE r16 #3: a
    // second listing could observe a different timeline than the first
    // under a concurrent compact+clean and misreport which bound failed)
    val (_, c, epoch) = meta
    val have = deltaDirs
    val latest = newest(have, c)
    if (since < epoch) // the range touches seqs a bulkInsert RESET discarded
      throw new InstantUnavailableException(
        s"incremental pull ($since, $until] predates the timeline reset at " +
          s"$epoch: a bulkInsert discarded (never folded) every change image " +
          "at or below it — stale checkpoints are meaningless across a " +
          "reset; re-seed from a snapshot read (asOf)")
    if (until > latest) // also bounds the missing-seq scan below
      throw new InstantUnavailableException(
        s"incremental pull ($since, $until] ends beyond the newest commit $latest")
    val haveSeqs = have.map(deltaSeq).toSet
    val want = (since + 1) to until
    val missing = want.filterNot(haveSeqs)
    if (missing.nonEmpty)
      throw new InstantUnavailableException(
        s"incremental pull ($since, $until] needs delta commit(s) " +
          s"${missing.mkString(",")} that are not on the timeline — " +
          "already collected by the retain-one cleaner; pull within one " +
          "compaction cycle of the checkpoint, or re-seed from a snapshot read")
    val dirs = have.filter(p => want.contains(deltaSeq(p)))
    merge(spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(_.toString): _*), mode)
  }

  /** TIME TRAVEL (the Hudi `as.of.instant` snapshot read): the full
    * merged table state as of instant `seq` — the live base plus the
    * pending deltas up to and including `seq`, latest image per key.
    * `asOf(latestCommit)` ≡ [[realTime]]; both are one [[snapshot]] read.
    *
    * Travel depth is bounded by cleaner retention, as in Hudi: an
    * instant that predates the live base's fold point needs a superseded
    * base version the retain-one cleaner may have collected, so it is
    * refused with the named [[InstantUnavailableException]] rather than
    * read from files with undefined lifetime. Same snapshot-isolation
    * contract as [[realTime]]: the (base, deltas) set resolves once,
    * here, and the returned plan holds immutable files.
    */
  def asOf(seq: Long, mode: CdcMerge.DeleteMode = CdcMerge.Rewrite): DataFrame =
    snapshot(Some(seq), mode)

  /** `_rt` view: base ∪ pending log merged at read, latest image per key.
    * The (base version, fold point) snapshot is resolved HERE, once — the
    * returned plan stays valid across a concurrent [[compact]] (see the
    * class doc's reader contract).
    *
    * Schema = base ∪ log columns: the log is read with `mergeSchema` (log
    * batches may themselves have evolved between commits) and unioned by
    * NAME with null back-fill on both sides, so a column added by a later
    * change batch surfaces immediately with nulls on not-yet-touched rows
    * — the same read-side union Hudi's real-time view performs. The
    * column ORDER is the base's, with evolved columns appended.
    */
  def realTime(mode: CdcMerge.DeleteMode = CdcMerge.Rewrite): DataFrame =
    snapshot(None, mode)

  /** The ONE snapshot read behind [[realTime]] and [[asOf]]: one pointer
    * read, one log listing, then the live base ∪ the pending deltas up to
    * instant `seq` (the newest commit when `None`), merged. The single
    * listing both bounds `seq` and selects the deltas, so `realTime` —
    * which [[compact]] runs — lists the log once.
    */
  private def snapshot(seq: Option[Long], mode: CdcMerge.DeleteMode): DataFrame = {
    val (v, c, _) = meta
    requireBase(v)
    val pend = pendingDeltas(c)
    val latest = newest(pend, c)
    val at = seq.getOrElse(latest)
    if (at > latest)
      throw new InstantUnavailableException(
        s"as-of instant $at is beyond the newest commit $latest")
    if (at < c)
      throw new InstantUnavailableException(
        s"as-of instant $at predates the live base's fold point $c — its " +
          "snapshot artifacts may already be collected (time travel is " +
          "bounded by cleaner retention; see the class doc)")
    val base = spark.read.parquet(baseDir(v))
    val dirs = pend.filter(deltaSeq(_) <= at)
    val all =
      if (dirs.isEmpty) base
      else base.unionByName(
        spark.read.option("mergeSchema", "true")
          .parquet(dirs.map(_.toString): _*),
        allowMissingColumns = true)
    merge(all, mode)
  }

  /** Fold the pending log into a NEW base version (Hudi compaction):
    * after this, `_ro == _rt`. The rewritten base lands at `base_v<N+1>`,
    * the pointer commit makes it live atomically, and the cleaner then
    * removes only what was ALREADY superseded before this compaction —
    * the previous base version and the deltas it had folded stay on disk
    * for one more cycle, so in-flight readers are never broken.
    */
  def compact(): Unit = {
    val (v, c, epoch) = meta
    val cutoff = metaMtime
    val pend = pendingDeltas(c)
    if (pend.isEmpty) return
    realTime(CdcMerge.Rewrite).write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(baseDir(v + 1))
    commitMeta(v + 1, pend.map(deltaSeq).max, epoch) // compaction never moves the epoch
    clean(v, c, cutoff)
  }

  /** Register the Hudi-style `<name>_ro` / `<name>_rt` temp view pair
    * (ref `demonstration_notes.md` "Preview Hive Database").
    */
  def registerViews(name: String): Unit = {
    readOptimized.createOrReplaceTempView(s"${name}_ro")
    realTime().createOrReplaceTempView(s"${name}_rt")
  }
}
