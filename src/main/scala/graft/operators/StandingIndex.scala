package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** A maintenance mutation lost its optimistic-concurrency race (a
  * pointer version CAS claimed by another writer, or a publish onto a
  * name committed state already references): the mutation was NOT
  * committed and is retryable from fresh state. A dedicated TYPE so
  * retry/compensation control flow — [[StandingIndex]]'s internal
  * catch sites, [[graft.AsyncCompactor]]'s retry loop, spec laws —
  * matches on the class, never on error-message wording (which a text
  * edit would silently turn into hard failures). Extends
  * IllegalStateException so pre-existing broad handlers keep working.
  */
class OccCollisionException(message: String, cause: Throwable = null)
  extends IllegalStateException(message, cause)

/** A role-lease ACQUIRE failed and no lease is held. The primary shape
  * is a deployment error — the lease is HELD by another live writer (a
  * second folder or compactor on one index), surfaced loudly at
  * startup instead of as the silent rename-window corruption same-role
  * concurrency risks, and NOT something to auto-retry. The same type
  * also covers an acquire losing its claim or fence-bump races to
  * pathological contention (the message says so and the lease is
  * released first); whether to re-run the startup acquire there is
  * deployment policy — in every case the invariant is simply "this
  * writer holds nothing".
  */
class RoleLockHeldException(message: String, cause: Throwable = null)
  extends IllegalStateException(message, cause)

/** A mutation was refused because its holder's role lease was
  * SUPERSEDED: a successor acquired the same role (crash-expiry
  * takeover, or a fresh acquire after this holder released) and fenced
  * the pointer at a higher lease epoch, so a commit carrying the old
  * epoch can no longer land ([[StandingIndex.acquireRoleLease]]'s
  * fencing token). Deliberately NOT an [[OccCollisionException]]:
  * a collision is retryable from fresh state by the SAME writer,
  * whereas a fenced writer must STOP — retrying would race the live
  * successor, the exact hazard the fence exists to close.
  */
class LeaseFencedException(message: String)
  extends IllegalStateException(message)

/** The atomic-exclusive CLAIM primitive behind every [[StandingIndex]]
  * linearization point — pointer version commits and role-lease claims
  * both funnel through one `claim`. The contract: atomically create
  * `dst` with content `body` iff `dst` does not already exist; return
  * false when another writer claimed it first; two racers must NEVER
  * both return true, across processes and hosts. The default
  * ([[FileClaimProvider]]) implements it with POSIX `link(2)` /
  * no-overwrite rename and is only sound on file/hdfs/viewfs schemes;
  * an object-store deployment supplies an external provider instead
  * (serialize `claim` under a ZK/DynamoDB-style lock, then
  * exists-check + write inside the critical section) — Hudi's
  * pluggable lock-provider shape, here as a configuration point rather
  * than a hard refusal.
  */
trait ClaimProvider {
  def claim(dst: org.apache.hadoop.fs.Path, body: String): Boolean
}

/** The shipped [[ClaimProvider]]: content fully written to a tmp file
  * first (a claimed file is never observable partial), then claimed via
  * POSIX `link(2)` on a local filesystem (atomic-exclusive) or a
  * no-overwrite `FileContext.rename` elsewhere (atomic-exclusive on
  * HDFS-family stores; Hadoop's local create/rename are
  * exists-check-then-act, NOT atomic — hence the link arm).
  */
class FileClaimProvider(
    fs: org.apache.hadoop.fs.FileSystem,
    warehousePath: org.apache.hadoop.fs.Path,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    tmpPrefix: String) extends ClaimProvider {
  override def claim(dst: org.apache.hadoop.fs.Path, body: String): Boolean = {
    fs.mkdirs(warehousePath)
    val tmp = new org.apache.hadoop.fs.Path(warehousePath,
      s"$tmpPrefix${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    try {
      if (fs.getScheme == "file") {
        val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
        val src = java.nio.file.Paths.get(tmp.toUri.getPath)
        try { java.nio.file.Files.createLink(dstNio, src); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(warehousePath.toUri, hadoopConf)
            .rename(tmp, dst)
          true
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      }
    } finally { fs.delete(tmp, false); () }
  }
}

/** Versioned, SEGMENTED standing-index lake — the maintenance story for
  * the per-ingest admission family (q73/q75/q80): after a batch is
  * admitted, its index keys must FOLD INTO the standing index before the
  * next batch probes it, the analog of the reference's continuous
  * DeltaStreamer upsert loop (ref
  * `hudi/debezium_hudi_demo/demonstration_notes.md` "Run Hudi
  * DeltaStreamer Continuously", `deltastreamer_jobs_cont_bkgd.sh` — each
  * cycle upserts the new arrivals into the standing Hudi table that the
  * next cycle reads).
  *
  * Layout = LSM-style segments, NOT rewrite-on-fold: each fold writes the
  * delta as a NEW bucketed catalog table (bucketed by the probe key —
  * [[BucketedLake]]'s one-file-per-bucket discipline) and publishes it
  * with an ATOMIC, OPTIMISTICALLY-CONCURRENT pointer commit (see below).
  * Rewriting the whole index per ingest would be O(corpus) per batch — at
  * 100 TB that's the wrong cost class; appending a segment is O(batch).
  *
  * Each pointer entry carries four fields per segment:
  *
  *   - `table` — the physical catalog table (keyed folds use
  *     `<name>_seg<id>`, compaction generations `<name>_cmp<g>`, expiry
  *     rewrites `<name>_exp<g>`, so a merged segment can never collide
  *     with a FUTURE keyed fold's id — and, under the
  *     one-writer-per-ROLE deployment shape, the continuous ingest role
  *     and the async compactor never contend for a physical name
  *     either);
  *   - `cover` — the maximum fold id the segment SUBSUMES. A keyed fold
  *     at id `i` covers `i`; a compaction's merged segment covers the max
  *     cover of everything it merged. [[segmentsUpTo]] selects by cover,
  *     not by physical id, which is what lets compaction run BETWEEN
  *     micro-batches of a continuous keyed-fold ingest (q94): after a
  *     compact of segments covering 0..b+1, batch b+1's
  *     `segmentsUpTo(b+1)` probe still resolves the merged segment —
  *     Hudi's async compaction under DeltaStreamer `--continuous`, where
  *     an in-flight reader's view is decided by commit coverage, never
  *     by file names;
  *   - `maxEventMs` / `minEventMs` — the largest and smallest event-time
  *     stamp folded into the segment (`Long.MaxValue` when the caller
  *     tracks none). A keyed fold is POINT-stamped (min == max: one batch,
  *     one stamp); a compaction that merges segments with DIFFERING
  *     stamps records the merged range in the pointer and carries each
  *     entry's own stamp in a per-row `_g_stamp` column (see
  *     [[compact]]), so [[expire]] keeps retiring exactly the horizon's
  *     entries — whole segments when `maxEventMs` fell behind, a
  *     filter-rewrite of the stamped rows when only part of a merged
  *     generation did. This is what lets compaction COMPOSE with horizon
  *     expiry in an expiring streaming deployment, where every fold
  *     carries a distinct stamp and no two segments are ever
  *     stamp-homogeneous (the reference runs Hudi cleaning and compaction
  *     together under continuous upsert — ref
  *     `hudi/debezium_hudi_demo/base.properties` cleaner retention
  *     beside compaction, `demonstration_notes.md` "Run Hudi DeltaStreamer
  *     Continuously").
  *
  * Probing a segmented index is sound because admission DISTRIBUTES
  * over segments: NOT EXISTS over `seg_0 ∪ … ∪ seg_N` is the AND of NOT
  * EXISTS over each segment, so the fingerprint and vector modalities
  * probe as a chain of left-anti joins, one per segment
  * (`LlmQueries.admitByFingerprint`, `admitByVectorSegments`), and an
  * equi-join of the probe frame against the union equals the union of
  * the per-segment joins, so the band modality (`admitByBandFrame`)
  * unions per-segment CANDIDATES (probe-bounded, tiny), never the index
  * itself. Each per-segment join is zero-exchange on the index
  * side (every segment is bucketed by the join key — plan-verified in
  * BucketingSpec), so no fold ever re-shuffles standing data. Segment count is
  * bounded by [[compact]] (Hudi's compaction) — either harness-invoked or
  * policy-triggered ([[compactIfOver]]: merge the committed prefix when
  * the live count exceeds a cap).
  *
  * Superseded and expired segments get ONE CYCLE OF GRACE (CdcTable's
  * retain-one cleaner discipline): [[compact]]/[[expire]] move them to a
  * RETIRED list in the pointer instead of dropping them, and the next
  * mutating call ([[fold]]/[[foldAt]]/[[compact]]/[[expire]]) reclaims
  * the retired generation. A cross-JVM reader that resolved the
  * pre-compact pointer therefore still completes its scan — its tables
  * outlive the pointer swap by a full maintenance cycle.
  *
  * == Concurrency: OCC pointer commits, one writer per ROLE ==
  *
  * The pointer is a sequence of immutable VERSION files
  * (`_<name>_segments.v<n>`, zero-padded); a reader resolves the highest
  * version, a writer commits by atomically CLAIMING version `n + 1`
  * (hard-link on a local filesystem — POSIX `link(2)` is
  * atomic-exclusive; no-overwrite rename on HDFS). Two writers that both
  * read version `n` race for `n + 1`: exactly one wins, the loser throws
  * a NAMED collision — a lost update can never silently drop the
  * winner's segment entry (the failure a last-write-wins pointer rename
  * would allow). This is Hudi's optimistic concurrency control shape:
  * the deployment the reference models runs a continuous ingest writer
  * WITH maintenance beside it, and the commit timeline is what arbitrates.
  *
  * The physical-table namespaces make the supported deployment's two
  * roles collision-free BELOW the pointer too: the continuous ingest
  * role writes only `_seg<id>` tables (folds) and `_exp<g>` tables
  * (expiry rewrites), the async compactor only `_cmp<g>` tables, so
  * their staging renames never contend for a name and every conflict
  * surfaces at the pointer CAS, loudly, with both writers' data intact
  * (the loser's segment table is re-published by its retry).
  * The ONE unsafe interleaving left is two writers of the SAME role
  * (two folders, or two compactors): both derive the same next physical
  * name from the same committed state, and between the loser's staging
  * rename and its (failing) pointer commit the winner's same-name
  * publish could reclaim its files. Same-role concurrency therefore
  * requires a lock, exactly Hudi's rule for multiple writers of the
  * same table — and the lock is SHIPPED, not just documented: each
  * role starts under its expiry-stamped lease ([[acquireRoleLease]],
  * itself OCC-claimed like the pointer), so a misdeployed second
  * same-role writer fails loudly at startup with
  * [[RoleLockHeldException]] instead of corrupting, and a holder that
  * crashes un-released simply stops renewing and is taken over after
  * `leaseMs` (tested in ConcurrentMaintenanceSpec's lease laws). The
  * lease carries a FENCING TOKEN: every acquire records its lease
  * epoch in the pointer, and a commit from a superseded epoch is
  * refused deterministically ([[LeaseFencedException]]) — a holder
  * stalled past `leaseMs` whose role was taken over can never land a
  * late commit (acquireRoleLease's scaladoc has the two-arm argument).
  *
  * A registered-but-unreferenced destination table is reclaimed ONLY
  * when the per-instance [[attempted]] ledger proves it is this
  * instance's own crashed publish; the ledger is PRUNED when a commit
  * lands (a committed name is pointer-referenced and guarded by the
  * collision check — keeping it in the ledger would misclassify a
  * much-later reuse of the name). Segment ids and compaction generations
  * are allocated from never-decreasing HIGH-WATER MARKS persisted in the
  * pointer, so an [[expire]] that retires the max-cover segment can
  * never cause a later fold to reallocate a previously-used physical
  * name (the name-reuse hazard a live-max allocation would have).
  *
  * Scoped to one warehouse root. Segments are catalog tables; a session
  * whose in-memory catalog does not know a committed segment (the
  * cross-JVM async-compactor shape — in production the roles share a
  * metastore) re-registers it as an external bucketed table from its
  * warehouse location before reading ([[resolveTable]]).
  */
class StandingIndex(
    spark: SparkSession,
    name: String,
    buckets: Int,
    keys: Seq[String],
    claimProvider: Option[ClaimProvider] = None) {

  require(!name.contains('.') && name.nonEmpty,
    s"StandingIndex takes an unqualified catalog-safe name, got '$name'")
  require(keys.nonEmpty, "StandingIndex needs at least one bucket key")

  /** One pointer entry — see class doc for the four fields. */
  private case class Seg(table: String, cover: Long, maxEventMs: Long, minEventMs: Long)

  /** One resolved pointer snapshot: live entries, retired tables pending
    * reclaim, the two id high-water marks, the per-role FENCE epochs
    * (the lease epoch of each role's most recent acquire — commits from
    * an older epoch are refused, see [[acquireRoleLease]]), and the
    * version the snapshot was read at (the OCC expectation for the next
    * commit).
    */
  private case class State(
      live: Seq[Seg], retired: Seq[String],
      hwmSeg: Long, hwmCmp: Long, version: Long,
      fences: Map[String, Long] = Map.empty)

  /** Per-row stamp column carried by merged segments whose entries have
    * differing event-time stamps (see [[compact]]); never visible to
    * readers ([[segments]]/[[segmentsUpTo]] drop it).
    */
  private val StampCol = "_g_stamp"

  // pointer IO goes through Hadoop FS, not java.nio, wherever possible:
  // index state and segment data must share a root on ANY warehouse
  // scheme (file:, hdfs:, s3a: with an atomic-rename layer). The one
  // exception is the version CLAIM on a local filesystem, where POSIX
  // link(2) is the atomic-exclusive primitive (Hadoop's local
  // create/rename are exists-check-then-act, not atomic).
  private val warehouse = spark.conf.get("spark.sql.warehouse.dir")
  private val warehousePath = new org.apache.hadoop.fs.Path(warehouse)
  private val fs = warehousePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // the DEFAULT claim primitive is only atomic-exclusive on filesystems
  // whose primitive actually is: POSIX link(2) on `file`, no-overwrite
  // rename on HDFS-family stores. On an object store (s3a without an
  // atomic-rename layer) rename is exists-check-then-act, so two racers
  // could BOTH believe they claimed a version and the lost-update
  // guarantee would silently degrade to last-write-wins — fail FAST at
  // construction instead, mirroring Hudi's explicit lock-provider
  // requirement for such stores. An EXTERNAL [[ClaimProvider]] lifts
  // the restriction: the deployment supplies the atomicity (a
  // ZK/DynamoDB-style lock around claim — Hudi's pluggable provider
  // shape), so the allowlist applies only to the shipped default.
  require(claimProvider.isDefined || Set("file", "hdfs", "viewfs").contains(
      Option(fs.getScheme).map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")),
    s"StandingIndex '$name': warehouse scheme '${fs.getScheme}' has no " +
      "atomic-exclusive claim primitive, so OCC pointer commits would " +
      "silently degrade to last-write-wins; run on file/hdfs/viewfs or " +
      "pass an external ClaimProvider (the claimProvider constructor " +
      "argument — Hudi's lock-provider rule as a configuration point)")

  private def segTable(i: Long): String = s"${name}_seg$i"
  private def cmpTable(g: Long): String = s"${name}_cmp$g"
  // expiry rewrites get their OWN physical namespace: the ingest role
  // (fold + expire) and the async-compactor role (compact) must never
  // derive the same next physical name from the same committed state,
  // or the rename-window hazard the class doc scopes to SAME-role
  // concurrency would reopen between the two roles. Generations of both
  // kinds allocate from the one hwm counter (monotone, never reused).
  private def expTable(g: Long): String = s"${name}_exp$g"
  private def verPath(v: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(warehousePath, f"_${name}_segments.v$v%019d")

  private def collisionError(what: String, cause: Throwable = null) =
    new OccCollisionException(
      s"StandingIndex '$name' concurrent-maintenance collision: $what — " +
        "maintenance is one-writer-per-role with OCC pointer commits " +
        "(see class doc); this mutation was NOT committed and can be " +
        "retried from fresh state", cause)

  private def readFile(p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Committed pointer versions, ascending. Tmp files (`.tmp*`) don't
    * match the glob; unparsable suffixes are ignored defensively.
    */
  private def listVersions(): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(warehousePath)) Seq.empty
    else fs.globStatus(new org.apache.hadoop.fs.Path(warehousePath, s"_${name}_segments.v*"))
      .toSeq.flatMap { st =>
        val suffix = st.getPath.getName.stripPrefix(s"_${name}_segments.v")
        suffix.toLongOption.map(_ -> st.getPath)
      }.sortBy(_._1)

  /** Resolve the pointer: the highest committed version file, or the
    * empty uninitialized state when there is none. Pointer format (the
    * one [[commit]] writes): line 1 = live entries
    * `table|cover|maxEventMs|minEventMs` comma-separated; line 2 =
    * retired tables; line 3 = `hwm|<seg>|<cmp>`; line 4 (optional) =
    * fence epochs. Anything else fails loudly as unparseable, never
    * read under guessed semantics.
    */
  private def state: State = {
    // a racing pair of commits can delete the version this reader just
    // globbed (commit keeps only the previous version as grace): re-list
    // and re-read — the retry always lands on a newer committed snapshot
    var attempt = 0
    while (true) {
      try return stateOnce
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def stateOnce: State = {
    val versions = listVersions()
    if (versions.isEmpty) return State(Seq.empty, Seq.empty, 0L, 0L, 0L, Map.empty)
    val (version, path) = versions.last
    val body = readFile(path)
    val lines = body.split("\n", -1)
    val live = lines(0).trim.split(",").filter(_.nonEmpty).toSeq.map { tok =>
      tok.split('|') match {
        case Array(t, c, mx, mn) => Seg(t, c.toLong, mx.toLong, mn.toLong)
        case _ => throw new IllegalStateException(
          s"StandingIndex '$name' pointer entry unparseable: '$tok'")
      }
    }
    val retired =
      if (lines.length > 1) lines(1).trim.split(",").filter(_.nonEmpty).toSeq
      else Seq.empty
    val hwmLine = lines.lift(2).map(_.trim).getOrElse("")
    val (hwmSeg, hwmCmp) = hwmLine.split('|') match {
      case Array("hwm", s, c) => (s.toLong, c.toLong)
      case _ => throw new IllegalStateException(
        s"StandingIndex '$name' pointer hwm line unparseable: '$hwmLine'")
    }
    // line 4 (optional): per-role fence epochs `fence|role=epoch,...` —
    // absent on pre-fencing pointers (no role has ever fenced)
    val fences = lines.lift(3).map(_.trim).filter(_.startsWith("fence|")) match {
      case Some(f) => f.stripPrefix("fence|").split(",").filter(_.nonEmpty)
        .map { tok =>
          tok.split('=') match {
            case Array(r, e) => r -> e.toLong
            case _ => throw new IllegalStateException(
              s"StandingIndex '$name' pointer fence entry unparseable: '$tok'")
          }
        }.toMap
      case None => Map.empty[String, Long]
    }
    State(live, retired, hwmSeg, hwmCmp, version, fences)
  }

  /** Atomically claim immutable file `dst` with `body` as its content —
    * the shared linearization primitive behind pointer commits
    * ([[claimVersion]]) and role-lease claims ([[acquireRoleLease]]),
    * routed through the [[ClaimProvider]] seam: the shipped
    * [[FileClaimProvider]] by default, or the deployment's external
    * provider on stores without an atomic-exclusive primitive. Returns
    * false when another writer claimed `dst` first.
    */
  private val claimer: ClaimProvider = claimProvider.getOrElse(
    new FileClaimProvider(fs, warehousePath,
      spark.sparkContext.hadoopConfiguration, s"_${name}_claim.tmp"))

  private def claimFile(dst: org.apache.hadoop.fs.Path, body: String): Boolean =
    claimer.claim(dst, body)

  /** Claim pointer version `v` — the commit's linearization point. */
  private def claimVersion(v: Long, body: String): Boolean =
    claimFile(verPath(v), body)

  /** The role-lease epochs THIS instance currently CLAIMS (role →
    * lease version of its most recent [[acquireRoleLease]]; removed by
    * [[releaseRoleLease]]) — the writer side of the fencing token:
    * every commit from a leased instance is checked against the
    * pointer's fence line, so a commit whose epoch predates a
    * successor's acquire is refused deterministically
    * ([[LeaseFencedException]]) instead of racing the successor. Only
    * CLAIMED roles bind: a cleanly-released role's successor must not
    * fence the releaser's other-role commits. Guarded by
    * `this.synchronized` like [[attempted]].
    */
  private val heldEpochs = scala.collection.mutable.Map.empty[String, Long]

  /** The fencing-token check ([[acquireRoleLease]]'s scaladoc states the
    * two-arm determinism argument): refuse when any role this instance
    * holds has been fenced at a HIGHER epoch in `st` — a successor
    * acquired the role, so this writer must stop, never retry. Run at
    * the head of every mutation (fail before staging anything) AND at
    * [[commit]] (the backstop for a takeover landing mid-mutation).
    */
  private def requireUnfenced(st: State): Unit = {
    val held = this.synchronized { heldEpochs.toMap }
    held.foreach { case (role, epoch) =>
      val fenced = st.fences.getOrElse(role, Long.MinValue)
      if (fenced > epoch) throw new LeaseFencedException(
        s"StandingIndex '$name' role '$role' commit fenced: this writer " +
          s"holds lease epoch $epoch but the pointer records a successor's " +
          s"acquire at epoch $fenced — the lease was taken over (stall past " +
          "leaseMs, or a post-release successor); this mutation was NOT " +
          "committed and must NOT be retried by this writer")
    }
  }

  /** OCC pointer commit: claim `prev.version + 1`; a racing writer that
    * committed since `prev` was read makes this throw the named
    * collision — never a silent lost update. A commit from a FENCED
    * lease holder (a successor acquired its role since — see
    * [[requireUnfenced]]) is refused with [[LeaseFencedException]]
    * before the claim. On success, prunes the committed names from the
    * in-flight [[attempted]] ledger and retires old version files (the
    * previous version survives one cycle, like superseded segment
    * tables). `fences` overrides the carried-through per-role fence
    * line — only [[acquireRoleLease]]'s fence bump passes it.
    */
  private def commit(
      prev: State, live: Seq[Seg], retired: Seq[String],
      hwmSeg: Long, hwmCmp: Long,
      fences: Option[Map[String, Long]] = None): Unit = {
    requireUnfenced(prev)
    val fenceLine = fences.getOrElse(prev.fences)
    val body = live.map(s => s"${s.table}|${s.cover}|${s.maxEventMs}|${s.minEventMs}")
      .mkString(",") + "\n" + retired.mkString(",") + "\n" + s"hwm|$hwmSeg|$hwmCmp" +
      (if (fenceLine.isEmpty) ""
       else "\nfence|" + fenceLine.toSeq.sorted.map { case (r, e) => s"$r=$e" }.mkString(","))
    if (!claimVersion(prev.version + 1, body))
      throw collisionError(
        s"pointer version ${prev.version + 1} was claimed by another writer")
    // the ledger is shared with publishSegment's synchronized reads: two
    // threads on one instance must not race the mutable set
    this.synchronized {
      attempted --= live.map(_.table)
      attempted --= retired
    }
    listVersions().filter(_._1 < prev.version).foreach(p => fs.delete(p._2, false))
  }

  private def writeSegment(df: DataFrame, table: String): Unit =
    BucketedLake.writeBucketed(df, table, buckets, keys.head, keys.tail: _*)

  /** Resolve a committed segment table, re-registering it as an external
    * bucketed table from its warehouse location when this session's
    * in-memory catalog does not know it — the cross-JVM maintenance
    * shape (an async compactor process beside the ingest writer; in
    * production the roles share a metastore, which the shared warehouse
    * root stands in for here). The re-registration declares the same
    * CLUSTERED/SORTED BY layout writeBucketed produced, so plan-level
    * zero-exchange probes survive the JVM hop.
    */
  private def resolveTable(table: String): DataFrame = {
    if (!spark.catalog.tableExists(table)) this.synchronized {
      if (!spark.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          warehouse, table.toLowerCase(java.util.Locale.ROOT))
        require(fs.exists(loc),
          s"StandingIndex '$name': committed segment '$table' has neither a " +
            s"catalog entry nor a warehouse location ($loc) — the pointer " +
            "references state this warehouse does not hold")
        val schema = spark.read.parquet(loc.toString).schema
        val sortKeys = keys.map(k => s"`$k`").mkString(", ")
        spark.sql(
          s"CREATE TABLE `$table` (${schema.toDDL}) USING PARQUET " +
            s"CLUSTERED BY ($sortKeys) SORTED BY ($sortKeys) " +
            s"INTO $buckets BUCKETS LOCATION '${loc.toString}'")
      }
    }
    spark.table(table)
  }

  /** Drop a segment's catalog entry AND its warehouse location — the
    * in-memory catalog forgets tables when the session ends while the
    * directory persists, so a later JVM must clean both or orphaned
    * locations accumulate and block renames (writeBucketed's own
    * orphan-location rationale). Concurrent reclaims of the same retired
    * generation (two roles' maintenance cycles overlapping) may race the
    * directory delete; a concurrently-vanishing path is the other
    * writer's identical cleanup, not an error.
    */
  private def dropSegment(table: String): Unit = {
    // in the common publish path the table does NOT exist (fresh segment
    // name) — the in-memory existence probe is ~5x cheaper than parsing
    // and executing a no-op DROP statement (OPTIMIZATION_r18.md), and publishes
    // run once per fold
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      warehouse, table.toLowerCase(java.util.Locale.ROOT))
    try { if (fs.exists(loc)) fs.delete(loc, true) }
    catch { case _: java.io.FileNotFoundException => () }
  }

  /** Segment names THIS instance has attempted to publish — the ledger
    * that makes "provably our own crashed publish" literally provable: a
    * registered-but-unreferenced destination is reclaimable iff WE
    * previously attempted it (our rename happened, our pointer commit
    * did not). Without the ledger, ANY registered-unreferenced table
    * would be classified as a crash leftover — including a racing
    * writer's freshly-renamed, not-yet-committed delta, which a reclaim
    * would silently destroy (the silent-overwrite outcome the loud
    * collision contract exists to prevent). Entries are PRUNED when the
    * commit referencing them lands ([[commit]]), so the ledger holds
    * only in-flight publishes and a long-lived instance can never
    * misclassify a legitimately-freed-and-reused name as its own crash.
    */
  private[graft] val attempted = scala.collection.mutable.Set.empty[String]

  /** Reclaim the RETIRED generation — the deferred half of
    * [[compact]]/[[expire]]'s retain-one grace, run at the head of every
    * mutating call: tables a pre-swap reader may still be scanning get
    * exactly one maintenance cycle before their bytes go away. Returns
    * the state the caller should proceed from. A reclaim that loses the
    * pointer CAS to a concurrent writer re-reads and proceeds — the
    * cleanup is idempotent and the next cycle finishes it.
    */
  private def reclaimRetired(): State = {
    val st = state
    requireUnfenced(st) // fail BEFORE staging anything (fencing token)
    if (st.retired.isEmpty) st
    else {
      st.retired.foreach(dropSegment)
      try { commit(st, st.live, Seq.empty, st.hwmSeg, st.hwmCmp); state }
      catch { case _: OccCollisionException => state }
    }
  }

  /** Publish a new segment through a STAGING table + catalog rename —
    * CdcTable's commitDelta discipline ported to catalog tables: the
    * rename is the segment's linearization point. Publishing onto a
    * table the POINTER references (live or retired) throws — that table
    * is committed state, so a same-name publish can only be a writer
    * contract violation and must surface loudly, never as a silent
    * overwrite (checked BEFORE any catalog probe: a committed segment
    * another JVM published is referenced without being in our catalog).
    * A catalog-REGISTERED table the pointer does not reference is
    * reclaimed in place ONLY when the [[attempted]] ledger proves it is
    * this instance's own crashed publish (renamed, died before the
    * pointer commit); the contested path re-reads the pointer first so a
    * racing writer's commit that landed after our caller's read still
    * collides loudly. A catalog-unregistered leftover at the segment's
    * LOCATION is a dead same-role writer's orphan (the catalog is
    * in-memory; physical names are role-namespaced — class doc) and is
    * reclaimed. Synchronized: two threads racing through one instance
    * serialize here instead of interleaving drop/rename.
    */
  private def publishSegment(
      df: DataFrame, table: String, referenced: Set[String]): Unit = this.synchronized {
    def collision(cause: Throwable) = new OccCollisionException(
      s"StandingIndex '$name' publish collision on '$table': folds are " +
        "single-writer-per-role (see class doc); this delta was NOT published", cause)
    if (referenced.contains(table)) throw collision(null)
    if (spark.catalog.tableExists(table)) {
      // registered but unreferenced per the caller's read: re-read the
      // pointer (the caller's snapshot may predate a racing commit),
      // then reclaim only our own provable crash leftover
      val stNow = state
      if ((stNow.live.map(_.table) ++ stNow.retired).contains(table) ||
          !attempted.contains(table))
        throw collision(null)
    }
    attempted += table
    // reclaims our own crashed publish's registered table or a dead
    // JVM's orphaned location (no-op otherwise) — see scaladoc
    dropSegment(table)
    val stg = s"${table}_stg"
    // staging variant: the stg name dies in the very next statement, so
    // refreshing it is a wasted catalog round-trip per fold; the FINAL
    // name is refreshed below, which is the read path's consistency point
    BucketedLake.writeBucketedStaging(df, stg, buckets, keys.head, keys.tail: _*)
    try spark.sql(s"ALTER TABLE `$stg` RENAME TO `$table`")
    catch { case e: Throwable =>
      spark.sql(s"DROP TABLE IF EXISTS `$stg`")
      throw collision(e)
    }
    spark.catalog.refreshTable(table) // no stale relation under the new name
  }

  /** Initial index build (the corpus-ingest bulk load). Resets the
    * index: prior segments — live, retired, and this session's crashed
    * leftovers alike — are superseded and dropped, and the fold-id
    * high-water mark resets (a reset index is a NEW index; the
    * generation counter stays monotone on a RE-init, whose staged
    * corpus takes a fresh generation name so the old corpus is never
    * overwritten before the reset's commit lands).
    */
  def init(df: DataFrame, maxEventMs: Long = Long.MaxValue): Unit = {
    val prev = state
    requireUnfenced(prev)
    val fresh = prev.live.isEmpty && prev.retired.isEmpty
    // a FRESH init owns the namespace — plain write to seg0, nothing
    // committed exists to tear. A RE-init writes the new corpus under a
    // NEW generation name instead of overwriting seg0 in place: the old
    // corpus bytes stay intact under the old pointer until OUR commit
    // lands, so a lost CAS (or a crash) leaves readers fully consistent
    // — never new bytes under old metadata. init is still a RESET
    // (quiesce maintenance first); a racing commit is retried and
    // superseded, and on give-up the staged corpus is dropped.
    val gen = prev.hwmCmp + 1
    val target = if (fresh) segTable(0L) else expTable(gen)
    if (fresh) writeSegment(df, target)
    else publishSegment(df, target, (prev.live.map(_.table) ++ prev.retired).toSet)
    var committed = false
    var attempts = 0
    var basis = prev
    while (!committed) {
      try {
        commit(basis, Seq(Seg(target, 0L, maxEventMs, maxEventMs)), Seq.empty,
          0L, if (fresh) 0L else basis.hwmCmp max gen)
        committed = true
      } catch {
        case e: OccCollisionException =>
          attempts += 1
          if (attempts >= 5) {
            // give up loudly with nothing torn: drop the staged corpus
            // (provably ours — a re-init generation name no racer
            // derives); the old pointer and bytes are untouched
            if (!fresh) dropSegment(target)
            throw e
          }
          basis = state
        // a successor fenced us mid-init: NO compensation (fold's
        // rationale — the successor may be adopting the staged name)
        // and no retry; LeaseFencedException propagates
      }
    }
    (basis.live.map(_.table) ++ basis.retired ++
        prev.live.map(_.table) ++ prev.retired).distinct
      .filter(_ != target).foreach(dropSegment)
    this.synchronized {
      attempted.clear()
      attempted += target
    }
  }

  /** Fold an admitted batch's index keys into the standing index: write
    * the delta as a new bucketed segment and atomically publish it.
    * O(batch), never O(corpus) — standing segments are untouched. The
    * segment id comes from the persisted high-water mark, never from the
    * live maximum, so an expire() that retired the top segment cannot
    * cause a name reuse. `maxEventMs` feeds [[expire]]'s horizon
    * retirement; leave defaulted for an index with no event-time bound.
    */
  def fold(delta: DataFrame, maxEventMs: Long = Long.MaxValue): Unit = {
    val st = reclaimRetired()
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before fold()")
    val next = st.hwmSeg + 1
    publishSegment(delta, segTable(next), (st.live.map(_.table) ++ st.retired).toSet)
    // st.retired passes through: it is non-empty only when this cycle's
    // reclaim lost its commit CAS to a racer — dropping the LIST without
    // having dropped the TABLES would orphan them forever; carrying it
    // lets the next cycle's reclaim finish the job
    // deliberately NO compensating drop on a FENCED commit (here or in
    // any mutator): once a successor exists, it may at any moment adopt
    // this very name — cross-JVM, publishSegment's orphan-reclaim arm
    // reclaims a catalog-unregistered leftover location — so a late
    // drop from the fenced predecessor could physically destroy the
    // successor's committed segment (silent data loss). The orphan this
    // leaves instead is self-healing cross-JVM (the reclaim arm) and a
    // LOUD named collision for a same-JVM successor (availability,
    // never data loss; remove the orphan table to clear it). The
    // OccCollision compensation arms elsewhere are different: a
    // collision implies NO takeover, so no other writer can be adopting
    // the name.
    commit(st, st.live :+ Seg(segTable(next), next, maxEventMs, maxEventMs),
      st.retired, next, st.hwmCmp)
  }

  /** Replay-idempotent KEYED fold for streaming ingest: publish the
    * delta AT the caller-supplied segment id (e.g. `microBatchId + 1`),
    * OVERWRITING any previous publish at that id — the batch-keyed
    * idempotent-sink discipline lifted to the index: a replayed
    * micro-batch deterministically rewrites its own crashed fold
    * instead of colliding with it (contrast [[fold]]'s hwm-allocated
    * collision-LOUD publish, which is right for a single-writer batch
    * pipeline where a same-id publish can only be a racing writer).
    * Callers own the id space above 0 (0 is init's corpus segment).
    * Folding at an id a compaction already subsumed is refused loudly:
    * the merged segment already carries that id's keys, so the refold
    * would double-count — compaction must only subsume COMMITTED batches
    * (see [[compact]]).
    */
  def foldAt(delta: DataFrame, id: Long, maxEventMs: Long = Long.MaxValue): Unit = {
    val st = reclaimRetired()
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before foldAt()")
    require(id > 0L, s"segment id 0 is init's corpus segment, got $id")
    // any non-fold table (a _cmp compaction generation OR an _exp expiry
    // rewrite of one) subsumes every fold id <= its cover
    val compactedCover = st.live.filter(s => !s.table.startsWith(s"${name}_seg"))
      .map(_.cover).maxOption.getOrElse(-1L)
    require(id > compactedCover,
      s"StandingIndex '$name' foldAt($id): a compaction generation already " +
        s"covers fold ids <= $compactedCover — refolding one would " +
        "double-count its keys (compact only after its batches commit)")
    writeSegment(delta, segTable(id)) // idempotent overwrite — replay-safe
    if (!st.live.exists(_.table == segTable(id)))
      // no fenced-commit compensation (fold's rationale), and here the
      // orphan additionally heals WITHOUT a collision: the keyed id
      // space means a successor's replay of this very batch REWRITES
      // segTable(id) via the same idempotent overwrite and commits it
      commit(st, (st.live :+ Seg(segTable(id), id, maxEventMs, maxEventMs)).sortBy(_.cover),
        st.retired, st.hwmSeg max id, st.hwmCmp)
  }

  /** Live segment count, pointer resolved once — the cheap observability
    * hook [[compactIfOver]]'s cadence policy and its gates assert on.
    */
  def segmentCount: Int = state.live.size

  /** The live segments, pointer resolved once — probe each with a
    * bucket-colocated join and union the RESULTS (see class doc). The
    * internal per-row stamp column of merged mixed-stamp generations is
    * dropped: readers see one uniform key schema.
    */
  def segments: Seq[DataFrame] = {
    val st = state
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before reads")
    st.live.map(s => resolveTable(s.table).drop(StampCol))
  }

  /** The live segments COVERING fold ids ≤ `maxId` — the keyed-fold
    * reader's probe set. Selection is by COVERAGE, not physical id, so
    * a compaction between micro-batches stays invisible to in-flight
    * probes (class doc; q94's gate). Resolves ONLY the tables it
    * returns: a replayed batch must not even resolve its own crashed
    * fold's segment, or the catalog caches that doomed incarnation's
    * file listing in the window before the idempotent rewrite and a
    * later batch's probe reads dead files. An empty selection is
    * refused LOUDLY: it can only mean a compaction subsumed ids beyond
    * `maxId` while that batch was in flight — silently probing zero
    * segments would admit every doc unprobed.
    */
  def segmentsUpTo(maxId: Long): Seq[DataFrame] = {
    val st = state
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before reads")
    val sel = st.live.filter(_.cover <= maxId)
    require(sel.nonEmpty,
      s"StandingIndex '$name' segmentsUpTo($maxId) selected no segments " +
        s"(live covers: ${st.live.map(_.cover).mkString(",")}) — either a " +
        "compaction subsumed fold ids beyond this batch (compact only " +
        "covers of committed batches, e.g. compact(coverAtMost)) or a " +
        "horizon expiry retired every low-cover segment while this batch " +
        "replayed; every in-flight probe must keep a covering segment")
    sel.map(s => resolveTable(s.table).drop(StampCol))
  }

  /** Segment merge (Hudi compaction): rewrite the live segments covering
    * fold ids ≤ `coverAtMost` as ONE bucketed generation table and
    * publish; later-covering segments stay live and untouched. The
    * merged segment COVERS the max fold id it subsumes, so
    * `segmentsUpTo` probes of already-committed batches keep resolving
    * it — compaction composes with a continuous keyed-fold ingest (q94)
    * exactly as Hudi's async compaction composes with DeltaStreamer
    * `--continuous`. Generation tables live in their own namespace
    * (`<name>_cmp<g>`, allocated from the persisted high-water mark), so
    * a merged segment can never be overwritten by a future keyed fold's
    * idempotent same-id rewrite — and the continuous folder and the
    * async compactor never contend for a physical name (class doc).
    * Superseded segments are RETIRED, not dropped — one maintenance
    * cycle of grace for cross-JVM readers holding the old pointer; the
    * next mutating call reclaims them.
    *
    * `coverAtMost` is how a CONTINUOUS pipeline compacts safely: Hudi's
    * compaction plans only COMMITTED file slices, and here the caller
    * passes the highest committed batch id — an in-flight batch's
    * (possibly crashed, to-be-replayed) fold at a higher cover is never
    * subsumed, so the replay's `foldAt` and `segmentsUpTo` keep working,
    * and re-running the SAME bounded compact on replay is idempotent
    * (it merges the previous generation into a new one with identical
    * content). The unbounded default is the quiesced/batch-pipeline
    * spelling (q93): everything is committed, merge it all.
    *
    * Merging segments with DIFFERING event-time stamps COMPOSES with
    * [[expire]] through ENTRY-LEVEL stamps: each merged row carries its
    * source segment's stamp in an internal `_g_stamp` column (readers
    * never see it), and the pointer entry records the merged
    * [min, max] stamp range — so an expiring streaming deployment,
    * where every fold carries a distinct stamp, can still compact its
    * committed prefix and expiry keeps retiring exactly the horizon's
    * entries (whole segments when the range fell behind; a
    * filter-rewrite when only part of it did — see [[expire]]).
    * Stamp-homogeneous merges (including the all-unstamped q93/q94
    * shape) stay column-free. Returns the LIVE segment count after the
    * commit (`kept + 1`) so cadence callers ([[compactIfOverCounted]])
    * need no second pointer read to observe the post-merge count.
    */
  def compact(coverAtMost: Long = Long.MaxValue): Int = {
    val st = reclaimRetired()
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before compact()")
    val (sel, keep) = st.live.partition(_.cover <= coverAtMost)
    require(sel.nonEmpty,
      s"StandingIndex '$name' compact($coverAtMost): no live segment covers " +
        s"<= $coverAtMost (live covers: ${st.live.map(_.cover).mkString(",")})")
    val gen = st.hwmCmp + 1
    // entry-level stamps only when needed: a merge of differing stamps
    // (or of a source already carrying per-row stamps) stamps every row;
    // a homogeneous merge stays column-free
    val needStamp = sel.map(_.maxEventMs).distinct.size > 1 ||
      sel.exists(s => s.minEventMs != s.maxEventMs)
    val frames = sel.map { s =>
      val t = resolveTable(s.table)
      // drop covers the edge where an expire() rewrite collapsed a
      // stamped segment's range to a point (threshold == max): its rows
      // still carry the column, but a homogeneous merge must not
      if (!needStamp) t.drop(StampCol)
      else if (t.columns.contains(StampCol)) t
      else {
        require(s.minEventMs == s.maxEventMs,
          s"StandingIndex '$name' segment '${s.table}' records a stamp range " +
            s"[${s.minEventMs}, ${s.maxEventMs}] but carries no per-row stamps")
        t.withColumn(StampCol, lit(s.maxEventMs))
      }
    }
    val merged = Seg(cmpTable(gen), sel.map(_.cover).max,
      sel.map(_.maxEventMs).max, sel.map(_.minEventMs).min)
    publishSegment(frames.reduce(_ unionByName _), merged.table,
      (st.live.map(_.table) ++ st.retired).toSet)
    try commit(st, (keep :+ merged).sortBy(_.cover),
      retired = st.retired ++ sel.map(_.table),
      hwmSeg = st.hwmSeg, hwmCmp = gen)
    catch {
      // a racer's commit may have bumped the shared generation
      // counter past ours, so a retry would derive a NEW name and
      // this uncommitted (provably ours) table would orphan forever —
      // compensate before surfacing the named collision. A FENCED
      // commit deliberately does NOT compensate (fold's rationale: a
      // successor may be adopting this very name; a collision implies
      // no successor exists, so the drop is safe only here)
      case e: LeaseFencedException => throw e
      case e: OccCollisionException =>
        dropSegment(merged.table)
        throw e
    }
    keep.size + 1
  }

  /** Cadence POLICY for continuous ingest: compact the committed prefix
    * (covers ≤ `coverAtMost`) when the live segment count exceeds
    * `maxLive`, bounding segment count — and so probe fan-out — on an
    * infinite stream without any harness-side scheduling. Fires only
    * when the bounded prefix holds ≥ 2 segments (merging one segment is
    * a pure rewrite). Returns whether a compaction ran. The
    * Θ(corpus/batch) cadence arithmetic (COVERAGE round-13): each
    * compact rewrites the committed prefix once, so a threshold of k
    * amortizes the rewrite over k−1 folds — the caller picks k as
    * rewrite-cost / acceptable-ingest-overhead.
    */
  def compactIfOver(maxLive: Int, coverAtMost: Long = Long.MaxValue): Boolean =
    compactIfOverCounted(maxLive, coverAtMost)._1

  /** [[compactIfOver]] plus the post-decision LIVE segment count, from
    * the SAME pointer read the decision used (the fire path's count
    * comes from [[compact]]'s own commit) — the per-batch policy gates
    * assert `live ≤ k` at every probe point, and reading it here keeps
    * the policy arm at one pointer read per batch on the common
    * (no-fire) path instead of a second [[segmentCount]] resolve.
    */
  def compactIfOverCounted(
      maxLive: Int, coverAtMost: Long = Long.MaxValue): (Boolean, Int) = {
    require(maxLive >= 1, s"maxLive must be >= 1, got $maxLive")
    val st = state
    if (st.live.size > maxLive && st.live.count(_.cover <= coverAtMost) >= 2)
      (true, compact(coverAtMost))
    else (false, st.live.size)
  }

  // ===== Same-role single-writer LEASE (the shipped lock provider) =====

  private def leasePath(role: String, v: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(warehousePath, f"_${name}_lease_$role.v$v%019d")

  private def listLeaseVersions(role: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(warehousePath)) Seq.empty
    else fs.globStatus(new org.apache.hadoop.fs.Path(warehousePath, s"_${name}_lease_$role.v*"))
      .toSeq.flatMap { st =>
        val suffix = st.getPath.getName.stripPrefix(s"_${name}_lease_$role.v")
        suffix.toLongOption.map(_ -> st.getPath)
      }.sortBy(_._1)

  /** Resolve the lease for `role`: (highest committed version, current
    * holder + expiry if held). Body format `holderId|expiresAtMs`; an
    * empty holder is a released marker. The FileNotFound retry mirrors
    * [[state]]'s: a racing pair of claims can prune the version a
    * reader just globbed.
    */
  private def currentLease(role: String): (Long, Option[(String, Long)]) = {
    var attempt = 0
    while (true) {
      try {
        val versions = listLeaseVersions(role)
        if (versions.isEmpty) return (0L, None)
        val (v, p) = versions.last
        val body = readFile(p)
        return body.split('|') match {
          case Array(h, exp) if h.nonEmpty => (v, Some((h, exp.toLong)))
          case _ => (v, None)
        }
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ENFORCE the same-role single-writer contract the class doc scopes
    * (two folders or two compactors risk the rename-window hazard below
    * the pointer): acquire — or, held by this holder, RENEW — the
    * exclusive expiry-stamped lease for `role`. A deployment starts each
    * maintenance role under its lease (`acquireRoleLease("compactor",
    * instanceId, leaseMs)` at startup, renewed each cycle), so a
    * misdeployed SECOND same-role writer fails loudly with
    * [[RoleLockHeldException]] at startup instead of corrupting — Hudi's
    * lock-provider requirement, shipped rather than documented. The
    * lease is itself OCC-claimed like the pointer (immutable version
    * files, atomic-exclusive create), so two racing acquirers can never
    * both believe they hold it; a holder that dies un-released stops
    * renewing and its lease EXPIRES (`leaseMs` after the last renewal),
    * at which point the next acquirer takes over — crash recovery
    * without an operator breaking the lock by hand.
    *
    * FENCING TOKEN (closes the stalled-holder window a bare lease file
    * leaves open — ZooKeeper session locks and Hudi's providers share
    * it): every acquire's claimed lease version IS an EPOCH, returned
    * to the caller and recorded per-instance; a NON-RENEWAL acquire
    * (fresh, handover, or crash-expiry takeover) additionally FENCES
    * the pointer — an OCC pointer commit recording `role → epoch` —
    * before this method returns, so the successor never mutates before
    * the fence is durable. A predecessor's commit is then refused
    * DETERMINISTICALLY by one of two arms: if it read the pointer
    * BEFORE the fence bump, its version CAS fails (the bump claimed
    * that version — [[OccCollisionException]], and any retry re-reads
    * post-bump state); if it read AFTER, [[requireUnfenced]] sees the
    * successor's higher epoch and throws [[LeaseFencedException]]
    * before the claim — the stalled holder can never land a commit
    * once a takeover completed, which is the standard fencing-token
    * construction. `holdsRoleLease` remains the cheap post-mutation
    * alarm, and `leaseMs` comfortably above the longest mutation
    * (renewing each cycle — compact is the long pole; its measured
    * cost curve is ScaleProbe's compact axis) remains the way to make
    * takeovers rare rather than merely safe.
    *
    * CLOCK-SKEW ASSUMPTION: expiry compares a `System.currentTimeMillis`
    * stamp written by one host against another host's clock, so on a
    * shared warehouse the takeover/refusal boundary is only as sharp as
    * the hosts' clock agreement — skew approaching `leaseMs` could let
    * a taker treat a live holder as expired (the fencing token makes
    * that SAFE — the fenced holder's commits are refused — but it is
    * still a spurious takeover), or falsely refuse a startup after a
    * clean release. Choose `leaseMs` well above expected skew (NTP-
    * disciplined fleets hold well under a second; the in-repo callers
    * use 60 s), or run the roles against one clock domain.
    *
    * `holderId` must be GLOBALLY unique (host + pid + nonce, not pid
    * alone): the renewal arm treats a matching holder as the same
    * writer, so a colliding id from another host would silently alias
    * two writers. Returns the acquired lease EPOCH (also recorded
    * internally — callers need not thread it anywhere).
    */
  def acquireRoleLease(role: String, holderId: String, leaseMs: Long): Long = {
    require(role.nonEmpty && role.forall(c => c.isLetterOrDigit || c == '-'),
      s"role must be name-safe ([A-Za-z0-9-]), got '$role'")
    require(holderId.nonEmpty && !holderId.contains('|') && !holderId.contains('\n'),
      s"holderId must be non-empty without '|' or newlines, got '$holderId'")
    require(leaseMs > 0L, s"leaseMs must be positive, got $leaseMs")
    var attempt = 0
    while (true) {
      val (ver, cur) = currentLease(role)
      val now = System.currentTimeMillis()
      cur match {
        case Some((h, exp)) if h != holderId && now < exp =>
          throw new RoleLockHeldException(
            s"StandingIndex '$name' role '$role' lease is held by '$h' " +
              s"(expires in ${exp - now} ms): same-role maintenance is " +
              "single-writer (class doc rename-window hazard) — refusing " +
              s"to start a second '$role' writer '$holderId'")
        case _ => () // free, released, expired, or our own renewal
      }
      if (claimFile(leasePath(role, ver + 1), s"$holderId|${now + leaseMs}")) {
        // prune stale versions (keep the previous one — currentLease
        // retries FileNotFound for the racing-prune window, like state)
        listLeaseVersions(role).filter(_._1 < ver).foreach(p => fs.delete(p._2, false))
        val epoch = ver + 1
        val renewal = cur.exists(_._1 == holderId)
        this.synchronized { heldEpochs(role) = epoch }
        // the fence bump: any NON-renewal acquire fences predecessors
        // out of the pointer BEFORE this writer's first mutation (a
        // renewal has no predecessor to fence — its own older epoch is
        // never refused, the check is strictly-greater). If the bump
        // cannot land (pointer CASes lost to a pathologically hot
        // writer), the acquire FAILED AS A WHOLE — release the
        // just-claimed lease first, or it would stay locked for the
        // full leaseMs and falsely refuse the replacement's startup,
        // and rethrow as the startup-refusal type (the collision type's
        // "retry from fresh state" wording is the wrong recovery here:
        // the caller should re-run its startup acquire)
        if (!renewal) {
          try fenceBump(role, epoch)
          catch {
            case scala.util.control.NonFatal(e) =>
              try releaseRoleLease(role, holderId)
              catch { case scala.util.control.NonFatal(r) => e.addSuppressed(r) }
              throw new RoleLockHeldException(
                s"StandingIndex '$name' role '$role' acquire by '$holderId' " +
                  s"could not fence the pointer (${e.getMessage}); the lease " +
                  "claim was released — re-running the startup acquire is " +
                  "safe", e)
          }
        }
        return epoch
      }
      attempt += 1
      if (attempt >= 5) throw new RoleLockHeldException(
        s"StandingIndex '$name' role '$role' lease claim lost $attempt " +
          s"races — another '$role' writer is actively claiming; refusing")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Record `role → epoch` in the pointer's fence line (an OCC commit
    * carrying the live/retired/hwm state through unchanged) — the
    * durable half of the fencing token. Retries lost CASes against
    * OTHER-role writers; returns early when the pointer already fences
    * at or past `epoch` (a successor of ours got here first — nothing
    * left to fence on our behalf).
    */
  private def fenceBump(role: String, epoch: Long): Unit = {
    var attempts = 0
    while (true) {
      val st = state
      if (st.fences.getOrElse(role, Long.MinValue) >= epoch) return
      try {
        commit(st, st.live, st.retired, st.hwmSeg, st.hwmCmp,
          fences = Some(st.fences + (role -> epoch)))
        return
      } catch {
        case e: OccCollisionException =>
          attempts += 1
          if (attempts >= 10) throw e
      }
    }
  }

  /** Whether `holderId` currently holds an unexpired `role` lease — the
    * post-mutation alarm check for the fencing limit acquireRoleLease's
    * scaladoc states: a mutator that finds its lease gone mid-flight
    * was stalled past `leaseMs` and possibly raced a takeover; it must
    * surface that loudly rather than keep writing.
    */
  def holdsRoleLease(role: String, holderId: String): Boolean =
    currentLease(role)._2.exists { case (h, exp) =>
      h == holderId && System.currentTimeMillis() < exp
    }

  /** Release the `role` lease if (and only if) this holder still holds
    * it — idempotent, and never clobbers a successor: a lease that
    * expired and was taken over is no longer ours to release (the
    * no-op arm), and a claim lost to a racer re-reads and re-decides.
    * Either way this instance stops CLAIMING the role (the fencing
    * check binds only roles currently claimed — see [[heldEpochs]]):
    * a writer that released B but kept A must not be refused on its
    * A-role commits when B's successor arrives, while a writer that
    * never released stays fenced exactly as the token intends.
    */
  def releaseRoleLease(role: String, holderId: String): Unit = {
    try {
      while (true) {
        val (ver, cur) = currentLease(role)
        cur match {
          case Some((h, _)) if h == holderId =>
            if (claimFile(leasePath(role, ver + 1), "|0")) {
              listLeaseVersions(role).filter(_._1 < ver).foreach(p => fs.delete(p._2, false))
              return
            } // lost the claim: re-read — a successor took over, or our own retry raced
          case _ => return // free, released, or held by a successor
        }
      }
    } finally this.synchronized { heldEpochs -= role; () }
  }

  /** TEST SEAM (`private[graft]`): read the pointer, run `interleaved`
    * (a racing writer's full mutation), then attempt a commit from the
    * PRE-RACE snapshot — the exact lost-update interleaving the OCC
    * version claim exists to refuse. The racing writer's committed entry
    * must survive and this stale commit must throw the named collision;
    * a last-write-wins pointer would silently drop the racer's segment.
    * Exists because the read→commit window is unreachable
    * deterministically from outside the class; used only by
    * ConcurrentMaintenanceSpec's lost-update law.
    */
  private[graft] def commitFromStaleRead(interleaved: () => Unit): Unit = {
    val st = state
    interleaved()
    commit(st, st.live, st.retired, st.hwmSeg, st.hwmCmp)
  }

  /** Horizon-scoped retirement — the index-lifetime bound an infinite
    * stream needs (q61's dedup-horizon sizing rule, lifted from operator
    * state to the standing index): entries stamped before
    * `expireBeforeMs` can no longer block any in-tolerance arrival, so
    * they stop being probed. Callers pass `watermarkMs − horizonMs`.
    * Three arms, decided per segment from the pointer's stamp range:
    *
    *   - `maxEventMs < expireBeforeMs` — every entry is beyond the
    *     horizon: the whole segment is RETIRED (retain-one grace, like
    *     [[compact]]'s supersession) and reclaimed next cycle;
    *   - `minEventMs < expireBeforeMs ≤ maxEventMs` — only possible for
    *     a merged mixed-stamp generation (folds are point-stamped): the
    *     segment is REWRITTEN keeping rows whose entry-level stamp
    *     survives (`_g_stamp ≥ expireBeforeMs`), published as a new
    *     generation at the SAME cover (probe visibility unchanged), and
    *     the old table retired — entry-level expiry, the composition
    *     that makes [[compact]] usable in an expiring deployment;
    *   - otherwise untouched. Segments without event-time metadata
    *     (`maxEventMs = ∞`) never expire.
    *
    * Refuses to retire the LAST live segment: an initialized index must
    * keep ≥ 1 segment (every read path requires it), and a fully-expired
    * index is a reset — use [[init]]. Stamps need NOT be monotone with
    * cover for safety (ids come from persisted high-water marks, never
    * from the live maximum), though every in-repo caller's clock is.
    */
  def expire(expireBeforeMs: Long): Unit = {
    val st = reclaimRetired()
    require(st.live.nonEmpty, s"StandingIndex '$name' must be init()-ed before expire()")
    val (dead, rest) = st.live.partition(_.maxEventMs < expireBeforeMs)
    val (partial, untouched) = rest.partition(_.minEventMs < expireBeforeMs)
    if (dead.isEmpty && partial.isEmpty) return
    require(untouched.nonEmpty || partial.nonEmpty,
      s"StandingIndex '$name' expire($expireBeforeMs) would retire every " +
        "live segment; an initialized index keeps >= 1 — reset with init()")
    var gen = st.hwmCmp
    var referenced = (st.live.map(_.table) ++ st.retired).toSet
    val rewritten = partial.map { s =>
      gen += 1
      val src = resolveTable(s.table)
      require(src.columns.contains(StampCol),
        s"StandingIndex '$name' segment '${s.table}' records a stamp range " +
          s"[${s.minEventMs}, ${s.maxEventMs}] but carries no per-row stamps")
      // the _exp namespace, NOT _cmp: expire runs in the INGEST role, so
      // its rewrites must never contend with the async compactor's next
      // generation name (one-writer-per-role — class doc)
      val nt = expTable(gen)
      publishSegment(src.filter(col(StampCol) >= expireBeforeMs), nt, referenced)
      referenced += nt
      // surviving rows all carry stamps >= expireBeforeMs: record it as
      // the (conservative, monotone) new lower bound
      Seg(nt, s.cover, s.maxEventMs, expireBeforeMs)
    }
    try commit(st, (untouched ++ rewritten).sortBy(_.cover),
      retired = st.retired ++ (dead ++ partial).map(_.table),
      hwmSeg = st.hwmSeg, hwmCmp = gen)
    catch {
      // compact()'s compensation rationale: uncommitted rewrites at
      // possibly-superseded generation names must not orphan on a
      // COLLISION; a FENCED commit must not drop (fold's rationale —
      // the successor may be adopting these names)
      case e: LeaseFencedException => throw e
      case e: OccCollisionException =>
        rewritten.foreach(s => dropSegment(s.table))
        throw e
    }
  }
}
