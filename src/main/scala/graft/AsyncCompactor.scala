package graft

/** The ASYNC-COMPACTOR role of [[graft.operators.StandingIndex]]'s
  * one-writer-per-role deployment shape — its own JVM and SparkSession
  * against the SAME warehouse root as the continuous ingest writer,
  * repeatedly merging the committed prefix whenever segments accumulate.
  * This is the process layout the reference deploys: Hudi compaction
  * running beside a continuous DeltaStreamer upsert loop (ref
  * `hudi/debezium_hudi_demo/demonstration_notes.md` "Run Hudi
  * DeltaStreamer Continuously", `deltastreamer_jobs_cont_bkgd.sh` —
  * maintenance and ingest as separate long-running processes over one
  * table).
  *
  * Cross-JVM mechanics under test when ConcurrentMaintenanceSpec forks
  * this main beside its in-process folder:
  *
  *   - the fresh JVM's in-memory catalog knows NO segment table — every
  *     read re-registers from the shared warehouse root
  *     (StandingIndex.resolveTable, the shared-metastore stand-in);
  *   - every pointer commit is an OCC version claim — losing the CAS to
  *     the folder's concurrent fold throws the NAMED collision, which
  *     this role counts and retries from fresh state (never a silent
  *     lost update on either side);
  *   - physical namespaces are disjoint by role (`_seg` folds vs `_cmp`
  *     generations), so the two roles never contend for a staging
  *     rename — all contention surfaces at the pointer, loudly;
  *   - the process starts under the COMPACTOR ROLE LEASE
  *     (StandingIndex.acquireRoleLease, renewed each cycle, released on
  *     exit): a second misdeployed compactor fails loudly at startup
  *     (RoleLockHeldException) instead of opening the same-role
  *     rename-window hazard — the spec probes the held lease from the
  *     folder's JVM;
  *   - collisions back off with JITTERED EXPONENTIAL delay (100 ms
  *     doubling to 1.6 s cap, uniform jitter): a fixed cadence
  *     phase-locks with a hot folder and starves.
  *
  * args: `<warehouseDir> <indexName> <attempts> <readyMarkerPath>`.
  * Prints one `ASYNC_COMPACTOR done=<n> collided=<n>` line for the
  * driving spec.
  */
object AsyncCompactor {
  def main(args: Array[String]): Unit = {
    val Array(wh, name, attemptsStr, marker) = args
    val spark = Sessions.local(2,
      "spark.sql.warehouse.dir" -> wh, "spark.app.name" -> "graft-async-compactor")
    val ix = new graft.operators.StandingIndex(
      spark, name, buckets = 2, keys = Seq("band", "bk"))
    // the same-role single-writer contract, ENFORCED: this process IS
    // the compactor role, so it starts under the role lease (a second
    // misdeployed compactor fails loudly here) and renews each cycle.
    // holderId is host + pid + nonce — GLOBALLY unique, never pid
    // alone: the renewal arm treats a matching holder as the same
    // writer, so two hosts sharing a warehouse with colliding pids
    // would silently alias (acquireRoleLease scaladoc)
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown-host" }
    val holderId = s"compactor-$host-" +
      s"${java.lang.ProcessHandle.current().pid()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    ix.acquireRoleLease("compactor", holderId, leaseMs = 60000L)
    var done = 0
    var collided = 0
    // release on EVERY exit path: a lease leaked by a crashed loop
    // blocks redeployment for the rest of its validity (a false
    // "second writer" refusal at the replacement's startup)
    try {
      // signal readiness only once the session is live AND the lease is
      // held, so the spec's folder loop overlaps real compaction work —
      // and its lease-refusal probe races against a held lease
      java.nio.file.Files.writeString(java.nio.file.Paths.get(marker), "ready")
      var consecutive = 0 // collisions since the last non-colliding attempt
      val rnd = java.util.concurrent.ThreadLocalRandom.current()
      (1 to attemptsStr.toInt).foreach { _ =>
        ix.acquireRoleLease("compactor", holderId, leaseMs = 60000L) // renew
        // compactIfOver re-reads the pointer fresh on every call, so each
        // attempt plans against the racer's latest committed state
        try {
          if (ix.compactIfOver(maxLive = 1)) done += 1
          consecutive = 0
        } catch {
          // both loud shapes are the TYPED collision: the OCC
          // version-claim loss and the publish-collision guard — retried
          // from fresh state
          case _: graft.operators.OccCollisionException =>
            collided += 1
            consecutive += 1
        }
        // the post-mutation fencing alarm (acquireRoleLease scaladoc):
        // a lease gone mid-attempt means this writer stalled past
        // leaseMs and may have raced a takeover — stop loudly, never
        // keep writing
        if (!ix.holdsRoleLease("compactor", holderId))
          throw new IllegalStateException(
            s"compactor lease lost mid-run (holder $holderId stalled past " +
              "its lease): a takeover may be active — refusing to continue")
        // JITTERED EXPONENTIAL BACKOFF after collisions: a fixed retry
        // cadence phase-locks with a hot writer's own cadence and starves
        // (measured round 14: 17 straight CAS losses for 1 landed
        // compaction at a fixed 100 ms); doubling with jitter decorrelates
        // the two clocks so the compactor lands within a bounded attempt
        // budget — the two-JVM law pins that bound
        val base = 100L << math.min(consecutive, 4) // 100..1600 ms
        Thread.sleep(base / 2 + rnd.nextLong(base / 2 + 1))
      }
    } finally ix.releaseRoleLease("compactor", holderId)
    println(s"ASYNC_COMPACTOR done=$done collided=$collided")
    spark.stop()
  }
}
