package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Cross-JVM maintenance concurrency — the deployment shape the
  * reference actually runs (an async Hudi compactor PROCESS beside the
  * continuous DeltaStreamer writer, ref `demonstration_notes.md` "Run
  * Hudi DeltaStreamer Continuously"), lifted from argument to law:
  *
  *   1. the deterministic LOST-UPDATE law: a writer that read the
  *      pointer before a racer's commit must have its own commit REFUSED
  *      loudly (OCC version claim) — a last-write-wins pointer rename
  *      would silently drop the racer's segment entry, the exact silent
  *      data loss the round-13 design could not exclude;
  *   2. the PROCESS law: a real second JVM (own SparkSession, own empty
  *      in-memory catalog) compacts the same warehouse while this JVM
  *      folds continuously — every fold completes (retrying the named
  *      collision), at least one cross-JVM compaction lands, and the
  *      final index holds every fold's delta exactly once. Exercises
  *      the external-table re-registration path (a fresh catalog
  *      resolving committed segments from the shared warehouse root —
  *      the shared-metastore stand-in) and the OCC pointer on both
  *      sides;
  *   3. the SAME-ROLE LEASE laws: same-role concurrency (two folders /
  *      two compactors) risks the rename-window hazard StandingIndex's
  *      class doc names, so it is enforced — not just documented — by
  *      the expiry-stamped role lease (Hudi's lock-provider rule):
  *      a second same-role writer is refused loudly at startup, in
  *      process and cross-JVM; renewal, release handover, and
  *      crash-expiry takeover are each pinned.
  */
class ConcurrentMaintenanceSpec extends AnyFunSuite with LocalSpark {

  private val wh = Files.createTempDirectory("warehouse").toString

  override protected def confs = Seq("spark.sql.warehouse.dir" -> wh)

  test("OCC lost-update law: a commit from a stale pointer read is refused loudly and the racer's committed segment survives") {
    val ss = spark; import ss.implicits._
    import graft.operators.StandingIndex
    val a = new StandingIndex(spark, "occ_ix", 2, Seq("band", "bk"))
    val b = new StandingIndex(spark, "occ_ix", 2, Seq("band", "bk"))
    a.init(Seq((0L, 0, "x")).toDF("doc_id", "band", "bk"))
    // A reads the pointer; B commits a fold in the window; A's commit
    // from the stale snapshot must lose the version CAS LOUDLY
    val e = intercept[graft.operators.OccCollisionException] {
      a.commitFromStaleRead(() =>
        b.fold(Seq((1L, 1, "y")).toDF("doc_id", "band", "bk")))
    }
    assert(e.getMessage.contains("concurrent-maintenance"),
      s"the stale commit must name the collision, got: ${e.getMessage}")
    // the racer's segment entry survived — no silent lost update
    assert(a.segments.size == 2)
    assert(a.segments.last.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("same-role lease law: a second same-role writer is refused loudly at startup; renewal, release handover, and crash-expiry takeover all work") {
    val ss = spark; import ss.implicits._
    import graft.operators.{StandingIndex, RoleLockHeldException}
    val a = new StandingIndex(spark, "lease_ix", 2, Seq("band", "bk"))
    val b = new StandingIndex(spark, "lease_ix", 2, Seq("band", "bk"))
    a.init(Seq((0L, 0, "x")).toDF("doc_id", "band", "bk"))
    // the contract, enforced: writer A starts the folder role; a second
    // folder (the misdeployment the class doc's rename-window hazard
    // paragraph scopes) must be REFUSED at startup, by name
    a.acquireRoleLease("folder", "writer-a", leaseMs = 60000L)
    val e = intercept[RoleLockHeldException] {
      b.acquireRoleLease("folder", "writer-b", leaseMs = 60000L)
    }
    assert(e.getMessage.contains("folder") && e.getMessage.contains("writer-a"),
      s"the refusal must name the role and the holder, got: ${e.getMessage}")
    // DIFFERENT roles never contend: the compactor lease coexists
    b.acquireRoleLease("compactor", "writer-b", leaseMs = 60000L)
    b.releaseRoleLease("compactor", "writer-b")
    // the holder renews its own lease freely
    a.acquireRoleLease("folder", "writer-a", leaseMs = 60000L)
    // clean handover: release, then the second writer acquires
    a.releaseRoleLease("folder", "writer-a")
    b.acquireRoleLease("folder", "writer-b", leaseMs = 60000L)
    // releasing a lease we no longer hold is an idempotent no-op and
    // never clobbers the successor
    a.releaseRoleLease("folder", "writer-a")
    val e2 = intercept[RoleLockHeldException] {
      a.acquireRoleLease("folder", "writer-a", leaseMs = 60000L)
    }
    assert(e2.getMessage.contains("writer-b"))
    // crash recovery: a holder that dies un-released stops renewing;
    // once its lease EXPIRES the next acquirer takes over by itself
    b.releaseRoleLease("folder", "writer-b")
    b.acquireRoleLease("folder", "writer-b", leaseMs = 1L)
    Thread.sleep(10L)
    a.acquireRoleLease("folder", "writer-a", leaseMs = 60000L)
    a.releaseRoleLease("folder", "writer-a")
  }

  test("lease fencing-token law: a holder stalled past leaseMs whose role was taken over has its commit refused BY NAME, and the successor's state stays intact") {
    val ss = spark; import ss.implicits._
    import graft.operators.{StandingIndex, LeaseFencedException, OccCollisionException}
    val a = new StandingIndex(spark, "fence_ix", 2, Seq("band", "bk"))
    val b = new StandingIndex(spark, "fence_ix", 2, Seq("band", "bk"))
    a.init(Seq((0L, 0, "x")).toDF("doc_id", "band", "bk"))
    // A starts the folder role, then STALLS past its lease (the 1 ms
    // lease stands in for a GC pause / network partition longer than
    // leaseMs); B takes over by crash-expiry and commits real work
    a.acquireRoleLease("folder", "writer-a", leaseMs = 1L)
    Thread.sleep(10L)
    b.acquireRoleLease("folder", "writer-b", leaseMs = 60000L) // takeover + fence bump
    b.fold(Seq((1L, 1, "y")).toDF("doc_id", "band", "bk"))
    // ARM 1 (read after the fence bump): A wakes and mutates — refused
    // deterministically by the fencing token, BEFORE staging anything,
    // with the successor's epoch named; NOT the retryable collision
    val e = intercept[LeaseFencedException] {
      a.fold(Seq((2L, 0, "z")).toDF("doc_id", "band", "bk"))
    }
    assert(e.getMessage.contains("folder") && e.getMessage.contains("fenced"),
      s"the refusal must name the role and the fence, got: ${e.getMessage}")
    // ARM 2 (read BEFORE the bump): a commit built from a pre-takeover
    // snapshot loses the version CAS to the bump/successor commits —
    // the named collision, whose retry then lands in arm 1
    val c = new StandingIndex(spark, "fence_ix2", 2, Seq("band", "bk"))
    val d = new StandingIndex(spark, "fence_ix2", 2, Seq("band", "bk"))
    c.init(Seq((0L, 0, "x")).toDF("doc_id", "band", "bk"))
    c.acquireRoleLease("folder", "writer-c", leaseMs = 1L)
    Thread.sleep(10L)
    intercept[OccCollisionException] {
      c.commitFromStaleRead { () =>
        d.acquireRoleLease("folder", "writer-d", leaseMs = 60000L)
        d.fold(Seq((1L, 1, "y")).toDF("doc_id", "band", "bk"))
      }
    }
    // the successor's state is INTACT in both arms: init + B/D's fold,
    // nothing from the fenced writer
    assert(a.segments.size == 2)
    assert(a.segments.flatMap(_.collect().map(_.getLong(0))).sorted === Seq(0L, 1L))
    assert(c.segments.flatMap(_.collect().map(_.getLong(0))).sorted === Seq(0L, 1L))
    // the successor keeps working; the fenced holder stays fenced even
    // for later mutations (it must restart and re-acquire, not retry)
    b.fold(Seq((3L, 1, "w")).toDF("doc_id", "band", "bk"))
    intercept[LeaseFencedException] {
      a.compact()
    }
    // a CLEAN release drops the claim: after writer-e succeeds the
    // released writer-b, b's (now unleased) mutations are NOT falsely
    // fenced — only currently-claimed roles bind; the never-released
    // writer-a stays fenced
    b.releaseRoleLease("folder", "writer-b")
    val e3 = new StandingIndex(spark, "fence_ix", 2, Seq("band", "bk"))
    e3.acquireRoleLease("folder", "writer-e", leaseMs = 60000L)
    b.fold(Seq((4L, 0, "v")).toDF("doc_id", "band", "bk"))
    intercept[LeaseFencedException] {
      a.fold(Seq((5L, 1, "u")).toDF("doc_id", "band", "bk"))
    }
    e3.releaseRoleLease("folder", "writer-e")
    d.releaseRoleLease("folder", "writer-d")
  }

  test("ClaimProvider seam law: every linearization point routes through the provider; a mock provider drives pointer commits and lease claims end-to-end") {
    val ss = spark; import ss.implicits._
    import graft.operators.{StandingIndex, ClaimProvider, OccCollisionException}
    // a mock external provider (the ZK/DynamoDB-lock shape): atomicity
    // supplied by the provider's own lock, not the filesystem — claims
    // are counted so the routing assertion is mechanical
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val mock = new ClaimProvider {
      private val lock = new Object
      override def claim(dst: org.apache.hadoop.fs.Path, body: String): Boolean =
        lock.synchronized {
          claims.incrementAndGet()
          val fs = dst.getFileSystem(hadoopConf)
          if (fs.exists(dst)) false
          else {
            val out = fs.create(dst, false)
            try out.write(body.getBytes("UTF-8")) finally out.close()
            true
          }
        }
    }
    // BOTH writers share the one provider instance (one external lock
    // service), exactly the deployment the seam exists for
    val a = new StandingIndex(spark, "seam_ix", 2, Seq("band", "bk"), Some(mock))
    val b = new StandingIndex(spark, "seam_ix", 2, Seq("band", "bk"), Some(mock))
    a.init(Seq((0L, 0, "x")).toDF("doc_id", "band", "bk"))
    assert(claims.get >= 1, "init's pointer commit must route through the provider")
    // the OCC lost-update law holds THROUGH the seam: a stale commit is
    // refused loudly, the racer's segment survives
    intercept[OccCollisionException] {
      a.commitFromStaleRead(() =>
        b.fold(Seq((1L, 1, "y")).toDF("doc_id", "band", "bk")))
    }
    assert(a.segments.size == 2)
    // lease claims route through the provider too (the fencing bump's
    // pointer commit included), and the same-role refusal still fires
    val before = claims.get
    a.acquireRoleLease("folder", "writer-a", leaseMs = 60000L)
    assert(claims.get > before, "lease claims must route through the provider")
    intercept[graft.operators.RoleLockHeldException] {
      b.acquireRoleLease("folder", "writer-b", leaseMs = 60000L)
    }
    a.releaseRoleLease("folder", "writer-a")
    // mock-provider ATOMICITY self-check: two racing claims of one dst
    // admit exactly one winner (the contract the trait states)
    val dst = new org.apache.hadoop.fs.Path(wh, "_seam_race_probe")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = mock.claim(dst, s"racer-$i")
        }))
      assert(futures.count(_.get()) == 1,
        "exactly one racer may win an atomic-exclusive claim")
    } finally { pool.shutdown(); () }
  }

  test("async compactor in a SECOND JVM beside a continuous folder: all folds land, >= 1 cross-JVM compaction lands, no silent segment loss") {
    val ss = spark; import ss.implicits._
    import graft.operators.StandingIndex
    val ix = new StandingIndex(spark, "cc_ix", 2, Seq("band", "bk"))
    ix.init(Seq((0L, 0, "k0")).toDF("doc_id", "band", "bk"))
    // fork the compactor role: full test classpath (sbt forks tests, so
    // java.class.path is complete) + the JDK17 add-opens Spark needs
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val marker = s"$wh/_compactor_ready"
    val procLog = Files.createTempFile("compactor", ".log").toFile
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.AsyncCompactor", wh, "cc_ix", "20", marker)).toArray
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(procLog)
      .start()
    try {
      // wait for the compactor's session to be LIVE, so folding overlaps
      // compaction work rather than the second JVM's startup
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (!Files.exists(java.nio.file.Paths.get(marker)) &&
          proc.isAlive && System.nanoTime() < deadline)
        Thread.sleep(200L)
      assert(Files.exists(java.nio.file.Paths.get(marker)),
        s"compactor never came up; log:\n${Files.readString(procLog.toPath)}")
      // the compactor JVM holds the compactor ROLE LEASE (acquired
      // before it wrote the marker): a second compactor — probed from
      // THIS JVM — must be refused loudly, cross-JVM
      val lease = intercept[graft.operators.RoleLockHeldException] {
        ix.acquireRoleLease("compactor", "spec-probe", leaseMs = 60000L)
      }
      assert(lease.getMessage.contains("compactor"),
        s"the cross-JVM refusal must name the role, got: ${lease.getMessage}")
      // the continuous folder: every fold must COMPLETE — a lost version
      // CAS is the named collision, retried from fresh state; any other
      // failure propagates and fails the law
      var folderCollisions = 0
      (1 to 10).foreach { i =>
        val delta = Seq((i.toLong, i % 2, s"k$i")).toDF("doc_id", "band", "bk")
        var tries = 0
        var done = false
        while (!done) {
          try { ix.fold(delta); done = true }
          catch {
            case e: graft.operators.OccCollisionException =>
              folderCollisions += 1
              tries += 1
              assert(tries < 30, s"fold $i starved: $e")
              Thread.sleep(50L)
          }
        }
      }
      assert(proc.waitFor(180, TimeUnit.SECONDS),
        s"compactor did not exit; log:\n${Files.readString(procLog.toPath)}")
      val log = Files.readString(procLog.toPath)
      val line = "ASYNC_COMPACTOR done=(\\d+) collided=(\\d+)".r
        .findFirstMatchIn(log)
        .getOrElse(fail(s"compactor report line missing; log:\n$log"))
      val compactions = line.group(1).toInt
      info(s"cross-JVM compactions=$compactions " +
        s"compactorCollisions=${line.group(2).toInt} " +
        s"folderCollisions=$folderCollisions")
      assert(compactions >= 1,
        s"at least one cross-JVM compaction must land; log:\n$log")
      // NO SILENT SEGMENT LOSS: the final index holds init's row and
      // every fold's delta exactly once, through every interleaving
      val ids = ix.segments.flatMap(_.collect().map(_.getLong(0))).sorted
      assert(ids === (0L to 10L).toSeq,
        s"every committed delta must survive exactly once, got $ids")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
      procLog.delete()
      ()
    }
  }
}
