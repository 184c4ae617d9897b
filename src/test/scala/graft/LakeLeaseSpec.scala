package graft

import graft.lake.{Lake, UuidMigration, WriterLease}
import org.apache.spark.sql.functions._

/** The lake's single-writer contract, ENFORCED (r16): every mutation entry
  * point takes the scope's writer lease, so two writers racing one scope
  * either serialize (bounded wait) or fail loud — it used to be a
  * documented convention only, the first data-loss vector the moment two
  * schedulers touched one lake.
  */
class LakeLeaseSpec extends SparkSpec {

  private def rows(root: String, scope: String, table: String): Set[(Int, String)] = {
    import spark.implicits._
    Lake.read(spark, root, scope, table).select("id", "v").as[(Int, String)].collect().toSet
  }

  private def leaseFile(root: String, scope: String) =
    new java.io.File(s"$root/$scope", "__writer_lease")

  test("racing writers on one scope: loser blocks behind the holder; result identical to serial") {
    import spark.implicits._
    val root = tmpDir("lake_lease_race")
    val scope = "town"

    // serial reference: the same two batches appended one after the other
    val serialRoot = tmpDir("lake_lease_serial")
    val a = (1 to 500).map(i => (i, s"a$i")).toDF("id", "v")
    val b = (1 to 500).map(i => (i, s"b$i")).toDF("id", "v")
    Lake.append(a, serialRoot, scope, "t")
    Lake.append(b, serialRoot, scope, "t")
    val serial = rows(serialRoot, scope, "t")

    // concurrent: thread 1 holds the scope lease across its append plus a
    // deliberate dwell; thread 2's append must WAIT (not interleave, not
    // fail — the dwell is far under leaseWaitMs) and land after release
    val t1Holding = new java.util.concurrent.CountDownLatch(1)
    val events = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val t1 = new Thread(() => {
      Lake.withScopeLease(spark, root, scope, "spec-hold") {
        Lake.append(a, root, scope, "t") // re-enters the held lease
        t1Holding.countDown()
        Thread.sleep(1500)
        events.add("t1-release")
      }
    })
    val t2 = new Thread(() => {
      t1Holding.await()
      Lake.append(b, root, scope, "t")
      events.add("t2-append-done")
    })
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(!t1.isAlive && !t2.isAlive, "writers deadlocked")
    assert(events.indexOf("t1-release") < events.indexOf("t2-append-done"),
      s"loser must block behind the holder, got $events")
    assert(rows(root, scope, "t") == serial, "concurrent result must equal the serial lake")
    assert(!leaseFile(root, scope).exists(), "lease must be released after both writers")
  }

  test("a lease held past the wait budget fails the second writer LOUD, holder named") {
    import spark.implicits._
    val root = tmpDir("lake_lease_loud")
    val scope = "held"
    new java.io.File(s"$root/$scope").mkdirs()
    java.nio.file.Files.writeString(
      leaseFile(root, scope).toPath, "op=compact:t pid=99999 at=now")
    spark.conf.set("spark.graft.lake.leaseWaitMs", "300")
    try {
      val e = intercept[IllegalStateException] {
        Lake.append(Seq((1, "x")).toDF("id", "v"), root, scope, "t")
      }
      assert(e.getMessage.contains("writer lease"), e.getMessage)
      assert(e.getMessage.contains("op=compact:t pid=99999"), s"holder must be named: ${e.getMessage}")
      assert(e.getMessage.contains("spark.graft.lake.leaseStaleMs"), e.getMessage)
    } finally spark.conf.unset("spark.graft.lake.leaseWaitMs")
  }

  test("a crashed writer's stale lease is taken over, not waited out") {
    import spark.implicits._
    val root = tmpDir("lake_lease_stale")
    val scope = "crashed"
    new java.io.File(s"$root/$scope").mkdirs()
    val f = leaseFile(root, scope)
    java.nio.file.Files.writeString(f.toPath, "op=append:t pid=1 at=then")
    assert(f.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    Lake.append(Seq((1, "x")).toDF("id", "v"), root, scope, "t") // takes over, no wait
    assert(rows(root, scope, "t") == Set((1, "x")))
    assert(!f.exists(), "takeover's own lease must be released on exit")
  }

  test("re-entrancy: an outer scope hold covers inner mutations; a SIBLING scope still leases") {
    import spark.implicits._
    val root = tmpDir("lake_lease_reent")
    Lake.withScopeLease(spark, root, "a", "outer") {
      assert(leaseFile(root, "a").exists(), "outer hold must materialize the lease")
      // inner append + compact on the SAME scope re-enter (would deadlock
      // on a non-reentrant lease since waitMs < hold duration)
      spark.conf.set("spark.graft.lake.leaseWaitMs", "300")
      try {
        Lake.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"), root, "a", "t")
        Lake.append((51 to 100).map(i => (i, s"v$i")).toDF("id", "v"), root, "a", "t")
        Lake.compact(spark, root, "a", "t")
        // a DIFFERENT scope is not covered by this hold: it takes (and
        // releases) its own lease
        Lake.append(Seq((1, "b")).toDF("id", "v"), root, "b", "t")
        assert(!leaseFile(root, "b").exists())
      } finally spark.conf.unset("spark.graft.lake.leaseWaitMs")
      assert(leaseFile(root, "a").exists(), "inner ops must not release the outer hold")
    }
    assert(!leaseFile(root, "a").exists(), "outer exit must release")
    assert(rows(root, "a", "t").size == 100)
  }

  test("uuid migration racing a writer: migrate holds the scope for its whole run") {
    import spark.implicits._
    val root = tmpDir("lake_lease_migrate")
    val scope = "legacy_town"
    // a LEGACY lake (no marker): properties + one child on page-town uuids
    val props = Seq((10L, "u-old-10", "Main St"), (11L, "u-old-11", "Elm St"))
      .toDF("pid", "uuid", "address")
    val kids = Seq((10L, "u-old-10", 1), (11L, "u-old-11", 2))
      .toDF("pid", "property_uuid", "bid")
    Lake.append(Lake.stampMetadata(props, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      root, scope, "properties")
    Lake.append(Lake.stampMetadata(kids, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      root, scope, "buildings")
    assert(UuidMigration.identityOf(spark, root, scope) == UuidMigration.PageTownIdentity)

    // racer: tries to append mid-migration; the lease must serialize it
    // AFTER the whole migration (migrate holds the scope end to end)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var racerDone = 0L
    val racer = new Thread(() => {
      started.await()
      Lake.append(
        Lake.stampMetadata(Seq((12L, "u-old-12", "Oak St")).toDF("pid", "uuid", "address"),
          java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
        root, scope, "properties")
      racerDone = System.nanoTime()
    })
    racer.start()
    @volatile var migrateDone = 0L
    Lake.withScopeLease(spark, root, scope, "spec-migrate-window") {
      started.countDown()
      Thread.sleep(300) // give the racer time to contend
      UuidMigration.migrate(spark, root, scope) // re-enters the held lease
      migrateDone = System.nanoTime()
    }
    racer.join(60000)
    assert(!racer.isAlive)
    assert(migrateDone < racerDone, "racer must land after the migration completes")
    // the scope is marked, every pre-existing row is on scope-keyed uuids,
    // and the racer's append landed whole (post-migration, under its own lease)
    assert(UuidMigration.identityOf(spark, root, scope) == UuidMigration.ScopeKeyIdentity)
    val uuids = Lake.read(spark, root, scope, "properties")
      .filter(col("pid").isin(10L, 11L)).select("uuid").as[String].collect().toSet
    assert(!uuids.exists(_.startsWith("u-old")), s"legacy uuids must be rewritten: $uuids")
    assert(Lake.read(spark, root, scope, "properties").filter(col("pid") === 12L).count() == 1L)
  }

  test("ownership seam: lake lease release never deletes a usurper's; heartbeat fails on takeover") {
    val dir = tmpDir("lake_lease_own")
    val f = java.nio.file.Paths.get(dir, "__writer_lease")
    java.nio.file.Files.writeString(f, "op=append:t pid=1 at=1")
    val ours = WriterLease.handle(dir, spark, "op=append:t pid=1 at=1")
    ours.heartbeat() // ours: refresh ok
    // usurped: heartbeat must fail loud, release must not touch their file
    java.nio.file.Files.writeString(f, "op=compact:t pid=2 at=2")
    val usurped = WriterLease.handle(dir, spark, "op=append:t pid=1 at=1")
    val e = intercept[IllegalStateException](usurped.heartbeat())
    assert(e.getMessage.contains("taken over"), e.getMessage)
    usurped.release()
    assert(java.nio.file.Files.exists(f), "release must not delete a usurper's lease")
  }
}
