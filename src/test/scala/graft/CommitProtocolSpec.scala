package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try

import org.apache.spark.sql.functions._

import graft.pipeline.MergeTable

/** The manifest commit protocol (round 13): a CAS-style claim marker
  * makes the single-writer assumption LOUD — of two writers racing the
  * same version number exactly one commits, the other always fails
  * (never a silent lost commit) — and the table's bucketing merge key
  * persists in the manifest so mis-keyed writes refuse instead of
  * silently mis-bucketing rows.
  */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-commit").toString

  test("two simultaneous merges: exactly one commits the contested version") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 400L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 4)

    // both writers read latest = 1 and contend for version 2; the CAS
    // marker (or the version directory's errorifexists write) must fail
    // exactly one of them, loudly
    val gate = new java.util.concurrent.CountDownLatch(2)
    def contend(tag: Long): Future[Try[Int]] = Future {
      gate.countDown(); scala.concurrent.blocking { gate.await() }
      Try(MergeTable.merge(spark, dir,
        Seq((tag, -tag)).toDF("id", "v"), "id"))
    }
    val results = Await.result(
      Future.sequence(Seq(contend(1L), contend(2L))), 120.seconds)
    val wins = results.count(_.isSuccess)
    assert(wins == 1, s"exactly one contender must commit, got $wins: $results")
    assert(MergeTable.latestVersion(spark, dir) == 2)

    // the table is the WINNER's image, consistent and readable
    val winner = results.zipWithIndex.collectFirst {
      case (r, i) if r.isSuccess => i + 1L }.get
    val got = MergeTable.read(spark, dir)
      .where(col("id") === winner).select("v").as[Long].head()
    assert(got == -winner, "the committed version must be the winner's merge")
    // and the next writer proceeds normally past the contested number
    assert(MergeTable.merge(spark, dir, Seq((399L, 0L)).toDF("id", "v"), "id") == 3)
  }

  test("four writers with claim-conflict retries: every batch lands exactly once, versions serialize") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 100L).map(i => (i, 0L)).toDF("id", "v"), "id", nBuckets = 4)
    val v0 = MergeTable.latestVersion(spark, dir)
    val rnd = new java.util.Random(7)

    // each writer commits 3 single-key batches, retrying on the loud
    // claim conflict — optimistic concurrency over the CAS marker
    def writer(t: Long): Future[Int] = Future {
      var done = 0
      for (r <- 0L until 3L) {
        val batch = Seq((1000L * t + r, t)).toDF("id", "v")
        var attempts = 0
        var committed = false
        while (!committed) {
          attempts += 1
          assert(attempts <= 60, s"writer $t livelocked on batch $r")
          try {
            MergeTable.merge(spark, dir, batch, "id")
            committed = true
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("another writer claimed") ||
                  e.getMessage.contains("concurrent writer") =>
              Thread.sleep(10L + rnd.nextInt(40).toLong)
          }
        }
        done += 1
      }
      done
    }

    val done = Await.result(
      Future.sequence((1L to 4L).map(writer)), 600.seconds)
    assert(done.sum == 12, s"every batch must eventually commit: $done")
    // serialization: exactly one version per committed merge, no gaps
    assert(MergeTable.latestVersion(spark, dir) == v0 + 12,
      "12 merges must occupy exactly 12 consecutive versions")
    // isolation: every writer's every key landed with ITS value
    val got = MergeTable.read(spark, dir)
      .where(col("id") >= 1000L).select("id", "v").as[(Long, Long)]
      .collect().toMap
    val want = (for (t <- 1L to 4L; r <- 0L until 3L)
      yield (1000L * t + r) -> t).toMap
    assert(got == want, "no committed batch may be lost or overwritten")
    // and the base rows are untouched
    assert(MergeTable.read(spark, dir).where(col("id") < 100L).count() == 100L)
  }

  test("mixed-op concurrency: merges, ledger deletes and a compacting janitor serialize without loss") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 50L).map(i => (i, -1L)).toDF("id", "v"), "id", nBuckets = 4)
    val rnd = new java.util.Random(11)

    def withRetry[T](tag: String)(op: => T): T = {
      var attempts = 0
      while (true) {
        attempts += 1
        assert(attempts <= 80, s"$tag livelocked")
        try return op
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent writer") =>
            Thread.sleep(10L + rnd.nextInt(40).toLong)
        }
      }
      sys.error("unreachable")
    }

    // writer t: merge its disjoint key range, then ledger-delete the
    // odd half — final survivors are deterministic regardless of the
    // serialization order the CAS picks
    def writer(t: Long): Future[Unit] = Future {
      for (r <- 0L until 2L) {
        val keys = (0L until 6L).map(k => 1000L * t + 10L * r + k)
        val batch = keys.map(k => (k, t)).toDF("id", "v")
        withRetry(s"writer $t merge $r")(
          MergeTable.merge(spark, dir, batch, "id"))
        val dels = keys.filter(_ % 2 == 1)
        withRetry(s"writer $t delete $r")(
          MergeTable.deleteKeys(spark, dir, dels.toDF("id"), "id"))
      }
    }
    // the janitor compacts and purges concurrently — content-neutral
    val janitor: Future[Unit] = Future {
      for (_ <- 1 to 4) {
        withRetry("janitor compact")(MergeTable.compact(spark, dir))
        withRetry("janitor purge")(MergeTable.purgeDeletes(spark, dir))
        Thread.sleep(50L)
      }
    }

    Await.result(Future.sequence(Seq(writer(1L), writer(2L), writer(3L),
      janitor)), 600.seconds)
    val got = MergeTable.read(spark, dir)
      .select("id", "v").as[(Long, Long)].collect().toMap
    val want = (0L until 50L).map(i => i -> -1L).toMap ++
      (for (t <- 1L to 3L; r <- 0L until 2L; k <- 0L until 6L
            if k % 2 == 0)
        yield (1000L * t + 10L * r + k) -> t)
    assert(got == want,
      "every merge and every ledger delete must survive the interleaving")
    // the chain is read-consistent at every retained version
    MergeTable.versions(spark, dir).foreach { v =>
      MergeTable.read(spark, dir, v).count() // no broken manifest refs
    }
  }

  test("a stale claim marker (dead writer) is reclaimed; a fresh one refuses") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 2)

    // fresh marker with no manifest behind it = a live writer mid-
    // commit: the next claimant must fail loudly, BEFORE writing any
    // data (the claim precedes the version-directory write)
    val fresh = new java.io.File(dir, "._commit_v2")
    assert(fresh.createNewFile())
    val e = intercept[IllegalStateException] {
      MergeTable.merge(spark, dir, Seq((1L, 99L)).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("claimed"))
    assert(!new java.io.File(dir, "v2").exists(),
      "a refused claim must not have written data")
    assert(fresh.delete())

    // a stale marker (dead claimant: old mtime, no manifest) is
    // reclaimed and the commit proceeds, consuming it
    val stale = new java.io.File(dir, "._commit_v2")
    assert(stale.createNewFile())
    assert(stale.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    val v = MergeTable.merge(spark, dir, Seq((1L, 99L)).toDF("id", "v"), "id")
    assert(v == 2, "a stale dead-writer marker must be reclaimed")
    assert(!stale.exists(), "the reclaimed marker is consumed by the commit")
  }

  test("a claim landing on a just-committed version's vacated marker releases and fails — committed data survives") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 200L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 4)
    // writer A commits v2 normally: manifest renamed, marker consumed
    MergeTable.merge(spark, dir, Seq((1L, -1L)).toDF("id", "v"), "id")
    assert(MergeTable.latestVersion(spark, dir) == 2)
    val v2Files = MergeTable.fileIndex(spark, dir, 2).values.flatten.toSeq
      .map(r => new java.io.File(dir, r))
    assert(v2Files.nonEmpty && v2Files.forall(_.exists()))

    // writer B raced: it read head = 1 BEFORE A's commit, and its claim
    // of v2 lands on the marker name A's commit just vacated. Round 13
    // granted that claim — and nextVersion's orphan-clear then deleted
    // A's committed v2/ data files. The claim must instead observe the
    // committed manifest, release, and fail loudly.
    val conf = spark.sparkContext.hadoopConfiguration
    val e = intercept[IllegalStateException] {
      MergeTable.claimVersion(conf, dir, 2)
    }
    assert(e.getMessage.contains("another writer claimed"))
    assert(!new java.io.File(dir, "._commit_v2").exists(),
      "the refused claim must release its marker")
    assert(v2Files.forall(_.exists()),
      "the committed version's data files must survive the refused claim")
    MergeTable.read(spark, dir, 2).count() // still fully readable
  }

  test("concurrent stale-marker reclaimers: the reclaim lock admits exactly one") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 2)
    val stale = new java.io.File(dir, "._commit_v2")
    assert(stale.createNewFile())
    assert(stale.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))

    // N claimants race the reclaim: delete-then-recreate would let two
    // "win" (one deleting the other's fresh marker), and the round-14
    // rename handoff had an ABA hole (the second rename could capture
    // the first winner's FRESH marker — reproduced reliably by this
    // latch race on a 32-core host); the reclaim lock must admit
    // exactly one
    val conf = spark.sparkContext.hadoopConfiguration
    val gate = new java.util.concurrent.CountDownLatch(8)
    def contender(): Future[Boolean] = Future {
      gate.countDown(); scala.concurrent.blocking { gate.await() }
      Try(MergeTable.claimVersion(conf, dir, 2)).isSuccess
    }
    val wins = Await.result(
      Future.sequence((1 to 8).map(_ => contender())), 120.seconds)
      .count(identity)
    assert(wins == 1, s"exactly one reclaimer may win the stale marker, got $wins")
    assert(new java.io.File(dir, "._commit_v2").exists(),
      "the winner holds the fresh claim marker")
  }

  test("stale reclaim LOCK (crashed reclaimer) + stale marker: concurrent capture admits exactly one, no vacancy double-hold") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 2)
    val past = System.currentTimeMillis() - 11 * 60 * 1000L
    val stale = new java.io.File(dir, "._commit_v2")
    assert(stale.createNewFile() && stale.setLastModified(past))
    // a CRASHED reclaimer's leftover lock — every contender must go
    // through the capture-by-rename path. The round-15 code restored a
    // captured-fresh lock, leaving a vacancy window in which a third
    // reclaimer's create succeeded while the first winner still held
    // the (restored) lock — two critical-section holders, two claim
    // winners. Round 16: captures CONSUME the lock and holders verify
    // ownership by UUID before the marker transition.
    val deadLock = new java.io.File(dir, "._commit_v2.reclaim")
    assert(deadLock.createNewFile() && deadLock.setLastModified(past))

    val conf = spark.sparkContext.hadoopConfiguration
    val gate = new java.util.concurrent.CountDownLatch(8)
    def contender(): Future[Boolean] = Future {
      gate.countDown(); scala.concurrent.blocking { gate.await() }
      Try(MergeTable.claimVersion(conf, dir, 2)).isSuccess
    }
    val wins = Await.result(
      Future.sequence((1 to 8).map(_ => contender())), 120.seconds)
      .count(identity)
    assert(wins <= 1, s"at most one reclaimer may win through a dead lock, got $wins")
    // liveness: with contention gone, the (possibly consumed-by-racer)
    // reclaim completes — either a racer already won the marker or a
    // solo retry does now
    val total = wins + (if (wins == 0)
      (if (Try(MergeTable.claimVersion(conf, dir, 2)).isSuccess) 1 else 0)
    else 0)
    assert(total == 1, "the stale marker is reclaimed exactly once overall")
    assert(new java.io.File(dir, "._commit_v2").exists(),
      "the winner holds the fresh claim marker")
  }

  test("object-store paths without atomic create refuse at claim time; the escape hatch is explicit") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val e = intercept[UnsupportedOperationException] {
      MergeTable.requireAtomicClaims(conf, "s3a://bucket/warehouse/corpus")
    }
    assert(e.getMessage.contains("atomic create-fail-if-exists"))
    // the explicit operator opt-out (mutual exclusion moved to the
    // deployment) lifts the refusal
    conf.set("graft.commit.allowNonAtomic", "true")
    MergeTable.requireAtomicClaims(conf, "s3a://bucket/warehouse/corpus")
    // HDFS-semantics schemes never refuse
    MergeTable.requireAtomicClaims(
      new org.apache.hadoop.conf.Configuration(false), "/tmp/local-table")
    MergeTable.requireAtomicClaims(
      new org.apache.hadoop.conf.Configuration(false), "hdfs://nn/warehouse/t")
    // UNKNOWN schemes fail CLOSED (round-15 ADVICE: the old denylist
    // covered only s3*; oss/swift/wasb silently passed without any
    // create-fail-if-exists guarantee) — the allowlist refuses anything
    // nobody vetted, with the same explicit escape hatch
    for (p <- Seq("oss://bucket/t", "swift://c.mycloud/t", "wasb://c@a/t")) {
      val eu = intercept[UnsupportedOperationException] {
        MergeTable.requireAtomicClaims(
          new org.apache.hadoop.conf.Configuration(false), p)
      }
      assert(eu.getMessage.contains("atomic create-fail-if-exists"), p)
    }
  }

  test("a vacuous delete ledger (keys in data-less buckets) purges via a metadata-only commit") {
    val dir = tmpDir()
    // one-row table at 8 buckets: most buckets hold no data files
    MergeTable.create(spark, dir,
      Seq((0L, "keep")).toDF("id", "name"), "id", nBuckets = 8)
    val bucketOf = (k: Long) => spark.range(1).select(
      pmod(hash(lit(k)), lit(8)).cast("int")).as[Int].head()
    val usedBucket = bucketOf(0L)
    // a deleted key that hashes AWAY from the data: its ledger entry is
    // vacuous — no row can ever match it
    val ghost = (1000L to 1100L).find(k => bucketOf(k) != usedBucket).get
    MergeTable.deleteKeys(spark, dir, Seq(ghost).toDF("id"), "id")
    assert(MergeTable.pendingDeletes(spark, dir).nonEmpty)
    // a pending ledger (even a vacuous one) blocks metadata aggregates
    intercept[IllegalArgumentException] {
      MergeTable.metaRowCount(spark, dir)
    }
    // round 13 purgeDeletes no-op'd here, leaving the block permanent;
    // now it drops the vacuous entries via one metadata commit
    val v = MergeTable.purgeDeletes(spark, dir)
    assert(v > 2, "the purge must commit a new version")
    assert(MergeTable.pendingDeletes(spark, dir).isEmpty,
      "the vacuous ledger must clear")
    assert(MergeTable.metaRowCount(spark, dir) == 1L,
      "metadata aggregates must work again after the purge")
    assert(MergeTable.read(spark, dir).count() == 1L, "data unchanged")
    // and the advisor names the repair (all-vacuous always advises)
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      Seq((0L, "keep")).toDF("id", "name"), "id", nBuckets = 8)
    MergeTable.deleteKeys(spark, dir2, Seq(ghost).toDF("id"), "id")
    val advice = MergeTable.advise(spark, dir2)
    assert(advice.exists(a => a.action == "purge" &&
      a.reason.contains("vacuous")), s"advise must flag the vacuous ledger: $advice")
    MergeTable.maintain(spark, dir2)
    assert(MergeTable.pendingDeletes(spark, dir2).isEmpty,
      "maintain must converge the vacuous ledger to empty")
  }

  test("the merge key persists, carries across admin ops, and gates mis-keyed writes") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 100L).map(i => (i, i % 10)).toDF("id", "grp"), "id", nBuckets = 4)
    assert(MergeTable.mergeKey(spark, dir).contains("id"))

    // a merge on a different column would put rows in buckets unrelated
    // to their key hash — refused loudly before any write
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir, Seq((1L, 5L)).toDF("id", "grp"), "grp")
    }
    assert(e.getMessage.contains("bucketed on merge key"))

    // layout/compaction ops don't know the key; they must CARRY it
    MergeTable.clusterBy(spark, dir, "grp", filesPerBucket = 2)
    assert(MergeTable.mergeKey(spark, dir).contains("id"))
    MergeTable.compact(spark, dir)
    assert(MergeTable.mergeKey(spark, dir).contains("id"))
    MergeTable.deleteKeys(spark, dir, Seq(7L).toDF("id"), "id")
    assert(MergeTable.mergeKey(spark, dir).contains("id"))

    // rebucket is the deliberate re-key path: it records the new key
    MergeTable.purgeDeletes(spark, dir)
    MergeTable.rebucket(spark, dir, "grp", 2)
    assert(MergeTable.mergeKey(spark, dir).contains("grp"))
    assert(MergeTable.merge(spark, dir,
      Seq((200L, 3L)).toDF("id", "grp"), "grp", validate = false) > 0)

    // clones inherit the source's key
    val dst = tmpDir()
    MergeTable.cloneTable(spark, dir, dst)
    assert(MergeTable.mergeKey(spark, dst).contains("grp"))
  }
}
