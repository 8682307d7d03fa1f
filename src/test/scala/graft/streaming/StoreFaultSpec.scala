package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Fault injection at every driver-side FS call of a commit: for each n,
  * the n-th FS call of `merge` (or `compact`) fails. A read made after the
  * crash must serve the last committed state — the state before the batch
  * until the batch's log entry lands, the state after it from then on —
  * and re-running the batch on a fresh instance (a restarted process)
  * must converge to the batch fold.
  */
class StoreFaultSpec extends SparkSuite {

  private type Snap = Set[(String, Long, String)]

  private def batch(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "id", "action")
  }

  private def snap(store: BucketedStateStore): Snap =
    store.read().fold(Set.empty: Snap)(_.select("id", "seq", "action").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet)

  private def local(dir: String) = new File(dir.stripPrefix("fault://"))

  /** A fresh copy of the state dir `template` (a `fault:` path). */
  private def copyOf(template: String): String = {
    val dst = FaultFs.tempDir("graft-fault-")
    org.apache.commons.io.FileUtils.copyDirectory(local(template), local(dst))
    dst
  }

  /** Sweep n = 1, 2, … until `step` completes without reaching call n. */
  private def sweep(template: String, gen: Long, before: Snap, after: Snap)(
      step: BucketedStateStore => Unit): Int = {
    var n = 1L
    var done = false
    var crashedBefore, crashedAfter = 0
    while (!done) {
      val dir = copyOf(template)
      val (outcome, calls) = FaultFs.run(failAt = n)(step(new BucketedStateStore(spark, dir, numBuckets = 2)))
      if (outcome.isRight) {
        assert(calls < n, s"call $n was reached but did not fail")
        assert(snap(new BucketedStateStore(spark, dir, numBuckets = 2)) == after)
        done = true
      } else {
        assert(outcome.left.exists(_.getMessage.contains("injected fault")), outcome)
        val landed = new File(local(dir), s"_log/$gen").exists()
        val restarted = new BucketedStateStore(spark, dir, numBuckets = 2)
        val between = snap(restarted)
        if (landed) {
          assert(between == after, s"crash at call $n after the entry landed")
          crashedAfter += 1
        } else {
          assert(between == before, s"crash at call $n before the entry landed")
          crashedBefore += 1
        }
        step(restarted)
        assert(snap(restarted) == after, s"retry after a crash at call $n")
        assert(snap(new BucketedStateStore(spark, dir, numBuckets = 2)) == after)
        n += 1
      }
    }
    assert(crashedBefore > 0 && crashedAfter > 0, s"$crashedBefore / $crashedAfter")
    crashedBefore + crashedAfter
  }

  FaultFs.register(spark)

  test("merge: a crash at any FS call serves the last entry, and the retry converges") {
    val template = FaultFs.tempDir("graft-fault-tpl-")
    val store = new BucketedStateStore(spark, template, numBuckets = 2)
    store.merge(batch((0L, "a", "created"), (1L, "b", "created"), (2L, "c", "created")), 0L)
    store.merge(batch((3L, "a", "updated"), (4L, "d", "created")), 1L)
    val before = snap(store)
    val b2 = batch((5L, "b", "deleted"), (6L, "c", "updated"), (7L, "e", "created"))
    val after = before.filterNot(r => Set("b", "c", "e")(r._1)) ++
      Set(("b", 5L, "deleted"), ("c", 6L, "updated"), ("e", 7L, "created"))
    val points = sweep(template, 2L, before, after)(_.merge(b2, 2L))
    assert(points > 10, s"only $points crash points")
  }

  test("compact: a crash at any FS call serves the last entry, and the retry converges") {
    val template = FaultFs.tempDir("graft-fault-tpl-")
    val store = new BucketedStateStore(spark, template, numBuckets = 2)
    store.merge(batch((0L, "a", "created"), (1L, "b", "created"), (2L, "c", "created")), 0L)
    store.merge(batch((3L, "a", "deleted"), (4L, "b", "deleted"), (5L, "d", "created")), 1L)
    val before = snap(store)
    val after = before.filterNot(_._3 == "deleted")
    sweep(template, 2L, before, after)(_.compact(horizonSeq = 100L))
  }

  test("the version token costs one FS call, and a replayed batch only reads the log and its newest entry") {
    val dir = FaultFs.tempDir("graft-fault-tok-")
    val store = new BucketedStateStore(spark, dir, numBuckets = 2)
    val b0 = batch((0L, "a", "created"), (1L, "b", "created"))
    store.merge(b0, 0L)
    val (token, calls) = FaultFs.run()(store.currentGenToken)
    assert(token == Right(1L))
    assert(calls <= 1, s"currentGenToken made $calls FS calls")
    val (_, replay) = FaultFs.run()(store.merge(b0, 0L))
    // one listing, then one open, which the checksummed local FS counts twice
    assert(replay <= 3, s"a replay of a committed batch made $replay FS calls")
  }

  test("a stream resumed after compact() folds the batch whose id the compaction took") {
    val dir = FaultFs.tempDir("graft-fault-resume-")
    val store = new BucketedStateStore(spark, dir, numBuckets = 2)
    store.merge(batch((0L, "a", "created"), (1L, "b", "created")), 0L)
    store.merge(batch((2L, "a", "deleted"), (3L, "c", "created")), 1L)
    assert(store.compact(horizonSeq = 100L) == 2L)
    val compacted = store.currentGenToken
    // batch 2 touches every key, so it rewrites the compacted bucket too
    val b2 = batch((4L, "a", "created"), (5L, "b", "updated"), (6L, "c", "updated"))
    store.merge(b2, 2L)
    val want = Set(("a", 4L, "created"), ("b", 5L, "updated"), ("c", 6L, "updated"))
    assert(snap(store) == want)
    assert(store.currentGenToken > compacted)
    store.merge(b2, 2L)
    assert(snap(new BucketedStateStore(spark, dir, numBuckets = 2)) == want)
    store.merge(batch((7L, "d", "created")), 3L)
    assert(snap(store) == want + (("d", 7L, "created")))
  }

  test("a state dir written before the log gets one entry of each bucket's newest non-empty gen") {
    val dir = FaultFs.tempDir("graft-fault-legacy-")
    val store = new BucketedStateStore(spark, dir, numBuckets = 2)
    store.merge(batch((0L, "a", "created"), (1L, "b", "created"), (2L, "c", "created")), 0L)
    store.merge(batch((3L, "a", "updated")), 1L)
    val full = snap(store)
    val bucketOfId = store.read().get.select(col("id"), store.bucketOf(col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val emptied = bucketOfId("a")
    val kept = bucketOfId.filter(_._2 != emptied).keySet
    // the pre-log layout: no `_log`, and an emptied bucket is an empty gen
    org.apache.commons.io.FileUtils.deleteDirectory(new File(local(dir), "_log"))
    assert(new File(local(dir), s"bucket=$emptied/gen=5").mkdirs())
    val legacy = new BucketedStateStore(spark, dir, numBuckets = 2)
    assert(legacy.currentGenToken == 6L)
    assert(snap(legacy) == full.filter(r => kept(r._1)))
    assert(new File(local(dir), "_log/5").exists())
    assert(intercept[IllegalStateException](legacy.readAt(4L))
      .getMessage.contains("no longer servable"))
  }

  test("a pre-log dir whose last batch renamed only some buckets converges when that batch replays") {
    val dir = FaultFs.tempDir("graft-fault-partial-")
    val store = new BucketedStateStore(spark, dir, numBuckets = 2)
    val ids = Seq("a", "b", "c", "d", "e", "f")
    store.merge(batch(ids.zipWithIndex.map { case (id, i) => (i.toLong, id, "created") }: _*), 0L)
    val b1 = batch(ids.zipWithIndex.map { case (id, i) => (10L + i, id, "updated") }: _*)
    store.merge(b1, 1L)
    val fold = snap(store)
    val bucketOfId = store.read().get.select(col("id"), store.bucketOf(col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bucketOfId.values.toSet == Set(0L, 1L))
    // the pre-log layout after batch 1 crashed with bucket 1 not yet renamed
    org.apache.commons.io.FileUtils.deleteDirectory(new File(local(dir), "_log"))
    org.apache.commons.io.FileUtils.deleteDirectory(new File(local(dir), "bucket=1/gen=1"))
    val legacy = new BucketedStateStore(spark, dir, numBuckets = 2)
    val adopted = legacy.currentGenToken
    assert(snap(legacy).count(_._3 == "updated") == bucketOfId.count(_._2 == 0L))
    legacy.merge(b1, 1L)
    assert(snap(legacy) == fold)
    assert(legacy.currentGenToken > adopted)
    assert(snap(new BucketedStateStore(spark, dir, numBuckets = 2)) == fold)
  }
}
