package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.projection.SignalProjection
import graft.streaming.BucketedStateStore

/** s12's late-data timestamp-LWW contract, replayed deterministically:
  * arrival order is controlled batch-by-batch (no file-source timing), and
  * the fold must converge to the batch TIME-fold — max by (ets, seq) —
  * regardless of which batch a row arrives in. The reference declares this
  * out of scope (data-plane/README.md:157-166: blind log-order upsert);
  * this is the declared upgrade, so its semantics get their own pins:
  * a late stale row must LOSE, a late newer row (including a tombstone)
  * must WIN, and the ordering must be by event time — not by seq, not by
  * arrival.
  */
class LateDataSpec extends SparkSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-latespec-").toString

  /** Rows: (seq, ets, id, action, title). Remaining payload fields null. */
  private def frame(rows: Seq[(Long, Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "ets", "id", "action", "title")
      .withColumn("content", lit(null).cast("string"))
      .withColumn("priority", lit(null).cast("string"))
      .withColumn("author", lit(null).cast("string"))
      .withColumn("created_at", lit(null).cast("string"))
      .withColumn("updated_at", lit(null).cast("string"))
      .withColumn("_ord", struct(col("ets"), col("seq")))
  }

  private def mergeBatch(store: BucketedStateStore, b: DataFrame, gen: Long): Unit =
    store.merge(SignalProjection.latestByKey(b, "id", "_ord"), gen)

  test("late arrivals merge by (ets, seq): stale loses, newer wins, tombstone wins late") {
    val store = new BucketedStateStore(spark, tmpDir(), numBuckets = 2,
      key = "id", seq = "_ord")
    // batch 0 (on time): the NEWER data arrives first
    mergeBatch(store, frame(Seq(
      (2L, 2000L, "7", "updated", "new"),   // newer row for key 7
      (3L, 3000L, "9", "updated", "live"),  // key 9 alive
      (11L, 4000L, "10", "updated", "seqnew") // higher seq, OLDER time
    )), gen = 0)
    // batch 1 (late): older event times arriving after state is committed
    mergeBatch(store, frame(Seq(
      (1L, 1000L, "7", "updated", "old"),   // stale row: must LOSE
      (5L, 500L, "8", "created", "only-late"), // unseen key: must appear
      (4L, 4000L, "9", "deleted", null),    // late tombstone, newer ts: must WIN
      (10L, 5000L, "10", "updated", "tsnew") // lower seq, NEWER time: must WIN
    )), gen = 1)

    val st = store.read().get
    val byId = st.select("id", "seq", "title", "action").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getString(3))))
      .toMap
    assert(byId("7") == ((2L, "new", "updated")),
      s"stale late row must lose the ts-fold: ${byId("7")}")
    assert(byId("8") == ((5L, "only-late", "created")),
      s"late-only key must appear: ${byId("8")}")
    assert(byId("9")._3 == "deleted",
      s"late tombstone with newer ts must win: ${byId("9")}")
    assert(byId("10") == ((10L, "tsnew", "updated")),
      "ordering must be (ets, seq) — a seq-LWW fold would have kept " +
        s"seq 11 'seqnew': ${byId("10")}")
  }

  test("s12 driver query equals the batch time-fold (delivery order irrelevant)") {
    val dir = sf("sf0.001")
    val got = SparkEntry.queries("s12_late_lww")(spark, dir)
      .select("id", "seq", "title", "priority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val log = graft.operators.DerivedSignalLog.logWithEventTime(spark, dir)
      .withColumn("_ord", struct(col("ets"), col("seq")))
    val want = SignalProjection.latestByKey(log, "id", "_ord")
      .where(col("action") =!= "deleted")
      .select("id", "seq", "title", "priority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.nonEmpty && got.sameElements(want),
      s"streamed ts-fold diverged: got ${got.length} rows, want ${want.length}")
  }

  test("s14 bucket claims: min-doc_id steals across batches in any arrival order") {
    // The claim fold is max_by(payload, -doc_id) == per-bucket MIN: a
    // semilattice, so late arrivals converge identically. High ids claim
    // first; a later batch with lower ids must steal every contested
    // bucket and leave uncontested claims alone.
    import spark.implicits._
    val store = new BucketedStateStore(spark, tmpDir(), numBuckets = 2,
      key = "bkey", seq = "_ord")
    def claims(rows: Seq[(String, Long)]): DataFrame =
      rows.toDF("bkey", "doc_id").withColumn("_ord", -col("doc_id"))
    store.merge(SignalProjection.latestByKey(
      claims(Seq(("b1", 100L), ("b2", 200L))), "bkey", "_ord"), gen = 0)
    store.merge(SignalProjection.latestByKey(
      claims(Seq(("b1", 5L), ("b3", 300L))), "bkey", "_ord"), gen = 1)
    val won = store.read().get.select("bkey", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(won == Map("b1" -> 5L, "b2" -> 200L, "b3" -> 300L),
      s"claim table did not converge to per-bucket min: $won")
  }

  test("readAt(g) is a batch-consistent snapshot: newest generation <= g per bucket") {
    import spark.implicits._
    val store = new BucketedStateStore(spark, tmpDir(), numBuckets = 2)
    store.merge(Seq((1L, "a", "created"), (2L, "b", "created"))
      .toDF("seq", "id", "action"), gen = 0)
    store.merge(Seq((3L, "a", "updated"), (4L, "c", "created"))
      .toDF("seq", "id", "action"), gen = 1)
    def snap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
      df.select("id", "seq", "action").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val asOf0 = snap(store.readAt(0).get)
    val full = snap(store.read().get)
    assert(asOf0 == Map("a" -> ((1L, "created")), "b" -> ((2L, "created"))),
      s"generation-0 snapshot must hold exactly batch 0's fold: $asOf0")
    assert(full == Map("a" -> ((3L, "updated")), "b" -> ((2L, "created")),
      "c" -> ((4L, "created"))), s"full read regressed: $full")
  }

  test("readAt fails loudly when the requested snapshot was aged out by retention") {
    // 3 merges into a 1-bucket store: keeping the 2 newest log entries
    // trims entry 0. readAt(0) must THROW, never answer from a newer
    // entry or report an empty store.
    import spark.implicits._
    val store = new BucketedStateStore(spark, tmpDir(), numBuckets = 1)
    store.merge(Seq((1L, "a", "created")).toDF("seq", "id", "action"), gen = 0)
    store.merge(Seq((2L, "a", "updated")).toDF("seq", "id", "action"), gen = 1)
    store.merge(Seq((3L, "a", "updated")).toDF("seq", "id", "action"), gen = 2)
    val e = intercept[IllegalStateException](store.readAt(0))
    assert(e.getMessage.contains("retention"), e.getMessage)
    // retained generations still serve
    assert(store.readAt(1).get.select("seq").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(store.readAt(2).get.select("seq").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("s13 compaction drops only pre-horizon tombstones and keeps live state") {
    val store = new BucketedStateStore(spark, tmpDir(), numBuckets = 2)
    import spark.implicits._
    val st = Seq(
      (1L, "a", "deleted"),  // pre-horizon tombstone: dropped
      (9L, "b", "deleted"),  // post-horizon tombstone: kept
      (2L, "c", "updated"),  // pre-horizon LIVE row: kept (never compacted)
      (8L, "d", "created")
    ).toDF("seq", "id", "action")
    store.merge(st, gen = 0)
    store.compact(horizonSeq = 5L, gen = 1)
    val after = store.read().get.select("id", "action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == Map("b" -> "deleted", "c" -> "updated", "d" -> "created"),
      s"compaction kept the wrong rows: $after")
  }
}
