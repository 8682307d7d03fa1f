package graft.streaming

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite
import graft.projection.SignalProjection

/** The core streaming invariant as a property: for a random event log cut
  * into ARBITRARY micro-batches, sequentially merging each batch into the
  * bucketed state store yields exactly the one-shot batch fold — i.e.
  * batch boundaries are unobservable.
  */
class StoreProps extends SparkSuite {

  private case class Ev(seq: Long, id: String, action: String)

  private val genLog: Gen[List[Ev]] = for {
    evs <- Gen.listOfN(24, for {
      id <- Gen.oneOf("a", "b", "c", "d", "e")
      action <- Gen.oneOf("created", "updated", "deleted")
    } yield Ev(0L, id, action))
  } yield evs.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }

  private val genCuts: Gen[List[Int]] =
    Gen.listOfN(3, Gen.choose(0, 24)).map(_.distinct.sorted)

  private def raw(evs: Seq[Ev]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      evs.map { e =>
        org.apache.spark.sql.Row(e.seq,
          s"""{"action":"${e.action}","id":"${e.id}"}""")
      }.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("seq", "long").add("value", "string"))
  }

  test("arbitrary micro-batch cuts converge to the batch fold") {
    (1L to 5L).foreach { seed =>
      val log = genLog(Gen.Parameters.default, Seed(seed)).get
      val cuts = genCuts(Gen.Parameters.default, Seed(seed * 31)).get
      val bounds = (0 +: cuts :+ log.length).distinct.sorted
      val batches = bounds.zip(bounds.tail).map { case (a, b) => log.slice(a, b) }
        .filter(_.nonEmpty)

      val dir = Files.createTempDirectory("graft-prop-").toString
      val store = new BucketedStateStore(spark, dir, numBuckets = 4)
      batches.zipWithIndex.foreach { case (b, i) =>
        store.merge(
          SignalProjection.latestByKey(SignalProjection.decode(raw(b))), i.toLong)
      }
      val streamed = store.read().get
        .where(org.apache.spark.sql.functions.col("action") =!= "deleted")
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
      val batch = SignalProjection.fromRaw(raw(log))
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
      assert(streamed == batch, s"seed=$seed cuts=$bounds")
    }
  }

  test("a reader beside the writer only ever sees the fold of a batch prefix") {
    // One thread merges a random log cut into batches while the test
    // thread loops token → read() → collect. Every read must equal the
    // fold of exactly the first k batches for some k; a read that mixes
    // buckets of two batches matches no prefix. Listings are slowed so a
    // read's resolution spans a commit's renames. A read whose snapshot
    // was trimmed by retention while it ran may fail; it is retried, and
    // never counts as an answer.
    FaultFs.register(spark)
    val rng = new scala.util.Random(7)
    val ids = (0 until 16).map(i => s"k$i")
    val log = (0 until 160).map(i => Ev(i.toLong, ids(rng.nextInt(ids.size)),
      Seq("created", "updated", "deleted")(rng.nextInt(3)))).toList
    val batches = log.grouped(8).toList
    def fold(evs: Seq[Ev]): Set[(String, Long, String)] =
      evs.groupBy(_.id).values.map(_.maxBy(_.seq)).map(e => (e.id, e.seq, e.action)).toSet
    val prefixes = batches.indices.map(k => fold(batches.take(k).flatten)).toSet +
      fold(log)
    val decoded = batches.map(b =>
      SignalProjection.latestByKey(SignalProjection.decode(raw(b))).localCheckpoint(true))

    val store = new BucketedStateStore(spark, FaultFs.tempDir("graft-reader-"), numBuckets = 8)
    @volatile var writerError: Option[Throwable] = None
    val writer = new Thread(() =>
      try decoded.zipWithIndex.foreach { case (b, i) => store.merge(b, i.toLong) }
      catch { case t: Throwable => writerError = Some(t) })
    def current(): Set[(String, Long, String)] =
      store.read().fold(Set.empty[(String, Long, String)])(_
        .select("id", "seq", "action").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet)
    def trimmed(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).contains("FILE_NOT_EXIST"))
    FaultFs.listDelayMs = 2
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long, String)]]
    var token = 0L
    try {
      writer.start()
      while (writer.isAlive) {
        val t = store.currentGenToken
        assert(t >= token, s"token went back from $token to $t")
        token = t
        val got = try Some(current())
          catch { case scala.util.control.NonFatal(e) if trimmed(e) => None }
        got.foreach { s =>
          assert(prefixes.contains(s), s"read #${seen.size} matches no batch prefix: $s")
          seen += s
        }
      }
    } finally {
      FaultFs.listDelayMs = 0
      writer.join()
    }
    assert(writerError.isEmpty, writerError)
    assert(seen.distinct.size >= 3, s"the reader saw only ${seen.distinct.size} states")
    assert(current() == fold(log))
  }

  test("merge folds with ONE exchange and still writes one file per bucket per gen") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-onex-").toString
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)

    // (a) the r18 one-exchange shape: the (_bucket, key) fold over a
    // bucket-repartitioned child must not add its own key shuffle —
    // HashPartitioning(_bucket) already satisfies the aggregate's
    // distribution (AQE off just for the count: its wrapper hides the
    // exchange nodes until execution).
    val evs = (0 until 24).map(i =>
      Ev(i.toLong, Seq("a", "b", "c", "d", "e")(i % 5), "updated"))
    // pin the input fold so the exchange count below sees ONLY the merge
    // fold (in the real merge path this input is foreachBatch's cached
    // per-key reduction, not part of the merge plan)
    val batch = SignalProjection.latestByKey(SignalProjection.decode(raw(evs)))
      .localCheckpoint(true)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val withBucket = batch.withColumn("_bucket", store.bucketOf(col("id")))
      val merged = SignalProjection.latestByKey(
        withBucket.repartition(4, col("_bucket")), "id", "seq",
        alsoGroup = Seq("_bucket"))
      val exchanges = merged.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1,
        s"expected exactly the bucket repartition:\n${merged.queryExecution.executedPlan}")
      // and alsoGroup is a pure relayout — same fold as the plain key fold
      val plain = SignalProjection.latestByKey(batch, "id", "seq")
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
      val relaid = merged.drop("_bucket")
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
      assert(relaid === plain)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // (b) the layout contract the skipped write-side repartition must
    // keep honoring: exactly one data file per touched bucket per gen.
    store.merge(batch, 0L)
    val root = new java.io.File(dir)
    val genDirs = root.listFiles().filter(_.getName.startsWith("bucket="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("gen=")))
    assert(genDirs.nonEmpty)
    genDirs.foreach { g =>
      val parts = g.listFiles().count(_.getName.startsWith("part-"))
      assert(parts === 1, s"$g holds $parts part files, expected 1")
    }
  }

  test("gen token: 0 only when empty, moves on batch 0, and a layout mismatch fails loudly") {
    val dir = Files.createTempDirectory("graft-token-").toString
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    // batch ids start at 0, so the token must still tell the empty store
    // from the store after batch 0, or a serving layer that cached the
    // empty view under token 0 would never invalidate it
    assert(store.currentGenToken == 0L)
    val evs = Seq(Ev(0L, "a", "created"), Ev(1L, "b", "created"))
    store.merge(
      SignalProjection.latestByKey(SignalProjection.decode(raw(evs))), 0L)
    val afterBatch0 = store.currentGenToken
    assert(afterBatch0 > 0L, "batch 0 must move the token off the empty value")
    store.merge(
      SignalProjection.latestByKey(SignalProjection.decode(
        raw(Seq(Ev(2L, "a", "updated"))))), 1L)
    assert(store.currentGenToken > afterBatch0, "tokens must strictly grow")
    // layout manifest (r16): reopening with a different bucket count
    // would silently split keys across bucket sets — it must throw, and
    // the original parameters must be reopenable
    val wrong = new BucketedStateStore(spark, dir, numBuckets = 8)
    val ex = intercept[IllegalArgumentException](wrong.read())
    assert(ex.getMessage.contains("numBuckets=4"), ex.getMessage)
    intercept[IllegalArgumentException](
      wrong.merge(SignalProjection.latestByKey(
        SignalProjection.decode(raw(Seq(Ev(3L, "c", "created"))))), 2L))
    assert(new BucketedStateStore(spark, dir, numBuckets = 4)
      .read().get.count() >= 2)
  }

  test("pre-manifest dirs need an explicit adoption claim, and the layout can refute it") {
    // r16 ADVICE: a manifest-less dir with bucket data (an older
    // checkpoint) used to get NO validation on read()/merge() and the
    // first write silently stamped the OPENING instance's parameters —
    // performing the split-key merge the manifest exists to prevent and
    // then canonizing the wrong layout as truth.
    val dir = Files.createTempDirectory("graft-preman-").toString
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    // enough distinct keys that every bucket id (0..3) holds data —
    // the refutation sub-case below needs a bucket id ≥ 2 to exist
    store.merge(
      SignalProjection.latestByKey(SignalProjection.decode(
        raw((0 to 11).map(i => Ev(i.toLong, s"k$i", "created"))))), 0L)
    // simulate the pre-manifest checkpoint: delete the stamped manifest
    val manifest = new java.io.File(dir, "_store_manifest")
    assert(manifest.delete(), "fixture setup: manifest must exist to delete")

    // without the adoption flag, first contact fails loudly — read AND merge
    val cold = new BucketedStateStore(spark, dir, numBuckets = 4)
    val ex = intercept[IllegalArgumentException](cold.read())
    assert(ex.getMessage.contains("adoptLayout"), ex.getMessage)
    intercept[IllegalArgumentException](cold.merge(
      SignalProjection.latestByKey(SignalProjection.decode(
        raw(Seq(Ev(2L, "c", "created"))))), 1L))

    // an adoption claim the layout itself DISPROVES is refused: the dir
    // holds bucket ids up to 3, so numBuckets=2 cannot be the original
    spark.conf.set("graft.store.adoptLayout", "true")
    try {
      val dirBuckets = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getName.stripPrefix("bucket=").toLong)
      assert(dirBuckets.exists(_ >= 2),
        s"fixture setup: need a bucket id ≥ 2, got ${dirBuckets.sorted.mkString(",")}")
      val narrow = new BucketedStateStore(spark, dir, numBuckets = 2)
      val ref = intercept[IllegalArgumentException](narrow.read())
      assert(ref.getMessage.contains("wider"), ref.getMessage)
      // the true claim adopts — and a VALIDATED adoption stamps the
      // manifest immediately, read path included (r17 verdict #4: the
      // validate-only form left a read-only consumer of an adopted
      // legacy dir re-listing every bucket and re-validating per read
      // until some merge stamped)
      val adopted = new BucketedStateStore(spark, dir, numBuckets = 4)
      assert(adopted.read().get.count() >= 2)
      assert(manifest.exists(),
        "validated adoption must stamp the manifest on the READ path")
      // memoization: the adopted instance validated ONCE — delete the
      // manifest and withdraw the claim out from under it; the SAME
      // instance keeps reading (no re-validation), while a FRESH
      // instance sees the manifest-less dir and refuses again
      assert(manifest.delete(), "fixture: stamped manifest must delete")
      spark.conf.unset("graft.store.adoptLayout")
      assert(adopted.read().get.count() >= 2)
      val fresh = new BucketedStateStore(spark, dir, numBuckets = 4)
      assert(intercept[IllegalArgumentException](fresh.read())
        .getMessage.contains("adoptLayout"))
      // the merge path adopts-and-stamps the same way
      spark.conf.set("graft.store.adoptLayout", "true")
      val merger = new BucketedStateStore(spark, dir, numBuckets = 4)
      merger.merge(
        SignalProjection.latestByKey(SignalProjection.decode(
          raw(Seq(Ev(3L, "d", "created"))))), 1L)
      assert(manifest.exists(), "adoption must stamp on the merge path too")
    } finally spark.conf.unset("graft.store.adoptLayout")
    // once re-stamped, the normal mismatch guard is back without the flag
    val wrong = new BucketedStateStore(spark, dir, numBuckets = 8)
    val ex2 = intercept[IllegalArgumentException](wrong.read())
    assert(ex2.getMessage.contains("numBuckets=4"), ex2.getMessage)
  }

  test("selective compact equals the full filtered fold on read, and leaves tombstone-free buckets' files untouched") {
    // The 100×-state property: compact(horizon) rewrites ONLY buckets
    // holding a pre-horizon tombstone. Equivalence — the post-compaction
    // read must equal the batch fold with pre-horizon tombstones dropped
    // (exactly what a full-state rewrite would serve) — and the files the
    // untouched buckets serve (each bucket's newest gen) must be the SAME
    // files (path, length, mtime), not byte-equal rewrites. Older gens
    // are retention's to delete.
    import org.apache.spark.sql.functions.col
    (1L to 5L).foreach { seed =>
      val log = genLog(Gen.Parameters.default, Seed(seed * 101)).get
      val dir = Files.createTempDirectory("graft-selc-").toString
      val store = new BucketedStateStore(spark, dir, numBuckets = 8)
      // two merges so every bucket has real files before compaction
      val (h1, h2) = log.splitAt(log.length / 2)
      Seq(h1, h2).zipWithIndex.foreach { case (b, i) =>
        store.merge(
          SignalProjection.latestByKey(SignalProjection.decode(raw(b))), i.toLong)
      }
      val horizon = 12L
      val folded = SignalProjection.latestByKey(SignalProjection.decode(raw(log)))
        .where(!(col("action") === "deleted" && col("seq") < horizon))
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet

      def fileSnap(): Map[String, (Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        new java.io.File(dir).listFiles().toSeq
          .filter(_.getName.startsWith("bucket="))
          .flatMap(_.listFiles().filter(_.getName.startsWith("gen="))
            .maxByOption(_.getName.stripPrefix("gen=").toLong))
          .flatMap(walk)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      }
      val before = fileSnap()
      val rewritten = store.compact(horizonSeq = horizon, gen = 2L).toSet
      val after = fileSnap()

      val got = store.read().get
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
      assert(got == folded, s"seed=$seed: selective compact read != filtered fold")

      val untouchedFiles = before.keys.filterNot { p =>
        rewritten.exists(b => p.contains(s"bucket=$b/") || p.contains(s"bucket=$b${java.io.File.separator}"))
      }
      untouchedFiles.foreach { p =>
        assert(after.contains(p) && after(p) == before(p),
          s"seed=$seed: untouched bucket file was rewritten: $p")
      }
      // and the rewritten set is exactly the buckets that held a
      // pre-horizon tombstone (possibly empty if the log has none)
      val expect = SignalProjection.latestByKey(SignalProjection.decode(raw(log)))
        .where(col("action") === "deleted" && col("seq") < horizon)
        .select(store.bucketOf(col("id")).as("b")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(rewritten == expect, s"seed=$seed: rewrote $rewritten, expected $expect")
    }
  }

  test("readAt composes with retention and compaction: aged snapshots fail loudly, newer ones serve") {
    // Three merges age generation 0 out of retention (the 2 newest log
    // entries are kept), then compact() rewrites state at the derived successor
    // gen — after which every pre-retention snapshot must THROW the
    // unservable-snapshot error (a silent skip would return a cross-epoch
    // mix), while still-retained and post-compaction reads serve.
    import org.apache.spark.sql.functions.col
    val b0 = Seq(Ev(0, "a", "created"), Ev(1, "b", "created"),
      Ev(2, "c", "created"), Ev(3, "d", "created"), Ev(4, "e", "created"))
    val b1 = Seq(Ev(5, "a", "updated"), Ev(6, "b", "updated"),
      Ev(7, "c", "updated"), Ev(8, "d", "updated"), Ev(9, "e", "deleted"))
    val b2 = Seq(Ev(10, "a", "updated"), Ev(11, "b", "updated"),
      Ev(12, "c", "updated"), Ev(13, "d", "updated"))

    val dir = Files.createTempDirectory("graft-prop-").toString
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      store.merge(
        SignalProjection.latestByKey(SignalProjection.decode(raw(b))), i.toLong)
    }
    // entry 0 was trimmed — snapshot 0 is unservable
    val e0 = intercept[IllegalStateException](store.readAt(0L))
    assert(e0.getMessage.contains("no longer servable"), e0.getMessage)

    // compact below a horizon that covers e's tombstone (seq 9)
    val cg = store.compact(horizonSeq = 100L)
    assert(cg == 3L)

    // gen 2 is still within retention: serves the PRE-compaction state —
    // e's tombstone included (delete-visibility of the snapshot)
    val at2 = store.readAt(2L).get
    assert(at2.where(col("action") === "deleted").collect()
      .map(_.getAs[String]("id")).toSeq == Seq("e"))

    // entries 0 and 1 are gone (compaction's entry pushed 1 out of the
    // 2 newest): both fail loudly
    intercept[IllegalStateException](store.readAt(1L))
    intercept[IllegalStateException](store.readAt(0L))

    // the compacted snapshot and the open-ended read both serve, without
    // the dropped tombstone
    Seq(store.readAt(cg).get, store.readAt(Long.MaxValue).get, store.read().get)
      .foreach { df =>
        assert(df.collect().map(_.getAs[String]("id")).sorted.toSeq
          == Seq("a", "b", "c", "d"))
      }
  }
}
