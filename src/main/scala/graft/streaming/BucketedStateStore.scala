package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.projection.SignalProjection

/** Keyed state table for the streaming projection: hash-bucketed parquet
  * generations, made visible one batch at a time by a generation log.
  *
  * Layout:
  *   - `dir/bucket=<b>/gen=<g>/part-*.parquet`: bucket b as rewritten by
  *     the commit of gen g (a bucket's gen is the commit that last
  *     rewrote it);
  *   - `dir/_log/<g>`: the entry that commits gen g. It maps every live
  *     bucket to its gen, names the entry before it and records the
  *     newest batch id folded into the state.
  *
  * Invariants:
  *   - **Atomic commits.** A commit's gen dirs land first; writing its
  *     entry (temp + rename) is the one step that makes it visible.
  *     Every read resolves one entry and reads exactly the gen dirs it
  *     names, so a reader sees a prefix of the commit sequence, never a
  *     mix (the Delta/Iceberg version-log pattern). Gens strictly grow
  *     and are never reused, so the version token, the newest entry's
  *     gen + 1 (0 before the first entry), names one committed state.
  *   - **Incremental merge.** A batch reads and rewrites only the buckets
  *     its keys hash into: O(touched state), not O(total state).
  *   - **Exactly-once replay.** Batch ids are Structured Streaming batch
  *     ids. Batch N commits as gen N, or as the next free gen when a
  *     compaction or an adopted pre-log dir already took N. Replaying the
  *     newest folded batch is a no-op; replaying one that crashed before
  *     its entry rewrites gen dirs no entry names.
  *   - **Retention.** The 2 newest entries are kept; a gen dir is deleted
  *     once no kept entry names it. [[readAt]] serves any kept entry.
  *
  * Tombstones (action='deleted') stay in state so late replays of older
  * events cannot resurrect deleted keys; [[compact]] drops them once the
  * log horizon passes (Kafka's compaction tombstone retention).
  */
class BucketedStateStore(
    spark: SparkSession,
    dir: String,
    numBuckets: Int = 8,
    key: String = "id",
    seq: String = "seq") {

  private val root = new Path(dir)
  private val logDir = new Path(root, "_log")
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Opt-in phase timing (`graft.store.diag=true`): prints each merge
    * phase's wall to stderr as `[store-diag] <phase> <ms> ms`.
    * Diagnostic only — never read in a query path.
    */
  private def diag[T](phase: String)(body: => T): T =
    if (!spark.conf.getOption("graft.store.diag").contains("true")) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[store-diag] $phase ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      r
    }

  def bucketOf(c: Column): Column = pmod(xxhash64(c), lit(numBuckets))

  /** [[bucketOf]] of a string key, evaluated on the driver: the same
    * xxhash64 expression and pmod, with no job.
    */
  def bucketOf(id: String): Long =
    Math.floorMod(new XxHash64(Seq(Literal(id))).eval().asInstanceOf[Long], numBuckets.toLong)

  /** Layout manifest: `bucketOf` decides which buckets a merge reads and
    * where it writes, so reopening a state dir with a different
    * `numBuckets`/`key`/`seq` would split keys across two bucket sets.
    * The manifest is stamped on the first write (temp + rename), and every
    * instance validates against it once before its first read or merge.
    *
    * A manifest-less dir that already has bucket dirs is refused unless
    * `graft.store.adoptLayout=true` claims the opening parameters are the
    * original ones; the claim is refuted when a `bucket=N` with
    * N ≥ numBuckets exists. A validated adoption stamps the manifest at
    * once; on the read path a failed stamp (a read-only consumer) only
    * memoizes the validation for this instance.
    */
  private val manifestDesc = s"numBuckets=$numBuckets,key=$key,seq=$seq"
  private def manifestPath = new Path(root, "_store_manifest")
  @volatile private var manifestOk = false
  private def checkManifest(stampIfAbsent: Boolean): Unit = {
    if (manifestOk) return
    val mp = manifestPath
    if (fs.exists(mp)) {
      val got = readText(mp).trim
      require(got == manifestDesc,
        s"state dir $dir was written with [$got] but opened with " +
          s"[$manifestDesc] — a mismatched layout silently splits keys " +
          "across bucket sets; open the store with the original parameters")
      manifestOk = true
    } else {
      val preManifest = allBuckets
      if (preManifest.nonEmpty) {
        require(spark.conf.getOption("graft.store.adoptLayout")
            .contains("true"),
          s"state dir $dir has bucket data but no layout manifest (a " +
            "pre-manifest checkpoint); opening it with the wrong " +
            "parameters would silently split keys across bucket sets. " +
            "If these opening parameters ARE the original ones " +
            s"[$manifestDesc], set graft.store.adoptLayout=true to " +
            "adopt and stamp them")
        val maxB = preManifest.max
        require(maxB < numBuckets,
          s"state dir $dir holds bucket=$maxB but was opened with " +
            s"numBuckets=$numBuckets — the original store was wider; " +
            "the adoption claim is refuted by the layout itself")
        if (stampIfAbsent) stampManifest()
        else try stampManifest()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[store] adoption of $dir validated but the manifest stamp " +
              s"failed (${e.getMessage}) — likely a read-only consumer; " +
              "memoizing the validation for this instance only")
          manifestOk = true
        }
      } else if (stampIfAbsent && fs.exists(root)) {
        stampManifest()
      }
    }
  }

  private def stampManifest(): Unit =
    if (commitText(new Path(root, "_store_manifest.tmp"), manifestPath,
        manifestDesc)) manifestOk = true
    else {
      // A false rename is benign only when a concurrent stamper won; the
      // exists() guard keeps the re-validation from recursing forever.
      require(fs.exists(manifestPath),
        s"could not stamp layout manifest $manifestPath (rename returned " +
          "false and no concurrent stamp exists)")
      checkManifest(stampIfAbsent = false)
    }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write `text` to `tmp`, then rename it to `dst`; the rename's result. */
  private def commitText(tmp: Path, dst: Path, text: String): Boolean = {
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    fs.rename(tmp, dst)
  }

  private def bucketPath(b: Long): Path = new Path(root, s"bucket=$b")
  private def genPath(b: Long, g: Long): Path = new Path(bucketPath(b), s"gen=$g")

  private def allBuckets: Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toLong)

  /** One log entry: gen `gen` commits bucket → gen `buckets`; `prev` is
    * the gen of the entry before it, -1 for the first; `batch` is the
    * newest batch id folded into the state, -1 for none.
    */
  private case class Entry(gen: Long, prev: Long, batch: Long, buckets: Map[Long, Long])

  private def entryPath(g: Long): Path = new Path(logDir, g.toString)

  /** Gens of the retained entries, newest first: one FS call. */
  private def logGens(): Seq[Long] =
    try fs.listStatus(logDir).toSeq
      .flatMap(_.getPath.getName.toLongOption).sorted.reverse
    catch { case _: FileNotFoundException => Seq.empty }

  private def readEntry(g: Long): Entry = {
    val kv = readText(entryPath(g)).linesIterator.map { l =>
      val Array(k, v) = l.split('='); k -> v.toLong
    }.toMap
    Entry(g, kv("prev"), kv("batch"),
      (kv -- Seq("prev", "batch")).map { case (b, bg) => b.toLong -> bg })
  }

  private def writeEntry(e: Entry): Unit = {
    val text = (Seq(s"prev=${e.prev}", s"batch=${e.batch}") ++ e.buckets.toSeq.sorted.map {
      case (b, g) => s"$b=$g" }).mkString("", "\n", "\n")
    val dst = entryPath(e.gen)
    require(commitText(new Path(logDir, s"${e.gen}.tmp"), dst, text),
      s"could not commit log entry $dst")
  }

  /** First contact with the dir: validate the manifest and, for a dir
    * written before the log existed (bucket dirs, no `_log`), commit one
    * entry at its newest gen N naming each bucket's newest non-empty gen —
    * the listing rule such a dir was read by. Its predecessor is taken as
    * N - 1, so [[readAt]] reports the older batches as trimmed. Batch N
    * may have crashed after renaming only some of its buckets, so the
    * entry records N - 1 as the newest folded batch: a replay of N
    * re-runs over it, and folding N into the buckets it already rewrote
    * leaves them unchanged. From then on only the log is read.
    */
  @volatile private var opened = false
  private def open(): Unit = {
    checkManifest(stampIfAbsent = false)
    if (!opened) synchronized {
      if (!opened && !fs.exists(logDir)) {
        val listed = allBuckets.map(b => b -> fs.listStatus(bucketPath(b)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
          .map(_.getPath.getName.stripPrefix("gen=").toLong))
        val live = listed.flatMap { case (b, gs) =>
          gs.maxOption.filter(g => fs.listStatus(genPath(b, g))
            .exists(_.getPath.getName.startsWith("part-"))).map(b -> _)
        }.toMap
        listed.flatMap(_._2).maxOption.foreach(g => writeEntry(Entry(g, g - 1, g - 1, live)))
      }
      opened = true
    }
  }

  /** Gens of the retained entries, newest first, of the opened store. */
  private def openLog(): Seq[Long] = { open(); logGens() }

  /** The newest entry, or None before the first commit. */
  private def head(): Option[Entry] = openLog().headOption.map(readEntry)

  /** The store's data-file schema, memoized per instance: every gen is
    * written by the same [[SignalProjection.latestByKey]] fold under one
    * manifest, so the first write or inferred read fixes it and later
    * reads skip a footer-inference job.
    */
  @volatile private var knownSchema: Option[StructType] = None

  /** Rows of the given bucket → gen dirs; None when there are none. */
  private def readGens(gens: Map[Long, Long]): Option[DataFrame] = {
    val paths = gens.toSeq.sorted.map { case (b, g) => genPath(b, g).toString }
    if (paths.isEmpty) None
    else Some(knownSchema match {
      case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        knownSchema = Some(df.schema)
        df
    })
  }

  private def onlyBuckets(e: Entry, buckets: Seq[Long]): Map[Long, Long] =
    e.buckets.filter { case (b, _) => buckets.contains(b) }

  /** One committed state: the bucket → gen map of one log entry. */
  final class Snapshot private[BucketedStateStore] (gens: Map[Long, Long]) {
    /** All of the state (tombstones included); None if there is none. */
    def read(): Option[DataFrame] = readGens(gens)

    /** Bucket `b` alone; None when the entry names no gen for it. */
    def readBucket(b: Long): Option[DataFrame] =
      gens.get(b).flatMap(g => readGens(Map(b -> g)))
  }

  /** The newest entry's state: one log listing and one entry read. */
  def snapshot(): Snapshot = new Snapshot(head().fold(Map.empty[Long, Long])(_.buckets))

  /** Current state (tombstones included); None if no state yet. */
  def read(): Option[DataFrame] = snapshot().read()

  /** State as of gen `maxGen`: the newest retained entry ≤ maxGen. A
    * stream's gens are its batch ids until a compaction or an adoption
    * takes one. None before the first entry; throws when the entries that
    * could answer were trimmed by retention.
    */
  def readAt(maxGen: Long): Option[DataFrame] = {
    val gens = openLog()
    gens.find(_ <= maxGen) match {
      case Some(g) => readGens(readEntry(g).buckets)
      case None =>
        val oldest = gens.lastOption.map(readEntry)
        if (oldest.exists(_.prev >= 0))
          throw new IllegalStateException(
            s"readAt($maxGen): the entries up to gen ${oldest.get.prev} " +
              "were trimmed by retention — the snapshot is no longer " +
              "servable; raise retention or read a newer generation")
        None
    }
  }

  /** Merge one micro-batch (already reduced to per-key latest) into state
    * as batch `gen`. Only buckets containing batch keys are read and
    * rewritten. A replay of the newest folded batch is a no-op; an older
    * batch is refused.
    */
  def merge(batchLatest: DataFrame, gen: Long): Unit = {
    val gens = openLog()
    val cur = gens.headOption.map(readEntry)
    cur.foreach(e => require(e.batch <= gen,
      s"merge gen=$gen is older than batch ${e.batch}, the newest one folded in"))
    if (cur.exists(_.batch == gen)) return
    val withBucket = batchLatest.withColumn("_bucket", bucketOf(col(key)))
    // Driver collect of at most numBuckets longs, not a data collect.
    val affected = diag("merge.affected-probe") {
      withBucket.select(col("_bucket")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    }
    if (affected.isEmpty) return

    val oldState = diag("merge.read-old")(cur.flatMap(e => readGens(onlyBuckets(e, affected))))
      .map(_.withColumn("_bucket", bucketOf(col(key))))
    val combined = oldState match {
      case Some(old) => old.unionByName(withBucket)
      case None => withBucket
    }
    // One exchange: repartition to the write's bucket layout first, then
    // fold grouped by (_bucket, key). _bucket is a function of the key, so
    // the fold is unchanged and needs no key shuffle of its own.
    val merged = SignalProjection.latestByKey(
      combined.repartition(numBuckets, col("_bucket")), key, seq,
      alsoGroup = Seq("_bucket"))
    val next = math.max(gen, cur.fold(0L)(_.gen + 1))
    commit(merged, affected, next, gen, gens, cur, prePartitioned = true)
  }

  /** Commit `data` (carrying a `_bucket` column) as gen `gen`, folding up
    * to batch `batch`: write each bucket in `affected` as `gen=<gen>` (a
    * bucket left with no rows drops out of the entry), then the entry,
    * then apply retention.
    */
  private def commit(data: DataFrame, affected: Seq[Long], gen: Long, batch: Long,
      gens: Seq[Long], cur: Option[Entry], prePartitioned: Boolean = false): Unit = {
    val staging = new Path(root, s"_staging_gen_$gen")
    fs.delete(staging, true)
    // One task per bucket, so one file per bucket per gen. numBuckets
    // therefore also bounds the merge fold's parallelism.
    val laid = if (prePartitioned) data
      else data.repartition(numBuckets, col("_bucket"))
    diag("write.staging-job")(
      laid.write.partitionBy("_bucket").parquet(staging.toString))
    if (knownSchema.isEmpty)
      knownSchema = Some(StructType(data.schema.fields.filterNot(_.name == "_bucket")))
    checkManifest(stampIfAbsent = true)
    // The log dir exists before any bucket dir a commit renames, so a dir
    // with bucket dirs and no `_log` is always one written before the log.
    if (cur.isEmpty) fs.mkdirs(logDir)

    val staged = fs.listStatus(staging).map(_.getPath.getName).toSet
    val written = affected.filter(b => staged(s"_bucket=$b"))
    // Buckets touch disjoint paths, so they commit concurrently.
    diag("write.commit-loop")(forEachConcurrently(written) { b =>
      val dst = genPath(b, gen)
      // A crashed attempt of this batch may have left dst; renaming into
      // an existing dir would nest the new files inside it.
      if (fs.exists(dst))
        require(fs.delete(dst, true), s"could not delete stale $dst")
      if (!cur.exists(_.buckets.contains(b))) fs.mkdirs(bucketPath(b))
      // Hadoop reports most rename failures by returning false.
      val src = new Path(staging, s"_bucket=$b")
      require(fs.rename(src, dst), s"rename $src -> $dst failed")
    })
    val base = cur.map(_.buckets).getOrElse(Map.empty[Long, Long])
    val next = Entry(gen, cur.map(_.gen).getOrElse(-1L), batch,
      base -- affected ++ written.map(_ -> gen))
    writeEntry(next)
    fs.delete(staging, true)

    // Retention: keep `next` and its predecessor; delete the older
    // entries and the gen dirs only they name. Dirs go first, so a crash
    // here leaves the entry for the next commit to trim again.
    val kept = (next.buckets.toSeq ++ cur.toSeq.flatMap(_.buckets)).toSet
    gens.drop(1).foreach { g =>
      readEntry(g).buckets.filterNot(kept).foreach { case (b, bg) =>
        fs.delete(genPath(b, bg), true)
      }
      fs.delete(entryPath(g), false)
    }
  }

  /** Run `body` over the buckets on a bounded pool; any failure
    * propagates (unwrapped) and fails the batch. Single-element and empty
    * inputs stay on the calling thread.
    */
  private def forEachConcurrently(buckets: Seq[Long])(body: Long => Unit): Unit = {
    val par = math.min(buckets.size, 8)
    if (par <= 1) buckets.foreach(body)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futs = buckets.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = body(b)
        }))
        futs.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
  }

  /** Gen of the newest entry; -1 if the store is empty. */
  def currentMaxGen: Long = openLog().headOption.getOrElse(-1L)

  /** Version token for serving-layer cache invalidation: the newest
    * entry's gen + 1, or 0 before the first entry. It names exactly one
    * committed state and costs one FS call once the store is open.
    */
  def currentGenToken: Long = openLog().headOption.fold(0L)(_ + 1)

  /** Drop tombstones older than `horizonSeq`, committed as gen
    * `currentMaxGen + 1`. Returns that gen if any bucket was rewritten,
    * else the unchanged current gen. A stream resumed afterwards may
    * merge that gen's batch id: the batch commits at the next free gen.
    */
  def compact(horizonSeq: Long): Long = {
    val g = currentMaxGen + 1
    if (compact(horizonSeq, g).nonEmpty) g else g - 1
  }

  /** Drop tombstones older than `horizonSeq` (log-compaction analog),
    * committed as gen `gen`. Only buckets holding a pre-horizon
    * tombstone are read and rewritten; the entry keeps every other
    * bucket's gen. Returns the rewritten bucket ids.
    *
    * The rewrite is not `merge`, which can only upsert: it would
    * resurrect the tombstones from the old gen it unions with.
    *
    * `gen` must be newer than the newest entry and finite: a sentinel
    * like Long.MaxValue would leave no gen for a later merge to commit
    * at. Prefer the 1-arg overload.
    */
  def compact(horizonSeq: Long, gen: Long): Seq[Long] = {
    val gens = openLog()
    val cur = gens.headOption.map(readEntry)
    val curGen = cur.map(_.gen).getOrElse(-1L)
    require(gen > curGen && gen < Long.MaxValue,
      s"compact gen=$gen must be a finite generation newer than the " +
        s"current max ($curGen); use compact(horizonSeq) to derive it")
    cur.flatMap(e => readGens(e.buckets)) match {
      case None => Seq.empty
      case Some(st) =>
        // Compaction needs the signal schema's `action` column; the store
        // itself is schema-generic (s12's and s14's stores lack it).
        require(st.columns.contains("action"),
          s"compact() requires the signal read-model 'action' column; " +
            s"this store's schema is [${st.columns.mkString(", ")}]")
        val oldTombstone = col("action") === graft.domain.SignalSchema.Deleted &&
          col(seq) < horizonSeq
        // One filtered scan, then a driver collect of ≤ numBuckets longs.
        val affected = st.where(oldTombstone)
          .select(bucketOf(col(key)).as("_bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (affected.nonEmpty) {
          val kept = readGens(onlyBuckets(cur.get, affected)).get
            .where(!oldTombstone)
            .withColumn("_bucket", bucketOf(col(key)))
          commit(kept, affected, gen, cur.get.batch, gens, cur)
        }
        affected
    }
  }
}
