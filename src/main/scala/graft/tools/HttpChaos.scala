package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.HttpServe
import graft.projection.SignalProjection
import graft.streaming.StreamingProjection

/** Chaos on the SERVING path (SCALING.md §8, round 13): §8's ChaosKill
  * proved batch/stream QUERIES survive executor loss; this capture
  * proves the LIVE serving loop does — the reference's actual runtime
  * shape (cmd/server/main.go:55-73: consumer goroutine updating the view
  * while HTTP handlers read it), under a `kill -9` of an executor
  * PROCESS while both halves are mid-flight.
  *
  * One run: synthesize a multi-batch JSON-lines signal log (off the
  * clock), start the streaming projection over it on the
  * tools/cluster.sh standalone cluster, serve it live
  * ([[HttpServe.startLive]]), hammer the routes from concurrent client
  * threads for the whole replay, and SIGKILL one executor once
  * micro-batch tasks are running. The capture fails unless:
  *
  *   - the kill happened AND the driver observed ExecutorRemoved
  *     (no vacuous pass);
  *   - every request got an answer — zero client timeouts and zero
  *     5xx: Spark's task retry (inside one serving collect) plus the
  *     server's one-retry-on-fresh-serving-set policy
  *     ([[HttpServe.retryOnce]]) must absorb the loss;
  *   - post-recovery state is CORRECT, not just served: the streaming
  *     store's view hash-matches an independent BATCH replay of the
  *     same event log (SignalProjection.fromRaw), and a served point
  *     lookup agrees with that batch state.
  *
  * Usage:
  *   tools/cluster.sh start 2 8 10g
  *   runMain graft.tools.HttpChaos <master> [jar] [nEvents] [nFiles]
  */
object HttpChaos {

  private def fnv(rows: Iterator[String]): (Long, Long) = {
    var acc = 0L; var n = 0L
    rows.foreach { s =>
      var h = 0xcbf29ce484222325L
      s.foreach { c => h ^= c; h *= 0x100000001b3L }
      acc += h; n += 1 // commutative: row order is not part of the contract
    }
    (acc, n)
  }

  private def executorPids(): Seq[Int] = {
    val self = ProcessHandle.current().pid()
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.pid() != self && p.info().commandLine().map[Boolean](
        (cl: String) => cl.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .map(_.pid().toInt).toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    val master = args(0)
    val nEvents = if (args.length > 2) args(2).toLong else 1000000L
    val nFiles = if (args.length > 3) args(3).toInt else 32
    val nKeys = math.max(1000L, nEvents / 10)
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "8g"))
    if (args.length > 1 && args(1).nonEmpty) builder.config("spark.jars", args(1))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF=k=v,k=v — Bench's injector, ONE shared
    // definition, so a chaos run can set runtime confs through the same
    // contract; the applied confs ride in the JSON line so the record is
    // self-describing.
    val injectedConf = graft.Bench.injectConf(spark)
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    val root = java.nio.file.Files.createTempDirectory("graft-http-chaos-").toString
    val inDir = s"$root/in"

    // ---- fixture synthesis (off the clock): StreamThroughput's log ----
    val r = spark.range(nEvents).withColumnRenamed("id", "i")
    val key = concat(lit("sig-"), pmod(xxhash64(col("i")), lit(nKeys)))
    val ts = date_format(
      timestamp_seconds(lit(1700000000L) + pmod(col("i"), lit(86400L))),
      "yyyy-MM-dd'T'HH:mm:ssXXX")
    r.select(col("i").as("seq"),
        to_json(struct(
          when(pmod(col("i"), lit(17L)) === 0, lit("deleted"))
            .when(pmod(col("i"), lit(3L)) === 0, lit("created"))
            .otherwise(lit("updated")).as("action"),
          key.as("id"),
          concat(lit("title for event "), col("i")).as("title"),
          concat(lit("content payload body for synthetic event number "),
            col("i"), lit(" carrying a realistically sized message")).as("content"),
          when(pmod(col("i"), lit(3L)) === 0, "Low")
            .when(pmod(col("i"), lit(3L)) === 1, "Medium")
            .otherwise(lit("High")).as("priority"),
          concat(lit("author-"), pmod(col("i"), lit(97L))).as("author"),
          ts.as("created_at"),
          ts.as("updated_at"))).as("value"))
      .repartition(nFiles)
      .write.json(inDir)

    // ---- arm the chaos listener + killer (ChaosKill's discipline) ----
    val runningTasks = new AtomicInteger
    val killed = new AtomicBoolean(false)
    val removedSeen = new AtomicBoolean(false)
    val armed = new AtomicBoolean(false) // only count tasks after the stream starts
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (armed.get()) runningTasks.incrementAndGet()
      override def onExecutorRemoved(er: SparkListenerExecutorRemoved): Unit =
        removedSeen.set(true)
    })
    val killer = new Thread(() => {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (runningTasks.get() < 4 && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(sys.env.getOrElse("SPARK_GRAFT_KILL_DELAY_MS", "2000").toLong)
      val pids = executorPids()
      pids.headOption match {
        case Some(pid) =>
          println(s"[httpchaos] kill -9 executor pid $pid (of ${pids.size})")
          new ProcessBuilder("kill", "-9", pid.toString).start().waitFor()
          killed.set(true)
        case None => println("[httpchaos] no executor pid found — kill NOT performed")
      }
    }, "http-chaos-killer")
    killer.setDaemon(true)

    // ---- live projection + server ----
    val proj = new StreamingProjection(spark, s"$root/state")
    val t0 = System.nanoTime()
    armed.set(true)
    val q = proj.runFileStream(inDir, s"$root/chk", maxFilesPerTrigger = 1)
    val server = HttpServe.startLive(spark, proj, port = 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    killer.start()

    // ---- concurrent clients for the whole replay ----
    val probeId = s"sig-0" // xxhash64 lands on every residue at 100k keys
    val paths = Vector("/signals", "/signals?priority=High",
      s"/signals/$probeId", "/health")
    val stop = new AtomicBoolean(false)
    val statuses = new ConcurrentHashMap[Int, AtomicLong]()
    val timeouts = new AtomicLong
    val failures = new AtomicLong // non-timeout request failures (reset, refused, IO)
    val requests = new AtomicLong
    val maxLatencyMs = new AtomicLong
    val clients = (0 until 4).map { ci =>
      new Thread(() => {
        val client = HttpClient.newBuilder()
          .connectTimeout(Duration.ofSeconds(60)).build()
        var i = ci // stagger route rotation across client threads
        while (!stop.get()) {
          val req = HttpRequest.newBuilder(URI.create(base + paths(i % paths.size)))
            .timeout(Duration.ofSeconds(120)).GET().build()
          val rt0 = System.nanoTime()
          try {
            val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
            statuses.computeIfAbsent(resp.statusCode(), _ => new AtomicLong)
              .incrementAndGet()
          } catch {
            case _: java.net.http.HttpTimeoutException =>
              timeouts.incrementAndGet()
            // A connection reset / refused IS the symptom of a serving
            // outage — count it and keep the client loop alive so load
            // doesn't silently drop for the rest of the replay.
            case scala.util.control.NonFatal(e) =>
              failures.incrementAndGet()
              println(s"[httpchaos] client-$ci request failed: " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          val ms = (System.nanoTime() - rt0) / 1000000L
          maxLatencyMs.getAndUpdate(m => math.max(m, ms))
          requests.incrementAndGet()
          i += 1
        }
      }, s"http-chaos-client-$ci")
    }
    clients.foreach { t => t.setDaemon(true); t.start() }

    q.awaitTermination() // AvailableNow: returns once the log is replayed
    val replaySec = (System.nanoTime() - t0) / 1e9
    // a post-recovery serving pass, then stop the clients
    Thread.sleep(2000)
    stop.set(true)
    clients.foreach(_.join(130000))

    // ---- post-recovery correctness vs an independent BATCH replay ----
    val raw = spark.read.schema(proj.rawSchema).json(inDir)
    val batchView = SignalProjection.fromRaw(raw)
    def viewHash(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      fnv(df.collect().iterator.map(_.toString))
    val (expHash, expRows) = viewHash(batchView.orderBy("id"))
    val (gotHash, gotRows) = viewHash(proj.view.orderBy("id"))
    val client = HttpClient.newHttpClient()
    val probe = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/signals/$probeId")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val expProbe = batchView.where(col("id") === probeId).collect().headOption
    val probeOk = expProbe match {
      case Some(row) => probe.statusCode() == 200 &&
        probe.body().contains(s""""title": "${row.getAs[String]("title")}"""")
      case None => probe.statusCode() == 404
    }
    server.stop(0)

    import scala.jdk.CollectionConverters._
    val statusJson = statuses.asScala.toSeq.sortBy(_._1)
      .map { case (c, n) => s""""$c":${n.get()}""" }.mkString("{", ",", "}")
    val n5xx = statuses.asScala.collect { case (c, n) if c >= 500 => n.get() }.sum
    val ok = killed.get() && removedSeen.get() && timeouts.get() == 0 &&
      failures.get() == 0 && n5xx == 0 && gotHash == expHash &&
      gotRows == expRows && probeOk
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    println(
      s"""{"tool":"http_chaos","events":$nEvents,"files":$nFiles,"keys":$nKeys""" +
      s""","replay_sec":${r3(replaySec)},"requests":${requests.get()}""" +
      s""","statuses":$statusJson,"timeouts":${timeouts.get()}""" +
      s""","failures":${failures.get()}""" +
      s""","max_latency_ms":${maxLatencyMs.get()}""" +
      s""","executor_killed":${killed.get()},"executor_removed_observed":${removedSeen.get()}""" +
      s""","view_rows":$gotRows,"view_hash_match":${gotHash == expHash}""" +
      s""","probe_lookup_ok":$probeOk,"conf":"${HttpServe.jsonEscape(injectedConf)}"""" +
      s""","load1_start":${r3(load1)},"ok":$ok}""")
    spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
    if (!ok) sys.exit(1)
  }
}
