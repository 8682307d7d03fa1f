package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.{HttpServe, SessionDefaults}
import graft.projection.SignalProjection
import graft.sources.FileEventSource
import graft.streaming.StreamingProjection

/** The live server's wiring, hosted in-process with timers and counters
  * around each layer's public calls. Arguments are those of
  * `graft.HttpServe --live`; the session, source, trigger and store match
  * what that main builds. What differs:
  *
  *   - the stream's `foreachBatch` is this harness's: it times decode +
  *     `latestByKey` apart (a noop write), counts the rows decode drops,
  *     then calls `StreamingProjection.processBatch` and times it;
  *   - `HttpServe.start` serves a `ViewSource` that times
  *     `store.currentGenToken` and `proj.view`;
  *   - `graft.store.diag=true`, and its `[store-diag]` lines are parsed;
  *   - listeners count jobs and tasks, and [[CountingFs]] counts FS calls;
  *   - `GET /_trace/phase?name=P` tags what follows with phase P,
  *     `GET /_trace/counters` returns the running totals, and
  *     `GET /_trace/dump` everything recorded, as JSON.
  */
object Traced {
  val ScopeKey = "perfbench.scope"
  private val BatchKey = "perfbench.batch"

  @volatile private var phase = "setup"

  private final class Batch(val id: Long, val phase: String) {
    @volatile var foldMs, countMs, processMs, foreachMs = 0.0
    @volatile var raw, kept, fsCalls = 0L
    @volatile var triggerMs, discoverMs = -1.0
    val jobs, tasks = new AtomicLong
    val diag = new ConcurrentHashMap[String, Double]()
  }
  private val batches = new ConcurrentHashMap[Long, Batch]()
  @volatile private var current: Batch = null
  private val stageBatch = new ConcurrentHashMap[Int, Batch]()
  private val servingJobs = new AtomicLong

  /** Per phase: calls, wall ns and FS calls of one timed view-source call. */
  private final class Acc { val n, ns, fs = new AtomicLong }
  private val token = new ConcurrentHashMap[String, Acc]()
  private val view = new ConcurrentHashMap[String, Acc]()

  private def timed[T](accs: ConcurrentHashMap[String, Acc], scope: String)(body: => T): T = {
    val acc = accs.computeIfAbsent(phase, _ => new Acc)
    val fs0 = CountingFs.threadCalls
    val t0 = System.nanoTime()
    val r = CountingFs.within(scope)(body)
    acc.ns.addAndGet(System.nanoTime() - t0)
    acc.n.incrementAndGet()
    acc.fs.addAndGet(CountingFs.threadCalls - fs0)
    r
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(_, watchDir, stateDir, chkDir, port) = args.take(5)
    captureStoreDiag()
    val spark = SessionDefaults(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("graft.store.diag", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listen(spark)

    val proj = new StreamingProjection(spark, stateDir)
    val sc = spark.sparkContext
    def foreachBatch(b: DataFrame, id: Long): Unit = {
      val rec = new Batch(id, phase)
      batches.put(id, rec)
      current = rec
      val t0 = System.nanoTime()
      sc.setLocalProperty(BatchKey, id.toString)
      sc.setLocalProperty(ScopeKey, "fold")
      val decoded = SignalProjection.decode(b)
      val t1 = System.nanoTime()
      SignalProjection.latestByKey(decoded).write.format("noop").mode("overwrite").save()
      rec.foldMs = ms(t1)
      val t2 = System.nanoTime()
      sc.setLocalProperty(ScopeKey, "count")
      rec.raw = b.count()
      rec.kept = decoded.count()
      rec.countMs = ms(t2)
      sc.setLocalProperty(ScopeKey, "store")
      val fs0 = CountingFs.calls("store")
      val t3 = System.nanoTime()
      CountingFs.within("store")(proj.processBatch(b, id))
      rec.processMs = ms(t3)
      rec.fsCalls = CountingFs.calls("store") - fs0
      sc.setLocalProperty(ScopeKey, null)
      sc.setLocalProperty(BatchKey, null)
      rec.foreachMs = ms(t0)
      current = null
    }
    FileEventSource(watchDir, maxFilesPerTrigger = 16).stream(spark).writeStream
      .option("checkpointLocation", chkDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch((b: DataFrame, id: Long) => foreachBatch(b, id))
      .start()

    val source = new HttpServe.ViewSource {
      def generation: Long = timed(token, "token")(proj.store.currentGenToken)
      def view: DataFrame = timed(Traced.view, "view")(proj.view)
    }
    val server = HttpServe.start(spark, source, port.toInt)
    server.createContext("/_trace", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val body = try {
        if (path.endsWith("/phase")) {
          phase = Option(ex.getRequestURI.getQuery).map(_.stripPrefix("name=")).getOrElse("none")
          counters(sc)
        } else if (path.endsWith("/counters")) counters(sc)
        else dump(sc)
      } catch { case e: Throwable => s"""{"error": "${HttpServe.jsonEscape(String.valueOf(e))}"}""" }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    println(s"[traced] serving on :${server.getAddress.getPort}")
    Thread.currentThread().join()
  }

  /** Parse `[store-diag] <phase> <ms> ms` lines into the running batch. */
  private def captureStoreDiag(): Unit = {
    val err = System.err
    val line = new java.lang.StringBuilder
    System.setErr(new PrintStream(new OutputStream {
      override def write(b: Int): Unit = synchronized {
        err.write(b)
        if (b == '\n') {
          val s = line.toString
          line.setLength(0)
          val rec = current
          if (rec != null && s.startsWith("[store-diag] ")) {
            val parts = s.split(" ")
            if (parts.length >= 3)
              rec.diag.merge(parts(1), parts(2).toDouble, (a: Double, b: Double) => a + b)
          }
        } else line.append(b.toChar)
      }
    }, true))
  }

  private def listen(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val scope = props.flatMap(p => Option(p.getProperty(ScopeKey)))
        val batch = props.flatMap(p => Option(p.getProperty(BatchKey)))
          .flatMap(b => Option(batches.get(b.toLong)))
        (scope, batch) match {
          case (Some("store"), Some(rec)) =>
            rec.jobs.incrementAndGet()
            e.stageIds.foreach(s => stageBatch.put(s, rec))
          case (None, _) => servingJobs.incrementAndGet()
          case _ =>
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageBatch.get(e.stageId)).foreach(_.tasks.incrementAndGet())
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        Option(batches.get(p.batchId)).filter(_ => p.numInputRows > 0).foreach { rec =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          rec.triggerMs = d.getOrElse("triggerExecution", 0L).toDouble
          rec.discoverMs = (d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)).toDouble
        }
      }
    })
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def counters(sc: org.apache.spark.SparkContext): String = {
    org.apache.spark.perfbench.Bus.drain(sc)
    s"""{"phase": "$phase", "cpu_ns": $cpuNs, "gc_ms": $gcMs, "serving_jobs": ${servingJobs.get}}"""
  }

  private def dump(sc: org.apache.spark.SparkContext): String = {
    org.apache.spark.perfbench.Bus.drain(sc)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val bs = batches.values.asScala.toSeq.sortBy(_.id).map { b =>
      val diag = b.diag.asScala.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      s"""{"id": ${b.id}, "phase": "${b.phase}", "fold_ms": ${num(b.foldMs)}, """ +
        s""""count_ms": ${num(b.countMs)}, "process_ms": ${num(b.processMs)}, """ +
        s""""foreach_ms": ${num(b.foreachMs)}, "raw": ${b.raw}, "kept": ${b.kept}, """ +
        s""""fs_calls": ${b.fsCalls}, "trigger_ms": ${num(b.triggerMs)}, """ +
        s""""discover_ms": ${num(b.discoverMs)}, "jobs": ${b.jobs.get}, """ +
        s""""tasks": ${b.tasks.get}, "diag": {$diag}}"""
    }
    def accs(m: ConcurrentHashMap[String, Acc]) = m.asScala.map { case (p, a) =>
      s""""$p": {"n": ${a.n.get}, "ms": ${num(a.ns.get / 1e6)}, "fs": ${a.fs.get}}"""
    }.mkString("{", ", ", "}")
    s"""{"phase": "$phase", "cpu_ns": $cpuNs, "gc_ms": $gcMs, "serving_jobs": ${servingJobs.get}, """ +
      s""""batches": ${bs.mkString("[", ", ", "]")}, "token": ${accs(token)}, "view": ${accs(view)}}"""
  }
}
