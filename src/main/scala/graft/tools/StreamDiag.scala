package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch cost breakdown for the streaming replay family
  * (optimization-round measurement, guide §1): attach a
  * StreamingQueryListener to every session created from this context and
  * dump each batch's durationMs map (triggerExecution, queryPlanning,
  * getBatch, walCommit, addBatch, commitOffsets) plus wall between
  * batches — so "the replay costs ~1 s per batch" becomes "which 1 s".
  *
  * Listeners are per-SparkSession; the replay queries run on child
  * sessions (tunedChild), so this tool monkey-patches nothing — it
  * relies on the shared SparkContext's listener bus carrying streaming
  * events for ALL sessions (StreamingQueryListener events are posted to
  * the context bus and re-dispatched per session manager; attaching to
  * the PARENT manager only sees parent queries, so instead we read the
  * context-level SparkListenerEvent stream).
  *
  * Usage: runMain graft.tools.StreamDiag <sfDir> <query> [reps]
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session parity with Bench (r19): the dev-loop measurement tools
    // must tune the session exactly like the harness they A/B against
    // (graft.SessionDefaults — the r18 coalescing floor), or their
    // numbers diverge from Bench's for reasons that are not the code
    // under test (measured: StreamDiag read s13 ~3x Bench's wall
    // before this).
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      )
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same SPARK_GRAFT_CONF contract as Bench and HttpChaos (e.g.
    // graft.store.diag=true for the store's phase timing).
    graft.Bench.injectConf(spark)
    // The context-level bus sees StreamingQueryListener events from every
    // session (MicroBatchExecution posts them via listenerBus.post).
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobT0.put(j.jobId, (System.nanoTime(), desc))
        ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobT0.remove(j.jobId)).foreach { case (t0, desc) =>
          println(f"JOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f  $desc")
        }
        ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case p: StreamingQueryListener.QueryProgressEvent =>
            val d = p.progress.durationMs
            println(s"BATCH ${p.progress.batchId} rows=${p.progress.numInputRows} " +
              s"durations=$d")
          case s: StreamingQueryListener.QueryStartedEvent =>
            println(s"QSTART ${System.nanoTime() / 1000000}")
          case t: StreamingQueryListener.QueryTerminatedEvent =>
            println(s"QEND ${System.nanoTime() / 1000000}")
          case _ => ()
        }
    })
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"REP $rep cons=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f")
    }
    spark.stop()
  }
}
