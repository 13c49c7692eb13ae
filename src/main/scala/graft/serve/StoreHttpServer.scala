package graft.serve

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LocalRelation, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.functions._
import graft.store.GenerationStore

/** The reference's actual user surface: its store is reached over Flask
  * routes (`audit_utils/audit_utils/http_endpoint.py:63-67,165-176`), every
  * response a JSON list of {column: value} dicts (`models.py:176-187`).
  * This is the same contract over `com.sun.net.httpserver` (zero new
  * dependencies), mapping each route onto the already-verified
  * [[graft.store.GenerationStore]] / [[Comparators]] calls — serving either
  * deployment (in-memory [[graft.store.RecentStore]] or durable
  * [[graft.store.ParquetStore]], like the reference's SQLite):
  *
  *   - `GET /a/<table>`          — Q1 select-all; `*` = the store's own table
  *     (`http_endpoint.py:70-77`)
  *   - `GET /c/<json>/EOE`       — Q7 per-column comparator select
  *     (`http_endpoint.py:202-212`)
  *   - `GET /c/<sql>`            — Q2 arbitrary SQL (`http_endpoint.py:88-92`)
  *   - `GET /cs/<sql>`           — Q3 SQL→Avro when a schema is set, else
  *     plain JSON rows (`http_endpoint.py:78-86`)
  *   - `GET /r`                  — Q4 reconnect/reset (`http_endpoint.py:94-98`)
  *   - `GET /rst`                — Q5 generation counter (`http_endpoint.py:100-104`)
  *   - `GET /rv/<n>`             — Q11 recent-N (`http_endpoint.py:171-178`)
  *   - `GET /dv/<i>`             — Q12 direct fetch (`http_endpoint.py:180-186`)
  *   - `GET /sr/<param>/<a>:<b>` — Q9 range select, literal `None` = open
  *     bound (`http_endpoint.py:188-200`)
  *   - `GET /x`, `GET /x/<name>` — extension: list / run pre-registered
  *     analytics (bounded aggregated views; no reference analog)
  *
  * KEPT ANSWERS: the store changes only when a batch lands (one
  * generation per trigger, `models.py:584-629`), so a read has one answer
  * between two appends. The JSON read routes (`/a`, `/c`, `/cs`, `/rv`,
  * `/dv`, `/sr`) keep their response bodies per (raw path and query,
  * store state); a repeat serves the kept bytes with no parse, plan or
  * Spark job. The store state is read before anything binds: the frame
  * `store.selectAll` returns (one object per committed state in both
  * deployments), the counter, the victim store's frame under takedown,
  * and how many commands `/c` has run. Frames compare by REFERENCE — a
  * file index compares equal across snapshots. A body is kept only when
  * the response is a 200 and its analyzed plan reads the store through
  * that very frame, otherwise only literal relations (plus the victim
  * store under takedown), with every expression deterministic and none
  * time-dependent (`current_timestamp`, …); an answer computed against a
  * view the store has not re-registered yet is served, not kept. `/rst`,
  * `/r`, `/x`, `/cdx` and `/replay` are never kept. A `/c` command (`SET`,
  * `CREATE`/`DROP VIEW`, …) runs every time and moves the state, dropping
  * every kept body. Only the newest state's bodies are held, all dropped
  * when it moves.
  *
  * TRANSPORT: the server's sockets run with TCP_NODELAY on.
  * `sendResponseHeaders` and the body write leave as two segments; under
  * Nagle's algorithm a body smaller than one segment waits for the
  * client's delayed ACK of the headers (~40 ms on Linux), a floor under
  * every small answer (`/rst`, a kept hit). The switch is the JDK's
  * `sun.net.httpserver.nodelay`, which is JVM-wide: it is read once,
  * when the JVM's first `com.sun.net.httpserver` server starts. The
  * companion sets it to `true` only when it is unset, so a deployer's
  * explicit value wins.
  *
  * Scale note: this veneer `collect()`s query RESULTS to the driver — by
  * design. It serves the same pre-aggregated bounded store the reference's
  * Flask process served (cardinality = keys × buckets × generations), never
  * raw data; big analytical output belongs on the Dataset API, not HTTP.
  * Kept bodies are bounded by `Runtime.maxMemory / 64` in total: past it an
  * answer is served but not kept. A change to the SESSION made outside this
  * server (a view re-registered or a conf set by another caller) is not part
  * of the store state: kept bodies reflect it from the next append on.
  *
  * TAKEDOWN SCRUB-AT-READ (r14 verdict #2): when a `takedown` pair
  * (victim store, key column) is given, a logical takedown is
  * effective at the HTTP boundary the moment its request lands, while
  * physical erasure is still pending. Two layers: SQL routes execute
  * against a SCRUBBED registration of the store's own view
  * ([[sqlView]] — so aliases and expressions over the key cannot
  * smuggle a banned row out, review r15), and every served frame that
  * still carries the key column is anti-joined again before it
  * serializes ([[graft.store.Takedown.scrub]]'s read-path contract).
  * Residue: SQL over OTHER attached tables (not this store's view)
  * gets only the name-based net — it ends at the next [[graft.store
  * .Takedown.erase]] cadence, the documented division of labor. */
final class StoreHttpServer(store: GenerationStore,
                            avroSchema: Option[String] = None,
                            analytics: Map[String, () => DataFrame] = Map.empty,
                            takedown: Option[(graft.store.ParquetStore, String)] = None,
                            /** Zipnum CDX cluster directory for the
                              * `/cdx/<urlkey>` point-lookup route
                              * ([[graft.sources.Warc.zipnumLookup]]);
                              * served lines pass the takedown line
                              * scrub — victim URLs return nothing even
                              * from a stale (pre-rebuild) cluster,
                              * defense in depth with the staleness
                              * gate. */
                            cdxCluster: Option[String] = None,
                            /** Archive directory (the [[graft.sources
                              * .Warc.writeFiles]] output the cluster
                              * indexes) for the `/replay/<ts>/<urlkey>`
                              * route — the serving half the index
                              * exists for: the closest capture's
                              * archived BODY bytes, read as one
                              * positioned range. Requires
                              * `cdxCluster`. */
                            cdxArchives: Option[String] = None) {

  /** The read-path takedown gate (see class doc): one broadcast
    * anti-join, applied only when the frame names documents (carries
    * the key column). */
  private def scrubbed(df: DataFrame): DataFrame = takedown match {
    case Some((td, key)) if df.columns.contains(key) =>
      graft.store.Takedown.scrub(df, td, key)
    case _ => df
  }

  /** Arbitrary SQL under takedown: re-register the store's own view as
    * its SCRUBBED form before executing, so the query PLANS over the
    * gated rows — a post-hoc result scrub would be name-based and an
    * alias (`SELECT doc_key AS k …`) or an expression over the key
    * would smuggle a banned row past it (review r15). Re-registered
    * per request because the scrub plan freezes the victim store's
    * snapshot at construction, and because the store's own
    * appends re-register the raw view. Tables OTHER than this store's
    * (attached catalogs) are not ours to scrub — results still pass
    * through the name-based [[scrubbed]] net in [[rowsJson]]. */
  private def sqlView(query: String): DataFrame = {
    val df = if (takedown.isEmpty) store.sql(query)
    else store.synchronized {
      // The swap window is serialized ON THE STORE'S OWN MONITOR
      // (review r15 #2): both store deployments guard every mutator —
      // including the registerView a concurrent append runs — with
      // this.synchronized, and the server's 4-thread pool runs SQL
      // routes concurrently; without the lock, request A's
      // finally-restore could re-expose the raw view to request B
      // between B's registration and its analysis, reopening the alias
      // leak. spark.sql analyzes EAGERLY, so the plan is bound to the
      // scrubbed relation before the lock releases; only execution
      // (the collect) runs outside it.
      scrubbed(store.selectAll).createOrReplaceTempView(store.tableName)
      try store.sql(query)
      finally {
        // Restore the raw view: the server must not change what
        // non-HTTP readers of the session see.
        store.selectAll.createOrReplaceTempView(store.tableName)
      }
    }
    // spark.sql ran a command eagerly: it may have changed what any
    // kept answer read, so it moves the store state.
    if (isCommand(df)) commands.incrementAndGet()
    df
  }

  private def isCommand(df: DataFrame): Boolean =
    df.queryExecution.commandExecuted.find(_.isInstanceOf[CommandResult]).isDefined

  private val server = StoreHttpServer.newServer()
  server.createContext("/", handle _)
  // Small fixed pool: Spark actions are thread-safe, and the dispatcher
  // thread alone would serialize every request behind the slowest query.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  def start(): this.type = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def port: Int = server.getAddress.getPort

  /** A JSON route's body and, for a route that serializes rows, the
    * frame it serialized: what decides whether the body may be kept. */
  private final class Answer(val body: String, val frame: Option[DataFrame] = None)

  /** Rows as the reference's list-of-dicts JSON (`models.py:176-187`).
    * Nulls are KEPT (`ignoreNullFields=false`) — a dict row always carries
    * every described column, unlike Spark's default to_json. */
  private def rowsJson(df0: DataFrame): Answer = {
    val df = scrubbed(df0) // every JSON row route gates here (class doc)
    new Answer(df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*),
        Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0)).mkString("[", ",", "]"), Some(df))
  }

  /** Q3's avro flavor: one base64 string per encoded row datum. */
  private def avroJson(df: DataFrame): Answer =
    new Answer(df.collect().map(r => "\"" + java.util.Base64.getEncoder
      .encodeToString(r.getAs[Array[Byte]](0)) + "\"").mkString("[", ",", "]"), Some(df))

  /** Per-request time budget for the `/cdx` continue-scan loop AND the
    * client-regex filter matching inside it (both can otherwise run
    * unbounded on caller-shaped input: a filter matching nothing over
    * a huge range, or a catastrophically-backtracking pattern). On
    * exhaustion the request fails LOUDLY (400) — a handler thread
    * holds the read lock while it serves, so bounding it protects
    * every other request behind the lock. */
  private val CdxRequestBudgetNanos = 2_000_000_000L

  /** Reads share; the one MUTATING route (`/r` reset) takes the write lock —
    * a reset racing an in-flight scan would otherwise delete partition
    * directories (durable store) or swap `data` (in-memory) mid-collect. */
  private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  private def handle(ex: HttpExchange): Unit = {
    val rawPath = ex.getRequestURI.getRawPath
    val isWrite = rawPath.stripPrefix("/") == "r"
    val l = if (isWrite) lock.writeLock() else lock.readLock()
    l.lock()
    // status, content-type, body bytes, extra headers. Every JSON
    // route flows through the second branch unchanged; `/replay`
    // serves the archived body RAW with its recorded mime.
    val (status, ctype, bytes, extra) =
      try {
        if (rawPath.stripPrefix("/").startsWith("replay/"))
          replayRoute(rawPath)
        else
          (200, "application/json", answer(rawPath, ex.getRequestURI.getRawQuery),
            Seq.empty[(String, String)])
      } catch {
        case e: Exception =>
          (400, "application/json",
            s"""{"error": ${jsonStr(String.valueOf(e.getMessage))}}"""
              .getBytes(UTF_8),
            Seq.empty[(String, String)])
      } finally l.unlock()
    // Clients can disconnect mid-response: the write may throw, but the
    // exchange (and its socket fd) must close either way.
    try {
      ex.getResponseHeaders.set("Content-Type", ctype)
      extra.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch { case _: java.io.IOException => () }
    finally ex.close()
  }

  /** `/replay/<ts>/<urlkey…>` — wayback's `/web/<ts>/<url>`: the
    * closest capture's archived BODY, served raw with its recorded
    * mime; the archived HTTP status and exact capture timestamp ride
    * `X-Archive-Status`/`X-Archive-Timestamp` (the transport status
    * stays 200 — identity replay of a 404 capture is still a
    * successful replay). `ts = "*"` means latest. Takedown composes:
    * a victim URL — or a capture whose revisit refers to one — 404s
    * even while the cluster awaits its rebuild. */
  private def replayRoute(rawPath: String)
      : (Int, String, Array[Byte], Seq[(String, String)]) = {
    val segs = rawPath.stripPrefix("/").split("/", -1).toList
    segs match {
      case "replay" :: ts :: rest if rest.nonEmpty =>
        val cluster = cdxCluster.getOrElse(
          throw new IllegalArgumentException(
            "no zipnum cluster configured for /replay"))
        val archives = cdxArchives.getOrElse(
          throw new IllegalArgumentException(
            "no archive directory configured for /replay"))
        val key = dec(rest.mkString("/"))
        graft.sources.Warc.replayCapture(cluster, archives, key,
          ts = if (ts == "*") null else dec(ts),
          victims = victims()) match {
          case Some(c) =>
            (200, c.mime, c.body, Seq(
              "X-Archive-Status" -> c.status.toString,
              "X-Archive-Timestamp" -> c.timestamp))
          case None => (404, "application/json",
            "{\"error\": \"no capture\"}".getBytes(UTF_8), Seq.empty)
        }
      case other => throw new IllegalArgumentException(
        s"no route for /${other.mkString("/")}")
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** RFC-3986 percent-decoding for a PATH segment: a literal `+` is a legal
    * path character and must survive (URLDecoder alone is form-decoding and
    * would turn `SELECT a+b` into `SELECT a b` — werkzeug/Flask preserve
    * `+` in paths, so the reference contract does too). */
  private def dec(seg: String): String =
    URLDecoder.decode(seg.replace("+", "%2B"), UTF_8)

  /** Decoded query parameters (`?from=…&to=…`); empty for no query. */
  private def queryParams(rawQuery: String): Map[String, String] =
    if (rawQuery == null || rawQuery.isEmpty) Map.empty
    else rawQuery.split("&", -1).toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(dec(k) -> dec(v))
        case Array(k) if k.nonEmpty => Some(dec(k) -> "")
        case _ => None
      }
    }.toMap

  /** The banned-key set `/cdx` and `/replay` scrub lines against (empty
    * without a takedown pair), cached because [[graft.store.Takedown
    * .victimSet]] is a Spark job. Keyed on the victim store's snapshot
    * version, which every commit to its path moves, whichever handle
    * made it. */
  @volatile private var victimCache: (Long, Set[String]) = null
  /** Recompute count — observable cache behavior for the spec. */
  @volatile private[serve] var victimRecomputes: Long = 0L
  private def victims(): Set[String] = takedown match {
    case None => Set.empty
    case Some((td, _)) =>
      val key = td.snapshotVersion()
      val cached = victimCache
      if (cached != null && cached._1 == key) cached._2
      else {
        val v = graft.store.Takedown.victimSet(td)
        victimRecomputes += 1L
        victimCache = (key, v)
        v
      }
  }

  // ---- KEPT ANSWERS (class doc) -------------------------------------

  /** The store state every read route's answer depends on. The frames
    * compare by reference: each is one object per committed state. */
  private final class StoreState(val rst: Long, val frame: DataFrame,
                                 val victims: Option[DataFrame], val commands: Long) {
    def same(o: StoreState): Boolean = rst == o.rst && (frame eq o.frame) &&
      victims.zip(o.victims).forall(v => v._1 eq v._2) && commands == o.commands
  }

  /** Commands `/c` has run (see [[sqlView]]); part of the store state. */
  private val commands = new AtomicLong

  private def storeState(): StoreState = new StoreState(store.currentRstId,
    store.selectAll, takedown.map(_._1.selectAll), commands.get)

  /** The routes whose bodies may be kept (`/x` runs arbitrary closures). */
  private val Keepable = Set("a", "c", "cs", "rv", "dv", "sr")

  /** One path's body at the kept state. Its monitor lets one request
    * compute it while the others for the same path wait for it. */
  private final class Slot {
    @volatile var body: Array[Byte] = null
    var tried = false // guarded by the slot's monitor
  }

  /** The slots of ONE store state, the newest a lookup read; guarded by
    * `kept`'s monitor, like the state and the byte total. */
  private val kept = scala.collection.mutable.HashMap.empty[String, Slot]
  private var keptAt: StoreState = null
  private var keptBytes = 0L
  private val KeptCap = Runtime.getRuntime.maxMemory / 64

  /** Kept-answer counters, observable for the spec: lookups that hit,
    * lookups that missed, and misses whose body was not kept, by reason. */
  private[serve] val keptHits = new AtomicLong
  private[serve] val keptMisses = new AtomicLong
  private[serve] val notKept: Map[String, AtomicLong] =
    Seq("error", "command", "relation", "nondeterministic", "current_like",
      "moved", "cap").map(_ -> new AtomicLong).toMap

  /** A JSON route's body: kept, or computed and kept when the rules of
    * the class doc allow. The first request for a path at a state
    * computes it; the ones that arrive meanwhile wait and take its body,
    * or compute their own when it was not kept. */
  private def answer(rawPath: String, rawQuery: String): Array[Byte] =
    if (!Keepable(rawPath.stripPrefix("/").takeWhile(_ != '/')))
      route(rawPath, rawQuery, store.selectAll).body.getBytes(UTF_8)
    else {
      val (at, slot) = slotFor(if (rawQuery == null) rawPath else s"$rawPath?$rawQuery")
      def computed(): Array[Byte] = {
        keptMisses.incrementAndGet()
        val a = try route(rawPath, rawQuery, at.frame) catch {
          case e: Exception => notKept("error").incrementAndGet(); throw e
        }
        val bytes = a.body.getBytes(UTF_8)
        a.frame.flatMap(f => whyNotKept(f, at)).orElse(keep(at, slot, bytes))
          .foreach(notKept(_).incrementAndGet())
        bytes
      }
      slot.synchronized {
        if (slot.body == null && !slot.tried) { slot.tried = true; Some(computed()) }
        else None
      }.getOrElse(Option(slot.body) match {
        case Some(bytes) => keptHits.incrementAndGet(); bytes
        case None => computed()
      })
    }

  /** The store state, read now, and `key`'s slot at it; a new state
    * drops every slot. Reading the state under the monitor keeps the
    * table from moving back to a state a slower request read earlier. */
  private def slotFor(key: String): (StoreState, Slot) = kept.synchronized {
    val at = storeState()
    if (keptAt == null || !keptAt.same(at)) {
      kept.clear(); keptBytes = 0L; keptAt = at
    }
    (keptAt, kept.getOrElseUpdate(key, new Slot))
  }

  /** Keep `bytes` in `slot` unless the state moved on or the cap is
    * reached; the reason when not. */
  private def keep(at: StoreState, slot: Slot, bytes: Array[Byte]): Option[String] =
    kept.synchronized {
      if (keptAt ne at) Some("moved")
      else if (slot.body != null) None
      else if (keptBytes + bytes.length > KeptCap) Some("cap")
      else { slot.body = bytes; keptBytes += bytes.length; None }
    }

  /** Why the answer serialized from `frame` must not be kept for `at`,
    * or None: a command; a relation other than `at`'s frames (by
    * reference) or a literal; a nondeterministic or time-dependent
    * expression. Subqueries included. */
  private def whyNotKept(frame: DataFrame, at: StoreState): Option[String] = {
    if (isCommand(frame)) return Some("command")
    val ours = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
    (at.frame +: at.victims.toSeq).foreach(
      _.queryExecution.commandExecuted.collectLeaves().foreach(ours.add))
    var why: Option[String] = None
    frame.queryExecution.commandExecuted.foreachWithSubqueries { p =>
      if (why.isEmpty) why = p match {
        case _: LocalRelation | _: OneRowRelation => None
        case leaf if leaf.children.isEmpty && !ours.contains(leaf) => Some("relation")
        case _ if !p.expressions.forall(_.deterministic) => Some("nondeterministic")
        case _ if p.expressions.exists(_.containsPattern(CURRENT_LIKE)) => Some("current_like")
        case _ => None
      }
    }
    why
  }

  /** Flask's `<string:…>` converters never match `/`, so one decoded
    * segment per parameter is the reference contract too. `all` is the
    * store's select-all frame the answer is keyed on. */
  private def route(rawPath: String, rawQuery: String, all: => DataFrame): Answer = {
    val segs = rawPath.stripPrefix("/").split("/", -1).toList
    segs match {
      case "a" :: table :: Nil =>
        val t = dec(table)
        if (t == "*") rowsJson(all)
        else rowsJson(sqlView(s"SELECT * FROM `$t`"))
      case "c" :: json :: "EOE" :: Nil =>
        // The reference falls back to empty params (→ []) on unparsable
        // JSON (`http_endpoint.py:206-212`).
        val df = try Comparators.cGeneralSelectJson(all, dec(json))
          catch { case _: Exception => all.limit(0) }
        rowsJson(df)
      case "c" :: sql :: Nil  => rowsJson(sqlView(dec(sql)))
      case "cs" :: sql :: Nil =>
        avroSchema match {
          case Some(schema) =>
            // Scrub BEFORE the avro encode — the encoded binary rows
            // can't be anti-joined after.
            avroJson(graft.sources.AvroCodec.encodeRows(
              scrubbed(sqlView(dec(sql))), schema))
          case None => rowsJson(sqlView(dec(sql)))
        }
      case "r" :: Nil   => store.reset(); new Answer("null")
      case "rst" :: Nil => new Answer(store.currentRstId.toString)
      case "rv" :: n :: Nil => rowsJson(store.recent(dec(n).toLong))
      case "dv" :: i :: Nil => rowsJson(store.directFetch(dec(i).toLong))
      // Extension surface (no reference analog): named pre-registered
      // analytics — `/x` lists them, `/x/<name>` runs one. Same bounded-
      // result contract as every other route: register AGGREGATED views
      // (profiles, histograms, learned merge tables), not raw scans.
      case "x" :: Nil =>
        new Answer(analytics.keys.toSeq.sorted.map(jsonStr).mkString("[", ",", "]"))
      case "x" :: name :: Nil =>
        rowsJson(analytics.getOrElse(dec(name), throw new IllegalArgumentException(
          s"no analytic '${dec(name)}' (GET /x lists)")).apply())
      // Zipnum point lookup: `/cdx/<urlkey>` — the wayback-style
      // capture query over the collection index. SURT keys contain
      // slashes; segments re-join so both encoded and literal `/`
      // forms resolve. Lines are SCRUBBED against the victim store
      // before serving (class doc): a banned URL's captures — and any
      // revisit implicating one — return empty even while the cluster
      // awaits its post-erasure rebuild.
      // `?from=<ts>&to=<ts>` (r16 verdict #4): wayback CDX API
      // timestamp bounds, mapped to zipnumLookup's tsFrom/tsTo —
      // prefix semantics (`to=2024` admits all of 2024: the upper
      // bound right-pads with '9'); the scrub composes unchanged.
      // `?matchType=prefix` (r17): the CDX API's prefix scan —
      // zipnumPrefix, bounded by `?limit=` (default 1000, capped at
      // 10000 so one request can't inflate a whole collection's
      // blocks); results stay in cluster key order, and
      // `?resume=<url-encoded last line>` pages strictly after it
      // (the summary search restarts at the resume key, so page N+1
      // re-reads one or two blocks, not the whole range).
      case "cdx" :: rest if rest.nonEmpty =>
        val dir = cdxCluster.getOrElse(throw new IllegalArgumentException(
          "no zipnum cluster configured for /cdx"))
        val qp = queryParams(rawQuery)
        val tsF = qp.get("from").filter(_.nonEmpty).orNull
        val tsT = qp.get("to").filter(_.nonEmpty).orNull
        val boundedLimit = qp.get("limit").filter(_.matches("\\d{1,5}"))
          .map(_.toInt).filter(_ >= 1).getOrElse(1000).min(10000)
        val resume = qp.get("resume").filter(_.nonEmpty).orNull
        val matchType = qp.get("matchType")
        val pageable = matchType.contains("prefix") ||
          matchType.contains("domain")
        def scan(after: String): Seq[String] = matchType match {
          case Some("prefix") =>
            graft.sources.Warc.zipnumPrefix(dir, dec(rest.mkString("/")),
              tsFrom = tsF, tsTo = tsT, limit = boundedLimit,
              afterLine = after)
          // `matchType=domain`: host + all subdomains over a
          // SURT-keyed cluster — the segment is the bare comma-
          // reversed host (`org,example`).
          case Some("domain") =>
            graft.sources.Warc.zipnumDomain(dir, dec(rest.mkString("/")),
              tsFrom = tsF, tsTo = tsT, limit = boundedLimit,
              afterLine = after)
          case _ => graft.sources.Warc.zipnumLookup(dir,
            dec(rest.mkString("/")), tsFrom = tsF, tsTo = tsT)
        }
        // Line-level CDX API options (r17): `filter=[!]field:regex`
        // (repeatable — specs AND together; whole-field regex match,
        // wayback-cdx-server semantics) then `collapse=field[:N]`
        // (first line of each adjacent run; timestamp:8 = calendar
        // view, seeded with the resume line so runs straddling a page
        // boundary keep one representative across pages).
        val filterSpecs =
          if (rawQuery == null || rawQuery.isEmpty) Seq.empty[String]
          else rawQuery.split("&", -1).toSeq
            .filter(_.startsWith("filter="))
            .map(kv => dec(kv.substring("filter=".length)))
            .filter(_.nonEmpty)
        val collapseSpec = qp.get("collapse").filter(_.nonEmpty).orNull
        // The SCRUB runs FIRST (review r17 session pass): a victim
        // line heading an adjacent collapse run must not become the
        // run's representative and then vanish, suppressing the run's
        // surviving non-victim captures; scrub-then-collapse serves
        // the correct surviving representative instead.
        val banned = victims()
        // CONTINUE-SCAN loop (review r17 session pass): a page whose
        // raw scan filled its limit but whose shaped result is EMPTY
        // would strand the client — empty is its termination signal
        // and there is no served line to resume from — silently losing
        // every later match. Keep scanning from the raw page's last
        // line until something survives, the range is exhausted, or
        // the request budget runs out (then fail LOUDLY — a 400 beats
        // silent loss; deep filter sweeps belong on the Dataset API,
        // not the serving endpoint). The collapse seed stays the
        // client's resume line throughout: nothing is served from
        // dropped pages, so the fold state cannot have advanced.
        val budgetEnd = System.nanoTime() + CdxRequestBudgetNanos
        var after = resume
        var out: Seq[String] = null
        while (out == null) {
          val raw = scan(after)
          val shaped = graft.sources.Warc.cdxCollapseLines(
            graft.sources.Warc.cdxFilterLines(
              graft.sources.Warc.scrubVictims(raw, banned), filterSpecs,
              budgetNanos =
                math.max(1L, budgetEnd - System.nanoTime())),
            collapseSpec, seedLine = resume)
          if (shaped.nonEmpty || !pageable || raw.length < boundedLimit)
            out = shaped
          else if (System.nanoTime() > budgetEnd)
            throw new IllegalArgumentException(
              "cdx: filter/scrub matched nothing in this range within " +
                "the request budget — narrow the filter or the " +
                "from/to bounds (bulk sweeps belong on the Dataset " +
                "API, e.g. zipnumJoin)")
          else after = raw.last
        }
        new Answer(out.map(jsonStr).mkString("[", ",", "]"))
      case "sr" :: param :: range :: Nil =>
        val (lo, hi) = dec(range).split(":", 2) match {
          case Array(a, b) =>
            def bound(s: String): Option[Any] =
              if (s == "None") None else Some(s.toLong)
            (bound(a), bound(b))
          case other => throw new IllegalArgumentException(
            s"bad range '${other.mkString(":")}' (expected start:end)")
        }
        rowsJson(Comparators.selectRange(all, dec(param), lo, hi))
      case other => throw new IllegalArgumentException(
        s"no route for /${other.mkString("/")}")
    }
  }
}

object StoreHttpServer {
  private[serve] val NoDelay = "sun.net.httpserver.nodelay"

  /** Turns TCP_NODELAY on for every `com.sun.net.httpserver` server of
    * the JVM (class doc, TRANSPORT) unless the property is already set.
    * The JDK reads it once per JVM, when the first such server starts,
    * so it is JVM-wide, and an app that created one earlier keeps its
    * own setting. It runs as this object initializes, before the first
    * [[newServer]]; nothing else in `src/main` creates such a server
    * (`git grep HttpServer.create`). */
  private[serve] def defaultNoDelay(): Unit =
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  defaultNoDelay()

  private def newServer(): HttpServer = HttpServer.create(new InetSocketAddress(0), 0)
}
