package graft.server

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api._
import graft.config.EndpointConfig
import graft.serialize.{ArrowWire, CsvWire, JsonWire}
import graft.write.WriteExecutor

/** One servable endpoint: config + its SQL template (+ optional MCP
  * response shape). */
final case class ServedEndpoint(
    config: EndpointConfig,
    template: String,
    connProps: Map[String, String] = Map.empty,
    shape: ResponseShape = ResponseShape(),
    /** MCP RBAC allow-list; None = deny-by-default when auth is on. */
    allowedRoles: Option[Seq[String]] = None,
    rateLimit: Option[RateLimitConfig] = None,
    /** resolved cache template (cache.template-file wins over the read
      * template) — used by write-triggered refresh. */
    cacheTemplate: Option[String] = None)

object ServedEndpoint {
  /** Serve-time cache namespace (reference
    * addQueryCacheParamsIfNecessary): strip USER-supplied cache keys —
    * a caller must never redirect a template to a different table —
    * then inject the endpoint's own catalog/schema/table. Shared by
    * every execution surface (REST, MCP tools, resources, config
    * tools) so no path can be the unstripped one. */
  def withCacheNamespace(ep: ServedEndpoint,
                         params: Map[String, String]): Map[String, String] = {
    val cleaned = params -- graft.template.TemplateContext.reservedCacheKeys
    val c = ep.config.cache
    if (!c.enabled || c.table.isEmpty) cleaned
    else cleaned ++ Map(
      "cacheCatalog" -> "spark_catalog",
      "cacheSchema" -> c.schema,
      "cacheTable" -> c.table)
  }
}

/** Wire/serving bounds. `defaultRowCap` bounds NON-paginated JSON reads
  * (the reference defaults limit=100 on everything,
  * request_handler.cpp:19-20; we cap rather than silently paginate).
  * CSV/Arrow stream with bounded memory instead, so they carry full
  * results without a cap. */
final case class WireConfig(
    defaultRowCap: Int = 10000,
    arrowBatchRows: Int = graft.serialize.ArrowWire.DefaultBatchRows,
    arrowCodec: Option[String] = None)

/** Request audit log: one JSON line per request (ts, method, path,
  * status, principal, duration) appended to `path` — queryable back
  * through the engine as `spark.read.json(path)`. The reference logs
  * per-request through its middleware chain; a JSONL file keeps the
  * audit greppable AND analyzable without a side database. */
final case class RequestAuditConfig(path: String)

/** The serving shell (SURVEY §3, layer 3): REST request lifecycle and
  * MCP JSON-RPC over `com.sun.net.httpserver` (dependency-free, per
  * SURVEY §7.1-8). The data path is the engine's public pipeline:
  *
  *   route match → param assembly → validate/render/bind
  *   (TemplatePipeline) → execute → paginate+count → serialize
  *   (JSON/CSV/Arrow by content negotiation) → envelope
  *   {data,next,total_count} + X-headers
  *
  * Mirrors /root/reference/src/request_handler.cpp (GET lifecycle,
  * envelope :316-334, content negotiation :227-246, write path
  * :110-134) and mcp_route_handlers.cpp / mcp_tool_handler.cpp
  * (initialize, tools/list, tools/call, ping, `_dryRun` short-circuit,
  * response shaping).
  */
final class GraftServer(
    spark: SparkSession,
    endpoints: Seq[ServedEndpoint],
    port: Int = 0,
    mcpAuthEnabled: Boolean = false,
    basicAuth: Option[BasicAuthConfig] = None,
    cors: CorsConfig = CorsConfig(),
    wire: WireConfig = WireConfig(),
    jwtAuth: Option[JwtConfig] = None,
    /** OIDC bearer verification (RS256 against a JWKS source); tried
      * before HS256 JWT on Bearer headers (reference dispatch,
      * auth_middleware.cpp:171-173). */
    oidcAuth: Option[OidcConfig] = None,
    /** REST-path rate limit (reference middleware chain applies
      * CORS→RateLimit→Auth to every request, api_server.cpp:75-80);
      * keyed per (path, client) BEFORE auth/template work. */
    restRateLimit: Option[RateLimitConfig] = None,
    configService: Option[ConfigServiceConfig] = None,
    cacheManager: Option[graft.cache.CacheManager] = None,
    audit: Option[RequestAuditConfig] = None,
    /** opt-in app start/stop telemetry (reference flapi_telemetry.cpp);
      * None = off. */
    telemetry: Option[Telemetry] = None,
    /** drift-monitor registry (the `monitors:` project block) — when
      * set, standing verdicts serve on GET /mcp/monitors. */
    monitors: Option[MonitorManager] = None,
    /** bind address (`host:` config / GRAFT_HOST / --host). */
    host: String = "127.0.0.1",
    /** when set, the listener speaks TLS (`enforce-https:` — reference
      * test_tls_wireup.py: https succeeds, plain http on the same port
      * does not get a normal response). Built from the PEM cert/key by
      * [[TlsSupport.sslContext]]. */
    tls: Option[javax.net.ssl.SSLContext] = None,
    /** MCP initialize `instructions` field (reference
      * test_mcp_instructions.py) — inline or file-resolved by
      * bootstrap; absent config omits the key entirely. */
    mcpInstructions: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val rateLimiter = new RateLimiter()
  private val registry = new EndpointRegistry(endpoints)
  private def eps: Seq[ServedEndpoint] = registry.all
  private val server: HttpServer = GraftServer.listener(host, port, tls)

  def boundPort: Int = server.getAddress.getPort

  def start(): GraftServer = {
    server.createContext("/mcp/jsonrpc", (ex: HttpExchange) => safely(ex)(handleMcp))
    // health probe (reference mcp_route_handlers.cpp:215-241): liveness
    // + entity counts, no auth — safe because it exposes only counts
    server.createContext("/mcp/health", (ex: HttpExchange) => safely(ex) { e =>
      // counts MUST agree with what tools/list / resources/list actually
      // advertise (every endpoint is a tool; resource-backed ones are
      // ALSO resources), and the session gauge reaps expired entries
      // first so it never reports phantom load
      val tools = eps.size
      val resources = eps.count(_.config.mcpResource.isDefined)
      mcpSessions.cleanupExpired()
      respond(e, 200,
        s"""{"status":"healthy","server":"graft","version":"0.1",""" +
          s""""protocol_version":"2024-11-05","mcp_available":true,""" +
          s""""tools_available":${tools > 0},"resources_available":${resources > 0},""" +
          s""""tools_count":$tools,"resources_count":$resources,""" +
          s""""sessions_active":${mcpSessions.size}}""",
        "application/json")
    })
    // serving metrics (reference arrow_metrics.hpp counters/gauges
    // surfaced per stream): read-only counts, no auth — same policy as
    // the health probe above. scan_budget makes the warn-mode
    // observe-then-flip migration observable without log scraping
    // (r12 verdict #4): a violation counter plus the last violation's
    // relation/count/mode. plan_cache counts plan lookups and the
    // executable views served from the cache.
    server.createContext("/mcp/metrics", (ex: HttpExchange) => safely(ex) { e =>
      // monitor_drain_errors: per-monitor failure counters, so a
      // permanently-failing source is observable without log scraping
      val monitorErrs = monitors.map(m =>
        s""","monitor_drain_errors":${m.drainErrorsJson}""").getOrElse("")
      respond(e, 200,
        s"""{"arrow":${graft.serialize.ArrowMetrics.snapshot.toJson},""" +
          s""""scan_budget":${graft.plans.ScanBudgetRule.Metrics.toJson},""" +
          s""""plan_cache":${PlanCache.stats.toJson}""" +
          monitorErrs + "}",
        "application/json")
    })
    // drift-monitor standing verdicts (PSI mix / CUSUM rate / SRM
    // assignment): read-only statistics, the same no-auth policy —
    // exposes aggregate drift scores and distinct-count estimates only
    monitors.foreach { mm =>
      server.createContext("/mcp/monitors", (ex: HttpExchange) => safely(ex) { e =>
        respond(e, 200, mm.toJson, "application/json")
      })
    }
    server.createContext("/openapi.json", (ex: HttpExchange) => safely(ex) { e =>
      respond(e, 200, OpenApi.generate(spark, eps), "application/json")
    })
    configService.foreach { cs =>
      val api = new ConfigApi(spark, registry, cs, cacheManager, respond)
      server.createContext("/api/v1/_config", (ex: HttpExchange) => safely(ex)(api.handle))
      // the same capabilities as MCP tools for AI operators
      // (reference config_tool_adapter.cpp)
      configTools = Some(new ConfigToolAdapter(spark, registry, cs, api,
        cacheManager, monitors))
    }
    server.createContext("/", (ex: HttpExchange) => safely(ex)(handleRest))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    telemetry.foreach(_.notifyStart("0.1"))
    this
  }

  def stop(): Unit = {
    server.stop(0)
    monitors.foreach(_.stop()) // halt the scheduled drain loop, if any
    telemetry.foreach(_.notifyStop("0.1"))
  }

  private def safely(ex: HttpExchange)(f: HttpExchange => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", cors.allowOrigin)
      h.set("Access-Control-Allow-Methods", cors.allowMethods)
      h.set("Access-Control-Allow-Headers", cors.allowHeaders)
      if (ex.getRequestMethod.equalsIgnoreCase("OPTIONS")) {
        ex.sendResponseHeaders(204, -1) // CORS preflight
      } else f(ex)
    }
    catch {
      case e: TemplatePipeline.BadRequest =>
        val errs = e.errors.map(er =>
          s"""{"field":${quote(er.field)},"message":${quote(er.message)}}""")
        respond(ex, 400, s"""{"errors":[${errs.mkString(",")}]}""", "application/json")
      case e: Exception =>
        // the scan-budget guard fires during lazy optimization inside
        // the handler (possibly wrapped) — surface it as a DIRECTED
        // endpoint-config error rather than an anonymous 500: the SQL
        // is user-authored, the message names the re-scanned relation,
        // the count, and the sanctioned fixes (422: the request was
        // well-formed; the endpoint's query exceeds the engine budget)
        scanBudgetCause(e) match {
          case Some(msg) =>
            respond(ex, 422,
              s"""{"error":"scan_budget_exceeded",""" +
                s""""message":${quote(msg)}}""",
              "application/json")
          case None =>
            respond(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""",
              "application/json")
        }
    }
    finally {
      audit.foreach(a => writeAudit(a, ex, (System.nanoTime() - t0) / 1e6))
      ex.close()
    }
  }

  /** Unwrap to the scan-budget guard's message if it is anywhere on
    * the cause chain (Spark may wrap optimizer-rule exceptions — or
    * re-wrap keeping only the message text — before they reach the
    * handler). Bounded walk — cause chains can be cyclic. The message
    * fallback (for re-wraps that drop the exception TYPE) is anchored
    * to the guard's full directed prefix INCLUDING its conf key — a
    * generic substring would remap any 500 whose user SQL or data
    * merely echoes the phrase into a misleading 422 (r12 ADVICE). */
  private def scanBudgetCause(e: Throwable): Option[String] = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 16) {
      val isGuard = cur.isInstanceOf[graft.plans.ScanBudgetRule.ScanBudgetExceeded] ||
        Option(cur.getMessage).exists(m =>
          m.contains("scan budget exceeded: relation [") &&
            m.contains(s"(budget ${graft.plans.ScanBudgetRule.ConfKey}="))
      if (isGuard) return Some(String.valueOf(cur.getMessage))
      cur = cur.getCause; depth += 1
    }
    None
  }

  private val auditLock = new Object
  private def writeAudit(a: RequestAuditConfig, ex: HttpExchange, ms: Double): Unit =
    try {
      val principal = Option(ex.getAttribute("graft.principal"))
        .map(String.valueOf).getOrElse("anonymous")
      val line =
        s"""{"ts":${quote(java.time.Instant.now().toString)},""" +
          s""""method":${quote(ex.getRequestMethod)},""" +
          s""""path":${quote(ex.getRequestURI.getPath)},""" +
          s""""status":${ex.getResponseCode},""" +
          s""""principal":${quote(principal)},""" +
          s""""duration_ms":${math.round(ms)}}""" + "\n"
      auditLock.synchronized {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(a.path), line,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    } catch { case _: Exception => () } // auditing must never fail a request

  // ---- REST -------------------------------------------------------------

  /** Auth middleware: Bearer (JWT) or Basic by header scheme, whichever
    * is configured. Enforcement is per endpoint like the reference's
    * middleware: providers configured ⇒ required, unless the endpoint
    * explicitly declares `auth: enabled: false`. An endpoint that
    * DECLARES auth enabled is fail-closed even when no provider
    * survived bootstrap (e.g. all credentials were unresolved env
    * placeholders): it 401s rather than serving anonymously. */
  private val jwksManager = new JwksManager()

  private def authRequired(ep: ServedEndpoint): Boolean =
    ep.config.auth.exists(_.enabled) ||
      ((basicAuth.isDefined || jwtAuth.isDefined || oidcAuth.isDefined) &&
        ep.config.auth.forall(_.enabled))

  /** Provider dispatch. An endpoint that DECLARES an auth type accepts
    * only that scheme (reference auth_middleware.cpp:165-174 branches
    * on endpoint.auth.type — a valid bearer token must not satisfy a
    * basic-only endpoint); without a declared type, every configured
    * provider is tried (MCP paths, type-less auth blocks). */
  private def authenticate(ex: HttpExchange,
                           ep: Option[ServedEndpoint] = None): Option[Map[String, String]] = {
    val header = Option(ex.getRequestHeaders.getFirst("Authorization"))
    // remote address scopes the basic-auth failure throttle per client
    val client = Option(ex.getRemoteAddress)
      .flatMap(a => Option(a.getAddress)).map(_.getHostAddress).getOrElse("")
    ep.flatMap(_.config.auth).filter(_.enabled).map(_.tpe) match {
      case Some("basic") => basicAuth.flatMap(BasicAuth.authenticate(_, header, client))
      case Some("jwt") | Some("bearer") =>
        jwtAuth.flatMap(JwtAuth.authenticate(_, header))
      case Some("oidc") =>
        oidcAuth.flatMap(OidcAuth.authenticate(_, jwksManager, header))
      case _ =>
        oidcAuth.flatMap(OidcAuth.authenticate(_, jwksManager, header))
          .orElse(jwtAuth.flatMap(JwtAuth.authenticate(_, header)))
          .orElse(basicAuth.flatMap(BasicAuth.authenticate(_, header, client)))
    }
  }

  private def handleRest(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod.toUpperCase
    val matched = eps.iterator.flatMap { ep =>
      // MCP-only endpoints never match REST: their synthetic path is an
      // identity, and a REST alias would bypass MCP RBAC
      if (ep.config.mcpOnly || !ep.config.method.equalsIgnoreCase(method)) None
      else RouteTranslator.matchAndExtract(ep.config.urlPath, path).map(ep -> _)
    }.toSeq.headOption

    matched match {
      case None => respond(ex, 404, """{"error":"no such endpoint"}""", "application/json")
      case Some((ep, pathParams)) =>
        // rate limit BEFORE auth/template work (the reference's
        // middleware order: CORS→RateLimit→Auth), principal by the
        // configured key strategy: ip | user | user-or-ip — `user`
        // keys on a hash of the Authorization header so two users
        // behind one NAT address get separate buckets
        restRateLimit.orElse(matched.flatMap(_._1.rateLimit)).foreach { rl =>
          val client = Option(ex.getRemoteAddress)
            .map(_.getAddress.getHostAddress).getOrElse("unknown")
          val principal = RateLimitKey.principal(rl.keyStrategy, client,
            Option(ex.getRequestHeaders.getFirst("Authorization")))
          // bucket key = the endpoint's ROUTE PATTERN, not the concrete
          // URI: /customers/:id must share one bucket across ids (a
          // per-URI key is bypassable and grows without bound)
          val d = rateLimiter.tryAcquire(s"rest:${ep.config.urlPath}", principal, rl)
          if (!d.allowed) {
            ex.getResponseHeaders.set("Retry-After", d.retryAfterSeconds.toString)
            respond(ex, 429, """{"error":"rate limit exceeded"}""", "application/json")
            return
          }
        }
        // auth middleware: reserved __auth_* params injected on success
        val authParams =
          if (!authRequired(ep)) authenticate(ex, Some(ep)).getOrElse(Map.empty)
          else authenticate(ex, Some(ep)) match {
            case Some(p) => p
            case None =>
              ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
              respond(ex, 401, """{"error":"authentication required"}""", "application/json")
              return
          }
        authParams.get("__auth_username").foreach(ex.setAttribute("graft.principal", _))
        val query = parseQuery(ex.getRequestURI.getRawQuery)
        val fieldDefaults = ep.config.requestFields
          .flatMap(f => f.defaultValue.map(f.fieldName -> _)).toMap
        val params = withCacheParams(ep,
          (if (ep.config.isWrite) {
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            ParamAssembly.combineWrite(Map.empty, pathParams,
              Some(body).filter(_.nonEmpty), fieldDefaults, query)
          } else
            ParamAssembly.combineRead(Map.empty, pathParams, fieldDefaults, query)
          ) ++ authParams)

        if (ep.config.isWrite) handleWrite(ex, ep, params)
        else handleRead(ex, ep, params, query)
    }
  }

  private def withCacheParams(ep: ServedEndpoint,
                              params: Map[String, String]): Map[String, String] =
    ServedEndpoint.withCacheNamespace(ep, params)

  private def handleRead(ex: HttpExchange, ep: ServedEndpoint,
                         params: Map[String, String], query: Map[String, String]): Unit = {
    val df = TemplatePipeline.run(spark, ep.config, ep.template, params, ep.connProps)
    val fmt = negotiate(ex, query)
    if (ep.config.withPagination && ep.config.paginationKeyset.isDefined) {
      // keyset pagination (`pagination: keyset: <col>`): page N's plan
      // is page 1's plan — a pushed `key > cursor` range filter plus
      // LIMIT, never a growing OFFSET scan. `next` is a cursor link.
      val keyCol = ep.config.paginationKeyset.get
      val (_, lim) = Paginator.params(params)
      val after = params.get("after").filter(_.nonEmpty)
      val page = Paginator.keysetPaginate(df, keyCol, after, lim,
        basePath = ep.config.urlPath)
      val h = ex.getResponseHeaders
      h.set("X-Total-Count", page.totalCount.toString)
      h.set("X-Limit", page.limit.toString)
      page.next.foreach(h.set("X-Next", _))
      fmt match {
        case "json" =>
          val rows = JsonWire.rows(page.schema, page.rows.iterator)
            .mkString("[", ",", "]")
          val next = page.next.fold("null")(quote)
          respond(ex, 200,
            s"""{"data":$rows,"next":$next,"total_count":${page.totalCount}}""",
            "application/json")
        case other =>
          respondRaw(ex, Paginator.keysetPage(df, keyCol, after, lim), other)
      }
    } else if (ep.config.withPagination) {
      val (off, lim) = Paginator.params(params)
      val page = Paginator.paginate(df, off, lim, basePath = ep.config.urlPath)
      val h = ex.getResponseHeaders
      h.set("X-Total-Count", page.totalCount.toString)
      h.set("X-Offset", page.offset.toString)
      h.set("X-Limit", page.limit.toString)
      page.next.foreach(h.set("X-Next", _))
      fmt match {
        case "json" =>
          val rows = collectJson(page.data)
          val next = page.next.fold("null")(quote)
          respond(ex, 200,
            s"""{"data":$rows,"next":$next,"total_count":${page.totalCount}}""",
            "application/json")
        case other => respondRaw(ex, page.data, other)
      }
    } else fmt match {
      // non-paginated JSON is DRIVER-memory-bound (one response string):
      // cap it — an endpoint over a big table must not OOM the driver.
      // The cap is a plan-level GlobalLimit, so Spark also stops reading
      // past it. CSV/Arrow below stream with bounded memory instead.
      case "json" => respond(ex, 200,
        collectJson(PlanCache.rowCap(df, wire.defaultRowCap)), "application/json")
      case other => respondRaw(ex, df, other)
    }
  }

  /** Execute a write endpoint via the right engine (shared by REST and
    * MCP tools/call). JDBC-backed endpoints (type: jdbc + url in the
    * connection) take the point-to-point transactional path — the
    * reference's northwind CRUD shape: the database's own transactions
    * give atomicity and real concurrent-write throughput (Spark SQL
    * cannot UPDATE/DELETE a JDBC view, and concurrent appends to one
    * parquet table race on the commit protocol). Everything else
    * writes through Spark. RETURNING data is capped BEFORE
    * materialization on both paths (plan-level GlobalLimit for Spark,
    * setMaxRows + bounded fetch loop for JDBC). */
  private def executeWriteRouted(ep: ServedEndpoint,
                                 params: Map[String, String]): (Long, Option[String]) =
    if (ep.connProps.get("type").contains("jdbc") && ep.connProps.contains("url")) {
      val r = graft.write.JdbcWriteExecutor.executeWrite(
        ep.connProps("url"), ep.config, ep.template, params,
        returnsData = ep.config.returnsData, ep.connProps,
        maxReturnedRows = wire.defaultRowCap)
      // jackson serializes the JSON-safe JDBC values with native types
      (r.rowsAffected, r.returnedData.map(rows =>
        mapper.writeValueAsString(rows
          .map(m => scala.jdk.CollectionConverters.MapHasAsJava(
            m.asInstanceOf[Map[String, AnyRef]]).asJava).toArray)))
    } else {
      val r = WriteExecutor.executeWrite(
        spark, ep.config, ep.template, params,
        returnsData = ep.config.returnsData, ep.connProps)
      (r.rowsAffected, r.returnedData.map(df => collectJson(df.limit(wire.defaultRowCap))))
    }

  /** Write-triggered cache behavior (reference handleCacheAfterWrite,
    * request_handler.cpp:543-571 — where refresh_on_write is only a
    * logged stub; here both act): invalidate drops cached serving
    * plans; refresh re-materializes the snapshot table so the NEXT
    * read serves the post-write state. Failures are logged, never
    * surfaced — the write itself already committed. */
  private def handleCacheAfterWrite(ep: ServedEndpoint): Unit = {
    // read-your-writes: EVERY successful write bumps the plan-cache
    // generation (an O(1) counter increment) — a cached analyzed plan
    // pins the pre-write file index for catalog/parquet tables, so a
    // GET right after a POST must never serve up to TTL-stale data.
    // invalidateOnWrite/refreshOnWrite below govern only snapshot-table
    // refresh semantics, not plan staleness.
    graft.api.PlanCache.invalidateAll()
    val c = ep.config.cache
    if (!c.enabled || c.table.isEmpty) return
    // invalidate-on-write drops the SNAPSHOT view's cached file-index
    // metadata so the next cached read re-lists the table (plan
    // staleness is already handled unconditionally above)
    if (c.invalidateOnWrite)
      try spark.catalog.refreshTable(s"`${c.schema}`.`${c.table}`")
      catch { case _: Exception => () } // view may not exist yet
    if (c.refreshOnWrite) cacheManager.foreach { cm =>
      // a WRITE endpoint's own template is multi-statement DML — it can
      // never be the cache's materialization query; without a declared
      // cache template-file the refresh would fail on every POST, so
      // flag the config once instead of silently looping failures
      if (ep.cacheTemplate.isEmpty && ep.config.isWrite)
        System.err.println(s"[cache] ${ep.config.urlPath}: refresh-on-write " +
          "needs cache.template-file on a write endpoint — refresh skipped")
      else try cm.refresh(ep.config, ep.cacheTemplate.getOrElse(ep.template),
        connProps = ep.connProps)
      catch { case e: Exception =>
        System.err.println(s"[cache] refresh-on-write ${ep.config.urlPath} failed: ${e.getMessage}")
      }
    }
  }

  private def handleWrite(ex: HttpExchange, ep: ServedEndpoint,
                          params: Map[String, String]): Unit = {
    val (rowsAffected, data) = executeWriteRouted(ep, params)
    handleCacheAfterWrite(ep)
    val status = if (rowsAffected > 0) 201 else 200
    val body = data match {
      case Some(d) => s"""{"rows_affected":$rowsAffected,"data":$d}"""
      case None => s"""{"rows_affected":$rowsAffected}"""
    }
    respond(ex, status, body, "application/json")
  }

  // ---- MCP JSON-RPC -----------------------------------------------------

  private val mcpSessions = new McpSessionManager()
  @volatile private var configTools: Option[ConfigToolAdapter] = None

  private def handleMcp(ex: HttpExchange): Unit = {
    // Session lifecycle (reference mcp_route_handlers.cpp:139-206 +
    // mcp_session_manager.cpp): Mcp-Session-Id from the request when
    // valid, a fresh session otherwise; the id is echoed on EVERY
    // response. DELETE closes the session (cleanup endpoint, :243-270).
    val requestSid = Option(ex.getRequestHeaders.getFirst("Mcp-Session-Id"))
      .filter(_.nonEmpty)
    if (ex.getRequestMethod.equalsIgnoreCase("DELETE")) {
      requestSid match {
        case None =>
          respond(ex, 400,
            """{"jsonrpc":"2.0","id":null,"error":{"code":-32000,"message":"Missing Mcp-Session-Id header for session cleanup"}}""",
            "application/json")
        case Some(sid) =>
          val removed = mcpSessions.removeSession(sid)
          respond(ex, 200,
            s"""{"jsonrpc":"2.0","id":null,"result":{"closed":$removed}}""",
            "application/json")
      }
      return
    }
    val sid = requestSid.filter(mcpSessions.getSession(_).isDefined) match {
      case Some(s) => mcpSessions.updateActivity(s); s
      case None => mcpSessions.createSession()
    }
    ex.getResponseHeaders.set("Mcp-Session-Id", sid)

    val req = mapper.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
    val id = req.path("id")
    val method = req.path("method").asText("")
    def reply(resultJson: String): Unit =
      respond(ex, 200,
        s"""{"jsonrpc":"2.0","id":${mapper.writeValueAsString(id)},"result":$resultJson}""",
        "application/json")

    def rpcError(code: Int, message: String): Unit =
      respond(ex, 200,
        s"""{"jsonrpc":"2.0","id":${mapper.writeValueAsString(id)},"error":{"code":$code,"message":${quote(message)}}}""",
        "application/json")

    method match {
      case "initialize" =>
        // capability negotiation: record what THIS client declared so
        // later methods can adapt (mcp_client_capabilities.cpp)
        val caps = McpClientCapabilities.detectFromInitialize(req.path("params"))
        val clientVersion = req.path("params").path("protocolVersion").asText("")
        mcpSessions.updateOnInitialize(sid, clientVersion, caps)
        // optional `instructions` (reference test_mcp_instructions.py):
        // present only when configured — clients treat the key's
        // PRESENCE as "the operator wrote guidance"
        val instructions = mcpInstructions
          .map(i => s""","instructions":${quote(i)}""").getOrElse("")
        reply("""{"protocolVersion":"2024-11-05","serverInfo":{"name":"graft","version":"0.1"},""" +
          """"capabilities":{"tools":{"listChanged":true},"resources":{"subscribe":false},""" +
          """"prompts":{},"logging":{},"completions":{}}""" + instructions + "}")
      case "ping" => reply("{}")

      // ---- resources (mcp_route_handlers.cpp:911-1046; graft:// scheme) --
      case "resources/list" =>
        val resources = eps.flatMap(ep => ep.config.mcpResource.map { r =>
          s"""{"name":${quote(r.name)},"description":${quote(r.description)},""" +
            s""""mimeType":${quote(r.mimeType)},"uri":${quote(s"graft://${r.name}")}}"""
        })
        reply(s"""{"resources":[${resources.mkString(",")}]}""")
      case "resources/read" =>
        val uri = req.path("params").path("uri").asText("")
        if (!uri.startsWith("graft://")) { rpcError(-32602, s"Resource not found: $uri"); return }
        val rname = uri.stripPrefix("graft://")
        eps.find(_.config.mcpResource.exists(_.name == rname)) match {
          case None => rpcError(-32602, s"Resource not found: $uri")
          case Some(ep) =>
            // RBAC applies to resources exactly as to tools
            val auth = authenticate(ex).getOrElse(Map.empty)
            val roles = auth.get("__auth_roles")
              .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
            val decision = AuthorizationPolicy.authorize(
              s"resource:$rname", ep.allowedRoles, roles, mcpAuthEnabled)
            if (!decision.allowed) { rpcError(-32602, s"Permission denied: ${decision.reason}"); return }
            // resources take no input parameters; same bounds as tools —
            // no configured maxRows still caps at the wire default (an
            // unbounded collect is never the default)
            // cache namespace injected here too — a resource backed by a
            // cache-serving endpoint renders the same view reference
            val df = TemplatePipeline.run(spark, ep.config, ep.template,
              withCacheParams(ep, Map.empty), ep.connProps)
            val text = collectJson(
              PlanCache.rowCap(df, ep.shape.maxRows.getOrElse(wire.defaultRowCap)))
            reply(s"""{"contents":[{"uri":${quote(uri)},"mimeType":${quote(ep.config.mcpResource.get.mimeType)},"text":${quote(text)}}]}""")
        }

      // ---- prompts (mcp_route_handlers.cpp:1050-1206) --------------------
      case "prompts/list" =>
        val prompts = eps.flatMap(ep => ep.config.mcpPrompt.map { p =>
          val args = p.arguments.map(a =>
            s"""{"name":${quote(a)},"type":"string","description":${quote(s"Parameter $a")}}""")
          s"""{"name":${quote(p.name)},"description":${quote(p.description)},"arguments":[${args.mkString(",")}]}"""
        })
        reply(s"""{"prompts":[${prompts.mkString(",")}]}""")
      case "prompts/get" =>
        val pname = req.path("params").path("name").asText("")
        eps.flatMap(_.config.mcpPrompt).find(_.name == pname) match {
          case None => rpcError(-32602, s"Prompt not found: $pname")
          case Some(p) =>
            val argsNode = req.path("params").path("arguments")
            val rendered = p.arguments.foldLeft(p.template) { (t, arg) =>
              val v = if (argsNode.isObject && argsNode.has(arg) && !argsNode.get(arg).isNull)
                ParamAssembly.jsonValueToString(argsNode.get(arg)) else ""
              t.replace(s"{{$arg}}", v)
            }
            reply(s"""{"description":${quote(p.description)},"messages":[{"role":"user","content":{"type":"text","text":${quote(rendered)}}}]}""")
        }

      // ---- completion (mcp_route_handlers.cpp:1275-1389): enum-validator
      // values filtered by prefix, capped at 50 ------------------------------
      case "completion/complete" =>
        val params = req.path("params")
        val ref = params.path("ref").asText("")
        val argName = params.path("argument").asText("")
        if (ref.isEmpty || argName.isEmpty) {
          rpcError(-32602, "Invalid params: missing 'ref' or 'argument' field"); return
        }
        val prefix = params.path("value").asText("")
        eps.find(ep => toolName(ep) == ref ||
          ep.config.mcpPrompt.exists(_.name == ref)) match {
          case None => rpcError(-32602, s"Reference not found: $ref")
          case Some(ep) =>
            ep.config.requestFields.find(_.fieldName == argName) match {
              case None => rpcError(-32602, s"Argument not found: $argName")
              case Some(field) =>
                val enumValues = field.validators.find(v =>
                  v.tpe == "enum" && v.allowedValues.nonEmpty)
                  .map(_.allowedValues).getOrElse(Nil)
                val matching = enumValues.filter(v => prefix.isEmpty || v.startsWith(prefix))
                val shown = matching.take(50)
                reply(s"""{"values":[${shown.map(quote).mkString(",")}],""" +
                  s""""total":${enumValues.size},"hasMore":${matching.size > shown.size}}""")
            }
        }

      // ---- logging (mcp_route_handlers.cpp:1217-1272): MCP levels map
      // onto the engine's log4j levels ---------------------------------------
      case "logging/setLevel" =>
        val level = req.path("params").path("level").asText("")
        val mapped = level match {
          case "debug" => Some("DEBUG")
          case "info" | "notice" => Some("INFO")
          case "warning" => Some("WARN")
          case "error" | "critical" | "alert" | "emergency" => Some("ERROR")
          case _ => None
        }
        mapped match {
          case None => rpcError(-32602, s"Invalid log level: $level")
          case Some(l) => spark.sparkContext.setLogLevel(l); reply("{}")
        }
      case "tools/list" =>
        val tools = eps.map { ep =>
          val props = ep.config.requestFields.map { f =>
            quote(f.fieldName) + ":" +
              s"""{"type":"string","description":${quote(f.description)}}"""
          }.mkString("{", ",", "}")
          s"""{"name":${quote(toolName(ep))},"description":${quote(ep.config.urlPath)},""" +
            s""""inputSchema":{"type":"object","properties":$props}}"""
        }
        val cfgTools = configTools.toSeq.flatMap(_.tools.map { case (n, d) =>
          s"""{"name":${quote(n)},"description":${quote(d)},""" +
            s""""inputSchema":{"type":"object","properties":{}}}"""
        })
        reply(s"""{"tools":[${(tools ++ cfgTools).mkString(",")}]}""")
      case "tools/call" =>
        val name = req.path("params").path("name").asText("")
        // config-management tools first (reference dispatch order:
        // config_tool_adapter intercepts its names before endpoint
        // tools); mutations gate on the config-service bearer token
        configTools.filter(_.handles(name)) match {
          case Some(ct) =>
            val authHeader = Option(ex.getRequestHeaders.getFirst("Authorization"))
            // per-tool rate limit applies to config tools too — they
            // execute SQL (test_template) and mutate the registry, so
            // they must not be the one unmetered surface
            val cfgAuth = authenticate(ex)
            // a valid config-service token earns its own principal —
            // the admin must not share the anonymous bucket with an
            // unauthenticated flood that is charged before its 401
            val cfgPrincipal = cfgAuth.flatMap(_.get("__auth_username"))
              .orElse(if (ct.tokenValid(authHeader)) Some("__config_token") else None)
              .getOrElse("anonymous")
            val rlDecision = rateLimiter.tryAcquire(
              "config-tools", cfgPrincipal, GraftServer.ConfigToolRateLimit)
            if (!rlDecision.allowed) {
              reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(s"Rate limit exceeded for config tools. Retry after ${rlDecision.retryAfterSeconds} seconds.")}}],"_meta":{"rate_limited":true,"retry_after_seconds":${rlDecision.retryAfterSeconds}}}""")
            } else if (!ct.authorized(name, authHeader, cfgAuth.isDefined, mcpAuthEnabled)) {
              reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(s"Unauthorized: '$name' requires the config-service token")}}]}""")
            } else ct.call(name, req.path("params").path("arguments")) match {
              case Left(errMsg) =>
                reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(errMsg)}}]}""")
              case Right(jsonOut) =>
                reply(s"""{"content":[{"type":"text","text":${quote(jsonOut)}}]}""")
            }
            return
          case None => ()
        }
        eps.find(toolName(_) == name) match {
          case None =>
            respond(ex, 200,
              s"""{"jsonrpc":"2.0","id":${mapper.writeValueAsString(id)},"error":{"code":-32602,"message":"unknown tool"}}""",
              "application/json")
          case Some(ep) =>
            // RBAC before argument handling: a denied caller never
            // learns the tool's parameter shape (mcp_tool_handler.cpp:69-78)
            val auth = authenticate(ex).getOrElse(Map.empty)
            val roles = auth.get("__auth_roles")
              .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
            val decision = AuthorizationPolicy.authorize(
              toolName(ep), ep.allowedRoles, roles, mcpAuthEnabled)
            if (!decision.allowed) {
              reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(s"Permission denied: ${decision.reason}")}}]}""")
              return
            }
            // per-tool rate limit before template/DB work (W2.5);
            // anonymous callers bucket per PRESENTED session — a fresh
            // server-minted id must NOT key the bucket, or omitting/
            // rotating the header re-fills the bucket every request
            // (rate-limit bypass); header-less floods share one pool.
            val principal = auth.get("__auth_username")
              .orElse(requestSid.filter(_ == sid).map(s => s"session:$s"))
              .getOrElse("anonymous")
            ep.rateLimit.foreach { rl =>
              val d = rateLimiter.tryAcquire(toolName(ep), principal, rl)
              if (!d.allowed) {
                reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(s"Rate limit exceeded for tool '${toolName(ep)}'. Retry after ${d.retryAfterSeconds} seconds.")}}],"_meta":{"rate_limited":true,"retry_after_seconds":${d.retryAfterSeconds}}}""")
                return
              }
            }
            val argsNode = req.path("params").path("arguments")
            var dryRun = false
            val args = withCacheParams(ep, if (argsNode.isObject) {
              argsNode.asInstanceOf[ObjectNode].fields().asScala.flatMap { e =>
                if (e.getKey == "_dryRun") { dryRun = e.getValue.asBoolean(false); None }
                else Some(e.getKey -> ParamAssembly.jsonValueToString(e.getValue))
              }.toMap
            } else Map.empty[String, String])
            if (dryRun) {
              // render without executing (mcp_dry_run.cpp:5-47)
              TemplatePipeline.prepare(ep.config, ep.template, args, ep.connProps) match {
                case Left(errs) =>
                  reply(s"""{"isError":true,"content":[{"type":"text","text":${quote(errs.mkString("; "))}}]}""")
                case Right((sql, bind)) =>
                  reply(s"""{"content":[{"type":"text","text":${quote(sql)}}],"_meta":{"dryRun":true,"bindCount":${bind.length}}}""")
              }
            } else if (ep.config.isWrite) {
              // write tools execute through the SAME routed path as
              // REST (multi-statement split + JDBC transactional
              // passthrough) — TemplatePipeline.run would hand the
              // multi-statement template to spark.sql and parse-fail
              val (rowsAffected, data) = executeWriteRouted(ep, args)
              handleCacheAfterWrite(ep)
              val payload = data match {
                case Some(d) => s"""{"rows_affected":$rowsAffected,"data":$d}"""
                case None => s"""{"rows_affected":$rowsAffected}"""
              }
              reply(s"""{"content":[{"type":"text","text":${quote(payload)}}]}""")
            } else {
              val df = TemplatePipeline.run(spark, ep.config, ep.template, args, ep.connProps)
              // shape bounds BEFORE collect: sample mode never collects
              // rows at all (count + schema only), and maxRows becomes a
              // plan-level LIMIT — r2 collected everything and capped the
              // serialized JSON afterwards, which OOMs on a big table.
              val mime = ep.config.mcpTool.map(_.resultMimeType)
                .getOrElse("application/json")
              if (!ep.shape.sample && McpContent.isBinaryMime(mime) &&
                  df.schema.fields.exists(_.dataType ==
                    org.apache.spark.sql.types.BinaryType)) {
                // binary result mime + binary column → typed MCP content
                // (mcp_content_types.cpp); same plan-level row cap
                val limited = PlanCache.rowCap(df, ep.shape.maxRows.getOrElse(wire.defaultRowCap))
                val rows = PlanCache.dropOnFailure(limited)(limited.collect())
                reply(s"""{"content":${McpContent.render(
                  rows.toSeq, limited.schema, mime, toolName(ep))}}""")
              } else {
                val shaped =
                  if (ep.shape.sample)
                    ResponseShaper.sampleJson(PlanCache.count(df), df.schema.fieldNames.toSeq)
                  else {
                    // no configured maxRows still caps at the wire default —
                    // an unbounded collect is never the default
                    val limited = PlanCache.rowCap(df, ep.shape.maxRows.getOrElse(wire.defaultRowCap))
                    ResponseShaper.shape(collectJson(limited), ep.shape)
                  }
                reply(s"""{"content":[{"type":"text","text":${quote(shaped)}}]}""")
              }
            }
        }
      case other =>
        respond(ex, 200,
          s"""{"jsonrpc":"2.0","id":${mapper.writeValueAsString(id)},"error":{"code":-32601,"message":${quote(s"unknown method $other")}}}""",
          "application/json")
    }
  }

  private def toolName(ep: ServedEndpoint): String = registry.slug(ep)

  // ---- serialization helpers -------------------------------------------

  private def collectJson(df: DataFrame): String = {
    val rows = PlanCache.dropOnFailure(df)(df.collect())
    JsonWire.rows(df.schema, rows.iterator).mkString("[", ",", "]")
  }

  private def negotiate(ex: HttpExchange, query: Map[String, String]): String = {
    query.get("format").map(_.toLowerCase) match {
      case Some(f@("json" | "csv" | "arrow")) => f
      case _ =>
        val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        if (accept.contains("text/csv")) "csv"
        else if (accept.contains("application/vnd.apache.arrow.stream")) "arrow"
        else "json"
    }
  }

  /** CSV/Arrow stream CHUNKED off `toLocalIterator()`: driver memory is
    * bounded by one partition (plus one Arrow batch), never the result —
    * r2 collected the whole result per request. */
  private def respondRaw(ex: HttpExchange, df: DataFrame, fmt: String): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      if (fmt == "csv") "text/csv" else "application/vnd.apache.arrow.stream")
    ex.sendResponseHeaders(200, 0) // chunked
    val os: OutputStream = ex.getResponseBody
    PlanCache.dropOnFailure(df) {
      val rows = df.toLocalIterator().asScala
      if (fmt == "csv") CsvWire.stream(df.schema, rows, os)
      else ArrowWire.stream(df.schema, rows, os,
        wire.arrowBatchRows, wire.arrowCodec.map(ArrowWire.codecOf))
    }
    os.flush()
  }

  private def respond(ex: HttpExchange, status: Int, body: String, ctype: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.flush()
  }

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).map(_.split("&").toSeq
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
          case Array(k) if k.nonEmpty => Some(URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  private def quote(s: String): String = {
    val b = new StringBuilder
    JsonWire.appendString(b, s)
    b.toString
  }
}

object GraftServer {
  /** `com.sun.net.httpserver` writes a response's headers and its body
    * as two segments. With Nagle's algorithm on, the body waits for the
    * client's delayed ACK of the headers, ~40 ms on every keep-alive
    * response. The JDK reads this property once per JVM, when the first
    * listener of the process is created, so it is set here, before
    * [[listener]] creates one; a value given on the command line wins. */
  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  private def listener(host: String, port: Int,
                       tls: Option[javax.net.ssl.SSLContext]): HttpServer = tls match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer
        .create(new InetSocketAddress(host, port), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(host, port), 0)
  }

  /** Per-principal budget for `graft_*` config tools: they execute
    * SQL and mutate the registry, so they share one metered bucket
    * rather than riding unmetered past the per-endpoint limits. */
  val ConfigToolRateLimit: RateLimitConfig = RateLimitConfig(120)
}
