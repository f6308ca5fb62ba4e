package graft.server

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.config._
import graft.template.TemplateSource

/** Project bootstrap: the flapi.yaml → running-server path
  * (reference: main.cpp loads flapi.yaml via ConfigManager, inits
  * connections, discovers endpoint configs under template.path, starts
  * APIServer). A reference user points this at their existing config
  * tree and serves it on Spark.
  */
object GraftBootstrap {

  /** Shared remote-template TTL cache (caching_file_provider.cpp
    * semantics): a bootstrap or reload that re-reads an s3://…
    * template within the TTL serves the cached bytes; past it, the
    * remote edit is picked up automatically. Local paths read through
    * uncached. */
  val templateCache = new graft.template.CachingTemplateSource()

  /** Parsed project file (reference flapi.yaml: project-name,
    * template.path + environment-whitelist, connections map; the
    * `monitors:` block is this engine's streaming extension — the
    * reference has no stream engine, SURVEY §2.12). */
  final case class ProjectConfig(
      projectName: String,
      templatePath: String,
      envWhitelist: Seq[String] = Nil,
      connections: Seq[ConnectionConfig] = Nil,
      monitors: Seq[MonitorConfig] = Nil,
      /** 0 = boot-drain only; > 0 re-drains monitors on this cadence. */
      monitorDrainIntervalSeconds: Int = 0,
      /** MCP initialize `instructions` (reference
        * test_mcp_instructions.py): inline text from `mcp:
        * instructions:`, or the file named by `mcp:
        * instructions-file:` (resolved against the project dir by
        * loadProject — parseProject keeps the raw path here). */
      mcpInstructions: Option[String] = None,
      mcpInstructionsFile: Option[String] = None,
      /** `http-port:` / `host:` (reference flapi.yaml) — the config
        * tier of the CLI > env > config > default boot precedence. */
      httpPort: Option[Int] = None,
      host: Option[String] = None,
      /** `enforce-https:` block (reference test_https_config.py). */
      https: Option[HttpsConfig] = None)

  def parseProject(yaml: String): ProjectConfig = {
    val root = new org.yaml.snakeyaml.Yaml().load[Any](yaml)
      .asInstanceOf[java.util.Map[String, Any]]
    def str(m: java.util.Map[String, Any], k: String): Option[String] =
      Option(m.get(k)).map(String.valueOf).filter(_ != "null")
    val template = Option(root.get("template"))
      .map(_.asInstanceOf[java.util.Map[String, Any]])
    val whitelist = template.flatMap(t => Option(t.get("environment-whitelist")))
      .map(_.asInstanceOf[java.util.List[Any]])
      .map { l => (0 until l.size()).map(i => String.valueOf(l.get(i))) }
      .getOrElse(Seq.empty)
    val conns = Option(root.get("connections"))
      .map(_.asInstanceOf[java.util.Map[String, Any]])
      .map { cm =>
        import scala.jdk.CollectionConverters._
        cm.asScala.toSeq.map { case (name, v) =>
          val m = v.asInstanceOf[java.util.Map[String, Any]]
          val props = Option(m.get("properties"))
            .map(_.asInstanceOf[java.util.Map[String, Any]])
            .map(_.asScala.map { case (k, pv) => k -> String.valueOf(pv) }.toMap)
            .getOrElse(Map.empty[String, String])
          ConnectionConfig(name, props, str(m, "init"))
        }
      }.getOrElse(Seq.empty)
    val monitors = Option(root.get("monitors"))
      .map(_.asInstanceOf[java.util.List[Any]])
      .map { l =>
        import scala.jdk.CollectionConverters._
        l.asScala.toSeq.map { v =>
          val m = v.asInstanceOf[java.util.Map[String, Any]]
          def intOr(k: String, d: Int) = str(m, k)
            .flatMap(x => scala.util.Try(x.toInt).toOption).getOrElse(d)
          // SnakeYAML parses an unquoted numeric key (`1:` in a
          // quantile monitor's decile baseline) as Integer; the erased
          // Map[String, Any] cast doesn't check, so the key must be
          // re-stringified or the first use throws ClassCastException
          // and aborts the whole boot (review catch)
          val baseline = Option(m.get("baseline"))
            .map(_.asInstanceOf[java.util.Map[Any, Any]])
            .map(_.asScala.map { case (k, bv) =>
              String.valueOf(k) -> String.valueOf(bv).toLong }.toMap)
            .getOrElse(Map.empty[String, Long])
          MonitorConfig(
            name = str(m, "name").getOrElse(
              throw new IllegalArgumentException("monitor missing name")),
            tpe = str(m, "type").getOrElse(
              throw new IllegalArgumentException("monitor missing type")),
            source = str(m, "source").getOrElse(
              throw new IllegalArgumentException("monitor missing source")),
            checkpoint = str(m, "checkpoint").getOrElse(
              throw new IllegalArgumentException("monitor missing checkpoint")),
            typeCol = str(m, "type-column").getOrElse("event_type"),
            tsCol = str(m, "ts-column").getOrElse("ts"),
            userCol = str(m, "user-column").getOrElse("user_id"),
            valueCol = str(m, "value-column").getOrElse("n_chars"),
            labelCol = str(m, "label-column").getOrElse("label"),
            vecCol = str(m, "vector-column").getOrElse("embedding"),
            baselineFrom = str(m, "baseline-from").getOrElse(""),
            baseline = baseline,
            trailingWindows = intOr("trailing-windows", 7),
            horizonHours = intOr("horizon-hours", 720),
            summaryStore = str(m, "summary-store").getOrElse(""))
        }
      }.getOrElse(Seq.empty)
    // `mcp:` block: instructions inline or from-file (mutually
    // resolved by loadProject; inline wins when both are set, matching
    // the reference's config precedence for inline values)
    val mcp = Option(root.get("mcp"))
      .map(_.asInstanceOf[java.util.Map[String, Any]])
    // `enforce-https:` must be a MAP — a bare scalar (`enforce-https:
    // true`) is a config error, not a silently-ignored flag (reference
    // test_https_config.py::test_https_as_scalar_fails)
    val https = Option(root.get("enforce-https")).map {
      case m: java.util.Map[_, _] =>
        val hm = m.asInstanceOf[java.util.Map[String, Any]]
        HttpsConfig(
          enabled = str(hm, "enabled").exists(_.toBoolean),
          certFile = str(hm, "ssl-cert-file").getOrElse(""),
          keyFile = str(hm, "ssl-key-file").getOrElse(""))
      case other => throw new IllegalArgumentException(
        s"enforce-https must be a map {enabled, ssl-cert-file, " +
          s"ssl-key-file}, got scalar '$other'")
    }
    https.filter(_.enabled).foreach { h =>
      if (h.certFile.isEmpty) throw new IllegalArgumentException(
        "enforce-https.enabled is true but ssl-cert-file is missing/empty")
      if (h.keyFile.isEmpty) throw new IllegalArgumentException(
        "enforce-https.enabled is true but ssl-key-file is missing/empty")
    }
    ProjectConfig(
      projectName = str(root, "project-name").getOrElse("graft"),
      templatePath = template.flatMap(t => str(t, "path")).getOrElse("."),
      envWhitelist = whitelist,
      connections = conns,
      monitors = monitors,
      monitorDrainIntervalSeconds = str(root, "monitor-drain-interval")
        .flatMap(x => scala.util.Try(x.toInt).toOption).getOrElse(0),
      mcpInstructions = mcp.flatMap(m => str(m, "instructions")),
      mcpInstructionsFile = mcp.flatMap(m => str(m, "instructions-file")),
      httpPort = str(root, "http-port").map(p =>
        parsePort(p, "http-port (config)")),
      host = str(root, "host"),
      https = https)
  }

  /** A port string must be an integer in [1, 65535] — rejected with a
    * DIRECTED single-line error naming the source tier, never silently
    * coerced (reference test_env_overrides.py). */
  private[graft] def parsePort(raw: String, source: String): Int = {
    val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"invalid $source: '$raw' is not a number (expected 1-65535)"))
    if (n < 1 || n > 65535) throw new IllegalArgumentException(
      s"invalid $source: $n out of range (expected 1-65535)")
    n
  }

  // ---- 12-factor boot options (reference test_env_overrides.py) -----------

  /** Resolved boot-time options after the full precedence walk. */
  final case class BootOptions(
      configPath: String,
      port: Int, // 0 = ephemeral (no tier supplied one)
      host: String,
      logLevel: Option[String])

  private val ValidLogLevels =
    Set("ALL", "TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL", "OFF")

  /** CLI flag > `GRAFT_*` env var > config file > built-in default —
    * the reference's 12-factor contract (FLAPI_CONFIG/PORT/HOST/
    * LOG_LEVEL, issues #47/#63): every tier's INVALID value is a
    * directed single-line error naming the variable and the offending
    * value, never a silent coercion. Pure (env injected) so the
    * precedence matrix is unit-testable. */
  def resolveBootOptions(
      cliConfig: Option[String] = None,
      cliPort: Option[Int] = None,
      cliHost: Option[String] = None,
      cliLogLevel: Option[String] = None,
      env: String => Option[String] = k => sys.env.get(k),
      project: Option[ProjectConfig] = None): BootOptions = {
    def envVal(k: String): Option[String] = env(k).map(_.trim).filter(_.nonEmpty)
    val port = cliPort
      .orElse(envVal("GRAFT_PORT").map(parsePort(_, "GRAFT_PORT")))
      .orElse(project.flatMap(_.httpPort))
      .getOrElse(0)
    val host = cliHost.filter(_.nonEmpty)
      .orElse(envVal("GRAFT_HOST"))
      .orElse(project.flatMap(_.host))
      .getOrElse("127.0.0.1")
    def checkLevel(raw: String, source: String): String = {
      val up = raw.toUpperCase
      if (!ValidLogLevels.contains(up)) throw new IllegalArgumentException(
        s"invalid $source: '$raw' (expected one of " +
          ValidLogLevels.toSeq.sorted.mkString(", ").toLowerCase + ")")
      up
    }
    val logLevel = cliLogLevel.map(checkLevel(_, "--log-level"))
      .orElse(envVal("GRAFT_LOG_LEVEL").map(checkLevel(_, "GRAFT_LOG_LEVEL")))
    val config = cliConfig
      .orElse(envVal("GRAFT_CONFIG"))
      .getOrElse("flapi.yaml")
    BootOptions(config, port, host, logLevel)
  }

  /** Load a project tree: project yaml → discovered endpoints with
    * their templates resolved through the VFS layer. Relative template
    * paths resolve against the project file's directory. Returns the
    * resolved template dir as well (cache templates resolve against it). */
  def loadProject(spark: SparkSession, projectYaml: Path):
      (ProjectConfig, Seq[ServedEndpoint], String) = {
    val parsed = parseProject(Files.readString(projectYaml))
    val base0 = Option(projectYaml.getParent).getOrElse(Paths.get("."))
    // resolve relative enforce-https paths against the project dir and
    // validate them NOW — a broken TLS config must fail the boot with a
    // directed error, not bind a listener that cannot handshake
    val https = parsed.https.map { h =>
      def res(p: String) =
        if (p.isEmpty) p else base0.resolve(p).normalize().toString
      h.copy(certFile = res(h.certFile), keyFile = res(h.keyFile))
    }
    TlsSupport.validate(https)
    // `mcp: instructions:` inline wins; otherwise `instructions-file:`
    // resolves against the project dir (reference
    // test_mcp_instructions.py covers both forms)
    val project = parsed.copy(
      https = https,
      mcpInstructions = parsed.mcpInstructions.orElse(
        parsed.mcpInstructionsFile.map { f =>
          val p = base0.resolve(f).normalize()
          if (!Files.isRegularFile(p)) throw new IllegalArgumentException(
            s"mcp.instructions-file not found: $p")
          Files.readString(p)
        }))
    val envAllow = TemplateEnvConfig(project.envWhitelist)
    val base = base0
    val templateDir =
      if (TemplateSource.isRemote(project.templatePath)) project.templatePath
      else base.resolve(project.templatePath).normalize().toString
    // connection init is engine config (fs.* conf, JDBC attach); init
    // SQL runs best-effort — reference init blocks carry DuckDB
    // INSTALL/LOAD statements that have no Spark analog
    project.connections.foreach { c =>
      try graft.sources.Connections.init(spark, c)
      catch { case e: Exception =>
        System.err.println(s"[bootstrap] connection '${c.name}' init skipped: ${e.getMessage}")
      }
    }
    val connByName = project.connections.map(c => c.name -> c.properties).toMap
    // fallback for endpoints that do not pick a connection: union of all
    // (collisions keep the last — declare `connection:` to disambiguate)
    val allConnProps = project.connections
      .flatMap(c => c.properties.map { case (k, v) => k -> v }).toMap
    val endpoints = YamlConfig.discoverEndpoints(templateDir, envAllow.isAllowed)
      .flatMap { ep =>
        try {
          val template = templateCache.load(spark, ep.templateSource, Some(templateDir))
          // an endpoint's `connection:` list selects WHICH connections
          // feed its {{conn.*}} namespace — a project with several
          // path-bearing connections must not cross-wire datasets
          val connProps =
            if (ep.connection.nonEmpty)
              ep.connection.flatMap(n => connByName.getOrElse(n, Map.empty)).toMap
            else allConnProps
          // resolved cache template rides on the endpoint so the
          // server can refresh-on-write without re-resolving the VFS
          val cacheTemplate =
            if (ep.cache.enabled) ep.cache.templateFile.map(f =>
              templateCache.load(spark, f, Some(templateDir)))
            else None
          Some(ServedEndpoint(ep, template, connProps = connProps,
            // endpoint rate-limit block → serving token bucket
            rateLimit = ep.rateLimit.filter(_.enabled)
              .map(rl => RateLimitConfig(rl.requestsPerMinute, rl.keyStrategy)),
            // auth-enabled endpoints grant their configured users' roles
            allowedRoles = ep.auth.filter(_.enabled).map(a =>
              a.users.flatMap(_.roles).distinct),
            cacheTemplate = cacheTemplate))
        } catch { case e: Exception =>
          System.err.println(s"[bootstrap] endpoint ${ep.urlPath} skipped: ${e.getMessage}")
          None
        }
      }
    (project, endpoints, templateDir)
  }

  /** Merge endpoint auth blocks into the server-level auth providers:
    * inline basic users union across endpoints; the first jwt block
    * supplies the HS256 secret/issuer; the first valid oidc block
    * (presets applied, placeholders resolved, client-id present)
    * supplies the RS256/JWKS verifier. */
  def authProviders(endpoints: Seq[ServedEndpoint]):
      (Option[BasicAuthConfig], Option[JwtConfig], Option[OidcConfig], Boolean) = {
    val enabled = endpoints.flatMap(_.config.auth).filter(_.enabled)
    val users = enabled.filter(a => a.tpe == "basic")
      .flatMap(_.users)
      .filter(u => u.username.nonEmpty && !u.username.contains("{{"))
      .map(u => u.username -> ((u.password, u.roles)))
      .toMap
    val basic = if (users.nonEmpty) Some(BasicAuthConfig(users)) else None
    val jwt = enabled.find(a => (a.tpe == "jwt" || a.tpe == "bearer")
        && a.jwtSecret.exists(s => s.nonEmpty && !s.contains("{{")))
      .map(a => JwtConfig(a.jwtSecret.get, a.jwtIssuer.filterNot(_.contains("{{"))))
    val oidc = enabled.filter(_.tpe == "oidc").flatMap(_.oidc).flatMap { o =>
      val cfg = OidcProviderPresets(OidcConfig(
        providerType = o.provider,
        issuerUrl = o.issuerUrl,
        clientId = o.clientId,
        jwksSource = o.jwksSource,
        usernameClaim = if (o.usernameClaim.isEmpty) "sub" else o.usernameClaim,
        rolesClaim = if (o.rolesClaim.isEmpty) "roles" else o.rolesClaim,
        roleClaimPath = o.roleClaimPath))
      OidcProviderPresets.validate(cfg) match {
        case Some(reason) =>
          System.err.println(s"[bootstrap] oidc provider skipped: $reason")
          None
        case None => Some(cfg)
      }
    }.headOption
    (basic, jwt, oidc, enabled.nonEmpty)
  }

  /** One-call serve: discover + load + wire auth providers + cache
    * warmup/scheduler (reference boot order: warmUpCaches then
    * heartbeat worker, main.cpp) + start.
    *
    * `cacheWarehouse` roots the snapshot tables; when set, cache-enabled
    * endpoints warm up at boot and scheduled ones refresh on their
    * `schedule:` interval, and the config API's cache/refresh trigger is
    * live. Stop the returned scheduler with the server. */
  def serve(spark: SparkSession, projectYaml: String, port: Int = 0,
            wire: WireConfig = WireConfig(),
            configService: Option[ConfigServiceConfig] = None,
            cacheWarehouse: Option[String] = None,
            /** bind address; empty = resolve via GRAFT_HOST > `host:`
              * config > 127.0.0.1 (the 12-factor precedence). */
            host: String = ""): GraftServer = {
    // duplicated-scan budget on the SERVING session (r11 verdict #1):
    // endpoint SQL is user-authored — exactly the input ScanBudgetRule
    // exists to guard — so a session arriving without an explicit
    // setting gets the shipped default here. A deployment that set the
    // key itself (including 0 = off) is respected. A session built
    // without GraftFunctions.register gets the kernels and the rule
    // from install; one built with it already has both.
    if (spark.conf.getOption(graft.plans.ScanBudgetRule.ConfKey).isEmpty)
      spark.conf.set(graft.plans.ScanBudgetRule.ConfKey,
        graft.plans.ScanBudgetRule.DefaultBudget.toString)
    graft.functions.GraftFunctions.install(spark)
    val (project, endpoints, templateDir) = loadProject(spark, Paths.get(projectYaml))
    val (basic, jwt, oidc, anyAuth) = authProviders(endpoints)
    val allConnProps = project.connections
      .flatMap(c => c.properties.map { case (k, v) => k -> v }).toMap
    val manager = cacheWarehouse.map(new graft.cache.CacheManager(spark, _))
    manager.foreach { cm =>
      val cached = endpoints.filter(e =>
        e.config.cache.enabled && e.config.cache.table.nonEmpty)
      // a dedicated cache template (cache.template-file) wins over the
      // endpoint's read template, mirroring the reference's split —
      // already resolved once by loadProject onto ServedEndpoint, so
      // reuse it (no second VFS round-trip at boot)
      val templates = cached.map(e =>
        e.config -> e.cacheTemplate.getOrElse(e.template)).toMap
      // boot warmup (C7): every cache-enabled endpoint refreshes once
      cached.foreach { e =>
        try cm.refresh(e.config, templates(e.config), Map.empty, e.connProps)
        catch { case ex: Exception =>
          System.err.println(s"[bootstrap] warmup ${e.config.urlPath} failed: ${ex.getMessage}")
        }
      }
      // interval scheduler (C6) for endpoints carrying schedule:
      val scheduler = new graft.cache.RefreshScheduler(cm)
      scheduler.start(cached.map(_.config), templates)
    }
    // drift monitors (the `monitors:` block): seed standing verdicts
    // from the persisted ledger payloads FIRST — a restarted server
    // serves the last verdict even if its sources are empty or its
    // boot drain fails — then run one catch-up drain over whatever
    // landed in each source since the checkpoint (the cache-warmup
    // discipline: blocking at boot, per-monitor failures logged).
    val monitorManager = Option(project.monitors).filter(_.nonEmpty).map { ms =>
      val mm = new MonitorManager(spark, ms)
      mm.seed()
      mm.drain()
      // `monitor-drain-interval` (seconds, project root key): keep the
      // served verdicts current as new drops land — without it the
      // boot drain is the only crank and verdicts freeze until restart
      if (project.monitorDrainIntervalSeconds > 0)
        mm.startScheduler(project.monitorDrainIntervalSeconds)
      mm
    }
    // boot-time security audit (reference runs it as a startup wave):
    // advisory — a dangerous config serves, but never silently. The
    // project env allowlist rides along so whitelisted refs don't
    // false-positive as TEMPLATE_ENV_DISALLOWED.
    val envAllow = TemplateEnvConfig(project.envWhitelist)
    SecurityAuditor.audit(endpoints, envAllow, configService).foreach(w =>
      System.err.println(s"[audit] ${w.code} @ ${w.location}: ${w.message}"))
    // API-created endpoints get the project connection map too; the
    // storage health probe covers the config + template dirs unless the
    // caller named its own backends
    val csWithConns = configService.map(cs =>
      (if (cs.connProps.isEmpty) cs.copy(connProps = allConnProps) else cs)
        .copy(templateEnv = envAllow,
          storagePaths =
            if (configService.exists(_.storagePaths.nonEmpty)) cs.storagePaths
            else Map(
              "config" -> Paths.get(projectYaml).toAbsolutePath.getParent.toString,
              "templates" -> templateDir)))
    // boot-option precedence (reference 12-factor contract): the
    // serve() caller's explicit port/host are the CLI tier, GRAFT_PORT/
    // GRAFT_HOST the env tier, the project yaml's http-port/host the
    // config tier. GRAFT_LOG_LEVEL (validated) applies to the session.
    val boot = resolveBootOptions(
      cliPort = Some(port).filter(_ != 0),
      cliHost = Some(host).filter(_.nonEmpty),
      project = Some(project))
    boot.logLevel.foreach(spark.sparkContext.setLogLevel)
    // enforce-https: the listener speaks TLS (validated by loadProject)
    val tlsCtx = project.https.filter(_.enabled)
      .map(h => TlsSupport.sslContext(h.certFile, h.keyFile))
    new GraftServer(spark, endpoints, port = boot.port, wire = wire,
      mcpAuthEnabled = anyAuth, basicAuth = basic, jwtAuth = jwt, oidcAuth = oidc,
      configService = csWithConns, cacheManager = manager,
      monitors = monitorManager, host = boot.host, tls = tlsCtx,
      mcpInstructions = project.mcpInstructions).start()
  }
}
