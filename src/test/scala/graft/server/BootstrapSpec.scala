package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** flapi.yaml → running server: a project tree laid out like the
  * reference's examples/ directory serves with one call. */
class BootstrapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: GraftServer = _
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]").appName("bootstrap-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
  }

  test("project yaml + endpoint tree discovers, loads templates, serves REST and MCP") {
    val root = Files.createTempDirectory("graft_project")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      """project-name: bootstrap-test
        |template:
        |  path: './sqls'
        |connections:
        |  customers-parquet:
        |    properties:
        |      path: '/root/testdata/sf0.001/customer.parquet'
        |""".stripMargin)
    Files.writeString(sqls.resolve("custs.yaml"),
      """url-path: /custs
        |template-source: custs.sql
        |with-pagination: "false"
        |request:
        |  - field-name: segment
        |    validators:
        |      - type: string
        |""".stripMargin)
    Files.writeString(sqls.resolve("custs.sql"),
      """SELECT c_custkey, c_name FROM read_parquet('{{conn.path}}')
        |WHERE 1=1
        |{{#params.segment}} AND c_mktsegment = '{{{params.segment}}}' {{/params.segment}}
        |ORDER BY c_custkey LIMIT 5""".stripMargin)
    Files.writeString(sqls.resolve("lookup-tool.yaml"),
      """mcp-tool:
        |  name: cust_lookup
        |  description: look up customers
        |template-source: custs.sql
        |""".stripMargin)
    Files.writeString(sqls.resolve("schema-resource.yaml"),
      """mcp-resource:
        |  name: cust_schema
        |  description: customer schema
        |template-source: custs.sql
        |""".stripMargin)
    Files.writeString(sqls.resolve("analysis-prompt.yaml"),
      """mcp-prompt:
        |  name: cust_analysis
        |  description: analyze customers
        |  template: "Analyze customer {{cid}} carefully."
        |  arguments: [cid]
        |template-source: custs.sql
        |""".stripMargin)

    server = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    val base = s"http://127.0.0.1:${server.boundPort}"

    val rest = client.send(
      HttpRequest.newBuilder(URI.create(base + "/custs?segment=BUILDING")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(rest.statusCode() == 200, rest.body())
    val rows = mapper.readTree(rest.body())
    assert(rows.size() > 0)
    assert(rows.get(0).has("c_name"))

    // the mcp-tool yaml (no url-path) serves under its tool name
    val tools = mapper.readTree(client.send(
      HttpRequest.newBuilder(URI.create(base + "/mcp/jsonrpc"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""")).build(),
      HttpResponse.BodyHandlers.ofString()).body())
      .get("result").get("tools")
    val names = (0 until tools.size()).map(tools.get(_).get("name").asText())
    assert(names.contains("cust_lookup"))
    assert(names.contains("custs"))

    def rpc(body: String) = mapper.readTree(client.send(
      HttpRequest.newBuilder(URI.create(base + "/mcp/jsonrpc"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body())

    val call = rpc(
      """{"jsonrpc":"2.0","id":2,"method":"tools/call",
        |"params":{"name":"cust_lookup","arguments":{}}}""".stripMargin)
    val data = mapper.readTree(
      call.get("result").get("content").get(0).get("text").asText())
    assert(data.size() == 5)

    // YAML-configured mcp-resource and mcp-prompt serve too
    val resources = rpc("""{"jsonrpc":"2.0","id":3,"method":"resources/list"}""")
      .get("result").get("resources")
    assert(resources.size() == 1)
    assert(resources.get(0).get("uri").asText() == "graft://cust_schema")
    val read = rpc(
      """{"jsonrpc":"2.0","id":4,"method":"resources/read","params":{"uri":"graft://cust_schema"}}""")
    assert(mapper.readTree(read.get("result").get("contents").get(0)
      .get("text").asText()).size() == 5)
    val prompt = rpc(
      """{"jsonrpc":"2.0","id":5,"method":"prompts/get",
        |"params":{"name":"cust_analysis","arguments":{"cid":"42"}}}""".stripMargin)
    assert(prompt.get("result").get("messages").get(0).get("content")
      .get("text").asText() == "Analyze customer 42 carefully.")

    // MCP-only endpoints must NOT be reachable as REST routes — that
    // would bypass MCP RBAC
    assert(client.send(
      HttpRequest.newBuilder(URI.create(base + "/mcp/cust_lookup")).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() == 404)
  }

  test("auth-enabled endpoint fails CLOSED when no provider survives bootstrap") {
    val root = Files.createTempDirectory("graft_project_failclosed")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      "project-name: fc\ntemplate:\n  path: './sqls'\n")
    // every credential is an unresolved env placeholder → no basic users
    // survive the provider merge; the endpoint must 401, not serve open
    Files.writeString(sqls.resolve("secure.yaml"),
      """url-path: /secure-fc
        |template-source: one.sql
        |with-pagination: "false"
        |auth:
        |  enabled: true
        |  type: basic
        |  users:
        |    - username: '{{env.MISSING_USER}}'
        |      password: '{{env.MISSING_PASS}}'
        |      roles: [read]
        |""".stripMargin)
    Files.writeString(sqls.resolve("one.sql"), "SELECT 1 AS one")
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/secure-fc")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 401)
    } finally srv.stop()
  }

  test("cache-enabled endpoints warm up at boot; cache template file wins") {
    val root = Files.createTempDirectory("graft_project_cache")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    val warehouse = Files.createTempDirectory("graft_bootstrap_wh")
    Files.writeString(root.resolve("project.yaml"),
      """project-name: cache-test
        |template:
        |  path: './sqls'
        |""".stripMargin)
    Files.writeString(sqls.resolve("cached.yaml"),
      """url-path: /cached
        |template-source: read.sql
        |with-pagination: "false"
        |cache:
        |  enabled: true
        |  table: boot_cache
        |  template-file: cache.sql
        |""".stripMargin)
    // the READ template serves FROM the cache table via the injected
    // cache namespace (reference addQueryCacheParamsIfNecessary shape)
    Files.writeString(sqls.resolve("read.sql"),
      "SELECT c_custkey FROM {{cache.schema}}.{{cache.table}} ORDER BY c_custkey")
    Files.writeString(sqls.resolve("cache.sql"),
      "SELECT c_custkey FROM read_parquet('/root/testdata/sf0.001/customer.parquet') WHERE c_custkey <= 7")

    val srv = GraftBootstrap.serve(spark,
      root.resolve("project.yaml").toString,
      cacheWarehouse = Some(warehouse.toString))
    try {
      // warmup ran the CACHE template (not read.sql) into the snapshot
      // table (CacheManager roots tables under <warehouse>/<schema>)
      val t = new graft.cache.SnapshotTable(spark,
        s"$warehouse/cache", "boot_cache")
      val expected = spark.read
        .parquet("/root/testdata/sf0.001/customer.parquet")
        .filter("c_custkey <= 7").count()
      assert(t.read().count() == expected)
      assert(t.read().columns.toSeq == Seq("c_custkey")) // cache.sql, not read.sql
      // GET serves the CACHED data through the catalog view — and a
      // caller-supplied cacheTable must not redirect the query
      val r = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/cached?cacheTable=orders")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"serve-from-cache failed: ${r.body()}")
      val arr = mapper.readTree(r.body())
      assert(arr.size() == expected)
      assert(arr.get(0).has("c_custkey"))
    } finally srv.stop()
  }

  test("yaml auth blocks wire basic auth with per-endpoint opt-out") {
    val root = Files.createTempDirectory("graft_project_auth")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      """project-name: auth-test
        |template:
        |  path: './sqls'
        |""".stripMargin)
    Files.writeString(sqls.resolve("secure.yaml"),
      s"""url-path: /secure
         |template-source: one.sql
         |with-pagination: "false"
         |auth:
         |  enabled: true
         |  type: basic
         |  users:
         |    - username: admin
         |      password: '${PasswordHasher.hash("secret", 1000)}'
         |      roles: [admin]
         |""".stripMargin)
    Files.writeString(sqls.resolve("open.yaml"),
      """url-path: /open
        |template-source: one.sql
        |with-pagination: "false"
        |auth:
        |  enabled: false
        |""".stripMargin)
    Files.writeString(sqls.resolve("one.sql"), "SELECT 1 AS one")

    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def get(path: String, headers: (String, String)*) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
        headers.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(get("/secure").statusCode() == 401)
      val cred = "Basic " + java.util.Base64.getEncoder
        .encodeToString("admin:secret".getBytes("UTF-8"))
      assert(get("/secure", "Authorization" -> cred).statusCode() == 200)
      // explicit auth: enabled: false opts the endpoint out
      assert(get("/open").statusCode() == 200)
    } finally srv.stop()
  }

  test("yaml oidc auth block wires RS256/JWKS verification end-to-end") {
    // keypair + static JWKS file
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    val kp = g.generateKeyPair()
    val pub = kp.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]
    def b64url(b: Array[Byte]) =
      java.util.Base64.getUrlEncoder.withoutPadding().encodeToString(b)
    def unsigned(bi: java.math.BigInteger) = {
      val b = bi.toByteArray; if (b.length > 1 && b(0) == 0) b.drop(1) else b
    }
    val jwks = Files.createTempFile("graft_boot_jwks", ".json")
    Files.writeString(jwks,
      s"""{"keys":[{"kty":"RSA","kid":"boot-key","n":"${b64url(unsigned(pub.getModulus))}","e":"${b64url(unsigned(pub.getPublicExponent))}"}]}""")

    val root = Files.createTempDirectory("graft_project_oidc")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      "project-name: oidc-test\ntemplate:\n  path: './sqls'\n")
    Files.writeString(sqls.resolve("sec.yaml"),
      s"""url-path: /oidc-secure
         |template-source: one.sql
         |with-pagination: "false"
         |auth:
         |  enabled: true
         |  type: oidc
         |  oidc:
         |    provider: generic
         |    issuer-url: https://issuer.boot
         |    client-id: graft-boot
         |    jwks-file: $jwks
         |""".stripMargin)
    Files.writeString(sqls.resolve("one.sql"), "SELECT 1 AS one")
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def get(headers: (String, String)*) = {
        val b = HttpRequest.newBuilder(URI.create(base + "/oidc-secure"))
        headers.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(get().statusCode() == 401)
      val enc = java.util.Base64.getUrlEncoder.withoutPadding()
      val h = enc.encodeToString(
        """{"alg":"RS256","typ":"JWT","kid":"boot-key"}""".getBytes("UTF-8"))
      val far = System.currentTimeMillis() / 1000L + 3600L
      val p = enc.encodeToString(
        s"""{"sub":"carol","iss":"https://issuer.boot","aud":"graft-boot","exp":$far}"""
          .getBytes("UTF-8"))
      val sig = java.security.Signature.getInstance("SHA256withRSA")
      sig.initSign(kp.getPrivate)
      sig.update(s"$h.$p".getBytes("UTF-8"))
      val token = s"$h.$p.${enc.encodeToString(sig.sign())}"
      assert(get("Authorization" -> s"Bearer $token").statusCode() == 200)
      // wrong audience rejected through the same YAML-wired path
      val pBad = enc.encodeToString(
        s"""{"sub":"carol","iss":"https://issuer.boot","aud":"other","exp":$far}"""
          .getBytes("UTF-8"))
      val sig2 = java.security.Signature.getInstance("SHA256withRSA")
      sig2.initSign(kp.getPrivate)
      sig2.update(s"$h.$pBad".getBytes("UTF-8"))
      assert(get("Authorization" ->
        s"Bearer $h.$pBad.${enc.encodeToString(sig2.sign())}").statusCode() == 401)
    } finally srv.stop()
  }

  test("monitors block: PSI drift alert serves on /mcp/monitors and survives a restart") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_monitor_project")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    val src = Files.createTempDirectory("graft_monitor_src")
    val ck = Files.createTempDirectory("graft_monitor_ck").resolve("psi")
    // planted drift lands in the source BEFORE boot: 900 A / 100 B
    // against a frozen 50/50 baseline — well past the 0.25 threshold
    val day = java.sql.Timestamp.valueOf("2026-02-01 12:00:00")
    (Seq.fill(900)((day, "A")) ++ Seq.fill(100)((day, "B")))
      .toDF("ts", "event_type").coalesce(1)
      .write.mode("append").parquet(src.toString)
    // quantile monitor fixture: lengths double vs the inline baseline
    // deciles (UNQUOTED numeric YAML keys — SnakeYAML parses them as
    // Integer; the re-stringify fix is exactly what this exercises)
    val qsrc = Files.createTempDirectory("graft_monitor_qsrc")
    val qck = Files.createTempDirectory("graft_monitor_qck").resolve("q")
    (0 until 2000).map(i => 200L + (i.toLong * 37) % 2000)
      .toDF("n_chars").coalesce(1).write.mode("append").parquet(qsrc.toString)
    // embedding monitor fixture: baseline dir + a dim-0-shifted stream
    val ebase = Files.createTempDirectory("graft_monitor_ebase")
    val esrc = Files.createTempDirectory("graft_monitor_esrc")
    val eck = Files.createTempDirectory("graft_monitor_eck").resolve("e")
    def vecs(ids: Range, shift: Float) = ids.map(i => (i.toLong, s"l${i % 2}",
      Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat / 5f +
        (if (d == 0) shift else 0f))))
    vecs(0 until 300, 0f).toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("append").parquet(ebase.toString)
    vecs(300 until 600, 0.6f).toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("append").parquet(esrc.toString)
    Files.writeString(root.resolve("project.yaml"),
      s"""project-name: monitor-test
         |template:
         |  path: './sqls'
         |monitor-drain-interval: 1
         |monitors:
         |  - name: mix-drift
         |    type: psi
         |    source: '$src'
         |    checkpoint: '$ck'
         |    type-column: event_type
         |    ts-column: ts
         |    trailing-windows: 7
         |    baseline:
         |      A: 500
         |      B: 500
         |  - name: len-drift
         |    type: quantile
         |    source: '$qsrc'
         |    checkpoint: '$qck'
         |    value-column: n_chars
         |    baseline:
         |      1: 300
         |      5: 700
         |      9: 1100
         |  - name: enc-drift
         |    type: embedding
         |    source: '$esrc'
         |    checkpoint: '$eck'
         |    label-column: label
         |    vector-column: embedding
         |    baseline-from: '$ebase'
         |""".stripMargin)
    Files.writeString(sqls.resolve("one.yaml"),
      "url-path: /one\ntemplate-source: one.sql\nwith-pagination: \"false\"\n")
    Files.writeString(sqls.resolve("one.sql"), "SELECT 1 AS one")

    def monitorsJson(port: Int) = mapper.readTree(client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/mcp/monitors")).build(),
      HttpResponse.BodyHandlers.ofString()).body())
    def row(j: com.fasterxml.jackson.databind.JsonNode, name: String) = {
      val arr = j.get("monitors")
      (0 until arr.size()).map(arr.get)
        .find(_.get("name").asText() == name).get
    }

    // boot 1: the boot drain absorbs the planted drift on all three
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    val expected = try {
      val all = monitorsJson(srv.boundPort)
      assert(all.get("monitors").size() == 3, all.toString)
      // quantile monitor through the YAML path (numeric baseline keys):
      // the stream's lengths are shifted vs the inline deciles
      val ql = row(all, "len-drift")
      assert(ql.get("type").asText() == "quantile")
      assert(ql.get("alert").asBoolean(), ql.toString)
      assert(ql.get("stats").get("drift_ppm_windowed").asLong() > 150000L)
      // embedding monitor through the YAML path (baseline-from dir):
      // the stream's dim-0 is shifted +0.6 vs the baseline window
      val em = row(all, "enc-drift")
      assert(em.get("type").asText() == "embedding")
      assert(em.get("alert").asBoolean(), em.toString)
      assert(math.abs(em.get("stats").get("drift_u6").asLong() - 600000L) < 60000L,
        em.toString)
      val m = row(all, "mix-drift")
      assert(m.get("type").asText() == "psi")
      assert(m.get("batch_id").asLong() >= 0L)
      assert(m.get("alert").asBoolean(), m.toString)
      val win = m.get("stats").get("psi_micro_windowed").asLong()
      assert(win > 250000L, s"planted 90/10 drift must exceed 0.25: $win")
      val bootBatch = m.get("batch_id").asLong()

      // scheduled drain (monitor-drain-interval: 1): a drop landing
      // AFTER boot must update the served verdict WITHOUT a restart —
      // boot-only drains would freeze the surface until the next boot
      (Seq.fill(300)((day, "A")) ++ Seq.fill(300)((day, "B")))
        .toDF("ts", "event_type").coalesce(1)
        .write.mode("append").parquet(src.toString)
      val deadline = System.nanoTime() + 60000000000L
      var live = m
      while (live.get("batch_id").asLong() == bootBatch &&
          System.nanoTime() < deadline) {
        Thread.sleep(500)
        live = row(monitorsJson(srv.boundPort), "mix-drift")
      }
      assert(live.get("batch_id").asLong() > bootBatch,
        s"scheduled drain never absorbed the post-boot drop: $live")
      // the updated mix is (1200 A, 400 B) — still shifted vs 50/50
      assert(live.get("alert").asBoolean(), live.toString)
      (live.get("batch_id").asLong(),
        live.get("stats").get("psi_micro_windowed").asLong(),
        live.get("stats").get("psi_micro_cumulative").asLong())
    } finally srv.stop()

    // boot 2 (restart, NO new data): nothing streams, so the verdict
    // must come from the persisted ledger payload via the boot seed
    val srv2 = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val m = row(monitorsJson(srv2.boundPort), "mix-drift")
      assert(m.get("alert").asBoolean(), s"restart lost the standing alert: $m")
      assert((m.get("batch_id").asLong(),
        m.get("stats").get("psi_micro_windowed").asLong(),
        m.get("stats").get("psi_micro_cumulative").asLong()) == expected,
        s"restart changed the standing verdict: $m vs $expected")
    } finally srv2.stop()
  }

  test("warn-mode scan-budget violations surface on /mcp/metrics") {
    val key = graft.plans.ScanBudgetRule.ConfKey
    val modeKey = graft.plans.ScanBudgetRule.ModeKey
    val root = Files.createTempDirectory("graft_warn_project")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      """project-name: warn-test
        |template:
        |  path: './sqls'
        |connections:
        |  customers-parquet:
        |    properties:
        |      path: '/root/testdata/sf0.001/customer.parquet'
        |""".stripMargin)
    val ref = "SELECT c_custkey FROM read_parquet('{{conn.path}}')"
    Files.writeString(sqls.resolve("rescan.yaml"),
      "url-path: /rescan\ntemplate-source: rescan.sql\nwith-pagination: \"false\"\n")
    Files.writeString(sqls.resolve("rescan.sql"),
      s"""SELECT count(*) AS n FROM (
         |$ref UNION ALL $ref UNION ALL $ref UNION ALL $ref UNION ALL $ref) u""".stripMargin)
    spark.conf.unset(key)
    spark.conf.set(modeKey, "warn")
    val before = graft.plans.ScanBudgetRule.Metrics.violations
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // warn = the migration mode: the over-budget endpoint still runs…
      val r = client.send(
        HttpRequest.newBuilder(URI.create(base + "/rescan")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"${r.statusCode()} ${r.body()}")
      // …and the violation is visible on the metrics surface (no log
      // scraping): counter advanced, gauge names the relation + mode
      val metrics = mapper.readTree(client.send(
        HttpRequest.newBuilder(URI.create(base + "/mcp/metrics")).build(),
        HttpResponse.BodyHandlers.ofString()).body())
      val sb = metrics.get("scan_budget")
      assert(sb.get("violations").asLong() > before, sb.toString)
      assert(sb.get("last").get("relation").asText().contains("customer.parquet"))
      assert(sb.get("last").get("mode").asText() == "warn")
      assert(sb.get("last").get("scans").asInt() == 5)
    } finally {
      srv.stop()
      spark.conf.unset(key)
      spark.conf.unset(modeKey)
    }
  }

  test("serving scan budget is default-on: a 5x-rescan endpoint gets the directed 422") {
    val key = graft.plans.ScanBudgetRule.ConfKey
    val root = Files.createTempDirectory("graft_budget_project")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      """project-name: budget-test
        |template:
        |  path: './sqls'
        |connections:
        |  customers-parquet:
        |    properties:
        |      path: '/root/testdata/sf0.001/customer.parquet'
        |""".stripMargin)
    // user-authored endpoint SQL re-scanning one relation 5 times —
    // exactly the input class the rule exists to guard
    val rescanRef = "SELECT c_custkey FROM read_parquet('{{conn.path}}')"
    Files.writeString(sqls.resolve("rescan.yaml"),
      """url-path: /rescan
        |template-source: rescan.sql
        |with-pagination: "false"
        |""".stripMargin)
    Files.writeString(sqls.resolve("rescan.sql"),
      s"""SELECT count(*) AS n FROM (
         |$rescanRef UNION ALL $rescanRef UNION ALL $rescanRef
         |UNION ALL $rescanRef UNION ALL $rescanRef) u""".stripMargin)
    Files.writeString(sqls.resolve("ok.yaml"),
      """url-path: /ok
        |template-source: ok.sql
        |with-pagination: "false"
        |""".stripMargin)
    Files.writeString(sqls.resolve("ok.sql"),
      "SELECT c_custkey FROM read_parquet('{{conn.path}}') ORDER BY c_custkey LIMIT 3")

    def http(base: String, path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).build(),
      HttpResponse.BodyHandlers.ofString())

    // a session arriving WITHOUT the key gets the shipped default
    spark.conf.unset(key)
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      assert(spark.conf.get(key) ==
        graft.plans.ScanBudgetRule.DefaultBudget.toString)
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val bad = http(base, "/rescan")
      assert(bad.statusCode() == 422, s"${bad.statusCode()} ${bad.body()}")
      assert(bad.body().contains("scan_budget_exceeded") &&
        bad.body().contains("scanned 5 times") &&
        bad.body().contains("customer.parquet"), bad.body())
      // well-behaved endpoints serve normally under the same budget
      val ok = http(base, "/ok")
      assert(ok.statusCode() == 200, ok.body())
      assert(mapper.readTree(ok.body()).size() == 3)
    } finally srv.stop()

    // a deployment's explicit setting — including 0 = off — is respected
    spark.conf.set(key, "0")
    val srv2 = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      assert(spark.conf.get(key) == "0")
      val r = http(s"http://127.0.0.1:${srv2.boundPort}", "/rescan")
      assert(r.statusCode() == 200, s"${r.statusCode()} ${r.body()}")
    } finally {
      srv2.stop()
      spark.conf.unset(key)
    }
  }

  test("serve arms the scan-budget rule once, and not at all on an extension-built session") {
    val rule = graft.plans.ScanBudgetRule
    val root = Files.createTempDirectory("graft_rule_once")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      "project-name: rule-once\ntemplate:\n  path: './sqls'\n")
    Files.writeString(sqls.resolve("one.yaml"),
      "url-path: /one\ntemplate-source: one.sql\nwith-pagination: \"false\"\n")
    Files.writeString(sqls.resolve("one.sql"), "SELECT 1 AS one")
    def serveOnce(s: SparkSession): Unit =
      GraftBootstrap.serve(s, root.resolve("project.yaml").toString).stop()

    // this suite's session has no extension: install arms the rule, once
    serveOnce(spark)
    serveOnce(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq rule) == 1)

    // the builder makes a new session on the running context only
    // once no active/default session is set
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val extended = SparkSession.builder()
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    try {
      serveOnce(extended)
      assert(!extended.experimental.extraOptimizations.exists(_ eq rule),
        "the extension already injects the rule; a second copy re-walks every plan")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a monitor whose source disappears shows a drain-error gauge; others keep updating") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_drain_err")
    def writeHours(dir: String, n: Int, offset: Int = 0): Unit =
      (offset until offset + n)
        .map(h => java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusHours(h)))
        .toDF("ts").coalesce(1).write.mode("append").parquet(dir)
    val srcA = root.resolve("srcA").toString
    val srcB = root.resolve("srcB").toString
    writeHours(srcA, 48)
    writeHours(srcB, 48)
    val mm = new MonitorManager(spark, Seq(
      MonitorConfig("mon-a", "cusum", srcA, root.resolve("ckA").toString),
      MonitorConfig("mon-b", "cusum", srcB, root.resolve("ckB").toString)))
    mm.drain()
    assert(mm.snapshot.map(_.name).toSet == Set("mon-a", "mon-b"))
    assert(mm.drainErrorsJson == """{"mon-a":0,"mon-b":0}""")
    val aBatch0 = mm.snapshot.find(_.name == "mon-a").get.batchId
    // source B vanishes mid-run (a dropped mount, a retention sweep)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    rmTree(java.nio.file.Paths.get(srcB))
    writeHours(srcA, 4, offset = 48) // A has fresh data to absorb
    mm.drain()
    // B is a non-zero OBSERVABLE gauge, not just a stderr line…
    val counts = mapper.readTree(mm.drainErrorsJson)
    assert(counts.get("mon-b").asLong() >= 1L, mm.drainErrorsJson)
    assert(counts.get("mon-a").asLong() == 0L, mm.drainErrorsJson)
    // …while A kept absorbing (its committed batch advanced)
    assert(mm.snapshot.find(_.name == "mon-a").get.batchId > aBatch0)
    // and the gauge serves on /mcp/metrics
    val srv = new GraftServer(spark, Seq.empty, monitors = Some(mm)).start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/mcp/metrics")).build(),
        HttpResponse.BodyHandlers.ofString())
      val j = mapper.readTree(r.body())
      assert(j.has("monitor_drain_errors"), r.body())
      assert(j.get("monitor_drain_errors").get("mon-b").asLong() >= 1L)
    } finally srv.stop()
  }

  // ---- 12-factor env overrides (reference test_env_overrides.py) -----------

  test("boot precedence matrix: CLI > GRAFT_* env > config > default") {
    import GraftBootstrap.{resolveBootOptions, ProjectConfig}
    val project = ProjectConfig("p", ".", httpPort = Some(7001),
      host = Some("10.0.0.1"))
    val env = Map("GRAFT_PORT" -> "7002", "GRAFT_HOST" -> "10.0.0.2",
      "GRAFT_CONFIG" -> "/env/flapi.yaml", "GRAFT_LOG_LEVEL" -> "debug")
    // all four tiers present: CLI wins everywhere
    val cli = resolveBootOptions(cliConfig = Some("/cli.yaml"),
      cliPort = Some(7003), cliHost = Some("10.0.0.3"),
      cliLogLevel = Some("error"), env = env.get, project = Some(project))
    assert(cli == GraftBootstrap.BootOptions("/cli.yaml", 7003, "10.0.0.3", Some("ERROR")))
    // no CLI: env wins over config
    val fromEnv = resolveBootOptions(env = env.get, project = Some(project))
    assert(fromEnv == GraftBootstrap.BootOptions(
      "/env/flapi.yaml", 7002, "10.0.0.2", Some("DEBUG")))
    // no CLI, no env: config tier
    val fromCfg = resolveBootOptions(env = _ => None, project = Some(project))
    assert(fromCfg == GraftBootstrap.BootOptions("flapi.yaml", 7001, "10.0.0.1", None))
    // nothing anywhere: built-in defaults
    val dflt = resolveBootOptions(env = _ => None)
    assert(dflt == GraftBootstrap.BootOptions("flapi.yaml", 0, "127.0.0.1", None))
    // empty env values are "unset", not empty-string overrides
    val blank = resolveBootOptions(
      env = Map("GRAFT_HOST" -> " ", "GRAFT_PORT" -> "").get,
      project = Some(project))
    assert(blank.host == "10.0.0.1" && blank.port == 7001)
  }

  test("invalid GRAFT_PORT / GRAFT_LOG_LEVEL / http-port are directed errors") {
    import GraftBootstrap.resolveBootOptions
    for (bogus <- Seq("abc", "0", "99999", "-1")) {
      val e = intercept[IllegalArgumentException] {
        resolveBootOptions(env = Map("GRAFT_PORT" -> bogus).get)
      }
      assert(e.getMessage.contains("invalid GRAFT_PORT") &&
        e.getMessage.contains(bogus), e.getMessage)
    }
    val lvl = intercept[IllegalArgumentException] {
      resolveBootOptions(env = Map("GRAFT_LOG_LEVEL" -> "verbose").get)
    }
    assert(lvl.getMessage.contains("invalid GRAFT_LOG_LEVEL") &&
      lvl.getMessage.contains("verbose"), lvl.getMessage)
    // the config tier validates the same way (never silently coerced)
    val cfg = intercept[IllegalArgumentException] {
      GraftBootstrap.parseProject("project-name: x\nhttp-port: eighty\n")
    }
    assert(cfg.getMessage.contains("invalid http-port"), cfg.getMessage)
    // yaml-supplied port/host reach the served listener via serve()'s
    // resolution: exercised by the https e2e below (http-port absent →
    // ephemeral stays the default, locked by every other test here)
  }

  // ---- enforce-https (reference test_https_config.py / test_tls_wireup.py) --

  private val certFixture =
    java.nio.file.Paths.get("src/test/resources/tls/test_cert.pem")
      .toAbsolutePath.toString
  private val keyFixture =
    java.nio.file.Paths.get("src/test/resources/tls/test_key.pem")
      .toAbsolutePath.toString

  test("enforce-https config validation: directed errors for every broken shape") {
    import GraftBootstrap.parseProject
    // scalar block (test_https_as_scalar_fails)
    val scalar = intercept[IllegalArgumentException] {
      parseProject("project-name: x\nenforce-https: true\n")
    }
    assert(scalar.getMessage.contains("enforce-https must be a map"))
    // enabled without cert / without key / empty path
    for ((block, needle) <- Seq(
      (s"  enabled: true\n  ssl-key-file: $keyFixture", "ssl-cert-file"),
      (s"  enabled: true\n  ssl-cert-file: $certFixture", "ssl-key-file"),
      (s"  enabled: true\n  ssl-cert-file: ''\n  ssl-key-file: $keyFixture",
        "ssl-cert-file"))) {
      val e = intercept[IllegalArgumentException] {
        parseProject(s"project-name: x\nenforce-https:\n$block\n")
      }
      assert(e.getMessage.contains(needle), s"$block → ${e.getMessage}")
    }
    // disabled block needs no paths (test_https_disabled_validates)
    val off = parseProject("project-name: x\nenforce-https:\n  enabled: false\n")
    assert(off.https.exists(!_.enabled))
    // nonexistent files are caught by the file tier
    val miss = intercept[IllegalArgumentException] {
      TlsSupport.validate(Some(HttpsConfig(enabled = true,
        certFile = "/no/such/cert.pem", keyFile = keyFixture)))
    }
    assert(miss.getMessage.contains("ssl-cert-file not found"))
    // valid fixture pair validates and builds a context
    TlsSupport.validate(Some(HttpsConfig(enabled = true,
      certFile = certFixture, keyFile = keyFixture)))
  }

  test("enforce-https e2e: https 200 over the self-signed cert; plain http refused") {
    val root = Files.createTempDirectory("graft_tls")
    val sqls = Files.createDirectory(root.resolve("sqls"))
    Files.writeString(root.resolve("project.yaml"),
      s"""project-name: tls-wireup
         |template:
         |  path: './sqls'
         |connections:
         |  data:
         |    properties:
         |      path: '/root/testdata/sf0.001/customer.parquet'
         |enforce-https:
         |  enabled: true
         |  ssl-cert-file: $certFixture
         |  ssl-key-file: $keyFixture
         |""".stripMargin)
    Files.writeString(sqls.resolve("ping.yaml"),
      "url-path: /ping\ntemplate-source: ping.sql\nwith-pagination: \"false\"\n")
    Files.writeString(sqls.resolve("ping.sql"), "SELECT 1 AS ok")
    val srv = GraftBootstrap.serve(spark, root.resolve("project.yaml").toString)
    try {
      val port = srv.boundPort
      // a client trusting exactly the fixture cert (SAN IP:127.0.0.1
      // satisfies hostname verification — no verification disabled)
      val cf = java.security.cert.CertificateFactory.getInstance("X.509")
      val cert = cf.generateCertificate(
        Files.newInputStream(java.nio.file.Paths.get(certFixture)))
      val ts = java.security.KeyStore.getInstance("PKCS12")
      ts.load(null, null)
      ts.setCertificateEntry("fixture", cert)
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ts)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      val tlsClient = HttpClient.newBuilder().sslContext(ctx).build()
      val r = tlsClient.send(
        HttpRequest.newBuilder(URI.create(s"https://127.0.0.1:$port/ping")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(mapper.readTree(r.body()).get(0).get("ok").asInt() == 1)
      assert(r.uri().getScheme == "https")
      // plain http against the TLS port must not get a normal response
      // (test_tls_wireup.py accepts any non-success outcome)
      val plain = try {
        Some(client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ping"))
            .timeout(java.time.Duration.ofSeconds(5)).build(),
          HttpResponse.BodyHandlers.ofString()))
      } catch { case _: java.io.IOException => None }
      assert(plain.forall(_.statusCode() >= 400),
        s"plain HTTP unexpectedly succeeded: ${plain.map(_.statusCode())}")
    } finally srv.stop()
  }

  // ---- MCP instructions (reference test_mcp_instructions.py) ---------------

  test("mcp instructions: inline and from-file surface on initialize; absent omits") {
    def initResult(srv: GraftServer): com.fasterxml.jackson.databind.JsonNode = {
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/mcp/jsonrpc"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      mapper.readTree(r.body()).get("result")
    }
    def tree(mcpBlock: String): java.nio.file.Path = {
      val root = Files.createTempDirectory("graft_mcp_instr")
      val sqls = Files.createDirectory(root.resolve("sqls"))
      Files.writeString(sqls.resolve("ping.yaml"),
        "url-path: /ping\ntemplate-source: ping.sql\nwith-pagination: \"false\"\n")
      Files.writeString(sqls.resolve("ping.sql"), "SELECT 1 AS ok")
      Files.writeString(root.resolve("project.yaml"),
        s"project-name: x\ntemplate:\n  path: './sqls'\n$mcpBlock")
      root
    }
    // inline form
    val inlineRoot = tree(
      "mcp:\n  instructions: |\n    # Graft Guide\n    Use cust_lookup first.\n")
    val s1 = GraftBootstrap.serve(spark, inlineRoot.resolve("project.yaml").toString)
    try {
      val res = initResult(s1)
      assert(res.has("instructions"), res.toString)
      assert(res.get("instructions").asText().contains("Graft Guide"))
      assert(res.get("instructions").asText().contains("cust_lookup"))
    } finally s1.stop()
    // from-file form (resolved against the project dir)
    val fileRoot = tree("mcp:\n  instructions-file: ./guide.md\n")
    Files.writeString(fileRoot.resolve("guide.md"),
      "# File Guide\n- Feature 1\n- Feature 2\n")
    val s2 = GraftBootstrap.serve(spark, fileRoot.resolve("project.yaml").toString)
    try {
      val res = initResult(s2)
      assert(res.get("instructions").asText().contains("File Guide"))
      assert(res.get("instructions").asText().contains("Feature 1"))
    } finally s2.stop()
    // a missing instructions file is a directed boot error
    val badRoot = tree("mcp:\n  instructions-file: ./absent.md\n")
    val e = intercept[IllegalArgumentException] {
      GraftBootstrap.serve(spark, badRoot.resolve("project.yaml").toString)
    }
    assert(e.getMessage.contains("instructions-file not found"))
    // absent config omits the key entirely
    val plainRoot = tree("")
    val s3 = GraftBootstrap.serve(spark, plainRoot.resolve("project.yaml").toString)
    try assert(!initResult(s3).has("instructions"))
    finally s3.stop()
  }
}
