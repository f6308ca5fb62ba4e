package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ResponseShape
import graft.config._

/** End-to-end REST + MCP tests against a live GraftServer — the
  * black-box tier the reference covers with tavern suites
  * (test_customers.tavern.yaml, test_mcp_methods.py). */
class ServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: GraftServer = _
  private var base: String = _
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private val customersTemplate =
    """SELECT id AS key, name, segment FROM srv_customers
      |WHERE 1=1
      |{{#params.id}} AND id = {{params.id}} {{/params.id}}
      |{{#params.segment}} AND segment = '{{{params.segment}}}' {{/params.segment}}
      |ORDER BY id""".stripMargin

  private val customersEndpoint = ServedEndpoint(
    EndpointConfig(
      urlPath = "/customers",
      templateSource = "srv.sql",
      requestFields = Seq(
        RequestFieldConfig("id", validators = Seq(ValidatorConfig("int", min = 1, max = 1000))),
        RequestFieldConfig("segment",
          validators = Seq(ValidatorConfig("enum", allowedValues = Seq("A", "B"))))),
      requestFieldsValidation = false),
    customersTemplate,
    shape = ResponseShape(maxRows = Some(2)))

  private val byIdEndpoint = ServedEndpoint(
    customersEndpoint.config.copy(urlPath = "/customers/:id"),
    customersTemplate)

  private val writeEndpoint = ServedEndpoint(
    EndpointConfig(
      urlPath = "/notes",
      method = "POST",
      templateSource = "notes.sql",
      isWrite = true,
      requestFields = Seq(
        RequestFieldConfig("note", required = true,
          validators = Seq(ValidatorConfig("string", min = 1, max = 100))))),
    """DROP TABLE IF EXISTS srv_notes;
      |CREATE TABLE srv_notes (note STRING) USING parquet LOCATION '{{conn.loc}}';
      |INSERT INTO srv_notes VALUES ({{params.note}});
      |SELECT note FROM srv_notes""".stripMargin,
    connProps = Map("loc" -> (System.getProperty("java.io.tmpdir") + "/graft_srv_notes")))

  /** Big non-paginated endpoint: exercises the serving bounds (the cap
    * on JSON, streaming on CSV/Arrow, limit-before-collect on MCP). */
  private val bigEndpoint = ServedEndpoint(
    EndpointConfig(
      urlPath = "/big",
      templateSource = "big.sql",
      withPagination = false,
      requestFieldsValidation = false),
    "SELECT id, concat('row-', id) AS name FROM srv_big ORDER BY id",
    shape = ResponseShape(maxRows = Some(3)))

  private val bigSampleEndpoint = ServedEndpoint(
    bigEndpoint.config.copy(urlPath = "/big_sample"),
    bigEndpoint.template,
    shape = ResponseShape(sample = true))

  /** Write whose trailing SELECT yields the whole big table: the
    * RETURNING payload must be capped at wire.defaultRowCap, never
    * fully materialized on the driver. */
  private val bigWriteEndpoint = ServedEndpoint(
    EndpointConfig(
      urlPath = "/big_write",
      method = "POST",
      templateSource = "bigw.sql",
      isWrite = true,
      requestFieldsValidation = false),
    """DROP TABLE IF EXISTS srv_bigw;
      |CREATE TABLE srv_bigw (id BIGINT) USING parquet LOCATION '{{conn.loc}}';
      |INSERT INTO srv_bigw SELECT id FROM srv_big WHERE id < 5;
      |SELECT id FROM srv_big ORDER BY id""".stripMargin,
    connProps = Map("loc" -> (System.getProperty("java.io.tmpdir") + "/graft_srv_bigw")))

  /** Keyset-paginated endpoint over a real parquet table: deep pages
    * must run the SAME plan shape as page 1 (pushed key > cursor +
    * LIMIT, no OFFSET). */
  private val keysetEndpoint = ServedEndpoint(
    EndpointConfig(
      urlPath = "/kcustomers",
      templateSource = "k.sql",
      paginationKeyset = Some("c_custkey"),
      requestFieldsValidation = false),
    "SELECT c_custkey, c_name FROM read_parquet('{{conn.path}}')",
    connProps = Map("path" -> "/root/testdata/sf0.001/customer.parquet"))

  /** A template that reads the clock: every request must see its own time. */
  private val clockEndpoint = ServedEndpoint(
    EndpointConfig(urlPath = "/clock", templateSource = "clock.sql",
      withPagination = false, requestFieldsValidation = false),
    "SELECT CAST(current_timestamp() AS STRING) AS ts")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]").appName("server-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ss = spark
    import ss.implicits._
    Seq((1L, "alice", "A"), (2L, "bob", "B"), (3L, "carol", "A"), (4L, "dave", "B"))
      .toDF("id", "name", "segment").createOrReplaceTempView("srv_customers")
    spark.range(50000).toDF("id").createOrReplaceTempView("srv_big")
    val loc = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_srv_notes")
    if (loc.exists()) loc.listFiles().foreach(_.delete())
    // external LOCATION outlives DROP TABLE — clear between suite runs
    val bigwLoc = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_srv_bigw")
    if (bigwLoc.exists()) bigwLoc.listFiles().foreach(_.delete())
    server = new GraftServer(spark,
      Seq(customersEndpoint, byIdEndpoint, writeEndpoint, bigEndpoint,
        bigSampleEndpoint, bigWriteEndpoint, keysetEndpoint, clockEndpoint),
      wire = WireConfig(defaultRowCap = 7, arrowBatchRows = 1000,
        arrowCodec = Some("zstd"))).start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
  }

  private def get(path: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def rpc(body: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(post("/mcp/jsonrpc", body).body())

  test("GET returns the pagination envelope with X-headers") {
    val r = get("/customers?limit=2")
    assert(r.statusCode() == 200)
    val j = mapper.readTree(r.body())
    assert(j.get("total_count").asLong() == 4L)
    assert(j.get("data").size() == 2)
    assert(j.get("data").get(0).get("name").asText() == "alice")
    assert(j.get("next").asText() == "/customers?offset=2&limit=2")
    assert(r.headers().firstValue("X-Total-Count").get() == "4")
    assert(r.headers().firstValue("X-Next").isPresent)
  }

  test("keyset pagination: cursor links walk the table exactly once; deep pages never OFFSET") {
    // walk the whole table through the cursor envelope
    var next: Option[String] = Some("/kcustomers?limit=40")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var total = -1L
    var pages = 0
    while (next.isDefined && pages < 50) {
      val r = get(next.get)
      assert(r.statusCode() == 200, r.body())
      val j = mapper.readTree(r.body())
      total = j.get("total_count").asLong()
      (0 until j.get("data").size()).foreach(i =>
        seen += j.get("data").get(i).get("c_custkey").asLong())
      assert(r.headers().firstValue("X-Limit").get() == "40")
      next = if (j.get("next").isNull) None else Some(j.get("next").asText())
      next.foreach(n => assert(n.contains("after="), n))
      pages += 1
    }
    // row parity with the engine's own full ordering — every key once,
    // in order, across every page boundary
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .select("c_custkey").orderBy("c_custkey")
      .collect().map(_.getLong(0)).toSeq
    assert(total == expected.size.toLong)
    assert(seen.toSeq == expected,
      s"keyset walk diverged (${seen.size} vs ${expected.size})")
    assert(pages == (expected.size + 39) / 40)
    // the deep-page PLAN: key > cursor is pushed into the parquet scan
    // and nothing resembling an offset appears — page N == page 1 shape
    val df = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .select("c_custkey", "c_name")
    val deep = graft.api.Paginator.keysetPage(df, "c_custkey", Some("120"), 40)
    val plan = deep.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(c_custkey,120)"),
      s"cursor filter not pushed to the scan:\n$plan")
    assert(!plan.toLowerCase.contains("offset"), s"offset in keyset plan:\n$plan")
    // typed cursor: "120" compares numerically (121 first, not "13")
    assert(deep.collect().head.getLong(0) == 121L)
  }

  test("typed param filters; section renders conditionally") {
    val j = mapper.readTree(get("/customers?segment=A").body())
    assert(j.get("total_count").asLong() == 2L)
    assert(j.get("data").get(0).get("segment").asText() == "A")
  }

  test("path params bind through route translation") {
    val j = mapper.readTree(get("/customers/3").body())
    assert(j.get("data").size() == 1)
    assert(j.get("data").get(0).get("name").asText() == "carol")
  }

  test("validation failure returns 400 with field errors") {
    val r = get("/customers?id=abc")
    assert(r.statusCode() == 400)
    val j = mapper.readTree(r.body())
    assert(j.get("errors").get(0).get("field").asText() == "id")
    val r2 = get("/customers?segment=C")
    assert(r2.statusCode() == 400)
  }

  test("content negotiation: csv via ?format= and Accept header") {
    val r = get("/customers?format=csv&limit=1")
    assert(r.headers().firstValue("Content-Type").get().startsWith("text/csv"))
    assert(r.body().startsWith("key,name,segment\n"))
    val r2 = get("/customers?limit=1", "Accept" -> "text/csv")
    assert(r2.body().startsWith("key,name,segment\n"))
  }

  test("arrow stream round-trips (zstd-compressed serving config)") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/customers?format=arrow&limit=3")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.headers().firstValue("Content-Type").get()
      .startsWith("application/vnd.apache.arrow.stream"))
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      assert(reader.loadNextBatch())
      assert(reader.getVectorSchemaRoot.getRowCount == 3)
    } finally { reader.close(); alloc.close() }
  }

  // ---- serving bounds: a big endpoint must not materialize on the driver

  test("non-paginated JSON read is capped at the default row cap") {
    val j = mapper.readTree(get("/big").body())
    assert(j.size() == 7) // WireConfig.defaultRowCap, not 50000
    assert(j.get(0).get("name").asText() == "row-0")
  }

  test("a template that reads the clock serves each request its own time") {
    def csv(): String = get("/clock?format=csv").body().linesIterator.drop(1).next()
    def json(): String = mapper.readTree(get("/clock").body()).get(0).get("ts").asText()
    val c1 = csv(); Thread.sleep(1100); val c2 = csv()
    assert(c1 != c2, s"CSV served one time twice: $c1")
    val j1 = json(); Thread.sleep(1100); val j2 = json()
    assert(j1 != j2, s"JSON served one time twice: $j1")
  }

  test("a keyset limit past Int.MaxValue is clamped, not wrapped negative") {
    val r = get("/kcustomers?limit=3000000000")
    assert(r.statusCode() == 200, r.body())
    val j = mapper.readTree(r.body())
    assert(j.get("data").size() == j.get("total_count").asInt())
    assert(j.get("next").isNull)
  }

  test("an offset near Long.MaxValue gives an empty last page, not a negative next") {
    val r = get("/customers?offset=9223372036854775800&limit=100")
    assert(r.statusCode() == 200, r.body())
    val j = mapper.readTree(r.body())
    assert(j.get("data").size() == 0 && j.get("total_count").asLong() == 4L)
    assert(j.get("next").isNull, r.body())
    assert(r.headers().firstValue("X-Next").isEmpty)
    // a huge limit after a real offset keeps the offset exact
    val j2 = mapper.readTree(get("/customers?offset=1&limit=3000000000").body())
    assert(j2.get("data").size() == 3 && j2.get("data").get(0).get("key").asLong() == 2L)
  }

  test("metrics probe counts plan-cache hits and view hits") {
    def planCache() = mapper.readTree(get("/mcp/metrics").body()).get("plan_cache")
    get("/customers?limit=3&offset=1")
    val before = planCache()
    get("/customers?limit=3&offset=1")
    val after = planCache()
    for (k <- Seq("lookups", "hits", "misses", "view_hits", "view_builds", "entries"))
      assert(after.has(k), s"plan_cache lacks $k: $after")
    assert(after.get("hits").asLong() > before.get("hits").asLong(), s"$before -> $after")
    assert(after.get("view_hits").asLong() >= before.get("view_hits").asLong() + 2,
      s"$before -> $after")
  }

  test("CSV streams the FULL un-capped result chunked") {
    val r = get("/big?format=csv")
    assert(r.statusCode() == 200)
    // 50000 data lines + header + trailing newline split artifact
    assert(r.body().linesIterator.size == 50001)
  }

  test("arrow streams the full result in multiple compressed batches") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/big?format=arrow")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      var batches = 0; var rows = 0L
      while (reader.loadNextBatch()) { batches += 1; rows += reader.getVectorSchemaRoot.getRowCount }
      assert(rows == 50000)
      assert(batches >= 2) // arrowBatchRows=1000 over ≥2 partitions
    } finally { reader.close(); alloc.close() }
  }

  test("MCP maxRows is applied as a plan-level limit before collect") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val call = rpc(
        """{"jsonrpc":"2.0","id":40,"method":"tools/call",
          |"params":{"name":"big","arguments":{}}}""".stripMargin)
      val rows = mapper.readTree(
        call.get("result").get("content").get(0).get("text").asText())
      assert(rows.size() == 3)
      // listener delivery is async: poll for the captured plan
      val deadline = System.nanoTime() + 5e9.toLong
      var found = false
      while (!found && System.nanoTime() < deadline) {
        found = plans.toArray(Array.empty[String]).exists(p =>
          p.contains("CollectLimit") || p.contains("GlobalLimit") || p.contains("TakeOrderedAndProject"))
        if (!found) Thread.sleep(50)
      }
      assert(found, s"no limit operator in executed plans:\n${plans.toArray.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("MCP sample mode reports count + columns without row data") {
    val call = rpc(
      """{"jsonrpc":"2.0","id":41,"method":"tools/call",
        |"params":{"name":"big_sample","arguments":{}}}""".stripMargin)
    val res = mapper.readTree(
      call.get("result").get("content").get(0).get("text").asText())
    assert(res.get("sampled").asBoolean())
    assert(res.get("row_count").asLong() == 50000L)
    val cols = (0 until res.get("columns").size()).map(res.get("columns").get(_).asText())
    assert(cols == Seq("id", "name"))
  }

  test("POST write executes multi-statement template and returns 201") {
    val r = post("/notes", """{"note":"hello; world"}""")
    assert(r.statusCode() == 201)
    val j = mapper.readTree(r.body())
    assert(j.get("rows_affected").asLong() == 1L)
    assert(j.get("data").get(0).get("note").asText() == "hello; world")
  }

  test("MCP tools/call executes a write endpoint through the routed write path") {
    val call = rpc(
      """{"jsonrpc":"2.0","id":50,"method":"tools/call",
        |"params":{"name":"notes","arguments":{"note":"via mcp"}}}""".stripMargin)
    assert(!call.path("result").path("isError").asBoolean(false), s"write tool errored: $call")
    val payload = mapper.readTree(
      call.get("result").get("content").get(0).get("text").asText())
    assert(payload.get("rows_affected").asLong() == 1L)
    // the external LOCATION accumulates rows across tests in the suite —
    // assert membership, not position
    val notes = (0 until payload.get("data").size())
      .map(payload.get("data").get(_).get("note").asText())
    assert(notes.contains("via mcp"))
  }

  test("write RETURNING data is capped at wire.defaultRowCap") {
    val r = post("/big_write", "{}")
    assert(r.statusCode() == 201)
    val j = mapper.readTree(r.body())
    assert(j.get("rows_affected").asLong() == 5L)
    assert(j.get("data").size() == 7) // 50 000-row trailing SELECT, cap 7
  }

  test("keep-alive responses do not wait out the client's delayed ACK") {
    // headers and body leave as two segments: without TCP_NODELAY every
    // response waits ~40 ms for the client's delayed ACK of the first
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    val keepAlive = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(base + "/mcp/health")).build()
    def timed(): Double = {
      val t0 = System.nanoTime()
      assert(keepAlive.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 3).foreach(_ => timed()) // connection set-up and warm-up
    val ms = (1 to 20).map(_ => timed()).sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, s"median ${median} ms over ${ms.mkString(", ")}")
  }

  test("MCP health probe reports liveness and entity counts") {
    val r = get("/mcp/health")
    assert(r.statusCode() == 200)
    val j = mapper.readTree(r.body())
    assert(j.get("status").asText() == "healthy")
    assert(j.get("tools_count").asInt() >= 5)
    assert(j.get("mcp_available").asBoolean())
  }

  test("metrics probe surfaces the Arrow stream counters") {
    val r = get("/mcp/metrics")
    assert(r.statusCode() == 200)
    val j = mapper.readTree(r.body())
    val arrow = j.get("arrow")
    assert(arrow != null && arrow.has("total_requests"), r.body())
    assert(arrow.get("active_streams").asInt() >= 0)
  }

  test("refresh-on-write re-materializes the cache and its serve view after a POST") {
    val wh = java.nio.file.Files.createTempDirectory("graft_row_wh")
    val cm = new graft.cache.CacheManager(spark, wh.toString)
    val cfg = CacheConfig(enabled = true, table = "rw_cache", refreshOnWrite = true)
    val loc = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_srv_rw")
    if (loc.exists()) loc.listFiles().foreach(_.delete())
    val ep = ServedEndpoint(
      EndpointConfig(urlPath = "/rw-notes", method = "POST",
        templateSource = "rw.sql", isWrite = true, cache = cfg,
        requestFields = Seq(RequestFieldConfig("note", required = true,
          validators = Seq(ValidatorConfig("string", min = 1, max = 100))))),
      """DROP TABLE IF EXISTS srv_rw_notes;
        |CREATE TABLE srv_rw_notes (note STRING) USING parquet LOCATION '{{conn.loc}}';
        |INSERT INTO srv_rw_notes VALUES ({{params.note}});
        |SELECT note FROM srv_rw_notes""".stripMargin,
      connProps = Map("loc" -> loc.getAbsolutePath),
      cacheTemplate = Some("SELECT note FROM srv_rw_notes"))
    val srv = new GraftServer(spark, Seq(ep), cacheManager = Some(cm)).start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/rw-notes"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString("""{"note":"cached-after-write"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 201)
      // the write itself triggered the cache refresh...
      val cached = cm.table(cfg).read().collect().map(_.getString(0))
      assert(cached.contains("cached-after-write"))
      // ...and the serve view reflects it
      val viaView = spark.sql("SELECT note FROM cache.rw_cache").collect().map(_.getString(0))
      assert(viaView.contains("cached-after-write"))
    } finally srv.stop()
  }

  test("MCP initialize, tools/list, tools/call") {
    val init = rpc("""{"jsonrpc":"2.0","id":1,"method":"initialize"}""")
    assert(init.get("result").get("serverInfo").get("name").asText() == "graft")
    val tools = rpc("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
    val names = tools.get("result").get("tools").elements()
    val nameSet = Iterator.continually(names).takeWhile(_.hasNext)
      .map(_.next().get("name").asText()).toSet
    assert(nameSet.contains("customers"))
    val call = rpc(
      """{"jsonrpc":"2.0","id":3,"method":"tools/call",
        |"params":{"name":"customers","arguments":{"segment":"B"}}}""".stripMargin)
    val text = call.get("result").get("content").get(0).get("text").asText()
    val rows = mapper.readTree(text)
    assert(rows.size() == 2)
    assert(rows.get(0).get("segment").asText() == "B")
  }

  test("MCP response shaping caps rows") {
    val call = rpc(
      """{"jsonrpc":"2.0","id":4,"method":"tools/call",
        |"params":{"name":"customers","arguments":{}}}""".stripMargin)
    val rows = mapper.readTree(
      call.get("result").get("content").get(0).get("text").asText())
    assert(rows.size() == 2) // shape.maxRows = 2 of 4
  }

  test("MCP _dryRun returns rendered SQL without executing") {
    val call = rpc(
      """{"jsonrpc":"2.0","id":5,"method":"tools/call",
        |"params":{"name":"customers","arguments":{"id":"7","_dryRun":true}}}""".stripMargin)
    val res = call.get("result")
    assert(res.get("_meta").get("dryRun").asBoolean())
    val sql = res.get("content").get(0).get("text").asText()
    assert(sql.contains("FROM srv_customers"))
    assert(sql.contains("AND id = 7")) // in-section ref rendered (validated int)
  }

  test("openapi.json documents endpoints, params, and inferred response schema") {
    val j = mapper.readTree(get("/openapi.json").body())
    assert(j.get("openapi").asText() == "3.0.0")
    val paths = j.get("paths")
    assert(paths.has("/customers") && paths.has("/customers/{id}") && paths.has("/notes"))
    val getOp = paths.get("/customers").get("get")
    val params = getOp.get("parameters")
    assert(params.get(0).get("name").asText() == "id")
    assert(params.get(0).get("schema").get("type").asText() == "integer")
    val props = getOp.get("responses").get("200").get("content")
      .get("application/json").get("schema").get("properties")
      .get("data").get("items").get("properties")
    assert(props.get("key").get("type").asText() == "integer")
    assert(props.get("name").get("type").asText() == "string")
  }

  test("unknown route 404s; unknown rpc method errors") {
    assert(get("/nope").statusCode() == 404)
    val bad = rpc("""{"jsonrpc":"2.0","id":6,"method":"bogus"}""")
    assert(bad.get("error").get("code").asInt() == -32601)
  }
}
