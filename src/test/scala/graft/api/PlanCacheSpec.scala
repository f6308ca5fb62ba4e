package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.server.{GraftServer, ServedEndpoint}

/** SURVEY §4.2c serving plan cache: repeated identical requests reuse
  * the analyzed DataFrame and the executable views built on it (row cap,
  * pages, COUNT); different bound values, or any config/cache
  * invalidation, build fresh. */
class PlanCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]").appName("plan-cache-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ss = spark
    import ss.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "tag")
      .createOrReplaceTempView("pc_t")
    val loc = java.nio.file.Files.createTempDirectory("graft_pc_rows").resolve("t")
    spark.sql(s"CREATE TABLE pc_rows (id BIGINT) USING parquet LOCATION '$loc'")
    spark.sql("INSERT INTO pc_rows VALUES (1), (2), (3)")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val ep = EndpointConfig(urlPath = "/pc", templateSource = "pc.sql",
    requestFields = Seq(RequestFieldConfig("id",
      validators = Seq(ValidatorConfig("int")))))
  private val template =
    "SELECT id, tag FROM pc_t WHERE 1=1 {{#params.id}} AND id = {{params.id}} {{/params.id}}"

  private def run(params: Map[String, String]) =
    TemplatePipeline.run(spark, ep, template, params)

  test("identical requests reuse the analyzed plan; different binds do not") {
    PlanCache.invalidateAll()
    val a1 = run(Map("id" -> "2"))
    val a2 = run(Map("id" -> "2"))
    assert(a1 eq a2, "identical request did not hit the plan cache")
    assert(a1.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val b = run(Map("id" -> "3"))
    assert(!(b eq a1), "different bound value must not reuse the plan")
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // section-presence changes the rendered SQL → different key
    val c = run(Map.empty)
    assert(!(c eq a1) && c.count() == 3)
  }

  test("invalidateAll drops cached plans (cache refresh / config change hook)") {
    PlanCache.invalidateAll()
    val a = run(Map("id" -> "1"))
    PlanCache.invalidateAll()
    val b = run(Map("id" -> "1"))
    assert(!(a eq b), "invalidation must force a rebuild")
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a repeated page re-executes the same page and COUNT views") {
    PlanCache.invalidateAll()
    val p1 = Paginator.paginate(run(Map.empty), 1, 1)
    val before = PlanCache.stats
    val p2 = Paginator.paginate(run(Map.empty), 1, 1)
    val after = PlanCache.stats
    assert(p1.data eq p2.data, "the page view was rebuilt")
    assert(p2.totalCount == 3 && p2.next.contains("?offset=2&limit=1"))
    assert(after.hits - before.hits == 1)
    assert(after.viewHits - before.viewHits == 2 && after.viewBuilds == before.viewBuilds,
      s"$before -> $after")
    assert(PlanCache.countView(run(Map.empty)) eq PlanCache.countView(run(Map.empty)))
    assert(PlanCache.rowCap(run(Map.empty), 2) eq PlanCache.rowCap(run(Map.empty), 2))
    assert(!(PlanCache.rowCap(run(Map.empty), 2) eq PlanCache.rowCap(run(Map.empty), 1)))
    val k1 = Paginator.keysetPage(run(Map.empty), "id", Some("1"), 1)
    assert(Paginator.keysetPage(run(Map.empty), "id", Some("1"), 1) eq k1)
    assert(k1.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(!(Paginator.keysetPage(run(Map.empty), "id", Some("2"), 1) eq k1))
  }

  test("invalidateAll drops the views with their base plan") {
    PlanCache.invalidateAll()
    val a = run(Map("id" -> "1"))
    val capped = PlanCache.rowCap(a, 5)
    val count = PlanCache.countView(a)
    PlanCache.invalidateAll()
    assert(PlanCache.stats.entries == 0, "invalidated plans stayed in the cache")
    // the old base is no longer a live entry: its views are built afresh
    assert(!(PlanCache.rowCap(a, 5) eq capped))
    assert(!(PlanCache.countView(a) eq count))
    val b = run(Map("id" -> "1"))
    assert(!(b eq a) && !(PlanCache.rowCap(b, 5) eq capped))
    assert(PlanCache.count(b) == 1)
  }

  test("an expired base takes its views with it; the rebuilt base gets fresh ones") {
    PlanCache.invalidateAll()
    val a = run(Map("id" -> "3"))
    val capped = PlanCache.rowCap(a, 5)
    val count = PlanCache.countView(a)
    val start = System.currentTimeMillis()
    PlanCache.clock = () => start + 31000L
    try {
      val b = run(Map("id" -> "3"))
      assert(!(b eq a), "an entry outlived the TTL")
      assert(PlanCache.stats.entries == 1, "the expired base's views stayed cached")
      val capped2 = PlanCache.rowCap(b, 5)
      val count2 = PlanCache.countView(b)
      assert(!(capped2 eq capped) && !(count2 eq count), "a view outlived the TTL")
      assert(PlanCache.rowCap(b, 5) eq capped2)
      assert(PlanCache.countView(b) eq count2)
      assert(PlanCache.count(b) == 1)
    } finally PlanCache.clock = () => System.currentTimeMillis()
  }

  test("views the LRU kept after evicting their base are not served on its rebuild") {
    PlanCache.invalidateAll()
    val a = run(Map("id" -> "3"))
    val capped = PlanCache.rowCap(a, 5)
    val count = PlanCache.countView(a)
    // the views stay recently used; the base itself ages out
    (1 to 256).foreach { i =>
      run(Map("id" -> (1000 + i).toString))
      PlanCache.rowCap(a, 5)
      PlanCache.countView(a)
    }
    val b = run(Map("id" -> "3"))
    assert(!(b eq a), "the base was not evicted")
    assert(!(PlanCache.rowCap(b, 5) eq capped))
    assert(!(PlanCache.countView(b) eq count))
    assert(PlanCache.count(b) == 1)
  }

  test("a client I/O failure keeps the cached view") {
    PlanCache.invalidateAll()
    val v = PlanCache.countView(run(Map.empty))
    intercept[java.io.IOException](
      PlanCache.dropOnFailure(v)(throw new java.io.IOException("client went away")))
    assert(PlanCache.countView(run(Map.empty)) eq v)
  }

  test("a view of a plan that was never cached is built fresh every time") {
    val df = spark.table("pc_t")
    assert(!(PlanCache.rowCap(df, 2) eq PlanCache.rowCap(df, 2)))
    assert(PlanCache.count(df) == 3)
  }

  test("300 keyset cursors on one base plan stay within the 256-entry bound") {
    PlanCache.invalidateAll()
    val base = run(Map.empty)
    val before = PlanCache.stats
    (1 to 300).foreach(i => Paginator.keysetPage(run(Map.empty), "id", Some(i.toString), 1))
    val after = PlanCache.stats
    assert(after.viewBuilds - before.viewBuilds == 300)
    assert(after.entries == 256, after)
    // the base plan is in use on every request, so the LRU kept it
    assert(run(Map.empty) eq base)
  }

  test("a view whose execution failed is dropped, not re-run") {
    // an adaptive plan that failed once fails on every re-execution,
    // even when the cause is gone: the next request must plan afresh
    spark.udf.register("pc_flaky", (x: Long) => {
      if (PlanCacheSpec.failing) throw new IllegalStateException("transient"); x
    })
    val flaky = "SELECT id FROM pc_rows WHERE pc_flaky(id) > 0"
    PlanCache.invalidateAll()
    val df = TemplatePipeline.run(spark, ep, flaky, Map.empty)
    PlanCacheSpec.failing = true
    try intercept[Exception](PlanCache.count(df))
    finally PlanCacheSpec.failing = false
    assert(TemplatePipeline.run(spark, ep, flaky, Map.empty) eq df)
    assert(PlanCache.count(df) == spark.table("pc_rows").count())
  }

  test("a paginated GET after a POST shows the new total_count") {
    val read = ServedEndpoint(
      EndpointConfig(urlPath = "/pc-rows", templateSource = "pc_rows.sql"),
      "SELECT id FROM pc_rows ORDER BY id")
    val write = ServedEndpoint(
      EndpointConfig(urlPath = "/pc-rows", method = "POST", templateSource = "pc_add.sql",
        isWrite = true, returnsData = false,
        requestFields = Seq(RequestFieldConfig("id", required = true,
          validators = Seq(ValidatorConfig("int"))))),
      "INSERT INTO pc_rows VALUES ({{params.id}})")
    val server = new GraftServer(spark, Seq(read, write)).start()
    val client = HttpClient.newHttpClient()
    val mapper = new ObjectMapper()
    val url = URI.create(s"http://127.0.0.1:${server.boundPort}/pc-rows")
    def total(): Long = mapper.readTree(client.send(HttpRequest.newBuilder(url).build(),
      HttpResponse.BodyHandlers.ofString()).body()).get("total_count").asLong()
    try {
      assert(total() == 3)
      val before = PlanCache.stats
      assert(total() == 3)
      assert(PlanCache.stats.viewHits - before.viewHits == 2, "the COUNT view was not reused")
      val posted = client.send(HttpRequest.newBuilder(url)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"id": 9}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(posted.statusCode() == 201, posted.body())
      assert(total() == 4)
    } finally server.stop()
  }
}

object PlanCacheSpec {
  @volatile var failing = false
}
