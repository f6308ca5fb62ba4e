package perfbench

import java.util.SplittableRandom

import graft.config._
import graft.queries.EndpointQueries
import graft.server.{ServedEndpoint, WireConfig}

/** One request as the benchmark generates it. The program sees only
  * what this describes: a REST GET/POST or an MCP `tools/call`.
  *
  * @param ep     endpoint id (its url path without the leading slash)
  * @param params request parameters, in URL order
  * @param fmt    json | csv | arrow | arrow_lz4 (arrow_lz4 = the Arrow
  *               request sent to the server configured with LZ4)
  */
final case class Req(ep: String, params: Seq[(String, String)],
                     mcp: Boolean = false, fmt: String = "json") {
  def isWrite: Boolean = ep == "products"
  /** identity of the response: equal keys must get equal bodies */
  def key: String =
    (if (mcp) "mcp:" else "rest:") + ep + "?" +
      params.map { case (k, v) => s"$k=$v" }.mkString("&") + s"#$fmt"
}

/** The served endpoints: the program's canonical customers template, a
  * keyset page, a DISTINCT ON shape, an order with its lines as a list of
  * structs, a cache-served summary, a JDBC write, and a line-item slice
  * served as CSV, Arrow and LZ4-compressed Arrow. */
object Endpoints {
  val cacheTable = "pb_nation_summary"

  val customers: EndpointConfig = EndpointQueries.customersEndpoint
  val customer: EndpointConfig =
    customers.copy(urlPath = "/customer", withPagination = false)

  private def intField(n: String) =
    RequestFieldConfig(n, validators = Seq(ValidatorConfig("int")))

  val nationSummaryCache: String =
    """SELECT n_nationkey, n_name, count(*) AS customers,
      |  round(sum(c_acctbal), 2) AS balance
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_nationkey, n_name""".stripMargin

  def served(jdbcUrl: String): Seq[ServedEndpoint] = Seq(
    ServedEndpoint(customers, EndpointQueries.customersTemplate),
    ServedEndpoint(customer, EndpointQueries.customersTemplate),
    ServedEndpoint(
      EndpointConfig(urlPath = "/orders-page", templateSource = "orders_page.sql",
        paginationKeyset = Some("o_orderkey")),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders""".stripMargin),
    ServedEndpoint(
      EndpointConfig(urlPath = "/latest-order", templateSource = "latest_order.sql",
        withPagination = false, requestFields = Seq(intField("lo"), intField("hi"))),
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN {{params.lo}} AND {{params.hi}}
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin),
    ServedEndpoint(
      EndpointConfig(urlPath = "/order-lines", templateSource = "order_lines.sql",
        withPagination = false, requestFields = Seq(intField("id"))),
      """SELECT o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
        |  o.o_totalprice AS total,
        |  list_sort(list({'line': l.l_linenumber, 'part': l.l_partkey,
        |    'qty': l.l_quantity, 'price': l.l_extendedprice})) AS lines
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey = {{params.id}}
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice""".stripMargin),
    ServedEndpoint(
      EndpointConfig(urlPath = "/nation-summary", templateSource = "nation_summary.sql",
        withPagination = false, requestFields = Seq(intField("nation")),
        cache = CacheConfig(enabled = true, table = cacheTable)),
      """SELECT n_nationkey, n_name, customers, balance
        |FROM {{cache.schema}}.{{cache.table}}
        |WHERE n_nationkey = {{params.nation}}""".stripMargin,
      cacheTemplate = Some(nationSummaryCache)),
    ServedEndpoint(
      EndpointConfig(urlPath = "/products", method = "POST",
        templateSource = "products_create.sql", isWrite = true,
        requestFields = Seq(intField("id"),
          RequestFieldConfig("name", validators = Seq(ValidatorConfig("string"))),
          RequestFieldConfig("price", validators = Seq(ValidatorConfig("number"))))),
      """INSERT INTO products (id, name, price)
        |VALUES ({{params.id}}, {{params.name}}, {{params.price}});
        |SELECT id, name, price FROM products WHERE id = {{params.id}}""".stripMargin,
      connProps = Map("type" -> "jdbc", "url" -> jdbcUrl)),
    ServedEndpoint(
      EndpointConfig(urlPath = "/lineitem-slice", templateSource = "lineitem_slice.sql",
        withPagination = false, requestFields = Seq(intField("maxkey"))),
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus
        |FROM lineitem WHERE l_orderkey < {{params.maxkey}}""".stripMargin))

  val productsDdl = "CREATE TABLE products (id BIGINT PRIMARY KEY, name VARCHAR(64), price DOUBLE)"

  val wire: WireConfig = WireConfig()
  val wireLz4: WireConfig = WireConfig(arrowCodec = Some("lz4"))
}

/** Table sizes the request generators draw parameters from. */
final case class Domains(customers: Int, orders: Int)

/** Seeded request streams. The clients of a closed loop share one
  * stream, so any window holds whole cycles of it plus one partial cycle,
  * whatever the clients' relative speeds; stream `n` of seed `s` is the
  * same sequence in every run, so the replays draw the requests the HTTP
  * run drew. */
object Workloads {
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Line-item slices select the orders below orders / sliceDivisor:
    * about 600 rows at sf0.1. */
  val sliceDivisor = 1000

  /** read_hot: a fixed set of 40 distinct reads, 9 of them over MCP and
    * 3 of them a line-item slice as CSV, Arrow and LZ4 Arrow. */
  def hotSet(seed: Long, d: Domains): IndexedSeq[Req] = {
    val r = new SplittableRandom(seed * 7919 + 1)
    def cust() = r.nextInt(d.customers).toString
    def ord() = r.nextInt(d.orders).toString
    def lo() = r.nextInt(math.max(1, d.customers - 50))
    val rest =
      Seq.fill(8)(Req("customer", Seq("id" -> cust()))) ++
      Seq.fill(6)(Req("customers", Seq("segment" -> segments(r.nextInt(5)),
        "offset" -> (100 * r.nextInt(20)).toString, "limit" -> "100"))) ++
      Seq.fill(4)(Req("orders-page", Seq("after" -> ord(), "limit" -> "100"))) ++
      Seq.fill(3)({ val l = lo(); Req("latest-order", Seq("lo" -> l.toString, "hi" -> (l + 50).toString)) }) ++
      Seq.fill(4)(Req("order-lines", Seq("id" -> ord()))) ++
      Seq.fill(3)(Req("nation-summary", Seq("nation" -> r.nextInt(25).toString))) ++
      Seq("csv", "arrow", "arrow_lz4").map(f => Req("lineitem-slice",
        Seq("maxkey" -> (d.orders / sliceDivisor).toString), fmt = f))
    val mcp =
      Seq.fill(3)(Req("customer", Seq("id" -> cust()), mcp = true)) ++
      Seq.fill(2)({ val l = lo(); Req("latest-order", Seq("lo" -> l.toString, "hi" -> (l + 50).toString), mcp = true) }) ++
      Seq.fill(2)(Req("order-lines", Seq("id" -> ord()), mcp = true)) ++
      Seq.fill(2)(Req("nation-summary", Seq("nation" -> r.nextInt(25).toString), mcp = true))
    (rest ++ mcp).toIndexedSeq
  }

  /** Each cycle of a stream is a fresh seeded shuffle of `items`, so any
    * window holds the items in their declared proportions. */
  private def cycles[T](r: SplittableRandom, items: IndexedSeq[T]): Iterator[T] =
    Iterator.continually {
      val a = items.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.iterator.map(_.asInstanceOf[T])
    }.flatten

  /** The read_hot stream: the fixed set, reshuffled every cycle. */
  def hotStream(seed: Long, set: IndexedSeq[Req]): Iterator[Req] =
    cycles(new SplittableRandom(seed * 31), set)

  /** The request kinds of one mixed_rw cycle: 2 writes and 18 reads, 4 of
    * the reads over MCP. */
  private val mixedCycle: IndexedSeq[(String, Boolean)] = IndexedSeq(
    "products" -> false, "products" -> false,
    "customer" -> false, "customer" -> false, "customer" -> false, "customer" -> true,
    "customers" -> false, "customers" -> false, "customers" -> false,
    "orders-page" -> false, "orders-page" -> false, "orders-page" -> false,
    "latest-order" -> false, "latest-order" -> false, "latest-order" -> true,
    "order-lines" -> false, "order-lines" -> false, "order-lines" -> true,
    "nation-summary" -> false, "nation-summary" -> true)

  /** mixed_rw stream `n`: the kinds of `mixedCycle`, reshuffled every
    * cycle, each with fresh parameters; a write inserts a fresh key. */
  def mixedStream(seed: Long, n: Int, d: Domains): Iterator[Req] = {
    val r = new SplittableRandom(seed * 131 + n)
    var nextKey = n.toLong * 10000000L
    def cents(lo: Double, hi: Double) =
      "%.2f".formatLocal(java.util.Locale.ROOT, lo + r.nextDouble() * (hi - lo))
    cycles(r, mixedCycle).map { case (ep, mcp) =>
      def bal = "min_balance" -> cents(-999.99, 5000)
      ep match {
        case "products" =>
          nextKey += 1
          Req(ep, Seq("id" -> nextKey.toString, "name" -> s"product-$nextKey",
            "price" -> cents(1, 1000)))
        case "customer" => Req(ep, Seq("id" -> r.nextInt(d.customers).toString, bal), mcp)
        case "customers" => Req(ep, Seq(bal, "offset" -> r.nextInt(10001).toString, "limit" -> "100"))
        case "orders-page" => Req(ep, Seq("after" -> r.nextInt(d.orders).toString, "limit" -> "100"))
        case "latest-order" => val l = r.nextInt(math.max(1, d.customers - 50))
          Req(ep, Seq("lo" -> l.toString, "hi" -> (l + 50).toString), mcp)
        case "nation-summary" => Req(ep, Seq("nation" -> r.nextInt(25).toString), mcp)
        case _ => Req(ep, Seq("id" -> r.nextInt(d.orders).toString), mcp)
      }
    }
  }
}
