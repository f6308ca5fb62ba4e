package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.{Paginator, ParamAssembly, PlanCache, ResponseShaper}
import graft.dialect.DuckDialect
import graft.serialize.{ArrowWire, CsvWire, JsonWire}
import graft.server.ServedEndpoint
import graft.template.{Mustache, PreparedRewriter, TemplateContext, ValueConverter}
import graft.validate.RequestValidator

/** A client of one server pair over loopback HTTP. Each closed-loop
  * client owns one, so its MCP session id is reused like a real MCP
  * client's. */
final class HttpDriver(port: Int, portLz4: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  @volatile private var mcpSession: Option[String] = None

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  def get(path: String): (Int, Array[Byte]) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  def send(q: Req): (Int, Array[Byte]) = {
    val p = if (q.fmt == "arrow_lz4") portLz4 else port
    val base = s"http://127.0.0.1:$p"
    val req =
      if (q.mcp) {
        val b = HttpRequest.newBuilder(URI.create(s"$base/mcp/jsonrpc"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(Replay.mcpCall(q)))
        mcpSession.foreach(b.header("Mcp-Session-Id", _))
        b.build()
      } else if (q.isWrite)
        HttpRequest.newBuilder(URI.create(s"$base/${q.ep}"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(Replay.jsonObject(q.params))).build()
      else {
        val fmt = if (q.fmt == "json") Nil else Seq("format" -> q.fmt.stripSuffix("_lz4"))
        val qs = (q.params ++ fmt).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
        HttpRequest.newBuilder(URI.create(
          s"$base/${q.ep}" + (if (qs.isEmpty) "" else qs.mkString("?", "&", "")))).build()
      }
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (q.mcp && mcpSession.isEmpty)
      mcpSession = Option(r.headers().firstValue("Mcp-Session-Id").orElse(null))
    (r.statusCode(), r.body())
  }
}

/** What one replayed request produced. */
final case class Out(status: Int, body: Array[Byte], rows: Long)

/** The serving path in-process: the program's public functions called in
  * the order `GraftServer`'s read, MCP `tools/call` and write handlers
  * call them, minus the HTTP shell. With a tracer, every call is a span
  * of the request; the response bytes are the ones the server sends, which
  * the fidelity check confirms on a sample.
  *
  * The plan-cache build closure adds the request id to `missed`, so a
  * lookup whose request is not there was a hit. `invalidations` counts
  * the writes' `PlanCache.invalidateAll` calls.
  */
final class Replay(spark: SparkSession, eps: Map[String, ServedEndpoint],
                   tracer: Option[Tracer]) {
  private val mapper = new ObjectMapper()
  private val cap = Endpoints.wire.defaultRowCap
  val missed: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val invalidations = new AtomicLong

  private def t[T](req: String, name: String)(f: => T): T =
    tracer.fold(f)(_.span(req, name)(f))

  /** TemplatePipeline.prepare, one span per layer. */
  private def prepare(id: String, ep: ServedEndpoint,
                      params: Map[String, String]): (String, Array[Any]) = {
    val cfg = ep.config
    val withDefaults = t(id, "validate") {
      val wd = cfg.requestFields.foldLeft(params) { (m, f) =>
        if (m.contains(f.fieldName)) m else f.defaultValue.fold(m)(d => m + (f.fieldName -> d))
      }
      val unknown =
        if (cfg.requestFieldsValidation)
          RequestValidator.validateUnknownParams(cfg.requestFields, wd)
        else Nil
      val errors = RequestValidator.validate(cfg.requestFields, wd) ++ unknown
      if (errors.nonEmpty) throw new IllegalStateException(s"invalid request: $errors")
      wd
    }
    val (rendered, args) = t(id, "template") {
      val rw = PreparedRewriter.rewrite(ep.template, cfg.requestFields)
      val args = rw.bindings.map { b =>
        ValueConverter.convert(b.tpe, withDefaults.get(b.fieldName)) match {
          case ValueConverter.Ok(v) => v.orNull
          case ValueConverter.Err(m) => throw new IllegalStateException(m)
        }
      }.toArray[Any]
      val ctx = TemplateContext.forRequest(withDefaults, ep.connProps)
      (Mustache.render(rw.sql, ctx), args)
    }
    (t(id, "dialect")(DuckDialect.translate(rendered)), args)
  }

  private def plan(id: String, sql: String, args: Array[Any]): DataFrame =
    t(id, "plan") {
      PlanCache.getOrBuild(spark, sql, args.toSeq) {
        missed.add(id)
        if (args.isEmpty) spark.sql(sql) else spark.sql(sql, args)
      }
    }

  private def collect(id: String, df: DataFrame): Array[Row] = t(id, "exec")(df.collect())

  private def fieldDefaults(ep: ServedEndpoint): Map[String, String] =
    ep.config.requestFields.flatMap(f => f.defaultValue.map(f.fieldName -> _)).toMap

  /** The paginated JSON envelope, as the server writes it. */
  private def envelope(rows: String, next: Option[String], total: Long): Array[Byte] =
    s"""{"data":$rows,"next":${next.fold("null")(Replay.quote)},"total_count":$total}"""
      .getBytes(UTF_8)

  private def json(id: String, df: DataFrame, rows: Array[Row]): String =
    t(id, "serialize")(JsonWire.rows(df.schema, rows.iterator).mkString("[", ",", "]"))

  /** Rows pulled from Spark while a serializer runs: time inside
    * hasNext/next is execution, recorded as an `exec` child span. */
  private final class TimedRows(id: String, df: DataFrame) extends Iterator[Row] {
    private var nanos = 0L
    var count = 0L
    private val start = System.nanoTime()
    private val it = { val t0 = System.nanoTime()
      val i = df.toLocalIterator().asScala; nanos += System.nanoTime() - t0; i }
    def hasNext: Boolean = { val t0 = System.nanoTime(); try it.hasNext finally nanos += System.nanoTime() - t0 }
    def next(): Row = { val t0 = System.nanoTime(); count += 1
      try it.next() finally nanos += System.nanoTime() - t0 }
    def done(): Unit = tracer.foreach(_.record(id, "exec", start, nanos))
  }

  private def stream(id: String, df: DataFrame, fmt: String): Out = {
    val out = new ByteArrayOutputStream()
    val rows = t(id, "serialize") {
      val it = new TimedRows(id, df)
      fmt match {
        case "csv" => CsvWire.stream(df.schema, it, out)
        case _ =>
          val wire = if (fmt == "arrow_lz4") Endpoints.wireLz4 else Endpoints.wire
          ArrowWire.stream(df.schema, it, out, wire.arrowBatchRows,
            wire.arrowCodec.map(ArrowWire.codecOf))
      }
      it.done()
      it.count
    }
    Out(200, out.toByteArray, rows)
  }

  def run(q: Req, id: String): Out = t(id, "request") {
    val ep = eps(q.ep)
    if (q.isWrite) write(id, ep, q)
    else if (q.mcp) mcp(id, ep, q)
    else read(id, ep, q)
  }

  private def read(id: String, ep: ServedEndpoint, q: Req): Out = {
    val cfg = ep.config
    val query = q.params.toMap ++ (if (q.fmt == "json") Nil else Seq("format" -> q.fmt.stripSuffix("_lz4")))
    val params = ServedEndpoint.withCacheNamespace(ep,
      ParamAssembly.combineRead(Map.empty, Map.empty, fieldDefaults(ep), query))
    val (sql, args) = prepare(id, ep, params)
    val df = plan(id, sql, args)
    if (cfg.withPagination && cfg.paginationKeyset.isDefined) {
      val (_, lim) = Paginator.params(params)
      val page = t(id, "exec")(Paginator.keysetPaginate(df, cfg.paginationKeyset.get,
        params.get("after").filter(_.nonEmpty), lim, basePath = cfg.urlPath))
      val body = t(id, "serialize")(envelope(
        JsonWire.rows(page.schema, page.rows.iterator).mkString("[", ",", "]"), page.next, page.totalCount))
      Out(200, body, page.rows.length)
    } else if (cfg.withPagination) {
      val (off, lim) = Paginator.params(params)
      val page = t(id, "exec.count")(Paginator.paginate(df, off, lim, basePath = cfg.urlPath))
      val rows = collect(id, page.data)
      val body = t(id, "serialize")(envelope(
        JsonWire.rows(page.data.schema, rows.iterator).mkString("[", ",", "]"), page.next, page.totalCount))
      Out(200, body, rows.length)
    } else if (q.fmt == "json") {
      val limited = df.limit(cap)
      val rows = collect(id, limited)
      Out(200, json(id, limited, rows).getBytes(UTF_8), rows.length)
    } else stream(id, df, q.fmt)
  }

  private def mcp(id: String, ep: ServedEndpoint, q: Req): Out = {
    val args = ServedEndpoint.withCacheNamespace(ep, q.params.toMap)
    val (sql, bind) = prepare(id, ep, args)
    val limited = plan(id, sql, bind).limit(ep.shape.maxRows.getOrElse(cap))
    val rows = collect(id, limited)
    val body = t(id, "serialize") {
      val shaped = ResponseShaper.shape(json(id, limited, rows), ep.shape)
      s"""{"jsonrpc":"2.0","id":1,"result":{"content":[{"type":"text","text":${Replay.quote(shaped)}}]}}"""
    }
    Out(200, body.getBytes(UTF_8), rows.length)
  }

  private def write(id: String, ep: ServedEndpoint, q: Req): Out = {
    val cfg = ep.config
    val params = ServedEndpoint.withCacheNamespace(ep, ParamAssembly.combineWrite(
      Map.empty, Map.empty, Some(Replay.jsonObject(q.params)), fieldDefaults(ep), Map.empty))
    val r = t(id, "write") {
      val r = graft.write.JdbcWriteExecutor.executeWrite(ep.connProps("url"), cfg,
        ep.template, params, returnsData = cfg.returnsData, ep.connProps,
        maxReturnedRows = cap)
      PlanCache.invalidateAll()
      invalidations.incrementAndGet()
      r
    }
    val data = r.returnedData.map(rows => mapper.writeValueAsString(rows
      .map(m => m.asInstanceOf[Map[String, AnyRef]].asJava).toArray))
    val body = data match {
      case Some(d) => s"""{"rows_affected":${r.rowsAffected},"data":$d}"""
      case None => s"""{"rows_affected":${r.rowsAffected}}"""
    }
    Out(if (r.rowsAffected > 0) 201 else 200, body.getBytes(UTF_8), r.returnedData.fold(0)(_.size))
  }
}

object Replay {
  def quote(s: String): String = { val b = new StringBuilder; JsonWire.appendString(b, s); b.toString }

  def jsonObject(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")

  def mcpCall(q: Req): String =
    s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":${Json.str(q.ep)},""" +
      s""""arguments":${jsonObject(q.params)}}}"""
}

/** Row count and a column checksum of a CSV or Arrow response, decoded
  * the way a client would (LZ4 frames included). */
object Decode {
  def csv(body: Array[Byte], column: String): (Long, Long) = {
    val lines = new String(body, UTF_8).split("\n")
    val idx = lines.head.split(",").indexOf(column)
    require(idx >= 0, s"CSV has no column $column")
    var sum = 0L
    lines.iterator.drop(1).filter(_.nonEmpty).foreach(l => sum += l.split(",")(idx).toLong)
    (lines.count(_.nonEmpty) - 1L, sum)
  }

  def arrow(body: Array[Byte], column: String): (Long, Long) = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.BigIntVector
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val alloc = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(body), alloc,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
      try {
        var rows = 0L; var sum = 0L
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          val v = root.getVector(column).asInstanceOf[BigIntVector]
          var i = 0
          while (i < root.getRowCount) { sum += v.get(i); i += 1 }
          rows += root.getRowCount
        }
        (rows, sum)
      } finally reader.close()
    } finally alloc.close()
  }
}
