package graft.api

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** MCP response shaping (O3) — max-row cap, column redaction, sample
  * mode. Port of /root/reference/src/mcp_response_shaper.cpp:63-98:
  * operates on the serialized JSON payload; non-array payloads pass
  * through unchanged; sample mode returns
  * `{sampled, row_count, columns}` instead of data.
  */
final case class ResponseShape(
    maxRows: Option[Int] = None,
    redactColumns: Set[String] = Set.empty,
    sample: Boolean = false) {
  def isNoOp: Boolean = maxRows.isEmpty && redactColumns.isEmpty && !sample
}

object ResponseShaper {
  val RedactedSentinel = "<redacted>"

  private val mapper = new ObjectMapper()

  /** Sample-mode response built from plan-side aggregates — the caller
    * passes the plan's row count (`PlanCache.count`) + schema, so
    * sampling a 10^9-row endpoint never collects a single row to the
    * driver. */
  def sampleJson(rowCount: Long, columns: Seq[String]): String = {
    val out = mapper.createObjectNode()
    out.put("sampled", true)
    out.put("row_count", rowCount)
    val cols = out.putArray("columns")
    columns.foreach(cols.add)
    mapper.writeValueAsString(out)
  }

  def shape(jsonPayload: String, config: ResponseShape): String = {
    if (config.isNoOp) return jsonPayload
    val parsed =
      try mapper.readTree(jsonPayload)
      catch { case _: Exception => return jsonPayload }
    if (!parsed.isArray) return jsonPayload
    val arr = parsed.asInstanceOf[ArrayNode]

    if (config.sample) {
      val out = mapper.createObjectNode()
      out.put("sampled", true)
      out.put("row_count", arr.size().toLong)
      val columns = out.putArray("columns")
      if (arr.size() > 0 && arr.get(0).isObject)
        arr.get(0).fieldNames().asScala.foreach(columns.add)
      return mapper.writeValueAsString(out)
    }

    val cap = config.maxRows.getOrElse(arr.size())
    val out = mapper.createArrayNode()
    (0 until math.min(cap, arr.size())).foreach { i =>
      val row = arr.get(i)
      if (config.redactColumns.nonEmpty && row.isObject) {
        val obj = row.deepCopy[ObjectNode]()
        config.redactColumns.foreach { c =>
          if (obj.has(c)) obj.put(c, RedactedSentinel)
        }
        out.add(obj)
      } else out.add(row)
    }
    mapper.writeValueAsString(out)
  }
}

/** Route translation (T10): `:param` path segments → regex captures
  * (/root/reference/src/route_translator.cpp:8-42). */
object RouteTranslator {
  private val ParamRe = ":([^/]+)".r

  /** "/users/:id/orders/:oid" → (^/users/([^/]+)/orders/([^/]+)$, [id, oid]) */
  def translate(flapiPath: String): (String, Seq[String]) = {
    val names = ParamRe.findAllMatchIn(flapiPath).map(_.group(1)).toSeq
    val pattern = "^" + ParamRe.replaceAllIn(flapiPath, "([^/]+)") + "$"
    (pattern, names)
  }

  /** Match an actual path; Some(pathParams) on success. */
  def matchAndExtract(routePattern: String, actualPath: String): Option[Map[String, String]] = {
    val (pattern, names) = translate(routePattern)
    pattern.r.findFirstMatchIn(actualPath).map { m =>
      names.zipWithIndex.map { case (n, i) => n -> m.group(i + 1) }.toMap
    }
  }
}

/** Param assembly precedence (T8) — port of
  * request_handler.cpp:385-541.
  *
  * GET:   defaults < path < field-defaults(absent only) < query(wins)
  * write: defaults < path < JSON body (ALL fields, typed→string
  *        flattening, nested obj/array re-serialized as JSON text,
  *        null→"") < field-defaults(absent only) < query(absent only)
  */
object ParamAssembly {
  private val mapper = new ObjectMapper()

  def combineRead(
      defaults: Map[String, String],
      pathParams: Map[String, String],
      fieldDefaults: Map[String, String],
      queryParams: Map[String, String]): Map[String, String] = {
    val base = defaults ++ pathParams
    val withFieldDefaults = fieldDefaults.foldLeft(base) {
      case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v)
    }
    withFieldDefaults ++ queryParams
  }

  def combineWrite(
      defaults: Map[String, String],
      pathParams: Map[String, String],
      jsonBody: Option[String],
      fieldDefaults: Map[String, String],
      queryParams: Map[String, String]): Map[String, String] = {
    val base = defaults ++ pathParams
    val withBody = jsonBody.filter(_.nonEmpty).fold(base) { body =>
      try {
        val node = mapper.readTree(body)
        if (!node.isObject) base
        else node.fields().asScala.foldLeft(base) { (m, e) =>
          m + (e.getKey -> jsonValueToString(e.getValue))
        }
      } catch { case _: Exception => base } // malformed body: other sources only
    }
    val withFieldDefaults = fieldDefaults.foldLeft(withBody) {
      case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v)
    }
    queryParams.foldLeft(withFieldDefaults) {
      case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v)
    }
  }

  /** Typed JSON → flat string per the reference's flattening: scalars
    * print naturally, null → "", objects/arrays re-serialize as JSON
    * text (so templates/validators keep the single string-map model). */
  def jsonValueToString(node: com.fasterxml.jackson.databind.JsonNode): String =
    if (node.isNull) ""
    else if (node.isTextual) node.asText()
    else if (node.isBoolean) node.asBoolean().toString
    else if (node.isIntegralNumber) node.asLong().toString
    else if (node.isNumber) node.asDouble().toString
    else mapper.writeValueAsString(node)
}
