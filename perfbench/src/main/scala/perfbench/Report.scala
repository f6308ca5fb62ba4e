package perfbench

import scala.collection.mutable

/** Command line of the JVM side; run.py fills it in. `rows` holds the
  * row count of every table in `dataDir`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      dataDir: String, workDir: String, resultFile: String,
                      traceFile: String, rows: Map[String, Long], cpus: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rows = m("rows").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("result"), m("trace-file"), rows, m("cpus").toInt)
  }
}

/** Everything a run measured, written as one JSON file for run.py. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val infos = mutable.LinkedHashMap.empty[String, Any]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val predictions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var checkList: Seq[Map[String, Any]] = Nil
  private var nAttempted = 0L
  private var nFailed = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def layerValue(name: String): Double = layers.get(name).fold(Double.NaN)(_._1)
  def info(name: String, v: Any): Unit = infos(name) = v
  def note(s: String): Unit = synchronized { notes += s }
  def prediction(what: String, held: Boolean, measured: String): Unit =
    predictions += Map("prediction" -> what, "held" -> held, "measured" -> measured)
  def checks(entries: Seq[Map[String, Any]]): Unit = checkList = entries
  def attempted(n: Long): Unit = nAttempted += n
  def failed(n: Long): Unit = synchronized { nFailed += n }

  def write(path: String): Unit = {
    def vals(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val json = Json(Map(
      "attempted" -> nAttempted, "failed" -> nFailed,
      "metrics" -> vals(metrics), "layers" -> vals(layers), "info" -> infos,
      "notes" -> notes, "predictions" -> predictions, "checks" -> checkList))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

/** Per-layer self time from the spans of a traced replay. A span's self
  * time is its duration minus its children's; a request's unattributed
  * time is the self time of its root span. */
final class Layers(perReq: Seq[(Option[Req], Map[String, Long], Long, Long)],
                   spans: Seq[Span]) {
  def count(name: String): Long = spans.count(_.name == name).toLong

  private def selfOf(name: String): Seq[Double] =
    perReq.flatMap(_._2.get(name)).map(n => Stats.ms(n))

  def report(rep: Report): Unit = {
    def p50(name: String) = { val x = selfOf(name); if (x.isEmpty) 0.0 else Stats.median(x) }
    def p99(name: String) = { val x = selfOf(name); if (x.isEmpty) 0.0 else Stats.pct(x, 0.99) }
    Seq("validate", "template", "dialect").foreach(l => rep.layer(s"$l.ms", p50(l), "ms"))
    val planSpans = spans.filter(_.name == "plan").map(s => Stats.ms(s.nanos))
    rep.layer("plan.ms_p50", if (planSpans.isEmpty) 0.0 else Stats.median(planSpans), "ms")
    rep.layer("plan.ms_p99", if (planSpans.isEmpty) 0.0 else Stats.pct(planSpans, 0.99), "ms")
    rep.layer("exec.ms_p50", p50("exec"), "ms")
    rep.layer("exec.ms_p99", p99("exec"), "ms")
    rep.layer("exec.count_ms", p50("exec.count"), "ms")
    rep.layer("write.ms_p50", p50("write"), "ms")
    rep.layer("write.ms_p99", p99("write"), "ms")
    Seq("json", "csv", "arrow", "arrow_lz4").foreach { f =>
      val of = perReq.filter(r => r._1.exists(q => !q.isWrite && q.fmt == f))
      val ser = of.flatMap(_._2.get("serialize")).map(n => Stats.ms(n))
      rep.layer(s"serialize.${f}_ms", if (ser.isEmpty) 0.0 else Stats.median(ser), "ms")
      val rows = of.map(_._4).sum
      val bytes = of.map(_._3).sum
      rep.layer(s"serialize.${f}_bytes_per_row", if (rows == 0) 0.0 else bytes.toDouble / rows, "B")
    }
    val roots = perReq.map(_._2.getOrElse("request", 0L))
    val total = spans.filter(s => s.name == "request").map(_.nanos).sum
    rep.layer("unattributed.ms", if (perReq.isEmpty) 0.0 else Stats.ms(roots.sum) / perReq.size, "ms")
    rep.layer("trace.coverage", if (total == 0) 0.0 else 1.0 - roots.sum.toDouble / total, "ratio")
    rep.layer("trace.requests", perReq.size.toDouble, "count")
  }
}

object Layers {
  /** The traced run must account for its requests' time in layer spans. */
  def predictCoverage(rep: Report, workload: String): Unit = {
    val c = rep.layerValue("trace.coverage")
    rep.prediction(s"layer spans cover at least 90% of traced request time on $workload",
      c >= 0.9, f"coverage $c%.4f, unattributed ${rep.layerValue("unattributed.ms")}%.3f ms per request")
  }

  /** @param info request id -> (request, response bytes, rows) */
  def fromSpans(spans: Seq[Span], info: String => Option[(Req, Long, Long)]): Layers = {
    val children = spans.groupBy(_.parent)
    val perReq = spans.groupBy(_.req).toSeq.flatMap { case (id, ss) =>
      ss.find(s => s.name == "request" && s.parent == -1).map { _ =>
        val self = ss.map(s => s.name ->
          (s.nanos - children.getOrElse(s.id, Nil).map(_.nanos).sum))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
        val i = info(id)
        (i.map(_._1), self, i.fold(0L)(_._2), i.fold(0L)(_._3))
      }
    }
    new Layers(perReq, spans)
  }
}
