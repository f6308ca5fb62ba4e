package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.api.PlanCache
import graft.cache.CacheManager
import graft.server.{GraftServer, ServedEndpoint}

/** One completed operation of a closed loop. */
final case class Op(q: Req, client: Int, seq: Int, nanos: Long, status: Int,
                    ok: Boolean, bytes: Long, body: Option[Array[Byte]])

/** A booted serving stack: a session with the tables registered, the
  * cache snapshot refreshed, the Derby schema created, and two servers
  * (the second streams Arrow with LZ4). */
final class Stack(val spark: SparkSession, val eps: Seq[ServedEndpoint],
                  val servers: Seq[GraftServer], val jdbcUrl: String) {
  def epMap: Map[String, ServedEndpoint] = eps.map(e => e.config.urlPath.stripPrefix("/") -> e).toMap
  def driver(): HttpDriver = new HttpDriver(servers(0).boundPort, servers(1).boundPort)
  def stop(): Unit = servers.foreach(_.stop())
}

/** read_hot and mixed_rw: `GraftServer` in-process, driven over loopback
  * HTTP by closed-loop clients. */
final class ServeBench(o: Opts, root: SparkSession, rep: Report) {
  private val d = Domains(o.rows("customer").toInt, o.rows("orders").toInt)
  private val mapper = new ObjectMapper()
  private val clients = math.min(4, o.cpus)
  /** BASELINE's interactive latency limit: a slower answer is a miss */
  private val limitNanos = 1e9.toLong
  private val dbCount = new AtomicLong

  /** The timed stream, which the clients of one closed loop share. */
  private def stream(): Iterator[Req] =
    if (o.workload == "read_hot") Workloads.hotStream(o.seed, hotSet)
    else Workloads.mixedStream(o.seed, 0, d)
  private lazy val hotSet = Workloads.hotSet(o.seed, d)

  /** The requests the warm-up sends once: the whole fixed set for
    * read_hot, the first 8 requests of a stream the timed loops do not
    * use for mixed_rw. */
  private def warmSet: Seq[Req] =
    if (o.workload == "read_hot") hotSet
    else Workloads.mixedStream(o.seed, 99, d).take(8).toSeq

  private def newDb(): String = {
    val url = s"jdbc:derby:memory:perfbench_${dbCount.incrementAndGet()};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(Endpoints.productsDdl) finally c.close()
    url
  }

  /** Session, tables, Derby schema, cache snapshot and servers; returns
    * the stack and the cache refresh time (ms). */
  private def setUp(): (Stack, Double) = {
    val spark = root.newSession()
    graft.Tables.register(spark, o.dataDir)
    val jdbcUrl = newDb()
    val eps = Endpoints.served(jdbcUrl)
    val cm = new CacheManager(spark, s"${o.workDir}/cache_wh")
    val t0 = System.nanoTime()
    eps.filter(_.config.cache.enabled).foreach(e => cm.refresh(e.config, e.cacheTemplate.get))
    val refreshMs = Stats.ms(System.nanoTime() - t0)
    val servers = Seq(Endpoints.wire, Endpoints.wireLz4).map(w =>
      new GraftServer(spark, eps, cacheManager = Some(cm), wire = w).start())
    (new Stack(spark, eps, servers, jdbcUrl), refreshMs)
  }

  /** Apply `f` to every item, spread over `clients` threads that each
    * own one HTTP client; results keep the items' order. */
  private def parallel[T, R](items: Seq[T], stack: Stack)(f: (HttpDriver, T) => R): Seq[R] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val futures = items.indices.groupBy(_ % clients).values.toSeq.map { idx =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, R)]] {
          def call(): Seq[(Int, R)] = {
            val drv = stack.driver()
            idx.map(i => i -> f(drv, items(i)))
          }
        })
      }
      val byIndex = futures.flatMap(_.get()).toMap
      items.indices.map(byIndex)
    } finally pool.shutdown()
  }

  /** Send every warm-up request once, spread over the clients. */
  private def warmUp(stack: Stack): Seq[(Req, Array[Byte])] =
    parallel(warmSet, stack) { (drv, q) =>
      val (status, body) = drv.send(q)
      if (status != 200 && status != 201)
        throw new IllegalStateException(s"warm-up ${q.key} answered $status: " +
          new String(body, UTF_8).take(300))
      q -> body
    }

  // ---- output checks ---------------------------------------------------

  /** reference body per request key (read_hot: every repeat of a
    * request must return these bytes) */
  private val reference = mutable.LinkedHashMap.empty[String, (Req, Array[Byte])]

  private def writeReadBack(q: Req, body: Array[Byte]): Boolean = try {
    val j = mapper.readTree(body)
    val row = j.path("data").path(0)
    val want = q.params.toMap
    j.path("rows_affected").asLong() == 1 &&
      row.path("ID").asLong() == want("id").toLong &&
      row.path("NAME").asText() == want("name") &&
      math.abs(row.path("PRICE").asDouble() - want("price").toDouble) < 1e-9
  } catch { case _: Exception => false }

  private def check(q: Req, status: Int, body: Array[Byte]): Boolean =
    if (q.isWrite) status == 201 && writeReadBack(q, body)
    else status == 200 && reference.get(q.key).forall(r => java.util.Arrays.equals(r._2, body))

  // ---- closed loop -------------------------------------------------------

  /** Run `clients` closed-loop clients for `seconds`; a request started
    * before the deadline is waited for and counted. */
  private def closedLoop(seconds: Double)(exec: (Int, Int, Req) => (Int, Array[Byte]))
      : (Seq[Op], Double) = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val it = stream()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var seq = 0
        while (System.nanoTime() < deadline) {
          val q = it.synchronized(it.next())
          val s = System.nanoTime()
          val (status, body) =
            try exec(c, seq, q)
            catch { case e: Exception =>
              System.err.println(s"[perfbench] ${q.key} failed: $e"); (-1, Array.emptyByteArray) }
          val n = System.nanoTime() - s
          val keep = o.workload == "mixed_rw" && !q.isWrite
          ops.add(Op(q, c, seq, n, status, check(q, status, body), body.length,
            if (keep) Some(body) else None))
          seq += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ended = (System.nanoTime() - t0) / 1e9
    (ops.toArray(Array.empty[Op]).toSeq, ended)
  }

  // ---- run ---------------------------------------------------------------

  def run(): Unit = {
    val (stack, refreshMs) = setUp()
    val w0 = Jvm.uptimeS
    warmUp(stack).foreach { case (q, body) =>
      if (o.workload != "mixed_rw") reference(q.key) = (q, body) }
    rep.metric("setup_s", Jvm.uptimeS, "s")
    rep.info("warm_up_s", Jvm.uptimeS - w0)
    rep.layer("cache.refresh_ms", refreshMs, "ms")

    val drivers = (0 until clients).map(_ => stack.driver())
    val gc0 = Jvm.gcMillis
    val (ops, secs) = closedLoop(o.seconds)((c, _, q) => drivers(c).send(q))
    val gcMs = Jvm.gcMillis - gc0
    endToEnd(ops, secs)
    checks(stack, ops)
    if (o.trace) traced(stack, ops)
    else rep.info("jvm_gc_ms", gcMs)
    stack.stop()
  }

  private def endToEnd(ops: Seq[Op], secs: Double): Unit = {
    val lat = ops.map(op => Stats.ms(op.nanos))
    val okOps = ops.filter(_.ok)
    rep.attempted(ops.size); rep.failed(ops.count(!_.ok))
    rep.metric("p50_ms", Stats.median(lat), "ms")
    rep.metric("tail_ms", Stats.tail(lat), "ms")
    rep.info("tail_percentile", Stats.TailName); rep.info("samples", ops.size)
    rep.metric("ops_per_s", ops.size / secs, "1/s")
    rep.metric("goodput_rps", okOps.count(_.nanos <= limitNanos) / secs, "1/s")
    rep.info("goodput_limit_s", limitNanos / 1e9)
    rep.metric("mb_per_s", ops.map(_.bytes).sum / 1e6 / secs, "MB/s")
    val (w, r) = ops.partition(_.q.isWrite)
    def split(prefix: String, xs: Seq[Op]): Unit = if (xs.nonEmpty) {
      val l = xs.map(op => Stats.ms(op.nanos))
      rep.metric(s"${prefix}_p50_ms", Stats.median(l), "ms")
      rep.metric(s"${prefix}_tail_ms", Stats.tail(l), "ms")
      rep.info(s"${prefix}_samples", xs.size)
    }
    split("read", r); split("write", w)
    rep.metric("error_rate", ops.count(!_.ok).toDouble / math.max(1, ops.size), "ratio")
  }

  /** Hand the output checks that need an independent engine to run.py:
    * reference bodies (read_hot) with the number of timed
    * responses that matched them, and a seeded sample of mixed_rw reads. */
  private def checks(stack: Stack, ops: Seq[Op]): Unit = {
    val matched = ops.filter(_.ok).groupBy(_.q.key).map { case (k, v) => k -> v.size }
    def entry(q: Req, body: Array[Byte], count: Int): Map[String, Any] = {
      val base = Map("ep" -> q.ep, "mcp" -> q.mcp, "fmt" -> q.fmt,
        "params" -> q.params.toMap, "count" -> count)
      q.fmt match {
        case "csv" => val (n, s) = Decode.csv(body, "l_partkey"); base ++ Map("rows" -> n, "checksum" -> s)
        case "arrow" | "arrow_lz4" => val (n, s) = Decode.arrow(body, "l_partkey")
          base ++ Map("rows" -> n, "checksum" -> s)
        case _ => base + ("body" -> new String(body, UTF_8))
      }
    }
    val entries =
      if (o.workload == "mixed_rw") {
        // re-execute a seeded sample of the timed reads after the window:
        // the answer must not have changed, and DuckDB must agree with it
        val rnd = new java.util.SplittableRandom(o.seed ^ 0x5eedL)
        val reads = ops.filter(op => op.ok && !op.q.isWrite).toIndexedSeq
        val sample = Seq.fill(math.min(12, reads.size))(reads(rnd.nextInt(reads.size))).distinct
        parallel(sample, stack) { (drv, op) =>
          val (status, body) = drv.send(op.q)
          if (status != 200 || !java.util.Arrays.equals(body, op.body.get)) {
            rep.note(s"re-executed ${op.q.key} answered differently after the window")
            rep.failed(1)
          }
          entry(op.q, body, 1)
        }
      } else reference.values.toSeq.map { case (q, body) => entry(q, body, matched.getOrElse(q.key, 0)) }
    rep.checks(entries)
    if (o.workload == "mixed_rw") {
      // every committed write is in the table, once
      val c = java.sql.DriverManager.getConnection(stack.jdbcUrl)
      val n = try { val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM products")
        rs.next(); rs.getLong(1) } finally c.close()
      val committed = ops.count(op => op.q.isWrite && op.ok)
      val expected = committed + warmSet.count(_.isWrite)
      if (n != expected) {
        rep.note(s"write check: products holds $n rows, expected $expected")
        rep.failed(math.abs(n - expected).toInt)
      }
      rep.info("writes_committed", committed)
    }
  }

  // ---- traced run --------------------------------------------------------

  private def traced(stack: Stack, httpOps: Seq[Op]): Unit = {
    val spark = stack.spark
    val httpP50 = Stats.median(httpOps.map(op => Stats.ms(op.nanos)))
    // server shell: the health probe does no query work
    val drv = stack.driver()
    (0 until 20).foreach(_ => drv.get("/mcp/health"))
    val shell = (0 until 60).map { _ =>
      val t0 = System.nanoTime(); drv.get("/mcp/health"); Stats.ms(System.nanoTime() - t0)
    }
    rep.layer("server.shell_ms", Stats.median(shell), "ms")

    // replays write into their own Derby table so the seeded INSERT keys
    // never collide with the HTTP run's
    def replayEps(): Map[String, ServedEndpoint] = {
      val url = newDb()
      stack.epMap.map { case (k, e) =>
        k -> (if (e.config.isWrite) e.copy(connProps = e.connProps + ("url" -> url)) else e)
      }
    }

    // fidelity: the in-process path must produce the server's bytes
    val fidelity = new Replay(spark, replayEps(), None)
    val rnd = new java.util.SplittableRandom(o.seed ^ 0xf1dL)
    val reads = httpOps.filter(op => op.ok && !op.q.isWrite).map(_.q).distinctBy(_.key)
    val sample = (0 until math.min(16, reads.size)).map(_ => reads(rnd.nextInt(reads.size))).distinctBy(_.key)
    val mismatched = parallel(sample, stack) { (d, q) =>
      q -> !java.util.Arrays.equals(d.send(q)._2, fidelity.run(q, "fidelity").body)
    }.collect { case (q, true) => q }
    mismatched.foreach(q => rep.note(s"fidelity: replay body differs from HTTP for ${q.key}"))
    rep.failed(mismatched.size)
    rep.layer("trace.fidelity_checked", sample.size, "count")

    // untraced replay (half a window: it only gives the overhead's base),
    // then the traced one, same streams and clients; before each, rebuild
    // the warm-up's plans, so none reaches the cache's TTL inside a window
    val plain = new Replay(spark, replayEps(), None)
    def refill(): Unit = {
      PlanCache.invalidateAll()
      warmSet.filterNot(_.isWrite).foreach(q => plain.run(q, "warm"))
    }
    refill()
    val (plainOps, _) = closedLoop(o.seconds / 2)((c, s, q) => {
      val out = plain.run(q, s"$c-$s"); (out.status, out.body) })
    val tracer = new Tracer
    val replay = new Replay(spark, replayEps(), Some(tracer))
    refill()
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val gc0 = Jvm.gcMillis
    val (tracedOps, _) = closedLoop(o.seconds)((c, s, q) => {
      val id = s"$c-$s"
      spark.sparkContext.setJobGroup(id, q.ep, interruptOnCancel = false)
      try { val out = replay.run(q, id); rows.put(id, out.rows); (out.status, out.body) }
      finally spark.sparkContext.clearJobGroup()
    })
    rep.layer("jvm.gc_ms", (Jvm.gcMillis - gc0).toDouble, "ms")
    counter.settle()
    spark.sparkContext.removeSparkListener(counter)
    tracer.write(java.nio.file.Paths.get(o.traceFile))
    rep.info("trace_file", o.traceFile)

    // a replayed request fails like an HTTP one (same checks); it counts
    // as a failed operation and its spans stay out of the layer figures
    val replayOps = plainOps ++ tracedOps
    rep.attempted(replayOps.size)
    rep.failed(replayOps.count(!_.ok))
    replayOps.filterNot(_.ok).map(_.q.key).distinct.take(5).foreach(k =>
      rep.note(s"replay: a request for $k failed its check"))
    val okOps = tracedOps.filter(_.ok)

    val tracedP50 = Stats.median(okOps.map(op => Stats.ms(op.nanos)))
    val plainP50 = Stats.median(plainOps.filter(_.ok).map(op => Stats.ms(op.nanos)))
    rep.layer("server.overhead_ms", httpP50 - tracedP50, "ms")
    rep.layer("trace.overhead_pct", 100.0 * (tracedP50 - plainP50) / plainP50, "%")
    rep.info("replay_p50_ms", Map("http" -> httpP50, "untraced" -> plainP50, "traced" -> tracedP50))

    val byId = okOps.map(op => s"${op.client}-${op.seq}" -> op).toMap
    val layers = Layers.fromSpans(tracer.spans.filter(s => byId.contains(s.req)), id =>
      byId.get(id).map(op => (op.q, op.bytes, Option(rows.get(id)).fold(0L)(_.longValue))))
    layers.report(rep)

    val lookups = layers.count("plan")
    val misses = byId.keys.count(replay.missed.contains)
    rep.layer("plan.lookups", lookups, "count")
    rep.layer("plan.hit_ratio", if (lookups == 0) 0.0 else 1.0 - misses.toDouble / lookups, "ratio")
    rep.layer("plan.invalidations", replay.invalidations.get().toDouble, "count")
    rep.info("plan_hits_over_lookups", s"${lookups - misses}/$lookups")
    val hitsByEp = okOps.filterNot(_.q.isWrite).groupBy(_.q.ep).toSeq.sortBy(_._1).map {
      case (ep, xs) =>
        val ids = xs.map(op => s"${op.client}-${op.seq}")
        ep -> s"${ids.count(i => !replay.missed.contains(i))}/${ids.size}"
    }
    rep.info("plan_hits_by_endpoint", hitsByEp.toMap)

    def perReq(ids: Seq[String], f: counter.Counts => Long): Double =
      if (ids.isEmpty) 0.0 else ids.map(i => counter.get(i).map(f).getOrElse(0L)).sum.toDouble / ids.size
    val allIds = byId.keys.toSeq
    val readIds = okOps.filterNot(_.q.isWrite).map(op => s"${op.client}-${op.seq}")
    rep.layer("exec.jobs_per_req", perReq(readIds, _.jobs.get()), "count")
    rep.layer("exec.tasks_per_req", perReq(readIds, _.tasks.get()), "count")
    rep.layer("exec.rows_per_req",
      if (readIds.isEmpty) 0.0 else readIds.map(i => Option(rows.get(i)).fold(0L)(_.longValue)).sum.toDouble / readIds.size,
      "count")
    def idsOf(ep: String) = okOps.filter(op => op.q.ep == ep && !op.q.mcp).map(op => s"${op.client}-${op.seq}")
    val paged = perReq(idsOf("customers"), _.jobs.get())
    val unpaged = perReq(idsOf("customer"), _.jobs.get())
    rep.layer("exec.jobs_per_req_paged", paged, "count")
    rep.layer("exec.jobs_per_req_unpaged", unpaged, "count")
    rep.info("spark_jobs_over_requests", s"${allIds.map(i => counter.get(i).fold(0L)(_.jobs.get())).sum}/${allIds.size}")

    // the workload design, checked on the trace
    Layers.predictCoverage(rep, o.workload)
    val hit = rep.layerValue("plan.hit_ratio")
    if (o.workload == "read_hot")
      rep.prediction("plan.hit_ratio >= 0.95 on read_hot", hit >= 0.95, f"$hit%.4f")
    else rep.prediction("plan.hit_ratio <= 0.05 on mixed_rw", hit <= 0.05,
      f"$hit%.4f; hits/lookups by endpoint: " + hitsByEp.map { case (e, h) => s"$e $h" }.mkString(", "))
    rep.prediction("paginated reads run more Spark jobs per request than the same template unpaginated",
      paged > unpaged, f"paged $paged%.2f vs unpaged $unpaged%.2f jobs/request")
    if (o.workload == "mixed_rw") {
      val prep = Seq("validate", "template", "dialect").map(l => rep.layerValue(s"$l.ms")).sum
      val readP50 = Stats.median(httpOps.filterNot(_.q.isWrite).map(op => Stats.ms(op.nanos)))
      rep.prediction("validate + template + dialect take under 2% of the read p50 on mixed_rw",
        prep < 0.02 * readP50, f"$prep%.3f ms of $readP50%.1f ms")
    }
  }
}
