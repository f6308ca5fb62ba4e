package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.EndpointConfig
import graft.dialect.DuckDialect
import graft.template._
import graft.validate.{RequestValidator, ValidationError}

/** The request query lifecycle, minus the HTTP shell — flapi's hot path
  * (SURVEY §3.1 steps 3-9) re-expressed on Spark:
  *
  *   params → validate → prepared-rewrite → Mustache render → dialect
  *   shim → `spark.sql(sql, positionalArgs)` → DataFrame
  *
  * Binding goes through Spark's parameterized SQL: every `?` becomes a
  * typed literal in the parsed plan, never string-spliced — structurally
  * injection-proof exactly like the reference's duckdb_bind_* path.
  */
object TemplatePipeline {

  final case class BadRequest(errors: Seq[ValidationError])
      extends RuntimeException(
        errors.map(e => s"${e.field}: ${e.message}").mkString("; "))

  /** Validate, rewrite, render, translate. Returns the final Spark SQL and
    * the ordered bind values (null = SQL NULL for absent params). */
  def prepare(
      endpoint: EndpointConfig,
      template: String,
      params: Map[String, String],
      connProps: Map[String, String] = Map.empty,
      envAllow: String => Boolean = _ => false,
      duckDialect: Boolean = true): Either[Seq[ValidationError], (String, Array[Any])] = {

    // 1. defaults for declared-but-absent fields
    val withDefaults = endpoint.requestFields.foldLeft(params) { (m, f) =>
      if (m.contains(f.fieldName)) m
      else f.defaultValue.fold(m)(d => m + (f.fieldName -> d))
    }

    // 2. validation (+ optional unknown-param rejection)
    val unknown =
      if (endpoint.requestFieldsValidation)
        RequestValidator.validateUnknownParams(endpoint.requestFields, withDefaults)
      else Nil
    val errors = RequestValidator.validate(endpoint.requestFields, withDefaults) ++ unknown
    if (errors.nonEmpty) return Left(errors)

    // 3. prepared rewrite on the RAW template (before any rendering, so
    //    bindable {{params.X}} can never be spliced as text)
    val rewrite = PreparedRewriter.rewrite(template, endpoint.requestFields)

    // 4. typed conversion of bind values, in position order
    val argsOrErr: Either[Seq[ValidationError], Array[Any]] = {
      val out = Array.newBuilder[Any]
      val errs = Seq.newBuilder[ValidationError]
      rewrite.bindings.foreach { b =>
        ValueConverter.convert(b.tpe, withDefaults.get(b.fieldName)) match {
          case ValueConverter.Ok(v) => out += v.orNull
          case ValueConverter.Err(m) => errs += ValidationError(b.fieldName, m)
        }
      }
      val e = errs.result()
      if (e.nonEmpty) Left(e) else Right(out.result())
    }
    argsOrErr.flatMap { args =>
      // 5. Mustache render (sections, conn/env/cache/auth, raw triples).
      //    Bound params were already consumed as '?'; sections still see
      //    the param map for presence tests.
      val ctx = TemplateContext.forRequest(withDefaults, connProps, envAllow)
      val rendered = Mustache.render(rewrite.sql, ctx)
      // 6. DuckDB-dialect shim (post-render: struct literals etc. may be
      //    produced inside conditional sections)
      val sql = if (duckDialect) DuckDialect.translate(rendered) else rendered
      Right((sql, args))
    }
  }

  /** prepare + execute; throws BadRequest on validation failure. */
  def run(
      spark: SparkSession,
      endpoint: EndpointConfig,
      template: String,
      params: Map[String, String],
      connProps: Map[String, String] = Map.empty,
      envAllow: String => Boolean = _ => false,
      duckDialect: Boolean = true): DataFrame =
    prepare(endpoint, template, params, connProps, envAllow, duckDialect) match {
      case Left(errs) => throw BadRequest(errs)
      case Right((sql, args)) =>
        PlanCache.getOrBuild(spark, sql, args.toSeq) {
          if (args.isEmpty) spark.sql(sql) else spark.sql(sql, args)
        }
    }
}

/** Plan cache for the serving path (SURVEY §4.2c): repeated identical
  * requests — dashboards, agent retries, reloads of the same page —
  * skip SQL parse and analysis, and, through the executable views,
  * optimization, physical and adaptive planning and code generation.
  *
  * Key = (session, generation, rendered SQL, bound args). The rendered
  * text already encodes the Mustache section-presence bitmap
  * (SURVEY §7.4.5: two requests whose sections differ render different
  * SQL), so shape collisions are impossible. `invalidateAll` bumps the
  * generation — writes, cache-table refreshes and config-API mutations
  * call it, so a cached plan can never serve against a changed world.
  *
  * Next to each base plan the cache keeps the Datasets the serving path
  * executes on it — the row-capped read, an offset or keyset page, the
  * COUNT — under the base key plus a view name. A hit re-executes the
  * same Dataset, so Spark plans it once; an adaptive plan re-executed
  * also skips the shuffle stages whose output is still registered (a
  * COUNT runs only its final stage). A view therefore serves data as
  * fresh as its entry: the generation bump and the TTL bound both.
  * Views share their base's generation and TTL and count against the
  * same LRU bound; a view is served only on the base it was built on,
  * and leaves the cache when that base expires or is replaced.
  */
object PlanCache {
  private val MaxEntries = 256
  /** TTL bounds staleness from OUT-OF-BAND table changes (an external
    * ETL job, a write endpoint with no cache block): generation bumps
    * cover in-engine mutations instantly, the TTL covers everything
    * the engine cannot observe. 30 s is the serving sweet spot —
    * dashboards/retries hit, data freshness stays near-real-time. */
  private val TtlMillis = 30000L
  private val generation = new java.util.concurrent.atomic.AtomicLong(0)
  /** Time source for entry ages; tests move it to expire entries. */
  @volatile private[api] var clock: () => Long = () => System.currentTimeMillis()

  // sessionUUID, not identityHashCode: identity hashes can be reused
  // after a session is GC'd, which would serve a dead session's plan
  // to a fresh one inside the TTL window. `view` is Base for the plan
  // itself, otherwise the name a caller gave its view.
  private final case class Key(session: String, gen: Long, sql: String, args: Seq[Any], view: Any)
  private case object Base
  // `base` is the plan a view was built on (a base plan's own entry
  // holds itself): a view is served only on that very DataFrame
  private final case class Entry(df: DataFrame, builtAt: Long, key: Key, base: DataFrame)
  private val cache = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > MaxEntries
  }

  private val lookups, hits, viewHits, viewBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Counters since start-up; `entries` counts base plans and views. */
  final case class Stats(lookups: Long, hits: Long, misses: Long, viewHits: Long,
      viewBuilds: Long, entries: Int) {
    def toJson: String =
      s"""{"lookups":$lookups,"hits":$hits,"misses":$misses,"view_hits":$viewHits,""" +
        s""""view_builds":$viewBuilds,"entries":$entries}"""
  }

  def stats: Stats = {
    val (l, h) = (lookups.get(), hits.get())
    Stats(l, h, l - h, viewHits.get(), viewBuilds.get(), cache.synchronized(cache.size()))
  }

  /** Drop every cached plan and view. The generation bump keeps a build
    * already in flight from caching what it read before the change. */
  def invalidateAll(): Unit = {
    generation.incrementAndGet()
    cache.synchronized(cache.clear())
  }

  private def live(e: Entry, now: Long): Boolean =
    e.key.gen == generation.get() && now - e.builtAt < TtlMillis

  /** Remove the base plan under `key` and every view of it (caller holds
    * the lock): executed views pin shuffle output and broadcast blocks. */
  private def dropPlan(key: Key): Unit =
    cache.keySet.removeIf(k => k.copy(view = Base) == key)

  /** Cache `e` (caller holds the lock) unless the generation moved on
    * while it was built. */
  private def store(e: Entry): Unit =
    if (e.key.gen == generation.get()) cache.put(e.key, e)

  def getOrBuild(spark: SparkSession, sql: String, args: Seq[Any])(
      build: => DataFrame): DataFrame = {
    val key = Key(graft.operators.SessionMemo.sessionToken(spark), generation.get(), sql, args, Base)
    val now = clock()
    lookups.incrementAndGet()
    cache.synchronized(Option(cache.get(key)).filter(live(_, now))) match {
      case Some(e) => hits.incrementAndGet(); e.df
      case None =>
        val df = build // analysis outside the lock — it can take ~100 ms
        // current_timestamp() & co. are fixed when a plan is optimized:
        // a plan that reads the clock is not cached, so each request
        // plans it, and reads the clock, afresh
        if (!readsClock(df)) cache.synchronized {
          // an expired base goes with its views, and so do views the
          // LRU kept after it evicted their base
          dropPlan(key)
          store(Entry(df, now, key, df))
        }
        df
    }
  }

  private def readsClock(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirstWithSubqueries {
      case p if p.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE) => p
    }.isDefined

  /** The view `name` of a cached base plan, built by `build` on first
    * use. A base that is not a live entry (never cached, evicted,
    * expired, invalidated) gets a fresh, uncached view. */
  def view(base: DataFrame, name: Any)(build: DataFrame => DataFrame): DataFrame = {
    val now = clock()
    val (owner, cached) = cache.synchronized {
      // an identity scan of at most MaxEntries entries
      cache.values.asScala.find(e => (e.df eq base) && e.key.view == Base) match {
        case Some(o) if live(o, now) =>
          // a view under this key built on an earlier base (expired or
          // evicted, then rebuilt) is stale: it is rebuilt, not served
          (Some(o), Option(cache.get(o.key.copy(view = name))).filter(_.base eq base))
        case Some(o) => dropPlan(o.key); (None, None)
        case None => (None, None)
      }
    }
    cached match {
      case Some(v) => viewHits.incrementAndGet(); v.df
      case None =>
        viewBuilds.incrementAndGet()
        val df = build(base)
        owner.foreach { o =>
          cache.synchronized(store(Entry(df, o.builtAt, o.key.copy(view = name), base)))
        }
        df
    }
  }

  def rowCap(base: DataFrame, n: Int): DataFrame = view(base, ("limit", n))(_.limit(n))

  /** The one-row `groupBy().count()` of `base`. */
  def countView(base: DataFrame): DataFrame = view(base, "count")(_.groupBy().count())

  /** Row count of `base`, through its COUNT view. */
  def count(base: DataFrame): Long = {
    val v = countView(base)
    dropOnFailure(v)(v.collect().head.getLong(0))
  }

  /** Run `f`, which executes `df`; if it fails, drop `df` from the cache
    * so no later request re-runs a plan whose execution broke. An I/O
    * failure (the client went away mid-stream) leaves the plan cached. */
  def dropOnFailure[T](df: DataFrame)(f: => T): T =
    try f
    catch {
      case e: java.io.IOException => throw e
      case e: Throwable =>
        cache.synchronized(cache.values.removeIf(_.df eq df))
        throw e
    }
}

/** Pagination + count envelope (O2/A4; reference database_manager.cpp:
  * 429-531): every paginated GET wraps the rendered query in
  * LIMIT/OFFSET and runs a companion COUNT on the same plan, emitting
  * `{data, next, total_count}` plus X-Total-Count/X-Offset/X-Limit/X-Next.
  *
  * Page and COUNT are [[PlanCache]] views of the base plan, so a
  * repeated page re-executes planned Datasets. Scale notes: the count
  * runs on the UN-limited logical plan — no re-render, and Catalyst
  * prunes the count plan down to the scan (columns referenced only in
  * the projection are dropped). The page itself is offset+limit rows
  * through a single partition — fine for the first pages (offset
  * defaults 0, limit 100); DEEP pagination must use keyset instead:
  * `WHERE key > last_seen ORDER BY key LIMIT n` keeps the scan
  * indexed/pruned at any depth, which is the documented scale path
  * (see keysetPage).
  */
object Paginator {
  final case class Page(
      data: DataFrame,
      offset: Long,
      limit: Long,
      totalCount: Long,
      next: Option[String])

  val defaultOffset = 0L
  val defaultLimit = 100L // request_handler.cpp:19-20

  def params(raw: Map[String, String]): (Long, Long) = {
    def num(k: String, dflt: Long): Long =
      raw.get(k).flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(dflt)
    (math.max(0L, num("offset", defaultOffset)), math.max(0L, num("limit", defaultLimit)))
  }

  // Dataset.offset/limit take Int; clamp rather than overflow-wrap for
  // absurd values (deep pagination should use keysetPage regardless).
  private def asInt(v: Long): Int = math.min(v, Int.MaxValue.toLong).toInt

  def paginate(df: DataFrame, offset: Long, limit: Long, basePath: String = ""): Page = {
    val total = PlanCache.count(df)
    // Spark also rejects LIMIT + OFFSET past Int.MaxValue: the offset
    // stays exact, the limit takes what is left of the range
    val off = asInt(offset)
    val lim = math.min(asInt(limit), Int.MaxValue - off)
    val page = PlanCache.view(df, ("page", off, lim))(_.offset(off).limit(lim))
    // `total - offset`, not `offset + limit`: neither side can overflow
    val next =
      if (limit < total - offset) Some(s"$basePath?offset=${offset + limit}&limit=$limit")
      else None
    Page(page, offset, limit, total, next)
  }

  /** Keyset variant for deep pagination: strictly-after `lastSeen` on a
    * unique ordering key. O(page) not O(offset+page) — the plan pushes
    * `key > lastSeen` into the scan. A STRING cursor (every HTTP query
    * param arrives as text) is cast to the key column's own type, or
    * Spark would coerce the COLUMN to string and compare
    * lexicographically — "9" > "10". */
  def keysetPage(df: DataFrame, keyCol: String, lastSeen: Option[Any], limit: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val lim = asInt(limit)
    PlanCache.view(df, ("keyset", keyCol, lastSeen, lim)) { base =>
      val keyType = base.schema(keyCol).dataType
      val filtered = lastSeen.fold(base)(v =>
        base.filter(col(keyCol) > lit(v).cast(keyType)))
      filtered.orderBy(col(keyCol)).limit(lim)
    }
  }

  /** One keyset page + cursor envelope: collects the (limit-bounded)
    * page ONCE, derives the `next` cursor from the last row's key.
    * `next` is present iff the page filled — the deep-page contract:
    * page N's plan is identical in shape to page 1's (pushed
    * `key > cursor` + LIMIT; no OFFSET anywhere). */
  final case class KeysetPage(
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      limit: Long,
      totalCount: Long,
      next: Option[String])

  def keysetPaginate(df: DataFrame, keyCol: String, after: Option[String],
      limit: Long, basePath: String): KeysetPage = {
    val page = keysetPage(df, keyCol, after, limit)
    val rows = PlanCache.dropOnFailure(page)(page.collect())
    // the count prunes to the scan like the offset path's companion
    val total = PlanCache.count(df)
    val next =
      if (rows.length == limit && rows.nonEmpty) {
        val cursor = java.net.URLEncoder.encode(
          String.valueOf(rows.last.getAs[Any](keyCol)), "UTF-8")
        Some(s"$basePath?after=$cursor&limit=$limit")
      } else None
    KeysetPage(rows, page.schema, limit, total, next)
  }
}
