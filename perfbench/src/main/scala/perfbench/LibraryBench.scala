package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{QueryDef, SparkEntry, Tables}

/** query_library: the declared queries of `SparkEntry.sets`, forced with
  * the noop sink as `graft.Bench` does — one cold pass in a fresh JVM
  * (planning and code generation), then at least `minWarmPasses` warm
  * passes. */
final class LibraryBench(o: Opts, root: SparkSession, rep: Report) {

  /** Family name of a query set: CoreQueries -> core. */
  def family(s: graft.QuerySet): String =
    s.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries").toLowerCase

  /** The measured queries: the first `LibraryBench.perFamily` declared
    * queries of every family, in declaration order. */
  val picked: Seq[(String, QueryDef)] =
    SparkEntry.sets.flatMap(s => s.defs.take(LibraryBench.perFamily).map(family(s) -> _))

  private def force(spark: SparkSession, q: QueryDef): Unit =
    q.build(spark, o.dataDir).write.format("noop").mode("overwrite").save()

  /** Time one pass; a failing query counts as failed and yields no time. */
  private def pass(spark: SparkSession, tag: String, tracer: Option[Tracer],
                   counter: Option[JobCounter]): Seq[(String, QueryDef, Option[Long])] =
    picked.map { case (fam, q) =>
      val id = s"$tag:${q.name}"
      counter.foreach(_ => spark.sparkContext.setJobGroup(id, q.name, interruptOnCancel = false))
      val t0 = System.nanoTime()
      val ok = try {
        tracer match {
          case Some(t) => t.span(id, "request")(t.span(id, s"library.$fam")(force(spark, q)))
          case None => force(spark, q)
        }
        true
      } catch { case e: Exception =>
        rep.note(s"${q.name} failed in the $tag pass: ${String.valueOf(e.getMessage).take(300)}")
        false
      } finally if (counter.isDefined) spark.sparkContext.clearJobGroup()
      (fam, q, if (ok) Some(System.nanoTime() - t0) else None)
    }

  def run(): Unit = {
    val spark = root.newSession()
    Tables.register(spark, o.dataDir)
    rep.metric("setup_s", Jvm.uptimeS, "s")
    rep.info("queries", picked.size)

    val tracer = if (o.trace) Some(new Tracer) else None
    val counter = if (o.trace) Some(new JobCounter) else None
    counter.foreach(spark.sparkContext.addSparkListener)

    val cold = pass(spark, "cold", tracer, counter)
    val untracedWarm = if (o.trace) Some(pass(spark, "plain", None, None)) else None
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    // whole warm passes, at least minWarmPasses, while the run's seconds last; a
    // query's warm time is its best pass, as graft.Bench takes it, so one
    // disturbed pass does not move the result
    val warm = mutable.ArrayBuffer.empty[Seq[(String, QueryDef, Option[Long])]]
    while (warm.size < LibraryBench.minWarmPasses || System.nanoTime() - t0 < o.seconds * 1e9)
      warm += pass(spark, s"warm${warm.size}", tracer, counter)
    val gcMs = Jvm.gcMillis - gc0

    val all = cold ++ warm.flatten
    rep.attempted(all.size)
    rep.failed(all.count(_._3.isEmpty))
    val best = picked.indices.flatMap { i =>
      val runs = warm.map(_(i)._3)
      if (runs.forall(_.isDefined)) Some(Stats.ms(runs.flatten.min)) else None
    }
    val bestS = best.sum / 1e3
    rep.metric("p50_ms", Stats.median(best), "ms")
    rep.metric("tail_ms", Stats.tail(best), "ms")
    rep.info("tail_percentile", Stats.TailName); rep.info("samples", best.size)
    rep.metric("ops_per_s", picked.size / bestS, "1/s")
    // no 1 s limit here: batch queries near it would flip in and out of the
    // count from run to run; a query that failed in any pass is a miss
    rep.metric("goodput_rps", best.size / bestS, "1/s")
    rep.metric("cold_s", cold.flatMap(_._3).sum / 1e9, "s")
    rep.metric("warm_s", bestS, "s")
    rep.info("warm_pass_s", warm.map(_.flatMap(_._3).sum / 1e9).toSeq)
    rep.metric("error_rate", all.count(_._3.isEmpty).toDouble / all.size, "ratio")

    writeResults(spark, 1 + warm.size)

    (tracer, counter) match {
      case (Some(t), Some(c)) =>
        rep.layer("jvm.gc_ms", gcMs.toDouble, "ms")
        c.settle()
        spark.sparkContext.removeSparkListener(c)
        t.write(java.nio.file.Paths.get(o.traceFile))
        rep.info("trace_file", o.traceFile)
        perFamily(cold, warm.toSeq, c)
        val spans = t.spans
        val roots = spans.filter(_.name == "request")
        val covered = spans.filter(_.name.startsWith("library.")).map(_.nanos).sum
        val total = roots.map(_.nanos).sum
        rep.layer("unattributed.ms", Stats.ms(total - covered) / math.max(1, roots.size), "ms")
        rep.layer("trace.coverage", if (total == 0) 0.0 else covered.toDouble / total, "ratio")
        rep.layer("trace.requests", roots.size.toDouble, "count")
        Layers.predictCoverage(rep, o.workload)
        // one untraced pass against the median traced pass
        val plainS = untracedWarm.get.flatMap(_._3).sum / 1e9
        val tracedS = Stats.median(warm.map(_.flatMap(_._3).sum / 1e9).toSeq)
        rep.layer("trace.overhead_pct", 100.0 * (tracedS - plainS) / plainS, "%")
      case _ => rep.info("jvm_gc_ms", gcMs)
    }
  }

  private def perFamily(cold: Seq[(String, QueryDef, Option[Long])],
                        warm: Seq[Seq[(String, QueryDef, Option[Long])]], c: JobCounter): Unit =
    SparkEntry.sets.map(family).foreach { fam =>
      val names = picked.filter(_._1 == fam).map(_._2.name)
      val coldMs = cold.filter(_._1 == fam).flatMap(_._3).map(n => Stats.ms(n)).sum
      // per query its best warm run, summed over the family
      val warmMs = names.map { n =>
        val xs = warm.flatten.filter(_._2.name == n).flatMap(_._3).map(x => Stats.ms(x))
        if (xs.isEmpty) 0.0 else xs.min
      }.sum
      // Spark work of the family's queries in the first warm pass
      val counts = names.flatMap(n => c.get(s"warm0:$n"))
      def sum(f: c.Counts => Long) = counts.map(f).sum.toDouble
      rep.layer(s"library.$fam.cold_ms", coldMs, "ms")
      rep.layer(s"library.$fam.warm_ms", warmMs, "ms")
      rep.layer(s"library.$fam.jobs", sum(_.jobs.get()), "count")
      rep.layer(s"library.$fam.tasks", sum(_.tasks.get()), "count")
      rep.layer(s"library.$fam.shuffle_mb", sum(_.shuffleBytes.get()) / 1e6, "MB")
      rep.layer(s"library.$fam.spill_mb", sum(_.spillBytes.get()) / 1e6, "MB")
    }

  /** Each query's result as parquet plus its DuckDB oracle, for run.py to
    * compare outside the timed passes; a mismatch fails all `runs` runs. */
  private def writeResults(spark: SparkSession, runs: Int): Unit = {
    val out = s"${o.workDir}/library_out"
    // two writers at a time: the writes are not timed, and each query's
    // state (temp views, snapshot directories) is its own
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val writes = picked.map { case (fam, q) =>
        pool.submit(new java.util.concurrent.Callable[Option[Map[String, Any]]] {
          def call(): Option[Map[String, Any]] = try {
            q.build(spark, o.dataDir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
            Some(Map("query" -> q.name, "family" -> fam, "path" -> s"$out/${q.name}",
              "oracle" -> q.oracle.orNull, "count" -> runs))
          } catch { case e: Exception =>
            rep.note(s"${q.name}: result could not be written: ${String.valueOf(e.getMessage).take(300)}")
            rep.failed(1); None
          }
        })
      }
      rep.checks(writes.flatMap(_.get()))
    } finally pool.shutdown()
  }
}

object LibraryBench {
  val perFamily = 1
  val minWarmPasses = 4
}
