package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** Registers the driver-provided parquet tables (TESTDATA.md) as temp views.
  *
  * Mirrors the reference's connection-init step (flapi registers sources via
  * init SQL per connection, /root/reference/src/database_manager.cpp:272-302);
  * here the "connection" is a scale-factor directory and the views are the
  * TPC-H-ish tables.
  *
  * Registration is cached per session and keyed by the *current* directory:
  * if a later call asks for a different dir on the same session, the views
  * are re-registered (temp views are global per session, so a stale cache
  * key would silently serve the previous dir's data). Concurrent callers
  * block inside compute() until the views exist.
  *
  * Views are plain parquet scans — Catalyst pushes filters and prunes
  * columns into the scan, which is exactly what we want at 100 TB (only the
  * referenced columns/row-groups are read).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session -> dir currently registered on that session (WeakHashMap
  // semantics via SessionMemo: entry lifetime == session lifetime, no
  // identity-hash reuse aliasing a fresh session onto a dead one)
  private val registered = new graft.operators.SessionMemo[String, String]()

  /** Idempotently create one temp view per table over `dir`; re-register if
    * the session previously pointed at a different dir OR the data under
    * the same dir was rewritten (the registered key carries the dir's
    * generation token — a temp view snapshots its parquet file listing at
    * creation, so without this a mid-session rewrite would serve the dead
    * listing; r10 verdict #5 / DirMemoSpec). */
  def register(spark: SparkSession, dir: String): Unit = {
    val genKey =
      s"$dir@${graft.operators.SessionMemo.generationOf(spark, dir)}"
    registered.compute(spark, "dir") { prev =>
      if (!prev.contains(genKey)) {
        // The driver may hand us a session it built itself (entry()); make
        // sure nanos-timestamp parquet (events.ts) is readable in it too.
        try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        catch { case _: org.apache.spark.sql.AnalysisException => () }
        // and that graft's native functions resolve on a session built
        // without GraftFunctions.register
        graft.functions.GraftFunctions.install(spark)
        names.foreach { n =>
          val p = s"$dir/$n.parquet"
          if (new java.io.File(p).exists() || dir.contains("://")) {
            var df = spark.read.parquet(p)
            // events.ts normalization — the driver's generator has shipped
            // two physical shapes across rounds, both µs-precision data:
            //  * TIMESTAMP(NANOS), which Spark reads as LongType under
            //    spark.sql.legacy.parquet.nanosAsLong (set above) —
            //    convert nanos→micros (lossless);
            //  * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
            //    infers as TIMESTAMP_NTZ — cast to TIMESTAMP (session TZ
            //    is UTC everywhere, so the µs values are unchanged and
            //    unix_micros/window arithmetic keep working).
            // Restricted to the events table: any other long 'ts' column
            // (epoch millis, a counter) must not be rewritten.
            if (n == "events") {
              df.schema.fields.find(_.name == "ts").map(_.dataType) match {
                case Some(LongType) =>
                  df = df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
                case Some(org.apache.spark.sql.types.TimestampNTZType) =>
                  df = df.withColumn("ts",
                    df("ts").cast(org.apache.spark.sql.types.TimestampType))
                case _ => ()
              }
            }
            df.createOrReplaceTempView(n)
          }
        }
      }
      genKey
    }
  }

  /** Register views then run a SQL query against them. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    register(spark, dir)
    spark.table(name)
  }
}
