package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `term_counts` is the in-row replacement for a corpus-sized
  * `groupBy(doc_id, term).count()` exchange (tfidf tf build,
  * repetition_signals bigram multiplicities) — its multiplicities must
  * therefore equal the explode + GROUP BY form EXACTLY, including
  * empty-string tokens. */
class TermCountsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]").appName("term-counts-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("multiplicities, empties and the empty array") {
    val rows = spark.sql(
      "SELECT term_counts(array('b', 'a', 'b', '', 'a', 'b')) AS tc, " +
        "term_counts(CAST(array() AS ARRAY<STRING>)) AS empty").collect().head
    val tc = rows.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(tc == Map("a" -> 2L, "b" -> 3L, "" -> 1L))
    assert(rows.getSeq[Any](1).isEmpty)
  }

  test("NULL elements are skipped, folded as a literal or read from a column") {
    def counts(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(
      _.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1))))
    val folded = spark.sql("SELECT term_counts(array('a', NULL, 'b', 'a'))").collect()
    val fromColumn = spark.range(2)
      .selectExpr("array('a', IF(id < 5, NULL, 'x'), 'b', 'a') AS toks")
      .selectExpr("term_counts(toks)").collect()
    assert(counts(folded) == Seq(Seq("a" -> 2L, "b" -> 1L)))
    assert(counts(fromColumn) == Seq.fill(2)(Seq("a" -> 2L, "b" -> 1L)))
    assert(counts(spark.sql("SELECT term_counts(array(CAST(NULL AS STRING)))")
      .collect()) == Seq(Seq.empty))
  }

  test("equals explode + GROUP BY count on the real corpus (uni- and bigrams)") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Seq("split(text, ' ')", "word_shingles(text, 2)").foreach { arr =>
      val viaKernel = docs
        .selectExpr("doc_id", s"explode(term_counts($arr)) AS tc")
        .selectExpr("doc_id", "tc.t AS t", "tc.c AS c")
      val viaGroupBy = docs
        .selectExpr("doc_id", s"explode($arr) AS t")
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      assert(viaKernel.exceptAll(viaGroupBy).isEmpty &&
        viaGroupBy.exceptAll(viaKernel).isEmpty,
        s"term_counts($arr) diverges from explode + GROUP BY")
    }
  }

  test("derived aggregates: sum of counts is array size, count is distinct size") {
    val bad = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("split(text, ' ') AS w")
      .selectExpr(
        "aggregate(term_counts(w).c, 0L, (a, x) -> a + x) = size(w) AS total_ok",
        "size(term_counts(w)) = size(array_distinct(w)) AS distinct_ok")
      .filter("NOT total_ok OR NOT distinct_ok")
    assert(bad.isEmpty, "term_counts totals diverge from size/array_distinct")
  }
}
