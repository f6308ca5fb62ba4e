package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A session built WITHOUT graft's SparkSessionExtensions must still
  * run every query: Tables.register installs every row of
  * GraftFunctions.kernels — the same Catalyst expressions the
  * extension injects — so both kinds of session compute identical
  * values. */
class FallbackSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var plain: SparkSession = _
  private var extended: SparkSession = _

  /** One fixed input per kernel, as a complete query. */
  private val fixedInputs: Map[String, String] = Map(
    "minhash_sig" -> "SELECT minhash_sig(array('a b c', 'b c d'), 4)",
    "winnow_digest" -> "SELECT winnow_digest('the quick brown fox jumps over')",
    "simhash32" -> "SELECT simhash32(array('the', 'quick', 'fox'))",
    "dot_f64" -> "SELECT dot_f64(array(1.0D, 2.0D), array(3.0D, 4.0D))",
    "pq_code_u6" -> ("SELECT pq_code_u6(array(0.9D, 0.1D), " +
      "array(array(0.0D, 1.0D), array(1.0D, 0.0D)), array(1.0D, 1.0D))"),
    "tokens_in_set" -> "SELECT tokens_in_set(array('the', 'cat', 'the'), array('the'))",
    "quantize_u8" -> "SELECT quantize_u8(array(0.0D, 1.0D, 0.5D))",
    "cdc_bounds" -> ("SELECT cdc_bounds('content-defined chunking cuts where " +
      "a rolling window hash hits the mask, so edits stay local')"),
    "pair_pack" -> "SELECT pair_pack(array(1L, 2L, 5L))",
    "term_counts" -> "SELECT term_counts(array('b', 'a', 'b'))",
    "bucket_counts" -> "SELECT bucket_counts(array('a', 'b', 'c', 'a'), 8)",
    "bloom_doc_stats" -> ("SELECT bloom_doc_stats(array('a b', 'b c', 'a b'), " +
      "array(-1L, 0L, 5L, 9L), array('a b'))"),
    "word_shingles" -> "SELECT word_shingles('a b c d', 2)",
    "synthetic_png" -> "SELECT synthetic_png(7L)",
    "synthetic_avi" -> "SELECT synthetic_avi(7L)",
    "synthetic_wav" -> "SELECT synthetic_wav(7L)",
    "synthetic_mp4" -> "SELECT synthetic_mp4(7L)",
    "decode_image" -> "SELECT decode_image(synthetic_png(7L))",
    "probe_png" -> "SELECT probe_png(synthetic_png(7L))",
    "probe_mp4" -> "SELECT probe_mp4(synthetic_mp4(7L))",
    "analyze_wav" -> "SELECT analyze_wav(synthetic_wav(7L))",
    "avi_frame_lumas" -> "SELECT avi_frame_lumas(synthetic_avi(7L))",
    "mg_topk" -> "SELECT mg_topk(t, 2) FROM VALUES ('a'), ('b'), ('a'), ('c') AS v(t)",
    "qdigest" -> "SELECT qdigest(v, 64, 10) FROM VALUES (1L), (5L), (9L), (5L) AS v(v)",
    "qdigest_merge" -> ("SELECT qdigest_merge(qd, 64, 10) FROM (" +
      "SELECT qdigest(v, 64, 10) AS qd FROM VALUES (1L), (5L), (9L), (6L) AS v(v) " +
      "GROUP BY v % 2)"))

  override def beforeAll(): Unit = {
    plain = SparkSession.builder()
      .master("local[2]").appName("fallback-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate() // note: no .withExtensions
    plain.sparkContext.setLogLevel("ERROR")
    // a second session on the same SparkContext, built with the
    // extension: the builder only builds a new session once no
    // active/default one is set
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    extended = SparkSession.builder()
      .withExtensions(GraftFunctions.register)
      .getOrCreate()
    SparkSession.setDefaultSession(plain)
    SparkSession.setActiveSession(plain)
    // the kernels come from Tables.register alone, whatever the dir holds
    graft.Tables.register(plain,
      java.nio.file.Files.createTempDirectory("fallback_no_tables").toString)
  }

  override def afterAll(): Unit = if (plain != null) plain.stop()

  test("every kernel resolves on the plain session after Tables.register") {
    val names = GraftFunctions.kernels.map(_._1.funcName)
    assert(names.size == 25 && names.distinct == names)
    assert(fixedInputs.keySet == names.toSet,
      "every kernel needs a fixed input below")
    names.foreach(n => assert(plain.catalog.functionExists(n), n))
  }

  test("every kernel's value on a fixed input equals the extension session's") {
    fixedInputs.foreach { case (name, q) =>
      val viaInstall = plain.sql(q).collect().toSeq
      val viaExtension = extended.sql(q).collect().toSeq
      assert(viaInstall == viaExtension, s"$name: $viaInstall vs $viaExtension")
      assert(viaInstall.size == 1 && !viaInstall.head.isNullAt(0), s"$name: $viaInstall")
    }
  }

  test("extension-less session runs the native-function queries") {
    val dir = "/root/testdata/sf0.001"
    val sim = graft.SparkEntry.queries("simhash_fingerprint")(plain, dir)
    assert(sim.count() > 0)
    val win = graft.SparkEntry.queries("winnow_fingerprint")(plain, dir)
    assert(win.count() > 0)
    val nd = graft.SparkEntry.queries("neardup_minhash_lsh")(plain, dir)
    assert(nd.count() >= 0) // plan executes; sf0.001 may have no pairs
    val qz = graft.SparkEntry.queries("embedding_quantize_int8")(plain, dir)
    assert(qz.count() > 0)
    val ds = graft.SparkEntry.queries("dsir_importance")(plain, dir)
    assert(ds.count() > 0)
    val bl = graft.SparkEntry.queries("bloom_contamination")(plain, dir)
    assert(bl.count() >= 0) // plan executes; sf0.001 may have no hits
    Seq("ev30_mg_heavy_hitters", "mg_heavy_terms",
        "qdigest_verified_deciles", "qdigest_rollup_deciles").foreach { q =>
      assert(graft.SparkEntry.queries(q)(plain, dir).collect().nonEmpty, q)
    }
  }

  test("quantize_u8 codes and the degenerate-vector NULL") {
    val r = plain.sql(
      "SELECT quantize_u8(array(0.0D, 1.0D, 0.5D)) AS d, " +
        "quantize_u8(array(2.0D, 2.0D)) AS degenerate").collect().head
    val d = r.getStruct(0)
    assert(d.getDouble(0) == 0.0 && d.getDouble(1) == 1.0)
    // codes: 0, 255, round(0.5*255)=128 → qsum 383; recon of 0.5 is
    // 128/255 ≈ 0.50196 so the cosine is high but below 1
    assert(d.getLong(2) == 383L)
    assert(d.getDouble(3) > 0.999 && d.getDouble(3) < 1.0)
    assert(r.isNullAt(1)) // constant vector has no scale → NULL
  }

  test("minhash_sig equals the plain-JVM reference loop") {
    val viaPlain = GraftFunctions.minhashPlain(Seq("a b c", "b c d"), 4).toSeq
    val df = plain.sql("SELECT minhash_sig(array('a b c', 'b c d'), 4) AS s")
    assert(df.collect().head.getSeq[Long](0) == viaPlain)
  }

  test("term_counts and pair_pack values") {
    val r = plain.sql(
      "SELECT term_counts(array('b', 'a', 'b', '', 'a', 'b')) AS tc, " +
        "pair_pack(array(1L, 2L, 5L)) AS pk").collect().head
    val tc = r.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(tc == Map("a" -> 2L, "b" -> 3L, "" -> 1L))
    assert(r.getSeq[Long](1) == Seq((1L << 32) | 2L, (1L << 32) | 5L, (2L << 32) | 5L))
  }

  test("tokens_in_set counts WITH multiplicity, like size(filter(t IN …))") {
    val r = plain.sql(
      "SELECT tokens_in_set(array('the','cat','the','a',NULL), array('the','a')) AS c, " +
        "tokens_in_set(array('x'), array('the','a')) AS z").collect().head
    assert(r.getInt(0) == 3) // 'the' twice + 'a' once; NULL token ignored
    assert(r.getInt(1) == 0)
  }
}
