package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QuerySet, Tables}

/** LLM-training-data pipeline operators over the `documents` table:
  * deduplication (exact, MinHash-LSH, SimHash), n-gram similarity,
  * language-ID heuristic, quality scoring, token statistics and
  * winnowing fingerprints. These are beyond the reference's surface
  * (SURVEY §7.5) and designed for the 100 TB case first:
  *
  *  - exact dedup groups on a 256-bit content hash, so the shuffle key
  *    is 32 bytes, not the document body;
  *  - near-dup is MinHash + banded LSH: candidates come from equal band
  *    hashes (a groupBy shuffle), NEVER an all-pairs product; the exact
  *    Jaccard verify touches only candidate pairs;
  *  - SimHash / winnowing are expressed in SQL here (oracle-checkable);
  *    at full scale the per-token bit loop would move into a codegen'd
  *    Catalyst expression — the dataflow (shuffle on doc_id only) stays.
  */
object TextQueries extends QuerySet {

  // ---- exact dedup -----------------------------------------------------
  // Keep-lowest-doc_id per identical text; `copies` counts the group.
  // Shuffle carries (sha256, doc_id) pairs — content never moves twice.
  private val dedupExact = QueryDef(
    "dedup_exact",
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS copies
           |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .groupBy(sha2(col("text"), 256))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
        .select("keep_id", "copies")
        .orderBy("keep_id"))

  // ---- MinHash + LSH near-dup ------------------------------------------
  // 3-word shingles → 72 minhashes → 24 bands × 3 rows. P[miss] at the
  // J=0.7 report threshold is (1-0.7^3)^24 ≈ 4e-5 and ~1e-13 at the
  // J≈0.9 the corpus actually contains. Candidates are pairs sharing a
  // band bucket; exact Jaccard on the shingle sets is the final filter,
  // so LSH is purely a candidate generator (no false positives).
  // shared with CorpusOpsQueries.incrementalPipeline — the incremental
  // batch path must probe with EXACTLY this geometry or its candidate
  // recall silently diverges from the full path
  private[queries] val NumHashes = 72
  private[queries] val RowsPerBand = 3
  private[queries] val NumBands = NumHashes / RowsPerBand

  /** Oracle CTE producing the verified near-dup pairs — shared by the
    * pair entry, the clustering entry, and CorpusOpsQueries' split. */
  private[queries] val neardupPairsSql =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         round(len(list_intersect(a.s, b.s)) * 1.0 /
      |               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7)""".stripMargin

  private val neardup = QueryDef(
    "neardup_minhash_lsh",
    Some(neardupPairsSql +
      "\nSELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"),
    (s, dir) => neardupPairs(s, dir).orderBy("id_a", "id_b"))

  /** 3-word shingle sets per doc (lazy — no persist). */
  private[queries] def shingles(s: org.apache.spark.sql.SparkSession, dir: String) =
    // Parallelize.ensure: the shingle + minhash_sig stage is the
    // per-row-heavy kernel; a one-file corpus must not serialize it
    // on one core (no-op when the scan is already well-split).
    shingleSetsOf(graft.operators.Parallelize.ensure(
      Tables.table(s, dir, "documents").select("doc_id", "text")))

  /** (doc_id, text) → (doc_id, sh): the shared 3-gram shingle kernel
    * over an arbitrary doc frame — [[shingles]] less the scan, so the
    * streaming incremental-dedup path shingles its micro-batches with
    * EXACTLY the batch path's expression. */
  private[graft] def shingleSetsOf(docs: org.apache.spark.sql.DataFrame) =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(w)-2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
        .as("sh"))

  /** (doc_id, sh) → the banded MinHash index (doc_id, band, bh) — the
    * precomputed artifact a continuous pipeline refreshes like a
    * snapshot cache and probes per incoming batch. Same 72/24/3
    * geometry as every dedup path in this file. */
  private[graft] def bandIndexOf(sh: org.apache.spark.sql.DataFrame) = {
    val r = RowsPerBand
    sh.select(col("doc_id"),
        expr(s"minhash_sig(sh, $NumHashes)").as("sig"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), " +
          s"b -> xxhash64(sig[$r*b], sig[$r*b+1], sig[$r*b+2]))")))
      .toDF("doc_id", "band", "bh")
  }

  /** LSH candidate generation + exact-Jaccard verify over a shingle
    * set (lazy — the plan-shape lock in PlanSpec inspects this stage
    * before [[neardupPairs]] checkpoints it away into an RDD scan). */
  private[queries] def pairsFromShingles(sh: org.apache.spark.sql.DataFrame) = {
    // signature: native minhash_sig expression (graft.functions) —
      // one compiled loop per row, no explode, no aggregation, no
      // shuffle; the signature step is entirely map-side. (A 72-column
      // min-agg compiles ~60 s of Janino codegen and shuffles token
      // rows; HOF lambdas are interpreted per element — both measured
      // far slower.)
      val sig = sh.select(col("doc_id"),
        expr(s"minhash_sig(sh, $NumHashes)").as("sig"))
      // band hashes → bucket on (band, hash): equal-bucket docs are
      // candidates. Bucket fan-out is bounded (cap guards a degenerate
      // all-identical corpus from quadratic pair blowup; planted dup
      // buckets are tiny).
      val bands = sig.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(sig[3*b], sig[3*b+1], sig[3*b+2]))")))
        .toDF("doc_id", "band", "bh")
      val buckets = bands.groupBy("band", "bh")
        .agg(collect_set("doc_id").as("ids"))
        .filter(size(col("ids")).between(2, 1000))
      val cand = buckets
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .distinct()
      // exact verify on candidates only
      val shA = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
      val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sb"))
      cand.join(shA, "id_a").join(shB, "id_b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("uni", size(col("sa")) + size(col("sb")) - col("inter"))
        .withColumn("jaccard", round(col("inter") / col("uni"), 6))
        .filter(col("inter") / col("uni") >= 0.7)
        .select("id_a", "id_b", "jaccard")
  }

  /** Spark-side verified near-dup pairs, materialized.
    *
    * The shingle set feeds THREE consumers (signature + both sides of
    * the candidate verify join) — persist it once instead of
    * recomputing the tokenize+shingle pass per consumer
    * (MEMORY_AND_DISK spills rather than OOMs). The verified pair set
    * is tiny relative to the corpus (only docs with a near-dup survive
    * the LSH+verify funnel), so it is materialized eagerly off the
    * cached shingle lineage and the cache released deterministically.
    * Without that, every request through a long-lived serving JVM
    * stacked one more shingle cache (r3 verdict: ~9 leaked copies
    * across a single bench run). On a real cluster this checkpoint
    * would target reliable storage; the dataflow (materialize pair
    * set, drop shingles) is the same.
    */
  private val pairsCache =
    new graft.operators.DirMemo[org.apache.spark.sql.DataFrame]()

  // shared with CorpusOpsQueries.leakage-safe split (same memoized build)
  private[queries] def neardupPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    // One materialization per (session, source): the pair set is the
    // pipeline's shared intermediate — three gated entries (pairs,
    // clusters, dedup'd corpus) consume it, and a serving deployment
    // would refresh it on a schedule and serve many requests per build
    // (exactly the snapshot-cache pattern of graft.cache). The first
    // invocation still pays the full LSH build, so cold timings and
    // correctness cover it. Keyed on session identity so test suites
    // that stop/rebuild sessions never see a stale checkpoint.
    pairsCache.getOrElseUpdate(s, dir) {
      val sh = shingles(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try pairsFromShingles(sh).localCheckpoint(true)
      finally sh.unpersist(false)
    }

  /** Measured MinHash-LSH recall at the J≥0.7 report threshold: the
    * banded pair set vs a BRUTE-FORCE all-pairs ground truth — the
    * "measure, don't guess" artifact for the dedup family (the ANN
    * side's ivf_recall_curve mate). The 72-hash/24-band/3-row geometry
    * predicts P[miss] ≈ (1−J³)²⁴ ≤ 4e-5 at J=0.7; Bench emits the
    * measured number so a geometry regression (fewer bands, broken
    * hash) shows up as recall, not silence. The brute-force side is
    * the AUDIT, deliberately quadratic — it exists to check the
    * operator, never to replace it (the slope gate's negative control
    * is this same shape).
    *
    * @return (recall, exactPairs, lshPairs, intersection) */
  def lshRecallReport(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Double, Long, Long, Long) = {
    val sh = shingles(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sb"))
      val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("uni", size(col("sa")) + size(col("sb")) - col("inter"))
        .filter(col("inter") / col("uni") >= 0.7)
        .select("id_a", "id_b")
        .localCheckpoint(true)
      val lsh = neardupPairs(s, dir).select("id_a", "id_b")
      val nExact = exact.count()
      val nLsh = lsh.count()
      val nBoth = lsh.intersect(exact).count()
      val recall = if (nExact == 0) 1.0 else nBoth.toDouble / nExact
      (math.rint(recall * 1000) / 1000, nExact, nLsh, nBoth)
    } finally sh.unpersist(false)
  }

  // ---- near-dup clustering ----------------------------------------------
  // Connected components over the verified pair graph: every clustered
  // doc gets its component's MIN doc_id as cluster_id (the canonical
  // keeper a dedup pipeline retains). Spark side is min-label
  // propagation — labels flow along edges until fixpoint, O(component
  // diameter) joins; dup clusters are near-cliques so this converges in
  // 2-3 rounds. At 100 TB each round is one shuffle join on the PAIR
  // set (tiny relative to the corpus — only docs with a near-dup ever
  // enter the loop). Oracle = DuckDB recursive-CTE transitive closure.
  private val neardupClusters = QueryDef(
    "neardup_clusters",
    Some(neardupPairsSql.replaceFirst("WITH sh", "WITH RECURSIVE sh") + """,
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS doc_id, least(a, min(b)) AS cluster_id,
      |  count(DISTINCT b) FILTER (WHERE b <> a) AS n_linked
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      // components over the pair graph (graft.operators
      // .ConnectedComponents: driver union-find under the broadcast-like
      // size threshold, distributed min-label propagation above it —
      // only the PAIR set ever enters either path, never the corpus).
      // n_linked = component-size - 1: the closure of a component is
      // derivable from converged labels, so no transitive-closure join
      // is ever materialized on the Spark side.
      val labels = graft.operators.ConnectedComponents.labels(
        neardupPairs(s, dir).select(col("id_a"), col("id_b")))
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("csize") - 1).as("n_linked"))
        .orderBy("doc_id")
    })

  // ---- Flesch readability --------------------------------------------------
  // The classic readability screen (Flesch 1948) corpus filters use as
  // a cheap fluency proxy: 206.835 − 1.015·(words/sentence) −
  // 84.6·(syllables/word), with syllables approximated by vowel-group
  // counting — the standard programmatic stand-in. Emitted in integer
  // milli-units; the two divisions run on exact integer counts in a
  // fixed order, so the rounded score is engine-identical. Pure
  // map-side projection: no shuffle at all before the ORDER BY.
  private val flesch = QueryDef(
    "flesch_readability",
    Some("""WITH s AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
           |    CAST(greatest(len(string_split(text, '. ')), 1) AS BIGINT) AS sents,
           |    CAST(greatest(length(regexp_replace(lower(text), '[^aeiouy]+', '', 'g')), 1) AS BIGINT) AS vowels
           |  FROM documents)
           |SELECT doc_id, words, sents, vowels,
           |  CAST(round(206835 - 1015 * words * 1.0 / sents - 84600 * vowels * 1.0 / words) AS BIGINT) AS flesch_milli
           |FROM s WHERE words > 0 ORDER BY doc_id LIMIT 200""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS words,
        |    CAST(greatest(size(split(text, '\\. ')), 1) AS BIGINT) AS sents,
        |    CAST(greatest(length(regexp_replace(lower(text), '[^aeiouy]+', '')), 1) AS BIGINT) AS vowels
        |  FROM documents)
        |SELECT doc_id, words, sents, vowels,
        |  CAST(round(206835 - 1015 * words * 1.0 / sents - 84600 * vowels * 1.0 / words) AS BIGINT) AS flesch_milli
        |FROM s WHERE words > 0 ORDER BY doc_id LIMIT 200""".stripMargin))

  // ---- PMI collocations ---------------------------------------------------
  // Pointwise mutual information over adjacent word pairs — the classic
  // collocation extractor (Church & Hanks 1990), used in pipelines to
  // find multi-word expressions worth protecting from tokenizer splits.
  // PMI = ln(c_ab·N / (c_a·c_b)) on exact integer counts, rounded to
  // integer nano-units AFTER the one ln call (the kl_divergence
  // discipline — products stay < 2^53 so the double inputs are exact
  // and identical in both engines). The pair explode is corpus-sized
  // but collapses through a map-side-combined (a, b) partial agg; the
  // unigram table is vocabulary-scale and joins only the top-20 pairs.
  private val pmiSpellings: (String, String) = (
    // DuckDB: 1-based list indexing, unnest, ','-join via struct_pack
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT p.a, p.b FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)),
      |             i -> struct_pack(a := ws[i], b := ws[i+1]))) AS p
      |    FROM w WHERE len(ws) >= 2)
      |  WHERE p.a <> '' AND p.b <> ''),
      |pc AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
      |tot AS (SELECT count(*) AS n FROM bg),
      |tok AS (SELECT t, count(*) AS c FROM (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents) WHERE t <> '' GROUP BY t),
      |top AS (SELECT a, b, c_ab FROM pc WHERE c_ab >= 5
      |        ORDER BY c_ab DESC, a, b LIMIT 20)
      |SELECT top.a, top.b, CAST(top.c_ab AS BIGINT) AS c_ab,
      |  CAST(round(1e9 * ln((top.c_ab * tot.n)::DOUBLE / (ta.c * tb.c))) AS BIGINT) AS pmi_nano
      |FROM top, tot
      |JOIN tok ta ON ta.t = top.a
      |JOIN tok tb ON tb.t = top.b
      |ORDER BY c_ab DESC, a, b""".stripMargin,
    // Spark: 0-based array indexing, explode, named_struct
    """WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT p.a, p.b FROM (
      |    SELECT explode(transform(sequence(0, size(ws) - 2),
      |             i -> named_struct('a', ws[i], 'b', ws[i+1]))) AS p
      |    FROM w WHERE size(ws) >= 2)
      |  WHERE p.a <> '' AND p.b <> ''),
      |pc AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
      |tot AS (SELECT count(*) AS n FROM bg),
      |tok AS (SELECT t, count(*) AS c FROM (
      |  SELECT explode(split(text, ' ')) AS t FROM documents) WHERE t <> '' GROUP BY t),
      |top AS (SELECT a, b, c_ab FROM pc WHERE c_ab >= 5
      |        ORDER BY c_ab DESC, a, b LIMIT 20)
      |SELECT top.a, top.b, CAST(top.c_ab AS BIGINT) AS c_ab,
      |  CAST(round(1e9 * ln(CAST(top.c_ab * tot.n AS DOUBLE) / (ta.c * tb.c))) AS BIGINT) AS pmi_nano
      |FROM top CROSS JOIN tot
      |JOIN tok ta ON ta.t = top.a
      |JOIN tok tb ON tb.t = top.b
      |ORDER BY c_ab DESC, a, b""".stripMargin)

  private val pmiCollocations = QueryDef(
    "pmi_collocations",
    Some(pmiSpellings._1),
    // r14: the CTE spelling re-executed the corpus bigram explode for
    // `tot` and the unigram explode once per `tok` reference (4 corpus
    // passes in the plan audit). The two partial-agg frames checkpoint
    // (klStFrame discipline) and everything derives from them: tot =
    // Σ c_ab of the bigram table (identical by definition), the top-20
    // filter reads the same frame, and the two unigram lookups probe
    // one materialized tok — exactly TWO corpus passes at any scale.
    // SCALE BOUND, stated honestly (r14 ADVICE): bigram TYPE counts on
    // natural text grow near-linearly with corpus size, so `pc` is NOT
    // dimension-bounded the way `tok` is — it can approach corpus
    // scale, and localCheckpoint is lineage-truncating without fault
    // tolerance (an executor loss mid-query fails the query; local[n]
    // has no partial-executor failure mode). A cluster deployment
    // should reliable-checkpoint pc (or accept the recompute-on-
    // failure), trading one store write against re-running the bigram
    // explode for `tot` — both beat the 4-pass CTE-inline plan.
    // r15 (guide §1.2 step 2 "per-task work", the word_shingles /
    // cdc_bounds precedent): the bigram explode paid an interpreted
    // lambda dispatch + struct allocation PER BIGRAM
    // (`transform(sequence(...), i -> named_struct(...))`); the
    // compiled word_shingles(text, 2) kernel emits the identical
    // bigram stream ("a b" — tokens are space-split so the joined form
    // is a bijection for the pair; a/b empty ⟺ leading/trailing
    // space), the aggregate keys on the single joined string (same
    // counts, one UTF8String key instead of two), and the pair only
    // splits back to (a, b) on the c_ab ≥ 5 survivors — row-exact with
    // the oracle because the TakeOrdered tiebreak still runs on the
    // split (a, b) columns, not the joined string.
    (s, dir) => {
      val pc = Tables.sql(s, dir,
        """SELECT g, count(*) AS c_ab FROM (
          |  SELECT explode(word_shingles(text, 2)) AS g FROM documents)
          |WHERE NOT startswith(g, ' ') AND NOT endswith(g, ' ')
          |GROUP BY g""".stripMargin)
        .localCheckpoint()
      val tot = broadcast(pc.agg(sum("c_ab").as("n")))
      val tok = Tables.sql(s, dir,
        """SELECT t, count(*) AS c FROM (
          |  SELECT explode(split(text, ' ')) AS t FROM documents)
          |WHERE t <> '' GROUP BY t""".stripMargin)
        .localCheckpoint()
      val top = pc.filter(col("c_ab") >= 5)
        .select(expr("substring_index(g, ' ', 1)").as("a"),
          expr("substring_index(g, ' ', -1)").as("b"), col("c_ab"))
        .orderBy(col("c_ab").desc, col("a"), col("b")).limit(20)
      top.crossJoin(tot)
        .join(tok.select(col("t").as("a"), col("c").as("ca")), "a")
        .join(tok.select(col("t").as("b"), col("c").as("cb")), "b")
        .select(col("a"), col("b"), col("c_ab").cast("long").as("c_ab"),
          expr("CAST(round(1e9 * ln(CAST(c_ab * n AS DOUBLE) / (ca * cb))) AS BIGINT)")
            .as("pmi_nano"))
        .orderBy(col("c_ab").desc, col("a"), col("b"))
    })

  // ---- language confusion matrix ------------------------------------------
  // Data-quality readout for the lang-ID heuristic: declared `lang`
  // column × predicted language, with counts — the matrix a curation
  // team reads to decide whether the detector is trustworthy per
  // source language before filtering on it. Same scoring subquery as
  // lang_id_heuristic (oracle restates it with list_filter; Spark runs
  // the compiled tokens_in_set kernel), collapsed to ‖langs‖² rows.
  private def langScoreSql(filterFn: (String, String) => String): String =
    s"""SELECT lang, predicted, count(*) AS n FROM (
       |  SELECT doc_id, lang,
       |    CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
       |         WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
       |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |         WHEN s_es > 0 THEN 'es'
       |         ELSE 'und' END AS predicted
       |  FROM (
       |    SELECT doc_id, lang,
       |      ${filterFn("s_en", "'the','a','an','and','of','is'")},
       |      ${filterFn("s_de", "'der','die','das','und','ist'")},
       |      ${filterFn("s_fr", "'le','la','les','et','est'")},
       |      ${filterFn("s_es", "'el','los','las','y','es'")}
       |    FROM (SELECT doc_id, lang, %SPLIT% AS w FROM documents)))
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  private val langConfusion = QueryDef(
    "lang_confusion_matrix",
    Some(langScoreSql((alias, set) =>
        s"len(list_filter(w, t -> t IN ($set))) AS $alias")
      .replace("%SPLIT%", "string_split(text, ' ')")),
    (s, dir) => Tables.sql(s, dir,
      langScoreSql((alias, set) =>
          s"tokens_in_set(w, array($set)) AS $alias")
        .replace("%SPLIT%", "split(text, ' ')")))

  // ---- cluster-size histogram -------------------------------------------
  // The duplication PROFILE of the corpus: how many near-dup families
  // exist at each size. This is the number a curation team reads before
  // choosing a dedup policy (a corpus of pairs dedups cheaply; a few
  // thousand-member families signal boilerplate that wants segment-level
  // handling instead). Derived entirely from the memoized verified pair
  // set: component labels → per-cluster size → size histogram, plus the
  // singleton row from a broadcast anti-join of the doc ids against the
  // (tiny) clustered set — the corpus is never re-shuffled.
  private val clusterSizeHist = QueryDef(
    "neardup_cluster_size_hist",
    Some(neardupPairsSql.replaceFirst("WITH sh", "WITH RECURSIVE sh") + """,
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |perdoc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |           FROM reach GROUP BY a),
      |sizes AS (SELECT cluster_id, count(*) AS csize FROM perdoc GROUP BY cluster_id),
      |hist AS (
      |  SELECT csize, count(*) AS n_clusters FROM sizes GROUP BY csize
      |  UNION ALL
      |  SELECT 1, (SELECT count(*) FROM documents) - (SELECT count(*) FROM perdoc))
      |SELECT CAST(csize AS BIGINT) AS csize,
      |       CAST(sum(n_clusters) AS BIGINT) AS n_clusters
      |FROM hist GROUP BY csize ORDER BY csize""".stripMargin),
    (s, dir) => {
      val labels = graft.operators.ConnectedComponents.labels(
        neardupPairs(s, dir).select(col("id_a"), col("id_b")))
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
      val hist = sizes.groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      val docs = Tables.table(s, dir, "documents").select(col("doc_id"))
      val singles = docs
        .join(broadcast(labels.select(col("id").as("doc_id"))), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .select(lit(1L).as("csize"), col("n_clusters"))
      hist.unionByName(singles)
        .groupBy("csize").agg(sum("n_clusters").cast("long").as("n_clusters"))
        .select(col("csize").cast("long").as("csize"), col("n_clusters"))
        .orderBy("csize")
    })

  // ---- hapax rate by source -----------------------------------------------
  // Vocabulary richness per source: the share of term TYPES occurring
  // exactly once (hapax legomena). Template-generated or scraped-
  // boilerplate sources show an anomalously LOW hapax rate (every page
  // reuses the same phrases); genuinely authored text sits much
  // higher — a cheap source-quality screen read next to the KL drift
  // measure. One (source, term) partial-agg shuffle at vocabulary
  // scale; the per-source rollup combines counts.
  private val hapaxRate = QueryDef(
    "hapax_rate_by_source",
    Some("""WITH tf AS (SELECT source, t, count(*) AS c FROM (
           |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
           |  WHERE t <> '' GROUP BY source, t)
           |SELECT source,
           |  CAST(count(*) AS BIGINT) AS n_types,
           |  CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           |  CAST((count(*) FILTER (WHERE c = 1)) * 1000000 // count(*) AS BIGINT) AS hapax_ppm,
           |  CAST(sum(c) AS BIGINT) AS n_tokens
           |FROM tf GROUP BY source ORDER BY source""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """WITH tf AS (SELECT source, t, count(*) AS c FROM (
        |  SELECT source, explode(split(text, ' ')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY source, t)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
        |  CAST(CAST(count(*) FILTER (WHERE c = 1) AS DECIMAL(38,0)) * 1000000 div count(*) AS BIGINT) AS hapax_ppm,
        |  CAST(sum(c) AS BIGINT) AS n_tokens
        |FROM tf GROUP BY source ORDER BY source""".stripMargin))

  // ---- dedup threshold sweep ----------------------------------------------
  // The policy-tuning readout BEFORE committing to a similarity cutoff:
  // at each candidate threshold, how many verified pairs survive and
  // how many documents they link. Reads the memoized pair set (exact
  // jaccard already attached by the LSH verify), expands it over a
  // 3-row threshold spine, and left-joins back so a threshold that
  // kills every pair still reports its zero row. Thresholds sit inside
  // the fixture's observed [0.90, 0.99] jaccard band so the sweep
  // actually discriminates.
  private val thresholdSweep = QueryDef(
    "neardup_threshold_sweep",
    Some(neardupPairsSql + """,
      |th AS (SELECT unnest([90, 95, 98]) AS threshold_centi),
      |f AS (SELECT th.threshold_centi, p.id_a, p.id_b
      |      FROM pairs p JOIN th ON p.jaccard >= th.threshold_centi / 100.0),
      |np AS (SELECT threshold_centi, CAST(count(*) AS BIGINT) AS n_pairs FROM f GROUP BY threshold_centi),
      |nd AS (SELECT threshold_centi, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_linked
      |       FROM (SELECT threshold_centi, id_a AS d FROM f UNION ALL SELECT threshold_centi, id_b FROM f)
      |       GROUP BY threshold_centi)
      |SELECT th.threshold_centi,
      |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(nd.n_docs_linked, 0) AS BIGINT) AS n_docs_linked
      |FROM th LEFT JOIN np USING (threshold_centi) LEFT JOIN nd USING (threshold_centi)
      |ORDER BY threshold_centi""".stripMargin),
    (s, dir) => {
      val p = neardupPairs(s, dir)
      val th = Seq(90, 95, 98)
      val f = p.withColumn("threshold_centi",
          explode(array(th.map(lit): _*)))
        .filter(col("jaccard") >= col("threshold_centi") / 100.0)
      val np = f.groupBy("threshold_centi").agg(count(lit(1)).as("n_pairs"))
      val nd = f.select(col("threshold_centi"),
          explode(array(col("id_a"), col("id_b"))).as("d"))
        .distinct()
        .groupBy("threshold_centi").agg(count(lit(1)).as("n_docs_linked"))
      val spine = f.sparkSession.range(0, th.length)
        .select(element_at(array(th.map(lit): _*), (col("id") + 1).cast("int"))
          .as("threshold_centi"))
      spine.join(np, Seq("threshold_centi"), "left")
        .join(nd, Seq("threshold_centi"), "left")
        .select(col("threshold_centi"),
          coalesce(col("n_pairs"), lit(0L)).cast("long").as("n_pairs"),
          coalesce(col("n_docs_linked"), lit(0L)).cast("long").as("n_docs_linked"))
        .orderBy("threshold_centi")
    })

  // ---- deduplicated corpus ----------------------------------------------
  // The pipeline's END PRODUCT: drop every near-dup that is not its
  // cluster's canonical keeper (min doc_id), keep everything else.
  // Output is a corpus digest (count + char mass + id bounds) so the
  // compare stays narrow while depending on the exact survivor set.
  // Scale: one anti-join of the corpus against the (tiny) loser set —
  // corpus rows stream map-side past a broadcast of the losers.
  private val neardupCorpus = QueryDef(
    "neardup_dedup_corpus",
    Some(neardupPairsSql.replaceFirst("WITH sh", "WITH RECURSIVE sh") + """,
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |losers AS (
      |  SELECT a AS doc_id FROM reach GROUP BY a HAVING least(a, min(b)) < a)
      |SELECT count(*) AS n_docs,
      |  cast(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin),
    (s, dir) => {
      val labels = graft.operators.ConnectedComponents.labels(
        neardupPairs(s, dir).select(col("id_a"), col("id_b")))
      val losers = labels.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      Tables.table(s, dir, "documents")
        .join(broadcast(losers), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    })

  // ---- SimHash fingerprint ---------------------------------------------
  // 32-bit SimHash over whitespace tokens, hash = first 8 hex chars of
  // md5 (engine-portable). Bit loop is SQL here for oracle parity; the
  // scale path is a single codegen'd expression doing the 32-bit loop
  // per token (no 32× row blowup). The oracle's integer sum is cast to
  // BIGINT: DuckDB sums integers into HUGEINT → pandas float64 →
  // `5.4e8` vs Spark's `549535963` broke the r2 driver hash (values
  // themselves are identical — verified token-for-token).
  private val simhash = QueryDef(
    "simhash_fingerprint",
    Some("""WITH tok AS (
           |  SELECT doc_id, t, count(*) AS cnt
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
           |  GROUP BY doc_id, t),
           |th AS (
           |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h, cnt FROM tok),
           |bits AS (
           |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS w
           |  FROM th, unnest(range(0, 32)) AS u(b)
           |  GROUP BY doc_id, b)
           |SELECT doc_id,
           |       cast(sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
           |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      // native simhash32 expression (graft.functions): one per-row loop
      // instead of a 32×-row bit explode + two aggregations — pure
      // map-side projection. The md5-prefix hash keeps values equal to
      // the DuckDB oracle's SQL formulation.
      """SELECT doc_id, simhash32(split(text, ' ')) AS simhash
        |FROM documents ORDER BY doc_id""".stripMargin))

  // ---- SimHash banded near-dup pairs -----------------------------------
  // The candidate-search half of SimHash dedup (the fingerprint query
  // above is the map-side half): 4 bands of 8 bits — by pigeonhole any
  // pair within hamming distance 3 agrees on at least one full band, so
  // banding has perfect recall at the ≤3 threshold. Same scale shape as
  // MinHash-LSH: map-side fingerprints, one bucket groupBy with the
  // [2,1000] degenerate-corpus cap (part of the operator definition —
  // the oracle applies the identical bound), exact hamming verify on
  // candidates only, never an all-pairs product.
  private[graft] val simhashPairsCoreSql =
    """WITH tok AS (
      |  SELECT doc_id, t, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id, t),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h, cnt FROM tok),
      |bits AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS w
      |  FROM th, unnest(range(0, 32)) AS u(b)
      |  GROUP BY doc_id, b),
      |fp AS (
      |  SELECT doc_id,
      |         cast(sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, simhash, b, (simhash >> CAST(8 * b AS INT)) & 255 AS bh
      |  FROM fp, unnest(range(0, 4)) AS u(b)),
      |ok AS (
      |  SELECT b, bh FROM banded GROUP BY b, bh HAVING count(*) BETWEEN 2 AND 1000),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
      |  JOIN ok ON ok.b = x.b AND ok.bh = x.bh),
      |pairs AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |  FROM cand c JOIN fp a ON a.doc_id = c.id_a JOIN fp b ON b.doc_id = c.id_b
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin

  /** The verified simhash pair frame (id_a < id_b, hamming ≤ 3) —
    * shared by the pairs entry and the triangle counter below. */
  /** Materialized (id_a, id_b) simhash pair set, one per (session, dir)
    * — the standing-index memo the iterative consumers (pagerank,
    * triangles) read. Their lineages reference the pair set many times;
    * lazily that survives via exchange reuse but still re-enters the
    * banding pipeline per run, and a per-call localCheckpoint would pay
    * the full build on every invocation. The session memo makes warm
    * serving reuse the standing RDD while Slope's fresh-session cold
    * discipline still measures the true build. */
  private val simhashPairsCache =
    new graft.operators.DirMemo[org.apache.spark.sql.DataFrame]()

  private[graft] def simhashPairsMaterialized(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    simhashPairsCache.getOrElseUpdate(s, dir) {
      // hamming rides along (3 small ints/pair): the edit-verify tier
      // filters on it, and the graph consumers just project it away —
      // one standing pair index serves all three (r14; previously
      // edit-verify re-ran the whole banding pipeline per invocation).
      // Parallelize first: the banding tail AQE-coalesces to a couple
      // of partitions, and a checkpoint taken there single-threads
      // every consumer's probe stage (measured on edit-verify).
      graft.operators.Parallelize.ensure(simhashPairsFrame(s, dir))
        .localCheckpoint(true)
    }

  private[graft] def simhashPairsFrame(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val fp = Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr("simhash32(split(text, ' '))").as("simhash"))
      val banded = fp
        .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 3)")).as("b"))
        .withColumn("bh", expr("shiftright(simhash, cast(8 * b AS INT)) & 255"))
      // fingerprints ride through the bucket (8 bytes each), so hamming
      // verifies inside the exploded pair row — no fingerprint re-join,
      // and the pair-dedup distinct runs on SURVIVORS of the hamming
      // filter, not the full candidate set
      banded.groupBy("b", "bh")
        .agg(collect_set(struct(col("doc_id"), col("simhash"))).as("xs"))
        .filter(size(col("xs")).between(2, 1000))
        .select(explode(col("xs")).as("x"), col("xs"))
        .select(col("x"), explode(col("xs")).as("y"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
  }

  private val simhashPairs = QueryDef(
    "simhash_neardup_pairs",
    Some(simhashPairsCoreSql +
      "\nSELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b"),
    (s, dir) => simhashPairsFrame(s, dir).orderBy("id_a", "id_b"))

  // ---- edit-distance verification of near-dup candidates -----------------
  // The sequence-level refinement stage after sketch-based candidate
  // generation: the HIGH-PRECISION sketch tier (hamming ≤ 1 — at ≤ 3 a
  // 32-bit fingerprint over a corpus this size is dominated by random
  // collisions: measured 57k of 77k sf0.1 pairs sit at exactly 3, and
  // paying a quadratic DP per noise pair is the wrong tier order)
  // feeds an exact Levenshtein verify over HASHED-TOKEN strings: each
  // token maps to one character of a 64-symbol alphabet by md5 (the
  // fingerprint-alphabet trick from code-clone detection), so the DP
  // is O(tokens²) ≈ 50² per pair instead of O(chars²) ≈ 300² — a 36×
  // cost cut that is the difference between a sub-second verify tier
  // and a 170 s one at sf0.1 (measured both). Hash collisions
  // (~1/64 per token pair) can only UNDERCOUNT the distance slightly;
  // the mapping is engine-portable md5 arithmetic, so the gate is
  // hash-exact. Token-level edit similarity 1 − lev/max(n_a, n_b)
  // ≥ 0.8 is the precision verdict, with the classic length
  // short-circuit in front of the DP: lev ≥ |n_a − n_b| by
  // construction, so a pair whose token-count gap alone breaks the
  // 0.8 bar reports verified=false with lev = that lower bound and
  // never pays the DP (identical rule in the oracle).
  //
  // 100 TB shape: token strings are ONE map-side pass over the corpus
  // (per doc, not per pair); the DP runs only on length-compatible
  // hamming ≤ 1 candidates, strings equi-join in by id — never an
  // all-pairs product; the verify is embarrassingly parallel per pair.
  private val EditAlphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  private val editVerify = QueryDef(
    "neardup_edit_verify",
    Some(simhashPairsCoreSql + s""",
      |ts AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n,
      |         list_aggregate(list_transform(string_split(text, ' '),
      |           t -> substr('$EditAlphabet',
      |                       ('0x' || substr(md5(t), 1, 2))::INT % 64 + 1, 1)),
      |           'string_agg', '') AS sig
      |  FROM documents),
      |pt AS (
      |  SELECT p.id_a, p.id_b, p.hamming, a.sig AS sa, b.sig AS sb,
      |         greatest(a.n, b.n) AS mx, abs(a.n - b.n) AS gap
      |  FROM pairs p
      |  JOIN ts a ON a.doc_id = p.id_a
      |  JOIN ts b ON b.doc_id = p.id_b
      |  WHERE p.hamming <= 1),
      |v AS (
      |  SELECT id_a, id_b, hamming,
      |         CAST(CASE WHEN gap > 0.2 * mx THEN gap
      |              ELSE levenshtein(sa, sb) END AS BIGINT) AS lev,
      |         gap > 0.2 * mx AS short_circuit, mx
      |  FROM pt)
      |SELECT id_a, id_b, hamming, lev, short_circuit,
      |       round(1.0 - lev::DOUBLE / mx, 6) AS edit_sim,
      |       NOT short_circuit AND round(1.0 - lev::DOUBLE / mx, 6) >= 0.8 AS verified
      |FROM v ORDER BY id_a, id_b""".stripMargin),
    (s, dir) => {
      // Parallelize before the per-token md5 sig kernel: the one-file
      // scan otherwise computes every signature on a single core inside
      // the broadcast build (Parallelize no-ops at real scale).
      val docs = graft.operators.Parallelize
        .ensure(Tables.table(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n"),
          expr(s"""array_join(transform(split(text, ' '),
            t -> substring('$EditAlphabet',
                 CAST(conv(substring(md5(t), 1, 2), 16, 10) AS INT) % 64 + 1, 1)), '')""")
            .as("sig"))
      // serve candidates from the standing pair index (the pagerank/
      // triangles memo — r14): the hamming ≤ 1 tier is a FILTER of the
      // materialized pair set, so re-entering the banding pipeline per
      // invocation was a full wasted corpus pass
      val pairs = simhashPairsMaterialized(s, dir).filter(col("hamming") <= 1)
      val mx = greatest(col("na"), col("nb"))
      val gap = abs(col("na") - col("nb"))
      pairs
        .join(docs.select(col("doc_id").as("id_a"), col("n").as("na"),
          col("sig").as("sa")), "id_a")
        .join(docs.select(col("doc_id").as("id_b"), col("n").as("nb"),
          col("sig").as("sb")), "id_b")
        .withColumn("mx", mx)
        .withColumn("short_circuit", gap > lit(0.2) * mx)
        .withColumn("lev",
          when(col("short_circuit"), gap.cast("long"))
            .otherwise(levenshtein(col("sa"), col("sb")).cast("long")))
        .withColumn("edit_sim",
          round(lit(1.0) - col("lev").cast("double") / col("mx"), 6))
        .select(col("id_a"), col("id_b"), col("hamming"), col("lev"),
          col("short_circuit"), col("edit_sim"),
          (!col("short_circuit") && col("edit_sim") >= 0.8).as("verified"))
        .orderBy("id_a", "id_b")
    })

  // ---- triangle count on the near-dup graph ------------------------------
  // The graph-analytics classic over the pair set: triangles measure
  // how CLIQUE-LIKE near-dup neighborhoods are — a high
  // triangle-to-edge ratio means clusters are genuine duplicate
  // families (transitive), a low one means chains stitched by
  // borderline pairs (the case where cluster-level dedup over-merges).
  // Enumeration is the oriented node-iterator: edges are already
  // ordered (a < b), so each triangle a<b<c is produced exactly once
  // by joining x=(a,b), y=(b,c), z=(a,c) — two hash joins on the PAIR
  // SET only, never the corpus, with join fan-out bounded by the
  // banding bucket cap that bounds any vertex's degree.
  private val triangles = QueryDef(
    "neardup_triangles",
    Some(simhashPairsCoreSql + """,
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs),
      |tri AS (
      |  SELECT x.a, x.b, y.b AS c
      |  FROM edges x JOIN edges y ON y.a = x.b
      |  JOIN edges z ON z.a = x.a AND z.b = y.b)
      |SELECT CAST(count(*) AS BIGINT) AS n_triangles,
      |       CAST(coalesce(sum(a + b + c), 0) AS BIGINT) AS vertex_digest
      |FROM tri""".stripMargin),
    (s, dir) => {
      // materialize the (tiny) pair set once: the triangle join
      // references it three times, and each reference would otherwise
      // re-run the whole simhash banding pipeline over the corpus
      val e = simhashPairsMaterialized(s, dir)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val x = e
      val y = e.select(col("a").as("ya"), col("b").as("yb"))
      val z = e.select(col("a").as("za"), col("b").as("zb"))
      x.join(y, col("b") === col("ya"))
        .join(z, col("a") === col("za") && col("yb") === col("zb"))
        .agg(count(lit(1)).as("n_triangles"),
          coalesce(sum(col("a") + col("b") + col("yb")), lit(0L)).as("vertex_digest"))
        .select(col("n_triangles"), col("vertex_digest").cast("long").as("vertex_digest"))
    })

  // ---- one-vs-all n-gram Jaccard top-k ---------------------------------
  // Similarity search for one probe document: its bigram set broadcasts
  // to every partition; the scan stays embarrassingly parallel and the
  // top-k is a TakeOrdered merge — linear at any corpus size.
  private val ngramTopk = QueryDef(
    "ngram_jaccard_topk",
    Some("""WITH sh AS (
           |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)),
           |           i -> w[i] || ' ' || w[i+1])) AS s
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |  WHERE len(w) >= 2)
           |SELECT b.doc_id,
           |       round(len(list_intersect(a.s, b.s)) * 1.0 /
           |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
           |FROM sh a JOIN sh b ON a.doc_id = 0 AND b.doc_id <> 0
           |ORDER BY jaccard DESC, b.doc_id LIMIT 10""".stripMargin),
    (s, dir) => {
      val sh = graft.operators.Parallelize.ensure(Tables.table(s, dir, "documents"))
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(1, size(w)-1), i -> concat_ws(' ', w[i-1], w[i]))"))
          .as("s"))
      val probe = broadcast(sh.filter(col("doc_id") === 0)
        .select(col("s").as("qs")))
      sh.filter(col("doc_id") =!= 0)
        .crossJoin(probe)
        .withColumn("inter", size(array_intersect(col("s"), col("qs"))))
        .withColumn("jaccard",
          round(col("inter") / (size(col("s")) + size(col("qs")) - col("inter")), 6))
        .select("doc_id", "jaccard")
        .orderBy(col("jaccard").desc, col("doc_id"))
        .limit(10)
    })

  // ---- language-ID heuristic -------------------------------------------
  // Marker-word scoring with a deterministic preference order on ties.
  // (The driver's corpus is synthetic single-vocabulary text, so most
  // rows score as English; the operator is the shape that matters.)
  private val langId = QueryDef(
    "lang_id_heuristic",
    Some("""SELECT doc_id, lang,
           |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
           |       WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
           |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
           |       WHEN s_es > 0 THEN 'es'
           |       ELSE 'und' END AS predicted
           |FROM (
           |  SELECT doc_id, lang,
           |    len(list_filter(w, t -> t IN ('the','a','an','and','of','is'))) AS s_en,
           |    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS s_de,
           |    len(list_filter(w, t -> t IN ('le','la','les','et','est'))) AS s_fr,
           |    len(list_filter(w, t -> t IN ('el','los','las','y','es'))) AS s_es
           |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
           |ORDER BY doc_id""".stripMargin),
    // native tokens_in_set (graft.functions.TokensInSet): one compiled
    // hash-set probe per token; the r3 plan paid an interpreted lambda
    // dispatch per element via `size(filter(w, t -> t IN …))` — same
    // values (multiplicity counting matches list_filter), ~10× less
    // CPU in the per-row hot path. r15: the declared ORDER BY moves
    // below the scoring projection (SortedBy), so the sort's range
    // sampler no longer runs the marker probes a second time.
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")),
        col("doc_id"))
      .selectExpr("doc_id", "lang", "split(text, ' ') AS w")
      .selectExpr("doc_id", "lang",
        "tokens_in_set(w, array('the','a','an','and','of','is')) AS s_en",
        "tokens_in_set(w, array('der','die','das','und','ist')) AS s_de",
        "tokens_in_set(w, array('le','la','les','et','est')) AS s_fr",
        "tokens_in_set(w, array('el','los','las','y','es')) AS s_es")
      .selectExpr("doc_id", "lang",
        """CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
          |     WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
          |     WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
          |     WHEN s_es > 0 THEN 'es'
          |     ELSE 'und' END AS predicted""".stripMargin))

  // ---- quality scoring --------------------------------------------------
  // Length/stopword/punctuation/word-shape signals → composite score.
  // Pure per-row projection: no shuffle, fully codegen'd.
  private val quality = QueryDef(
    "quality_score",
    Some("""SELECT doc_id, n_tok,
           |  round(mean_wlen, 4) AS mean_wlen,
           |  round(stop_ratio, 4) AS stop_ratio,
           |  round(least(1.0::DOUBLE, n_tok / 50.0) * (0.5 + stop_ratio), 4) AS quality
           |FROM (
           |  SELECT doc_id, len(w) AS n_tok,
           |    list_aggregate(list_transform(w, t -> len(t)), 'sum') * 1.0::DOUBLE / len(w) AS mean_wlen,
           |    len(list_filter(w, t -> t IN ('the','a','and','of','is'))) * 1.0::DOUBLE / len(w) AS stop_ratio
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |  WHERE len(w) > 0)
           |ORDER BY doc_id""".stripMargin),
    // Codegen'd kernels only (r3: both HOF lambdas here were
    // interpreted). Σ token lengths == length(text) - (size(w) - 1):
    // splitting on single spaces, each of the size(w)-1 separators is
    // exactly one char, so the identity is exact for any text
    // (consecutive spaces yield empty zero-length tokens — both sides
    // agree). Stopword count via native tokens_in_set. r15: the
    // declared ORDER BY moves below the scoring projection (SortedBy).
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .selectExpr("doc_id", "text", "split(text, ' ') AS w")
      .filter("size(w) > 0")
      .selectExpr("doc_id", "size(w) AS n_tok",
        "(length(text) - size(w) + 1) * 1.0D / size(w) AS mean_wlen",
        "tokens_in_set(w, array('the','a','and','of','is')) * 1.0D / size(w) AS stop_ratio")
      .selectExpr("doc_id", "n_tok",
        "round(mean_wlen, 4) AS mean_wlen",
        "round(stop_ratio, 4) AS stop_ratio",
        "round(least(1.0D, n_tok / 50.0D) * (0.5D + stop_ratio), 4) AS quality"))

  // ---- token statistics --------------------------------------------------
  // Whitespace tokens + a BPE-ish regex count (\w+ runs or single
  // punctuation marks) — the standard pre-tokenizer estimate.
  private val tokenStats = QueryDef(
    "token_stats",
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS ws_tokens,
           |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS subword_ish,
           |  len(text) AS n_chars_measured, n_chars
           |FROM documents ORDER BY doc_id""".stripMargin),
    // r15: sort below the projection (SortedBy) — the regex token scan
    // is the whole cost of this query and the range sampler used to
    // run it twice; it also keeps the exchange to the source columns.
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars")),
        col("doc_id"))
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS ws_tokens",
        "size(regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)) AS subword_ish",
        "length(text) AS n_chars_measured", "n_chars"))

  // ---- per-source exact token-count quantiles -----------------------------
  // The a7 family at GROUP granularity without a per-group sort
  // (r11 verdict #6): exact p50/p95 token counts per source as ORDER
  // STATISTICS (rank = ceil(p·n_g), the discrete quantile — the
  // selected BIGINT is an input value, engine-exact). The trick that
  // avoids both a partitioned Window sort AND a single reducer: ONE
  // GlobalRank two-pass over the total order (source, n_tokens,
  // doc_id) ranks the whole corpus; each group's ranks are then
  // CONTIGUOUS, so the in-group rank is rk − min(rk per source) + 1 —
  // derived with a source-cardinality rollup broadcast back, never a
  // window. The ranked frame checkpoints once per (session, dir,
  // generation); the served plan reads the standing RDD with zero
  // documents scans (PlanSpec lock).
  //
  // 100 TB shape: one range exchange (the same cost as any global
  // sort-free rank), per-partition row_numbers, literal offsets; the
  // group-offset frame is |sources| rows. Contrast the naive
  // `row_number() OVER (PARTITION BY source ...)`: a skewed source
  // (the common case — one crawl dominates) melts its reducer, while
  // the range exchange splits it across partitions transparently.
  private val sourceQuantileCache =
    new graft.operators.DirMemo[org.apache.spark.sql.DataFrame]()

  /** The ONE globally-ranked (source, n_tokens, doc_id, rk) frame both
    * per-source order-statistic queries read (review catch: two
    * copy-pasted build lambdas only dedupe while they stay
    * byte-identical — the memo key carries no lambda fingerprint). */
  private def sourceRankedFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    sourceQuantileCache.getOrElseUpdate(s, dir) {
      graft.operators.GlobalRank.withRank(
        Tables.table(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            col("doc_id")),
        Seq(col("source"), col("n_tokens"), col("doc_id")), "rk")
    }

  /** Per-source group offsets (first global rank + group size) — the
    * |sources|-row rollup both consumers broadcast back. */
  private def sourceRankOffsets(ranked: org.apache.spark.sql.DataFrame) =
    ranked.groupBy("source")
      .agg(min("rk").as("rk0"), count(lit(1)).cast("long").as("n_g"))

  private val sourceQuantiles = QueryDef(
    "token_quantiles_by_source",
    Some("""WITH t AS (SELECT doc_id, source,
           |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |          FROM documents),
           |o AS (SELECT source, n_tokens,
           |        row_number() OVER (PARTITION BY source
           |                           ORDER BY n_tokens, doc_id) AS rk
           |      FROM t),
           |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY source)
           |SELECT g.source, g.n_docs,
           |  max(CASE WHEN o.rk = (g.n_docs * 50 + 99) // 100 THEN o.n_tokens END) AS p50_tokens,
           |  max(CASE WHEN o.rk = (g.n_docs * 95 + 99) // 100 THEN o.n_tokens END) AS p95_tokens
           |FROM o JOIN g USING (source) GROUP BY g.source, g.n_docs
           |ORDER BY g.source""".stripMargin),
    (s, dir) => {
      val ranked = sourceRankedFrame(s, dir)
      val g = sourceRankOffsets(ranked).withColumnRenamed("n_g", "n_docs")
      ranked.join(broadcast(g), "source")
        .withColumn("grk", col("rk") - col("rk0") + 1)
        .groupBy(col("source"), col("n_docs"))
        .agg(
          max(when(col("grk") === expr("(n_docs * 50 + 99) div 100"),
            col("n_tokens"))).as("p50_tokens"),
          max(when(col("grk") === expr("(n_docs * 95 + 99) div 100"),
            col("n_tokens"))).as("p95_tokens"))
        .select(col("source"), col("n_docs"), col("p50_tokens"), col("p95_tokens"))
        .orderBy("source")
    })

  // ---- per-source equi-depth token-length buckets --------------------------
  // ev28 at GROUP granularity off the SAME memoized ranked frame as
  // token_quantiles_by_source: per source, the 4 range-bucket
  // boundaries a per-source repartitionByRange / zone-map layout would
  // use, with exact per-bucket counts proving ±1 balance inside every
  // group. bucket = (grk−1)·4 div n_g over the contiguous in-group
  // rank — pure integer arithmetic, no window, no per-group sort; the
  // group offsets are the same |sources|-row broadcast rollup. One
  // corpus pass total for BOTH gated queries (the shared-frame
  // discipline, enforced by the default-on scan budget).
  private val sourceEquidepth = QueryDef(
    "token_buckets_by_source",
    Some("""WITH t AS (SELECT doc_id, source,
           |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |          FROM documents),
           |o AS (SELECT source, n_tokens,
           |        row_number() OVER (PARTITION BY source
           |                           ORDER BY n_tokens, doc_id) AS rk
           |      FROM t),
           |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY source)
           |SELECT o.source, CAST((o.rk - 1) * 4 // g.n_docs AS BIGINT) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       min(o.n_tokens) AS lo, max(o.n_tokens) AS hi
           |FROM o JOIN g USING (source)
           |GROUP BY o.source, 2 ORDER BY o.source, bucket""".stripMargin),
    (s, dir) => {
      val ranked = sourceRankedFrame(s, dir)
      ranked.join(broadcast(sourceRankOffsets(ranked)), "source")
        .select(col("source"),
          expr("((rk - rk0) * 4) div n_g").as("bucket"), col("n_tokens"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n_tokens").as("lo"), max("n_tokens").as("hi"))
        .orderBy("source", "bucket")
    })

  // ---- tokenizer fertility by source -------------------------------------
  // The tokenizer-eval rollup run before committing a vocabulary:
  // per source, bytes-per-token and FERTILITY (subwords emitted per
  // whitespace word — here the 4-chars-per-subword BPE proxy
  // ceil(len/4), deterministic in both engines). Sources whose
  // fertility is high are expensive to train on at a fixed token
  // budget; the milli-ratios are integer-exact cross-engine.
  //
  // 100 TB shape: pure map-side per-doc arithmetic collapsing into a
  // source-keyed partial agg — only (source, partials) rows shuffle;
  // DECIMAL(38,0) hoists keep the ratios exact at corpus byte counts.
  private val tokenizerFertility = QueryDef(
    "tokenizer_fertility",
    Some("""SELECT source,
           |  count(*) AS n_docs,
           |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           |  CAST(sum(list_aggregate(list_transform(string_split(text, ' '), w -> (len(w) + 3) // 4), 'sum')) AS BIGINT) AS subword_est,
           |  CAST(CAST(sum(strlen(text)) AS HUGEINT) * 1000 // sum(len(string_split(text, ' '))) AS BIGINT) AS bytes_per_token_milli,
           |  CAST(CAST(sum(list_aggregate(list_transform(string_split(text, ' '), w -> (len(w) + 3) // 4), 'sum')) AS HUGEINT) * 1000
           |       // sum(len(string_split(text, ' '))) AS BIGINT) AS fertility_milli
           |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """SELECT source,
        |  count(*) AS n_docs,
        |  sum(octet_length(text)) AS n_bytes,
        |  sum(size(split(text, ' '))) AS ws_tokens,
        |  sum(aggregate(transform(split(text, ' '), w -> (length(w) + 3) div 4), 0L, (a, x) -> a + x)) AS subword_est,
        |  CAST(CAST(sum(octet_length(text)) AS DECIMAL(38,0)) * 1000 div sum(size(split(text, ' '))) AS BIGINT) AS bytes_per_token_milli,
        |  CAST(CAST(sum(aggregate(transform(split(text, ' '), w -> (length(w) + 3) div 4), 0L, (a, x) -> a + x)) AS DECIMAL(38,0)) * 1000
        |       div sum(size(split(text, ' '))) AS BIGINT) AS fertility_milli
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  // ---- winnowing fingerprints --------------------------------------------
  // Rolling 5-char-gram hashes, window-min (w=4) per position, distinct
  // mins = the document fingerprint set (Schleimer et al. winnowing).
  // Digest emitted as (count, min, max) to keep the result narrow.
  private val winnow = QueryDef(
    "winnow_fingerprint",
    Some("""WITH pos AS (
           |  SELECT doc_id, i, ('0x' || substr(md5(substr(text, i::INT, 5)), 1, 8))::BIGINT AS h
           |  FROM documents, unnest(range(1, len(text) - 3)) AS u(i)),
           |win AS (
           |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
           |         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           |  FROM pos)
           |SELECT doc_id, count(DISTINCT m) AS n_fp, min(m) AS min_fp, max(m) AS max_fp
           |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      // native winnow_digest expression: the whole rolling-hash +
      // window-min + distinct pipeline runs as one compiled per-row
      // pass (the SQL formulation explodes ~300 position rows per doc
      // through a window). length >= 5 mirrors the oracle's implicit
      // empty-range drop.
      // r15: the declared ORDER BY doc_id moves BELOW the digest
      // (SortedBy) — the trailing orderBy's range sampler used to run
      // the digest kernel a second time over the whole corpus for its
      // key sample. The pinned range exchange also replaces the old
      // Parallelize.ensure repartition (it spreads the kernel across
      // every core the same way, without the extra round-robin
      // exchange).
      graft.operators.SortedBy(
          Tables.table(s, dir, "documents")
            .filter(length(col("text")) >= 5)
            .select(col("doc_id"), col("text")),
          col("doc_id"))
        .selectExpr("doc_id", "winnow_digest(text) AS d")
        .selectExpr("doc_id", "d.n_fp AS n_fp", "d.min_fp AS min_fp", "d.max_fp AS max_fp")
    })

  // ---- stratified sampling ----------------------------------------------
  // Balanced per-language sampling (the training-mix staple): the k
  // smallest doc_ids per lang — deterministic, so oracle-exact, unlike
  // fraction-based sampleBy. lang cardinality is LOW, so a single
  // `PARTITION BY lang` window funnels the whole corpus into ~5
  // reducers at 100 TB. The Spark side therefore runs the salted
  // two-phase top-k (the r5 verdict's prescription): phase 1 takes the
  // k smallest doc_ids per (lang, salt) — 16 salts spread each
  // language across 16 reducers, each seeing only its hash-slice of
  // the corpus — and phase 2 re-ranks the surviving ≤ k×16 rows per
  // lang, a bounded input regardless of corpus size. Any row in the
  // true per-lang top-k is in its salt-slice's top-k (ranks only
  // shrink when rows are removed), so the result is identical to the
  // single-window form the oracle runs.
  private val stratified = QueryDef(
    "stratified_sample",
    Some("""SELECT lang, doc_id, n_chars FROM (
           |  SELECT lang, doc_id, n_chars,
           |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           |  FROM documents) t
           |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """WITH salted AS (
        |  SELECT lang, doc_id, n_chars, pmod(hash(doc_id), 16) AS salt
        |  FROM documents),
        |partial AS (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang, salt ORDER BY doc_id) AS prn
        |  FROM salted),
        |survivors AS (
        |  SELECT lang, doc_id, n_chars FROM partial WHERE prn <= 20)
        |SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM survivors) t
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin))

  // ---- Gopher-style quality rules ---------------------------------------
  // The rule-based document filter family from the public Gopher/
  // MassiveText methodology (Rae et al. 2021 §A1.1): word-count
  // bounds, mean word length bounds, intra-document repetition
  // (duplicate-word fraction), stop-word floor, symbol-to-word ratio.
  // Complements quality_score (a continuous score) with the hard
  // pass/fail gate a corpus-prep pipeline actually applies. Every
  // kernel is codegen'd column arithmetic — no HOF lambdas: mean word
  // length falls out of length(text) minus separators (a definition,
  // applied identically in both engines), repetition uses
  // array_distinct, stop-words the native tokens_in_set, symbols a
  // char-class regexp_count. Zero shuffles at any scale.
  private val gopherStops =
    "'the','a','an','and','of','is','der','die','das','und','ist'," +
      "'le','la','les','et','est','el','los','las','y','es'"
  private val gopher = QueryDef(
    "gopher_quality_rules",
    Some(s"""WITH t AS (
            |  SELECT doc_id, text, string_split(text, ' ') AS w_raw FROM documents),
            |c AS (
            |  SELECT doc_id, text, w_raw, list_filter(w_raw, x -> x <> '') AS w FROM t),
            |m AS (
            |  SELECT doc_id, len(w) AS n_words,
            |    (len(text) - (len(w_raw) - 1)) * 1.0::DOUBLE / len(w) AS mean_wlen_raw,
            |    1.0::DOUBLE - len(list_distinct(w)) * 1.0::DOUBLE / len(w) AS dup_frac_raw,
            |    len(list_filter(w, x -> x IN ($gopherStops))) AS stopwords,
            |    len(regexp_extract_all(text, '[#@%^*]')) AS symbols
            |  FROM c WHERE len(w) > 0)
            |SELECT doc_id, n_words, round(mean_wlen_raw, 6) AS mean_wlen,
            |  round(dup_frac_raw, 6) AS dup_word_frac, stopwords,
            |  (n_words BETWEEN 5 AND 10000 AND mean_wlen_raw >= 2 AND mean_wlen_raw <= 12
            |   AND dup_frac_raw <= 0.6 AND stopwords >= 2
            |   AND symbols * 1.0::DOUBLE / n_words <= 0.1) AS passes_gopher
            |FROM m ORDER BY doc_id""".stripMargin),
    // empty tokens from consecutive/leading/trailing spaces are NOT
    // words (they'd inflate n_words and the repetition fraction near
    // the thresholds) — array_remove drops them natively, no HOF.
    // Word char-mass stays len(text) minus separators: every ' ' is
    // one separator whether or not its tokens are empty.
    // r15: the declared ORDER BY doc_id moves BELOW the rule kernels
    // (SortedBy) — the range sampler used to re-run the whole
    // split/distinct/stopword/regex projection per row for its key
    // sample; now it sees only (doc_id, text) and the rules run once.
    // The size(w) > 0 filter is per-row and order-preserving, so it
    // runs post-sort unchanged.
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .selectExpr("doc_id", "text", "split(text, ' ') AS w_raw")
      .selectExpr("doc_id", "text", "w_raw", "array_remove(w_raw, '') AS w")
      .filter("size(w) > 0")
      .selectExpr("doc_id",
        "CAST(size(w) AS BIGINT) AS n_words",
        "(length(text) - (size(w_raw) - 1)) * 1.0D / size(w) AS mean_wlen_raw",
        "1.0D - size(array_distinct(w)) * 1.0D / size(w) AS dup_frac_raw",
        s"CAST(tokens_in_set(w, array($gopherStops)) AS BIGINT) AS stopwords",
        "CAST(regexp_count(text, '[#@%^*]') AS BIGINT) AS symbols")
      .selectExpr("doc_id", "n_words",
        "round(mean_wlen_raw, 6) AS mean_wlen",
        "round(dup_frac_raw, 6) AS dup_word_frac", "stopwords",
        "(n_words BETWEEN 5 AND 10000 AND mean_wlen_raw >= 2 AND mean_wlen_raw <= 12" +
          " AND dup_frac_raw <= 0.6 AND stopwords >= 2" +
          " AND symbols * 1.0D / n_words <= 0.1) AS passes_gopher"))

  // ---- TF-IDF top terms ------------------------------------------------
  // The classic corpus-statistics op a training-data pipeline runs to
  // find distinguishing terms / boilerplate: term frequency per doc ×
  // inverse document frequency, top-3 terms per doc. Scale shape: tok
  // explodes map-side; `tf` shuffles on (doc_id, term) — partial
  // aggregation (map-side combine) collapses repeats before the
  // exchange; `df` is a second agg over the distinct projection whose
  // result is VOCABULARY-sized (tiny vs corpus), so Catalyst broadcasts
  // it back onto tf — the corpus body is never shuffled twice. The
  // top-3 window partitions on doc_id (full parallelism, no low-
  // cardinality funnel). Ordering uses the ROUNDED score so ties are
  // term-lexicographic in both engines.
  private val tfidf = QueryDef(
    "tfidf_top_terms",
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM tok GROUP BY term),
           |nd AS (SELECT count(*) AS n FROM documents),
           |s AS (
           |  SELECT tf.doc_id, tf.term, tf.tf, df.dfreq,
           |         round(tf.tf * ln(CAST(nd.n AS DOUBLE) / df.dfreq), 6) AS tfidf
           |  FROM tf JOIN df USING (term) CROSS JOIN nd),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |            ORDER BY tfidf DESC, term) AS rn FROM s)
           |SELECT doc_id, term, tf, dfreq, tfidf, rn FROM r WHERE rn <= 3
           |ORDER BY doc_id, rn""".stripMargin),
    // r15 (guide §2.3/§2.4): the oracle spelling re-ran the corpus
    // token explode for BOTH tf and df (CTE inlining — 2 corpus
    // passes), paid a corpus-sized (doc_id, term) exchange to build
    // tf, and a second corpus-sized (term, doc_id) distinct exchange
    // for df's count(DISTINCT doc_id). Two structural replacements,
    // identical results:
    //  - tf IS the standing docTermTf frame (the surprisal family's
    //    materialized (doc_id, term, tf) checkpoint — built once per
    //    (session, dir), inside whichever timed query builds it
    //    first): the served plan re-scans the corpus ZERO times;
    //  - df derives FROM tf: tf holds exactly one row per present
    //    (doc_id, term), so count(*) per term == count(DISTINCT
    //    doc_id) — the distinct's second corpus-sized two-phase
    //    exchange collapses into one vocabulary-scale agg that
    //    broadcasts back (as before).
    // The surviving corpus-scale exchanges are the row_number window's
    // hash on doc_id and the declared final ORDER BY (bounded:
    // rn <= 3 prunes map-side via WindowGroupLimit).
    (s, dir) => {
      val tf = CorpusOpsQueries.docTermTf(s, dir)
      val dfr = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      val nd = Tables.table(s, dir, "documents").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfr), "term")
        .crossJoin(broadcast(nd))
        // identical parenthesization to the oracle: tf · ln(N / dfreq)
        .select(col("doc_id"), col("term"), col("tf"), col("dfreq"),
          expr("round(tf * ln(CAST(n AS DOUBLE) / dfreq), 6)").as("tfidf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "term", "tf", "dfreq", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    })

  // ---- PII redaction ---------------------------------------------------
  // Regex scrubbing of emails/phone numbers — a compliance staple before
  // any corpus ships to training. The synthetic documents table has no
  // organic PII, so both engines append an identical deterministic
  // contact suffix and the redaction (plus match counts) is verified on
  // that. Per-row regexp_replace/regexp_count are codegen'd projections:
  // embarrassingly parallel, no shuffle at any scale. Patterns stay in
  // the Java∩RE2 common subset so Spark and DuckDB agree byte-for-byte.
  private val piiEmailRe = "[a-z0-9.]+@[a-z.]+[a-z]"
  private val piiPhoneRe = "[+]1-555-[0-9]+"
  private val piiRedact = QueryDef(
    "pii_redact",
    Some(s"""WITH raw AS (
            |  SELECT doc_id,
            |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            |         '@mail.example.com or +1-555-0' || CAST(doc_id % 100 AS VARCHAR)
            |         AS body
            |  FROM documents)
            |SELECT doc_id,
            |       len(regexp_extract_all(body, '$piiEmailRe')) AS emails,
            |       len(regexp_extract_all(body, '$piiPhoneRe')) AS phones,
            |       regexp_replace(regexp_replace(body, '$piiEmailRe', '<EMAIL>', 'g'),
            |                      '$piiPhoneRe', '<PHONE>', 'g') AS redacted
            |FROM raw ORDER BY doc_id""".stripMargin),
    // r15: the declared ORDER BY doc_id sat ABOVE the regex projection,
    // so the range sampler re-ran all four regex passes per row a
    // second time, and the exchange carried body + redacted (~2× text).
    // SortedBy puts the sort below the projection: sampling sees only
    // (doc_id, text), the exchange ships text once, regexes run once.
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .selectExpr("doc_id",
        "text || ' contact user' || CAST(doc_id AS STRING) || " +
          "'@mail.example.com or +1-555-0' || CAST(doc_id % 100 AS STRING) AS body")
      .selectExpr("doc_id",
        s"CAST(regexp_count(body, '$piiEmailRe') AS BIGINT) AS emails",
        s"CAST(regexp_count(body, '$piiPhoneRe') AS BIGINT) AS phones",
        s"regexp_replace(regexp_replace(body, '$piiEmailRe', '<EMAIL>'), " +
          s"'$piiPhoneRe', '<PHONE>') AS redacted"))

  // ---- composed corpus-prep pipeline ------------------------------------
  // The end-to-end training-data prep flow as ONE dataflow: tokenize →
  // language-ID → quality score → exact dedup (keep lowest doc_id per
  // content hash) → keep en-docs above the quality bar → per-source
  // summary. One pass over the corpus, one shuffle on the 32-byte
  // content hash (the window partitions on sha256(text), never raw
  // text), one vocabulary-bounded final agg; every per-row kernel is
  // the compiled form the stage queries use (tokens_in_set, codegen'd
  // arithmetic). This is the materialization an endpoint would cache
  // nightly; the stage operators above are its unit-tested parts.
  //
  // Digest determinism (the r5 red row): a raw `avg(quality)` sums
  // doubles in engine-specific order, and a last-ULP drift at a
  // round(…,4) boundary flips the digit; DuckDB additionally widens
  // `sum(BIGINT)` to HUGEINT, whose serialization differs from int64
  // (the trap fixed for simhash/neardup_corpus below). So the quality
  // digest is the EXACT integer sum of per-row micro-units — round is
  // applied per row (bit-identical across engines, no summation yet),
  // the sum is integer arithmetic (order-independent) — and both sums
  // are pinned to BIGINT on the oracle side.
  private val corpusPrep = QueryDef(
    "corpus_prep_summary",
    Some("""WITH t AS (
           |  SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
           |scored AS (
           |  SELECT doc_id, source, text, len(w) AS n_tok,
           |    len(list_filter(w, t -> t IN ('the','a','and','of','is'))) * 1.0::DOUBLE / len(w) AS stop_ratio,
           |    len(list_filter(w, t -> t IN ('the','a','an','and','of','is'))) AS s_en,
           |    len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS s_de,
           |    len(list_filter(w, t -> t IN ('le','la','les','et','est'))) AS s_fr,
           |    len(list_filter(w, t -> t IN ('el','los','las','y','es'))) AS s_es
           |  FROM t WHERE len(w) > 0),
           |q AS (
           |  SELECT doc_id, source, text, n_tok,
           |    least(1.0::DOUBLE, n_tok / 50.0) * (0.5 + stop_ratio) AS quality,
           |    CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
           |         WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
           |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
           |         WHEN s_es > 0 THEN 'es'
           |         ELSE 'und' END AS predicted
           |  FROM scored),
           |d AS (
           |  SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn FROM q)
           |SELECT source,
           |       count(*) FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS docs_kept,
           |       count(*) FILTER (WHERE rn > 1) AS dups_dropped,
           |       count(*) FILTER (WHERE rn = 1 AND NOT (predicted = 'en' AND quality >= 0.55)) AS filtered_out,
           |       cast(sum(cast(round(quality * 1000000) AS BIGINT))
           |            FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS BIGINT) AS sum_quality_u6,
           |       cast(sum(n_tok) FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS BIGINT) AS total_tokens
           |FROM d GROUP BY source ORDER BY source""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """WITH t AS (
        |  SELECT doc_id, source, text, split(text, ' ') AS w FROM documents),
        |scored AS (
        |  SELECT doc_id, source, text, size(w) AS n_tok,
        |    tokens_in_set(w, array('the','a','and','of','is')) * 1.0D / size(w) AS stop_ratio,
        |    tokens_in_set(w, array('the','a','an','and','of','is')) AS s_en,
        |    tokens_in_set(w, array('der','die','das','und','ist')) AS s_de,
        |    tokens_in_set(w, array('le','la','les','et','est')) AS s_fr,
        |    tokens_in_set(w, array('el','los','las','y','es')) AS s_es
        |  FROM t WHERE size(w) > 0),
        |q AS (
        |  SELECT doc_id, source, text, n_tok,
        |    least(1.0D, n_tok / 50.0D) * (0.5D + stop_ratio) AS quality,
        |    CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
        |         WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
        |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |         WHEN s_es > 0 THEN 'es'
        |         ELSE 'und' END AS predicted
        |  FROM scored),
        |d AS (
        |  SELECT *, row_number() OVER (PARTITION BY sha2(text, 256) ORDER BY doc_id) AS rn FROM q)
        |SELECT source,
        |       count(*) FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS docs_kept,
        |       count(*) FILTER (WHERE rn > 1) AS dups_dropped,
        |       count(*) FILTER (WHERE rn = 1 AND NOT (predicted = 'en' AND quality >= 0.55)) AS filtered_out,
        |       sum(CAST(round(quality * 1000000, 0) AS BIGINT))
        |         FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS sum_quality_u6,
        |       sum(n_tok) FILTER (WHERE rn = 1 AND predicted = 'en' AND quality >= 0.55) AS total_tokens
        |FROM d GROUP BY source ORDER BY source""".stripMargin))

  // ---- benchmark contamination ------------------------------------------
  // The decontamination operator every LLM training pipeline runs
  // before an eval claim (n-gram-overlap flavor, per the public GPT-3
  // appendix-C / PaLM methodology): extract the eval set's n-grams and
  // flag every training document containing one. Here the "eval set"
  // is the doc_id % 100 == 0 slice so both engines derive it
  // deterministically; n=4 because the synthetic corpus's vocabulary
  // makes 4-grams sparse-but-present (≈2% of docs hit — a real
  // discriminator, not all-or-nothing).
  //
  // 100 TB shape: the benchmark gram set is BOUNDED (eval suites are
  // thousands of documents, not billions) — distinct it and broadcast;
  // the corpus side is a map-side `word_shingles` explode (compiled
  // kernel, no interpreted HOF) feeding a broadcast hash join and a
  // two-phase distinct count. The corpus here is scanned twice (once
  // to derive the eval grams, once for the training side) because the
  // synthetic eval set is carved out of the same table; a real
  // pipeline reads the eval suite from its own bounded table, making
  // the corpus a single scan. Either way the corpus is shuffled only
  // by the contaminated-doc survivors and never joined to itself.
  // Gram-equality join is token-aligned by construction — a raw
  // substring contains() would false-positive across word boundaries.
  private val contamination = QueryDef(
    "contamination_ngram",
    Some("""WITH w AS (
           |  SELECT doc_id,
           |         list_transform(range(1, len(string_split(text, ' ')) - 2),
           |           i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')) AS grams
           |  FROM documents),
           |g AS (SELECT DISTINCT unnest(grams) AS gram FROM w WHERE doc_id % 100 = 0),
           |tr AS (SELECT doc_id, unnest(grams) AS gram FROM w WHERE doc_id % 100 <> 0)
           |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hits
           |FROM tr JOIN g USING (gram)
           |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr("word_shingles(text, 4)").as("grams"))
      val bench = broadcast(
        docs.filter(col("doc_id") % 100 === 0)
          .select(explode(col("grams")).as("gram")).distinct())
      docs.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), explode(col("grams")).as("gram"))
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_hits"))
        .orderBy("doc_id")
    })

  // ---- n-gram novelty profile (memorization-risk curve) ------------------
  // The per-document novelty signal a dedup-aware curation pipeline
  // tracks: in ingestion order (doc_id), what fraction of a document's
  // 5-gram vocabulary has never been seen before? Low-novelty tails
  // are re-crawls/boilerplate the dedup tier missed; the corpus-level
  // trajectory is the standard memorization-risk readout. "First seen"
  // is exact: each distinct gram's minimum doc_id, computed as a
  // partial-agg min over 60-bit md5-prefix gram HASHES — the shuffle
  // ships (ghash, doc_id) pairs, never gram text (the dup_span_stats
  // digest discipline; a 60-bit space makes collisions negligible and
  // both engines derive identical keys from md5). novelty_ppm is
  // integer BIGINT division — exact in both engines.
  //
  // 100 TB shape: one explode → distinct (doc, ghash) partial agg, one
  // ghash-keyed min, one co-partitioned join back (same key, AQE
  // reuses the exchange), one doc-keyed rollup — all combiner-friendly
  // aggregations; nothing corpus-quadratic, no window.
  private val noveltyProfile = QueryDef(
    "novelty_profile",
    Some("""WITH w AS (
           |  SELECT doc_id,
           |         list_transform(range(1, len(string_split(text, ' ')) - 3),
           |           i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')) AS grams
           |  FROM documents),
           |h AS (
           |  SELECT DISTINCT doc_id,
           |         ('0x' || substr(md5(g.gram), 1, 15))::BIGINT AS ghash
           |  FROM w, unnest(w.grams) AS g(gram)),
           |ng AS (SELECT doc_id, count(*) AS n_grams FROM h GROUP BY doc_id),
           |nv AS (
           |  SELECT first_doc AS doc_id, count(*) AS n_novel
           |  FROM (SELECT ghash, min(doc_id) AS first_doc FROM h GROUP BY ghash)
           |  GROUP BY first_doc)
           |SELECT ng.doc_id, CAST(ng.n_grams AS BIGINT) AS n_grams,
           |       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           |       CAST(coalesce(nv.n_novel, 0) * 1000000 // ng.n_grams AS BIGINT) AS novelty_ppm
           |FROM ng LEFT JOIN nv USING (doc_id) ORDER BY ng.doc_id""".stripMargin),
    (s, dir) => {
      val h = Tables.table(s, dir, "documents")
        .select(col("doc_id"), explode(expr("word_shingles(text, 5)")).as("gram"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)").as("ghash"))
        .distinct()
      // n_novel per doc == the count of grams whose min(doc_id) IS this
      // doc — so both sides collapse to DOC-granularity aggregates and
      // the corpus-sized (ghash → doc) join disappears: one distinct,
      // one min, two doc-keyed rollups, one doc-keyed join of two
      // doc-sized frames. Both sides can be up to one row per DOCUMENT
      // (unbounded at corpus scale), so strategy choice is left to AQE
      // — forcing broadcast here is the corpus-sized-broadcast class
      // the r9 verdict banned; a shuffled hash join on doc_id is safe.
      val ng = h.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      // the explicit ghash repartition (r14) keeps the distinct intact
      // on this branch too (the optimizer otherwise elides it under
      // min(), which makes the two branches' subtrees differ and costs
      // a SECOND corpus scan+explode+md5 pass): with both branches
      // consuming the IDENTICAL distinct exchange, the physical planner
      // reuses it and the corpus is read once. Partition count is left
      // to AQE (no hard-coded N); the exchange it adds carries the
      // already-distinct (doc, ghash) pairs — the same bytes the old
      // second branch shuffled as partial-min rows.
      val nv = h.repartition(col("ghash"))
        .groupBy("ghash").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      ng.join(nv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("coalesce(n_novel, 0L) * 1000000 div n_grams").as("novelty_ppm"))
        .orderBy("doc_id")
    })

  // ---- Bloom-filter decontamination ------------------------------------
  // The membership structure a 100 TB decontamination pass actually
  // ships: the exact-join variant above must broadcast EVERY benchmark
  // gram; this one compresses the whole eval suite into a CONSTANT
  // 8 KiB bitmap (m=65536 bits, k=2 hashes = the two 32-bit words of
  // one md5), so the probe is a pure map-side bit test with zero
  // growth in the reference set — the standard Bloom trade: false
  // positives possible (over-flagging is safe for decontamination),
  // false negatives IMPOSSIBLE by construction (a member's bits are
  // always set). Both hash words are engine-portable md5 prefixes, so
  // the oracle replays the exact bitmap and the gate is hash-exact —
  // including the FP count itself (n_bloom ≥ n_exact per row is the
  // no-false-negative theorem; BloomSpec asserts it). The exact-join
  // columns ride along as the FP audit a production rollout would
  // sample; the serving path needs only the bitmap.
  private val bloomContamination = QueryDef(
    "bloom_contamination",
    Some("""WITH w AS (
           |  SELECT doc_id,
           |         list_transform(range(1, len(string_split(text, ' ')) - 2),
           |           i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')) AS grams
           |  FROM documents),
           |g AS (SELECT DISTINCT unnest(grams) AS gram FROM w WHERE doc_id % 100 = 0),
           |pos AS (SELECT ('0x' || substr(md5(gram), 1, 8))::BIGINT % 65536 AS p FROM g
           |        UNION
           |        SELECT ('0x' || substr(md5(gram), 9, 8))::BIGINT % 65536 FROM g),
           |tr AS (SELECT DISTINCT doc_id, gram
           |       FROM (SELECT doc_id, unnest(grams) AS gram FROM w WHERE doc_id % 100 <> 0)),
           |h AS (SELECT doc_id, gram,
           |        ('0x' || substr(md5(gram), 1, 8))::BIGINT % 65536 AS h1,
           |        ('0x' || substr(md5(gram), 9, 8))::BIGINT % 65536 AS h2 FROM tr),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |        CAST(sum(CASE WHEN h1 IN (SELECT p FROM pos)
           |                       AND h2 IN (SELECT p FROM pos)
           |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
           |        CAST(sum(CASE WHEN gram IN (SELECT gram FROM g)
           |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
           |      FROM h GROUP BY doc_id)
           |SELECT doc_id, n_grams, n_bloom, n_exact FROM c
           |WHERE n_bloom > 0 ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr("word_shingles(text, 4)").as("grams"))
      val ref = docs.filter(col("doc_id") % 100 === 0)
        .select(explode(col("grams")).as("gram")).distinct()
      // Build the bitmap on the driver: one tiny job over the benchmark
      // slice (eval suites are small by construction; ≤2·|grams| ints,
      // hard-capped at m). The 1024-word bitmap folds into the probe
      // projection as an array literal — constant-size side input, the
      // anchor-vector discipline.
      // the bitmap and eval-suite gram set are the STANDING
      // decontamination artifact (built once when the eval suite
      // changes, not per corpus batch) — memoized per (session, source)
      // as plain arrays (session-free values, so the weak key can
      // clear on its own)
      val (words, refGrams) = bloomRefCache.getOrElseUpdate(s, dir) {
        val positions = bloomPositionsOfGrams(ref).collect().map(_.getLong(0))
        val w = new Array[Long](1024)
        positions.foreach(p => w(p.toInt >> 6) |= (1L << (p.toInt & 63)))
        (w, ref.collect().map(_.getString(0)).sorted.toSeq)
      }
      // the per-doc stats — distinct grams, bloom bit tests, exact
      // membership — are ONE compiled pass
      // (functions/TextDigests.BloomDocStats): nothing leaves the scan
      // but the 3-field struct, where the explode/DISTINCT/join
      // spelling shuffled every (doc, gram) pair corpus-wide.
      // r15: the declared ORDER BY moves below the kernel (SortedBy on
      // the raw (doc_id, text) rows), so the sort's range sampler no
      // longer runs word_shingles + the bloom/exact probes twice; the
      // n_bloom filter is per-row and order-preserving post-sort.
      graft.operators.SortedBy(
          Tables.table(s, dir, "documents")
            .filter(col("doc_id") % 100 =!= 0)
            .select(col("doc_id"), col("text")),
          col("doc_id"))
        .withColumn("st", call_function("bloom_doc_stats",
          expr("word_shingles(text, 4)"), typedLit(words.toSeq), typedLit(refGrams)))
        .select(col("doc_id"), col("st.n_grams").as("n_grams"),
          col("st.n_bloom").as("n_bloom"), col("st.n_exact").as("n_exact"))
        .filter(col("n_bloom") > 0)
    })

  private val bloomRefCache =
    new graft.operators.DirMemo[(Array[Long], Seq[String])]()

  private def bloomHashExpr(off: Int) =
    s"CAST(conv(substr(md5(gram), $off, 8), 16, 10) AS BIGINT) % 65536"

  /** (gram) → (p) distinct Bloom bit positions (m=65536, k=2 = the two
    * 32-bit words of one md5) — the shared kernel of the batch
    * decontamination entry and the streaming face. */
  private[graft] def bloomPositionsOfGrams(
      grams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    grams.select(expr(bloomHashExpr(1)).as("p"))
      .union(grams.select(expr(bloomHashExpr(9)).as("p")))
      .distinct()

  /** (…, text) → (p) distinct Bloom positions for every 4-gram in an
    * arbitrary doc frame — the per-micro-batch partial the streaming
    * face ([[graft.streaming.Streaming.bloomRefStream]]) merges into
    * the standing bitmap by OR. OR is idempotent AND commutative —
    * strictly stronger replay safety than the CMS sum merge: a batch
    * replayed after a checkpoint gap re-sets the same bits and the
    * bitmap is unchanged, so no dedup bookkeeping is needed at all. */
  private[graft] def bloomPositionsOf(
      refDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bloomPositionsOfGrams(
      refDocs.select(explode(expr("word_shingles(text, 4)")).as("gram")).distinct())

  // ---- Count-Min sketch heavy hitters ------------------------------------
  // The mergeable frequency sketch (Cormode & Muthukrishnan 2005) a
  // 100 TB pipeline keeps as a standing artifact: d=4 hash rows ×
  // w buckets of exact integer counts — partial-aggregable, constant
  // size, unioned across shards/days by plain addition. Estimate =
  // min over the d bucket counts; the sketch NEVER undercounts (every
  // bucket holds the true count plus non-negative collision mass — a
  // theorem, gated per row) and only overcounts on collisions. w=16
  // here is deliberately far below the vocabulary so the collision/
  // overcount path is EXERCISED and hash-gated (8 of the top-20 rows
  // overcount at sf0.01); a deployment sizes w ≈ e/ε for its error
  // budget — the plan shape is w-independent. The exact top-20 rides
  // along as the audit (a production pass reads candidates from the
  // sketch instead). Hashes are the engine-portable md5 prefix over a
  // row-salted token, so the oracle replays the sketch bit-for-bit —
  // including every collision.
  // The d=4 row hashes are the four 32-bit words of ONE md5 digest
  // (hex slices at offsets 1/9/17/25) — one hash computation per token
  // instead of four salted digests (the salted spelling paid 4× md5
  // per token post-explode and measured 1.9 s warm at sf0.1; hashing
  // BEFORE the ×4 replication and slicing after is the compiled-cheap
  // form, and 32-bit words of a 128-bit digest are exactly the
  // pairwise-independent-enough family CMS asks for).
  private def cmsSlice(engine: String, w: Int, hexCol: String, iRef: String) =
    engine match {
      case "duck" => s"('0x' || substr($hexCol, 1 + 8 * $iRef, 8))::BIGINT % $w"
      case _ => s"CAST(conv(substr($hexCol, 1 + 8 * $iRef, 8), 16, 10) AS BIGINT) % $w"
    }

  /** (t, tf) → (i, b, c): sketch cells from a term-frequency frame —
    * the ×4 row replication and digest slicing run over VOCABULARY-
    * sized rows weighted by tf, never over raw token occurrences
    * (Σ over types of tf ≡ count over tokens, cell by cell). */
  private[graft] def cmsOfTf(tf: org.apache.spark.sql.DataFrame) =
    tf.select(md5(col("t")).as("h"), col("tf"))
      .select(col("h"), col("tf"), explode(array((0 until 4).map(lit): _*)).as("i"))
      .select(col("i"), expr(cmsSlice("spark", 16, "h", "i")).as("b"), col("tf"))
      .groupBy("i", "b").agg(sum("tf").as("c"))

  /** (…, text) → (i, b, c) partial Count-Min sketch over an arbitrary
    * doc frame — the shared kernel of the gated batch entry and the
    * streaming face ([[graft.streaming.Streaming.cmsSketchStream]]):
    * CMS partials over ANY split of the corpus merge into the full
    * sketch by plain cell-wise addition, so per-micro-batch partials
    * from this exact expression sum to the batch sketch (parity-locked
    * in StreamingSpec). The only corpus-sized operation is the tf
    * combine (map-side partial agg); md5, the ×4 replication, and the
    * cell agg all run at vocabulary scale via [[cmsOfTf]]. */
  private[graft] def cmsPartialOf(docs: org.apache.spark.sql.DataFrame) =
    cmsOfTf(docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("tf")))

  private val cmsHeavyHitters = QueryDef(
    "cms_heavy_hitters",
    Some(s"""WITH tc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
            |       FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
            |       GROUP BY t),
            |top AS (SELECT t, cnt FROM tc ORDER BY cnt DESC, t LIMIT 20),
            |r AS (SELECT unnest(range(0, 4)) AS i),
            |sk AS (SELECT r.i, ${cmsSlice("duck", 16, "md5(tc.t)", "r.i")} AS b,
            |              CAST(sum(tc.cnt) AS BIGINT) AS c
            |       FROM tc CROSS JOIN r GROUP BY 1, 2),
            |est AS (SELECT top.t, top.cnt, min(sk.c) AS cms_est
            |        FROM top CROSS JOIN r
            |        JOIN sk ON sk.i = r.i
            |               AND sk.b = ${cmsSlice("duck", 16, "md5(top.t)", "r.i")}
            |        GROUP BY top.t, top.cnt)
            |SELECT t AS token, cnt, cms_est, cms_est >= cnt AS never_undercounts
            |FROM est ORDER BY cnt DESC, token""".stripMargin),
    (s, dir) => {
      val fourRows = array((0 until 4).map(lit): _*)
      val docs = Tables.table(s, dir, "documents")
      // ONE corpus-sized operation: the tf combine (map-side partial
      // agg). Sketch cells AND the exact top-20 both derive from the
      // tf frame — the identical subtree lets AQE reuse the exchange —
      // so md5, the ×4 replication, and the cell agg all run at
      // vocabulary scale, and the sketch stays the constant-size
      // mergeable artifact.
      val tf = docs.select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("tf"))
      val sk = cmsOfTf(tf)
      val top = tf.select(col("t"), col("tf").as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(20)
      top.select(col("t"), col("cnt"), md5(col("t")).as("h"),
          explode(fourRows).as("i"))
        .withColumn("b", expr(cmsSlice("spark", 16, "h", "i")))
        .join(broadcast(sk), Seq("i", "b"))
        .groupBy("t", "cnt").agg(min("c").as("cms_est"))
        .select(col("t").as("token"), col("cnt"), col("cms_est"),
          (col("cms_est") >= col("cnt")).as("never_undercounts"))
        .orderBy(col("cnt").desc, col("token"))
    })

  // ---- training-sequence packing ------------------------------------------
  // The last pre-training step: concatenate documents into fixed
  // token-budget sequences ("packing"). The deterministic greedy rule —
  // within a stream, a document lands in the sequence its PRECEDING
  // cumulative token count falls in (floor(prev_cum / budget)) — is a
  // window cumsum, expressible identically in both engines, so the
  // assignment is hash-gated end to end.
  //
  // 100 TB shape: packing is inherently sequential PER STREAM, so the
  // stream must be bounded — partition by (source, doc_id % 16): 16
  // shards per source spread the cumsum windows across reducers (the
  // same discipline as the salted stratified sample; a corpus-wide
  // ORDER BY doc_id window would funnel 100 TB through one reducer).
  // More scale = more shards; each training shard file is one
  // (source, shard) stream.
  private val seqPacking = QueryDef(
    "seq_packing_assign",
    Some("""WITH d AS (
           |  SELECT doc_id, source, doc_id % 16 AS shard,
           |         len(string_split(text, ' '))::BIGINT AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, source, shard, n_tokens,
           |         coalesce(sum(n_tokens) OVER (
           |           PARTITION BY source, shard ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
           |  FROM d)
           |SELECT doc_id, source, shard, n_tokens,
           |       CAST(prev_cum // 512 AS BIGINT) AS seq_id
           |FROM c ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      val w = Window
        .partitionBy(col("source"), col("shard"))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          // % not pmod: the oracle's % is sign-preserving (-17%16=-1)
          // while pmod(-17,16)=15 — a negative doc_id must not regroup
          // the cumsum streams differently per engine
          (col("doc_id") % 16).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("prev_cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
          expr("prev_cum div 512").as("seq_id"))
        .orderBy("doc_id")
    })

  // ---- hashed linear classifier scoring ---------------------------------
  // The fastText-shaped quality classifier every modern pipeline runs
  // (DataComp/FineWeb style): tokenize, hash each token into a weight
  // bucket, sum the bucket weights, threshold the mean. The weights
  // here are hash-DERIVED (a deterministic stand-in both engines can
  // replay exactly — a trained model would broadcast its weight table
  // into the same plan); the OPERATOR — map-side explode, per-doc
  // integer sum with partial combine, zero corpus shuffles beyond the
  // (doc_id, weight) partials — is the real deliverable. Integer
  // milli-unit weights in [-1000, 1000] keep the digest order-
  // independent and the keep decision (mean weight ≥ 0 ⟺ sum ≥ 0)
  // exact in both engines — no sigmoid, whose libm exp would differ
  // bitwise between engines.
  /** (doc_id, n_terms, score_m, keep) for ANY (doc_id, text) frame —
    * the classifier scoring kernel the streaming quality router
    * ([[graft.streaming.Streaming.qualityRouterStream]]) applies per
    * micro-batch. Same deterministic md5 term weights and keep rule as
    * the gated batch query below; the StreamingSpec parity lock keeps
    * the two spellings equivalent. */
  private[graft] def classifierScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"),
        ((ascii(substring(md5(col("term")), 1, 1)) * 31 +
          ascii(substring(md5(col("term")), 2, 1))) % 2001 - 1000).as("u"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("u").cast("long").as("score_m"))
      .withColumn("keep", col("score_m") >= 0)

  private val classifierScore = QueryDef(
    "quality_classifier_score",
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |w AS (
           |  SELECT doc_id,
           |         (ascii(substr(md5(term), 1, 1)) * 31 +
           |          ascii(substr(md5(term), 2, 1))) % 2001 - 1000 AS u
           |  FROM tok)
           |SELECT doc_id, count(*) AS n_terms,
           |       CAST(sum(u) AS BIGINT) AS score_m,
           |       CAST(sum(u) AS BIGINT) >= 0 AS keep
           |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, dir) => Tables.sql(s, dir,
      """WITH tok AS (
        |  SELECT doc_id, term FROM documents
        |  LATERAL VIEW explode(split(text, ' ')) t AS term),
        |w AS (
        |  SELECT doc_id,
        |         (ascii(substring(md5(term), 1, 1)) * 31 +
        |          ascii(substring(md5(term), 2, 1))) % 2001 - 1000 AS u
        |  FROM tok)
        |SELECT doc_id, count(*) AS n_terms,
        |       CAST(sum(u) AS BIGINT) AS score_m,
        |       CAST(sum(u) AS BIGINT) >= 0 AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ---- quality-aware canonical dedup --------------------------------------
  // Production near-dup dedup does NOT keep the min-id member: it keeps
  // the "best" version of each cluster — here the longest text (the
  // most complete page version; max n_chars, min doc_id tie-break), the
  // standard crawl heuristic. The canonical choice is an integer-keyed
  // ARGMAX, so it stays exact across engines: per-cluster min of
  // struct(-n_chars, doc_id) — a partial-combining struct-min, no
  // window sort. Losers (cluster members that lost the argmax) are a
  // pair-graph-sized set broadcast into one anti-join; the corpus
  // streams past map-side, as in neardup_dedup_corpus.
  private val neardupCanonical = QueryDef(
    "neardup_canonical_corpus",
    Some(neardupPairsSql.replaceFirst("WITH sh", "WITH RECURSIVE sh") + """,
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |members AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |            FROM reach GROUP BY a),
      |ranked AS (
      |  SELECT m.doc_id, m.cluster_id,
      |         row_number() OVER (PARTITION BY m.cluster_id
      |                            ORDER BY d.n_chars DESC, m.doc_id) AS rn
      |  FROM members m JOIN documents d USING (doc_id)),
      |losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val members = graft.operators.ConnectedComponents.labels(
          neardupPairs(s, dir).select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("label"))
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val canon = members.groupBy("label")
        .agg(min(struct((-col("n_chars")).as("neg"), col("doc_id").as("doc_id"))).as("c"))
        .select(col("label"), col("c.doc_id").as("keep_id"))
      val losers = members.join(canon, "label")
        .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
      docs.join(broadcast(losers), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("doc_id")).as("id_sum"))
    })

  // ---- cross-source overlap matrix -----------------------------------------
  // Dedup planning signal: which SOURCES near-duplicate each other (a
  // crawl that mirrors another source, a curated set leaking into web
  // data). The near-dup pair set — already tiny relative to the corpus —
  // is annotated with both endpoints' sources (two hash joins where the
  // pair side broadcasts) and rolled up per unordered source pair.
  // Output is |sources|² at most: constant-size regardless of corpus.
  private val sourceOverlap = QueryDef(
    "source_overlap_matrix",
    Some(neardupPairsSql + """,
      |ann AS (
      |  SELECT least(da.source, db.source) AS src_1,
      |         greatest(da.source, db.source) AS src_2
      |  FROM pairs p
      |  JOIN documents da ON p.id_a = da.doc_id
      |  JOIN documents db ON p.id_b = db.doc_id)
      |SELECT src_1, src_2, count(*) AS n_pairs
      |FROM ann GROUP BY src_1, src_2 ORDER BY src_1, src_2""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents").select(col("doc_id"), col("source"))
      val pairs = neardupPairs(s, dir).select(col("id_a"), col("id_b"))
      pairs
        .join(docs.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("source", "src_a"), "id_a")
        .join(docs.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("source", "src_b"), "id_b")
        .select(least(col("src_a"), col("src_b")).as("src_1"),
          greatest(col("src_a"), col("src_b")).as("src_2"))
        .groupBy("src_1", "src_2").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_1", "src_2")
    })

  // ---- token frequency spectrum --------------------------------------------
  // The Zipf diagnostic (frequency-of-frequencies): how many distinct
  // terms occur exactly f times corpus-wide. Two partial-combining
  // aggs — corpus→vocabulary (the only corpus-sized shuffle, keyed on
  // terms), vocabulary→spectrum (vocabulary-sized input) — the shape
  // every corpus-stats job shares with tfidf's df stage.
  private val freqSpectrum = QueryDef(
    "token_freq_spectrum",
    Some("""WITH tok AS (
           |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY term)
           |SELECT freq, count(*) AS n_terms
           |FROM tf GROUP BY freq ORDER BY freq""".stripMargin),
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .groupBy("freq").agg(count(lit(1)).as("n_terms"))
        .orderBy("freq"))

  // ---- exact duplicated-span stats ---------------------------------------
  // Substring-granular exact dedup (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better"): a token span is
  // duplicated if its k-gram (k=8 words) occurs anywhere else in the
  // corpus — including again in the same document. Per doc we report the
  // duplicated-gram count, the distinct token positions those grams
  // cover (interval union via re-explode + distinct — each gram fans out
  // to exactly k rows, so the blow-up is a bounded ×8, never quadratic),
  // and the keep decision at the 20% coverage threshold. This is the
  // complement of the doc-level dedup family above: MinHash drops
  // whole near-dup documents; this finds boilerplate SPANS inside
  // otherwise-unique documents.
  //
  // 100 TB shape: grams are keyed by md5 digest so the corpus-wide
  // occurrence count shuffles fixed-width keys, never raw 8-gram text
  // (on a real cluster xxhash64 halves the key again; md5 is the
  // engine-shared digest the oracle can replay). Count is a partial
  // agg; the >1 key set joins back as a plain hash join (it can be
  // corpus-sized for boilerplate-heavy crawls, so no broadcast
  // assumption); per-doc rollups partial-combine. Everything else is
  // map-side. All output columns are integers/booleans — exact.
  private val dupSpanCache =
    new graft.operators.DirMemo[org.apache.spark.sql.DataFrame]()

  /** The dup-span BUILD pipeline (pre-checkpoint), exposed so PlanSpec
    * can lock its shuffle payload: grams are keyed by md5 DIGEST so
    * the corpus-wide occurrence count shuffles fixed-width keys, never
    * raw 8-gram text, and the count is a map-side-combining partial
    * agg. Duplicate occurrences via count-then-rejoin: the digest agg
    * and the join both stay in whole-stage-codegen HashAggregate/SMJ.
    * (A one-shuffle collect_list(struct) spelling was tried and
    * measured SLOWER — the object-hash aggregate it forces drops the
    * stage out of codegen, which costs more than the second digest
    * pass it saves.) */
  private[graft] def dupPositions(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = docs
      .select(col("doc_id"),
        posexplode(expr("word_shingles(text, 8)")).as(Seq("gpos", "gram")))
      .select(col("doc_id"), col("gpos").cast("long").as("gpos"),
        md5(col("gram")).as("k"))
    val occ = g.groupBy("k").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select("k")
    g.join(occ, "k").select("doc_id", "gpos")
  }

  private val dupSpans = QueryDef(
    "dup_span_stats",
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |g AS (
           |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos,
           |         md5(array_to_string(w[i:i+7], ' ')) AS k
           |  FROM t, unnest(range(1, len(w) - 6)) AS r(i)),
           |occ AS (SELECT k FROM g GROUP BY k HAVING count(*) > 1),
           |dup AS (SELECT g.doc_id, g.gpos FROM g JOIN occ USING (k)),
           |cov AS (
           |  SELECT doc_id, count(DISTINCT tok) AS covered
           |  FROM (SELECT doc_id, unnest(range(gpos, gpos + 8)) AS tok FROM dup)
           |  GROUP BY doc_id),
           |dg AS (SELECT doc_id, count(*) AS dup_grams FROM dup GROUP BY doc_id),
           |base AS (
           |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |         CAST(greatest(len(w) - 7, 0) AS BIGINT) AS n_grams
           |  FROM t)
           |SELECT b.doc_id, b.n_tokens, b.n_grams,
           |       CAST(coalesce(dg.dup_grams, 0) AS BIGINT) AS dup_grams,
           |       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
           |       CAST(coalesce(cov.covered, 0) * 1000000 // b.n_tokens AS BIGINT) AS dup_ppm,
           |       coalesce(cov.covered, 0) * 5 <= b.n_tokens AS keep
           |FROM base b LEFT JOIN dg USING (doc_id) LEFT JOIN cov USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      // the duplicated-position frame (doc_id, gpos) is CHECKPOINTED
      // per (session, dir, generation): its two consumers (gram count
      // + coverage union) plus the base rollup otherwise inline the
      // gram pipeline into FIVE documents scans — rejected by the
      // default-on ScanBudgetRule. The frame is (long, long) pairs
      // bounded by the duplicated-gram count — the quantity this query
      // exists to measure — so checkpointing it is cheap even on
      // boilerplate-heavy corpora.
      val dup = dupSpanCache.getOrElseUpdate(s, dir) {
        dupPositions(docs).localCheckpoint(true)
      }
      val dg = dup.groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
      val cov = dup
        .select(col("doc_id"), explode(expr("sequence(gpos, gpos + 7)")).as("tok"))
        .groupBy("doc_id").agg(countDistinct(col("tok")).as("covered_tokens"))
      docs
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("n_grams", greatest(col("n_tokens") - 7, lit(0L)))
        .join(dg, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
          expr("coalesce(covered_tokens, 0L) * 1000000 div n_tokens").as("dup_ppm"),
          (coalesce(col("covered_tokens"), lit(0L)) * 5 <= col("n_tokens")).as("keep"))
        .orderBy("doc_id")
    })

  // ---- within-document repetition signals --------------------------------
  // Gopher's repetition filters (Rae et al. 2021 §A1.2): the fraction of
  // words that are repeats and the share the single most frequent bigram
  // claims — high values mark degenerate/generated text. Distinct from
  // gopher_quality_rules above (those are composition filters: stopword
  // and symbol ratios); these are self-similarity filters. All signals
  // are per-document, so the plan is two (doc_id, term)-keyed partial
  // aggs feeding per-doc rollups — full parallelism, no corpus-wide key.
  // Ratios ship as integer ppm (exact in both engines); keep thresholds
  // exercise both branches on the synthetic corpus.
  private val repetition = QueryDef(
    "repetition_signals",
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |wc AS (
           |  SELECT doc_id, count(*) AS n_words, count(DISTINCT term) AS n_distinct
           |  FROM (SELECT doc_id, unnest(w) AS term FROM t) GROUP BY doc_id),
           |bg AS (
           |  SELECT doc_id, gram, count(*) AS c
           |  FROM (SELECT doc_id,
           |               unnest(list_transform(range(1, len(w)),
           |                      i -> array_to_string(w[i:i+1], ' '))) AS gram
           |        FROM t) GROUP BY doc_id, gram),
           |bt AS (SELECT doc_id, max(c) AS top_bigram, sum(c) AS n_bigrams
           |       FROM bg GROUP BY doc_id)
           |SELECT wc.doc_id,
           |       CAST(wc.n_words AS BIGINT) AS n_words,
           |       CAST(wc.n_distinct AS BIGINT) AS n_distinct,
           |       CAST((wc.n_words - wc.n_distinct) * 1000000 // wc.n_words AS BIGINT)
           |         AS dup_word_ppm,
           |       CAST(coalesce(bt.top_bigram, 0) AS BIGINT) AS top_bigram,
           |       CAST(coalesce(bt.top_bigram, 0) * 1000000 //
           |            greatest(coalesce(bt.n_bigrams, 0), 1) AS BIGINT)
           |         AS top_bigram_ppm,
           |       (wc.n_words - wc.n_distinct) * 2 <= wc.n_words AND
           |         coalesce(bt.top_bigram, 0) * 10 <=
           |         greatest(coalesce(bt.n_bigrams, 0), 1) AS keep
           |FROM wc LEFT JOIN bt USING (doc_id) ORDER BY wc.doc_id""".stripMargin),
    // r15 (guide §2.4): every signal is per-document, so NOTHING here
    // needs an aggregation exchange — the old form exploded the corpus
    // twice, shuffled the token stream on doc_id (count + distinct),
    // shuffled the bigram stream on (doc_id, gram), and joined the two
    // aggregates back. All of it is in-row arithmetic:
    //   n_words    = size(split)          (explode+count over the same)
    //   n_distinct = size(array_distinct) (== count(DISTINCT term))
    //   n_bigrams  = size(word_shingles(text, 2))  (== sum of counts)
    //   top_bigram = array_max over the compiled term_counts
    //                multiplicities (.c extraction is a codegen'd
    //                GetArrayStructFields, no lambda); empty bigram
    //                array → NULL → coalesce 0, exactly the old LEFT
    //                JOIN's missing-row case.
    // The declared ORDER BY doc_id moves BELOW the projection
    // (SortedBy: pinned range exchange + local sort — orderBy's
    // physical shape), so the range sampler sees only (doc_id, text)
    // and the kernels run once per row, not twice. Plan: 4 exchanges +
    // 1 join → 1 range exchange, zero joins.
    (s, dir) => graft.operators.SortedBy(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
        expr("term_counts(word_shingles(text, 2)).c").as("bcs"),
        size(expr("word_shingles(text, 2)")).cast("long").as("n_bigrams"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        expr("(n_words - n_distinct) * 1000000 div n_words").as("dup_word_ppm"),
        coalesce(expr("array_max(bcs)"), lit(0L)).as("top_bigram"),
        expr("coalesce(array_max(bcs), 0L) * 1000000 div greatest(n_bigrams, 1L)")
          .as("top_bigram_ppm"),
        ((col("n_words") - col("n_distinct")) * 2 <= col("n_words") &&
          coalesce(expr("array_max(bcs)"), lit(0L)) * 10 <=
            greatest(col("n_bigrams"), lit(1L))).as("keep")))

  // ---- BPE merge candidates (first tokenizer-training iteration) ---------
  // The inner loop of byte-pair-encoding training: count adjacent
  // symbol pairs across the corpus, weighted by word frequency, and
  // surface the top merge candidates. This is the op a tokenizer
  // pipeline runs repeatedly (merge the winner, re-count) — one
  // iteration is gated here; the loop re-invokes the same dataflow.
  //
  // 100 TB shape: the ONLY corpus-sized work is the word tf partial agg
  // (the freqSpectrum/CMS discipline — raw tokens collapse map-side);
  // the pair explode then runs at VOCABULARY scale over word TYPES
  // weighted by tf, so a 100 TB corpus with a 1M-type vocabulary
  // explodes ~20M (type, position) rows, not 10¹² token rows. Words of
  // length 1 contribute no pairs and are filtered identically in both
  // engines (also guarding Spark's descending-sequence trap:
  // sequence(1, 0) yields [1, 0], not empty).
  private def bpeSql(unnestTok: String, pairGen: String) =
    s"""WITH tok AS ($unnestTok),
       |tf AS (SELECT word, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY word),
       |p AS ($pairGen),
       |c AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS n FROM p GROUP BY a, b)
       |SELECT a, b, n FROM c ORDER BY n DESC, a, b LIMIT 20""".stripMargin

  private val bpePairs = QueryDef(
    "bpe_merge_pairs",
    Some(bpeSql(
      "SELECT unnest(string_split(text, ' ')) AS word FROM documents",
      """SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, tf
        |  FROM tf, LATERAL unnest(range(1, len(word))) r(i)
        |  WHERE len(word) >= 2""".stripMargin)),
    (s, dir) => Tables.sql(s, dir, bpeSql(
      """SELECT word FROM documents
        |  LATERAL VIEW explode(split(text, ' ')) t AS word""".stripMargin,
      """SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, tf
        |  FROM tf LATERAL VIEW explode(sequence(1, length(word) - 1)) r AS i
        |  WHERE length(word) >= 2""".stripMargin)))

  // ---- BPE merge application (the apply half of one training round) -----
  // bpe_merge_pairs elects the winning pair; this operator APPLIES it —
  // the other half of a byte-pair-encoding training iteration: count
  // the greedy left-to-right merge sites per vocabulary type and emit
  // what the round buys (tokens touched, total merges, symbol count
  // before/after). Merge-site counting is the replace trick:
  // (len(w) − len(replace(w, ab, ''))) / 2 — `replace` removes
  // leftmost-non-overlapping occurrences in both engines, which IS
  // BPE's greedy application order (exact for a==b runs too: 'aaa'
  // merges once). Like the count side, everything after the word-tf
  // partial agg runs at VOCABULARY scale: the 1-row winner cross-joins
  // (broadcast) onto the type table, never the corpus.
  private def bpeApplySql(unnestTok: String, pairGen: String,
      cat: String, intDiv: String) =
    s"""WITH tok AS ($unnestTok),
       |tf AS (SELECT word, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY word),
       |p AS ($pairGen),
       |c AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS n FROM p GROUP BY a, b),
       |top AS (SELECT a, b FROM c ORDER BY n DESC, a, b LIMIT 1),
       |m AS (SELECT tf.word, tf.tf, top.a, top.b,
       |        (length(tf.word) - length(replace(tf.word, $cat, ''))) $intDiv 2 AS sites
       |      FROM tf CROSS JOIN top)
       |SELECT a AS pair_a, b AS pair_b,
       |       CAST(sum(CASE WHEN sites > 0 THEN tf ELSE 0 END) AS BIGINT) AS tokens_touched,
       |       CAST(sum(sites * tf) AS BIGINT) AS total_merges,
       |       CAST(sum(length(word) * tf) AS BIGINT) AS symbols_before,
       |       CAST(sum((length(word) - sites) * tf) AS BIGINT) AS symbols_after
       |FROM m GROUP BY a, b""".stripMargin

  private val bpeApply = QueryDef(
    "bpe_apply_merge",
    Some(bpeApplySql(
      "SELECT unnest(string_split(text, ' ')) AS word FROM documents",
      """SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, tf
        |  FROM tf, LATERAL unnest(range(1, len(word))) r(i)
        |  WHERE len(word) >= 2""".stripMargin,
      "top.a || top.b", "//")),
    (s, dir) => Tables.sql(s, dir, bpeApplySql(
      """SELECT word FROM documents
        |  LATERAL VIEW explode(split(text, ' ')) t AS word""".stripMargin,
      """SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, tf
        |  FROM tf LATERAL VIEW explode(sequence(1, length(word) - 1)) r AS i
        |  WHERE length(word) >= 2""".stripMargin,
      "concat(top.a, top.b)", "div")))

  // ---- PageRank over the near-dup graph ----------------------------------
  // The canonical iterative graph computation, run where a dedup
  // pipeline actually wants it: rank vertices of the near-dup graph by
  // structural centrality (a high-rank member is the "hub" its
  // cluster's canonical representative should be). Three damped power
  // iterations (d = 0.85) with the integer-micro discipline making the
  // iteration ENGINE-EXACT despite floating point: each edge's
  // contribution p(u)/deg(u) rounds to an integer micro-unit FIRST, so
  // the per-vertex sum is an order-independent integer sum, and the
  // damping update rounds once per iteration — both engines replay the
  // identical integer sequence (the oracle unrolls the loop as a CTE
  // chain). 100 TB shape: each iteration is one hash join of the rank
  // vector against the EDGE LIST (never the corpus) plus a partial-agg
  // combine on dst; degrees are bounded by the banding bucket cap, and
  // the iteration count is a constant — O(iters) shuffles of the pair
  // set, the same plan GraphX's Pregel would stage.
  private val PrIters = 3

  private val pagerank = QueryDef(
    "pagerank_neardup",
    Some {
      val base = simhashPairsCoreSql + """,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |r0 AS (SELECT id, deg,
        |         CAST(round(1000000.0 / nn.n, 0) AS BIGINT) AS p
        |       FROM deg CROSS JOIN nn)""".stripMargin
      val iters = (1 to PrIters).map { k =>
        s"""r$k AS (
           |  SELECT d.id, d.deg,
           |         CAST(round(0.15 * 1000000.0 / nn.n + 0.85 * s.contrib, 0) AS BIGINT) AS p
           |  FROM deg d CROSS JOIN nn
           |  JOIN (SELECT e.dst AS id,
           |               CAST(sum(CAST(round(CAST(r.p AS DOUBLE) / r.deg, 0) AS BIGINT)) AS BIGINT) AS contrib
           |        FROM edges e JOIN r${k - 1} r ON r.id = e.src
           |        GROUP BY e.dst) s ON s.id = d.id)""".stripMargin
      }.mkString(",\n", ",\n", "")
      base + iters + s"""
        |SELECT id, deg, p AS p_u6 FROM r$PrIters
        |ORDER BY p_u6 DESC, id LIMIT 20""".stripMargin
    },
    (s, dir) => {
      // Standing GRAPH index, not just the pair set (r14): the edge
      // list with the SOURCE DEGREE attached — the GraphX-style layout
      // where each edge carries what the iteration divides by. With
      // sdeg on the edge row the rank vector shrinks to (id, p) and
      // every iteration is exactly one join + one partial-combining
      // aggregate; the old form re-joined deg and re-derived the
      // edges-union per iteration reference (the degree re-join was a
      // third of the plan). deg re-attaches ONCE on the final 20-row
      // output. Same integer sequence: sdeg == deg(src) by
      // construction, and r_k's vertex set (contrib receivers) matches
      // the oracle's deg ⋈ contrib inner join at every step.
      val (pe, deg) = prGraph(s, dir)
      val n = broadcast(deg.agg(count(lit(1)).as("n")))
      var r = deg.crossJoin(n)
        .select(col("id"),
          expr("CAST(round(1000000.0 / n, 0) AS BIGINT)").as("p"))
      for (_ <- 1 to PrIters) {
        val contrib = pe
          .join(r.select(col("id").as("src"), col("p")), "src")
          .select(col("dst").as("id"),
            expr("CAST(round(CAST(p AS DOUBLE) / sdeg, 0) AS BIGINT)").as("c"))
          .groupBy("id").agg(sum("c").as("contrib"))
        r = contrib.crossJoin(n)
          .select(col("id"),
            expr("CAST(round(0.15 * 1000000.0 / n + 0.85 * contrib, 0) AS BIGINT)").as("p"))
      }
      r.join(deg, "id")
        .select(col("id"), col("deg"), col("p").as("p_u6"))
        .orderBy(col("p_u6").desc, col("id")).limit(20)
    })

  /** Degree-annotated near-dup graph, one per (session, dir): the
    * symmetric edge list with each edge's source degree attached
    * (src, dst, sdeg) plus the vertex degree frame (id, deg) — built
    * once from the standing pair index and checkpointed, so the
    * pagerank iterations pay joins against a materialized graph, never
    * the banding pipeline or a per-iteration degree re-join. */
  private val prGraphCache =
    new graft.operators.DirMemo[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()

  private def prGraph(s: org.apache.spark.sql.SparkSession, dir: String) =
    prGraphCache.getOrElseUpdate(s, dir) {
      val pairs = simhashPairsMaterialized(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg")).localCheckpoint(true)
      val pe = edges
        .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
        .localCheckpoint(true)
      (pe, deg)
    }

  // ---- Misra–Gries heavy terms (verified two-pass, corpus tokens) --------
  // The token-level consumer of the native mg_topk aggregate (ev30
  // profiles the 5-value event stream; this is the VOCABULARY-scale
  // case the summary exists for): pass 1 carries only k=64-entry
  // mergeable buffers through the exchange — the full (term, count)
  // table, vocabulary-sized and the dominant shuffle of every other
  // corpus-stats op here, never materializes — and provably contains
  // every term over n/65 of the corpus; pass 2 re-tokenizes map-side,
  // keeps only the ≤ 64 candidate literals (an `isin` before any
  // shuffle, so candidate tokens alone reach the exact count), and
  // verifies the n/32 threshold. Output exact; the oracle is the plain
  // aggregate.
  private val mgHeavyTerms = QueryDef(
    "mg_heavy_terms",
    Some("""WITH tok AS (
           |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
           |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
           |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
           |SELECT c.term, CAST(c.cnt AS BIGINT) AS cnt,
           |       CAST(CAST(c.cnt AS HUGEINT) * 1000000 // n.n AS BIGINT)
           |         AS freq_ppm
           |FROM c CROSS JOIN n
           |WHERE CAST(c.cnt AS HUGEINT) * 32 > n.n
           |ORDER BY cnt DESC, term""".stripMargin),
    (s, dir) => {
      val first = Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .agg(expr("mg_topk(term, 64)").as("mg"),
          count(lit(1)).cast("long").as("n")).collect()(0)
      val cands = first.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      val total = first.getLong(1)
      Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(cands: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .filter(expr(s"CAST(cnt AS DECIMAL(38,0)) * 32 > ${total}L"))
        .select(col("term"), col("cnt"),
          expr(s"CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div ${total}L AS BIGINT)")
            .as("freq_ppm"))
        .orderBy(col("cnt").desc, col("term"))
    })

  // ---- classifier calibration (reliability table) -------------------------
  // The eval that decides whether quality_classifier_score's threshold
  // is trustworthy: bucket the corpus into 10 FIXED-WIDTH score bins
  // between the global min and max, and measure the empirical pass
  // rate of the rule-based Gopher gate inside each bin. A calibrated
  // classifier shows pass_ppm monotone in bin; a flat table means the
  // score carries no signal at that operating range. Fixed-width bins
  // instead of ntile deciles ON PURPOSE: ntile is a single-reducer
  // global sort (the w7 lesson), while (score−min)·10/(max−min+1) is
  // map-side arithmetic off a two-scalar broadcast. The per-bin mean
  // score applies a positivity offset before the integer division so
  // both engines' trunc/floor semantics coincide on negative sums.
  //
  // 100 TB shape: two independent corpus passes (classifier partials
  // keyed on doc_id; gopher labels map-side) meet in ONE doc_id hash
  // join; the min/max rollup is a 1-row broadcast; the final table is
  // a 10-row partial-combining aggregate. No sort, no window.
  /** (score_m, label) per doc, materialized once per (session, dir):
    * the classifier pass and the gopher-label pass each scan the
    * corpus once, meet in ONE doc_id hash join, and everything
    * downstream (the min/max range row, the bin table) derives from
    * the checkpointed two-column frame — Spark inlines CTEs, so the
    * SQL spelling would re-run both corpus passes for the range
    * aggregate AND the bin aggregate (the kl_divergence one-pass
    * discipline). */
  private val calibCache =
    new graft.operators.DirMemo[org.apache.spark.sql.DataFrame]()

  private def calibFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    calibCache.getOrElseUpdate(s, dir) {
      Tables.sql(s, dir,
        s"""WITH wt AS (
           |  SELECT doc_id,
           |         (ascii(substr(md5(term), 1, 1)) * 31 +
           |          ascii(substr(md5(term), 2, 1))) % 2001 - 1000 AS u
           |  FROM (SELECT doc_id, term FROM documents
           |        LATERAL VIEW explode(split(text, ' ')) t AS term)),
           |sc AS (SELECT doc_id, CAST(sum(u) AS BIGINT) AS score_m
           |       FROM wt GROUP BY doc_id),
           |m AS (
           |  SELECT doc_id, size(w) AS n_words,
           |    (length(text) - (size(w_raw) - 1)) * 1.0D / size(w) AS mwl,
           |    1.0D - size(array_distinct(w)) * 1.0D / size(w) AS dup_frac,
           |    tokens_in_set(w, array($gopherStops)) AS stopwords,
           |    regexp_count(text, '[#@%^*]') AS symbols
           |  FROM (SELECT doc_id, text, split(text, ' ') AS w_raw,
           |               array_remove(split(text, ' '), '') AS w
           |        FROM documents) c
           |  WHERE size(w) > 0),
           |lab AS (
           |  SELECT doc_id,
           |    (n_words BETWEEN 5 AND 10000 AND mwl >= 2 AND mwl <= 12
           |     AND dup_frac <= 0.6 AND stopwords >= 2
           |     AND symbols * 1.0D / n_words <= 0.1) AS label
           |  FROM m)
           |SELECT sc.score_m, lab.label FROM sc JOIN lab USING (doc_id)""".stripMargin)
        .localCheckpoint(true)
    }

  private val calibration = QueryDef(
    "classifier_calibration",
    Some(s"""WITH wt AS (
            |  SELECT doc_id,
            |         (ascii(substr(md5(term), 1, 1)) * 31 +
            |          ascii(substr(md5(term), 2, 1))) % 2001 - 1000 AS u
            |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |        FROM documents)),
            |sc AS (SELECT doc_id, CAST(sum(u) AS BIGINT) AS score_m
            |       FROM wt GROUP BY doc_id),
            |m AS (
            |  SELECT doc_id, len(w) AS n_words,
            |    (length(text) - (len(w_raw) - 1)) * 1.0::DOUBLE / len(w) AS mwl,
            |    1.0::DOUBLE - len(list_distinct(w)) * 1.0::DOUBLE / len(w) AS dup_frac,
            |    len(list_filter(w, x -> x IN ($gopherStops))) AS stopwords,
            |    len(regexp_extract_all(text, '[#@%^*]')) AS symbols
            |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w_raw,
            |               list_filter(string_split(text, ' '), x -> x <> '') AS w
            |        FROM documents) c
            |  WHERE len(w) > 0),
            |lab AS (
            |  SELECT doc_id,
            |    (n_words BETWEEN 5 AND 10000 AND mwl >= 2 AND mwl <= 12
            |     AND dup_frac <= 0.6 AND stopwords >= 2
            |     AND symbols * 1.0::DOUBLE / n_words <= 0.1) AS label
            |  FROM m),
            |j AS (SELECT sc.score_m, lab.label FROM sc JOIN lab USING (doc_id)),
            |rng AS (SELECT min(score_m) AS lo, max(score_m) AS hi FROM j),
            |b AS (
            |  SELECT least(9, (j.score_m - rng.lo) * 10 // (rng.hi - rng.lo + 1)) AS bin,
            |         j.score_m, j.label
            |  FROM j CROSS JOIN rng)
            |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
            |       CAST(count(*) FILTER (WHERE label) AS BIGINT) AS n_pass,
            |       CAST(count(*) FILTER (WHERE label) * 1000000 // count(*) AS BIGINT)
            |         AS pass_ppm,
            |       CAST((sum(score_m) + count(*) * 10000000) // count(*) - 10000000
            |            AS BIGINT) AS mean_score_m
            |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    (s, dir) => {
      val j = calibFrame(s, dir)
      val rng = j.agg(min("score_m").as("lo"), max("score_m").as("hi"))
      j.crossJoin(broadcast(rng))
        .select(
          least(lit(9L), expr("((score_m - lo) * 10) div (hi - lo + 1)"))
            .as("bin"),
          col("score_m"), col("label"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).cast("long").as("n_pass"),
          sum("score_m").cast("long").as("sum_m"))
        .select(col("bin"), col("n_docs"), col("n_pass"),
          expr("(n_pass * 1000000) div n_docs").as("pass_ppm"),
          expr("(sum_m + n_docs * 10000000) div n_docs - 10000000")
            .as("mean_score_m"))
        .orderBy("bin")
    })

  // ---- verified deciles off the native q-digest sketch --------------------
  // The quantile analog of mg_heavy_terms' two-pass protocol, and the
  // scale-native replacement for a full-corpus GlobalRank when only a
  // FIXED set of quantiles is needed: pass 1 is ONE bounded-state
  // aggregation (the native qdigest TypedImperativeAggregate — ≤ 3k
  // nodes per shuffle buffer, O(k·partitions) exchange payload — where
  // ev27's exact path range-exchanges the whole corpus); the digest's
  // rank guarantee (error ≤ b·⌊n/k⌋) brackets each decile in a VALUE
  // window, and the exact pass re-scans only those windows — a pushed
  // parquet range filter over a top-level column — resolving the true
  // quantile with a prefix sum over the window's per-value counts.
  // Output EXACT and deterministic (the digest only steers the window;
  // QDigestSpec gates the containment theorem under adversarial
  // repartitionings, so the windows provably hold the true values).
  //
  // 100 TB shape: two full map-side passes (sketch agg + the
  // below-window rank anchor) and one ~2·b/k-fraction windowed pass;
  // no corpus-wide sort or range exchange anywhere.
  private val QdK = 2048
  private val QdB = 20
  private val qdigestDeciles = QueryDef(
    "qdigest_verified_deciles",
    Some("""WITH ord AS (
           |  SELECT n_chars AS v,
           |         row_number() OVER (ORDER BY n_chars) AS rk,
           |         CAST(count(*) OVER () AS BIGINT) AS n
           |  FROM documents WHERE n_chars IS NOT NULL),
           |d AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS decile)
           |SELECT d.decile, CAST(min(ord.v) AS BIGINT) AS q
           |FROM d JOIN ord ON ord.rk = (d.decile * ord.n + 9) // 10
           |GROUP BY d.decile ORDER BY d.decile""".stripMargin),
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
      // pass 1: the sketch (n comes exactly from the digest total —
      // every non-null row lands in exactly one node)
      val first = docs
        .agg(expr(s"qdigest(n_chars, $QdK, $QdB)").as("qd")).collect()(0)
      val entries = graft.functions.QDigest
        .entriesOfRows(first.getSeq[org.apache.spark.sql.Row](0))
      verifiedDecilesFrom(s, docs, entries, QdK, QdB)
    })

  /** The verified-decile resolution shared by the direct-sketch and
    * rollup-merged gated queries: digest brackets each decile in a
    * value window, the exact pass re-scans only the windows (pushed
    * range filter) and resolves true quantiles with a distributed
    * prefix sum. One implementation so the two paths' EXACT outputs
    * cannot drift. */
  private[graft] def verifiedDecilesFrom(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      entries: Map[Long, Long], k: Int, b: Int): org.apache.spark.sql.DataFrame = {
    val n = graft.functions.QDigest.totalOf(entries)
    val ss = s
    import ss.implicits._
    // empty corpus: the oracle returns zero rows; without this guard
    // the below-window sum is NULL and getLong NPEs (review catch)
    if (n == 0L) Seq.empty[(Long, Long)].toDF("decile", "q")
    else {
      val windows = (1L to 9L).map { p =>
        val target = (p * n + 9) / 10
        val (lo, hi) = graft.functions.QDigest
          .valueWindow(entries, b, k, target)
        (p, target, lo, hi)
      }
      // the sketch clamps to the universe [0, 2^b), but the EXACT pass
      // runs on RAW values: a window end sitting on a universe boundary
      // means the true value may lie beyond it (clamped rows), so that
      // bound must open to ±infinity or upper deciles silently vanish
      // for corpora with values ≥ 2^b (r14 advice, the medium finding)
      val uniMax = (1L << b) - 1L
      val gLoOpt = Some(windows.map(_._3).min).filter(_ > 0L)
      val gHiOpt = Some(windows.map(_._4).max).filter(_ < uniMax)
      // exact rank anchor below the window union (map-side partials);
      // an open lower bound anchors at -infinity: below = 0
      val below = gLoOpt.fold(0L) { gLo =>
        docs.agg(
          sum(when(col("n_chars") < gLo, 1L).otherwise(0L)).cast("long"))
          .collect()(0).getLong(0)
      }
      // exact pass over the windows only: pushed range filter, per-value
      // counts, distributed prefix sum — value at rank t is the least v
      // with below + cum(v) ≥ t
      val windowed0 = gLoOpt.fold(docs)(gLo => docs.filter(col("n_chars") >= gLo))
      val windowed = gHiOpt.fold(windowed0)(gHi => windowed0.filter(col("n_chars") <= gHi))
      val wcounts = windowed
        .groupBy(col("n_chars").cast("long").as("v"))
        .agg(count(lit(1)).cast("long").as("c"))
      val ranked = graft.operators.GlobalRank
        .withPrefixSum(wcounts, Seq(col("v")), col("c"), "cum")
      val dec = windows.map { case (p, t, _, _) => (p, t) }
        .toDF("decile", "target")
      ranked.join(broadcast(dec), col("cum") + lit(below) >= col("target"))
        .groupBy("decile").agg(min("v").as("q"))
        .orderBy("decile")
    }
  }

  // ---- rollup-merged verified deciles (qdigest_merge end-to-end) -----------
  // The STORED-sketch deployment path hash-gated whole: a per-SOURCE
  // digest layer (what a 100 TB pipeline persists next to each ingest
  // partition — rows never re-read for a rollup) re-aggregates through
  // the native `qdigest_merge` into the corpus digest, and the same
  // verified two-pass must reproduce the EXACT corpus deciles — the
  // hash gate thereby proves the merge preserves the rank guarantee
  // end-to-end, not just in the unit spec. Same oracle as the direct
  // query (exact deciles don't care how the sketch was assembled).
  private val qdigestRollup = QueryDef(
    "qdigest_rollup_deciles",
    qdigestDeciles.oracle,
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
      // the stored-artifact layer: one digest per source…
      val perSource = docs.groupBy("source")
        .agg(expr(s"qdigest(n_chars, $QdK, $QdB)").as("qd"))
      // …re-aggregated WITHOUT touching rows
      val merged = perSource
        .agg(expr(s"qdigest_merge(qd, $QdK, $QdB)").as("qd")).collect()(0)
      val entries = graft.functions.QDigest
        .entriesOfRows(merged.getSeq[org.apache.spark.sql.Row](0))
      verifiedDecilesFrom(s, docs, entries, QdK, QdB)
    })

  // ---- per-source two-sample KS (group vs complement) ---------------------
  // ev26 at GROUP granularity — the distribution-shift audit run per
  // SOURCE before mixing a corpus: for every source, the two-sample
  // Kolmogorov–Smirnov statistic between its token-length distribution
  // and the REST of the corpus, with the same exact-rational discipline
  // as ev26 (D's numerator cross-multiplied BIGINT→DECIMAL(38,0), ppm
  // quantization only AFTER the max, verdict by the squared critical
  // inequality c²=1.844164 at α=0.05 — no sqrt, no double).
  //
  // 100 TB shape: ONE corpus pass collapses to the (source, value)
  // count frame (map-side partials — only S×|V| rows shuffle), which is
  // checkpointed and feeds everything: the global value CDF via the
  // two-pass distributed prefix scan, the per-source sizes, and the
  // dense source×value grid. Both ECDFs evaluate on that grid — a
  // DERIVED frame of S×|V| rows (sources × distinct values, never
  // corpus-sized), so its partitioned per-source window is a
  // small-frame scan, not the single-reducer corpus hazard the
  // GlobalRank family exists to avoid.
  private val ksBySource = QueryDef(
    "ks_by_source",
    Some("""WITH t AS (SELECT source,
           |            CAST(len(string_split(text, ' ')) AS BIGINT) AS v
           |          FROM documents),
           |c AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
           |      FROM t GROUP BY 1, 2),
           |vals AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS c_v FROM c GROUP BY v),
           |cum AS (SELECT v, CAST(sum(c_v) OVER (ORDER BY v) AS BIGINT) AS cum_all
           |        FROM vals),
           |g AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM c GROUP BY source),
           |n AS (SELECT CAST(sum(c_v) AS BIGINT) AS n_tot FROM vals),
           |sc AS (SELECT g.source, cum.v, cum.cum_all, g.n_s,
           |         CAST(sum(COALESCE(c.cnt, 0))
           |                OVER (PARTITION BY g.source ORDER BY cum.v)
           |              AS BIGINT) AS cum_s
           |       FROM g CROSS JOIN cum
           |       LEFT JOIN c ON c.source = g.source AND c.v = cum.v),
           |d AS (SELECT sc.source, sc.n_s, n.n_tot - sc.n_s AS n_r,
           |        max(abs(CAST(sc.cum_s AS HUGEINT) * (n.n_tot - sc.n_s)
           |              - CAST(sc.cum_all - sc.cum_s AS HUGEINT) * sc.n_s))
           |          AS d_num
           |      FROM sc CROSS JOIN n GROUP BY 1, 2, 3)
           |SELECT source, n_s, d_ppm,
           |  CAST(d_ppm AS HUGEINT) * d_ppm * n_s * n_r >
           |    CAST(1844164 AS HUGEINT) * (n_s + n_r) * 1000000 AS shifted
           |FROM (SELECT source, n_s, n_r,
           |        CAST(d_num * 1000000 // (CAST(n_s AS HUGEINT) * n_r)
           |             AS BIGINT) AS d_ppm
           |      FROM d
           |      WHERE n_r > 0) x
           |ORDER BY source""".stripMargin),
    (s, dir) => {
      val t = Tables.table(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("v"))
      // the ONE corpus-pass product; three consumers read it
      val c = t.groupBy("source", "v")
        .agg(count(lit(1)).cast("long").as("cnt"))
        .localCheckpoint(true)
      val vals = c.groupBy("v").agg(sum("cnt").cast("long").as("c_v"))
      val cum = graft.operators.GlobalRank
        .withPrefixSum(vals, Seq(col("v")), col("c_v"), "cum_all")
      val g = c.groupBy("source").agg(sum("cnt").cast("long").as("n_s"))
      val n = vals.agg(sum("c_v").cast("long").as("n_tot"))
      val grid = cum.crossJoin(broadcast(g))
        .join(c, Seq("source", "v"), "left")
        .withColumn("cum_s",
          sum(coalesce(col("cnt"), lit(0L)))
            .over(Window.partitionBy("source").orderBy("v"))
            .cast("long"))
      grid.crossJoin(broadcast(n))
        .select(col("source"), col("n_s"),
          (col("n_tot") - col("n_s")).as("n_r"),
          expr("abs(CAST(cum_s AS DECIMAL(38,0)) * (n_tot - n_s) - " +
            "CAST(cum_all - cum_s AS DECIMAL(38,0)) * n_s)").as("dn"))
        .groupBy("source", "n_s", "n_r").agg(max("dn").as("d_num"))
        // a single-source corpus has no complement: n_r = 0 would be a
        // DuckDB division error vs a Spark null — both engines drop the
        // degenerate row instead (review catch)
        .filter(col("n_r") > 0)
        .select(col("source"), col("n_s"), col("n_r"),
          expr("CAST(d_num * 1000000 div (CAST(n_s AS DECIMAL(38,0)) * n_r) " +
            "AS BIGINT)").as("d_ppm"))
        .withColumn("shifted",
          expr("CAST(d_ppm AS DECIMAL(38,0)) * d_ppm * n_s * n_r > " +
            "CAST(1844164 AS DECIMAL(38,0)) * (n_s + n_r) * 1000000"))
        .select(col("source"), col("n_s"), col("d_ppm"), col("shifted"))
        .orderBy("source")
    })

  /** q-digest accuracy curve for BENCH — the quantile_err_ppm
    * discipline applied to the native sketch: max relative VALUE error
    * (ppm, over p50/p90/p99 of n_chars) per compression k, against the
    * exact rank frame. Comparable side-by-side with percentile_approx's
    * curve at its accuracy knob. */
  def qdigestErrReport(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, Long)] = {
    val docs = Tables.table(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .select(col("n_chars").cast("long").as("v"), col("doc_id"))
    val ranked = graft.operators.GlobalRank.withRank(
      docs, Seq(col("v"), col("doc_id")), "rk")
    val n = ranked.count()
    val ps = Seq(50, 90, 99)
    val ks = ps.map(p => (p * n + 99) / 100)
    val byRank = ranked.filter(col("rk").isin(ks: _*))
      .select("rk", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ks.map(byRank)
    Seq(256, 2048, 16384).map { k =>
      val entries = graft.functions.QDigest.entriesOfRows(
        docs.agg(expr(s"qdigest(v, $k, $QdB)")).collect()(0)
          .getSeq[org.apache.spark.sql.Row](0))
      val errs = ps.zip(exact).map { case (p, e) =>
        val a = graft.functions.QDigest.quantile(entries, QdB, p.toLong, 100L)
        if (e == 0L) 0L else math.round(math.abs(a - e).toDouble / e * 1e6)
      }
      k -> errs.max
    }
  }

  override val defs: Seq[QueryDef] = Seq(
    dedupExact, neardup, neardupClusters, clusterSizeHist, neardupCorpus, simhash, simhashPairs,
    pmiCollocations, langConfusion, flesch, thresholdSweep, hapaxRate,
    ngramTopk, langId, quality, tokenStats, winnow, stratified, gopher, tfidf,
    piiRedact, corpusPrep, contamination, bloomContamination, cmsHeavyHitters,
    seqPacking, classifierScore, dupSpans, repetition, neardupCanonical,
    sourceOverlap, freqSpectrum, bpePairs, bpeApply, triangles, pagerank,
    editVerify, noveltyProfile, tokenizerFertility, calibration, mgHeavyTerms,
    sourceQuantiles, sourceEquidepth, qdigestDeciles, qdigestRollup, ksBySource)
}
