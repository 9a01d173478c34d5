package graft.ext

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] LLM-data-pipeline operators (BASELINE.json north star): dedup,
  * similarity search, text analysis, multimodal plumbing — each a
  * `QuerySpec` with a DuckDB oracle wherever DuckDB can express it.
  *
  * The md5-derived hashing (see `graft.ext` package doc) makes even MinHash,
  * SimHash, and hyperplane-LSH signatures bit-reproducible in the oracle —
  * the checks verify the actual sketch values, not just row counts.
  */
object ExtQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** The documents plus planted near-duplicates: every tenth document
    * again, with its first token dropped and its id + 100000. The corpus
    * of the near-dup pair and cluster queries (q27, q86, q101, q110);
    * their oracles build the same `corpus` CTE. */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select("doc_id", "text")
    val mutated = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(tokens(col("text")), 2, 1000000)).as("text"))
    base.unionByName(mutated)
  }

  /** DuckDB-side normalized text (mirror of graft.ext.normText). */
  private val oNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
  private val oToks = "regexp_split_to_array(trim(text), '\\s+')"

  // ---------------------------------------------------------------- dedup: exact
  val q21DedupExact = QuerySpec(
    "q21_dedup_exact", "EXT-dedup-exact",
    "exact dedup via normalized-text fingerprint groupBy (keep lowest id)",
    (s, d) => Dedup.exact(docs(s, d), "doc_id", "text"),
    Some(s"""SELECT md5($oNorm) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_copies
            |FROM documents GROUP BY 1""".stripMargin))

  // ---------------------------------------------------------------- fingerprints
  val q22Fingerprint = QuerySpec(
    "q22_fingerprint", "EXT-text-fingerprint",
    "full + prefix document fingerprints (md5 over normalized text)",
    (s, d) => TextAnalysis.withFingerprints(docs(s, d), "text")
      .select("doc_id", "fp_full", "fp_prefix"),
    Some(s"""WITH n AS (SELECT doc_id, $oNorm AS norm FROM documents)
            |SELECT doc_id, md5(norm) AS fp_full,
            |  md5(array_to_string((regexp_split_to_array(trim(norm), '\\s+'))[1:16], ' ')) AS fp_prefix
            |FROM n""".stripMargin))

  // ---------------------------------------------------------------- token counting
  val q23TokenCount = QuerySpec(
    "q23_token_count", "EXT-text-tokens",
    "whitespace + BPE-ish regex token counts",
    (s, d) => docs(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens")),
    Some(s"""SELECT doc_id,
            |  CAST(len($oToks) AS INT) AS n_ws_tokens,
            |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish_tokens
            |FROM documents""".stripMargin))

  // ---------------------------------------------------------------- quality scoring
  val q24TextQuality = QuerySpec(
    "q24_text_quality", "EXT-text-quality",
    "length/punctuation/stopword quality metrics + composite score",
    (s, d) => TextAnalysis.withQuality(docs(s, d), "text")
      .select("doc_id", "n_chars", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", "quality_score"),
    Some(s"""WITH m AS (
            |  SELECT doc_id,
            |    CAST(length(text) AS DOUBLE) AS n_chars,
            |    CAST(len($oToks) AS DOUBLE) AS n_tokens,
            |    round(length(regexp_replace(text, '\\s+', '', 'g')) / CAST(len($oToks) AS DOUBLE) + 1e-9, 4) AS avg_token_len,
            |    round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio,
            |    round(len(list_filter($oToks, t -> t IN ('the','a','and','of','to','is','in'))) / CAST(len($oToks) AS DOUBLE) + 1e-9, 4) AS stopword_ratio
            |  FROM documents)
            |SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
            |  round(least(n_tokens / 100.0, 1.0) * (1.0 - punct_ratio)
            |        * (0.5 + 0.5 * least(stopword_ratio * 5.0, 1.0)) + 1e-9, 4) AS quality_score
            |FROM m""".stripMargin))

  // ---------------------------------------------------------------- language id
  val q25LangId = QuerySpec(
    "q25_lang_id", "EXT-text-langid",
    "stopword-profile language-ID heuristic vs labeled lang",
    (s, d) => TextAnalysis.withLangId(docs(s, d), "text")
      .select(col("doc_id"), col("pred_lang"), col("lang").as("labeled_lang"),
        (col("pred_lang") === col("lang")).as("is_match")),
    Some(s"""WITH sc AS (
            |  SELECT doc_id, lang,
            |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('the','and','of','to','is'))) AS s_en,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('der','die','und','das','ist'))) AS s_de,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('le','la','et','les','des'))) AS s_fr,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('el','los','que','una','las'))) AS s_es
            |  FROM documents)
            |SELECT doc_id,
            |  CASE WHEN cjk THEN 'zh'
            |       WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
            |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            |       WHEN s_fr >= s_es THEN 'fr'
            |       ELSE 'es' END AS pred_lang,
            |  lang AS labeled_lang,
            |  (CASE WHEN cjk THEN 'zh'
            |       WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
            |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            |       WHEN s_fr >= s_es THEN 'fr'
            |       ELSE 'es' END) = lang AS is_match
            |FROM sc""".stripMargin))

  // ---------------------------------------------------------------- MinHash signatures
  val q26MinHashSig = QuerySpec(
    "q26_minhash_sig", "EXT-dedup-minhash-sig",
    "MinHash signatures (K=8, 3-gram shingles) + LSH band hashes",
    (s, d) => {
      val sig = Dedup.withMinHash(docs(s, d), "text", numHashes = 8, shingleN = 3)
      sig.select(
        col("doc_id"),
        concat_ws("-", expr("transform(sig, x -> cast(x AS string))")).as("sig_str"),
        md5(concat_ws("-", expr("cast(sig[0] AS string)"), expr("cast(sig[1] AS string)"))).as("band0"),
        md5(concat_ws("-", expr("cast(sig[2] AS string)"), expr("cast(sig[3] AS string)"))).as("band1"),
        md5(concat_ws("-", expr("cast(sig[4] AS string)"), expr("cast(sig[5] AS string)"))).as("band2"),
        md5(concat_ws("-", expr("cast(sig[6] AS string)"), expr("cast(sig[7] AS string)"))).as("band3"))
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |sh AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |         concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS shingles FROM n),
            |sg AS (SELECT doc_id, list_transform(generate_series(0, 7), k ->
            |         list_aggregate(list_transform(shingles, s ->
            |           CAST(concat('0x', substring(md5(concat(CAST(k AS VARCHAR), ':', s)), 1, 15)) AS BIGINT)),
            |         'min')) AS sig FROM sh)
            |SELECT doc_id, array_to_string(sig, '-') AS sig_str,
            |  md5(concat(CAST(sig[1] AS VARCHAR), '-', CAST(sig[2] AS VARCHAR))) AS band0,
            |  md5(concat(CAST(sig[3] AS VARCHAR), '-', CAST(sig[4] AS VARCHAR))) AS band1,
            |  md5(concat(CAST(sig[5] AS VARCHAR), '-', CAST(sig[6] AS VARCHAR))) AS band2,
            |  md5(concat(CAST(sig[7] AS VARCHAR), '-', CAST(sig[8] AS VARCHAR))) AS band3
            |FROM sg""".stripMargin))

  // ---------------------------------------------------------------- MinHash LSH near-dup pairs
  /** Near-dup detection end-to-end: corpus is documents plus planted
    * near-duplicates (first token dropped, id+100000); LSH banding proposes
    * candidates, exact shingle-set Jaccard verifies. */
  val q27MinHashPairs = QuerySpec(
    "q27_minhash_pairs", "EXT-dedup-minhash-lsh",
    "MinHash-LSH candidate pairs verified by shingle Jaccard (planted near-dups)",
    (s, d) => Dedup.nearDupPairs(nearDupCorpus(s, d), "doc_id", "text",
      numHashes = 8, rowsPerBand = 2, shingleN = 3, minJaccard = 0.3),
    Some(s"""WITH corpus AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 100000 AS doc_id,
            |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[2:], ' ') AS text
            |  FROM documents WHERE doc_id % 10 = 0),
            |n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM corpus),
            |sh AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |         concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS shingles FROM n),
            |sg AS (SELECT doc_id, shingles, list_transform(generate_series(0, 7), k ->
            |         list_aggregate(list_transform(shingles, s ->
            |           CAST(concat('0x', substring(md5(concat(CAST(k AS VARCHAR), ':', s)), 1, 15)) AS BIGINT)),
            |         'min')) AS sig FROM sh),
            |banded AS (SELECT doc_id,
            |    unnest(generate_series(0, 3)) AS band_id,
            |    unnest(list_transform(generate_series(0, 3), b ->
            |      md5(concat(CAST(sig[2*b+1] AS VARCHAR), '-', CAST(sig[2*b+2] AS VARCHAR))))) AS band_hash
            |  FROM sg),
            |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            |  FROM banded a JOIN banded b
            |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
            |jac AS (SELECT id1, id2,
            |    round(len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles)))
            |      / CAST(len(list_distinct(s1.shingles)) + len(list_distinct(s2.shingles))
            |             - len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles))) AS DOUBLE) + 1e-9, 4) AS jaccard
            |  FROM pairs JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2)
            |SELECT id1, id2, jaccard FROM jac WHERE jaccard >= 0.3""".stripMargin))

  // ---------------------------------------------------------------- near-dup connected components
  /** Connected components over the verified near-dup graph — the cluster
    * form a dedup pipeline actually consumes ("keep cluster_id == doc_id").
    * Spark side: the production path, [[Dedup.nearDupClusters]] (LSH pairs,
    * then [[graft.operators.Graph.connectedComponents]], whose star rounds
    * hand off to union-find on the driver once the edge set fits — this
    * pair graph fits from the start). Oracle side: DuckDB computes the
    * same fixpoint declaratively with a recursive CTE (min reachable id
    * over symmetrized edges), so the clustering is hash-checked against an
    * independent transitive-closure formulation, not against itself. */
  val q86Components = QuerySpec(
    "q86_components", "EXT-dedup-components",
    "connected components of the near-dup pair graph (production clustering path vs recursive-CTE oracle)",
    (s, d) => Dedup.nearDupClusters(nearDupCorpus(s, d), "doc_id", "text",
        numHashes = 8, rowsPerBand = 2, shingleN = 3, minJaccard = 0.3, maxIters = 20)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id"))),
    Some(s"""WITH RECURSIVE corpus AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 100000 AS doc_id,
            |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[2:], ' ') AS text
            |  FROM documents WHERE doc_id % 10 = 0),
            |n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM corpus),
            |sh AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |         concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS shingles FROM n),
            |sg AS (SELECT doc_id, shingles, list_transform(generate_series(0, 7), k ->
            |         list_aggregate(list_transform(shingles, s ->
            |           CAST(concat('0x', substring(md5(concat(CAST(k AS VARCHAR), ':', s)), 1, 15)) AS BIGINT)),
            |         'min')) AS sig FROM sh),
            |banded AS (SELECT doc_id,
            |    unnest(generate_series(0, 3)) AS band_id,
            |    unnest(list_transform(generate_series(0, 3), b ->
            |      md5(concat(CAST(sig[2*b+1] AS VARCHAR), '-', CAST(sig[2*b+2] AS VARCHAR))))) AS band_hash
            |  FROM sg),
            |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            |  FROM banded a JOIN banded b
            |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
            |jac AS (SELECT id1, id2,
            |    round(len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles)))
            |      / CAST(len(list_distinct(s1.shingles)) + len(list_distinct(s2.shingles))
            |             - len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles))) AS DOUBLE) + 1e-9, 4) AS jaccard
            |  FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2),
            |edges AS (SELECT id1 AS src, id2 AS dst FROM jac WHERE jaccard >= 0.3
            |  UNION ALL
            |  SELECT id2 AS src, id1 AS dst FROM jac WHERE jaccard >= 0.3),
            |reach AS (SELECT doc_id AS id, doc_id AS lbl FROM corpus
            |  UNION
            |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
            |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
            |SELECT doc_id, cluster_id,
            |  count(*) OVER (PARTITION BY cluster_id) AS n_members
            |FROM comp""".stripMargin))

  // ------------------------------------------- near-dup components (Large/Small-Star)
  /** The SAME clustering as q86 with the driver finish OFF: every
    * Large-Star/Small-Star round of [[graft.operators.Graph.connectedComponents]]
    * (Kiveris et al. SoCC '14 edge rewriting, O(log n) rounds independent
    * of diameter) runs distributed to its fixed point, and the result is
    * hash-checked against q86's recursive-CTE oracle. q86 covers the
    * production path, whose union-find finish takes this pair graph
    * before any round runs; this query keeps the distributed rounds
    * themselves under oracle check on real data. GraphSpec compares the
    * rounds, the hand-off and a min-label reference on shapes (long
    * chains) the dedup graph never produces. */
  val q110ComponentsStars = QuerySpec(
    "q110_components_stars", "EXT-dedup-components-stars",
    "near-dup components via Large-Star/Small-Star edge rewriting (q86's oracle)",
    (s, d) => {
      val corpus = nearDupCorpus(s, d)
      val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text",
        numHashes = 8, rowsPerBand = 2, shingleN = 3, minJaccard = 0.3)
      try {
        graft.operators.Graph.starComponents(
            corpus.select(col("doc_id").as("id")),
            pairs.select(col("id1").as("src"), col("id2").as("dst")),
            maxIters = 20, localFinishEdges = 0)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      } finally pairs.unpersist(blocking = false)
    },
    q86Components.oracle) // byte-identical contract: the algorithms must agree

  // ---------------------------------------------------------------- cluster-based curation
  /** The decision a dedup pipeline actually ships: per near-dup CLUSTER,
    * keep the highest-quality member, drop the rest — connected components
    * (q86) joined with quality scoring (q24), best member by
    * (rounded quality desc, doc_id asc) per cluster. One extra shuffle on
    * cluster_id over the q86 plan. The oracle rebuilds the entire chain —
    * LSH pairs → recursive-CTE components → quality formula → per-cluster
    * argmax — so the end-to-end curation decision is hash-checked. */
  val q101ClusterCuration = QuerySpec(
    "q101_cluster_curation", "EXT-dedup-cluster-curation",
    "keep best-quality doc per near-dup cluster (components + quality argmax)",
    (s, d) => {
      val corpus = nearDupCorpus(s, d)
      val labels = Dedup.nearDupClusters(corpus, "doc_id", "text",
          numHashes = 8, rowsPerBand = 2, shingleN = 3, minJaccard = 0.3, maxIters = 20)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val quality = TextAnalysis.withQuality(corpus, "text")
        .select(col("doc_id"),
          graft.functions.roundStable(col("quality_score"), 4).as("q"))
      val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id").asc)
      labels.join(quality, Seq("doc_id"))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("q").as("keep_quality"), col("n_members"))
    },
    Some(s"""WITH RECURSIVE corpus AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 100000 AS doc_id,
            |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[2:], ' ') AS text
            |  FROM documents WHERE doc_id % 10 = 0),
            |n AS (SELECT doc_id, regexp_split_to_array(${oNorm}, '\\s+') AS tk FROM corpus),
            |sh AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |         concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS shingles FROM n),
            |sg AS (SELECT doc_id, shingles, list_transform(generate_series(0, 7), k ->
            |         list_aggregate(list_transform(shingles, s ->
            |           CAST(concat('0x', substring(md5(concat(CAST(k AS VARCHAR), ':', s)), 1, 15)) AS BIGINT)),
            |         'min')) AS sig FROM sh),
            |banded AS (SELECT doc_id,
            |    unnest(generate_series(0, 3)) AS band_id,
            |    unnest(list_transform(generate_series(0, 3), b ->
            |      md5(concat(CAST(sig[2*b+1] AS VARCHAR), '-', CAST(sig[2*b+2] AS VARCHAR))))) AS band_hash
            |  FROM sg),
            |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            |  FROM banded a JOIN banded b
            |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
            |jac AS (SELECT id1, id2,
            |    round(len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles)))
            |      / CAST(len(list_distinct(s1.shingles)) + len(list_distinct(s2.shingles))
            |             - len(list_intersect(list_distinct(s1.shingles), list_distinct(s2.shingles))) AS DOUBLE) + 1e-9, 4) AS jaccard
            |  FROM cand JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2),
            |edges AS (SELECT id1 AS src, id2 AS dst FROM jac WHERE jaccard >= 0.3
            |  UNION ALL
            |  SELECT id2 AS src, id1 AS dst FROM jac WHERE jaccard >= 0.3),
            |reach AS (SELECT doc_id AS id, doc_id AS lbl FROM corpus
            |  UNION
            |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
            |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
            |qual0 AS (SELECT doc_id,
            |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_tokens,
            |    round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
            |      / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio,
            |    round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            |        t -> t IN ('the','a','and','of','to','is','in')))
            |      / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) + 1e-9, 4) AS stopword_ratio
            |  FROM corpus),
            |qual AS (SELECT doc_id,
            |    round(least(n_tokens / 100.0, 1.0) * (1.0 - punct_ratio)
            |      * (0.5 + 0.5 * least(stopword_ratio * 5.0, 1.0)) + 1e-9, 4) AS q
            |  FROM qual0),
            |j AS (SELECT c.cluster_id, c.doc_id, q.q,
            |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
            |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.q DESC, c.doc_id ASC) AS rn
            |  FROM comp c JOIN qual q USING (doc_id))
            |SELECT cluster_id, doc_id AS keep_id, q AS keep_quality, n_members
            |FROM j WHERE rn = 1""".stripMargin))

  // ---------------------------------------------------------------- n-gram Jaccard baseline
  val q28JaccardPairs = QuerySpec(
    "q28_jaccard_pairs", "EXT-dedup-ngram-jaccard",
    "exact 3-gram-shingle Jaccard between consecutive documents",
    (s, d) => {
      val shing = docs(s, d)
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh", shingleSql("toks", 3))
        .select(col("doc_id"), col("sh"))
      shing.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .join(shing.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id1"))
        .select(col("id1"), col("id2"), graft.functions.roundStable(Dedup.jaccard(col("sh1"), col("sh2")), 4).as("jaccard"))
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2), i ->
            |         concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s FROM n)
            |SELECT a.doc_id AS id1, b.doc_id AS id2,
            |  round(len(list_intersect(a.s, b.s))
            |    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) + 1e-9, 4) AS jaccard
            |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin))

  // ---------------------------------------------------------------- SimHash
  val q29SimHash = QuerySpec(
    "q29_simhash", "EXT-dedup-simhash",
    "60-bit SimHash signatures from md5-derived token hashes",
    (s, d) => Dedup.withSimHash(docs(s, d), "text")
      .select("doc_id", "simhash"),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(regexp_split_to_array($oNorm, '\\s+')) AS t FROM documents),
            |h AS (SELECT doc_id,
            |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
            |bits AS (SELECT doc_id, j,
            |    sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
            |  FROM h CROSS JOIN range(60) r(j) GROUP BY doc_id, j)
            |SELECT doc_id,
            |  string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
            |FROM bits GROUP BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- ANN brute force
  val q30AnnCosine = QuerySpec(
    "q30_ann_cosine", "EXT-sim-bruteforce",
    "exact cosine top-10 neighbors of query vector (vec_id=0)",
    (s, d) => Similarity.bruteForceTopK(
      emb(s, d), emb(s, d).filter(col("vec_id") === 0), k = 10),
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT query_id, vec_id,
           |  round(list_dot_product(embedding::DOUBLE[], qe)
           |    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           |       * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
           |FROM embeddings CROSS JOIN q
           |WHERE vec_id <> query_id
           |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin))

  // ---------------------------------------------------------------- ANN LSH buckets
  val q31AnnLsh = QuerySpec(
    "q31_ann_lsh", "EXT-sim-lsh",
    "sign-random-projection LSH bucket per vector (8 md5-derived planes)",
    (s, d) => {
      val b = Similarity.withLshBucket(emb(s, d), numPlanes = 8, dims = 64)
        .select("vec_id", "lsh_bucket")
      b.join(b.groupBy("lsh_bucket").agg(count(lit(1)).as("bucket_size")), Seq("lsh_bucket"))
        .select("vec_id", "lsh_bucket", "bucket_size")
    },
    Some("""WITH planes AS (
           |  SELECT list_transform(generate_series(0, 7), p ->
           |    list_transform(generate_series(0, 63), d ->
           |      CASE WHEN CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) & 1 = 1
           |           THEN 1.0 ELSE -1.0 END)) AS pl),
           |b AS (SELECT vec_id,
           |    list_aggregate(list_transform(pl, plane ->
           |      CASE WHEN list_dot_product(embedding::DOUBLE[], plane) > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS lsh_bucket
           |  FROM embeddings CROSS JOIN planes)
           |SELECT vec_id, lsh_bucket, count(*) OVER (PARTITION BY lsh_bucket) AS bucket_size
           |FROM b""".stripMargin))

  // ---------------------------------------------------------------- embedding near-dup
  val q32EmbedNearDup = QuerySpec(
    "q32_embed_neardup", "EXT-dedup-embedding",
    "embedding-cosine similarity between consecutive vectors (near-dup scan)",
    (s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      e.select(col("vec_id").as("id1"), col("e").as("e1"))
        .join(e.select((col("vec_id") - 1).as("id1"), col("vec_id").as("id2"), col("e").as("e2")), Seq("id1"))
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("e1"), col("e2")), 4).as("cos_sim"))
    },
    Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
           |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cos_sim
           |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin))

  // ------------------------------------------------------- semantic dedup clusters
  /** End-to-end SEMANTIC dedup — the embedding-space counterpart of the
    * q27→q86 text pipeline: sign-random-projection LSH buckets (q31's
    * md5-derived hyperplanes, so the bucketing is oracle-reproducible) →
    * bucket-local candidate join (never all-pairs: the join key is the
    * 8-bit bucket, ~n²/256 of the cartesian) → exact-cosine verification
    * at ≥ 0.25 → Large-Star/Small-Star components. At 100 TB this is the
    * standard SemDeDup-style shape: narrow signatures, one bucket-keyed
    * shuffle, cosine math only inside buckets, then a component pass over
    * the verified-pair graph: star rounds until the edge set fits under
    * [[graft.operators.Graph.LocalFinishEdges]], then union-find on the
    * driver (this graph's few hundred edges fit at once). The oracle rebuilds the whole chain
    * — planes, buckets, pairs, cosine filter, recursive-CTE components —
    * so bucketing, verification and clustering are all hash-checked. */
  val q111SemanticClusters = QuerySpec(
    "q111_semantic_clusters", "EXT-dedup-semantic",
    "semantic near-dup clusters: LSH buckets → cosine≥0.25 pairs → components",
    (s, d) => {
      val withB = Similarity.withLshBucket(emb(s, d), numPlanes = 8, dims = 64)
        .select(col("vec_id"), col("lsh_bucket"), col("embedding").cast("array<double>").as("e"))
        .localCheckpoint(true) // hyperplane projections once; both join sides reuse
      val pairs = withB.select(col("vec_id").as("id1"), col("lsh_bucket"), col("e").as("e1"))
        .join(withB.select(col("vec_id").as("id2"), col("lsh_bucket"), col("e").as("e2")),
          Seq("lsh_bucket"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("e1"), col("e2")), 4).as("cos"))
        .filter(col("cos") >= 0.25)
      graft.operators.Graph.connectedComponents(
          withB.select(col("vec_id").as("id")),
          pairs.select(col("id1").as("src"), col("id2").as("dst")))
        .select(col("id").as("vec_id"), col("cluster_id"))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
    },
    Some("""WITH RECURSIVE planes AS (
           |  SELECT list_transform(generate_series(0, 7), p ->
           |    list_transform(generate_series(0, 63), d ->
           |      CASE WHEN CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) & 1 = 1
           |           THEN 1.0 ELSE -1.0 END)) AS pl),
           |b AS (SELECT vec_id, embedding,
           |    list_aggregate(list_transform(pl, plane ->
           |      CASE WHEN list_dot_product(embedding::DOUBLE[], plane) > 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
           |  FROM embeddings CROSS JOIN planes),
           |pairs AS (SELECT a.vec_id AS id1, b2.vec_id AS id2
           |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
           |  WHERE round(list_dot_product(a.embedding::DOUBLE[], b2.embedding::DOUBLE[])
           |      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           |         * sqrt(list_dot_product(b2.embedding::DOUBLE[], b2.embedding::DOUBLE[]))), 4) >= 0.25),
           |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
           |  UNION ALL SELECT id2, id1 FROM pairs),
           |reach AS (SELECT vec_id AS id, vec_id AS lbl FROM embeddings
           |  UNION
           |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           |comp AS (SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
           |SELECT vec_id, cluster_id,
           |  count(*) OVER (PARTITION BY cluster_id) AS n_members
           |FROM comp""".stripMargin))

  // ---------------------------------------------------------------- chunking
  /** RAG/context-window chunking: each document splits into overlapping
    * token windows (size 32, stride 24 → 8-token overlap), the op every
    * retrieval/training pipeline runs before embedding. Pure row-local
    * array math — `sequence` for the starts, `posexplode` for chunk ids,
    * `slice` for the window — no shuffle at all until a consumer
    * aggregates; chunk ids are (doc_id, ordinal), stable under any
    * partitioning. The md5 of each chunk's text is emitted so the oracle
    * checks the CONTENT of every window, not just counts. */
  val q104Chunking = QuerySpec(
    "q104_chunking", "EXT-text-chunking",
    "overlapping token-window chunking (size 32, stride 24) with content hashes",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"),
          posexplode(expr("sequence(0, greatest(n - 1, 0), 24)")).as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id"),
          expr("slice(toks, start + 1, 32)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("n_tokens"),
          element_at(col("chunk"), 1).as("first_token"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5")),
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |st AS (SELECT doc_id, tk,
            |    unnest(generate_series(0, greatest(len(tk) - 1, 0), 24)) AS start,
            |    generate_subscripts(generate_series(0, greatest(len(tk) - 1, 0), 24), 1) - 1 AS chunk_id
            |  FROM n),
            |ch AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
            |    tk[start + 1 : start + 32] AS chunk FROM st)
            |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
            |  chunk[1] AS first_token,
            |  md5(array_to_string(chunk, ' ')) AS chunk_md5
            |FROM ch""".stripMargin))

  // ---------------------------------------------------------------- sequence packing
  /** Sequence packing (concat-and-cut): documents are laid end-to-end in
    * doc_id order and cut into fixed token budgets — the packing form
    * pretraining pipelines actually use (true bin-packing is NP-hard and
    * order-dependent). A document's pack is where its first token lands:
    * floor(tokens_before / budget).
    *
    * The global running token count is computed as a DISTRIBUTED prefix
    * sum — per-range-partition totals, a tiny cumulative offset per
    * partition, then a partition-local window — never a single global
    * window partition (the classic 100 TB cumsum trap: `Window.orderBy`
    * with no partitionBy funnels the corpus through ONE task). The result
    * depends only on the doc_id order, not on partition boundaries, which
    * is what makes it oracle-checkable. */
  val q105Packing = QuerySpec(
    "q105_packing", "EXT-seq-packing",
    "sequence packing via distributed prefix-sum (256-token budget)",
    (s, d) => {
      val budget = 256L
      val base = docs(s, d)
        .select(col("doc_id"), size(tokens(normText(col("text")))).cast("long").as("n_tokens"))
        .repartitionByRange(8, col("doc_id"))
        .withColumn("_part", spark_partition_id())
      val local = base.withColumn("local_cum",
        sum("n_tokens").over(Window.partitionBy("_part").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val offsets = local.groupBy("_part").agg(max("local_cum").as("part_total"))
        .withColumn("offset",
          coalesce(sum("part_total").over(Window.orderBy("_part")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("_part", "offset") // one row per partition — broadcast-sized
      local.join(broadcast(offsets), Seq("_part"))
        .withColumn("pack_id",
          floor((col("offset") + col("local_cum") - col("n_tokens")) / budget).cast("long"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    },
    Some(s"""WITH n AS (SELECT doc_id,
            |    CAST(len(regexp_split_to_array($oNorm, '\\s+')) AS BIGINT) AS n_tokens
            |  FROM documents),
            |c AS (SELECT doc_id, n_tokens,
            |    sum(n_tokens) OVER (ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            |  FROM n)
            |SELECT CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS pack_id,
            |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
            |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
            |FROM c GROUP BY 1""".stripMargin))

  // ---------------------------------------------------------------- decontamination
  /** Benchmark decontamination: drop training documents that share any
    * 5-gram with the held-out set — the overlap-removal step every honest
    * training corpus runs (cf. GPT-3 §C / PaLM dedup appendices). Both
    * sides explode to (shingle → doc) and meet in a LEFT SEMI join on the
    * shingle hash: at 100 TB the benchmark side is tiny so the semi join
    * broadcasts, and the exploded shingle stream never hits storage — it
    * is generated, hashed, probed, and discarded inside one stage.
    *
    * The shingled corpus itself IS materialized, exactly once, before any
    * explode: the plan references it four times (bench side, train side,
    * anti join, per-source totals), and without the checkpoint Catalyst
    * inlines the 2-regex + split + transform shingler into every Generate,
    * re-evaluating it per exploded OUTPUT row — measured at 146 s on
    * 584 KB (≈50× recompute) vs ~2 s materialized. Same pattern as
    * [[Dedup.nearDupPairs]]'s signature cache; at cluster scale this is
    * "write the normalized corpus to the shuffle/cache tier once, then
    * run every downstream pass against it". */
  val q106Decontaminate = QuerySpec(
    "q106_decontaminate", "EXT-decontamination",
    "drop train docs sharing any 5-gram with the benchmark split",
    (s, d) => {
      val all = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh", shingleSql("toks", 5))
        .select("doc_id", "source", "sh")
        .localCheckpoint(true) // one shingling pass; 4 downstream consumers
      val bench = all.filter(col("doc_id") % 50 === 0)
      val train = all.filter(col("doc_id") % 50 =!= 0)
      val benchShingles = bench.select(explode(col("sh")).as("g")).distinct()
      val trainShingles = train.select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
      val contaminated = trainShingles
        .join(broadcast(benchShingles), Seq("g"), "left_semi")
        .select("doc_id").distinct()
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_clean"))
        .join(train.groupBy("source").agg(count(lit(1)).as("n_train")), Seq("source"))
        .select(col("source"), col("n_clean"), (col("n_train") - col("n_clean")).as("n_dropped"))
    },
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |sh AS (SELECT doc_id, source, list_transform(generate_series(1, len(tk) - 4), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS s FROM n),
            |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
            |train AS (SELECT doc_id, source, s FROM sh WHERE doc_id % 50 <> 0),
            |contaminated AS (SELECT DISTINCT t.doc_id FROM train t, unnest(t.s) u(g)
            |  WHERE g IN (SELECT g FROM bench)),
            |clean AS (SELECT source, count(*) AS n_clean FROM train
            |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated) GROUP BY source),
            |tot AS (SELECT source, count(*) AS n_train FROM train GROUP BY source)
            |SELECT source, clean.n_clean, tot.n_train - clean.n_clean AS n_dropped
            |FROM clean JOIN tot USING (source)""".stripMargin))

  // ------------------------------------------------- decontamination (thresholded)
  /** PaLM-style thresholded decontamination: q106 drops a training doc on
    * ANY shared 5-gram — aggressive, and on noisy corpora it over-drops
    * boilerplate collisions. The production rule (PaLM App. / GPT-3 §C
    * variants) flags a doc only when ≥ K DISTINCT n-grams collide with the
    * benchmark. Same checkpointed shingle corpus as q106; the only new
    * work is a (doc_id → distinct colliding shingles) count — one extra
    * partial-aggregated shuffle keyed by doc, still bounded by the
    * contaminated subset, never the corpus. Output contrasts both rules
    * per source, so the query doubles as the over-drop audit. */
  val q108DecontaminateK = QuerySpec(
    "q108_decontaminate_k", "EXT-decontamination-threshold",
    "thresholded decontamination: drop train docs with >= 3 distinct benchmark 5-grams",
    (s, d) => {
      val K = 3
      val all = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh", shingleSql("toks", 5))
        .select("doc_id", "source", "sh")
        .localCheckpoint(true) // one shingling pass (the q106 lesson)
      val bench = all.filter(col("doc_id") % 50 === 0)
      val train = all.filter(col("doc_id") % 50 =!= 0)
      val benchShingles = bench.select(explode(col("sh")).as("g")).distinct()
      val collisions = train.select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(benchShingles), Seq("g"), "left_semi")
        .groupBy("doc_id")
        .agg(countDistinct("g").as("n_hits"))
      val droppedK = collisions.filter(col("n_hits") >= K).select("doc_id")
      train.join(droppedK, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_clean_k"))
        .join(train.groupBy("source").agg(count(lit(1)).as("n_train")), Seq("source"))
        .join(train.join(collisions, Seq("doc_id"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("n_any_hit")), Seq("source"), "left")
        .select(col("source"), col("n_train"), col("n_clean_k"),
          (col("n_train") - col("n_clean_k")).as("n_dropped_k"),
          coalesce(col("n_any_hit"), lit(0L)).as("n_dropped_any"))
    },
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |sh AS (SELECT doc_id, source, list_transform(generate_series(1, len(tk) - 4), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS s FROM n),
            |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
            |train AS (SELECT doc_id, source, s FROM sh WHERE doc_id % 50 <> 0),
            |hits AS (SELECT t.doc_id, count(DISTINCT g) AS n_hits
            |  FROM train t, unnest(t.s) u(g)
            |  WHERE g IN (SELECT g FROM bench) GROUP BY t.doc_id),
            |tot AS (SELECT source, count(*) AS n_train FROM train GROUP BY source),
            |cleank AS (SELECT source, count(*) AS n_clean_k FROM train
            |  WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n_hits >= 3)
            |  GROUP BY source),
            |anyhit AS (SELECT source, count(*) AS n_dropped_any FROM train
            |  WHERE doc_id IN (SELECT doc_id FROM hits) GROUP BY source)
            |SELECT tot.source, tot.n_train, cleank.n_clean_k,
            |  tot.n_train - cleank.n_clean_k AS n_dropped_k,
            |  coalesce(anyhit.n_dropped_any, 0) AS n_dropped_any
            |FROM tot JOIN cleank USING (source) LEFT JOIN anyhit USING (source)""".stripMargin))

  // ------------------------------------------------- decontamination (streaming)
  /** STREAMING decontamination: the corpus arrives as a stream and every
    * micro-batch is scrubbed against a FIXED benchmark before it lands —
    * the ingest-time formulation of q106 (decontaminate-on-arrival instead
    * of a corpus-wide batch pass). Static side, built once: the benchmark's
    * distinct 5-gram set plus a [[graft.operators.BloomPrune]] bloom over
    * its hashes. Per batch (`foreachBatch`): shingle the batch (checkpointed
    * once — the q106 lesson), explode, PRE-FILTER with the bloom's
    * `might_contain` (a few-MB sketch broadcast as a scalar subquery kills
    * ~99% of shingles before any join work), exact-verify survivors with a
    * broadcast semi join (false positives die here, so results equal the
    * batch rule exactly), anti-join the contaminated ids, count per source.
    *
    * Per-doc decisions depend only on the STATIC benchmark, so per-source
    * counts sum associatively across batches — the output is identical for
    * ANY batching of the stream, which is what lets the DuckDB oracle (the
    * same SQL as q106) check a streaming pipeline hash-exactly. At 100 TB:
    * the benchmark sketch rides the closure to every executor once; each
    * arriving batch pays one narrow shingle+probe pass, no corpus-wide
    * reshuffle, and clean batches append straight to the training store. */
  val q114StreamDecontaminate = QuerySpec(
    "q114_stream_decontaminate", "EXT-decontamination-streaming",
    "foreachBatch decontamination: bloom pre-filter + exact semi join per arriving batch",
    (s, d) => {
      val (benchShingles, bloom) =
        Decontamination.benchSide(docs(s, d), col("doc_id") % 50 === 0)
      // keyed by batchId: foreachBatch is AT-LEAST-once, so a replayed
      // batch must overwrite its own prior contribution, never append —
      // otherwise a task retry would silently double-count
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Array[(String, Long, Long)]]()
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(d)
        .filter(col("doc_id") % 50 =!= 0) // the benchmark split never trains
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // ≤ #sources rows per batch — bounded collect, q85 pattern
          acc.put(batchId, Decontamination.scrubBatch(batch.toDF(), benchShingles, bloom)
            .collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
          ()
      }.start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      import scala.jdk.CollectionConverters._
      acc.values.asScala.toSeq.flatten.toDF("source", "n_clean", "n_train")
        .groupBy("source")
        .agg(sum("n_clean").as("n_clean"), sum("n_train").as("n_train"))
        .select(col("source"), col("n_clean"), (col("n_train") - col("n_clean")).as("n_dropped"))
    },
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |sh AS (SELECT doc_id, source, list_transform(generate_series(1, len(tk) - 4), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS s FROM n),
            |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
            |train AS (SELECT doc_id, source, s FROM sh WHERE doc_id % 50 <> 0),
            |contaminated AS (SELECT DISTINCT t.doc_id FROM train t, unnest(t.s) u(g)
            |  WHERE g IN (SELECT g FROM bench)),
            |clean AS (SELECT source, count(*) AS n_clean FROM train
            |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated) GROUP BY source),
            |tot AS (SELECT source, count(*) AS n_train FROM train GROUP BY source)
            |SELECT source, coalesce(clean.n_clean, 0) AS n_clean,
            |  tot.n_train - coalesce(clean.n_clean, 0) AS n_dropped
            |FROM tot LEFT JOIN clean USING (source)""".stripMargin))

  // ---------------------------------------------------------------- span dedup
  /** Sub-document duplicated-span detection — the C4-rule shape ("discard
    * any span seen more than once in the corpus", Raffel et al. §2.2)
    * adapted to fixed 8-token windows since the synthetic corpus has no
    * sentence boundaries. Whole-doc dedup (q21) misses boilerplate shared
    * BETWEEN otherwise-distinct documents; this flags it at span
    * granularity: non-overlapping token windows per doc (row-local
    * `sequence`+`slice`, q104's chunking idiom, no shuffle), span md5,
    * then one hash-aggregation per span counting DISTINCT holding docs,
    * joined back to score each doc's duplicated-span fraction.
    *
    * At 100 TB: the span table is corpus-sized, so the per-span doc count
    * cannot broadcast — both sides shuffle on the span hash (the agg
    * output is already hash-partitioned by `h`, so the join adds one
    * exchange for the probe side only), and the final per-doc rollup is a
    * second partial-aggregated shuffle. Nothing is quadratic; the spans
    * are generated, hashed, counted and discarded without touching
    * storage. The shingled frame is checkpointed once (the q106 lesson:
    * never leave a regex-bearing generator input unmaterialized). */
  val q115SpanDedup = QuerySpec(
    "q115_span_dedup", "EXT-dedup-span",
    "duplicated 8-token spans across the corpus: per-doc dup-span counts",
    (s, d) => {
      // tokenize ONCE before any explode (the q106 lesson): downstream the
      // slice reads a materialized array attribute, never re-runs a regex
      val toksDf = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("n", size(col("toks")))
        .select("doc_id", "toks", "n")
        .localCheckpoint(true)
      val spans = toksDf
        .select(col("doc_id"), col("toks"),
          posexplode(expr("sequence(0, greatest(n - 1, 0), 8)")).as(Seq("span_id", "start")))
        .select(col("doc_id"),
          md5(concat_ws(" ", expr("slice(toks, start + 1, 8)"))).as("h"))
        .localCheckpoint(true) // narrow span table; count side + probe side reuse
      val docsPerSpan = spans.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      spans.join(docsPerSpan, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |st AS (SELECT doc_id, tk,
            |    unnest(generate_series(0, greatest(len(tk) - 1, 0), 8)) AS start FROM n),
            |sp AS (SELECT doc_id, md5(array_to_string(tk[start + 1 : start + 8], ' ')) AS h
            |  FROM st),
            |dc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
            |SELECT doc_id, count(*) AS n_spans,
            |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
            |FROM sp JOIN dc USING (h) GROUP BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- span scrub
  /** The REMOVAL half of q115 (detection): the C4 rule proper — a span
    * duplicated across documents is kept ONLY in its lowest-doc_id holder
    * and scrubbed from every other document, which is then reassembled
    * from its surviving spans in order. Same span table and per-span
    * ownership aggregate as q115 (min holder rides the same shuffle as
    * the distinct-doc count — zero extra passes); removal is a filter on
    * the joined span stream, reassembly a per-doc sort-and-concat
    * (`sort_array` on (span_id, text) structs — deterministic, no window).
    * The output carries the rebuilt text's md5 so the oracle checks the
    * reconstructed CONTENT, not just counts. At 100 TB this is one
    * span-hash shuffle + one per-doc shuffle, both partial-aggregated;
    * the corpus text itself never moves twice. */
  val q118SpanScrub = QuerySpec(
    "q118_span_scrub", "EXT-dedup-span-scrub",
    "C4-style span removal: keep duplicated spans in lowest holder, rebuild docs",
    (s, d) => {
      val toksDf = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("n", size(col("toks")))
        .select("doc_id", "toks", "n")
        .localCheckpoint(true) // tokenize once (q106 lesson)
      val spans = toksDf
        .select(col("doc_id"), col("toks"),
          posexplode(expr("sequence(0, greatest(n - 1, 0), 8)")).as(Seq("span_id", "start")))
        .select(col("doc_id"), col("span_id"),
          concat_ws(" ", expr("slice(toks, start + 1, 8)")).as("sp"))
        .localCheckpoint(true)
      val owner = spans.groupBy("sp").agg(
        countDistinct("doc_id").as("nd"), min("doc_id").as("keeper"))
      spans.join(owner, Seq("sp"))
        .filter(col("nd") === 1 || col("doc_id") === col("keeper"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_kept_spans"),
          md5(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(span_id, sp))), x -> x.sp)")))
            .as("clean_md5"))
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |st AS (SELECT doc_id, tk,
            |    unnest(generate_series(0, greatest(len(tk) - 1, 0), 8)) AS start,
            |    generate_subscripts(generate_series(0, greatest(len(tk) - 1, 0), 8), 1) - 1 AS span_id
            |  FROM n),
            |sp AS (SELECT doc_id, CAST(span_id AS INT) AS span_id,
            |    array_to_string(tk[start + 1 : start + 8], ' ') AS sp FROM st),
            |own AS (SELECT sp, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
            |  FROM sp GROUP BY sp),
            |kept AS (SELECT doc_id, span_id, sp.sp FROM sp JOIN own USING (sp)
            |  WHERE nd = 1 OR doc_id = keeper)
            |SELECT doc_id, count(*) AS n_kept_spans,
            |  md5(string_agg(sp, ' ' ORDER BY span_id)) AS clean_md5
            |FROM kept GROUP BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- PII masking
  /** PII/anonymization pass — the compliance step every dataset release
    * runs before training, as the four standard treatments on the one
    * table with person-shaped identifiers: SUPPRESSION (the embedded
    * 9-digit customer id is masked to its last 3 digits —
    * format-preserving, joinability destroyed), PSEUDONYMIZATION (a
    * deterministic md5 pseudonym — stable across runs, so downstream
    * joins on the pseudonym still work; GDPR-style), GENERALIZATION
    * (account balance coarsened to $500 bands, the k-anonymity move for
    * quasi-identifying numerics), and an AUDIT bit (regex detector for
    * surviving ≥4-digit runs, proven true pre-mask / false post-mask row
    * by row). All row-local codegen'd projections — no shuffle,
    * scan-bound at any scale. */
  val q116PiiMask = QuerySpec(
    "q116_pii_mask", "EXT-pii-masking",
    "anonymization pass: suppress, pseudonymize, generalize, audit leaks",
    (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "#[0-9]{6}", "#XXXXXX").as("name_masked"),
        md5(col("c_name")).as("name_pseudo"),
        (floor(col("c_acctbal") / 500) * 500).cast("long").as("acctbal_band"),
        col("c_nationkey"),
        col("c_name").rlike("[0-9]{4}").as("leak_before"),
        regexp_replace(col("c_name"), "#[0-9]{6}", "#XXXXXX")
          .rlike("[0-9]{4}").as("leak_after")),
    Some("""SELECT c_custkey,
           |  regexp_replace(c_name, '#[0-9]{6}', '#XXXXXX') AS name_masked,
           |  md5(c_name) AS name_pseudo,
           |  CAST(floor(c_acctbal / 500) * 500 AS BIGINT) AS acctbal_band,
           |  c_nationkey,
           |  regexp_matches(c_name, '[0-9]{4}') AS leak_before,
           |  regexp_matches(regexp_replace(c_name, '#[0-9]{6}', '#XXXXXX'),
           |    '[0-9]{4}') AS leak_after
           |FROM customer""".stripMargin))

  // ---------------------------------------------------------------- quality filter
  /** Rule-based quality FILTERING with reasons — the Gopher/C4-style
    * keep/drop gate (Rae et al. App. A: length, mean word length,
    * stop-word presence), emitted as a decision LOG: every doc carries its
    * metrics, the keep verdict, and the FIRST failing rule ('pass'
    * otherwise), so drop rates are auditable per rule and per source —
    * curation runs need the why, not just the survivors. One narrow
    * projection per doc (array metrics computed inline via
    * aggregate/filter higher-order functions, no explode, no shuffle);
    * the only data movement is whatever the consumer aggregates. */
  val q119QualityFilter = QuerySpec(
    "q119_quality_filter", "EXT-quality-filter",
    "Gopher-style keep/drop gate with per-doc metrics and first-failing-rule reasons",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", tokens(normText(col("text"))))
        .select(
          col("doc_id"), col("source"),
          size(col("toks")).as("n_tokens"),
          expr("round(aggregate(toks, 0, (a, t) -> a + length(t)) / cast(size(toks) as double), 4)")
            .as("mean_wl"),
          expr("round(size(filter(toks, t -> t in ('the','a','of','to','and'))) / cast(size(toks) as double), 4)")
            .as("stop_ratio"))
        .withColumn("keep",
          col("n_tokens") >= 25 && col("mean_wl").between(3.8, 5.2) && col("stop_ratio") >= 0.02)
        .withColumn("fail_reason",
          when(col("n_tokens") < 25, "too_short")
            .when(col("mean_wl") < 3.8 || col("mean_wl") > 5.2, "word_length")
            .when(col("stop_ratio") < 0.02, "low_stopwords")
            .otherwise("pass")),
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |m AS (SELECT doc_id, source, CAST(len(tk) AS INT) AS n_tokens,
            |    round(list_aggregate(list_transform(tk, t -> len(t)), 'sum')
            |      / CAST(len(tk) AS DOUBLE), 4) AS mean_wl,
            |    round(len(list_filter(tk, t -> t IN ('the','a','of','to','and')))
            |      / CAST(len(tk) AS DOUBLE), 4) AS stop_ratio
            |  FROM n)
            |SELECT doc_id, source, n_tokens, mean_wl, stop_ratio,
            |  (n_tokens >= 25 AND mean_wl BETWEEN 3.8 AND 5.2 AND stop_ratio >= 0.02) AS keep,
            |  CASE WHEN n_tokens < 25 THEN 'too_short'
            |       WHEN mean_wl < 3.8 OR mean_wl > 5.2 THEN 'word_length'
            |       WHEN stop_ratio < 0.02 THEN 'low_stopwords'
            |       ELSE 'pass' END AS fail_reason
            |FROM m""".stripMargin))

  // ---------------------------------------------------------------- source capping
  /** Per-source contribution cap — the anti-domination step of corpus
    * curation (no source may contribute more than K documents, best
    * first). Ranking runs through the engine's own
    * [[graft.plans.TopK]] custom physical operator: bounded per-group
    * HEAPS in a partial/final pair, so each source's cap costs O(K) state
    * per partition instead of the window form's full per-source sort —
    * at 100 TB the difference between a bounded-memory pass and a
    * sort-spill of the whole corpus. Oracle = the row_number formulation
    * (two independent definitions of the same top-K). */
  val q120SourceCap = QuerySpec(
    "q120_source_cap", "EXT-source-capping",
    "cap each source at its 15 longest docs via the custom heap top-k operator",
    (s, d) =>
      graft.plans.TopK.perGroup(
        docs(s, d).select("doc_id", "source", "n_chars"),
        Seq("source"),
        Seq(("n_chars", false), ("doc_id", true)),
        k = 15),
    Some("""SELECT doc_id, source, n_chars FROM (
           |  SELECT doc_id, source, n_chars,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY n_chars DESC, doc_id ASC) AS rn
           |  FROM documents)
           |WHERE rn <= 15""".stripMargin))

  // ---------------------------------------------------------------- mixing weights
  /** Training-mixture weighting: per-source token counts smoothed with a
    * temperature exponent (sqrt = alpha 0.5, the XLM/mT5-style rebalance
    * that up-samples small sources without letting a huge crawl drown
    * them), normalized into sampling weights and an integer per-source
    * budget out of 100k draws. One partial-aggregated shuffle over the
    * corpus; the weight normalization runs on the ~|sources| aggregated
    * rows (an empty-frame window — single task by construction, but over
    * 20 rows, not the corpus; the 100 TB cost is the token-count scan). */
  val q117MixingWeights = QuerySpec(
    "q117_mixing_weights", "EXT-mixture-weighting",
    "temperature-smoothed source sampling weights from per-source token counts",
    (s, d) => {
      val bySource = docs(s, d)
        .withColumn("nt", size(tokens(normText(col("text")))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      bySource
        .withColumn("weight", round(
          sqrt(col("n_tokens").cast("double")) /
            sum(sqrt(col("n_tokens").cast("double"))).over(Window.partitionBy()), 6))
        .withColumn("n_sample", floor(col("weight") * 100000).cast("long"))
        .select("source", "n_docs", "n_tokens", "weight", "n_sample")
    },
    Some(s"""WITH t AS (SELECT source, count(*) AS n_docs,
            |    CAST(sum(len(regexp_split_to_array($oNorm, '\\s+'))) AS BIGINT) AS n_tokens
            |  FROM documents GROUP BY source),
            |w AS (SELECT source, n_docs, n_tokens,
            |    round(sqrt(CAST(n_tokens AS DOUBLE))
            |      / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS weight FROM t)
            |SELECT source, n_docs, n_tokens, weight,
            |  CAST(floor(weight * 100000) AS BIGINT) AS n_sample FROM w""".stripMargin))

  // ---------------------------------------------------------------- repetition filter
  /** Intra-document repetition filter — the Gopher "repetitious text" rule
    * family (Rae et al. App. A: fraction of the doc covered by its most
    * common n-gram): a doc whose single most frequent 2-gram accounts for
    * more than 6% of all its 2-grams is template/boilerplate-shaped, not
    * prose. Complements the CORPUS-level span dedup (q115/q118) — this one
    * flags repetition WITHIN a doc. Tokens checkpointed once; then one
    * partial-aggregated shuffle keyed (doc, gram) and a per-doc rollup —
    * the gram stream itself never hits storage. Only counts and ratios are
    * emitted (never "the" most frequent gram — ties would make that
    * nondeterministic). */
  val q121Repetition = QuerySpec(
    "q121_repetition", "EXT-quality-repetition",
    "intra-doc repetition: most-frequent-2-gram share per doc, flag > 6%",
    (s, d) => {
      val toksDf = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .select("doc_id", "toks")
        .localCheckpoint(true) // tokenize once (q106 lesson)
      toksDf.select(col("doc_id"), explode(shingleSql("toks", 2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_2grams"), max("c").as("max_2gram"))
        .withColumn("rep_ratio",
          round(col("max_2gram").cast("double") / col("n_2grams"), 4))
        .withColumn("repetitious", col("rep_ratio") > 0.06)
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1), i ->
            |    concat_ws(' ', tk[i], tk[i+1]))) AS g FROM n),
            |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
            |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
            |  CAST(max(c) AS BIGINT) AS max_2gram,
            |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_ratio,
            |  (round(CAST(max(c) AS DOUBLE) / sum(c), 4) > 0.06) AS repetitious
            |FROM c GROUP BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- BM25 scoring
  /** BM25 relevance scoring (Robertson/Lucene form, k1=1.2 b=0.75) for a
    * fixed query-term set — the retrieval scorer a RAG corpus runs next to
    * its ANN index, and the parameterized upgrade of q67's TF-IDF. Shape at
    * 100 TB: per-doc term frequencies are row-local higher-order `filter`
    * calls (no explode of the corpus), document frequencies are one tiny
    * per-term aggregate broadcast back, and the corpus-level (N, avgdl)
    * scalars ride a broadcast 1-row cross join — the only shuffle is the
    * |terms|-row df aggregate. The oracle recomputes every score from the
    * same closed formula, so idf/tf/length-normalization arithmetic is
    * hash-checked to 4 decimals. */
  val q122Bm25 = QuerySpec(
    "q122_bm25", "EXT-bm25",
    "BM25 scoring of a fixed term set (k1=1.2, b=0.75), closed-form oracle",
    (s, d) => {
      val toksDf = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("dl", size(col("toks")))
        .select("doc_id", "toks", "dl")
        .localCheckpoint(true)
      val stats = toksDf.agg(count(lit(1)).as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
      val terms = toksDf
        .select(col("doc_id"), col("toks"), col("dl"),
          explode(array(lit("data"), lit("spark"), lit("table"))).as("term"))
        .withColumn("tf", expr("size(filter(toks, x -> x = term))"))
        .filter(col("tf") > 0).drop("toks")
      val dfreq = terms.groupBy("term").agg(countDistinct("doc_id").as("df"))
      terms.join(broadcast(dfreq), Seq("term")).crossJoin(broadcast(stats))
        .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
        .withColumn("bm25", round(
          col("idf") * col("tf") /
            (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))), 4))
        .select("doc_id", "term", "tf", "bm25")
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |b AS (SELECT doc_id, tk, CAST(len(tk) AS INT) AS dl FROM n),
            |s AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM b),
            |t AS (SELECT doc_id, dl, term,
            |    CAST(len(list_filter(tk, x -> x = term)) AS INT) AS tf
            |  FROM b, unnest(['data', 'spark', 'table']) u(term)),
            |tp AS (SELECT * FROM t WHERE tf > 0),
            |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tp GROUP BY term)
            |SELECT doc_id, term, tf,
            |  round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf
            |    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 4) AS bm25
            |FROM tp JOIN dfq USING (term) CROSS JOIN s""".stripMargin))

  // ---------------------------------------------------------------- winnowing
  /** Winnowing document fingerprints (Schleimer et al., SIGMOD '03 — the
    * MOSS algorithm): hash every 3-gram, slide a window of 4 hashes, keep
    * each window's MINIMUM; the distinct minima are the doc's fingerprint
    * set. Guarantees any shared run of ≥ 6 tokens between two docs shares
    * a fingerprint, at a fraction of full-shingle cost — the
    * position-robust middle ground between q22's whole-doc md5 (brittle)
    * and q26's MinHash (set-similarity, no locality). Entirely row-local
    * array math over the checkpointed token arrays — no shuffle, no
    * explode; at 100 TB the fingerprint table is the only thing that moves.
    * Emitted as count + order-independent bit_xor so the SET of selected
    * hashes is hash-checked without depending on list order. */
  val q123Winnowing = QuerySpec(
    "q123_winnowing", "EXT-fingerprint-winnowing",
    "winnowing fingerprints: window-min of 3-gram hashes (w=4), xor-checked set",
    (s, d) =>
      // hash + window-min run as COMPILED kernels (Hash60Array /
      // WinnowMins — bit-identical to the former HOF chain, see their
      // docs); the coalesce preserves the old `IF(size(null) >= 4)` →
      // empty-array behavior for a null text
      ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh3", shingleSql("toks", 3))
        .withColumn("h", graft.functions.Hash60Array(col("sh3")))
        .withColumn("fps", array_distinct(coalesce(
          graft.functions.WinnowMins(col("h"), 4),
          expr("cast(array() as array<bigint>)"))))
        .select(col("doc_id"),
          size(col("h")).as("n_grams"),
          size(col("fps")).as("n_fps"),
          expr("aggregate(fps, cast(0 as bigint), (a, x) -> a ^ x)").as("fp_xor")),
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |g3 AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS sh FROM n),
            |h AS (SELECT doc_id, list_transform(sh, x ->
            |    CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) AS h FROM g3),
            |m AS (SELECT doc_id, len(h) AS n_grams,
            |    list_distinct(list_transform(generate_series(1, len(h) - 3), i ->
            |      list_min(h[i : i + 3]))) AS fps FROM h)
            |SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
            |  CAST(len(fps) AS INT) AS n_fps,
            |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, b) -> xor(a, b)) AS fp_xor
            |FROM m""".stripMargin))

  // ---------------------------------------------------------------- group split
  /** Leakage-safe train/val/test assignment: documents are split by a
    * deterministic hash of their GROUP (source), not of the row — every
    * doc of a source lands in the same split, so near-duplicates and
    * templates inside one source can never straddle the train/eval
    * boundary (the group-aware split sklearn's GroupShuffleSplit encodes;
    * the md5 hash makes it portable, seedless and stable under
    * re-partitioning). 80/10/10 by hash bucket; the output carries
    * per-split doc/source counts plus a leakage_free bit proven from the
    * data: total distinct sources must equal the sum of per-split
    * distinct sources (any source in two splits breaks the equality).
    * Scan + one tiny aggregate — assignment itself is a row-local hash,
    * usable as a WHERE clause at any scale with no precomputed split
    * table. */
  val q125GroupSplit = QuerySpec(
    "q125_group_split", "EXT-group-split",
    "group-hash 80/10/10 split: all docs of a source share a split, leakage-checked",
    (s, d) => {
      val withSplit = docs(s, d).select(col("doc_id"), col("source"))
        .withColumn("b", pmod(md5Long(col("source")), lit(10L)))
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "val").otherwise("test"))
      val perSplit = withSplit.groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"))
      perSplit
        .crossJoin(broadcast(withSplit.agg(countDistinct("source").as("_tot"))))
        .withColumn("leakage_free",
          sum("n_sources").over(Window.partitionBy()) === col("_tot"))
        .select("split", "n_docs", "n_sources", "leakage_free")
    },
    Some("""WITH w AS (SELECT doc_id, source,
           |    CAST(concat('0x', substring(md5(source), 1, 15)) AS BIGINT) % 10 AS b
           |  FROM documents),
           |sp AS (SELECT doc_id, source,
           |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
           |  FROM w),
           |per AS (SELECT split, count(*) AS n_docs,
           |    count(DISTINCT source) AS n_sources FROM sp GROUP BY split)
           |SELECT split, n_docs, n_sources,
           |  (sum(n_sources) OVER () = (SELECT count(DISTINCT source) FROM sp))
           |    AS leakage_free
           |FROM per""".stripMargin))

  // ---------------------------------------------------------------- label cohesion
  /** Embedding-space label quality: per-label CENTROID norm and COHESION
    * (mean cosine of each member to its label centroid) — the
    * cluster-cohesion diagnostic run before trusting labels or centroids
    * for IVF/classifier training (a label whose cohesion ≈ 0 is noise).
    * Shape at 100 TB: the embedding stream explodes to (label, pos, v)
    * once; centroids are a (labels × dims) aggregate — BROADCAST back, so
    * the member-to-centroid dot products ride the same narrow stream with
    * no second corpus shuffle; per-(label, vec) partials then roll up per
    * label. Cosines round at 4 decimals (the summation-order contract all
    * double aggregates here follow). */
  val q126LabelCohesion = QuerySpec(
    "q126_label_cohesion", "EXT-embedding-cohesion",
    "per-label centroid norm + mean member-to-centroid cosine (broadcast centroids)",
    (s, d) => {
      val x = emb(s, d).select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      val c = x.groupBy("label", "pos").agg(avg("v").as("cv"))
      val cn = c.groupBy("label").agg(sqrt(sum(col("cv") * col("cv"))).as("cnorm"))
      val dot = x.join(broadcast(c), Seq("label", "pos"))
        .groupBy("label", "vec_id")
        .agg(sum(col("v") * col("cv")).as("dot"),
          sqrt(sum(col("v") * col("v"))).as("vnorm"))
      dot.join(broadcast(cn), Seq("label"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(first("cnorm"), 4).as("centroid_norm"),
          round(avg(col("dot") / (col("vnorm") * col("cnorm"))), 4).as("cohesion"))
    },
    Some("""WITH x AS (SELECT label, vec_id,
           |    CAST(unnest(embedding) AS DOUBLE) AS v,
           |    generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |c AS (SELECT label, pos, avg(v) AS cv FROM x GROUP BY 1, 2),
           |cn AS (SELECT label, sqrt(sum(cv * cv)) AS cnorm FROM c GROUP BY 1),
           |d AS (SELECT x.label, x.vec_id, sum(x.v * c.cv) AS dot,
           |    sqrt(sum(x.v * x.v)) AS vnorm
           |  FROM x JOIN c ON x.label = c.label AND x.pos = c.pos GROUP BY 1, 2)
           |SELECT d.label, count(*) AS n_vecs,
           |  round(any_value(cn.cnorm), 4) AS centroid_norm,
           |  round(avg(d.dot / (d.vnorm * cn.cnorm)), 4) AS cohesion
           |FROM d JOIN cn ON d.label = cn.label
           |GROUP BY d.label""".stripMargin))

  // ---------------------------------------------------------------- winnowing pairs
  /** Winnowing fingerprints doing their actual job (q123 builds them, this
    * query JOINS on them): documents sharing ≥ 2 window-min fingerprints
    * are overlap candidates — the MOSS plagiarism/near-dup detector, and
    * the locality-based alternative to MinHash banding (q27): winnowing
    * guarantees any shared ≥ 6-token run yields a shared fingerprint,
    * where MinHash only bounds whole-set Jaccard. Same scale shape as
    * LSH: one shuffle keyed by fingerprint, bucket-local pair generation,
    * never all-pairs. The skew guard is explicit: fingerprints held by
    * > 50 docs (boilerplate) are dropped BEFORE the self-join — the
    * stop-fingerprint move that keeps one viral n-gram from creating a
    * quadratic bucket at corpus scale. Fingerprint frame checkpointed
    * once; explode reads a materialized array attribute. */
  val q127WinnowingPairs = QuerySpec(
    "q127_winnowing_pairs", "EXT-dedup-winnowing",
    "overlap candidates: docs sharing >= 2 winnowing fingerprints (freq-capped)",
    (s, d) => {
      val fps = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh3", shingleSql("toks", 3))
        .withColumn("h", graft.functions.Hash60Array(col("sh3")))
        .withColumn("fps", array_distinct(coalesce(
          graft.functions.WinnowMins(col("h"), 4),
          expr("cast(array() as array<bigint>)"))))
        .select("doc_id", "fps")
        .localCheckpoint(true)
      val ex = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
      val rare = ex.groupBy("fp").agg(countDistinct("doc_id").as("ndocs"))
        .filter(col("ndocs") <= 50).select("fp")
      val exf = ex.join(rare, Seq("fp"), "left_semi")
      exf.select(col("doc_id").as("id1"), col("fp"))
        .join(exf.select(col("doc_id").as("id2"), col("fp")), Seq("fp"))
        .filter(col("id1") < col("id2"))
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |g3 AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS sh FROM n),
            |h AS (SELECT doc_id, list_transform(sh, x ->
            |    CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) AS h FROM g3),
            |m AS (SELECT doc_id,
            |    list_distinct(list_transform(generate_series(1, len(h) - 3), i ->
            |      list_min(h[i : i + 3]))) AS fps FROM h),
            |e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
            |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(DISTINCT doc_id) <= 50),
            |ef AS (SELECT * FROM e WHERE fp IN (SELECT fp FROM rare))
            |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
            |FROM ef a JOIN ef b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin))

  // ------------------------------------------------- streaming ingest curation
  /** ONE-PASS streaming ingest curation — the composition the other rules
    * exist for: every arriving micro-batch is tokenized once and gated
    * through decontamination (q106's rule, bloom-prefiltered), the Gopher
    * metric gates (q119's thresholds) and the repetition rule (q121's
    * 2-gram share, computed row-locally inside the batch) in a single
    * [[Decontamination.curateBatch]] kernel, emitting per-(source,
    * verdict) counts with the FIRST failing rule as the verdict. Counts
    * sum associatively (each doc's verdict depends only on its own text
    * and the static benchmark), so totals are batching-independent and
    * the whole streaming pipeline is DuckDB-hash-checked. This is the
    * shape an ingest tier actually runs at 100 TB: one narrow pass per
    * batch, one broadcast sketch, no corpus-wide state. */
  val q128StreamCuration = QuerySpec(
    "q128_stream_curation", "EXT-streaming-curation",
    "one-pass foreachBatch curation: decontaminate + quality gates + repetition",
    (s, d) => {
      val (benchShingles, bloom) =
        Decontamination.benchSide(docs(s, d), col("doc_id") % 50 === 0)
      // keyed by batchId: a replayed (at-least-once) batch overwrites its
      // own prior contribution instead of double-counting — q114's contract
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Array[(String, String, Long)]]()
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        // BYTE-targeted admission, not file-count: per-trigger work is
        // bounded by bytes (constant per batch at any corpus size) while
        // curateBatch spreads each batch cluster-wide; at a real ingest
        // tier arrival rate bounds it instead. Verdicts are per-doc, so
        // totals stay batching-independent whatever the slicing does.
        .option("maxBytesPerTrigger", (64L << 20).toString)
        .load(d)
        .filter(col("doc_id") % 50 =!= 0)
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // ≤ #sources × #verdicts rows per batch — bounded collect
          acc.put(batchId, Decontamination.curateBatch(batch.toDF(), benchShingles, bloom)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))))
          ()
      }.start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      import scala.jdk.CollectionConverters._
      acc.values.asScala.toSeq.flatten.toDF("source", "verdict", "n")
        .groupBy("source", "verdict").agg(sum("n").as("n"))
    },
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |sh AS (SELECT doc_id, source, tk,
            |    list_transform(generate_series(1, len(tk) - 4), i ->
            |      concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS s5,
            |    list_transform(generate_series(1, len(tk) - 1), i ->
            |      concat_ws(' ', tk[i], tk[i+1])) AS s2
            |  FROM n),
            |bench AS (SELECT DISTINCT unnest(s5) AS g FROM sh WHERE doc_id % 50 = 0),
            |train AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
            |cont AS (SELECT DISTINCT t.doc_id FROM train t, unnest(t.s5) u(g)
            |  WHERE g IN (SELECT g FROM bench)),
            |m AS (SELECT source,
            |    (doc_id IN (SELECT doc_id FROM cont)) AS contaminated,
            |    CAST(len(tk) AS INT) AS n_tokens,
            |    round(list_aggregate(list_transform(tk, t -> len(t)), 'sum')
            |      / CAST(len(tk) AS DOUBLE), 4) AS mean_wl,
            |    round(len(list_filter(tk, t -> t IN ('the','a','of','to','and')))
            |      / CAST(len(tk) AS DOUBLE), 4) AS stop_ratio,
            |    round(CASE WHEN len(s2) = 0 THEN 0
            |      ELSE list_max(list_transform(list_distinct(s2), g ->
            |        len(list_filter(s2, x -> x = g)))) / CAST(len(s2) AS DOUBLE) END, 4)
            |      AS rep_ratio
            |  FROM train),
            |v AS (SELECT source,
            |    CASE WHEN contaminated THEN 'contaminated'
            |         WHEN n_tokens < 25 THEN 'too_short'
            |         WHEN mean_wl < 3.8 OR mean_wl > 5.2 THEN 'word_length'
            |         WHEN stop_ratio < 0.02 THEN 'low_stopwords'
            |         WHEN rep_ratio > 0.06 THEN 'repetitious'
            |         ELSE 'pass' END AS verdict
            |  FROM m)
            |SELECT source, verdict, count(*) AS n FROM v GROUP BY 1, 2""".stripMargin))

  // ---------------------------------------------------------------- winnowing extents
  /** POSITIONAL winnowing — q127 told you WHICH documents overlap; this
    * tells you WHERE. Each window keeps (min hash, its leftmost position),
    * so a shared fingerprint pins a shared ≥ 6-token run to token
    * coordinates in BOTH documents; per candidate pair the matched
    * positions aggregate to overlap EXTENTS (start/end token index per
    * side) — the span you'd highlight in a plagiarism report or cut in
    * surgical dedup. Leftmost-min tie-break keeps selection deterministic
    * (winnowing proper takes rightmost; with 60-bit hashes ties are
    * theoretical, the tie-break just pins the oracle). Same scale shape
    * and > 50-doc stop-fingerprint guard as q127; positions ride the same
    * shuffle as the hashes, nothing new moves. */
  val q130WinnowingExtents = QuerySpec(
    "q130_winnowing_extents", "EXT-dedup-winnowing-extents",
    "overlap extents: token spans of shared winnowing fingerprints per doc pair",
    (s, d) => {
      // the 3-slice + 2×array_min + array_position window chain runs as
      // ONE compiled pass (WinnowExtents): pos = leftmost window-min
      // position, fp = the min — value-identical, see the kernel doc
      val fps = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh3", shingleSql("toks", 3))
        .withColumn("h", graft.functions.Hash60Array(col("sh3")))
        .withColumn("w", coalesce(
          graft.functions.WinnowExtents(col("h"), 4),
          expr("cast(array() as array<struct<pos:bigint,fp:bigint>>)")))
        .select("doc_id", "w")
        .localCheckpoint(true)
      val ex = fps.select(col("doc_id"), explode(col("w")).as("s"))
        .select(col("doc_id"), col("s.fp").as("fp"), col("s.pos").as("pos"))
        .distinct()
      val rare = ex.groupBy("fp").agg(countDistinct("doc_id").as("ndocs"))
        .filter(col("ndocs") <= 50).select("fp")
      val exf = ex.join(rare, Seq("fp"), "left_semi")
      exf.select(col("doc_id").as("id1"), col("fp"), col("pos").as("pa"))
        .join(exf.select(col("doc_id").as("id2"), col("fp"), col("pos").as("pb")), Seq("fp"))
        .filter(col("id1") < col("id2"))
        .groupBy("id1", "id2")
        .agg(countDistinct("fp").as("n_shared"),
          min("pa").as("a_start"), (max("pa") + 2).as("a_end"),
          min("pb").as("b_start"), (max("pb") + 2).as("b_end"))
        .filter(col("n_shared") >= 2)
    },
    Some(s"""WITH n AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk FROM documents),
            |g3 AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), i ->
            |    concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS sh FROM n),
            |hh AS (SELECT doc_id, list_transform(sh, x ->
            |    CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) AS h FROM g3),
            |w AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(h) - 3), i ->
            |    {'pos': i + list_position(h[i : i + 3], list_min(h[i : i + 3])) - 1,
            |     'fp': list_min(h[i : i + 3])})) AS u
            |  FROM hh WHERE len(h) >= 4),
            |e AS (SELECT DISTINCT doc_id, u.fp AS fp, u.pos AS pos FROM w),
            |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(DISTINCT doc_id) <= 50),
            |ef AS (SELECT * FROM e WHERE fp IN (SELECT fp FROM rare))
            |SELECT a.doc_id AS id1, b.doc_id AS id2,
            |  count(DISTINCT a.fp) AS n_shared,
            |  min(a.pos) AS a_start, max(a.pos) + 2 AS a_end,
            |  min(b.pos) AS b_start, max(b.pos) + 2 AS b_end
            |FROM ef a JOIN ef b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin))

  // ---------------------------------------------------------------- curation funnel
  /** The WHOLE curation pipeline as one DAG — the capstone composition: a
    * raw corpus flows through exact dedup (q21's fingerprint rule, keep
    * lowest doc_id), benchmark decontamination (q106's rule), and the
    * quality gate (q119's thresholds), and the output is the FUNNEL
    * REPORT every dataset release publishes: per-source survivor counts
    * at each stage plus the final token yield. Everything derives from
    * ONE checkpointed tokenization (fingerprint = md5 of the joined
    * tokens ≡ q21's normalized-text md5; shingles and metrics reuse the
    * same arrays), so the corpus text is read and normalized exactly
    * once — at 100 TB the pipeline is one scan, two broadcast-semi
    * probes, and per-source aggregates; no stage re-reads storage. */
  val q131CurationFunnel = QuerySpec(
    "q131_curation_funnel", "EXT-curation-funnel",
    "full pipeline funnel: raw → exact-dedup → decontaminated → quality, per source",
    (s, d) => {
      val base = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh", shingleSql("toks", 5))
        .withColumn("fp", md5(concat_ws(" ", col("toks"))))
        .select("doc_id", "source", "toks", "sh", "fp")
        .localCheckpoint(true) // one tokenization; every stage reuses it
      val bench = base.filter(col("doc_id") % 50 === 0)
      val train = base.filter(col("doc_id") % 50 =!= 0)
      // stage 1: exact dedup (keep the lowest doc_id per fingerprint)
      val s1 = train
        .join(train.groupBy("fp").agg(min("doc_id").as("keep")), Seq("fp"))
        .filter(col("doc_id") === col("keep")).drop("keep")
      // stage 2: decontamination against the benchmark split
      val benchShingles = bench.select(explode(col("sh")).as("g")).distinct()
      val contaminated = s1.select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(benchShingles), Seq("g"), "left_semi")
        .select("doc_id").distinct()
      val s2 = s1.join(contaminated, Seq("doc_id"), "left_anti")
      // stage 3: quality gate (q119 thresholds)
      val s3 = s2
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("mean_wl", expr(
          "round(aggregate(toks, 0, (a, t) -> a + length(t)) / cast(size(toks) as double), 4)"))
        .withColumn("stop_ratio", expr(
          "round(size(filter(toks, t -> t in ('the','a','of','to','and'))) / cast(size(toks) as double), 4)"))
        .filter(col("n_tokens") >= 25 && col("mean_wl").between(3.8, 5.2)
          && col("stop_ratio") >= 0.02)
      def cnt(df: DataFrame, as: String) =
        df.groupBy("source").agg(count(lit(1)).as(as))
      cnt(train, "n_raw")
        .join(cnt(s1, "n_dedup"), Seq("source"), "left")
        .join(cnt(s2, "n_decon"), Seq("source"), "left")
        .join(s3.groupBy("source").agg(count(lit(1)).as("n_final"),
          sum(size(col("toks")).cast("long")).as("tokens_final")), Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_decon"), lit(0L)).as("n_decon"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
    },
    Some(s"""WITH n AS (SELECT doc_id, source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |b AS (SELECT doc_id, source, tk,
            |    list_transform(generate_series(1, len(tk) - 4), i ->
            |      concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS s5,
            |    md5(array_to_string(tk, ' ')) AS fp
            |  FROM n),
            |bench AS (SELECT DISTINCT unnest(s5) AS g FROM b WHERE doc_id % 50 = 0),
            |train AS (SELECT * FROM b WHERE doc_id % 50 <> 0),
            |s1 AS (SELECT t.* FROM train t
            |  JOIN (SELECT fp, min(doc_id) AS keep FROM train GROUP BY fp) k
            |    ON t.fp = k.fp AND t.doc_id = k.keep),
            |cont AS (SELECT DISTINCT t.doc_id FROM s1 t, unnest(t.s5) u(g)
            |  WHERE g IN (SELECT g FROM bench)),
            |s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
            |s3 AS (SELECT * FROM s2
            |  WHERE CAST(len(tk) AS INT) >= 25
            |    AND round(list_aggregate(list_transform(tk, t -> len(t)), 'sum')
            |      / CAST(len(tk) AS DOUBLE), 4) BETWEEN 3.8 AND 5.2
            |    AND round(len(list_filter(tk, t -> t IN ('the','a','of','to','and')))
            |      / CAST(len(tk) AS DOUBLE), 4) >= 0.02),
            |raw AS (SELECT source, count(*) AS n_raw FROM train GROUP BY source),
            |d1 AS (SELECT source, count(*) AS n_dedup FROM s1 GROUP BY source),
            |d2 AS (SELECT source, count(*) AS n_decon FROM s2 GROUP BY source),
            |d3 AS (SELECT source, count(*) AS n_final,
            |    CAST(sum(len(tk)) AS BIGINT) AS tokens_final FROM s3 GROUP BY source)
            |SELECT raw.source, raw.n_raw,
            |  coalesce(d1.n_dedup, 0) AS n_dedup,
            |  coalesce(d2.n_decon, 0) AS n_decon,
            |  coalesce(d3.n_final, 0) AS n_final,
            |  coalesce(d3.tokens_final, 0) AS tokens_final
            |FROM raw LEFT JOIN d1 USING (source) LEFT JOIN d2 USING (source)
            |LEFT JOIN d3 USING (source)""".stripMargin))

  // ---------------------------------------------------------------- feature hashing
  /** The hashing trick (Weinberger '09 / HashingTF): tokens map to a FIXED
    * feature space by hash, no vocabulary pass, no driver-side dictionary —
    * the featurizer that works on a corpus too large to enumerate. Bucket =
    * md5-derived hash mod 64 (engine-portable, unlike murmur seeds), so the
    * oracle reproduces the exact bucketing. One explode + one aggregation;
    * at 100 TB the shuffle carries (bucket, partial counts), never the
    * token stream. */
  val q98FeatureHash = QuerySpec(
    "q98_feature_hash", "EXT-feature-hashing",
    "hashing-trick featurizer: md5-bucketed token features, 64-bucket histogram",
    (s, d) =>
      explodedTokens(docs(s, d), "text", as = "tok", keep = Seq("doc_id"))
        .withColumn("bucket", pmod(md5Long(col("tok")), lit(64L)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("doc_id").as("n_docs")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(regexp_split_to_array($oNorm, '\\s+')) AS tok FROM documents),
            |b AS (SELECT doc_id,
            |    CAST(CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 64 AS INT) AS bucket
            |  FROM tok)
            |SELECT bucket, count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs
            |FROM b GROUP BY bucket""".stripMargin))

  // ---------------------------------------------------------------- embedding quantization
  /** Int8 scalar quantization of the embedding column — the compression
    * path of a large vector store (4× smaller than float32, 8× smaller
    * than float64; at 100 TB of vectors the scan-and-shuffle savings fund
    * the whole ANN pipeline). Per-vector min/max codebook, code =
    * round((x-min)/scale), reconstruction error provably ≤ scale/2 —
    * emitted as a checked boolean per row. Everything is row-local
    * `transform`/`aggregate` arithmetic: no shuffle, no state, and
    * bit-identical on any engine that rounds half-away-from-zero (the
    * oracle recomputes codes AND the error bound). */
  val q94Quantize = QuerySpec(
    "q94_quantize", "EXT-vector-quantize",
    "int8 scalar quantization of embeddings + reconstruction-error bound check",
    (s, d) =>
      emb(s, d).withColumn("e", col("embedding").cast("array<double>"))
        .withColumn("mn", array_min(col("e")))
        .withColumn("mx", array_max(col("e")))
        .withColumn("scale",
          when(col("mx") > col("mn"), (col("mx") - col("mn")) / 255.0).otherwise(lit(1.0)))
        .withColumn("q", expr("transform(e, x -> cast(round((x - mn) / scale, 0) as int))"))
        .withColumn("max_err", expr(
          "aggregate(e, 0D, (acc, x) -> greatest(acc, abs(x - (mn + cast(round((x - mn) / scale, 0) as int) * scale))))"))
        .select(col("vec_id"),
          col("q").getItem(0).as("q0"), col("q").getItem(1).as("q1"),
          col("q").getItem(2).as("q2"), col("q").getItem(3).as("q3"),
          graft.functions.roundStable(col("max_err"), 6).as("max_err"),
          (col("max_err") <= col("scale") * 0.5 + 1e-12).as("within_bound")),
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |           FROM embeddings),
           |m AS (SELECT vec_id, e, list_aggregate(e, 'min') AS mn, list_aggregate(e, 'max') AS mx
           |      FROM e),
           |sc AS (SELECT *, CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale FROM m),
           |q AS (SELECT vec_id, e, mn, scale,
           |        list_transform(e, x -> CAST(round((x - mn) / scale, 0) AS INT)) AS q,
           |        list_aggregate(list_transform(e, x ->
           |          abs(x - (mn + CAST(round((x - mn) / scale, 0) AS INT) * scale))), 'max') AS max_err
           |      FROM sc)
           |SELECT vec_id, q[1] AS q0, q[2] AS q1, q[3] AS q2, q[4] AS q3,
           |  round(max_err + 1e-9, 6) AS max_err,
           |  max_err <= scale * 0.5 + 1e-12 AS within_bound
           |FROM q""".stripMargin))

  // ---------------------------------------------------------------- search on quantized vectors
  /** Top-k cosine search ON the int8-quantized vectors (q94's codes,
    * reconstructed row-locally) with the exact cosine alongside — the
    * "search the compressed index, measure the degradation" half of
    * quantization. Same broadcast + single-scan + TakeOrdered plan as the
    * exact q30 baseline; at 100 TB the scan reads 4-8× fewer bytes, which
    * IS the win. The oracle recomputes codes, reconstruction, both cosines
    * and the ranking — the whole compressed-search path is hash-checked. */
  val q95QuantizedAnn = QuerySpec(
    "q95_quantized_ann", "EXT-sim-quantized",
    "cosine top-10 over int8-reconstructed vectors, exact cosine alongside",
    (s, d) => {
      def recon(df: DataFrame) = df
        .withColumn("e", col("embedding").cast("array<double>"))
        .withColumn("mn", array_min(col("e")))
        .withColumn("mx", array_max(col("e")))
        .withColumn("scale",
          when(col("mx") > col("mn"), (col("mx") - col("mn")) / 255.0).otherwise(lit(1.0)))
        .withColumn("r",
          expr("transform(e, x -> mn + cast(round((x - mn) / scale, 0) as int) * scale)"))
      val corpus = recon(emb(s, d)).select(col("vec_id"), col("e"), col("r"))
      val q = broadcast(recon(emb(s, d).filter(col("vec_id") === 0))
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("r").as("qr")))
      corpus.crossJoin(q)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("r"), col("qr")), 4).as("cos_q"),
          round(Similarity.cosine(col("e"), col("qe")), 4).as("cos_exact"))
        .orderBy(col("cos_q").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |           FROM embeddings),
           |m AS (SELECT vec_id, e, list_aggregate(e, 'min') AS mn, list_aggregate(e, 'max') AS mx
           |      FROM e),
           |sc AS (SELECT *, CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale FROM m),
           |rv AS (SELECT vec_id, e,
           |         list_transform(e, x -> mn + CAST(round((x - mn) / scale, 0) AS INT) * scale) AS r
           |       FROM sc),
           |q AS (SELECT vec_id AS query_id, e AS qe, r AS qr FROM rv WHERE vec_id = 0)
           |SELECT query_id, vec_id,
           |  round(list_dot_product(r, qr)
           |    / (sqrt(list_dot_product(r, r)) * sqrt(list_dot_product(qr, qr))), 4) AS cos_q,
           |  round(list_dot_product(e, qe)
           |    / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4) AS cos_exact
           |FROM rv CROSS JOIN q
           |WHERE vec_id <> query_id
           |ORDER BY cos_q DESC, vec_id ASC LIMIT 10""".stripMargin))

  // ---------------------------------------------------------------- multimodal plumbing
  val q33Multimodal = QuerySpec(
    "q33_multimodal", "EXT-multimodal",
    "binary payload column + typed metadata + deterministic stub features",
    (s, d) => Multimodal.fromDocuments(docs(s, d))
      .select(
        col("media_id"), col("kind"), col("width"), col("height"),
        length(col("payload")).as("payload_len"),
        lower(substring(hex(col("payload")), 1, 16)).as("head_hex"),
        md5(col("payload")).as("payload_md5")),
    Some("""SELECT doc_id AS media_id,
           |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           |  CAST(n_chars % 640 AS INT) AS width,
           |  CAST(n_chars % 480 AS INT) AS height,
           |  CAST(octet_length(encode(text)) AS INT) AS payload_len,
           |  lower(substring(hex(encode(text)), 1, 16)) AS head_hex,
           |  md5(text) AS payload_md5
           |FROM documents""".stripMargin))

  /** Frame sampling over the binary payload ([[Multimodal.frameSample]]):
    * every 4th full 32-byte frame, content-hashed — codegen'd byte slicing,
    * the keyframe-sampling plumbing with the codec call stubbed as a slice.
    * The docs corpus is ASCII, so the oracle mirrors byte offsets with
    * string offsets exactly. */
  val q80FrameSample = QuerySpec(
    "q80_frame_sample", "EXT-multimodal-frames",
    "binary frame sampling: every 4th 32-byte frame, content-hashed",
    (s, d) => Multimodal.frameSample(
      Multimodal.fromDocuments(docs(s, d)), "media_id", "payload",
      frameSize = 32, stride = 4),
    Some("""WITH m AS (SELECT doc_id AS media_id, text,
           |            CAST(floor(octet_length(encode(text)) / 32) AS INT) AS n_frames
           |          FROM documents)
           |SELECT media_id, CAST(u.f AS INT) AS frame_idx,
           |  md5(substring(text, u.f * 32 + 1, 32)) AS frame_md5
           |FROM m, unnest(generate_series(0, n_frames - 1, 4)) AS u(f)
           |WHERE n_frames >= 1""".stripMargin))

  // ---------------------------------------------------------------- SimHash hamming near-dup scan
  /** Hamming distance between consecutive docs' SimHash signatures — the
    * near-dup DETECTION step over the sketch (small distance = near-dup).
    * Spark computes popcount(xor) on the numeric signature; the oracle
    * compares bit-strings positionally. Same integers either way. */
  val q51SimHashHamming = QuerySpec(
    "q51_simhash_hamming", "EXT-dedup-simhash-hamming",
    "SimHash hamming distance between consecutive documents",
    (s, d) => {
      val sh = Dedup.withSimHash(docs(s, d), "text")
        .select(col("doc_id"), conv(col("simhash"), 2, 10).cast("long").as("sig"))
      sh.select(col("doc_id").as("id1"), col("sig").as("s1"))
        .join(sh.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"), col("sig").as("s2")), Seq("id1"))
        .select(col("id1"), col("id2"),
          bit_count(expr("s1 ^ s2")).cast("int").as("hamming"))
    },
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(regexp_split_to_array($oNorm, '\\s+')) AS t FROM documents),
            |h AS (SELECT doc_id,
            |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
            |bits AS (SELECT doc_id, j,
            |    sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
            |  FROM h CROSS JOIN range(60) r(j) GROUP BY doc_id, j),
            |sh AS (SELECT doc_id,
            |    string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
            |  FROM bits GROUP BY doc_id)
            |SELECT a.doc_id AS id1, b.doc_id AS id2,
            |  CAST(len(list_filter(generate_series(1, 60), i ->
            |    substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) AS INT) AS hamming
            |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin))

  // ---------------------------------------------------------------- corpus curation capstone
  /** The operators composed as a real curation pipeline: quality-score the
    * corpus, keep docs above threshold whose predicted language is English,
    * exact-dedup survivors (keep lowest id), report per-source stats. One
    * narrow projection chain + one dedup shuffle + one stats aggregation. */
  val q52Curation = QuerySpec(
    "q52_curation", "EXT-pipeline",
    "curation pipeline: quality filter -> lang filter -> dedup -> stats",
    (s, d) => {
      // the scoring subtree (regex-heavy) must appear ONCE in the plan: a
      // semi-join against Dedup.exact(scored) duplicates it wholesale
      // (Catalyst clones shared subtrees into both join branches — the
      // round-1 self-join lesson). Keep-lowest-id-per-fingerprint is a
      // window rank, which the RewriteWindowTopK rule turns into the
      // bounded-heap TopK operator: one pass, one shuffle on fingerprint.
      val scored = TextAnalysis.withLangId(
        TextAnalysis.withQuality(ensureParallelism(docs(s, d)), "text"), "text")
        .filter(col("quality_score") >= 0.2 && col("pred_lang") === "en")
        .withColumn("fp", md5(normText(col("text"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("doc_id").asc)
      val kept = scored
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      kept.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        graft.functions.roundStable(avg("quality_score"), 4).as("avg_quality"),
        round(sum("n_tokens"), 2).as("total_tokens"))
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id, source,
            |    CAST(len($oToks) AS DOUBLE) AS n_tokens,
            |    round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio,
            |    round(len(list_filter($oToks, t -> t IN ('the','a','and','of','to','is','in'))) / CAST(len($oToks) AS DOUBLE) + 1e-9, 4) AS stopword_ratio,
            |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('the','and','of','to','is'))) AS s_en,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('der','die','und','das','ist'))) AS s_de,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('le','la','et','les','des'))) AS s_fr,
            |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN ('el','los','que','una','las'))) AS s_es,
            |    $oNorm AS norm
            |  FROM documents),
            |scored AS (
            |  SELECT *,
            |    round(least(n_tokens / 100.0, 1.0) * (1.0 - punct_ratio)
            |          * (0.5 + 0.5 * least(stopword_ratio * 5.0, 1.0)) + 1e-9, 4) AS quality_score,
            |    CASE WHEN cjk THEN 'zh'
            |         WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
            |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            |         WHEN s_fr >= s_es THEN 'fr'
            |         ELSE 'es' END AS pred_lang
            |  FROM m),
            |filt AS (SELECT * FROM scored WHERE quality_score >= 0.2 AND pred_lang = 'en'),
            |keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(norm))
            |SELECT source, count(*) AS n_docs,
            |  round(avg(quality_score) + 1e-9, 4) AS avg_quality,
            |  round(sum(n_tokens), 2) AS total_tokens
            |FROM filt WHERE doc_id IN (SELECT doc_id FROM keep)
            |GROUP BY source""".stripMargin))

  // ---------------------------------------------------------------- weighted sampling
  /** Distributed WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis '06): each row draws `u ∈ (0,1)` and keeps key `u^(1/w)`;
    * the k largest keys are exactly a weight-proportional sample without
    * replacement. Here `u` is DETERMINISTIC — the md5-derived 60-bit hash
    * of the doc id mapped to (0,1) — so the "random" draw is reproducible
    * in any engine with md5 and the oracle can check the SELECTED ROWS,
    * not just the sample size. Weights = n_chars (longer docs
    * proportionally likelier — the mixture-sampling shape used when
    * upsampling long documents).
    *
    * Shape at 100 TB: key computation is row-local (hash + one pow); the
    * top-k is TakeOrderedAndProject — per-partition bounded heaps, no
    * global sort, no shuffle of the corpus. Contrast reservoir sampling,
    * which needs a sequential pass: the E-S key trick is what makes
    * weighted sampling embarrassingly parallel and mergeable (union two
    * samples = take top-k of their keys again). */
  val q139WeightedSample = QuerySpec(
    "q139_weighted_sample", "EXT-weighted-sample",
    "Efraimidis-Spirakis weighted top-k sample, deterministic md5 draws",
    (s, d) => {
      val w = docs(s, d).filter(col("n_chars") > 0)
        .withColumn("u",
          (pmod(md5Long(col("doc_id").cast("string")), lit(1000000L)) + 0.5) / 1000000.0)
        .withColumn("k", pow(col("u"), lit(1.0) / col("n_chars")))
      w.orderBy(col("k").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_chars"), round(col("k"), 4).as("skey"))
    },
    Some("""WITH w AS (SELECT doc_id, n_chars,
           |    (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |       % 1000000 + 0.5) / 1000000.0 AS u
           |  FROM documents WHERE n_chars > 0)
           |SELECT doc_id, n_chars, round(pow(u, 1.0 / n_chars), 4) AS skey
           |FROM w ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id LIMIT 50""".stripMargin))

  // ---------------------------------------------------------------- n-gram LM scoring
  /** Bigram language-model PERPLEXITY scoring (the CCNet/KenLM quality
    * gate in miniature): train add-one-smoothed bigram statistics on the
    * corpus itself, score every document by its mean bigram log-likelihood
    * `ln((c(w1,w2)+1)/(c(w1)+V))`, and surface the 20 LOWEST-scoring
    * (most surprising) documents — the gibberish/outlier candidates a
    * quality pipeline drops or down-weights.
    *
    * Shape at 100 TB: tokenization is checkpointed ONCE and feeds all
    * three passes (bigram counts, vocabulary, scoring) — the q106 lesson
    * institutionalized; counts are hash aggregates on (w1,w2)/(w1); the
    * scoring join shuffles on the bigram key (inherent — the model IS
    * corpus-global state) and AQE broadcast-izes it when the model fits.
    * Vocabulary size rides along as a broadcast 1-row frame, never a
    * driver collect. */
  val q140BigramLm = QuerySpec(
    "q140_bigram_lm", "EXT-lm-quality",
    "bigram LM perplexity scoring: 20 most-surprising docs under add-one smoothing",
    (s, d) => {
      // bigram arrays are MATERIALIZED alongside the tokens: an inlined
      // shingle expression in the Generate would rebuild the whole array
      // per output row (O(tokens²) per doc — the q106 recompute family)
      val tk = ensureParallelism(docs(s, d))
        .select(col("doc_id"), tokens(normText(col("text"))).as("tk"))
        .withColumn("bg", shingleSql("tk", 2))
        .localCheckpoint(true)
      val bg = tk.select(col("doc_id"), explode(col("bg")).as("b"))
        .withColumn("w1", substring_index(col("b"), " ", 1))
      val c12 = bg.groupBy("b").agg(count(lit(1)).as("c12"))
      val c1 = c12.withColumn("w1", substring_index(col("b"), " ", 1))
        .groupBy("w1").agg(sum("c12").as("c1")) // c(w1) from the smaller table
      val vocab = tk.select(explode(col("tk")).as("t"))
        .agg(countDistinct("t").as("v"))
      bg.join(c12, "b").join(c1, "w1")
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log((col("c12") + 1.0) / (col("c1") + col("v")))), 4).as("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH tk AS (SELECT doc_id, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |bg AS (SELECT doc_id,
            |    unnest(list_transform(generate_series(1, len(tk) - 1), i ->
            |      concat_ws(' ', tk[i], tk[i+1]))) AS b
            |  FROM tk WHERE len(tk) >= 2),
            |c12 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
            |c1 AS (SELECT split_part(b, ' ', 1) AS w1, sum(c12) AS c1
            |  FROM c12 GROUP BY 1),
            |v AS (SELECT count(DISTINCT t.t) AS v
            |  FROM (SELECT unnest(tk) AS t FROM tk) t)
            |SELECT doc_id, count(*) AS n_bigrams,
            |  round(avg(ln((c12.c12 + 1.0) / (c1.c1 + v.v))), 4) AS score
            |FROM bg JOIN c12 USING (b)
            |  JOIN c1 ON split_part(bg.b, ' ', 1) = c1.w1
            |  CROSS JOIN v
            |GROUP BY doc_id
            |ORDER BY score, doc_id LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------- embedding covariance
  /** Distributed COVARIANCE MATRIX over embedding dimensions (upper
    * triangle of the first 8 dims) — the statistics behind PCA /
    * whitening / drift detection on embedding corpora. One narrow pass:
    * each vector expands to its 36 (i≤j) coordinate pairs and
    * `covar_pop` aggregates per cell — partial aggregation does the
    * map-side combine, so the shuffle carries 36 running moments per
    * partition, NOT the corpus (the Gramian-accumulation pattern; a full
    * d×d matrix is the same plan with d²/2 cells). Cosines/covariances
    * round at 4 decimals, the repo-wide double-aggregate contract. */
  val q141EmbedCovariance = QuerySpec(
    "q141_embed_covariance", "EXT-embedding-covariance",
    "single-pass covariance matrix (upper triangle, 8 dims) over embeddings",
    (s, d) => {
      val x = emb(s, d).select(col("embedding").cast("array<double>").as("e"))
      x.select(explode(expr(
          """flatten(transform(sequence(0, 7), i ->
            |  transform(sequence(i, 7), j ->
            |    struct(i AS i, j AS j, e[i] AS xi, e[j] AS xj))))""".stripMargin))
          .as("p"))
        .select(col("p.i"), col("p.j"), col("p.xi"), col("p.xj"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"),
          // + 0.0 normalizes -0.0 (both engines round a tiny negative
          // covariance to signed zero inconsistently)
          (round(covar_pop(col("xi"), col("xj")), 4) + lit(0.0)).as("cov"))
    },
    Some("""WITH p AS (SELECT CAST(a.i AS INT) AS i, CAST(b.j AS INT) AS j
           |  FROM generate_series(0, 7) a(i) CROSS JOIN generate_series(0, 7) b(j)
           |  WHERE b.j >= a.i)
           |SELECT p.i, p.j, count(*) AS n,
           |  round(covar_pop(CAST(embedding[p.i + 1] AS DOUBLE),
           |                  CAST(embedding[p.j + 1] AS DOUBLE)), 4) + 0.0 AS cov
           |FROM embeddings CROSS JOIN p
           |GROUP BY p.i, p.j""".stripMargin))

  // ---------------------------------------------------------------- source overlap
  /** Pairwise CROSS-SOURCE contamination matrix: for every source pair,
    * the number of distinct 5-gram hashes both sources contain — the
    * curation diagnostic behind "which crawls/datasets duplicate each
    * other" that decides dedup ordering and mixture double-counting
    * corrections (cf. the q106 train/bench decontamination, generalized
    * to all-pairs between sources).
    *
    * Shape at 100 TB: shingles are hashed and DISTINCTED per source first
    * (the corpus-sized step, one shuffle keyed by (source, hash)), so the
    * self-join runs over the deduplicated hash sets — proportional to
    * shared vocabulary, never corpus². The shingled corpus and the
    * distinct hash set are both checkpointed: the first because explode
    * must never inline the regex tokenizer (the q106 lesson), the second
    * because the self-join would otherwise recompute the whole chain
    * twice (the Dedup.nearDupPairs pattern). */
  val q143SourceOverlap = QuerySpec(
    "q143_source_overlap", "EXT-source-overlap",
    "pairwise cross-source 5-gram overlap matrix (distinct hash intersection)",
    (s, d) => {
      val shArr = ensureParallelism(docs(s, d))
        .withColumn("toks", tokens(normText(col("text"))))
        .withColumn("sh", shingleSql("toks", 5))
        .select("source", "sh")
        .localCheckpoint(true)
      val sh = shArr.select(col("source"), explode(col("sh")).as("g"))
        .select(col("source"), md5Long(col("g")).as("h"))
        .distinct()
        .localCheckpoint(true) // self-joined below: materialize, don't recompute
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""WITH n AS (SELECT source, regexp_split_to_array($oNorm, '\\s+') AS tk
            |  FROM documents),
            |g AS (SELECT source, unnest(list_transform(generate_series(1, len(tk) - 4),
            |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS g
            |  FROM n),
            |sh AS (SELECT DISTINCT source,
            |    CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS h FROM g)
            |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
            |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            |GROUP BY 1, 2""".stripMargin))

  // ---------------------------------------------------------------- IVF + quantized codes
  /** IVF-PQ-style TWO-STAGE retrieval — the production vector-index
    * architecture (FAISS IVF+SQ8): the coarse quantizer prunes the scan to
    * `nprobe` cells, the APPROXIMATE stage scores int8-reconstructed codes
    * (4-8× fewer scan bytes — within the probed cells the index never
    * touches full-precision vectors), and a small candidate pool is
    * RESCORED exactly before returning top-k. At 100 TB the read cost is
    * `nprobe/numCells × 1/4 bytes` of the corpus plus an O(candidates)
    * exact pass — each stage cuts the next stage's input by an order of
    * magnitude.
    *
    * Contract (the q45/q46 sketch+exact pattern): KMeans cells aren't
    * SQL-expressible, so the output carries oracle-recomputable EXACT
    * values (brute-force top-1/top-10 cosines) plus bound booleans —
    * recall@10 ≥ 0.5 vs brute force, rescored cosines exactly equal to
    * full-precision cosines (rescoring must really be exact), and the
    * approximate stage within its quantization error budget. */
  val q146IvfPq = QuerySpec(
    "q146_ivf_pq", "EXT-sim-ivf-pq",
    "IVF + int8 codes: probed-cell approx search, exact rescore, bound-checked",
    (s, d) => {
      val embAll = emb(s, d)
      val query = embAll.filter(col("vec_id") === 0)
      val qArr = query.select("embedding").collect()(0).getSeq[Float](0).toArray
      val corpus = embAll.filter(col("vec_id") =!= 0)
      val index = Ivf.build(corpus, numCells = 16)
      val centroids = index.model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray) }
      val qd = qArr.map(_.toDouble)
      def cosA(a: Array[Double], b: Array[Double]): Double = {
        var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dd / (math.sqrt(na) * math.sqrt(nb))
      }
      val probeCells = centroids.map { case (i, c) => (i, cosA(qd, c)) }
        .sortBy(-_._2).take(8).map(_._1).toSeq
      val qLit = typedLit(qd.toSeq)
      // approx stage: int8 reconstruction (q94's row-local codebook) scored
      // ONLY inside the probed cells; exact cosine rides along for the
      // rescore + error audit
      val scored = index.assigned.filter(col("cell").isin(probeCells: _*))
        .withColumn("e", col("embedding").cast("array<double>"))
        .withColumn("mn", array_min(col("e")))
        .withColumn("mx", array_max(col("e")))
        .withColumn("scale",
          when(col("mx") > col("mn"), (col("mx") - col("mn")) / 255.0).otherwise(lit(1.0)))
        .withColumn("r",
          expr("transform(e, x -> mn + cast(round((x - mn) / scale, 0) as int) * scale)"))
        .withColumn("approx_cos", Similarity.cosine(col("r"), qLit))
        .withColumn("exact_cos", Similarity.cosine(col("e"), qLit))
      val candidates = scored
        .orderBy(col("approx_cos").desc, col("vec_id").asc).limit(30)
        .select("vec_id", "approx_cos", "exact_cos")
        .localCheckpoint(true) // consumed 3x below (top-k, err audit, count)
      val top = candidates
        .orderBy(col("exact_cos").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), round(col("exact_cos"), 4).as("cos_sim"))
        .localCheckpoint(true)
      val bf = Similarity.bruteForceTopK(embAll, query, k = 10)
        .select(col("vec_id"), col("cos_sim").as("bf_cos")).localCheckpoint(true)
      val recallHits = top.join(bf, Seq("vec_id"), "left_semi").count()
      val maxErr = candidates
        .agg(max(abs(col("approx_cos") - col("exact_cos")))).collect()(0).getDouble(0)
      bf.agg(max("bf_cos").as("bf_top1_cos"), min("bf_cos").as("bf_top10_min_cos"))
        .select(
          lit(top.count().toInt).as("k_returned"),
          col("bf_top1_cos"), col("bf_top10_min_cos"),
          lit(recallHits >= 5L).as("recall_ok"),
          lit(maxErr <= 0.05).as("approx_close"))
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           |  FROM embeddings WHERE vec_id = 0),
           |cos AS (SELECT vec_id,
           |    round(list_dot_product(embedding::DOUBLE[], qe)
           |      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           |         * sqrt(list_dot_product(qe, qe))), 4) AS c
           |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
           |top AS (SELECT c FROM cos ORDER BY c DESC, vec_id ASC LIMIT 10)
           |SELECT 10 AS k_returned, max(c) AS bf_top1_cos, min(c) AS bf_top10_min_cos,
           |  TRUE AS recall_ok, TRUE AS approx_close
           |FROM top""".stripMargin))

  def all: Seq[QuerySpec] = Seq(
    q143SourceOverlap, q146IvfPq,
    q21DedupExact, q22Fingerprint, q23TokenCount, q24TextQuality, q25LangId,
    q26MinHashSig, q27MinHashPairs, q28JaccardPairs, q29SimHash,
    q30AnnCosine, q31AnnLsh, q32EmbedNearDup, q33Multimodal, q51SimHashHamming,
    q52Curation, q80FrameSample, q86Components, q94Quantize, q95QuantizedAnn, q98FeatureHash,
    q101ClusterCuration, q104Chunking, q105Packing, q106Decontaminate,
    q108DecontaminateK, q110ComponentsStars, q111SemanticClusters,
    q114StreamDecontaminate, q115SpanDedup, q116PiiMask, q117MixingWeights,
    q118SpanScrub, q119QualityFilter, q120SourceCap, q121Repetition,
    q122Bm25, q123Winnowing, q125GroupSplit, q126LabelCohesion,
    q127WinnowingPairs, q128StreamCuration, q130WinnowingExtents,
    q131CurationFunnel, q139WeightedSample, q140BigramLm, q141EmbedCovariance)
}
