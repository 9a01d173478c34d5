package graft.ext

import graft.functions.{MinHashSignature, SimHashBits}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus cleaning.
  *
  * Scale design: every variant reduces to hash → shuffle-on-hash → per-group
  * resolution, the canonical distributed dedup shape. Nothing collects to the
  * driver; candidate generation is banded so the pairwise verification join
  * only sees documents that share a band bucket (LSH), never the full O(n²)
  * cross product.
  */
object Dedup {

  /** Exact dedup: group by normalized-text fingerprint, keep the lowest id.
    * One shuffle on the 128-bit fingerprint; group sizes are near-1 so no
    * skew handling needed (pathological all-identical corpora would salt). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normText(col(textCol))).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: K independent hash views of the shingle set; the
    * minimum of hash_k over shingles estimates Jaccard similarity
    * (Broder '97). Pure narrow projection — HOF lambdas, no shuffle. */
  def withMinHash(df: DataFrame, textCol: String, numHashes: Int, shingleN: Int): DataFrame = {
    ensureParallelism(df).withColumn("toks", tokens(normText(col(textCol))))
      .withColumn("shingles", shingleSql("toks", shingleN))
      .withColumn("sig", MinHashSignature(col("shingles"), numHashes))
      .drop("toks", "shingles")
  }

  /** LSH banding: split the K-length signature into bands of `rowsPerBand`;
    * docs sharing any band hash are near-dup candidates. Probability a pair
    * with Jaccard j collides: 1-(1-j^r)^b — the (r,b) choice tunes the
    * similarity threshold. Returns one row per (doc, band). */
  def bandHashes(sigDf: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    // Fixed per-band columns built in Scala (band count is known), hashed
    // with codegen'd xxhash64 over the raw longs. The earlier
    // transform()+md5(concat_ws(...)) HOF form evaluated INTERPRETED and
    // allocated strings per band — 6× slower at 5k docs (see ROUND_NOTES:
    // HOF lambdas fall out of whole-stage codegen). The hash value is only
    // ever compared for bucket equality, so the function choice doesn't
    // affect any result — equal signature slices ⇔ equal hashes.
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(i => col("sig").getItem(b * rowsPerBand + i))
      struct(lit(b).as("band_id"), xxhash64(slice: _*).as("band_hash"))
    }
    sigDf.withColumn("band", explode(array(bandStructs: _*)))
      .select(col("*"), col("band.band_id"), col("band.band_hash"))
      .drop("band")
  }

  /** Candidate pairs: self-join on (band_id, band_hash), i.e. a shuffle
    * co-partitioned on the bucket key — each bucket joins locally. The
    * id1 < id2 guard halves the output and kills self-pairs. */
  def candidatePairs(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.select(col(idCol).as("id1"), col("band_id"), col("band_hash"))
    val b = banded.select(col(idCol).as("id2"), col("band_id"), col("band_hash"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact token-set Jaccard between two token-array columns (the verify
    * step after LSH candidate generation). Set semantics: distinct both
    * sides; |A∪B| as |A|+|B|-|A∩B| to avoid a second array op.
    *
    * Measured note: a hand-written single-pass HashSet expression was tried
    * here and ran ~1.4× SLOWER at 2M candidate pairs — Catalyst's
    * ArrayDistinct/ArrayIntersect use specialized SQLOpenHashSets over
    * unsafe arrays that beat generic JVM sets. Composition wins. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da) + size(db) - inter)
  }

  /** End-to-end MinHash-LSH near-duplicate detection: signature → bands →
    * bucket self-join → exact shingle-Jaccard verification.
    *
    * The signature/shingle frame is persisted before the self-join —
    * without it Catalyst duplicates the whole shingle+minhash subtree into
    * BOTH join branches (and again for the verify join), turning one pass
    * over the corpus into four. At cluster scale the same role is played by
    * checkpointing signatures to storage; signatures are ~numHashes longs
    * per doc, a ~1000× reduction over the corpus itself.
    *
    * The result is materialized (and persisted) before returning so the
    * internal signature cache can be released immediately — repeated calls
    * in a long-lived session don't accumulate cached blocks. Callers should
    * `unpersist()` the RETURNED frame once consumed; it is tiny (one row
    * per verified near-dup pair) compared to the signature frame. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleN: Int, minJaccard: Double): DataFrame = {
    // ONE normalize→tokenize→shingle pass: the signature is derived from
    // the SAME shingle column the verify step keeps. (The previous
    // withMinHash composition recomputed toks+shingles for the verify
    // column — the normalize/tokenize/shingle chain is the dominant
    // per-row CPU of the whole pipeline and was paid twice; q110's
    // profile showed it as a single 16.7 s-of-task-time job. Same
    // expressions, same inputs ⇒ identical sig and sh values.)
    val sig = ensureParallelism(df.select(col(idCol), col(textCol)))
      .withColumn("toks", tokens(normText(col(textCol))))
      .withColumn("sh", shingleSql("toks", shingleN))
      .select(col(idCol), MinHashSignature(col("sh"), numHashes).as("sig"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = bandHashes(sig.select(col(idCol), col("sig")), numHashes, rowsPerBand)
        .select(col(idCol), col("band_id"), col("band_hash"))
      val pairs = candidatePairs(banded, idCol)
      val out = pairs
        .join(sig.select(col(idCol).as("id1"), col("sh").as("sh1")), Seq("id1"))
        .join(sig.select(col(idCol).as("id2"), col("sh").as("sh2")), Seq("id2"))
        .select(col("id1"), col("id2"), graft.functions.roundStable(jaccard(col("sh1"), col("sh2")), 4).as("jaccard"))
        .filter(col("jaccard") >= minJaccard)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize while sig is still cached
      out
    } finally sig.unpersist(blocking = false)
  }


  /** Near-duplicate CLUSTERS: connected components over the near-dup pair
    * graph. Pair output is O(k²) per k-sized duplicate group (a 20-copy
    * document yields 190 pairs); cluster output is O(k) — the form a dedup
    * pipeline actually consumes ("keep cluster_id == doc_id, drop the rest").
    *
    * Components run via [[graft.operators.Graph.connectedComponents]]
    * (Large-Star/Small-Star edge rewriting): each round shuffles only the
    * (shrinking) EDGE set, and it converges in O(log n) rounds regardless
    * of diameter. Rounds run only until the edge set fits under
    * [[graft.operators.Graph.LocalFinishEdges]]; union-find on the driver
    * finishes from there, so a pair graph that small runs no round at all.
    * `maxIters` bounds the rounds: running out over the bound throws.
    * q86 and q101 run this path against recursive-CTE oracles; q110 runs
    * the distributed rounds alone against q86's oracle. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleN: Int, minJaccard: Double,
      maxIters: Int = 20): DataFrame = {
    // nearDupPairs returns an already-persisted, already-materialized frame
    val pairs = nearDupPairs(df, idCol, textCol, numHashes, rowsPerBand, shingleN, minJaccard)
    try {
      graft.operators.Graph.connectedComponents(
        df.select(col(idCol).as("id")),
        pairs.select(col("id1").as("src"), col("id2").as("dst")),
        maxIters)
    } finally pairs.unpersist(blocking = false)
  }

  /** SimHash (Charikar '02): 60-bit signature where bit j is the sign of
    * sum over tokens of ±1 according to bit j of the token hash. Near-dups
    * differ in few bits (small Hamming distance). Implemented as a single
    * HOF fold over the token array — narrow, no explode, no shuffle. */
  def withSimHash(df: DataFrame, textCol: String, bits: Int = 60): DataFrame =
    ensureParallelism(df)
      .withColumn("simhash", SimHashBits(tokens(normText(col(textCol))), bits))
}
