package graft

import graft.ext.{Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("cosine: identical=1, opposite=-1, orthogonal=0") {
    val df = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 5.0))).toDF("a", "b")
    val got = df.select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(1.0, -1.0, 0.0))
  }

  test("bruteForceTopK: finds planted nearest neighbor first, k rows, ordered") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f, 0.0f)), // nearest
      (2L, Seq(0.5f, 0.5f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 3).collect()
    assert(top.length === 3)
    assert(top(0).getAs[Long]("vec_id") === 1L)
    val sims = top.map(_.getAs[Double]("cos_sim"))
    assert(sims.toSeq === sims.sortBy(-_).toSeq)
    assert(!top.map(_.getAs[Long]("vec_id")).contains(0L)) // self excluded
  }

  test("LSH buckets: identical vectors same bucket; opposite vectors differ") {
    val vecs = Seq(
      (0L, Seq.fill(8)(1.0f)),
      (1L, Seq.fill(8)(1.0f)),
      (2L, Seq.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val b = Similarity.withLshBucket(vecs, numPlanes = 6, dims = 8)
      .select("vec_id", "lsh_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L) !== b(2L))
    assert(b(0L).length === 6)
  }

  test("lshCandidates surfaces the identical pair with cosine 1.0") {
    val vecs = Seq(
      (0L, Seq.fill(8)(1.0f)),
      (1L, Seq.fill(8)(1.0f)),
      (2L, Seq.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val cands = Similarity.lshCandidates(vecs, 6, 8, minCosine = 0.9)
      .select("id1", "id2", "cos_sim").collect()
    assert(cands.length === 1)
    assert((cands(0).getLong(0), cands(0).getLong(1)) === (0L, 1L))
    assert(cands(0).getDouble(2) === 1.0)
  }

  test("IVF ANN: nprobe search recalls most of brute-force top-k") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val query = emb.filter(col("vec_id") === 0)
    val qArr = query.select("embedding").collect()(0).getSeq[Float](0).toArray
    val exact = Similarity.bruteForceTopK(emb, query, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val index = graft.ext.Ivf.build(emb.filter(col("vec_id") =!= 0), numCells = 8)
    val approx = graft.ext.Ivf.search(spark, index, qArr, k = 10, nprobe = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.5, s"IVF recall $recall too low (got $approx vs $exact)")
    // full probe = exact: nprobe == numCells must recover everything
    val full = graft.ext.Ivf.search(spark, index, qArr, k = 10, nprobe = 8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(full === exact)
  }

  test("streaming IVF: assignCell matches the batch model prediction, batch and stream") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val index = graft.ext.Ivf.build(emb, numCells = 8)
    val centroids = index.model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    // batch: the pure-expression assignment equals KMeansModel.transform
    val viaExpr = emb.select(col("vec_id"),
        graft.ext.Ivf.assignCell(col("embedding"), centroids).as("cell"))
    val mismatches = viaExpr.alias("e")
      .join(index.assigned.select(col("vec_id"), col("cell").as("model_cell")), "vec_id")
      .filter(col("cell") =!= col("model_cell")).count()
    assert(mismatches === 0)
    // streaming: same expression inside a Structured Streaming plan yields
    // the same assignment for every vector (stream run to completion)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .format("parquet").option("pathGlobFilter", "embeddings.parquet").load(dir)
    val streamed = graft.streaming.EventsPipeline.runToMemoryTable(
      spark,
      stream.select(col("vec_id"),
        graft.ext.Ivf.assignCell(col("embedding"), centroids).as("cell")),
      "ivf_assign_spec", org.apache.spark.sql.streaming.OutputMode.Append())
    val streamMap = streamed.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchMap = viaExpr.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamMap === batchMap)
  }

  test("IVF persistence: save/load round-trips and probes prune partitions") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qArr = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val index = graft.ext.Ivf.build(emb.filter(col("vec_id") =!= 0), numCells = 8)
    val path = Fixture.dir()
    graft.ext.Ivf.save(index, path)
    val loaded = graft.ext.Ivf.load(spark, path)
    // loaded search = in-memory search, row for row
    val mem = graft.ext.Ivf.search(spark, index, qArr, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val disk = graft.ext.Ivf.search(spark, loaded, qArr, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(disk === mem)
    // the probe reads only the probed cells: partition pruning, not data filter
    val probed = graft.ext.Ivf.search(spark, loaded, qArr, k = 10, nprobe = 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import graft.streaming.EventsPipeline
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val dir = Fixture.dir()
    Seq((1L, at(0), 1L, "click", 1.0), (1L, at(1), 1L, "click", 1.0), // dup id
        (2L, at(2), 1L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(dir)
    val q = EventsPipeline.dedupStream(stream).writeStream
      .outputMode("append").format("memory").queryName("spec_dedup").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("spec_dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("multimodal: stub decode batch plumbing produces typed features") {
    val docs = Seq((10L, "hello world", "en", "src1", 11L), (11L, "abc", "en", "src1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.fromDocuments(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    val feats = Multimodal.extractFeatures(spark, media, batchSize = 1).collect()
    assert(feats.length === 2)
    val f = feats.find(_.media_id == 10L).get
    assert(f.payload_len === 11)
    assert(f.feature.length === 8)
    assert(f.frame_hash === "hello world".getBytes.map(b => f"$b%02x").mkString)
    // deterministic: same payload -> same features
    val again = Multimodal.extractFeatures(spark, media, batchSize = 64).collect()
      .find(_.media_id == 10L).get
    assert(again.feature.toSeq === f.feature.toSeq)
  }
}
