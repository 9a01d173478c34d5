package graft.operators

import org.apache.spark.sql.SparkSession

/** Runtime bloom-filter join pruning (Spark's `InjectRuntimeFilter`).
  *
  * At 100 TB, the dominant cost of `fact JOIN filtered_dim` is shuffling the
  * fact side — including every fact row whose key the filtered dim side will
  * drop anyway. Spark can inject a bloom filter built from the dim side's
  * join keys as a pre-shuffle filter on the fact scan
  * (`might_contain(bloom_filter_agg(...))`), discarding non-joining rows
  * BEFORE the exchange. With a selective dim filter this routinely removes
  * >90% of the shuffle volume for the cost of one tiny aggregate.
  *
  * The feature is on by default but gated by size thresholds estimated from
  * catalog stats: creation side under
  * `spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold` (10 MB)
  * and application side over
  * `...applicationSideScanSizeThreshold` (10 GB). On a production cluster
  * those defaults are what you want — this object exists to (a) document the
  * contract and (b) lower the application-side threshold in tests/benches so
  * local-scale plans are shaped exactly like 100 TB plans (the spec asserts
  * `might_contain` lands in the plan and results are unchanged).
  */
object RuntimeFilters {

  /** Make runtime bloom filters fire at test scale: any-size application
    * side, generous creation side. Production sessions should NOT call this
    * — the stock thresholds already fire exactly when profitable. Call it
    * on a private session (`newSession()`): the confs stay set for the
    * session's life. */
  def enableAtAnyScale(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
  }
}
