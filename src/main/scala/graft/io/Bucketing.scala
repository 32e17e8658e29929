package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-time bucketing for shuffle-free joins: two tables bucketed by
  * the same key into the same bucket count can be sort-merge-joined
  * with NO Exchange on either side — at 100 TB this turns the nightly
  * fact⋈fact join from a full two-sided shuffle into a zip of
  * pre-sorted buckets. (The run-time analogue of
  * [[SnapshotBucketedStore]]'s write-time key bucketing, but through
  * the session catalog, which is what lets Catalyst TRUST the layout
  * and elide the Exchange — a bare parquet directory can't promise
  * that.)
  *
  * Spark requires `bucketBy` writes to go through `saveAsTable`
  * (the bucket spec lives in catalog metadata, not the files), so this
  * helper manages catalog tables, not paths.
  */
object Bucketing {

  /** Save `df` as a catalog table bucketed (and sorted) by `key`. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      numBuckets: Int,
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key. With matching
    * bucket counts Catalyst plans SortMergeJoin with zero Exchange —
    * asserted in BucketingSpec, not just promised here. */
  def bucketedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String,
  ): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
