package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The cell store's bucket key — the SURVEY §1.4 "index" on plain
  * parquet: the compact-index role of the reference's mmap file
  * (cell-ordered feature blocks,
  * /root/reference/src/diagonal.works/b6/ingest/compact/build.go:150-628)
  * maps to cell-sorted files whose manifest entries hold [min, max, rows]
  * per S2 cell-id PREFIX bucket (an id prefix is exactly a cell-range
  * predicate, so a spatial query's covering ranges become a bucket set),
  * consulted before any file is opened. Storage (one manifest format,
  * one `image_id` key, one `cell16` cell column), commits, stats and
  * pruned reads live in [[SnapshotStore]]; the two members below forward
  * to its HEAD.
  */
object CellStore {

  val PrefixBits = 8 // bucket = top 8 bits of the cell id (face + 5 levels)

  def bucketOf(cell: Long): Long = cell >>> (64 - PrefixBits)

  final case class BucketStat(bucket: Long, cellMin: Long, cellMax: Long, rows: Long)

  /** [[SnapshotStore.overwrite]]: the next version holds exactly `df`,
    * which has the store's `image_id` and `cell16` columns. */
  def write(df: DataFrame, dir: String): Int =
    SnapshotStore.overwrite(df.sparkSession, df, dir)

  /** HEAD's per-bucket stats, aggregated from its manifest's file entries. */
  def stats(spark: SparkSession, dir: String): Seq[BucketStat] =
    SnapshotStore.headManifest(spark, dir).stats
}
