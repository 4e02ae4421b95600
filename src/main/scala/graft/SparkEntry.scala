package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

import graft.app.EntryQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full index path — build the segmented inverted index over
    * the sf0.001 documents table (Iceberg-style snapshots, compressed posting
    * blocks), then run a block-max-WAND BM25 top-10. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs =
      GraftParquet.read(spark, "/root/testdata/sf0.001/documents.parquet")
    val pages = docs.select(
      format_string("doc%08d", $"doc_id").as("url"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("warc_ts"),
      encode($"text", "UTF-8").as("html"),
      $"text", $"lang")
      .as[graft.corpus.Page]
    val root = java.nio.file.Files.createTempDirectory("graft-entry-").toString
    new graft.index.IndexBuilder(spark, root,
      graft.index.IndexConfig(blockSize = 64, docsPerSegment = 128,
        partitions = 8)).build(pages)
    new graft.query.QueryEngine(spark, root).searchDf("spark window the", 10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EntryQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Every query has a full value oracle: the hash-based
    * ops (minhash_pairs, simhash, ann_lsh_neardup) use the PolyHash /
    * literal-plane schemes the DuckDB SQL reproduces exactly.
    */
  def oracleSql: Map[String, String] = EntryQueries.oracleSql
}
