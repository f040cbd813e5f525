package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized per-corpus document index shared by the dedup families:
  * the shingle set per document, written once as parquet and read back.
  *
  * Why: the shingle transform is a per-element lambda over every token
  * (interpreted), and the Jaccard self-join references the shingle relation
  * three times (both join branches + the size table) — without
  * materialization Spark recomputes the extraction per reference. Indexing
  * once is also the corpus-scale shape: a 100 TB dedup pass writes the
  * inverted index / signature tables once (bucketed by shingle hash) and
  * every downstream family (Jaccard join, MinHash banding, SimHash
  * fingerprints) reuses them across runs.
  */
object DocIndex {

  /** (doc_id, sh: array<string>) — distinct 3-gram shingles per doc. */
  def build(spark: SparkSession, dir: String): DataFrame =
    Dedup.withShingles(Tables.documents(spark, dir))
      .select(col("doc_id"), col("sh"))

  def forDir(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-docidx", dir)(build(spark, dir))
}
