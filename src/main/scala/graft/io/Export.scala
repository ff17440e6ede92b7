package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Sampling

/** Training-data shard export: the file-layout step a pretraining run
  * reads. Documents are assigned to token-budget shards by
  * [[Sampling.tokenShards]] (deterministic, oracle-checked), written as
  * `shard=<k>/` partitions in the chosen format, and described by a
  * `manifest.json` (per-shard doc/token counts + totals) written last —
  * readers that require a complete export key off the manifest's
  * presence, the same written-last discipline as the streaming sinks.
  *
  * Scale shape: the assignment is the two-level prefix scan (nothing
  * single-reducer over documents); the write is one partitioned write
  * whose file parallelism follows the shard partitioning; the manifest
  * aggregation is shard-keyed (≤ total_tokens / tokensPerShard rows —
  * driver-bounded by the budget's own construction).
  */
object Export {

  /** Write `docs` as `format` files under `path/shard=<k>/` plus
    * `path/manifest.json`; returns the per-shard manifest as a DataFrame
    * (shard, docs, tokens). */
  def writeShards(spark: SparkSession, docs: DataFrame, path: String,
                  tokensPerShard: Long, format: String = "json"): DataFrame = {
    require(format == "json" || format == "parquet",
      s"Unsupported shard format: $format (supported: json, parquet)")
    val assigned = Sampling.tokenShards(docs, tokensPerShard)
    Tables.write(docs.join(assigned.select(col("doc_id"), col("shard")), Seq("doc_id")))
      .partitionBy("shard").mode("overwrite").format(format).save(path)
    val manifest = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("tokens"))
      .orderBy(col("shard"))
    // bounded by the shard count (total_tokens / tokensPerShard)
    val rows = manifest.collect()
    val body = rows.map(r =>
        s"""{"shard":${r.getLong(0)},"docs":${r.getLong(1)},"tokens":${r.getLong(2)}}""")
      .mkString(
        s"""{"tokens_per_shard":$tokensPerShard,"n_shards":${rows.length},"shards":[""",
        ",", "]}\n")
    // Hadoop FS, not java.nio: the shard data above goes wherever the
    // path's scheme points (hdfs://, s3a://, file:), and the
    // manifest-written-last completeness contract only holds if the
    // manifest lands on the SAME filesystem.
    val manifestPath = new Path(path, "manifest.json")
    val fs = manifestPath.getFileSystem(Tables.writeConf(spark))
    val out = fs.create(manifestPath, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    manifest
  }
}
