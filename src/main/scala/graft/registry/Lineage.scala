package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-lineage utilities — the Spark analog of the reference's fetch
  * stage bookkeeping (pipelines/fetch.py: SHA256 checksums, dated
  * snapshot directories, version metadata; api.py:65 data-age checks).
  * The network download itself is environment-provided; what the
  * engine owns is verifiable lineage over whatever landed.
  */
object Lineage {

  /** Per-file SHA256 + size manifest over a snapshot directory,
    * computed distributed via the binaryFile source (each file hashed
    * on an executor — no driver-side IO). */
  def checksums(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").load(s"$dir/$glob")
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        sha2(col("content"), 256).as("sha256"),
        col("length").as("bytes"))
      .orderBy("file")

  /** ONE aggregated checksum per table — the reference manifest's
    * per-dataset checksum (fetch.py), not a part-file listing: a
    * table written as N part files and the same table written as one
    * file with identical content order hash differently only if the
    * bytes differ. Computed distributed: per-file sha256 on the
    * executors, then sha256 over the file hashes sorted by file name
    * (deterministic regardless of listing order). Columns:
    * (table, sha256, n_files, bytes).
    *
    * Note binaryFile caps a single file at 2 GB — fine for Spark
    * part-files (sized by maxPartitionBytes), not for one giant
    * hand-rolled file; split such inputs before manifesting. */
  def tableChecksums(
      spark: SparkSession,
      dir: String,
      tables: Seq[String]): DataFrame =
    tables.map { t =>
      spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(s"$dir/$t.parquet")
        .select(col("path"), sha2(col("content"), 256).as("h"),
          col("length"))
        .agg(
          sha2(concat_ws("", transform(
            array_sort(collect_list(struct(col("path"), col("h")))),
            s => s.getField("h"))), 256).as("sha256"),
          count(lit(1)).as("n_files"),
          sum(col("length")).as("bytes"))
        .select(lit(t).as("table_name"), col("sha256"), col("n_files"),
          col("bytes"))
    }.reduce(_ unionAll _)

  /** Write a snapshot manifest (per-table aggregated checksums + row
    * counts + per-file checksums + snapshot date) as single-file JSON
    * under `_meta/` — the normalize.json / publish.json equivalent
    * (pipelines/normalize.py:407-426). */
  def writeManifest(
      spark: SparkSession,
      publishDir: String,
      tables: Seq[String],
      snapshotDate: String): Unit = {
    // row counts from parquet footers: a driver-side metadata read,
    // not an inference job plus a count job per table
    val counts = tables.map { t =>
      val n = graft.operators.ExactDistinct
        .parquetRowCount(spark, s"$publishDir/$t.parquet")
      s""""$t": $n"""
    }.mkString(", ")
    // ONE distributed hash pass over the published files; both the
    // per-file listing and the per-table rollup derive from it (a
    // separate tableChecksums + checksums call would read and sha256
    // every byte twice). The rollup stays byte-identical to
    // [[tableChecksums]]: sha256 over the per-file hex hashes sorted
    // by path (LineageSpec asserts the parity).
    val perFile = tables.map { t =>
      spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(s"$publishDir/$t.parquet")
        .select(lit(t).as("t"), col("path"),
          sha2(col("content"), 256).as("h"), col("length"))
    }.reduce(_ unionAll _).collect()
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val perTable = tables.map { t =>
      val rows = perFile.filter(_.getString(0) == t).sortBy(_.getString(1))
      val agg = hex(java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.map(_.getString(2)).mkString.getBytes("UTF-8")))
      s""""$t": {"sha256": "$agg", "n_files": ${rows.length}, "bytes": ${rows.map(_.getLong(3)).sum}}"""
    }.mkString("{", ", ", "}")
    val files = perFile
      .map(r => (r.getString(1).replaceAll(".*/", ""), r.getString(2),
        r.getLong(3)))
      .sortBy(_._1)
      .map { case (f, h, b) =>
        s"""{"file": "$f", "sha256": "$h", "bytes": $b}""" }
      .mkString("[", ", ", "]")
    val json =
      s"""{"snapshot_date": "$snapshotDate", "row_counts": {$counts}, "tables": $perTable, "files": $files}"""
    val metaDir = new java.io.File(s"$publishDir/_meta")
    metaDir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$publishDir/_meta/manifest.json"), json)
  }

  /** Snapshot age in days against a reference date (api.py:65-78). */
  def ageDays(snapshotDate: String, asOf: java.time.LocalDate): Long =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(snapshotDate), asOf)
}
