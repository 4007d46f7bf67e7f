package graft.store

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Persistent chunk store — the engine's durable table, replacing the
  * reference's Chroma collection (/root/reference/app.py:70-79). Parquet,
  * partitioned by (user, source): `user` gives row-level tenancy pruning
  * for retrieval (fixing the cross-user leakage of app.py:409 — SURVEY.md
  * X5), and `source` turns delete-by-filename into a partition drop — the
  * reference's delete fetches the WHOLE collection to the client and
  * filters in Python (multiple_document_upload.py:182-189); here it reads
  * only the one directory it drops.
  *
  * Upgrade path to in-place mutation (tombstones, upserts) is a
  * Delta/Iceberg table format — out of scope per SURVEY.md §7.4 risk 6.
  */
object ChunkStore {

  /** Append chunk rows (schema from ChunkRow) to the store. First write
    * creates the store — the reference's create-or-append branch at
    * multiple_document_upload.py:161-168 is `mode("append")` semantics for
    * free. */
  def append(chunks: DataFrame, path: String): Unit =
    chunks.write.mode("append").partitionBy("user", "source").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)

  /** True when the store has no data: missing directory OR a directory
    * with no parquet files left — the delete-everything state (only
    * _SUCCESS markers remain) would otherwise pass the existence check
    * and then fail schema inference inside load(). Short-circuits on the
    * first data file found. */
  def isEmpty(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return true
    val it = fs.listFiles(new Path(path), true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return false
    }
    true
  }

  /** Collection count (reference startup log, app.py:79). A store whose
    * partitions were all deleted has no data files to infer a schema from —
    * that is simply count 0. */
  def count(spark: SparkSession, path: String): Long =
    if (isEmpty(spark, path)) 0L
    else try load(spark, path).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** Mandatory tenancy filter for retrieval (SURVEY.md X5): partition
    * pruning makes this a directory-level skip, not a row scan. */
  def userScoped(store: DataFrame, user: String): DataFrame =
    store.filter(col("user") === user)

  /** Delete every chunk of `source` (lowercased filename) owned by `user` —
    * the reference's delete-by-filename (multiple_document_upload.py:178-200)
    * as a partition drop, tenant-scoped: the reference's delete is global
    * only because its whole store is global; with per-user retrieval a
    * same-named file of another tenant must survive. Only the target
    * directory is listed and counted, never the rest of the store.
    * Partition values are Hive-escaped exactly as Spark wrote them (a
    * literal `source=<raw>` path would miss any filename containing %, #,
    * = …). Returns the number of deleted rows (0 = the reference's "No
    * vectors found"). */
  def deleteBySource(spark: SparkSession, path: String, user: String, source: String): Long = {
    val esc = ExternalCatalogUtils.escapePathName _
    val srcDir = new Path(path, s"user=${esc(user)}/source=${esc(source.toLowerCase)}")
    if (isEmpty(spark, srcDir.toString)) return 0L
    val n = spark.read.parquet(srcDir.toString).count()
    srcDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(srcDir, true)
    n
  }
}
