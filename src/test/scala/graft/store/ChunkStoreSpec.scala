package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import graft.SparkSpec
import graft.ingest.IngestPipeline

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ingestOne(path: String, user: String, text: String) =
    IngestPipeline.ingest(
      spark,
      Seq((path, user, text.getBytes(StandardCharsets.UTF_8))).toDF("path", "user", "content"),
      None)

  test("append/load/count round-trip with (user, source) partitioning") {
    val dir = tmpDir("store").toString + "/chunks"
    val b1 = ingestOne("/up/one.txt", "a@x.com", (1 to 300).map(i => s"w$i").mkString(" "))
    val b2 = ingestOne("/up/two.txt", "b@y.com", "short doc")
    ChunkStore.append(b1.chunks, dir)
    ChunkStore.append(b2.chunks, dir)
    val total = b1.chunks.count() + b2.chunks.count()
    assert(ChunkStore.count(spark, dir) == total)
    // partition columns survive the round-trip
    val loaded = ChunkStore.load(spark, dir)
    assert(loaded.columns.toSet.contains("user") && loaded.columns.toSet.contains("source"))
    val scoped = ChunkStore.userScoped(loaded, "a@x.com")
    assert(scoped.count() == b1.chunks.count())
    // the tenancy filter prunes directories, it does not filter rows
    val plan = scoped.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*\buser#""".r.findFirstIn(plan).isDefined, plan)
  }

  test("deleteBySource drops exactly that tenant's file and returns the count") {
    val dir = tmpDir("store").toString + "/chunks"
    val b1 = ingestOne("/up/keep.txt", "a@x.com", (1 to 300).map(i => s"k$i").mkString(" "))
    val b2 = ingestOne("/up/Drop.TXT", "a@x.com", (1 to 300).map(i => s"d$i").mkString(" "))
    // same filename, different tenant, different content — must survive
    val b3 = ingestOne("/up/drop.txt", "b@y.com", "other tenant same-named file")
    ChunkStore.append(b1.chunks, dir)
    ChunkStore.append(b2.chunks, dir)
    ChunkStore.append(b3.chunks, dir)
    val nDrop = b2.chunks.count()
    // mixed-case input resolves to the stored lowercase source
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "DROP.txt") == nDrop)
    assert(ChunkStore.count(spark, dir) == b1.chunks.count() + b3.chunks.count())
    // tenant B's same-named file is untouched
    assert(ChunkStore.userScoped(ChunkStore.load(spark, dir), "b@y.com").count() == 1)
    // unknown filename: 0 deleted ("No vectors found")
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "missing.txt") == 0L)
  }

  test("deleteBySource lists only the target directory, not the other tenants") {
    val dir = tmpDir("store").toString + "/chunks"
    val docs = (1 to 6).map { i =>
      ingestOne(s"/up/doc$i.txt", s"u$i@x.com", (1 to 200).map(j => s"t${i}_$j").mkString(" "))
    }
    docs.foreach(b => ChunkStore.append(b.chunks, dir))
    // a second append gives the target directory more than one data file
    ChunkStore.append(docs.head.chunks, dir)
    val nTarget = 2 * docs.head.chunks.count()
    val nKept = docs.tail.map(_.chunks.count()).sum

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val esc = ExternalCatalogUtils.escapePathName _
    val targetDir = new Path(dir, s"user=${esc("u1@x.com")}/source=doc1.txt")
    val targetFiles = fs.listStatus(targetDir).count(_.getPath.getName.endsWith(".parquet"))
    assert(targetFiles >= 2)

    val discovered0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    assert(ChunkStore.deleteBySource(spark, dir, "u1@x.com", "doc1.txt") == nTarget)
    // the counter is JVM-wide: a running stream would add its own listings
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - discovered0 == targetFiles,
      s"active streams: ${spark.streams.active.map(_.name).mkString(", ")}")
    assert(!fs.exists(targetDir))
    assert(ChunkStore.count(spark, dir) == nKept)
  }

  test("deleteBySource handles sources needing Hive partition escaping") {
    val dir = tmpDir("store").toString + "/chunks"
    val b = ingestOne("/up/100%done.txt", "a@x.com", "tricky partition name")
    ChunkStore.append(b.chunks, dir)
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "100%done.txt") == 1L)
    assert(ChunkStore.count(spark, dir) == 0L)
  }
}
