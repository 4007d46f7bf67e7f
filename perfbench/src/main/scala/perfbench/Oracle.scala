package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions.col

import graft.functions.Embedder
import graft.rag.Rag

/** Independent exact top-k for the recall check. It reads the tenant's
  * chunk files straight from the store directory, ranks every chunk by
  * squared L2 distance to `Embedder.embed(question)` (accumulated in
  * double, ties broken on chunk_id) and keeps the best `k`. The engine's
  * retrieval plan is not used, so a wrong index, cache or tenant filter
  * shows as recall below 1. */
final class Oracle(spark: SparkSession, storeDir: String, k: Int = Rag.DefaultK) {
  import spark.implicits._

  private val vectors = scala.collection.mutable.Map.empty[String, (Array[Long], Array[Array[Float]])]

  def tenantDir(user: String): String = s"$storeDir/user=${escapePathName(user)}"

  /** Forget a tenant's cached vectors after a write to it. */
  def invalidate(user: String): Unit = vectors.remove(user)

  private def storeHasData: Boolean = {
    val p = java.nio.file.Paths.get(storeDir)
    java.nio.file.Files.isDirectory(p) && {
      val s = java.nio.file.Files.walk(p)
      try s.anyMatch(f => f.toString.endsWith(".parquet")) finally s.close()
    }
  }

  /** Vectors of every tenant not cached yet, in one scan of the store. */
  private def load(users: Seq[String]): Unit = {
    val missing = users.distinct.filterNot(vectors.contains)
    if (missing.nonEmpty) {
      val rows =
        if (!storeHasData) Array.empty[(String, Long, Array[Float])]
        else spark.read.parquet(storeDir).filter(col("user").isin(missing: _*))
          .select(col("user"), col("chunk_id"), col("embedding"))
          .as[(String, Long, Array[Float])].collect()
      val byUser = rows.groupBy(_._1)
      missing.foreach { u =>
        val rs = byUser.getOrElse(u, Array.empty)
        vectors(u) = (rs.map(_._2), rs.map(_._3))
      }
    }
  }

  private def topIds(user: String, question: String): Seq[Long] = {
    val (ids, embs) = vectors(user)
    val q = Embedder.embed(question)
    val dist = embs.map { e =>
      var s = 0.0
      var i = 0
      while (i < q.length) { val d = e(i).toDouble - q(i).toDouble; s += d * d; i += 1 }
      s
    }
    ids.indices.sortBy(i => (dist(i), ids(i))).take(k).map(ids)
  }

  /** Exact top-k chunk texts, in rank order, for each (user, question). */
  def topTexts(asks: Seq[(String, String)]): Seq[Seq[String]] = {
    load(asks.map(_._1))
    val ranked = asks.map { case (u, q) => topIds(u, q) }
    val wanted = ranked.flatten.distinct
    val text: Map[Long, String] =
      if (wanted.isEmpty) Map.empty
      else spark.read.parquet(storeDir)
        .filter(col("user").isin(asks.map(_._1).distinct: _*) && col("chunk_id").isin(wanted: _*))
        .select(col("chunk_id"), col("text")).as[(Long, String)].collect().toMap
    ranked.map(_.map(text))
  }
}

object Oracle {
  private val Marker = "\u0000"
  private lazy val (head, tail) = {
    val p = Rag.prompt("QUESTION", Marker)
    val i = p.indexOf(Marker)
    (p.substring(0, i), p.substring(i + Marker.length))
  }

  /** The context part of a prompt, or None when the prompt is not the
    * engine's template around this question. */
  def context(prompt: String, question: String): Option[String] = {
    val h = head
    val t = tail.replace("QUESTION", question)
    if (prompt.startsWith(h) && prompt.endsWith(t) && prompt.length >= h.length + t.length)
      Some(prompt.substring(h.length, prompt.length - t.length))
    else None
  }

  /** Share of the exact top-k texts that the prompt's context contains
    * (1.0 when the tenant has no chunks and the context is empty). */
  def recall(context: String, exact: Seq[String]): Double =
    if (exact.isEmpty) (if (context.isEmpty) 1.0 else 0.0)
    else exact.count(t => context.contains(t)).toDouble / exact.size
}
