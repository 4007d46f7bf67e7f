package graft.rag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VectorOps
import graft.functions.Embedder

/** The retrieval-augmented-generation flow — the reference's `/chat` route
  * (/root/reference/app.py:395-449) re-expressed as one declarative plan:
  * embed question → tenant filter → score → exact top-k → ordered context
  * assembly → prompt. The LLM completion itself (Groq call, app.py:423-430)
  * is an external service boundary and stays outside the engine; `prompt`
  * is the engine's final product.
  *
  * Scale notes: the query vector is a broadcast literal, so scoring is a
  * map-only pass over the (partition-pruned, user-scoped) store scan, and
  * top-k plans as TakeOrderedAndProject — per-partition heaps, k rows to
  * the driver, no global sort.
  */
object Rag {

  val DefaultK = 13 // the reference's retrieval fan-out (app.py:409)

  /** Exact top-k retrieval for one question, scoped to `user` (fixing the
    * reference's global, cross-tenant search — SURVEY.md §2.1 Q1). */
  def retrieve(store: DataFrame, question: String, user: String, k: Int = DefaultK,
      dim: Int = Embedder.DefaultDim): DataFrame = {
    val qVec = Embedder.embed(question, dim)
    val qCol = lit(qVec) // literal array → broadcast with the plan, no join
    store
      .filter(col("user") === user)
      .withColumn("dist", VectorOps.squaredL2(col("embedding"), qCol))
      .orderBy(col("dist").asc, col("chunk_id").asc)
      .limit(k)
  }

  /** Join the retrieved chunk texts in rank order with blank lines — the
    * reference's context assembly (app.py:410). Driver-side: k rows. */
  def contextOf(retrieved: DataFrame): String =
    retrieved.select(col("text")).collect().map(_.getString(0)).mkString("\n\n")

  /** Grounded prompt template (reference app.py:412-421: answer only from
    * context, else say you don't know). */
  def prompt(question: String, context: String): String =
    s"""Use ONLY the context below to answer. If the context does not
       |contain the answer, reply "I don't know".
       |
       |Context:
       |$context
       |
       |Question: $question
       |Answer:""".stripMargin

  /** Full chat turn minus the external LLM call. */
  def ask(store: DataFrame, question: String, user: String, k: Int = DefaultK): String =
    prompt(question, contextOf(retrieve(store, question, user, k)))
}
