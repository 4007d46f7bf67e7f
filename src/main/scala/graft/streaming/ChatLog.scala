package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The chat log as a streaming pipeline — the reference's append-only
  * history write (/root/reference/app.py:436-443) carried end-to-end on
  * Structured Streaming instead of ad-hoc batch appends.
  *
  * Shape: each chat turn lands as a small parquet file in a landing
  * directory (the producer side is a plain durable write — cheap, atomic
  * per turn); a file-source stream relays landing → canonical log through
  * [[Streams.appendSink]]. The relay's checkpoint records which landing
  * files are committed, so restarts replay nothing and lose nothing —
  * exactly-once into the canonical log without any dedup pass. This is
  * the same landing/relay design as [[StreamingIngest]], so the two
  * stream-like structures of the reference share one idiom.
  *
  * 100 TB note: the canonical log inherits appendSink's parquet layout;
  * a production deployment would leave the relay running continuously
  * (micro-batches amortize the per-file overhead) and periodically rewrite
  * the log's small files into fewer large ones. The facade flushes per turn
  * only to give read-your-write semantics under test.
  */
object ChatLog {

  val schema = Encoders.product[Streams.ChatRecord].schema

  def landingDir(logDir: String): String = logDir + ".landing"
  def checkpointDir(logDir: String): String = logDir + ".checkpoint"

  /** Relay query name, unique per log directory: engines over different
    * logs coexist in one session, while a second relay over the SAME log
    * is still rejected by the streaming manager's name check (two relays
    * sharing a checkpoint would corrupt it). The full path is embedded
    * VERBATIM, not hashed or sanitized: Engine resolves its running relay
    * by this name, so the name→dir mapping must be injective — a 32-bit
    * hash collision (or two paths sanitizing identically) would silently
    * adopt another directory's relay and strand this log's turns in its
    * landing dir. */
  def relayName(logDir: String): String = "chat-log-relay:" + logDir

  /** Durably land one chat turn (producer side; no streaming machinery on
    * this path — a turn is visible to the relay as soon as the file
    * exists). */
  def append(spark: SparkSession, logDir: String, user: String, question: String,
      answer: String, tsMicros: Long): Unit = {
    import spark.implicits._
    Seq((tsMicros, user, question, answer))
      .toDF("ts_us", "user", "question", "answer")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("user"),
        col("question"), col("answer"))
      .write.mode("append").parquet(landingDir(logDir))
  }

  /** Start (or resume, if the checkpoint exists) the landing → log relay.
    * Safe to call across process restarts: committed landing files are
    * skipped, uncommitted ones are picked up. */
  def relay(spark: SparkSession, logDir: String): StreamingQuery =
    Streams.appendSink(
      spark.readStream.schema(schema).parquet(landingDir(logDir)),
      logDir, checkpointDir(logDir), queryName = relayName(logDir))

  /** The canonical log (relay output). */
  def read(spark: SparkSession, logDir: String): DataFrame =
    spark.read.schema(schema).parquet(logDir)
}
