package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.lit

import graft.api.Engine
import graft.auth.Jwt
import graft.functions.Embedder
import graft.ingest.{Chunker, IngestPipeline}
import graft.rag.Rag
import graft.store.ChunkStore
import graft.streaming.ChatLog

/** The traced run. Each operation is replayed through the public functions
  * of the modules `Engine` composes, in the order `Engine` calls them, with
  * a span around every call; the replica's answer is compared with the
  * facade's answer for the same inputs, so a facade that stops matching
  * its replica fails the run instead of mis-attributing time. */
final class Traced(b: Bench) extends Ops {
  private val spark = b.spark
  private val spans = new Spans
  private val work = new SparkWork(spark.sparkContext)

  import Traced.OpCost
  private val costs = Map("chat" -> ArrayBuffer.empty[OpCost],
    "upload" -> ArrayBuffer.empty[OpCost], "delete" -> ArrayBuffer.empty[OpCost])
  private val filesDiscovered = ArrayBuffer.empty[Long]
  private val listingJobs = ArrayBuffer.empty[Long]
  private val scanPerResult = ArrayBuffer.empty[Double]
  private val untracedChat = ArrayBuffer.empty[Double]

  /** Run one traced operation: Spark work and GC deltas around it, its
    * root-span time recorded as the operation's latency. */
  private def traced[A](op: String)(f: => A): Option[A] = {
    b.attempted += 1
    val (j0, t0, m0) = work.snapshot()
    val g0 = Jvm.gcMs()
    val r = try Some(spans.op(op)(f)) catch {
      case NonFatal(e) => b.fail(s"traced $op threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
    val g1 = Jvm.gcMs()
    val (j1, t1, m1) = work.snapshot()
    if (r.isDefined) {
      costs(op) += OpCost(j1 - j0, t1 - t0, m1 - m0, g1 - g0)
      b.lat(op) += spans.all.last.ms
    }
    r
  }

  private def verify(token: String): String =
    spans.span("auth.verify")(Jwt.verify(token, b.secret, b.clock)) match {
      case Right(u) => u
      case Left(e) => throw new IllegalStateException(s"token refused: $e")
    }

  private def relay() =
    spark.streams.active.find(_.name == ChatLog.relayName(b.chatDir))
      .getOrElse(ChatLog.relay(spark, b.chatDir))

  // ---------------------------------------------------------------- chat

  def chat(t: Int, q: String): Option[String] = {
    val fd0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val lj0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val p = traced("chat") {
      val user = verify(b.tokens(t))
      val prompt =
        if (spans.span("store.is_empty")(ChunkStore.isEmpty(spark, b.storeDir))) Rag.prompt(q, "")
        else {
          val store = spans.span("store.load")(ChunkStore.load(spark, b.storeDir))
          Rag.prompt(q, spans.span("rag.retrieve")(Rag.contextOf(Rag.retrieve(store, q, user))))
        }
      spans.span("streaming.chatlog_append")(
        ChatLog.append(spark, b.chatDir, user, q, prompt, b.clock * 1000000L))
      spans.span("streaming.relay_flush")(relay().processAllAvailable())
      prompt
    }
    if (p.isDefined) {
      filesDiscovered += HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - fd0
      listingJobs += HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - lj0
    }
    p.foreach { prompt =>
      // the same request through the facade, right after: its latency is
      // the untraced pair of this traced chat
      val t0 = System.nanoTime()
      val facade = try b.engine.chat(b.tokens(t), q) catch { case NonFatal(e) => Left(e) }
      untracedChat += (System.nanoTime() - t0) / 1e6
      if (facade != Right(prompt)) b.fail(s"traced chat differs from Engine.chat for tenant $t")
      if (scanPerResult.size < 3) {
        val r = Rag.retrieve(ChunkStore.load(spark, b.storeDir), q, b.user(t))
        val n = r.collect().length
        if (n > 0) scanPerResult += PlanRows.scanned(r.queryExecution.executedPlan).toDouble / n
      }
    }
    p
  }

  // -------------------------------------------------------------- upload

  private var twin: Option[(Engine, Path)] = None
  private var uploadCompared = false
  private var deleteCompared = false

  /** A copy of the store with an engine of its own: the facade runs there
    * on the same inputs as the replica, from the same state. */
  private def twinEngine(): Engine = twin.map(_._1).getOrElse {
    val dir = Paths.get(b.storeDir).resolveSibling("twin")
    copyTree(Paths.get(b.storeDir), dir.resolve("store"))
    val e = new Engine(spark, dir.resolve("store").toString, dir.resolve("chat").toString,
      b.secret, () => b.clock)
    twin = Some((e, dir))
    e
  }

  private def dropTwinWhenDone(): Unit =
    if (uploadCompared && deleteCompared) twin.foreach { case (_, dir) => deleteTree(dir); twin = None }

  def upload(t: Int, batch: Seq[Planned]): Unit = {
    val files = batch.map(p => p.path -> p.bytes)
    val compare = if (uploadCompared) None else Some(twinEngine())
    val rows = traced("upload") {
      import spark.implicits._
      val user = verify(b.tokens(t))
      require(files.size <= Engine.MaxFilesPerUpload)
      val df = files.toDF("path", "content").withColumn("user", lit(user))
      val store =
        if (spans.span("store.is_empty")(ChunkStore.isEmpty(spark, b.storeDir))) None
        else Some(ChunkStore.userScoped(spans.span("store.load")(ChunkStore.load(spark, b.storeDir)), user))
      val (result, outcomes) = spans.span("ingest.pipeline") {
        val r = IngestPipeline.ingest(spark, df, store)
        (r, r.outcomes.collect())
      }
      try {
        if (outcomes.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
          spans.span("store.append")(ChunkStore.append(result.chunks, b.storeDir))
        spark.createDataFrame(spark.sparkContext.parallelize(outcomes.toIndexedSeq),
          result.outcomes.schema).collect()
      } finally result.release()
    }
    rows.foreach { rs =>
      b.checkUpload(t, batch, rs)
      compare.foreach { e =>
        uploadCompared = true
        val facade = e.upload(b.tokens(t), files).map(_.collect())
        if (facade.map(sorted) != Right(sorted(rs)))
          b.fail(s"traced upload outcome rows differ from Engine.upload for tenant $t")
        dropTwinWhenDone()
      }
    }
  }

  private def sorted(rows: Array[Row]): Seq[Seq[Any]] = rows.map(_.toSeq).sortBy(_.head.toString).toSeq

  // -------------------------------------------------------------- delete

  def delete(t: Int): Unit = {
    val compare = if (deleteCompared) None else Some(twinEngine())
    val (victim, expected) = b.planDelete(t)
    traced("delete") {
      val user = verify(b.tokens(t))
      spans.span("store.delete")(ChunkStore.deleteBySource(spark, b.storeDir, user, victim.name))
    }.foreach { n =>
      b.checkDelete(t, victim, expected, n)
      compare.foreach { e =>
        deleteCompared = true
        if (e.delete(b.tokens(t), victim.name) != Right(n))
          b.fail(s"traced delete count differs from Engine.delete for tenant $t")
        dropTwinWhenDone()
      }
    }
  }

  // ------------------------------------------------------------- the run

  /** Send the workload's chats until `seconds` of operation time. */
  private def loop(seconds: Double): Unit = {
    def opMs = b.lat.values.map(_.sum).sum
    val start = opMs
    // failed chats add no latency: the wall-clock cap ends a failing loop
    val deadline = System.nanoTime() + (4 * seconds * 1e9).toLong
    val asked = ArrayBuffer.empty[(Int, String, String)]
    while (opMs - start < seconds * 1000 && System.nanoTime() < deadline) {
      val t = b.pickTenant()
      val q = b.gen.question(b.gen.questionRnd)
      chat(t, q).foreach(p => asked += ((t, q, p)))
    }
    b.checkChats(asked.take(b.w.recallSample).toSeq)
  }

  def measure(): Seq[(String, Double, String)] = {
    // each traced chat is paired with a facade call: half the budget each
    loop(b.seconds / 2)
    b.writeTail(this)
    spans.write(b.out.resolve(s"spans-${b.w.name}-seed${b.seed}.jsonl"))
    checkSelfTimes()

    val self = spans.selfMs
    def layer(name: String): Seq[Double] = spans.all.filter(_.name == name).map(s => self(s.id))
    def med(name: String): Double = Stats.pct(layer(name), 50)
    def perOp(op: String, f: OpCost => Long): Double =
      if (costs(op).isEmpty) Double.NaN else costs(op).map(f).sum.toDouble / costs(op).size
    val allCosts = costs.values.flatten

    val layers = Seq(
      ("auth.verify_us", med("auth.verify") * 1000, "us"),
      ("store.is_empty_ms", med("store.is_empty"), "ms"),
      ("store.load_ms", med("store.load"), "ms"),
      ("store.files_discovered_per_chat", Stats.mean(filesDiscovered.map(_.toDouble)), "count"),
      ("store.listing_jobs_per_chat", Stats.mean(listingJobs.map(_.toDouble)), "count"),
      ("store.append_ms", med("store.append"), "ms"),
      ("store.delete_ms", med("store.delete"), "ms"),
      ("rag.retrieve_ms", med("rag.retrieve"), "ms"),
      ("rag.rows_scanned_per_result", Stats.mean(scanPerResult), "ratio"),
      ("streaming.chatlog_append_ms", med("streaming.chatlog_append"), "ms"),
      ("streaming.relay_flush_ms", med("streaming.relay_flush"), "ms"),
      ("ingest.pipeline_ms", med("ingest.pipeline"), "ms"),
      ("ingest.accepted_share", b.filesAccepted.toDouble / math.max(b.filesUploaded, 1L), "ratio"),
      ("trace.unattributed_ms.chat", med("chat"), "ms"),
      ("trace.unattributed_ms.upload", med("upload"), "ms"),
      ("trace.unattributed_ms.delete", med("delete"), "ms"),
      ("trace.overhead_ms.chat",
        Stats.pct(b.lat("chat"), 50) - Stats.pct(untracedChat, 50), "ms"),
      ("jvm.gc_ms_per_op", allCosts.map(_.gcMs).sum.toDouble / math.max(allCosts.size, 1), "ms")) ++
      Seq("chat", "upload", "delete").flatMap(op => Seq(
        (s"spark.jobs_per_op.$op", perOp(op, _.jobs), "count"),
        (s"spark.tasks_per_op.$op", perOp(op, _.tasks), "count"),
        (s"spark.task_ms_per_op.$op", perOp(op, _.taskMs), "ms")))

    val micro = Micro.measure(b)
    val end = storeShape()
    val probe = concurrentProbe()
    layers ++ micro ++ end :+ ("api.concurrent_failed_share", probe, "ratio")
  }

  /** Every operation's spans must account for its whole time: the self
    * times of its spans (the root's self time is the unattributed rest)
    * sum to the root span. */
  private def checkSelfTimes(): Unit = {
    val self = spans.selfMs
    spans.all.filter(_.parent < 0).foreach { root =>
      val total = spans.all.filter(_.op == root.op).map(s => self(s.id)).sum
      if (math.abs(total - root.ms) > 1e-6)
        b.fail(f"span self times of ${root.name} op ${root.op} sum to $total%.3f ms, not ${root.ms}%.3f")
    }
  }

  /** Data files, partitions and chat-log landing files at the end. */
  private def storeShape(): Seq[(String, Double, String)] = {
    def parquetFiles(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.walk(dir)
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList }
        finally s.close()
      }
    val data = parquetFiles(Paths.get(b.storeDir))
    Seq(
      ("store.data_files", data.size.toDouble, "count"),
      ("store.partitions", data.map(_.getParent).distinct.size.toDouble, "count"),
      ("streaming.landing_files",
        parquetFiles(Paths.get(ChatLog.landingDir(b.chatDir))).size.toDouble, "count"))
  }

  /** Two client threads chatting at once (known defect: concurrent chat-log
    * appends share the landing directory's _temporary). Reported, not
    * counted as failed operations. */
  private def concurrentProbe(perThread: Int = 4): Double = {
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val qs = Array.fill(2, perThread)(b.gen.question(b.gen.questionRnd))
    val ts = Array.fill(2, perThread)(b.pickTenant())
    val threads = (0 until 2).map { i =>
      new Thread(() => (0 until perThread).foreach { j =>
        val ok = try b.engine.chat(b.tokens(ts(i)(j)), qs(i)(j)).isRight catch { case NonFatal(_) => false }
        if (!ok) failures.incrementAndGet()
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.get.toDouble / (2 * perThread)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

object Traced {
  private final case class OpCost(jobs: Long, tasks: Long, taskMs: Long, gcMs: Long)
}

/** Single-thread cost of the per-file layers, on files drawn like the
  * workload's uploads: parse per format, chunking and embedding, each in
  * ms per MB of its input. */
object Micro {
  private def msPerMb(bytes: Long)(f: => Unit): Double = {
    f // one untimed pass: JIT and class loading
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < 100000000L) { f; n += 1 }
    (System.nanoTime() - t0) / 1e6 / n / (bytes / 1e6)
  }

  def measure(b: Bench): Seq[(String, Double, String)] = {
    val parsers = IngestPipeline.defaultParsers
    val docs = ArrayBuffer.empty[String]
    val parse = Gen.Formats.map { fmt =>
      val files = Seq.fill(3)(b.sampleFile(0, fmt).bytes)
      files.foreach(f => docs ++= parsers(fmt)(f).getOrElse(Nil))
      (s"ingest.parse_ms_per_mb.$fmt",
        msPerMb(files.map(_.length.toLong).sum)(files.foreach(parsers(fmt))), "ms/MB")
    }
    val chunker = Chunker.reference
    val docBytes = docs.map(_.getBytes("UTF-8").length.toLong).sum
    val chunk = msPerMb(docBytes)(docs.foreach(chunker.split))
    val chunks = docs.flatMap(chunker.split)
    val embed = msPerMb(chunks.map(_.getBytes("UTF-8").length.toLong).sum)(
      chunks.foreach(c => Embedder.embed(c)))
    parse ++ Seq(("ingest.chunk_ms_per_mb", chunk, "ms/MB"), ("functions.embed_ms_per_mb", embed, "ms/MB"))
  }
}

/** Rows the file scans of an executed plan produced. */
object PlanRows extends AdaptiveSparkPlanHelper {
  def scanned(plan: SparkPlan): Long = collect(plan) {
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case s: BatchScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum
}
