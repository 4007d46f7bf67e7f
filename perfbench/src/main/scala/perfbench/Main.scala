package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.api.Engine
import graft.auth.Jwt
import graft.ingest.IngestPipeline
import graft.store.ChunkStore

/** RAG serving benchmark over the engine facade (`graft.api.Engine`).
  *
  * One process, one client, closed loop: the client sends its next request
  * only after the previous one returned. With `--trace 0` the run reports
  * end-to-end metrics of the facade calls; with `--trace 1` it reports
  * per-layer metrics, timing the same requests from outside by calling each
  * module's public functions in the order `Engine` calls them.
  *
  * Usage: Main --workload <chat_fanout|chat_deep> --seed <n>
  *   --seconds <s> --trace <0|1> --work <scratch dir> --out <report dir>
  * The last line on stdout is the result object. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName.getOrElse(opts.getOrElse("workload", ""),
      { System.err.println(s"unknown workload; one of ${Workloads.byName.keys.mkString(", ")}"); sys.exit(2) })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val result =
      try new Bench(workload, seed, seconds, trace, work, out).run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1)
      }
    println(result)
    sys.exit(0)
  }
}

/** Store shape and chat traffic of a workload. The store is built through
  * the bulk path (tenants x files of synthetic text); the timed loop sends
  * chats from tenants drawn Zipf(tenantZipf), or uniformly when 0. */
final case class Workload(
    name: String,
    tenants: Int,
    filesPerTenant: Int,
    charsPerFile: Int,
    tenantZipf: Double,
    recallSample: Int) // chats of the loop checked against the oracle

object Workloads {
  val all: Seq[Workload] = Seq(
    Workload("chat_fanout", tenants = 64, filesPerTenant = 3, charsPerFile = 2400, tenantZipf = 1.0,
      recallSample = Int.MaxValue),
    Workload("chat_deep", tenants = 2, filesPerTenant = 16, charsPerFile = 2000000, tenantZipf = 0.0,
      recallSample = 8))
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  // every upload batch: 12 fresh files, 3 byte-identical re-sends of a
  // stored file, 1 unsupported or blank file, in seeded order
  val UploadFiles = 16
  val FreshPerUpload = 12
  val DupsPerUpload = 3
  val WarmChats = 4 // chats of the set-up, before the timed loop
  val TailUploads = 3 // write tail after the chat loop: uploads, then deletes
  val TailDeletes = 3
}

/** A file of the upload stream with the status the engine must report. */
final case class Planned(path: String, bytes: Array[Byte], expected: String) {
  def name: String = path.substring(path.lastIndexOf('/') + 1).toLowerCase
}

/** One run: set-up, measurement (untraced, or through [[Traced]]) and the
  * report. Members shared with the traced run are package-private. */
final class Bench(private[perfbench] val w: Workload, private[perfbench] val seed: Long,
    private[perfbench] val seconds: Double, trace: Boolean, work: Path,
    private[perfbench] val out: Path) extends Ops {
  import Workloads._

  private val host = new Host()
  private[perfbench] val gen = new Gen(seed)
  private[perfbench] val secret = "perfbench-secret"
  private[perfbench] val clock = 1700000000L
  private[perfbench] val storeDir = work.resolve("store").toString
  private[perfbench] val chatDir = work.resolve("chat").toString
  private[perfbench] def user(t: Int) = f"tenant$t%03d@bench.example"

  private[perfbench] var spark: SparkSession = _
  private[perfbench] var engine: Engine = _
  private[perfbench] var tokens: IndexedSeq[String] = _
  private var oracle: Oracle = _

  // ---- outcome accounting ----
  private[perfbench] var attempted = 0L
  private var failed = 0L
  private val problems = ArrayBuffer.empty[String]
  private[perfbench] def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }
  private[perfbench] val lat = Map("chat" -> ArrayBuffer.empty[Double], "upload" -> ArrayBuffer.empty[Double],
    "delete" -> ArrayBuffer.empty[Double])
  private var timedNs = 0L
  private var timedOps = 0L
  private val recalls = ArrayBuffer.empty[Double]
  private var acceptedBytes = 0L
  private[perfbench] var filesUploaded = 0L
  private[perfbench] var filesAccepted = 0L

  // ---- upload-stream state: files of each tenant currently stored ----
  private val stored = Array.fill(w.tenants)(ArrayBuffer.empty[Planned])
  private val serial = Array.fill(w.tenants)(0)
  private var expectedTotal = 0L

  private def ms(ns: Long): Double = ns / 1e6

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since the run started. */
  private[perfbench] def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def run(): String = {
    Files.createDirectories(work)
    val extStart = host.quietWindow()
    val probeStart = host.cpuProbeMs()
    host.startSampling()
    val setupT0 = System.nanoTime()
    spark = Session.start(host.nproc, work)
    note("session started")
    oracle = new Oracle(spark, storeDir)
    buildStore()
    note("store built")
    engine = new Engine(spark, storeDir, chatDir, secret, () => clock)
    tokens = (0 until w.tenants).map(t => engine.login(user(t)))
    warmUp()
    val setupS = (System.nanoTime() - setupT0) / 1e9
    note("warmed up")
    expectedTotal = storeRows()

    val metrics =
      if (!trace) measure(setupS)
      else new Traced(this).measure()
    note("measured")
    engine.shutdown()
    spark.stop()
    val extWorst = host.stopSampling()
    val extEnd = host.quietWindow()
    val probeEnd = host.cpuProbeMs()
    val stamp = f"""{"nproc":${host.nproc},"ext_busy_cores_start":$extStart%.3f,"ext_busy_cores_end":$extEnd%.3f,""" +
      f""""ext_busy_cores_worst":$extWorst%.3f,"cpu_probe_ms_start":$probeStart%.2f,"cpu_probe_ms_end":$probeEnd%.2f}"""
    println(s"perfbench host $stamp")
    problems.foreach(p => println(s"perfbench problem: $p"))
    val allMetrics =
      if (trace) metrics ++ Seq(
        ("host.nproc", host.nproc.toDouble, "count"),
        ("host.ext_busy_cores_start", extStart, "cores"),
        ("host.ext_busy_cores_end", extEnd, "cores"),
        ("host.ext_busy_cores_worst", extWorst, "cores"),
        ("host.cpu_probe_ms_start", probeStart, "ms"),
        ("host.cpu_probe_ms_end", probeEnd, "ms"))
      else metrics
    val json = Report.result(failed == 0, attempted, failed, allMetrics)
    Files.createDirectories(out)
    Files.write(out.resolve(s"${w.name}-seed$seed-trace${if (trace) 1 else 0}.json"),
      (s"""{"workload":"${w.name}","seed":$seed,"host":$stamp,"result":$json,""" +
        s""""latency_ms":{${lat.map { case (k, v) => s""""$k":[${v.map(x => f"$x%.3f").mkString(",")}]""" }.mkString(",")}}}""" + "\n")
        .getBytes(UTF_8))
    json
  }

  // =====================================================================
  // set-up
  // =====================================================================

  /** Fresh file of the upload stream with `chars` characters of text. */
  private def freshFile(t: Int, fmt: String, chars: Int): Planned = {
    serial(t) += 1
    val title = s"tenant $t document ${serial(t)}"
    Planned(f"/uploads/t$t%03d-${serial(t)}%05d.$fmt",
      Gen.encode(fmt, title, gen.paragraphs(gen.corpusRnd, chars)), IngestPipeline.Status.Ok)
  }

  private var freshSent = 0

  /** One upload batch for tenant `t`. Text sizes of the fresh files are the
    * batch's quantiles of a log-normal (median 64 KB, 4 KB .. 1 MB) and
    * formats rotate through the nine, so every run uploads the same mix of
    * sizes and formats and only the text differs by seed. The re-sends copy
    * stored files of the tenant byte for byte and must come back
    * `duplicate`. */
  private def planUpload(t: Int): Seq[Planned] = {
    val r = gen.planRnd
    val fresh = (0 until FreshPerUpload).map { i =>
      val fmt = Gen.Formats(freshSent % Gen.Formats.size)
      freshSent += 1
      freshFile(t, fmt, Gen.logNormalQuantile((i + 0.5) / FreshPerUpload, 65536, 1.0, 4096, 1 << 20))
    }
    val dups = (0 until (if (stored(t).isEmpty) 0 else DupsPerUpload)).map { _ =>
      val orig = stored(t)(r.nextInt(stored(t).size))
      serial(t) += 1
      val ext = orig.name.substring(orig.name.lastIndexOf('.') + 1)
      Planned(f"/uploads/t$t%03d-${serial(t)}%05d-copy.$ext", orig.bytes, IngestPipeline.Status.Duplicate)
    }
    serial(t) += 1
    val invalid =
      if (r.nextBoolean())
        Planned(f"/uploads/t$t%03d-${serial(t)}%05d.rtf", "{\\rtf1 plain}".getBytes(UTF_8),
          IngestPipeline.Status.UnsupportedType)
      else
        Planned(f"/uploads/t$t%03d-${serial(t)}%05d.txt", " \n\n\t \n".getBytes(UTF_8),
          IngestPipeline.Status.NoContent)
    val all = (fresh ++ dups :+ invalid).toArray
    // seeded shuffle of the batch order
    for (i <- all.indices.reverse) {
      val j = r.nextInt(i + 1)
      val x = all(i); all(i) = all(j); all(j) = x
    }
    all.toSeq
  }

  private def buildStore(): Unit = {
    val files: Seq[(String, Array[Byte], String)] = for {
      t <- 0 until w.tenants
      _ <- 0 until w.filesPerTenant
    } yield {
      serial(t) += 1
      val p = Planned(f"/corpus/t$t%03d-${serial(t)}%05d.txt",
        Gen.encode("txt", "", gen.paragraphs(gen.corpusRnd, w.charsPerFile)), IngestPipeline.Status.Ok)
      stored(t) += p
      (p.path, p.bytes, user(t))
    }
    note(s"corpus generated: ${files.size} files")
    // the bulk path Engine.upload documents for corpus loads
    val df = spark.createDataFrame(spark.sparkContext.parallelize(files, 4 * host.nproc))
      .toDF("path", "content", "user")
    val res = IngestPipeline.ingest(spark, df, None, cacheParsed = false)
    ChunkStore.append(res.chunks, storeDir)
  }

  /** One upload and one delete by the tenant the loop draws least, and a
    * few chats of tenants drawn as the loop draws them, so the first timed
    * operations find warm code paths and a started chat-log relay. Not
    * counted as operations. */
  private def warmUp(): Unit = {
    val t = w.tenants - 1
    val batch = planUpload(t)
    val rows = engine.upload(tokens(t), batch.map(p => p.path -> p.bytes)).toOption.get.collect()
    require(rows.map(_.getAs[String]("status")).sorted.sameElements(batch.map(_.expected).sorted),
      "warm-up upload statuses differ from the plan")
    (0 until WarmChats).foreach(_ => engine.chat(tokens(pickTenant()), gen.question(gen.questionRnd)).toOption.get)
    val victim = batch.find(_.expected == IngestPipeline.Status.Ok).get.name
    require(engine.delete(tokens(t), victim).toOption.get > 0, "warm-up delete found nothing")
  }

  /** Chunk rows in the store, read from its files. */
  private def storeRows(): Long =
    if (!hasParquet(Paths.get(storeDir))) 0L else spark.read.parquet(storeDir).count()

  private def hasParquet(p: Path): Boolean = Files.isDirectory(p) && {
    val s = Files.walk(p)
    try s.anyMatch(_.toString.endsWith(".parquet")) finally s.close()
  }

  // =====================================================================
  // operations through the facade, checked
  // =====================================================================

  private[perfbench] def pickTenant(): Int =
    if (w.tenantZipf > 0) gen.zipfIndex(gen.questionRnd, w.tenants, w.tenantZipf)
    else gen.questionRnd.nextInt(w.tenants)

  /** Run one facade operation; a throw or Left counts as failed. Loop
    * operations, failed ones too, add to the timed phase. */
  private def attempt[A](op: String, inLoop: Boolean)(f: => Either[Jwt.AuthError, A]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try f catch { case NonFatal(e) => Left(e) }
    val dt = System.nanoTime() - t0
    if (inLoop) timedNs += dt
    r match {
      case Right(v) =>
        lat(op) += ms(dt)
        if (inLoop) timedOps += 1
        Some(v.asInstanceOf[A])
      case Left(e: Throwable) => fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Left(e) => fail(s"$op refused: $e"); None
    }
  }

  private def chat(t: Int, q: String): Option[String] =
    attempt[String]("chat", inLoop = true)(engine.chat(tokens(t), q))

  /** Check (tenant, question, prompt) chats against the oracle (the
    * store must not have changed since they ran). */
  private[perfbench] def checkChats(asked: Seq[(Int, String, String)]): Unit = {
    val exact = oracle.topTexts(asked.map { case (t, q, _) => (user(t), q) })
    asked.zip(exact).foreach { case ((t, q, prompt), ex) =>
      Oracle.context(prompt, q) match {
        case None => recalls += 0.0; fail(s"chat prompt for tenant $t is not the template around the question")
        case Some(ctx) =>
          val r = Oracle.recall(ctx, ex)
          recalls += r
          if (r < 0.5) fail(f"chat for tenant $t has recall $r%.2f")
      }
    }
  }

  def upload(t: Int, batch: Seq[Planned]): Unit = {
    attempt[Array[Row]]("upload", inLoop = false)(
      engine.upload(tokens(t), batch.map(p => p.path -> p.bytes)).map(_.collect()))
      .foreach(rows => checkUpload(t, batch, rows))
  }

  /** Compare reported statuses with the plan, and track what was stored. */
  private[perfbench] def checkUpload(t: Int, batch: Seq[Planned], rows: Array[Row]): Unit = {
    val got = rows.map(r => r.getAs[String]("path") -> (r.getAs[String]("status"), r.getAs[Int]("n_chunks"))).toMap
    val wrong = batch.filter(p => !got.get(p.path).exists(_._1 == p.expected))
    filesUploaded += batch.size
    batch.foreach { p =>
      got.get(p.path).foreach { case (status, n) =>
        if (status == IngestPipeline.Status.Ok) {
          filesAccepted += 1
          acceptedBytes += p.bytes.length
          expectedTotal += n
          if (p.expected == IngestPipeline.Status.Ok) stored(t) += p
        }
      }
    }
    oracle.invalidate(user(t))
    if (wrong.nonEmpty || got.size != batch.size)
      fail(s"upload for tenant $t: ${wrong.size} of ${batch.size} statuses differ from the plan, e.g. " +
        wrong.take(2).map(p => s"${p.name}: expected ${p.expected}, got ${got.get(p.path).map(_._1)}").mkString("; "))
  }

  /** Pick a corpus file of tenant `t` (all the same size, so deletes
    * compare across seeds) and read its chunk count from the store files,
    * before the delete. */
  private[perfbench] def planDelete(t: Int): (Planned, Long) = {
    val corpus = stored(t).indices.filter(i => stored(t)(i).path.startsWith("/corpus/"))
    val victim = stored(t).remove(corpus(gen.planRnd.nextInt(corpus.size)))
    val dir = s"${oracle.tenantDir(user(t))}/source=${
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(victim.name)}"
    val n = if (hasParquet(Paths.get(dir))) spark.read.parquet(dir).count() else 0L
    (victim, n)
  }

  private[perfbench] def checkDelete(t: Int, victim: Planned, expected: Long, got: Long): Unit = {
    expectedTotal -= got
    oracle.invalidate(user(t))
    if (got != expected || expected == 0)
      fail(s"delete of ${victim.name} for tenant $t returned $got, store held $expected")
  }

  def delete(t: Int): Unit = {
    val (victim, n) = planDelete(t)
    attempt[Long]("delete", inLoop = false)(engine.delete(tokens(t), victim.name))
      .foreach(got => checkDelete(t, victim, n, got))
  }

  private[perfbench] def checkCount(): Unit = {
    attempted += 1
    val c = try engine.count() catch { case NonFatal(e) => -1L }
    if (c != expectedTotal) fail(s"Engine.count() = $c, expected $expectedTotal")
  }

  // =====================================================================
  // untraced measurement
  // =====================================================================

  private def measure(setupS: Double): Seq[(String, Double, String)] = {
    val budget = (seconds * 1e9).toLong
    val asked = ArrayBuffer.empty[(Int, String, String)]
    while (timedNs < budget) {
      val t = pickTenant()
      val q = gen.question(gen.questionRnd)
      chat(t, q).foreach(p => asked += ((t, q, p)))
    }
    val heapMb = Jvm.liveHeapMb()
    checkChats(asked.take(w.recallSample).toSeq)
    writeTail(this)
    val (parquetBytes, textBytes) = storeBytes()
    Seq(
      ("setup_s", setupS, "s"),
      ("chat_p50_ms", Stats.pct(lat("chat"), 50), "ms"),
      ("chat_p90_ms", Stats.pct(lat("chat"), 90), "ms"),
      ("ops_per_s", timedOps / (timedNs / 1e9), "1/s"),
      ("upload_p50_ms", Stats.pct(lat("upload"), 50), "ms"),
      ("ingest_mb_per_s", acceptedBytes / 1e6 / (lat("upload").sum / 1e3), "MB/s"),
      ("delete_p50_ms", Stats.pct(lat("delete"), 50), "ms"),
      ("recall_at_13", if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, "ratio"),
      ("ops_ok_share", 1.0 - failed.toDouble / math.max(attempted, 1), "ratio"),
      ("store_bytes_per_text_byte", parquetBytes / math.max(textBytes, 1.0), "ratio"),
      ("heap_live_mb", heapMb, "MB"))
  }

  /** After the chat loop: upload batches to tenants 0, 1, ..., deletes of
    * a corpus file of tenants 0, 1, ..., then the running-total check of
    * `Engine.count()`. These give the write metrics on this store shape. */
  private[perfbench] def writeTail(ops: Ops): Unit = {
    (0 until TailUploads).foreach { i =>
      val t = i % w.tenants
      ops.upload(t, planUpload(t))
    }
    (0 until TailDeletes).foreach(i => ops.delete(i % w.tenants))
    checkCount()
  }

  /** Parquet bytes of the store and UTF-8 bytes of its chunk texts. */
  private def storeBytes(): (Double, Double) = {
    val s = Files.walk(Paths.get(storeDir))
    val pq = try s.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum() finally s.close()
    val text = spark.read.parquet(storeDir)
      .agg(sum(org.apache.spark.sql.functions.octet_length(col("text"))).cast("double")).head().getDouble(0)
    (pq.toDouble, text)
  }

  private[perfbench] def sampleFile(t: Int, fmt: String) =
    freshFile(t, fmt, gen.logNormalBytes(gen.planRnd, 65536, 1.0, 4096, 1 << 20))
}

/** The write operations of the tail: through the facade ([[Bench]]) or
  * through the traced replicas ([[Traced]]). */
trait Ops {
  def upload(t: Int, batch: Seq[Planned]): Unit
  def delete(t: Int): Unit
}

object Session {
  /** local[nproc] session with the engine's own settings (as graft.Bench
    * starts it); scratch, spill and warehouse directories inside `work`. */
  def start(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", graft.core.GraftExtensions.Name)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Report {
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$k":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}
