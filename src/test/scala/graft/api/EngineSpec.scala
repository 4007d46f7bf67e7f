package graft.api

import java.nio.charset.StandardCharsets

import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec
import graft.auth.Jwt

/** End-to-end journey through the facade — the complete reference
  * workflow (login → upload → chat → delete) with the behaviors the
  * reference gets wrong done right: tenant isolation in retrieval,
  * per-tenant dedup and delete. */
class EngineSpec extends SparkSpec with BeforeAndAfterEach {
  import spark.implicits._

  // every Engine starts a chat-log relay that polls its landing directory;
  // none may outlive its test and keep listing files under later suites
  override def afterEach(): Unit =
    try spark.streams.active.foreach(_.stop()) finally super.afterEach()

  private def bytes(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("full journey: two tenants upload, chat stays tenant-scoped, delete is tenant-scoped") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    var clock = 1700000000L
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => clock)

    val alice = engine.login("alice@x.com")
    val bob = engine.login("bob@y.com")

    // upload: alice has a searchable doc + a dup + an unsupported file
    val up1 = engine.upload(alice, Seq(
      "/up/guide.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)),
      "/up/guide_copy.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)),
      "/up/raw.zip" -> bytes("zipzip"))).toOption.get
    val statuses = up1.select("path", "status").as[(String, String)].collect().toMap
    assert(statuses("/up/guide.txt") == "ok")
    assert(statuses("/up/guide_copy.txt") == "duplicate")
    assert(statuses("/up/raw.zip") == "unsupported_type")

    // bob's identical bytes are HIS OWN upload (tenant-scoped dedup)
    val up2 = engine.upload(bob, Seq(
      "/up/guide.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)))).toOption.get
    assert(up2.select("status").as[String].collect().toSeq == Seq("ok"))
    val total = engine.count()
    assert(total > 0)

    // chat: both tenants get a grounded prompt from their own store
    val answer = engine.chat(alice, "what is the warranty period").toOption.get
    assert(answer.contains("warranty period"))
    assert(answer.contains("Question: what is the warranty period"))
    // chat log appended per call
    engine.chat(bob, "warranty?").toOption.get
    assert(spark.read.parquet(chatDir).count() == 2)

    // delete: alice's filename; bob's same-named file survives
    val deleted = engine.delete(alice, "guide.txt").toOption.get
    assert(deleted > 0)
    assert(engine.delete(alice, "missing.txt").toOption.get == 0L)
    assert(engine.count() == total - deleted)
    assert(engine.chat(bob, "still there?").isRight)

    // auth surface: expired and forged tokens are rejected with the
    // reference's error taxonomy
    clock += 4000 // past the 1h TTL
    assert(engine.chat(alice, "late").swap.toOption.contains(Jwt.Expired))
    assert(engine.upload("not.a.token", Seq()).swap.toOption.contains(Jwt.Invalid))
  }

  test("deleting the last document leaves a usable engine, not a bricked store") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val t = engine.login("solo@x.com")
    engine.upload(t, Seq("/up/only.txt" -> bytes("the single document " + ("pad " * 40)))).toOption.get
    assert(engine.count() > 0)
    assert(engine.delete(t, "only.txt").toOption.get > 0)
    assert(engine.count() == 0)
    // the store dir still exists but holds no data files; every route
    // must keep working (chat answers from empty context, upload accepts)
    assert(engine.chat(t, "anything there?").toOption.get.contains("I don't know")
      || engine.chat(t, "anything there?").isRight)
    val re = engine.upload(t, Seq("/up/only.txt" -> bytes("fresh content " + ("pad " * 40)))).toOption.get
    assert(re.select("status").as[String].head() == "ok")
    assert(engine.count() > 0)
  }

  test("chat log flows through the streaming sink; an engine restart replays nothing") {
    import graft.streaming.ChatLog
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    var clock = 1700000000L
    val e1 = new Engine(spark, storeDir, chatDir, "s3cret", () => clock)
    val t1 = e1.login("replay@x.com")
    e1.chat(t1, "first turn").toOption.get
    clock += 1
    e1.chat(t1, "second turn").toOption.get
    // the canonical log is the relay's OUTPUT, not the landing dir
    assert(ChatLog.read(spark, chatDir).count() == 2)
    val chatColumns = Set("ts", "user", "question", "answer")
    assert(ChatLog.read(spark, chatDir).columns.toSet == chatColumns)
    assert(spark.read.parquet(chatDir).columns.toSet == chatColumns)
    assert(spark.streams.active.exists(_.name == ChatLog.relayName(chatDir)))
    e1.shutdown()
    assert(!spark.streams.active.exists(_.name == ChatLog.relayName(chatDir)))

    // a new engine over the same dirs resumes from the checkpoint: the two
    // committed landing files are NOT re-relayed, the new turn is
    val e2 = new Engine(spark, storeDir, chatDir, "s3cret", () => clock + 1)
    val t2 = e2.login("replay@x.com")
    e2.chat(t2, "third turn").toOption.get
    val log = ChatLog.read(spark, chatDir)
    assert(log.count() == 3, "restart must neither duplicate nor drop turns")
    assert(log.select("question").distinct().count() == 3)
    e2.shutdown()
  }
}
