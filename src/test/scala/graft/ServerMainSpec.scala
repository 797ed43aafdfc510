package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.streaming.WireClient
import graft.streaming.WireProtocol._

/** Env-var boot ([[ServerMain.boot]]): the reference's `main.rs:33-41`
  * wiring driven from a synthetic env map — engine selection, the
  * INTERNAL_EVENT_TOKEN emit gate, and the allow-all authz wiring, all
  * observed through live wire frames like the reference's e2e flow. */
class ServerMainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-server-main-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withBoot(env: Map[String, String])(f: WireClient => Unit): Unit = {
    val (server, stop) = ServerMain.boot(env, spark)
    val c = new WireClient("127.0.0.1", server.boundPort)
    try f(c)
    finally { c.disconnect(); server.stop(); stop() }
  }

  test("default env boots the multiplexed engine with open ingest") {
    withBoot(Map.empty) { c =>
      assert(spark.streams.active.map(_.name).toSeq == Seq("multiplexed-delivery"))
      assert(c.call(CreateGroup("bg", "PROJECT", "p",
        Hierarchy(projectId = "p"), includeSub = true, "ALL")).isEmpty)
      assert(c.call(Emit("PROJECT", "ALL", "p", RelationCtx())).isEmpty)
      assert(c.call(Init("bg")).forall(!_.isInstanceOf[WireError]))
    }
  }

  test("INTERNAL_EVENT_TOKEN gates emit exactly like internal_event_server.rs:23-45") {
    withBoot(Map("INTERNAL_EVENT_TOKEN" -> "secret", "GRAFT_AUTHZ" -> "allow-all")) { c =>
      // authz on: a PRESENT token is required to subscribe (allow-all mock)
      val noTok = c.call(CreateGroup("tg", "PROJECT", "p",
        Hierarchy(projectId = "p"), includeSub = true, "ALL"))
      assert(c.errors(noTok).exists(_.contains("authentication header required")),
        s"missing subscribe token must be rejected: $noTok")
      assert(c.call(CreateGroup("tg", "PROJECT", "p",
        Hierarchy(projectId = "p"), includeSub = true, "ALL", Some("any"))).isEmpty)
      // emit: missing token rejected, wrong token rejected, right token lands
      assert(c.errors(c.call(Emit("PROJECT", "ALL", "p", RelationCtx())))
        .exists(_.contains("authentication header required")))
      assert(c.errors(c.call(Emit("PROJECT", "ALL", "p", RelationCtx(), Some("wrong"))))
        .exists(_.contains("bad token")))
      assert(c.call(Emit("PROJECT", "ALL", "p", RelationCtx(), Some("secret"))).isEmpty)
    }
  }

  test("GRAFT_ENGINE=multiplexed serves the many-groups engine over the same port") {
    withBoot(Map("GRAFT_ENGINE" -> "multiplexed")) { c =>
      assert(c.call(CreateGroup("mg", "PROJECT", "p",
        Hierarchy(projectId = "p"), includeSub = true, "ALL")).isEmpty)
      assert(c.call(Emit("COLLECTION", "ALL", "cc",
        RelationCtx(project = "p"))).isEmpty)
      assert(c.call(Init("mg")).forall(!_.isInstanceOf[WireError]))
    }
  }

  test("GRAFT_ENGINE=durable requires the log/checkpoint dirs and then serves") {
    val err = intercept[RuntimeException](ServerMain.boot(
      Map("GRAFT_ENGINE" -> "durable"), spark))
    assert(err.getMessage.contains("GRAFT_LOG_DIR"))
    val log = java.nio.file.Files.createTempDirectory("graft-boot-log").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-boot-ck").toString
    withBoot(Map("GRAFT_ENGINE" -> "durable",
      "GRAFT_LOG_DIR" -> log, "GRAFT_CHECKPOINT_DIR" -> ck)) { c =>
      assert(c.call(CreateGroup("dg", "PROJECT", "p",
        Hierarchy(projectId = "p"), includeSub = true, "ALL")).isEmpty)
      assert(c.call(Emit("PROJECT", "ALL", "p", RelationCtx())).isEmpty)
      // and delivers: the emit reaches the log through the ingest query,
      // and the attach's delivery reads it back to the session
      val init = c.call(Init("dg"))
      assert(c.errors(init).isEmpty, s"init must attach: $init")
      var got = c.notifications(init)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (got.isEmpty && System.nanoTime() < deadline) {
        got = c.notifications(c.call(Poll))
        if (got.isEmpty) Thread.sleep(100)
      }
      assert(got.flatMap(_.resourceIds) == Seq("p"),
        s"the durable boot must deliver the emitted event within 60 s: $got")
    }
  }

  test("unknown GRAFT_ENGINE fails loudly") {
    // `engine` named the deleted per-group in-memory engine
    Seq("kafka", "engine").foreach { value =>
      val err = intercept[RuntimeException](ServerMain.boot(
        Map("GRAFT_ENGINE" -> value), spark))
      assert(err.getMessage.contains("unknown GRAFT_ENGINE"))
      assert(err.getMessage.contains("multiplexed | durable"), err.getMessage)
    }
    assert(spark.streams.active.isEmpty, "a failed boot starts no query")
  }
}
