package graft.util

import java.io.{ByteArrayOutputStream, PrintStream}
import org.scalatest.funsuite.AnyFunSuite

class RunLogSpec extends AnyFunSuite {

  private def capture(): (RunLog, () => Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val log = new RunLog(new PrintStream(buf, true, "UTF-8"), windowSize = 3, clock = () => 1700000000000L)
    (log, () => new String(buf.toByteArray, "UTF-8").split("\n").toSeq.filter(_.nonEmpty))
  }

  test("one JSON object per line with bound context auto-carried") {
    val (log, lines) = capture()
    log.bind("country" -> "KE", "release" -> "2026-01.0")
    log.info("source.read", "rows" -> 42)
    log.bind("country" -> "TZ") // override
    log.info("source.clip")
    val out = lines()
    assert(out.length == 2)
    assert(out(0).startsWith("{\"timestamp\":1700000000000,\"level\":\"info\",\"event\":\"source.read\""))
    assert(out(0).contains("\"country\":\"KE\"") && out(0).contains("\"rows\":42"))
    assert(out(1).contains("\"country\":\"TZ\"") && out(1).contains("\"release\":\"2026-01.0\""))
    log.clear()
    log.info("done")
    assert(!lines().last.contains("country"))
  }

  test("secret fields redact by case-insensitive key substring") {
    val (log, lines) = capture()
    log.info("auth",
      "agol_password" -> "hunter2", "Api_Key" -> "k-123",
      "client_secret" -> "s3cr3t", "username" -> "alice")
    val l = lines().head
    assert(!l.contains("hunter2") && !l.contains("k-123") && !l.contains("s3cr3t"))
    assert(l.contains("\"agol_password\":\"[REDACTED]\""))
    assert(l.contains("\"Api_Key\":\"[REDACTED]\""))
    assert(l.contains("\"username\":\"alice\""))
  }

  test("dedup window suppresses repeats within windowSize, counts them") {
    val (log, lines) = capture()
    assert(log.info("tick"))
    assert(!log.info("tick")) // same (level, event) inside window
    assert(log.info("a") && log.info("b") && log.info("c")) // window=3 rolls "tick" out
    assert(log.info("tick")) // re-emits after eviction
    assert(log.suppressedCount == 1)
    assert(lines().count(_.contains("\"event\":\"tick\"")) == 2)
  }

  test("stage emits duration_ms on success, error line on failure, and rethrows") {
    val (log, lines) = capture()
    val r = log.stage("transform.normalize", "layer" -> "roads") { 7 }
    assert(r == 7)
    assert(lines().head.contains("\"event\":\"transform.normalize\"") &&
      lines().head.contains("\"duration_ms\":"))
    val e = intercept[IllegalStateException] {
      log.stage("publish.upload") { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    val err = lines().last
    assert(err.contains("\"level\":\"error\"") &&
      err.contains("\"error\":\"IllegalStateException: boom\""))
    // Error lines bypass dedup: the same failing stage logs again.
    intercept[IllegalStateException] {
      log.stage("publish.upload") { throw new IllegalStateException("boom") }
    }
    assert(lines().count(_.contains("\"event\":\"publish.upload\"")) == 2)
  }

  test("strings escape; numeric values stay bare JSON numbers") {
    val (log, lines) = capture()
    log.info("odd", "msg" -> "line\nbreak \"quoted\"", "n" -> -3.5, "v" -> "1.2.3",
      "ctl" -> "a\u0001b")
    val l = lines().head
    assert(l.contains("\"msg\":\"line\\nbreak \\\"quoted\\\"\""))
    assert(l.contains("\"ctl\":\"a" + '\\' + "u0001b\""))
    assert(l.contains("\"n\":-3.5"))
    // version-ish strings must NOT be emitted as malformed numbers
    assert(l.contains("\"v\":\"1.2.3\""))
  }
}
