package graft

import org.apache.spark.sql.functions._

import graft.pipeline._

/** ProcessSandbox: real python3 subprocess execution on the driver —
  * success path, real Traceback + repair loop, timeout bound, output
  * cap, and the executor-ban invariant (run() inside a Spark task must
  * throw, never fork).
  */
class SandboxSpec extends SparkSpec {

  private def sandbox = new ProcessSandbox(timeoutMs = 15000L)

  test("stdout round-trip and reference-style edge stripping") {
    val out = sandbox.run("print('  hello sandbox  ')")
    assert(out == "hello sandbox", s"got <$out>")
    assert(!CodeAct.isExecError(out))
  }

  test("edge strip is the reference's BOUNDED four-step chain") {
    // strip('\n').strip(' ').strip('\n').strip(' '): at most two
    // newline/space alternations per edge — a third alternating layer
    // survives (an unlimited mixed strip would erase it)
    assert(Sandbox.referenceStrip("\n  hello  \n") == "hello")
    assert(Sandbox.referenceStrip(" \n hi \n ") == "hi")
    assert(Sandbox.referenceStrip("\n \n \nx") == "\nx")
    assert(Sandbox.referenceStrip("x\n \n \n") == "x\n")
    assert(Sandbox.referenceStrip("a b") == "a b")
    assert(Sandbox.referenceStrip("") == "")
  }

  test("a real exception surfaces as a Traceback (stderr merged)") {
    val out = sandbox.run("x = 1/0")
    assert(CodeAct.isExecError(out), s"expected Traceback in <$out>")
    assert(out.contains("ZeroDivisionError"))
  }

  test("runLoop repairs real broken code using the Traceback feedback") {
    // round 1 emits genuinely broken python; on seeing the repair
    // prompt (which carries the real Traceback) it emits a fix —
    // the reference's agent_codeact arc with a REAL sandbox_run
    val client = new LlmClient {
      override def complete(msgs: Seq[ChatMessage],
                            attempt: Int): LlmResponse = {
        val lastUser = msgs.reverse.find(_.role == "user").map(_.content)
          .getOrElse("")
        if (lastUser.startsWith(CodeAct.RepairPrefix)) {
          assert(lastUser.contains("NameError"),
            s"repair prompt must carry the real Traceback: $lastUser")
          LlmResponse("<code>print('repaired ' + str(6 * 7))</code>", "stop")
        } else LlmResponse("<code>print(undefined_name)</code>", "stop")
      }
    }
    val (out, rounds, ok) =
      CodeAct.runLoop(client, sandbox, "compute", "6*7", maxRounds = 5)
    assert(ok && rounds == 2, s"expected repair on round 2: ($out, $rounds, $ok)")
    assert(out == "repaired 42")
  }

  test("wall-clock timeout kills the process and reads as a failed round") {
    val fast = new ProcessSandbox(timeoutMs = 1500L)
    val t0 = System.nanoTime()
    val out = fast.run("while True:\n  pass")
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(CodeAct.isExecError(out), s"timeout must read as Traceback: $out")
    assert(out.contains("SandboxTimeout"))
    assert(elapsedMs < 10000L, s"kill was not prompt: ${elapsedMs}ms")
  }

  test("output cap truncates a runaway printer") {
    val small = new ProcessSandbox(timeoutMs = 15000L, maxOutputChars = 4096)
    val out = small.run("while True:\n  print('x' * 80)")
    assert(out.contains("output truncated"), s"len=${out.length}")
    assert(out.length < 4096 + 128)
  }

  test("executor-ban invariant: run() inside a Spark task throws, never forks") {
    import spark.implicits._
    val ex = intercept[Exception] {
      spark.range(1).as[Long].mapPartitions { it =>
        val sb = new ProcessSandbox()
        it.map(_ => sb.run("print('must never run')"))
      }.collect()
    }
    assert(causes(ex).exists(driverOnly),
      s"expected the driver-only IllegalStateException, got $ex")
  }

  test("executor-ban invariant on the codeAct path: the operator throws, no python starts") {
    // codeAct runs its rounds on the LLM I/O pool, not the task thread;
    // the pool thread carries the task's TaskContext, so the guard fires
    import spark.implicits._
    val marker = java.nio.file.Files.createTempDirectory("sandbox_ban")
      .resolve("ran")
    val ex = intercept[Exception] {
      CodeAct.codeAct(Seq(("compute", "6*7")).toDF("q", "input"), "q", "input",
        MarkerCodeClient(marker.toString), new ProcessSandbox(), 2, "out")
        .collect()
    }
    assert(causes(ex).exists(driverOnly),
      s"expected the driver-only IllegalStateException, got $ex")
    assert(!java.nio.file.Files.exists(marker),
      "generated code ran inside a Spark task")
  }

  private def driverOnly(t: Throwable): Boolean =
    t.isInstanceOf[IllegalStateException] && t.getMessage.contains("driver-only")

  test("MockSandbox stays the distributed/oracle path (unchanged contract)") {
    val m = MockSandbox()
    val out = m.run("run(abc)")
    assert(out.startsWith("OK:") || out.startsWith("Traceback: err "))
  }
}

/** Emits python that would create `marker` if it ever ran. */
final case class MarkerCodeClient(marker: String) extends LlmClient {
  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse =
    LlmResponse(s"<code>open(r'$marker', 'w').write('ran')</code>", "stop")
}
