package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}

/** CodeAct table-QA loop (reference agent_codeact + sandbox_run,
  * apps/poc-codaact-tableqa/tableqa_codeact.py:143-235): the LLM emits
  * code inside tags, the code runs in a sandbox, a "Traceback" in the
  * output is fed back for repair, up to `maxRounds` (reference: 5).
  *
  * Sandbox policy at scale: executors must NOT fork arbitrary
  * generated code — a Sandbox implementation is either the
  * deterministic mock (tests/offline) or a driver-side/bounded
  * external service. The operator itself is executor-safe: it only
  * calls the pluggable trait.
  */
trait Sandbox extends Serializable {
  def run(code: String): String
}

object Sandbox {
  /** The reference's bounded edge-strip, exactly:
    * `stdout.strip("\n").strip(" ").strip("\n").strip(" ")`
    * (tableqa_codeact.py:167) — at most two newline/space
    * alternations per edge, NOT an unlimited mixed strip, so an
    * output with ≥3 alternating layers keeps its inner layers.
    */
  def referenceStrip(s: String): String = {
    @annotation.tailrec
    def dropEdges(t: String, c: Char): String = {
      val a = if (t.nonEmpty && t.head == c) t.tail else t
      val b = if (a.nonEmpty && a.last == c) a.init else a
      if (b.length == t.length) t else dropEdges(b, c)
    }
    dropEdges(dropEdges(dropEdges(dropEdges(s, '\n'), ' '), '\n'), ' ')
  }
}

/** Deterministic sandbox stand-in: fails with a Traceback when the
  * first hex digit of sha256(code) < '4', else returns OK:<hash8>.
  * SQL mirror in CodeAct.sandboxSql.
  */
final case class MockSandbox() extends Sandbox {
  override def run(code: String): String = {
    val h = LlmClient.sha256Hex(code)
    if (h.charAt(0) < '4') s"Traceback: err ${h.substring(1, 9)}"
    else s"OK:${h.substring(1, 9)}"
  }
}

/** REAL sandbox (reference sandbox_run, tableqa_codeact.py:143-172):
  * writes `code` to a one-use temp script and forks the local python
  * interpreter, merging stderr into stdout exactly like the
  * reference's `Popen(stderr=STDOUT)` — so a `Traceback` lands in the
  * returned text and [[CodeAct.isExecError]] / the repair loop see it.
  *
  * Bounded where the reference is not (the reference trusts its
  * operator): `timeoutMs` wall-clock (process force-killed; the
  * output is prefixed with a synthetic `Traceback: SandboxTimeout`
  * so the loop treats a hang as a failed round) and `maxOutputChars`
  * (a runaway printer is killed and the captured prefix marked
  * truncated).
  *
  * DRIVER-ONLY, enforced: `run` refuses to execute inside a Spark
  * task (TaskContext present ⇒ IllegalStateException). Forking
  * arbitrary generated code on executors is the one thing the
  * Sandbox trait's scaladoc bans — at cluster scale that would be
  * remote code execution on every worker. Distributed gates keep
  * [[MockSandbox]]; real execution happens on collected/driver-local
  * rows, where ulimits and audit live. (The trait is Serializable so
  * an instance CAN ride a closure — the TaskContext check is the
  * enforcement, not the type system; spec-pinned.)
  */
final class ProcessSandbox(pythonExe: String = "python3",
                           timeoutMs: Long = 10000L,
                           maxOutputChars: Int = 1 << 16) extends Sandbox {
  override def run(code: String): String = {
    if (org.apache.spark.TaskContext.get() != null)
      throw new IllegalStateException(
        "ProcessSandbox is driver-only: generated code must never fork " +
          "inside a Spark task (use MockSandbox for distributed paths)")
    val dir = java.nio.file.Files.createTempDirectory("sandbox_")
    val script = dir.resolve(
      s"script_${java.util.UUID.randomUUID().toString.replace("-", "")}.py")
    try {
      java.nio.file.Files.writeString(script, code)
      val pb = new ProcessBuilder(pythonExe, script.toString)
      pb.redirectErrorStream(true) // stderr -> stdout, like the reference
      val p = pb.start()
      p.getOutputStream.close()
      val sb = new java.lang.StringBuilder
      var truncated = false
      // reader thread: a full pipe would deadlock waitFor otherwise
      val reader = new Thread(() => {
        val in = new java.io.InputStreamReader(
          p.getInputStream, java.nio.charset.StandardCharsets.UTF_8)
        val buf = new Array[Char](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            if (sb.length < maxOutputChars) {
              sb.append(buf, 0, math.min(n, maxOutputChars - sb.length))
              if (sb.length >= maxOutputChars) truncated = true
            }
          }
          if (truncated) p.destroyForcibly() // stop a runaway printer
          n = in.read(buf)
        }
      })
      reader.setDaemon(true)
      reader.start()
      val finished = p.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (!finished) p.destroyForcibly()
      // after a normal exit, let the reader drain the pipe first:
      // destroyForcibly closes the stream and drops unread output
      else reader.join(timeoutMs)
      // loop the join until the reader is dead: a slow force-kill of a
      // runaway child can keep the pipe open past a single bounded
      // join, and the output/truncated snapshot below must not race
      // with a still-appending reader
      while (reader.isAlive) { p.destroyForcibly(); reader.join(2000) }
      // snapshot output AND the truncated flag under the same lock the
      // reader writes them with, so the truncation marker can't be
      // missed on a torn read
      val (out, wasTruncated) = sb.synchronized {
        (Sandbox.referenceStrip(sb.toString), truncated)
      }
      if (!finished)
        s"Traceback: SandboxTimeout after ${timeoutMs} ms\n$out"
      else if (wasTruncated)
        s"$out\n[sandbox: output truncated at $maxOutputChars chars]"
      else out
    } finally {
      java.nio.file.Files.deleteIfExists(script)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}

/** Deterministic code-emitting client: always answers with a single
  * `<code>run(<hash16>)</code>` block derived from the conversation's
  * system prompt and last user message. SQL mirror in
  * CodeAct.contentSql.
  */
final case class MockCodeActClient() extends LlmClient {
  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val sys = msgs.find(_.role == "system").map(_.content).getOrElse("")
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    val h = LlmClient.sha256Hex(sys + "\n" + user)
    LlmResponse(s"<code>run(${h.take(16)})</code>", "stop")
  }
}

object CodeAct {

  /** F3 — first span between any of the tag pairs, tried in order
    * (reference tag_extract, tableqa_codeact.py:117-134).
    */
  val TagPairs: Seq[(String, String)] = Seq(
    "<code>" -> "</code>",
    "```python" -> "```",
    "<answer>" -> "</answer>")

  def tagExtract(text: String): Option[String] =
    TagPairs.iterator.flatMap { case (open, close) =>
      val i = text.indexOf(open)
      if (i < 0) None
      else {
        val j = text.indexOf(close, i + open.length)
        if (j < 0) None else Some(text.substring(i + open.length, j).trim)
      }
    }.nextOption()

  /** P7 — sandbox failure predicate (tableqa_codeact.py:137-140). */
  def isExecError(out: String): Boolean = out.contains("Traceback")

  val SysPrompt = "Write code in <code></code> tags to answer the question."
  val RepairPrefix = "Fix this error:\n"

  /** Run the bounded repair loop for one (instruction, input) pair.
    * Returns (finalOutput, rounds, finished).
    */
  def runLoop(client: LlmClient, sandbox: Sandbox, instruction: String,
              input: String, maxRounds: Int): (String, Int, Boolean) = {
    var msgs = Seq(
      ChatMessage("system", SysPrompt),
      ChatMessage("user", s"$instruction\n$input"))
    var round = 0
    var out = ""
    var ok = false
    while (round < maxRounds && !ok) {
      round += 1
      val content = client.run(msgs)
      val code = tagExtract(content).getOrElse("")
      out = sandbox.run(code)
      if (isExecError(out) && round < maxRounds)
        msgs = msgs :+ ChatMessage("assistant", content) :+
          ChatMessage("user", RepairPrefix + out)
      else ok = !isExecError(out)
    }
    (out, round, ok)
  }

  /** DataFrame operator: run the CodeAct loop per row, one concurrent
    * call unit per row. Adds `<outCol>` (sandbox output),
    * `<outCol>_rounds`, `<outCol>_ok`.
    */
  def codeAct(df: DataFrame, instructionCol: String, inputCol: String,
              client: LlmClient, sandbox: Sandbox, maxRounds: Int,
              outCol: String): DataFrame = {
    val schema = df.schema
    val insIdx = schema.fieldIndex(instructionCol)
    val inIdx = schema.fieldIndex(inputCol)
    val outSchema = schema
      .add(outCol, StringType).add(s"${outCol}_rounds", IntegerType)
      .add(s"${outCol}_ok", BooleanType)
    LlmClient.perRow(df, Encoders.row(outSchema)) { row =>
      Seq(() => runLoop(client, sandbox,
        row.getString(insIdx), row.getString(inIdx), maxRounds))
    } { case (row, Seq((out, rounds, ok))) =>
      Seq(Row.fromSeq(row.toSeq :+ out :+ rounds :+ ok))
    }
  }

  // ---- DuckDB mirrors (used by the oracle harness) ----

  /** Mock client content for (sysSql literal handled by caller). */
  def contentSql(userSql: String): String =
    s"('<code>run(' || substring(sha256('$SysPrompt' || chr(10) || $userSql), 1, 16) || ')</code>')"

  /** Extracted code for the mock's content shape. */
  def codeSql(userSql: String): String =
    s"('run(' || substring(sha256('$SysPrompt' || chr(10) || $userSql), 1, 16) || ')')"

  def sandboxSql(codeSql: String): String =
    s"""(CASE WHEN substring(sha256($codeSql), 1, 1) < '4'
       | THEN 'Traceback: err ' || substring(sha256($codeSql), 2, 8)
       | ELSE 'OK:' || substring(sha256($codeSql), 2, 8) END)""".stripMargin
}
