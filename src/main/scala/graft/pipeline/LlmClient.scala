package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.Executors
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Pluggable LLM client used inside the instruction operators
  * (reference LlmCli, src/python/instructionspipe/llm_cli.py:31-138).
  * Implementations must be Serializable — the client ships to
  * executors inside mapPartitions closures.
  */
final case class LlmResponse(content: String, finishReason: String)

trait LlmClient extends Serializable {

  /** One chat completion. `attempt` supports retry policies (the
    * reference retries length-stopped generations with temperature 1.0
    * and frequency_penalty 0.2, llm_cli.py:124-135).
    */
  def complete(msgs: Seq[ChatMessage], attempt: Int = 0): LlmResponse

  /** Connection smoke test (reference sends "Hi" before the pipeline
    * starts, inf.py:60-66).
    */
  def ping(): Boolean =
    complete(Seq(ChatMessage("user", "Hi"))).content.nonEmpty

  /** Model identity this client speaks to (mixed into the cache key;
    * the request payload for HTTP implementations).
    */
  def model: String = "default"

  /** Identity mixed into the cache key. The reference holds one LRU
    * per LlmCli instance (llm_cli.py:58-61); this JVM-wide cache is
    * shared across clients, so two instances of the same client class
    * pointed at different models must not collide — hence the model
    * is part of the default key.
    */
  def cacheId: String = getClass.getName + ":" + model

  /** Cached + retried completion — the entry point operators use.
    * Response cache keyed by sha256 of the conversation (llm_cli.py:
    * 101-110); ≤3 retries on length-stop (llm_cli.py:124-135).
    */
  final def run(msgs: Seq[ChatMessage]): String =
    LlmCache.getOrCompute(cacheId + ":" + LlmClient.cacheKey(msgs)) {
      var resp = complete(msgs, 0)
      var attempt = 0
      while (resp.finishReason == "length" && attempt < 3) {
        attempt += 1
        resp = complete(msgs, attempt)
      }
      resp.content
    }
}

object LlmClient {

  private val sha256Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  def sha256Hex(s: String): String = {
    val digest = sha256Local.get()
    digest.reset()
    digest.digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Cache key = sha256 of the serialized conversation (F11). */
  def cacheKey(msgs: Seq[ChatMessage]): String =
    sha256Hex(msgs.map(m => s"${m.role}\u0000${m.content}").mkString("\u0001"))

  /** Shared executor for in-partition request fan-out — the Scala
    * analogue of the reference's per-row asyncio.gather
    * (instructions_runners.py:144-148). A fixed 8 threads per JVM at
    * every core count, independent of the executor's task slots: it
    * bounds how many model calls one JVM has in flight, not CPU use
    * (task threads sit in [[perRow]]'s await while the pool calls).
    */
  lazy val ioExecutionContext: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-llm-io")
        t.setDaemon(true)
        t
      }))

  val BatchSize = 8 // reference: model.abatch batches of 8 (O7)

  /** The per-row LLM operator every pipeline operator runs through:
    * each partition is read in batches of [[BatchSize]] rows; `units`
    * turns a row into independent call units, and every unit of a
    * batch runs concurrently on [[ioExecutionContext]] while the task
    * thread awaits the batch. `emit` then builds the output rows from
    * each input row and its unit results (in unit order), keeping
    * input order.
    *
    * Units block only on calls and never wait on the pool, so the
    * fixed pool cannot deadlock. Each unit runs under the task's
    * TaskContext (set on the pool thread, unset after the unit), as
    * Spark's PythonRunner writer thread does: ProcessSandbox's
    * driver-only guard must still fire on a pool thread.
    */
  def perRow[U, R](df: DataFrame, enc: Encoder[R])(units: Row => Seq[() => U])(
      emit: (Row, Seq[U]) => IterableOnce[R]): Dataset[R] =
    df.mapPartitions { it: Iterator[Row] =>
      val task = TaskContext.get()
      // resolved on the executor: the I/O pool is JVM-local state, not
      // closure state (an ExecutionContext is not serializable)
      implicit val ec: ExecutionContext = ioExecutionContext
      it.grouped(BatchSize).flatMap { batch =>
        val calls = batch.map(row => Future.traverse(units(row))(unit =>
          Future(TaskContext.withTaskContext(task)(unit()))))
        val results = Await.result(Future.sequence(calls), Duration.Inf)
        batch.iterator.zip(results).flatMap(emit.tupled)
      }
    }(enc)
}

/** Per-executor LRU response cache (reference cache.py:24-62: in-mem
  * LRU, capacity 10000, keyed sha256(chatml)). JVM-wide so all tasks
  * on an executor share it — with server-side prefix caching this is
  * the layer that makes repeated instructions over similar scopes
  * cheap.
  */
object LlmCache {
  private val Capacity = 10000
  private val Stripes = 16 // lock striping: executors run tens of task
  // threads; a single synchronized LRU serializes every lookup (the
  // access-order LinkedHashMap mutates on get, so even reads need the
  // write lock). Sharding by key hash keeps contention negligible;
  // per-stripe LRU capacity sums to the reference's 10k budget.
  private val maps = Array.fill(Stripes)(
    new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
        size() > Capacity / Stripes
    })

  private def stripe(key: String) =
    maps(Math.floorMod(key.hashCode, Stripes))

  def getOrCompute(key: String)(compute: => String): String = {
    val m = stripe(key)
    val cached = m.synchronized(Option(m.get(key)))
    cached.getOrElse {
      val v = compute // computed outside the lock: LLM calls are slow
      m.synchronized(m.put(key, v))
      v
    }
  }

  def clear(): Unit = maps.foreach(m => m.synchronized(m.clear()))
  def size: Int = maps.map(m => m.synchronized(m.size())).sum
}

/** Deterministic offline stand-in for a chat model (the build/test
  * environment is zero-egress). The response is a pure function of the
  * conversation — `RE:<sha256(sys + \n + user) first 16 hex>:<user
  * first 40 chars>` — chosen so every downstream result is reproducible in
  * ANSI SQL (DuckDB: sha256(), substring) for the oracle harness.
  * Simulates length-stops deterministically (hash suffix "00") to
  * exercise the retry path without affecting the final content.
  */
final case class MockLlmClient(override val model: String = "mock") extends LlmClient {

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val sys = msgs.find(_.role == "system").map(_.content).getOrElse("")
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    val h = LlmClient.sha256Hex(sys + "\n" + user)
    // first 40 CODEPOINTS, not UTF-16 code units: the oracle's
    // substring counts codepoints, and a supplementary-plane char
    // (emoji, 𝕠) is 2 units — .take(40) truncated multi-byte prompts
    // shorter than the oracle and every downstream chained hash
    // diverged (fuzz class, VERDICT r11 #1)
    val cp = math.min(40, user.codePointCount(0, user.length))
    val head40 = user.substring(0, user.offsetByCodePoints(0, cp))
    val content = s"RE:${h.take(16)}:$head40"
    val finish = if (h.endsWith("00") && attempt == 0) "length" else "stop"
    LlmResponse(content, finish)
  }
}

object MockLlmClient {

  /** DuckDB SQL expression mirroring the mock's content for a system
    * prompt rendered from `ins` and a user-prompt SQL expression.
    * sysSql/userSql are SQL string expressions (not literals).
    */
  def contentSql(sysSql: String, userSql: String): String =
    s"('RE:' || substring(sha256($sysSql || chr(10) || $userSql), 1, 16) || ':' || substring($userSql, 1, 40))"
}
