package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** The instruction-MapReduce engine (reference flow §3.1:
  * apps/instructions-mapreduce/inf.py + InstructionsRunnerBase.async_run,
  * instructions_runners.py:127-159).
  *
  * Execution model, re-designed for Spark instead of translated:
  * - The reference loops rows sequentially and fans out instructions
  *   per row with asyncio.gather. Here rows parallelize across
  *   partitions/executors for free, and the per-row instruction
  *   fan-out becomes concurrent call units of [[LlmClient.perRow]],
  *   micro-batched (O7: batch size 8) on a bounded JVM-wide I/O pool.
  * - A stage's only inter-stage IR is a map<string,string> column
  *   (result map), exactly like the reference's `Instructions.result`.
  * - The LLM boundary is a pluggable LlmClient with per-executor LRU
  *   caching and length-stop retry; tests and the oracle harness use
  *   the deterministic MockLlmClient.
  *
  * The LLM call is the one operator family that is deliberately NOT a
  * Catalyst expression: it is non-deterministic in production,
  * side-effecting and latency-bound, so it lives in a partition loop
  * where batching/concurrency are controllable (SURVEY §2.7).
  */
object InstructionRunner {

  /** Stage-0 identity (reference impl/mapreduce/v0.py:42-46 +
    * json2str_kv, utils.py:20-27): project the row into a
    * map<string,string> result column. Pure expression — column
    * pruning still reaches the scan for untouched columns.
    *
    * Atomic types render via cast (the reference's str()); nested
    * struct/map/array columns render via to_json, matching the
    * reference's json.dumps branch — cast would produce Spark's
    * bracket syntax, which no downstream JSON consumer parses.
    */
  def stringifyKv(df: DataFrame, cols: Seq[String], outCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val kvs = cols.flatMap { c =>
      val rendered = df.schema(c).dataType match {
        case _: StructType | _: MapType | _: ArrayType => to_json(col(c))
        case _ => col(c).cast("string")
      }
      Seq(lit(c), rendered)
    }
    df.withColumn(outCol, map(kvs: _*))
  }

  /** Run one instruction stage: for each row, project each
    * instruction's scope from `inCol`, render prompts, call the LLM
    * (batched, concurrent, cached, retried), and fold outputs into
    * the `outCol` result map. Instructions whose scoped input is
    * entirely invalid are skipped (reference llm_cli.py:97-99).
    */
  def runStage(df: DataFrame, stage: InstructionStage, client: LlmClient,
               inCol: String, outCol: String): DataFrame = {
    val schema = df.schema
    val outSchema = schema.add(outCol, MapType(StringType, StringType))
    val inIdx = schema.fieldIndex(inCol)
    val instructions = stage.instructions
    LlmClient.perRow(df, Encoders.row(outSchema)) { row =>
      val input = row.getMap[String, String](inIdx)
      instructions.map(ins => () => Prompts.userPrompt(ins, input).map(user =>
        ins.name -> client.run(firstTurn(ins, user))))
    }((row, outs) => Seq(Row.fromSeq(row.toSeq :+ outs.flatten.toMap)))
  }

  /** The system + user opening of an instruction's conversation. */
  private def firstTurn(ins: Instruction, user: String): Seq[ChatMessage] =
    Seq(ChatMessage("system", Prompts.sysPrompt(ins)), ChatMessage("user", user))

  /** Run a whole pipeline config: stage-0 stringify, then each stage
    * feeding the next (reference run_with_configs,
    * impl/mapreduce/v0.py:28-70). Returns the input columns plus one
    * `<stageName>_result` map column per stage and a `result_md`
    * markdown render of the final stage (S6).
    */
  def runPipeline(df: DataFrame, config: PipelineConfig, client: LlmClient,
                  inputCols: Seq[String]): DataFrame = {
    val stage0 = stringifyKv(df, inputCols, "stage0_result")
    val after = config.stages.zipWithIndex.foldLeft(stage0) {
      case (d, (stage, i)) =>
        val inCol = if (i == 0) "stage0_result" else s"${config.stages(i - 1).name}_result"
        runStage(d, stage, client, inCol, s"${stage.name}_result")
    }
    val last = config.stages.last
    after.withColumn("result_md",
      markdownExpr(last.instructions.map(_.name), col(s"${last.name}_result")))
  }

  /** Markdown render of a result map for a static instruction list
    * (S6, instructions_to_md) as a pure expression: `# name\nvalue\n`
    * sections joined by newline, missing entries skipped (concat_ws
    * skips nulls).
    */
  def markdownExpr(names: Seq[String], resultMap: org.apache.spark.sql.Column) =
    concat_ws("\n", names.map { n =>
      val v = element_at(resultMap, n)
      when(v.isNotNull, concat(lit(s"# $n\n"), v, lit("\n")))
    }: _*)

  /** L4 — self-verified multi-turn chain (reference SelfVerifiedMapper,
    * apps/archive/self-verified-mr/self_verification_mr.py:228-417):
    * turn 1 answers the scoped input; each later turn applies a
    * template to the previous answer (extraction → omission check →
    * evidence attribution …). The conversation is an immutable fold
    * over turns — no mutable msgs state (SURVEY §7.4.7).
    */
  def runChain(df: DataFrame, ins: Instruction, turns: Seq[String],
               client: LlmClient, inCol: String, outCol: String): DataFrame = {
    val schema = df.schema
    val outSchema = schema.add(outCol, StringType)
    val inIdx = schema.fieldIndex(inCol)
    LlmClient.perRow(df, Encoders.row(outSchema)) { row =>
      val input = row.getMap[String, String](inIdx)
      // one unit per row: the turns of a conversation stay sequential
      Seq(() => Prompts.userPrompt(ins, input).map { user0 =>
        var msgs = firstTurn(ins, user0)
        var content = client.run(msgs)
        for (template <- turns) {
          msgs = msgs :+ ChatMessage("assistant", content) :+
            ChatMessage("user", s"$template\n$content")
          content = client.run(msgs)
        }
        content
      }.orNull)
    }((row, result) => Seq(Row.fromSeq(row.toSeq ++ result)))
  }

  /** L7 — agentic dispatch (reference agentic MR supervisor fan-out,
    * impl/agentic_mr/v0.py:116-158): each instruction is routed to its
    * task's client; per-task results merge into one map (the
    * LangGraph `Send` fan-out + merge_dicts reducer, re-expressed as
    * grouped stage runs + map_concat — config is tiny, so the
    * "routing" is plan construction, not a data shuffle).
    */
  def dispatchByTask(df: DataFrame, stage: InstructionStage,
                     clients: Map[String, LlmClient],
                     inCol: String, outCol: String): DataFrame = {
    val byTask = stage.instructions.groupBy(_.model).toSeq.sortBy(_._1)
    val ran = byTask.zipWithIndex.foldLeft(df) {
      case (d, ((task, ins), i)) =>
        runStage(d, InstructionStage(s"${stage.name}_$task", ins),
          clients(task), inCol, s"__task_$i")
    }
    ran.withColumn(outCol,
      map_concat(byTask.indices.map(i => col(s"__task_$i")): _*))
      .drop(byTask.indices.map(i => s"__task_$i"): _*)
  }

  /** ChatML audit traces (S7, instructions_collect): one row per
    * (input row × instruction) with the full conversation, keyed by a
    * deterministic session id derived from `sessionKeyCol`.
    */
  def traceStage(df: DataFrame, stage: InstructionStage, client: LlmClient,
                 inCol: String, sessionKeyCol: String): DataFrame = {
    val schema = df.schema
    val inIdx = schema.fieldIndex(inCol)
    val keyIdx = schema.fieldIndex(sessionKeyCol)
    val instructions = stage.instructions
    val stageName = stage.name
    LlmClient.perRow(df, Encoders.product[InstructionTrace]) { row =>
      val input = row.getMap[String, String](inIdx)
      val session = LlmClient.sha256Hex(String.valueOf(row.get(keyIdx))).take(32)
      instructions.map(ins => () => Prompts.userPrompt(ins, input) match {
        case Some(user) =>
          val msgs = firstTurn(ins, user)
          val out = client.run(msgs)
          InstructionTrace(session, stageName, ins.name,
            msgs :+ ChatMessage("assistant", out), out, finished = true)
        case None =>
          InstructionTrace(session, stageName, ins.name, Nil, null,
            finished = false)
      })
    }((_, traces) => traces).toDF()
  }
}
