package graft.pipeline

/** Typed pipeline model mirroring the reference's pydantic IR
  * (src/python/instructionspipe/instructions.py:18-54): an
  * `Instruction` is the unit of computation — it projects a subset of
  * the row (`scope`), renders a prompt, calls an LLM, and emits one
  * named string output; a stage is an ordered set of instructions
  * whose outputs fold into a `Map[String,String]` result — the only
  * inter-stage IR.
  */
final case class ChatMessage(role: String, content: String)

final case class Instruction(
    name: String,
    role: String = "",
    task: String = "",
    requirements: Seq[String] = Nil,
    knowledge: String = "",
    scope: Seq[String] = Nil,
    model: String = "mock")

final case class InstructionStage(
    name: String,
    instructions: Seq[Instruction])

final case class PipelineConfig(stages: Seq[InstructionStage])

/** One instruction execution's audit record (reference
  * `instructions_collect`, instructions.py:156-167): the full ChatML
  * conversation plus the result, keyed by session.
  */
final case class InstructionTrace(
    session_id: String,
    stage: String,
    name: String,
    msgs: Seq[ChatMessage],
    result: String,
    finished: Boolean)

object Prompts {

  /** System-prompt render (reference instruction_to_sys_prompt,
    * instructions.py:57-95): ordered markdown sections, empty sections
    * skipped. Deliberately built from plain concatenation so the
    * deterministic mock's outputs are reproducible in ANSI SQL for the
    * oracle harness.
    */
  def sysPrompt(ins: Instruction): String = {
    val sections = Seq(
      "## Your Role" -> ins.role,
      "## Task" -> ins.task,
      "## Requirements" -> ins.requirements.mkString("\n"),
      "## Knowledge" -> ins.knowledge)
    sections.collect { case (h, body) if body.nonEmpty => s"$h\n$body" }
      .mkString("\n\n")
  }

  /** User-message render from the scoped slice of the input KV map
    * (reference json_str_kv_to_md, utils.py:51-63 + build_inputs
    * scope/invalid filtering, instructions_runners.py:42-61): one
    * `# key\nvalue\n` section per valid scoped field, in scope order.
    * Returns None when every scoped field is missing/invalid — the
    * instruction is then skipped (reference returns None and the LLM
    * call is bypassed, llm_cli.py:97-99).
    */
  def userPrompt(ins: Instruction, input: collection.Map[String, String]): Option[String] = {
    val keys = if (ins.scope.nonEmpty) ins.scope else input.keys.toSeq.sorted
    val sections = keys.flatMap { k =>
      input.get(k).filter(v => !isInvalid(v)).map(v => s"# $k\n$v\n")
    }
    if (sections.isEmpty) None else Some(sections.mkString)
  }

  /** The reference's null-semantics set (constants.py:9-20) — EXACT
    * membership, same contract as GraftFunctions.InvalidVals (see its
    * scaladoc for why trim-based variants are wrong cross-engine).
    */
  private val InvalidSet: Set[String] =
    graft.functions.GraftFunctions.InvalidVals.toSet

  def isInvalid(v: String): Boolean =
    v == null || InvalidSet.contains(v)
}
