package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lineage cuts, caches and hand-offs live in one module, ops/Stage:
  * no other main source persists, checkpoints or re-roots a frame on
  * its RDD, and only Stage reads the reliable-checkpoint key. The
  * program's entry points and the environment keys it reads are pinned
  * lists. A plain scan of the sources with comments stripped; no Spark
  * session.
  */
class StagingLintSpec extends AnyFunSuite {

  import StagingLintSpec._

  private val StageFile = Root.resolve("graft/ops/Stage.scala")

  private val Banned = Seq(
    "persist" -> raw"\.persist\(".r,
    "localCheckpoint" -> raw"localCheckpoint\(".r,
    "checkpoint" -> raw"\.checkpoint\(".r,
    "StorageLevel" -> raw"\bStorageLevel\b".r,
    "createDataFrame over .rdd" -> raw"createDataFrame\(\s*[\w.]*\.rdd\b".r)

  test("stripComments drops comments and keeps literals") {
    val src = "a /* x /* nested */ y */ b // c.persist(\n" +
      "\"http://d\" '/' e"
    assert(stripComments(src) == "a  b \n\"http://d\" '/' e")
  }

  test("only ops/Stage persists, checkpoints or re-roots a frame") {
    val files = mainSources
    assert(files.size > 50 && files.contains(StageFile), s"scanned ${files.size}")
    val hits = for {
      f <- files if f != StageFile
      (line, n) <- code(f).linesIterator.zipWithIndex
      (name, re) <- Banned if re.findFirstIn(line).nonEmpty
    } yield s"$f:${n + 1}: $name: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the reliable-checkpoint key is read in exactly one place") {
    val uses = mainSources.map(f => f -> "spark.graft.reliableCheckpoint"
      .r.findAllIn(code(f)).size).filter(_._2 > 0)
    assert(uses == Seq(StageFile -> 1), uses.toString)
  }

  test("entry points and environment keys are pinned lists") {
    val files = mainSources.map(f => f -> code(f))
    val mains = files.collect { case (f, src) if src.contains("def main(") =>
      f.getFileName.toString.stripSuffix(".scala") }.toSet
    assert(mains == Set("Bench", "Verify", "FuzzGen", "Inspect"), mains.toString)
    val envRead = raw"""(?:sys\.env|System\.getenv)[.\w]*(?:\(\s*"(\w+)")?""".r
    val keys = files.flatMap { case (_, src) =>
      envRead.findAllMatchIn(src).map(m => Option(m.group(1))) }
    assert(!keys.contains(None), "an environment read whose key is not a literal")
    assert(keys.flatten.toSet == Set("SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_ONLY",
      "SPARK_GRAFT_BENCH_HEAVY_EXTRA", "SPARK_GRAFT_BENCH_ORACLE",
      "SPARK_GRAFT_BENCH_NO_LOCAL", "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_HASH_MODE", "SPARK_GRAFT_VERIFY_ONLY", "FUZZ_NULLS"),
      keys.flatten.distinct.sorted.mkString(", "))
  }
}

/** The comment-stripped scan of the main sources, shared by the lint
  * suites.
  */
object StagingLintSpec {

  val Root: Path = Paths.get("src/main/scala")

  /** `src` with `//` and (nested) block comments blanked out; string
    * and character literals are kept, so a "//" inside one survives.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"' || (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\'))) {
        val q = src(i)
        out += q; i += 1
        while (i < src.length && src(i) != q && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  def mainSources: Seq[Path] = {
    val walk = Files.walk(Root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  def code(p: Path): String =
    stripComments(new String(Files.readAllBytes(p), "UTF-8"))
}
