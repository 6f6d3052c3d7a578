package graft

import org.scalatest.funsuite.AnyFunSuite

/** The MinHash / Count–Min hash family and the JVM base hashes are
  * written once, in functions/GraftFunctions: no other main source
  * spells out the family's offset constant or the 2^30 base fold, or
  * builds its own md5 or xxhash64 hasher. A plain scan of the sources
  * with comments stripped (StagingLintSpec's scan); no Spark session.
  */
class HashLintSpec extends AnyFunSuite {

  import StagingLintSpec._

  private val Module = Root.resolve("graft/functions/GraftFunctions.scala")

  private val Owned = Seq(
    "the family's offset 7919" -> raw"\b7919".r,
    "the 2^30 base fold" -> raw"\b1073741824(?!\d)".r,
    "an md5 hasher" -> raw"""getInstance\(\s*"MD5"\s*\)""".r,
    "an xxhash64 hasher" -> raw"\bXXH64\b".r)

  test("only GraftFunctions writes the hash family and the JVM base hashes") {
    val files = mainSources
    assert(files.contains(Module), s"$Module not scanned")
    val module = code(Module)
    Owned.foreach { case (name, re) =>
      assert(re.findFirstIn(module).nonEmpty, s"GraftFunctions lost $name")
    }
    val hits = for {
      f <- files if f != Module
      (line, n) <- code(f).linesIterator.zipWithIndex
      (name, re) <- Owned if re.findFirstIn(line).nonEmpty
    } yield s"$f:${n + 1}: $name: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
