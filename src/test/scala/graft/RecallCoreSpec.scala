package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the recall@k audit: the engine scores every recall
  * and sweep gate through `Similarity.recallAt`, and the oracle writes
  * their SQL tail through `OracleSql.recallBranch` and their exact
  * top-k through `OracleSql.exactTopK`. A second copy of any of them
  * could drift from the gates it mirrors.
  */
class RecallCoreSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft")

  /** The definitions under `f` (a `.scala` file or a directory of them)
    * whose code contains `needle`, comment lines skipped: each match is
    * charged to the nearest `def` above it, named `file:line:name`.
    */
  private def owners(f: java.io.File, needle: String): Seq[String] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(owners(_, needle))
    else if (!f.getName.endsWith(".scala")) Nil
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      val defn = """^\s*(?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+)""".r
      var owner = s"${f.getName}:0:<top>"
      lines.zipWithIndex.flatMap { case (l, i) =>
        defn.findFirstMatchIn(l).foreach(m => owner = s"${f.getName}:${i + 1}:${m.group(1)}")
        val t = l.trim
        val comment = t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
        if (!comment && l.contains(needle)) Some(owner) else None
      }.distinct
    }

  test("the recall@k tail is written once in the engine and once in the oracle") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val engine = owners(new java.io.File(root, "operators"), "\"n_hit\"")
    assert(engine.size == 1 && engine.head.endsWith(":recallAt"),
      s"\"n_hit\" outside Similarity.recallAt: ${engine.mkString(", ")} — score through recallAt")
    val oracle = owners(new java.io.File(root, "OracleSql.scala"), "AS n_hit")
    assert(oracle.size == 1 && oracle.head.endsWith(":recallBranch"),
      s"AS n_hit outside OracleSql.recallBranch: ${oracle.mkString(", ")} — end with recallTail")
  }

  test("the oracle's exact top-k chain is written once") {
    val chain = owners(new java.io.File(root, "OracleSql.scala"), "exact AS (SELECT qid, vid FROM xr")
    assert(chain.size == 1 && chain.head.endsWith(":exactTopK"),
      s"exact top-k chain outside OracleSql.exactTopK: ${chain.mkString(", ")} — build it with exactTopK")
  }
}
