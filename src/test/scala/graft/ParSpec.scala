package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("a failing task rethrows its error only after its slow sibling has finished") {
    val slowDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Par.inParallel(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(err.getMessage === "boom")
    assert(slowDone.get(), "the call returned while a sibling was still running")
  }

  test("inParallelAll returns every value in input order; the first failure in input order wins") {
    assert(Par.inParallelAll(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
    val err = intercept[RuntimeException] {
      Par.inParallelAll(Seq[() => Int](
        () => { Thread.sleep(200); throw new RuntimeException("first") },
        () => throw new RuntimeException("second")))
    }
    assert(err.getMessage === "first")
  }

  test("only Par starts futures, so every sibling is awaited") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val par = new java.io.File(root, "graft/operators/Par.scala")
    assert(par.isFile)
    val offenders = files(root).filter { f =>
      f != par && {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("Future(") finally src.close()
      }
    }
    assert(offenders.isEmpty,
      s"Future( outside graft.operators.Par: ${offenders.map(_.getPath).mkString(", ")}" +
        " — run concurrent work through Par.inParallelAll")
  }
}
