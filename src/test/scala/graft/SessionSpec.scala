package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("deleteTree removes a symlink to a directory and leaves the target's files in place") {
    val target = Files.createTempDirectory("graft-target")
    val kept = Files.writeString(target.resolve("kept.txt"), "x")
    val tree = Files.createTempDirectory("graft-tree")
    Files.writeString(tree.resolve("own.txt"), "y")
    val link = Files.createSymbolicLink(tree.resolve("link"), target)
    try {
      Session.deleteTree(tree.toFile)
      assert(!Files.exists(tree))
      assert(!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.isRegularFile(kept), "deleteTree reached through the symlink")
    } finally Session.deleteTree(target.toFile)
  }
}
