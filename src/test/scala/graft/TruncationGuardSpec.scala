package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lineage truncation has one home: `Bridge.truncate` and
  * `Bridge.truncateBounded`, which choose reliable files (checkpoint
  * dir set, cluster deployment) or local blocks from the context. A
  * bare `localCheckpoint` anywhere else would keep state on a single
  * executor on paths that claim cluster safety, so any checkpoint call
  * outside Bridge.scala fails this spec. */
class TruncationGuardSpec extends AnyFunSuite {

  test("no checkpoint call under src/main/scala outside Bridge.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"${root.getAbsolutePath} not found from the test working dir")
    val bridge = new java.io.File(root,
      "org/apache/spark/sql/graft/Bridge.scala")
    assert(bridge.isFile, s"$bridge not found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val call = """localCheckpoint|\.checkpoint\(""".r
    val hits = for {
      f <- walk(root) if f.getName.endsWith(".scala") && f != bridge
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath,
        java.nio.charset.StandardCharsets.UTF_8).toArray.zipWithIndex
      if call.findFirstIn(line.toString).isDefined
    } yield s"$f:${i + 1}: ${line.toString.trim}"
    assert(hits.isEmpty, "truncate through Bridge.truncate / " +
      "Bridge.truncateBounded instead:\n" + hits.mkString("\n"))
  }
}
