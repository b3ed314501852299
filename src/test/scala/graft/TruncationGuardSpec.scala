package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lineage truncation has one home: `Bridge.truncate` and
  * `Bridge.truncateBounded`, which choose reliable files (checkpoint
  * dir set, cluster deployment) or local blocks from the context. A
  * bare `localCheckpoint` anywhere else would keep state on a single
  * executor on paths that claim cluster safety, so any checkpoint call
  * outside Bridge.scala fails this spec. Bounded streaming replays
  * likewise have one home per caller: `IngestQueries.drain` for the
  * catalog entries and the public `StreamOps.routeCorrupt`. */
class TruncationGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** (file, 1-based line number, line) for every main source line. */
  private def sourceLines: Seq[(java.io.File, Int, String)] = {
    assert(root.isDirectory,
      s"${root.getAbsolutePath} not found from the test working dir")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    for {
      f <- walk(root) if f.getName.endsWith(".scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath,
        java.nio.charset.StandardCharsets.UTF_8).toArray.zipWithIndex
    } yield (f, i + 1, line.toString)
  }

  test("no checkpoint call under src/main/scala outside Bridge.scala") {
    val bridge = new java.io.File(root,
      "org/apache/spark/sql/graft/Bridge.scala")
    assert(bridge.isFile, s"$bridge not found")
    val call = """localCheckpoint|\.checkpoint\(""".r
    val hits = for {
      (f, n, line) <- sourceLines
      if f != bridge && call.findFirstIn(line).isDefined
    } yield s"$f:$n: ${line.trim}"
    assert(hits.isEmpty, "truncate through Bridge.truncate / " +
      "Bridge.truncateBounded instead:\n" + hits.mkString("\n"))
  }

  test("streaming queries run to completion only in drain and routeCorrupt") {
    val lines = sourceLines
    for (call <- Seq(".awaitTermination()", "Trigger.AvailableNow()")) {
      val hits = lines.filter(_._3.contains(call))
      val perFile = hits.groupBy(_._1.getName).map { case (k, v) =>
        k -> v.map(_._3.sliding(call.length).count(_ == call)).sum
      }
      assert(perFile === Map("IngestQueries.scala" -> 1,
          "StreamOps.scala" -> 1),
        s"\n$call belongs to IngestQueries.drain and StreamOps.routeCorrupt" +
          " only; drain streaming entries through drain/drainToMemory:\n" +
          hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
    }
  }
}
