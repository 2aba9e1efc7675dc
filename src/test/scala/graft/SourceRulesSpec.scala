package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source rules that keep the engine's design true as it changes. */
class SourceRulesSpec extends AnyFunSuite {

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("concurrent Spark jobs run only through graft.Waves") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    // ObservedMetrics awaits an Observation's future, not a job wave
    val allowed = Set("Waves.scala", "ObservedMetrics.scala")
    val banned = Seq("scala.concurrent", "Implicits.global", "Await.result")
    val hits = for {
      f <- scalaFiles(root) if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("use graft.Waves instead:\n", "\n", ""))
  }
}
