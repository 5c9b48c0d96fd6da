package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans. Operators and streaming code persist shared intermediates
  * only through Graft.persist / Graft.fill, so that Graft.releaseCaches
  * knows everything graft cached. A direct `.persist(` or `.cache()` there
  * would be invisible to it and would linger in the caller's session.
  * And every main builds its session through Graft.session, so session
  * config lives in one place.
  */
class PersistScanSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found (tests run from the repository root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no direct persist or cache under operators/ and streaming/") {
    val files = dirs.flatMap(scalaFiles)
    assert(files.size > 10, s"scan found only ${files.size} files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if code.contains(".persist(") || code.contains(".cache()")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "persist through graft.Graft.persist / fill instead:\n" + hits.mkString("\n"))
  }

  test("SparkSession.builder appears under src/main only in Graft.session") {
    val hits = for {
      f <- scalaFiles("src/main/scala/graft")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield (f.getFileName.toString, s"$f:${i + 1}: ${line.trim}")
    assert(hits.map(_._1) == Seq("Graft.scala"),
      "build sessions with graft.Graft.session instead:\n" + hits.map(_._2).mkString("\n"))
  }
}
