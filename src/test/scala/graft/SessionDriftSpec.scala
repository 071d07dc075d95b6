package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one session builder and one install path: a second
  * `SparkSession.builder` under `src/main`, or a per-query
  * `GraftFunctions.register` call in `SparkEntry`, fails here.
  */
class SessionDriftSpec extends AnyFunSuite {

  private val root: Path = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("GraftSession is the only SparkSession builder under src/main") {
    val builders = sources
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/GraftSession.scala"), builders)
  }

  test("SparkEntry calls no GraftFunctions.register") {
    val src = Files.readString(root.resolve("graft/SparkEntry.scala"))
    assert("""GraftFunctions\s*\.\s*register\s*\(""".r.findFirstIn(src).isEmpty)
  }
}
