package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every session gets graft's engine confs and extensions from
  * [[GraftSession.builder]]: a hand-built `SparkSession` builder anywhere
  * else in the sources would start with its own copy of the confs, and
  * such copies drift (a missing UTC or AQE setting changes results or
  * plans without failing to compile).
  */
class SessionBuilderSpec extends AnyFunSuite {

  private val handBuilt = """SparkSession\s*\.\s*builder\b|new\s+SparkSession\s*\.\s*Builder\b""".r

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("SparkSession builders appear only in GraftSession.scala") {
    val home = new java.io.File("src/main/scala/graft/GraftSession.scala")
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.contains(home),
      s"scanned ${files.size} files from ${new java.io.File(".").getAbsolutePath}, none is $home")
    val offenders = for {
      f <- files if f != home
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      if handBuilt.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail("build sessions with GraftSession.builder(master, shufflePartitions) and add only " +
        "deployment settings:\n" + offenders.mkString("\n"))
  }
}
