package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the library goes through `Tables.parquet`, so
  * none launches a schema-inference job. A raw `spark.read.parquet(`
  * (or `.read.option(...).parquet(`) anywhere else fails here, which
  * keeps the rule from eroding one call site at a time. There is no
  * exception; the test name still mentions `Compactor.readEvolved`,
  * which is deleted, so that the test keeps its id.
  */
class RawReadGuardSpec extends AnyFunSuite {

  private val RawRead = """\.read\s*(?:\.option\([^)]*\)\s*)*\.parquet\(""".r
  private val Def = """\bdef\s+(\w+)""".r
  private val Allowed = Set("Tables.scala" -> "parquet")

  test("no raw parquet read outside Tables.parquet and Compactor.readEvolved") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "src/main/scala not found from the test's working directory")
    // (file, enclosing def, line) of every raw read
    val found = files.flatMap { f: Path =>
      val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      RawRead.findAllMatchIn(text).map { m =>
        val owner = Def.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
          .fold("")(_.group(1))
        (f.getFileName.toString, owner, text.substring(0, m.start).count(_ == '\n') + 1)
      }
    }
    val offenders = found.filterNot { case (file, owner, _) => Allowed((file, owner)) }
    assert(offenders.isEmpty, offenders.map { case (f, d, l) => s"$f:$l (def $d)" }
      .mkString("raw parquet reads; use Tables.parquet: ", ", ", ""))
    // the pattern still sees the one read it allows, so it cannot
    // silently match nothing
    assert(found.map(x => (x._1, x._2)).toSet == Allowed, found)
  }
}
