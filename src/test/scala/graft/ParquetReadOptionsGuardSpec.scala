package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet reader the library opens runs under explicit read
  * options built over a conf the caller already holds. parquet's
  * defaults — `ParquetFileReader.open(file)` or
  * `ParquetReadOptions.builder()` — build a fresh Hadoop `Configuration`
  * per open and parse Hadoop's XML defaults again, which cost a store
  * write's task about a fifth of its time when each staged file's footer
  * was read back that way. This spec reads `src/main` and fails on
  * either spelling.
  */
class ParquetReadOptionsGuardSpec extends AnyFunSuite {
  import ParquetReadOptionsGuardSpec.violations

  private val mainRoot: Path = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  test("the detector flags the default-options spellings and nothing else") {
    assert(violations("val r = ParquetFileReader.open(in)").size === 1)
    assert(violations("ParquetFileReader.open(new BytesInputFile(f(a, b)))").size === 1)
    assert(violations("val o = ParquetReadOptions.builder( ).build()").size === 1)
    assert(violations("ParquetFileReader.open(in,\n  HadoopReadOptions.builder(conf).build())")
      .isEmpty)
    assert(violations("ParquetReadOptions.builder(parquetConf)").isEmpty)
    // comments may name the spellings freely
    assert(violations("// ParquetFileReader.open(in)\n/* ParquetReadOptions.builder() */")
      .isEmpty)
  }

  test("src/main opens no parquet reader under default read options") {
    assert(Files.isDirectory(mainRoot), s"no sources at $mainRoot")
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val found = files.flatMap { f =>
      violations(new String(Files.readAllBytes(f), "UTF-8"))
        .map(line => s"${mainRoot.relativize(f)}:$line")
    }
    assert(found.isEmpty,
      "parquet readers under default read options (pass HadoopReadOptions.builder(conf)" +
        s" over the conf in hand): ${found.mkString(", ")}")
  }
}

object ParquetReadOptionsGuardSpec {
  /** Line numbers of one-argument `ParquetFileReader.open(...)` calls and
    * no-argument `ParquetReadOptions.builder()` calls in Scala `src`,
    * outside comments.
    */
  def violations(src: String): Seq[Int] = {
    val code = blankComments(src)
    def lineOf(i: Int) = code.substring(0, i).count(_ == '\n') + 1
    val opens = "ParquetFileReader\\.open\\(".r.findAllMatchIn(code).collect {
      case m if topLevelArgs(code, m.end) == 1 => lineOf(m.start)
    }
    val builders = "ParquetReadOptions\\.builder\\(\\s*\\)".r.findAllMatchIn(code)
      .map(m => lineOf(m.start))
    (opens ++ builders).toSeq.sorted
  }

  /** Arguments of the call whose opening paren ends at `from`. */
  private def topLevelArgs(code: String, from: Int): Int = {
    var depth = 1
    var commas = 0
    var empty = true
    var i = from
    while (i < code.length && depth > 0) {
      code(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case c if !c.isWhitespace => empty = false
        case _ =>
      }
      i += 1
    }
    if (empty && commas == 0) 0 else commas + 1
  }

  /** `src` with its comments blanked (newlines kept, so offsets still
    * map to lines). String literals are not parsed: a line comment
    * opener inside one blanks the rest of its line, and a block comment
    * opener inside one (`src/main` has none) would blank code up to the
    * next block comment's end.
    */
  def blankComments(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
}
