package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the commit protocol: a lost commit is retried by
  * `TxnCatalog.retryOnConflict` alone. A hand-rolled loop that catches
  * every `IOException` (and so retries real storage failures) or sleeps
  * between attempts of its own fails here, and so does a second protocol
  * that places its own commit markers. Reads the sources only; no Spark
  * session. */
class CommitRetryLintSpec extends AnyFunSuite {

  private val mainSrc: Path = Paths.get(sys.props("user.dir"), "src", "main",
    "scala")

  private def sources(under: Path): Seq[(Path, String)] = {
    require(Files.isDirectory(under), s"source tree not found: $under")
    val walk = Files.walk(under)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toList
    finally walk.close()
  }

  private def hits(text: String, pattern: scala.util.matching.Regex)
      : Seq[Int] =
    text.linesIterator.zipWithIndex.collect {
      case (line, i) if pattern.findFirstIn(line).isDefined => i + 1
    }.toSeq

  test("no catch clause retries on a guarded IOException") {
    val guarded = """case\s+\w+\s*:\s*(java\.io\.)?IOException\s+if\b""".r
    val found = sources(mainSrc).flatMap { case (p, text) =>
      hits(text, guarded).map(l => s"${mainSrc.relativize(p)}:$l")
    }
    assert(found.isEmpty,
      s"retry only on CommitConflict via TxnCatalog.retryOnConflict: $found")
  }

  test("graft/storage sleeps only inside retryOnConflict") {
    val storage = mainSrc.resolve(Paths.get("graft", "storage"))
    val found = sources(storage).flatMap { case (p, text) =>
      // blank out the helper's own body: from its `def` to the first
      // line closing a member at the object's indent
      val start = text.indexOf("def retryOnConflict")
      val rest =
        if (start < 0) text
        else {
          val end = text.indexOf("\n  }\n", start)
          require(end > start, s"unterminated retryOnConflict in $p")
          text.substring(0, start) +
            "\n" * text.substring(start, end).count(_ == '\n') +
            text.substring(end)
        }
      hits(rest, """Thread\.sleep""".r)
        .map(l => s"${mainSrc.relativize(p)}:$l")
    }
    assert(found.isEmpty,
      s"back off via TxnCatalog.retryOnConflict, not a local sleep: $found")
  }

  test("only TxnCatalog places a commit marker") {
    val protocol = Paths.get("graft", "storage", "TxnCatalog.scala")
    val found = sources(mainSrc)
      .filterNot { case (p, _) => mainSrc.relativize(p) == protocol }
      .flatMap { case (p, text) =>
        hits(text, """atomicPlace\(""".r)
          .map(l => s"${mainSrc.relativize(p)}:$l")
      }
    assert(found.isEmpty,
      s"commit through TxnCatalog, not a marker protocol of its own: $found")
  }
}
