package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One builder per `DfCache` key, checked on the source text (no Spark
  * session): `DfCache` keeps whichever build of a key runs first, so two
  * call sites building the same key would make the cached frame depend
  * on query order. Every key starts with a literal name (the part before
  * the first `|` or `$`), and each name appears at exactly one
  * `DfCache.df(` / `DfCache.value(` call site under `src/main/scala`. */
class DfCacheKeySpec extends AnyFunSuite {

  private val Call =
    """DfCache\s*\.\s*(?:df|value)\s*\(\s*[^,()]+,\s*s?"([^"]*)"""".r

  /** (file:line, literal key prefix) of every call site. */
  private lazy val sites: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    files.flatMap { (p: Path) =>
      val text = new String(Files.readAllBytes(p))
      Call.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        (s"$p:$line", m.group(1).takeWhile(c => c != '|' && c != '$'))
      }
    }
  }

  test("the scan finds the cache call sites") {
    assert(sites.size >= 30, sites.mkString("\n"))
  }

  test("every DfCache key starts with a literal name") {
    val unnamed = sites.filter(_._2.isEmpty)
    assert(unnamed.isEmpty,
      "keys without a literal name:\n" + unnamed.map(_._1).mkString("\n"))
  }

  test("every DfCache key name has exactly one builder") {
    val copies = sites.groupBy(_._2).filter(_._2.size > 1)
    assert(copies.isEmpty, "keys built at more than one call site:\n" +
      copies.toSeq.sortBy(_._1).map { case (k, s) =>
        s"$k: ${s.map(_._1).mkString(", ")}"
      }.mkString("\n"))
  }
}
