package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions._

/** The one source sweep behind the regrowth guards: every line of
  * `src/main/scala` that matches a pattern must sit in the file that owns
  * the mechanism or carry a justified allowlist entry, and every
  * allowlist entry must still match a line.
  */
object SourceSweep {
  private val Root = Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, trimmed line) of every matching line. */
  def hits(rx: Regex): Seq[(String, String)] = {
    val walk = Files.walk(Root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val rel = Root.relativize(p).toString
      Files.readAllLines(p).asScala.map(_.trim).filter(l => rx.findFirstIn(l).isDefined)
        .map(l => (rel, l))
    }.toSeq finally walk.close()
  }

  /** Fails on a match outside `owner` that has no entry in `allowlist`
    * (keyed by file and trimmed line, valued by the reason), and on an
    * entry that matches no line.
    */
  def guard(rx: Regex, owner: String, allowlist: Map[(String, String), String]): Unit = {
    val found = hits(rx)
    val offending = found.filterNot(h => h._1 == owner || allowlist.contains(h))
    assert(offending.isEmpty, s"matches of $rx outside $owner:\n" + offending.mkString("\n"))
    val stale = allowlist.keySet -- found
    assert(stale.isEmpty, "allowlist entries that match no code:\n" + stale.mkString("\n"))
  }
}
