package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-session-factory rule: every main builds its
  * session through `graft.GraftSession`, so session configuration and the
  * environment knobs that steer it live in one place. */
class SessionLintSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src", "main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def isFile(p: Path, name: String) = p.getFileName.toString == name

  test("GraftSession holds the only SparkSession builder call in src/main") {
    // whitespace-normalized, so a line-wrapped call is still counted
    val call = java.util.regex.Pattern.quote("SparkSession.builder(").r
    val hits = mainSources.flatMap { case (p, text) =>
      Seq.fill(call.findAllIn(text.replaceAll("\\s+", "")).size)(p)
    }
    assert(hits.size == 1 && isFile(hits.head, "GraftSession.scala"),
      s"expected one builder call, in GraftSession.scala; found: ${hits.mkString(", ")}")
  }

  test("no SPARK_GRAFT_* variable is read outside the kept set") {
    val kept = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val bad = mainSources.flatMap { case (p, text) =>
      knob.findAllIn(text).distinct.filterNot { v =>
        kept(v) || (v == "SPARK_GRAFT_REPS" && isFile(p, "Time.scala"))
      }.map(v => s"$p: $v")
    }
    assert(bad.isEmpty, s"unexpected knobs: ${bad.mkString(", ")}")
  }
}
