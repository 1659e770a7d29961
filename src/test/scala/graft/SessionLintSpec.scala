package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Sessions come from one factory (GraftSession): no other main-source
  * file may build its own. ScaleUp keeps its builder because the file is
  * part of the d05/d19 sampled-truth certification key
  * (tools/close_cert.sh), which only an sf1 rerun can re-stamp. */
class SessionLintSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in GraftSession and ScaleUp") {
    val allowed = Set("GraftSession.scala", "ScaleUp.scala")
    val stream = Files.walk(Paths.get("src/main"))
    val offenders = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filterNot(p => allowed(p.getFileName.toString))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toList
    finally stream.close()
    assert(offenders.isEmpty, s"hand-built sessions outside the factory: $offenders")
  }
}
