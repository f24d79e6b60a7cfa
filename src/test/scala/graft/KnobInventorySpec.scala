package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for `spark.graft.*` session confs: every key read in
  * `src/main` has a row in README's "Knobs" table naming the spec that
  * sets its non-default arm, and every row names a key that still
  * exists. A new knob therefore arrives with its tested arm, and a
  * deleted one cannot come back unnoticed.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val ConstDef = "val\\s+(\\w+)\\s*=\\s*\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val TableRow = "^\\|\\s*`(spark\\.graft\\.[^`]+)`.*\\|\\s*`(\\w+Spec)`\\s*\\|\\s*$".r

  private def scalaSources(root: String): Seq[(File, String)] =
    Files.walk(new File(root).toPath).iterator().asScala
      .map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".scala"))
      .map(f => f -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .toSeq

  private lazy val mainSources = scalaSources("src/main")
  private lazy val testSources = scalaSources("src/test")

  /** key → the spec named in its README row. */
  private lazy val readmeRows: Map[String, String] =
    Files.readAllLines(new File("README.md").toPath).asScala.toSeq
      .flatMap(l => TableRow.findFirstMatchIn(l.trim).map(m => m.group(1) -> m.group(2)))
      .toMap

  test("the spark.graft.* keys read in src/main are exactly the README Knobs table") {
    val inCode = mainSources.flatMap { case (_, s) =>
      KeyLiteral.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(readmeRows.size == 4, s"README Knobs table rows: ${readmeRows.keys.toSeq.sorted}")
    assert(inCode == readmeRows.keySet,
      s"only in code: ${(inCode -- readmeRows.keySet).toSeq.sorted}; " +
        s"only in README: ${(readmeRows.keySet -- inCode).toSeq.sorted}")
  }

  test("each knob's README row names a spec that sets the key") {
    val consts: Map[String, Set[String]] = mainSources
      .flatMap { case (_, s) => ConstDef.findAllMatchIn(s).map(m => m.group(2) -> m.group(1)) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    readmeRows.foreach { case (key, spec) =>
      val file = testSources.find(_._1.getName == s"$spec.scala")
      assert(file.nonEmpty, s"$key: no spec file $spec.scala under src/test")
      val text = file.get._2
      val names = consts.getOrElse(key, Set.empty)
      assert(text.contains("\"" + key + "\"") || names.exists(n => text.contains(s".$n")),
        s"$key: $spec neither sets the key nor references ${names.mkString("/")}")
    }
  }
}
