package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.registry.Registry

/** The registry declares each query once: one spec per name, every spec
  * under `graft/registry` reachable from `Registry.specs`, and
  * SparkEntry's maps built once from them. */
class RegistrySpec extends SparkSpec {

  private def source(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  test("query names are unique across families") {
    val dups = Registry.specs.groupBy(_.name).collect {
      case (name, specs) if specs.size > 1 => s"$name in ${specs.map(_.family).mkString(", ")}"
    }
    assert(dups.isEmpty, s"declared twice: $dups")
    assert(Registry.specs.size == SparkEntry.queries.size)
  }

  test("SparkEntry's maps are vals, built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("every QuerySpec declared under src/main/scala/graft/registry is registered") {
    // a family object left out of Registry.families still compiles; its
    // declarations would then be missing from the maps
    val dir = Paths.get("src/main/scala/graft/registry")
    val declared = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => """\bspec\("q\d+_""".r.findAllMatchIn(source(p.toString)).size)
      .sum
    assert(declared == SparkEntry.queries.size)
  }

  test("SparkEntry.scala names no query; entry is the q1 spec at sf0.001") {
    val text = source("src/main/scala/graft/SparkEntry.scala")
    assert("\"q\\d+_".r.findFirstIn(text).isEmpty)
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    assert(SparkEntry.entry(spark).collect().toSet == q1.collect().toSet)
  }
}
