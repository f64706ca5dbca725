package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  test("every selected query resolves from the family objects") {
    Workloads.names.foreach { case (w, names) =>
      assert(Workloads.resolve(w).map(_.name) == names)
      assert(names.distinct == names, s"$w lists a query twice")
    }
  }

  test("every selected query has a static oracle") {
    for (w <- Workloads.names.keys; q <- Workloads.resolve(w))
      assert(q.sql.exists(_.trim.nonEmpty), s"$w: ${q.name} has no static oracle SQL")
    // DynamicOracles entries register their SQL only after they ran
    val dynamic = Seq("q156_", "q157_")
    assert(!Workloads.names.values.flatten.exists(n => dynamic.exists(n.startsWith)))
  }

  test("unknown workloads and query names are rejected") {
    assertThrows[IllegalArgumentException](Workloads.resolve("no_such_workload"))
  }

  test("the harness never touches the registry that reads /root/reference") {
    val src = Paths.get("src/main/scala")
    val text = Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).mkString
    Seq("SparkEntry", "ImdbQueries", "TpchQueries").foreach(n =>
      assert(!text.contains(n + "."), s"harness references $n"))
  }

  test("BENCHMARK.json names exactly the harness's workloads") {
    val spec = Files.readString(Paths.get("../BENCHMARK.json"))
    val listed = """"name":\s*"(\w+)",\s*"why"""".r.findAllMatchIn(spec)
      .map(_.group(1)).toSet
    assert(listed == Workloads.names.keySet)
  }
}
