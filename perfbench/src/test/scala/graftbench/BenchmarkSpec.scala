package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchmarkSpec extends AnyFunSuite {
  test("the query to family map covers exactly SparkEntry.queries") {
    val queries = graft.SparkEntry.queries.keySet
    val missing = queries -- Families.byQuery.keySet
    val stale = Families.byQuery.keySet -- queries
    assert(missing.isEmpty, s"queries without a family: $missing")
    assert(stale.isEmpty, s"families for queries that no longer exist: $stale")
    assert(Families.byQuery.size == 129)
    assert(Families.byQuery.values.toSet == Families.all.toSet)
    assert((Families.timed ++ Families.traced).forall(queries.contains))
    assert(Families.traced.forall(Families.timed.contains))
    assert(Families.all.forall(f => Families.timed.exists(Families.byQuery(_) == f)),
      "every family has a timed query")
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val root = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def list(key: String) = root.get(key).elements().asScala.toSeq
      .map(m => Metrics.M(m.get("name").asText, m.get("unit").asText))
    assert(list("end_to_end") == Metrics.endToEnd)
    assert(list("per_layer") == Metrics.perLayer)
    assert(Metrics.perLayer.size <= 128)
    assert((Metrics.endToEnd ++ Metrics.perLayer).map(_.name).distinct.size ==
      Metrics.endToEnd.size + Metrics.perLayer.size)
    val workloads = root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(workloads == Seq("suite", "library"))
  }
}
