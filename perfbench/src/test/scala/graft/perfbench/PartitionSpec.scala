package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PartitionSpec extends AnyFunSuite {

  test("the package workloads partition SparkEntry.defs") {
    assert(Workloads.partitionErrors.isEmpty, Workloads.partitionErrors.mkString("\n"))
    val owned = Workloads.packages.map(p => Workloads.ordered(p, 0L).map(_.name))
    assert(owned.flatten.sorted == graft.SparkEntry.defs.keys.toSeq.sorted)
  }

  // A query added to the registry changes one of these sizes: assign it
  // here deliberately, and record its sf0.1 count in golden/counts_sf0.1.json.
  test("each workload runs the queries it was defined with") {
    val sizes = Workloads.names.keys.map(w => w -> Workloads.ordered(w, 0L).size).toMap
    assert(sizes == Map("recsys" -> 16, "recsys_cold" -> 16, "recsys_heavy" -> 14,
      "lifecycle" -> 1, "relational" -> 22, "relational_heavy" -> 14, "events" -> 17,
      "curation" -> 86))
  }

  test("the seed and the pass permute the order but not the set, index builds first") {
    for (w <- Workloads.names.keys) {
      val a = Workloads.ordered(w, 1L).map(_.name)
      val b = Workloads.ordered(w, 2L).map(_.name)
      assert(a.sorted == b.sorted)
      val builds = a.takeWhile(_.endsWith("_index_build"))
      assert(builds == a.filter(_.endsWith("_index_build")))
    }
    assert(Workloads.ordered("relational", 1L) != Workloads.ordered("relational", 2L))
    assert(Workloads.ordered("relational", 1L, 1) != Workloads.ordered("relational", 1L, 2))
    assert(Workloads.ordered("relational", 1L, 1) == Workloads.ordered("relational", 1L, 1))
  }
}
