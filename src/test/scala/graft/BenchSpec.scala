package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("record file: full suites keep their name, subsets carry a query-set digest") {
    assert(Bench.recordFile("32", "/data/sf0.1/", "full", Seq("a", "b")) ==
      "bench_medians_c32_sf0.1_full.json")
    // md5("dedup_jaccard,graph_kcore") starts 7009a573
    val sub = Bench.recordFile("8", "/data/sf0.1", "subset", Seq("graph_kcore", "dedup_jaccard"))
    assert(sub == "bench_medians_c8_sf0.1_subset_7009a573.json", sub)
    // order-free in the query names, distinct across query sets
    assert(Bench.recordFile("8", "/data/sf0.1", "subset", Seq("dedup_jaccard", "graph_kcore")) == sub)
    assert(Bench.recordFile("8", "/data/sf0.1", "subset", Seq("dedup_jaccard")) != sub)
  }
}
