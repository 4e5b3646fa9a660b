package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SamplerSpec extends AnyFunSuite {
  private val ids = graft.SparkEntry.registry.map(_._1)

  test("the sample is deterministic for a seed and the seed only rotates its order") {
    assert(QueryMix.sample(ids, 7) == QueryMix.sample(ids, 7))
    val sorted = QueryMix.sample(ids, 7).sorted
    (1 to 5).foreach { seed =>
      val s = QueryMix.sample(ids, seed)
      val k = s.indexOf(sorted.head)
      assert(s.drop(k) ++ s.take(k) == sorted, s"seed $seed")
    }
    assert((1 to 5).map(s => QueryMix.sample(ids, s)).distinct.size > 1)
  }

  test("the sample is the first entry of every family") {
    val s = QueryMix.sample(ids, 3)
    assert(s.sorted == ids.map(QueryMix.family).distinct.map(f => ids.find(QueryMix.family(_) == f).get).sorted)
    assert(s.size == 30)
  }

  test("every registry id has an owning module") {
    assert(ids.forall(QueryMix.owner.contains))
    assert(QueryMix.owner.values.toSet == Set("rel", "zonal", "llm", "stream"))
  }
}
