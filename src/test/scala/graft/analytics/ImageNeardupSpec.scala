package graft.analytics

import graft.{SparkEntry, SparkSuite}

/** q116's execution-shape invariant: the banded-LSH self-join must
  * consume ONE decode+dhash pass over the staged PNG lake — the second
  * join side as a ReusedExchange over the (band, bkey) shuffle — with
  * no session-lifetime block-manager cache pinned (the round-14 advice
  * leak: `hashed.cache()` with no unpersist). */
class ImageNeardupSpec extends SparkSuite {

  test("self-join reuses the band shuffle; no pinned cache") {
    val out = SparkEntry.queries("q116_image_neardup")(spark, sfDir)
    // materialize through the Dataset's OWN QueryExecution so AQE
    // finalizes stage reuse before the plan is inspected
    out.collect()
    val full = out.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"expected the self-join's second side to reuse the band shuffle:\n$plan")
    // equal-key band matching needs no sort: the hint must take effect
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the band self-join to run as a shuffled hash join:\n$plan")
    assert(!plan.contains("InMemoryTableScan"),
      "q116 must not pin a session-lifetime cache")
    // the decode+dhash typed map must appear ONCE in the final plan —
    // the reused side must not re-decode the lake
    val decodes = "MapElements".r.findAllIn(plan).size
    assert(decodes == 1,
      s"expected ONE decode+dhash pass, saw $decodes:\n$plan")
  }
}
