package graft.functions

import graft.SparkSpec

/** `pair_cosine` binds a corpus broadcast into the expression at
  * analysis time, so rebinding the session to another corpus must not
  * break frames built before the rebind. */
class PairCosineSpec extends SparkSpec {

  private def corpus(vecs: Array[Array[Double]]) =
    (Array(1L, 2L), vecs, vecs.map(v => math.sqrt(v.map(x => x * x).sum)))

  test("a pair_cosine frame built before a rebind keeps its corpus") {
    import spark.implicits._
    val a = corpus(Array(Array(1.0, 0.0), Array(1.0, 1.0)))
    val b = corpus(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    PairCosine.registerOnce(spark, "pair-cosine-spec-A")(a)
    val underA = Seq((1L, 2L)).toDF("q", "c")
      .selectExpr("pair_cosine(q, c) AS cos")
    PairCosine.registerOnce(spark, "pair-cosine-spec-B")(b)
    assert(underA.collect().head.getDouble(0) == 1.0 / math.sqrt(2.0),
      "a frame analyzed under corpus A must score with A's vectors")
    val underB = Seq((1L, 2L)).toDF("q", "c")
      .selectExpr("pair_cosine(q, c) AS cos")
    assert(underB.collect().head.getDouble(0) == 0.0)
  }

  test("registerOnce skips the build while the session stays on one corpus") {
    var builds = 0
    def build() = { builds += 1; corpus(Array(Array(1.0, 2.0), Array(3.0, 4.0))) }
    PairCosine.registerOnce(spark, "pair-cosine-spec-C")(build())
    PairCosine.registerOnce(spark, "pair-cosine-spec-C")(build())
    assert(builds == 1)
  }
}
