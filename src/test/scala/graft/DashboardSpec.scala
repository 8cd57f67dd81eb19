package graft

import graft.analytics.Dashboard

/** Dashboard analyses at the edges where Spark and SQL disagree by
  * default: the per-row z-score of W2.
  */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  test("z-score: NULL for a payer with equal values, -0.0 for a tiny negative z") {
    val scored = Seq(
      ("a1", "flat", 0.1), ("a2", "flat", 0.1), ("a3", "flat", 0.1),
      ("b1", "spread", 0.0), ("b2", "spread", 2.0), ("b3", "spread", 0.99997))
      .toDF("id_transacao", "id_usuario_pagador", "valor_transacao")
    val z = Dashboard.zScorePerRow(scored).as[(String, Option[Double])]
      .collect().toMap
    assert(Seq("a1", "a2", "a3").forall(z(_).isEmpty), z)
    assert(z("b1").contains(-1.0) && z("b2").contains(1.0), z)
    // -0.0 == 0.0, so compare bits: the sign must survive the rounding
    assert(z("b3").map(java.lang.Double.doubleToRawLongBits)
      .contains(java.lang.Double.doubleToRawLongBits(-0.0)), z)
  }
}
