package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity

/** The injected optimizer rule must rewrite the declarative fold to VecDot
  * (and only on exact shape matches), on a session built with the
  * spark.sql.extensions wiring. */
class VecDotRewriteSpec extends SparkSpec {

  private def withExtSession[T](f: SparkSession => T): T = {
    val base = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = graft.Session.builder()
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def hasVecDot(df: org.apache.spark.sql.DataFrame): Boolean = {
    var found = false
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case v: VecDot => found = true; v
    }
    found
  }

  // Fixture-backed frames: literal inputs constant-fold to a LocalRelation
  // before the rule could ever match.
  private def emb(s: SparkSession) =
    graft.Tables.load(s, "/root/testdata/sf0.001", "embeddings").limit(50)

  test("declarative dot fold is rewritten to VecDot under the extension") {
    withExtSession { s =>
      GraftExtensions.register(s)
      val df = emb(s).select(
        Similarity.dotFold("embedding", "embedding").as("ref"),
        Similarity.dot("embedding", "embedding").as("fast"))
      assert(hasVecDot(df))
      // Rewritten fold must equal the explicit VecDot bit-for-bit.
      assert(df.filter(col("ref") =!= col("fast")).count() === 0L)
    }
  }

  test("near-miss shapes are left untouched") {
    withExtSession { s =>
      // Non-zero seed — not a plain dot product.
      val seeded = emb(s).select(expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), " +
          "cast(1 as double), (acc, v) -> acc + v)").as("d"))
      assert(!hasVecDot(seeded))
      assert(seeded.count() === 50L)
    }
  }
}
