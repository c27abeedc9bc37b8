package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.TestSpark

/** A sealed sketch-op output comes back whole and in order as a local
  * relation, whatever its size: its exact size statistics let a join
  * downstream (e.g. `Dedup.components` over the pairs) plan it as a
  * broadcast.
  */
class CacheScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a sealed output is a local relation with exact size stats, rows in order") {
    for (n <- Seq(100L, 120000L)) {
      val out = spark.range(n).select(col("id").as("id_a"), (col("id") * 3).as("id_b"),
        (col("id") % 9).cast("int").as("hamming"))
      val cached = spark.range(10).toDF().cache()
      cached.count()
      val res = CacheScope.seal(out, Seq(cached), None, DropStats.logDrops)
      assert(!cached.storageLevel.isValid, s"n=$n: the op's bases stay cached")
      val plan = res.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LocalRelation], s"n=$n: not a local relation: $plan")
      assert(plan.stats.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes)
      assert(res.collect().toSeq == out.collect().toSeq)
    }
  }
}
