package graft

import org.apache.spark.sql.functions._

/** Bucketing = the co-located-join strategy for repeated large-large joins
  * at scale: both sides pre-partitioned and sorted by the join key at
  * write time, so the join runs with NO exchange (and no sort) at read
  * time. This spec materializes bucketed copies of orders/lineitem and
  * asserts the physical plan contains no shuffle.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed fact-fact join executes without a shuffle exchange") {
    // at real scale neither fact side is broadcastable — simulate that so
    // the bucket co-location (not a broadcast) is what avoids the shuffle
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(runBucketedJoin())
  }

  private def runBucketedJoin(): Unit = {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")

    Tables.orders(spark, sf()).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sf()).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("l_quantity").as("qty"))

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not shuffle either side (bucket co-location);
    // only the final aggregation exchanges on the group key
    val joinSection = plan.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin") || joinSection.contains("ShuffledHashJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"join should read bucketed layout without exchange:\n$joinSection")

    // and it computes the right thing
    assert(joined.count() == 5)
  }
}
