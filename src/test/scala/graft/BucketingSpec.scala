package graft

/** Bucketing: pre-shuffled table layout so co-located joins plan with no
  * exchange — the storage-side answer to repeated large joins on the
  * same key (SURVEY §7.3's 100 TB posture). */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of two tables bucketed on the key plans without a shuffle") {
    val a = (1L to 2000L).map(i => (i, s"text_$i")).toDF("id", "payload")
    val b = (1L to 2000L).map(i => (i, i * 2.0)).toDF("id", "score")
    spark.sql("DROP TABLE IF EXISTS ba")
    spark.sql("DROP TABLE IF EXISTS bb")
    a.write.bucketBy(8, "id").sortBy("id").saveAsTable("ba")
    b.write.bucketBy(8, "id").sortBy("id").saveAsTable("bb")

    // Shuffles are inserted by EnsureRequirements — visible only in the
    // executed plan, so run the action first. Force sort-merge (a
    // broadcast would bypass bucketing for these tiny tables; at real
    // scale neither side broadcasts).
    val joined = spark.table("ba").hint("merge")
      .join(spark.table("bb").hint("merge"), "id")
    assert(joined.count() == 2000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle in:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans in:\n$plan")

    // contrast: the same sort-merge join on unbucketed data shuffles
    val unbucketed = a.hint("merge").join(b.hint("merge"), "id")
    unbucketed.count()
    assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
  }
}
