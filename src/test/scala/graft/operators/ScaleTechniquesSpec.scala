package graft.operators

import graft.etl.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("grouped top-k aggregate equals the rank window, with a partial (map-side) agg") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // skewed: 100k rows over 4 groups — the shape where a rank window
    // funnels everything into 4 partitions
    val rnd = new java.util.Random(31L)
    val df = (0 until 100000).map { i =>
      (s"g${i % 4}", rnd.nextDouble() * 1000, i.toLong)
    }.toDF("g", "score", "id")

    val viaAgg = df.groupBy(col("g"))
      .agg(GraftFunctions.topKByScore(col("score"), col("id"),
        struct(col("id")), 7).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).as("rn"), col("e.payload.id").as("id"),
        col("e.score").as("score"))

    val w = Window.partitionBy("g").orderBy(desc("score"), col("id"))
    val viaWindow = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select(col("g"), col("rn").cast("int").as("rn"), col("id"), col("score"))

    val a = viaAgg.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val b = viaWindow.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a == b)
    assert(a.size == 28)

    // the plan aggregates partially before the shuffle (ObjectHashAggregate
    // partial + final) and contains no Window node
    viaAgg.collect()
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("AQE skew-join splits the hot-key partition of a sort-merge join") {
    import spark.implicits._
    // one key holds 80% of the fact — the w02/q02-shape hot key. With
    // broadcast disabled (both sides "large" at cluster scale) the
    // join is sort-merge, and AQE must detect the oversized partition
    // and split it instead of letting one task run the hot key alone.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // scale the detector to test-sized data (defaults are 256 MB)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val fact = (0 until 200000).map { i =>
        (if (i % 5 != 0) 0L else i.toLong, i.toLong)
      }.toDF("k", "v")
      // plain table on the dim side: OptimizeSkewedJoin only matches a
      // sort-merge join whose children are sorts over bare shuffle
      // stages (an agg between stage and sort disqualifies the split)
      val dim = (0 until 200000 by 5).map(i => (i.toLong, i.toLong * 2)).toDF("k", "tag")
      val j = fact.join(dim, "k")
      // execute THIS QueryExecution (count() would plan a new one and
      // the adaptive plan would never finalize on j)
      assert(j.collect().length == 200000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (0 until 10000).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
      val b = (0 until 10000).map(i => (i.toLong, s"n$i")).toDF("id", "nm")
      a.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bkt_a")
      b.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bkt_b")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // both sides are bucketed on the join key: sort-merge join with
      // NO shuffle exchange in the plan
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
