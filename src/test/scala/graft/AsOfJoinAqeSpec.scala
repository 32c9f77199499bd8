package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE interaction coverage for the custom AsOfJoinExec (SURVEY.md
  * §7.2b item 5): the operator declares ClusteredDistribution +
  * required ordering, so EnsureRequirements inserts its exchanges and
  * AQE is then free to re-plan around them (coalescing tiny
  * partitions, skew handling on OTHER joins in the plan). The
  * invariant under test: results are identical to the union+window
  * formulation under AQE with aggressive coalescing, with skewed
  * keys, and with per-key null/empty-right edge cases.
  */
class AsOfJoinAqeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** Tiny data over 32 shuffle partitions with a 1KB advisory size,
    * so AQE has partitions to coalesce. */
  private def aggressiveAqe[T](body: => T): T = WithConf(spark,
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")(body)

  private def ts(m: Int): Timestamp = new Timestamp(1700000000000L + m * 60000L)

  /** Skewed fixture: key 1 holds ~90% of rows, plus keys with no
    * right-side rows at all and right-only keys. */
  private def fixture = {
    import spark.implicits._
    val left = ((1 to 900).map(i => (1L, ts(i))) ++ // hot key
      (1 to 50).map(i => (2L, ts(i * 2))) ++
      (1 to 10).map(i => (3L, ts(i))) ++ // no right rows
      Seq((5L, ts(100)))) // no right rows
      .toDF("user_id", "ts")
      .withColumn("event_id", monotonically_increasing_id())
    val right = ((1 to 300).map(i => (1L, ts(i * 3 - 1))) ++
      (1 to 5).map(i => (2L, ts(i * 17))) ++
      (1 to 20).map(i => (4L, ts(i)))) // right-only key
      .toDF("user_id", "ts")
    (left, right)
  }

  /** Reference semantics: union+window (the q16 formulation). */
  private def viaWindow(left: org.apache.spark.sql.DataFrame,
                        right: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col("user_id"), col("ts"), col("event_id"),
      lit(null).cast("timestamp").as("err_ts"), lit(1).as("kind"))
    val r = right.select(col("user_id"), col("ts"),
      lit(null).cast("long").as("event_id"), col("ts").as("err_ts"), lit(0).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("m", last(col("err_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("m"))
  }

  test("AsOfJoinExec matches union+window under AQE with skew and coalescing") {
    aggressiveAqe {
      val (left, right) = fixture
      val custom = graft.plans.AsOf.join(left, right, "user_id", "ts", "m")
        .select(col("event_id"), col("m"))
      val expected = viaWindow(left, right)
      val got = custom.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      val exp = expected.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(got == exp)
      // and AQE actually wrapped the plan
      val plan = custom.queryExecution.executedPlan.toString
      assert(plan.contains("AdaptiveSparkPlan"), plan)
    }
  }

  test("empty right side yields all-null matches") {
    aggressiveAqe {
      import spark.implicits._
      val (left, _) = fixture
      val right = Seq.empty[(Long, Timestamp)].toDF("user_id", "ts")
      val out = graft.plans.AsOf.join(left, right, "user_id", "ts", "m")
      assert(out.filter(col("m").isNotNull).count() == 0)
      assert(out.count() == left.count())
    }
  }

  test("the AQE settings above do not outlive this spec's bodies") {
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    assert(spark.conf.get(advisory) ==
      new org.apache.spark.sql.internal.SQLConf().getConfString(advisory))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
