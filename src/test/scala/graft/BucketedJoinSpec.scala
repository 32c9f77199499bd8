package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The whole point of q26's bucketed layout is a big-big join with no
  * Exchange on either side — both for tables written by this session
  * and for bucketed files re-registered from a previous session's
  * layout (the CREATE TABLE ... CLUSTERED BY path). Assert the
  * physical plan property rather than eyeballing .explain output.
  */
class BucketedJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("q26 physical plan has no Exchange (bucket-aligned sort-merge join)") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q26_bucketed_join")(spark, d)
    // the final orderBy adds one Exchange for the global sort; only the
    // join subtree must be Exchange-free, so count Exchanges overall:
    // 1 (sort) + 1 (partial->final agg) are allowed, a shuffled join
    // would add two more on the join keys
    val plan = df.queryExecution.executedPlan.toString
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges <= 2, s"expected <=2 Exchanges (sort+agg), got $nExchanges:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
    // and the result matches the plain join on the same data
    val plain = SparkEntry.queries("q11_join_sortmerge")(spark, d)
    assert(df.collect().toSeq == plain.collect().toSeq)
  }

  test("re-registration from existing files yields the same result") {
    val d = "/root/testdata/sf0.001"
    // first call (previous test) wrote or registered; drop the catalog
    // entries to force the register-from-files path
    val suffix = math.abs(d.hashCode).toString
    spark.sql(s"DROP TABLE IF EXISTS graft_li_b$suffix")
    spark.sql(s"DROP TABLE IF EXISTS graft_o_b$suffix")
    val df = SparkEntry.queries("q26_bucketed_join")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 2, plan)
    val plain = SparkEntry.queries("q11_join_sortmerge")(spark, d)
    assert(df.collect().toSeq == plain.collect().toSeq)
  }
}
