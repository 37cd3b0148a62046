package graft

import graft.operators.{Joins, Num}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Salted + bucketed join twins: result equivalence to the plain join
  * (the property the DuckDB gate re-checks at sf0.01) and the plan
  * shapes that are the operators' whole point at scale.
  */
class JoinsSpec extends SparkSpecBase {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
  }

  test("salted join values are identical to the unsalted join") {
    val t = tables
    val plain = t.events
      .join(t.customer, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), Num.moneySum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
      .collect()
    val salted = Joins.saltedJoin(t).collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join keys on (key, salt) so a hot key spans SaltBuckets reducers") {
    val plan = finalPlan(Joins.saltedJoin(tables))
    // the equi-join must include the salt column on both sides — that
    // is the mechanism that splits one hot key's probe rows
    assert(plan.contains("salt"), s"salt not in the join keys:\n$plan")
  }

  test("bucketed join plans with zero exchanges under the join") {
    // at spec SF the lineitem side fits the broadcast threshold and AQE
    // never plans a shuffled join at all — disable broadcast so the
    // plan under test is the co-located SMJ the layout exists for
    GraftSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val wh   = java.nio.file.Files.createTempDirectory("graft-wh-spec").toString
      val plan = finalPlan(Joins.bucketedJoin(tables, wh))
      // the join runs on the bucketed layout...
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans not bucketed:\n$plan")
      // ...and neither side re-shuffles on the join key — the only
      // exchanges left are the aggregate's (o_orderpriority) and the
      // output sort's range partitioning
      assert(
        !plan.contains("Exchange hashpartitioning(o_orderkey") &&
          !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed sides must not re-shuffle on the join key:\n$plan"
      )
    }
  }

  test("bucketed join values are identical to the plain join") {
    val t  = tables
    val wh = java.nio.file.Files.createTempDirectory("graft-wh-spec2").toString
    val plain = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        Num.moneySum(col("l_quantity")).as("sum_qty"),
        Num.moneySum(col("o_totalprice")).as("sum_price")
      )
      .orderBy("o_orderpriority")
      .collect()
    assert(Joins.bucketedJoin(t, wh).collect().toSeq == plain.toSeq)
  }

  test("fuzzy name pairs equal brute force over distinct names within blocks") {
    val names = tables.part.select("p_name").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def dist(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        )
      d(a.length)(b.length)
    }
    val ks = names.keys.toSeq.sorted
    val expected = (for {
      a <- ks; b <- ks
      if a < b && a.split(" ")(1) == b.split(" ")(1) && dist(a, b) <= 2
    } yield (a, b, dist(a, b).toLong, names(a), names(b))).toSet
    val got = Joins.fuzzyNamePairs(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(expected.nonEmpty && got.toSet == expected, s"${got.length} vs ${expected.size}")
  }
}
