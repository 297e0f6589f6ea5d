package graft

import org.apache.spark.sql.functions._

/** The RewriteRangeJoin optimizer rule: a pure |a-b| <= tol theta join
  * must plan as a bucketized equi join (no nested loop), return exactly
  * the theta-join rows, and leave non-matching joins untouched. */
class RewriteRangeJoinSpec extends SparkSpec {

  private def events = Tables.events(spark, sf0001)
    .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))

  test("pure range theta join: no nested loop, equi join on the injected bucket") {
    val a = events.select(col("event_id").as("a_id"), col("ms").as("a_ms"))
    val b = events.select(col("event_id").as("b_id"), col("ms").as("b_ms"))
    val joined = a.join(b, abs(col("a_ms") - col("b_ms")) <= lit(60000L))
    val plan = joined.queryExecution.executedPlan.toString
    withClue(plan) {
      plan.contains("NestedLoop") shouldBe false
      plan.contains("CartesianProduct") shouldBe false
    }
  }

  test("rewritten join returns exactly the theta-join rows") {
    val a = events.where(col("event_id") < 200)
      .select(col("event_id").as("a_id"), col("ms").as("a_ms"))
    val b = events.where(col("event_id") >= 200)
      .select(col("event_id").as("b_id"), col("ms").as("b_ms"))
    val got = a.join(b, abs(col("a_ms") - col("b_ms")) <= lit(3600000L))
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // expected from the raw rows, computed driver-side
    val av = events.where(col("event_id") < 200)
      .select("event_id", "ms").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bv = events.where(col("event_id") >= 200)
      .select("event_id", "ms").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ai, am) <- av; (bi, bm) <- bv if math.abs(am - bm) <= 3600000L
    } yield (ai, bi)).toSet

    got shouldBe expected
    got should not be empty
  }

  test("strict < and reversed literal-first comparisons also rewrite") {
    val a = events.select(col("event_id").as("a_id"), col("ms").as("a_ms"))
    val b = events.select(col("event_id").as("b_id"), col("ms").as("b_ms"))
    val lt = a.join(b, abs(col("a_ms") - col("b_ms")) < lit(60000L))
    val rev = a.join(b, lit(60000L) >= abs(col("a_ms") - col("b_ms")))
    withClue(lt.queryExecution.executedPlan.toString) {
      lt.queryExecution.executedPlan.toString.contains("NestedLoop") shouldBe false
    }
    withClue(rev.queryExecution.executedPlan.toString) {
      rev.queryExecution.executedPlan.toString.contains("NestedLoop") shouldBe false
    }
    // strict-< semantics preserved (boundary pair excluded)
    import spark.implicits._
    val x = Seq((1L, 0L), (2L, 60000L)).toDF("a_id", "a_ms")
    val y = Seq((10L, 60000L)).toDF("b_id", "b_ms")
    x.join(y, abs(col("a_ms") - col("b_ms")) < lit(60000L))
      .select("a_id").collect().map(_.getLong(0)).toSet shouldBe Set(2L)
    x.join(y, abs(col("a_ms") - col("b_ms")) <= lit(60000L))
      .select("a_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
  }

  test("join with an equi conjunct is left alone (already hash-joinable)") {
    val a = events.select(col("user_id").as("u"), col("ms").as("a_ms"))
    val b = events.select(col("user_id").as("v"), col("ms").as("b_ms"))
    val joined = a.join(b, col("u") === col("v") &&
      abs(col("a_ms") - col("b_ms")) <= lit(60000L))
    val plan = joined.queryExecution.executedPlan.toString
    withClue(plan) {
      plan.contains("__graft_bucket") shouldBe false
      plan.contains("NestedLoop") shouldBe false // hash join on u=v
    }
  }

  test("null timestamps never match, as in the raw theta join") {
    import spark.implicits._
    val x = Seq((1L, Some(1000L)), (2L, None)).toDF("a_id", "a_ms")
    val y = Seq((10L, Some(1500L)), (11L, None)).toDF("b_id", "b_ms")
    val got = x.join(y, abs(col("a_ms") - col("b_ms")) <= lit(60000L))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((1L, 10L))
  }

  test("integer-typed operands are NOT rewritten: int subtract overflow semantics differ") {
    import spark.implicits._
    // the original int predicate wraps (non-ANSI) or throws (ANSI) on
    // overflow; the long-cast bucket math never does — so the rule
    // must leave int-typed range joins alone
    val x = (0 until 100).map(i => (i.toLong, i)).toDF("a_id", "a_v")
    val y = (0 until 100).map(i => (i.toLong + 1000, i)).toDF("b_id", "b_v")
    val j = x.join(y, abs(col("a_v") - col("b_v")) <= lit(2))
    withClue(j.queryExecution.executedPlan.toString) {
      j.queryExecution.executedPlan.toString.contains("__graft_bucket") shouldBe false
    }
    // long-cast operands DO rewrite and count the same pairs
    val jl = x.join(y, abs(col("a_v").cast("long") - col("b_v").cast("long")) <= lit(2L))
    withClue(jl.queryExecution.executedPlan.toString) {
      jl.queryExecution.executedPlan.toString.contains("NestedLoop") shouldBe false
    }
    jl.count() shouldBe j.count()
    jl.count() shouldBe (100 * 5 - 2 - 2 - 1 - 1) // interior rows match 5, edges fewer
  }
}
