package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Plan-census catalog rows (split from CoreRelational, round 13):
  * queries whose RESULT is a set of physical-plan facts — build
  * sides, shuffle counts, the as-of join shape, the salted-join
  * shape — pinned in the correctness gate itself, so an optimizer
  * or conf regression flips the driver gate red. The census asserts
  * its config assumptions first ([[assertCensusConfig]]) so a
  * drifted session can never silently re-baseline the facts.
  */
object PlanCensus {

  /** The configuration CONTRACT behind every plan-census row
    * (plan_buildsides / plan_shuffles / plan_asof / plan_salted /
    * layout_bucketing): their oracles are LITERAL panels pinned under
    * one Spark configuration, so a config drift (a Spark upgrade, AQE
    * toggled, a broadcast-threshold change) would otherwise surface
    * as an undiagnosable hash fail. This gate asserts exactly the
    * knobs the pinned counts are sensitive to and fails FAST with a
    * message naming the drifted key — a config mismatch, not a plan
    * regression. `spark.sql.shuffle.partitions` is deliberately NOT
    * pinned: the counted facts (exchange/join/scan/sort node counts)
    * are partition-count invariant, and sessions legitimately vary it
    * (specs run 4, the verify gate runs the host CPU count) — pinning
    * it would make the gate itself the false red. */
  private[ops] def assertCensusConfig(s: SparkSession): Unit = {
    val problems = Seq.newBuilder[String]
    val v = org.apache.spark.SPARK_VERSION
    if (!v.startsWith("4.1.")) problems += s"spark version $v (pinned 4.1.x)"
    // byte-valued configs compare SEMANTICALLY: Spark renders its
    // registered default as "10485760b", and a save-and-restore
    // elsewhere re-sets that rendering explicitly — "10485760b",
    // "10MB" and "10485760" are the same threshold, not a drift
    def asBytes(v: String): Option[Long] =
      try Some(v.trim.toLong)
      catch {
        case _: NumberFormatException =>
          try Some(org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(v.trim))
          catch { case _: Throwable => None }
      }
    // boolean-valued configs compare semantically too: an operator
    // that SET "TRUE"/"True" is the same plan regime, not a drift
    def asBool(v: String): Option[Boolean] = v.trim.toLowerCase match {
      case "true"  => Some(true)
      case "false" => Some(false)
      case _       => None
    }
    def chk(key: String, pinned: String, byteValued: Boolean = false,
        boolValued: Boolean = false): Unit = {
      val live = s.conf.get(key, pinned)
      val same =
        if (byteValued) (asBytes(live), asBytes(pinned)) match {
          case (Some(a), Some(b)) => a == b
          case _                  => live == pinned
        }
        else if (boolValued) (asBool(live), asBool(pinned)) match {
          case (Some(a), Some(b)) => a == b
          case _                  => live == pinned
        }
        else live == pinned
      if (!same) problems += s"$key=$live (pinned $pinned)"
    }
    chk("spark.sql.adaptive.enabled", "true", boolValued = true)
    chk("spark.sql.autoBroadcastJoinThreshold", "10485760",
      byteValued = true)
    chk("spark.sql.adaptive.coalescePartitions.enabled", "true",
      boolValued = true)
    chk("spark.sql.codegen.wholeStage", "true", boolValued = true)
    val ps = problems.result()
    if (ps.nonEmpty) throw new IllegalStateException(
      "plan-census CONFIG MISMATCH (not a plan regression): the " +
        "literal oracle panel was pinned under a different Spark " +
        "configuration — " + ps.mkString("; "))
  }

  /** T242: AQE join-strategy census over the reference join-plan panel
    * (q02 / q09 / q18). Executes each
    * panel query to its FINAL adaptive plan and pins the join census —
    * how many broadcast-hash vs sort-merge joins survived AQE's
    * runtime re-plan, and which side it chose to build — as a
    * hash-checked catalog row. This turns prose plan claims
    * ("the dim side broadcasts") into a driver-checkable contract: a
    * lost broadcast (a stats regression, a disabled rule, a stray
    * hint) flips a count and goes red in the catalog instead of
    * surfacing as unexplained bench drift. The oracle is a LITERAL
    * panel — the expected census at the verify scale: AQE decisions
    * are Spark runtime facts no other engine can replay, and pinning
    * them IS the check (the a22_hll_merge hash-pinning precedent).
    * Scale posture: the probe reads plan TREES (bounded strings); the
    * three panel executions are the queries' own bounded-output runs,
    * and the census itself never touches data. The "Initial Plan"
    * section AQE appends to the final-plan dump is cut before counting
    * so pre-re-plan strategies are never double-counted. */
  def planBuildSides(s: SparkSession, d: String): DataFrame = {
    assertCensusConfig(s)
    import s.implicits._
    def census(name: String, df: DataFrame)
        : (String, Long, Long, Long, Long) = {
      df.collect() // run so every AQE query stage finalizes
      val full = df.queryExecution.executedPlan.toString
      val cut = full.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) full.substring(0, cut) else full
      def n(pat: String): Long = pat.r.findAllIn(p).length.toLong
      (name, n("BroadcastHashJoin"), n("SortMergeJoin"),
        n("BuildLeft"), n("BuildRight"))
    }
    Seq(
      census("q02", Headline.q02MinCost(s, d)),
      census("q09", Headline.q09Profit(s, d)),
      census("q18", Headline.q18BigOrders(s, d)))
      .toDF("query", "n_broadcast_hash", "n_sort_merge",
        "n_build_left", "n_build_right")
      .orderBy("query")
  }

  /** T243: static shuffle census over a signature-query panel — the
    * compile-time companion to [[planBuildSides]]' runtime census.
    * For five queries whose shuffle structure IS their scale contract
    * (one-shuffle aggregate, broadcast-enriched fact, anti-join
    * increment, keyed keep-oldest window, TakeOrdered head) it counts
    * shuffle exchanges, broadcast exchanges and parquet scans in the
    * physical plan and pins them as a hash-checked row.
    * An accidental extra Exchange (a lost co-partitioning, a
    * repartition slipped into a shared helper, a broadcast fallen back
    * to shuffle) is exactly the regression class that costs hours at
    * 100 TB and is invisible to row-level correctness — here it flips
    * a count and goes red in the catalog. Pure plan inspection: no
    * data moves; the oracle is the LITERAL expected census (Spark plan
    * facts are not replayable elsewhere — the pin is the check). */
  def planShuffles(s: SparkSession, d: String): DataFrame = {
    assertCensusConfig(s)
    import s.implicits._
    def census(name: String, df: DataFrame)
        : (String, Long, Long, Long) = {
      val p = df.queryExecution.executedPlan.toString
      val shuffle =
        "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
          .r.findAllIn(p).length.toLong
      val bcast = "BroadcastExchange".r.findAllIn(p).length.toLong
      val scans = "Scan parquet".r.findAllIn(p).length.toLong
      (name, shuffle, bcast, scans)
    }
    Seq(
      census("a02_keepoldest", CoreRelational.a02KeepOldest(s, d)),
      census("j01_enrich", CoreRelational.j01Enrich(s, d)),
      census("j06_anti", CoreRelational.j06Anti(s, d)),
      census("o01_topk", CoreRelational.o01TopK(s, d)),
      census("q01_pricing", CoreRelational.q01Pricing(s, d)))
      .toDF("query", "n_shuffle_exchange", "n_broadcast_exchange",
        "n_scans")
      .orderBy("query")
  }

  /** T251: NATIVE-AS-OF strategy census — [[EventOps.evAsofNative]]
    * executed to its FINAL adaptive plan, pinning that the custom
    * [[graft.plans.AsofJoinExec]] merge node is the operator that
    * actually runs (n_asof_exec = 1) and that NO fallback join
    * strategy silently replaced it (n_fallback_join = 0): the exact
    * regression a strategy/extension wiring change causes — the
    * row-level result would stay identical through the compositional
    * fallback while the plan quietly pays a union+window's cost. The
    * shuffle/sort/scan counts pin the native plan's whole cost
    * contract: two key-hash exchanges (probe + build), the build
    * side's pre-aggregate exchange, the presentation range exchange,
    * three (key, time) sorts, two parquet scans. LITERAL oracle, the
    * plan_buildsides contract: Spark plan facts are not replayable
    * elsewhere — the pin is the check. */
  def planAsof(s: SparkSession, d: String): DataFrame = {
    assertCensusConfig(s)
    import s.implicits._
    val df = EventOps.evAsofNative(s, d)
    df.collect() // run so every AQE query stage finalizes
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    def n(pat: String): Long = pat.r.findAllIn(p).length.toLong
    Seq(("ev_asof_native", n("AsofJoin \\["),
      n("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin" +
        "|BroadcastNestedLoopJoin|CartesianProduct)"),
      n("Exchange (hashpartitioning|rangepartitioning)"),
      n("Sort \\["), n("Scan parquet")))
      .toDF("query", "n_asof_exec", "n_fallback_join",
        "n_shuffle_exchange", "n_sort", "n_scans")
  }

  /** T252: SALTED-JOIN shape census — [[j14SaltedJoin]] executed to
    * its final adaptive plan, pinning the mechanism the salted row's
    * VALUES cannot see: the join that runs is keyed on (key, __salt)
    * (n_salted_joins = 1 — a lost salt column degrades to a plain
    * hot-key join with identical output), the dim side replicates
    * through exactly one explode Generate (the 8x spread), and the
    * fact side still pays ZERO extra shuffle for it (2 exchanges =
    * the aggregate pair only; the salted dim BROADCASTS). Together
    * with [[planAsof]] this closes the round-9 gap: both custom-
    * strategy plans are now driver-checkable catalog rows, not just
    * spec assertions. LITERAL oracle, same contract as the other
    * census rows. */
  def planSalted(s: SparkSession, d: String): DataFrame = {
    assertCensusConfig(s)
    import s.implicits._
    val df = CoreRelational.j14SaltedJoin(s, d)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    def n(pat: String): Long = pat.r.findAllIn(p).length.toLong
    Seq(("j14_saltedjoin", n("Join \\[[^\\]]*__salt"),
      n("Generate explode"),
      n("Exchange (hashpartitioning|rangepartitioning)"),
      n("BroadcastExchange")))
      .toDF("query", "n_salted_joins", "n_generate",
        "n_shuffle_exchange", "n_broadcast_exchange")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "plan_asof" -> planAsof _,
    "plan_salted" -> planSalted _,
    "plan_buildsides" -> planBuildSides _,
    "plan_shuffles" -> planShuffles _)

  val oracles: Map[String, String] = Map(
    // LITERAL expected panel (plan_buildsides contract): the native
    // as-of exec node runs, no fallback join, and the cost shape is
    // 4 exchanges / 3 sorts / 2 scans at the verify config
    "plan_asof" ->
      """SELECT * FROM (VALUES
        |  ('ev_asof_native', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT))
        |) AS t(query, n_asof_exec, n_fallback_join,
        |       n_shuffle_exchange, n_sort, n_scans)""".stripMargin,
    // LITERAL expected panel: one (key, salt)-keyed join, one explode
    // replication, two agg exchanges (the salted dim broadcasts — the
    // fact never re-shuffles for the salt)
    "plan_salted" ->
      """SELECT * FROM (VALUES
        |  ('j14_saltedjoin', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(2 AS BIGINT), CAST(1 AS BIGINT))
        |) AS t(query, n_salted_joins, n_generate,
        |       n_shuffle_exchange, n_broadcast_exchange)""".stripMargin,
    // LITERAL expected panel: AQE build-side choices are Spark runtime
    // facts no other engine can replay — the pin is the check (at the
    // sf0.01 verify scale every panel join broadcasts its dim side,
    // BuildRight; a stats/hint regression flips a count and goes red)
    "plan_buildsides" ->
      """SELECT * FROM (VALUES
        |  ('q02', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |          CAST(0 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('q09', CAST(4 AS BIGINT), CAST(0 AS BIGINT),
        |          CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('q18', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |          CAST(0 AS BIGINT), CAST(2 AS BIGINT))
        |) AS t(query, n_broadcast_hash, n_sort_merge,
        |       n_build_left, n_build_right)
        |ORDER BY query""".stripMargin,
    // LITERAL expected panel (same contract as plan_buildsides): the
    // static shuffle/broadcast/scan structure of the signature plans —
    // o01's TakeOrdered head is shuffle-FREE, j01 broadcasts both dims
    // around one fact shuffle, j06's anti-join adds none, q01/a02 are
    // the two-exchange agg/window shapes, and no panel query re-scans
    // its fact
    "plan_shuffles" ->
      """SELECT * FROM (VALUES
        |  ('a02_keepoldest', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |     CAST(1 AS BIGINT)),
        |  ('j01_enrich',     CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |     CAST(3 AS BIGINT)),
        |  ('j06_anti',       CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |     CAST(2 AS BIGINT)),
        |  ('o01_topk',       CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |     CAST(1 AS BIGINT)),
        |  ('q01_pricing',    CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |     CAST(1 AS BIGINT))
        |) AS t(query, n_shuffle_exchange, n_broadcast_exchange, n_scans)
        |ORDER BY query""".stripMargin)

}
