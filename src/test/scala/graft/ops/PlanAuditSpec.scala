package graft.ops

import graft.{SparkFunSuite, SparkEntry}
import graft.io.PartitionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint, Window => LogicalWindow}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan audit: the properties that make these plans survive a
  * 100× scale-up, asserted so a refactor cannot silently regress them. */
class PlanAuditSpec extends SparkFunSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projections reach the parquet scan") {
    val p = plan(CoreRelational.p06Range(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp"))
    assert(!p.contains("o_totalprice")) // unused columns pruned
  }

  test("text_html_extract: the wrap+extract scan stays narrow (three " +
    "columns) and shuffles only the per-source ledger") {
    val p = plan(TextOps.textHtmlExtract(spark, sfDir))
    // the typed select before mapPartitions must prune the documents
    // scan to (source, doc_id, text) — a full-width scan would read
    // every column of a 100 TB corpus for a 3-column transform
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>")
      || p.contains("ReadSchema: struct<source:string,doc_id:bigint,text:string>"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString)
    // one exchange: the tiny per-source aggregate (plus AQE reads)
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      "extraction pipeline grew an unexpected shuffle")
  }

  test("keyset pagination: the OR-of-ranges cursor predicate reaches the scan") {
    val p = plan(CoreRelational.o09Keyset(spark, sfDir))
    assert(p.contains("PushedFilters: [Or("),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString)
  }

  test("dim joins broadcast; no shuffle join against small sides") {
    Seq(
      CoreRelational.j01Enrich(spark, sfDir),
      CoreRelational.j05Coalesce(spark, sfDir),
      Headline.q05LocalSupplier(spark, sfDir)
    ).foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString)
    }
  }

  test("no forced broadcast hint on SF-scaling tables in the headline trio") {
    // customer/supplier grow with the corpus; a forced broadcast() hint
    // on them dies (8 GB broadcast limit / driver OOM) at 100×. Only
    // fixed-size nation/region may carry hints — AQE decides the rest
    // from runtime stats. Asserted on the analyzed plan's hints, not the
    // physical join (AQE legitimately still broadcasts them at sf0.01).
    def hintTargets(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child.collectLeaves().map(_.toString).mkString
      }
    Seq(
      "q03" -> Headline.q03Shipping(spark, sfDir),
      "q05" -> Headline.q05LocalSupplier(spark, sfDir),
      "q10" -> Headline.q10TopCustomers(spark, sfDir)
    ).foreach { case (name, q) =>
      hintTargets(q).foreach { leaves =>
        assert(!leaves.contains("customer") && !leaves.contains("supplier"),
          s"$name forces a broadcast of an SF-scaling table")
      }
    }
    // and the fixed-size dims DO keep their hints (q05: nation + region)
    val q05 = hintTargets(Headline.q05LocalSupplier(spark, sfDir))
    assert(q05.size == 2 && q05.exists(_.contains("nation"))
      && q05.exists(_.contains("region")))
  }

  test("presentation sorts are eliminated under aggregation") {
    Seq("q01_pricing", "j01_enrich", "a06_minmax").foreach { name =>
      val q = SparkEntry.queries(name)(spark, sfDir)
      assert(!plan(q.groupBy().count()).contains("Sort"),
        s"$name retains a sort under count()")
    }
  }

  test("theta join is the intended broadcast nested loop, nothing else is") {
    val theta = plan(CoreRelational.j11Theta(spark, sfDir))
    assert(theta.contains("BroadcastNestedLoopJoin"))
    // equi-join catalog entries never degrade to NLJ
    Seq("j01_enrich", "j03_selfdim", "j06_anti", "j09_fullouter")
      .foreach { name =>
        val p = plan(SparkEntry.queries(name)(spark, sfDir))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name degraded to nested-loop")
      }
  }

  test("filter pushdown survives Tables.spread's repartition") {
    val q = graft.Tables.spread(graft.Tables.orders(spark, sfDir))
      .filter(col("o_orderkey") <= 10)
      .select(col("o_orderkey"))
    val p = plan(q)
    assert(p.contains("LessThanOrEqual(o_orderkey,10)"),
      "filter not pushed through the repartition to the scan")
  }

  test("mixing/sampling/packing windows are two-level — never monolithic per stratum") {
    // AQE can never split a window partition (all its rows co-locate),
    // so a window keyed by the bare source/lang/corpus makes one
    // dominant stratum a single-task sort at 100 TB. Every window in
    // these plans must either be keyed by (stratum, md5-prefix group)
    // — ≥2 partition expressions — or run over a group-level AGGREGATE
    // (the ≤65536-row offset table), never over raw corpus rows.
    Seq(
      "mix_budget"        -> TrainOps.mixBudget(spark, sfDir),
      "mix_temperature"   -> TrainOps.mixTemperature(spark, sfDir),
      "sample_stratified" -> TrainOps.sampleStratified(spark, sfDir),
      "pack_shards"       -> TrainOps.packShards(spark, sfDir),
      "pack_chunks"       -> TrainOps.packChunks(spark, sfDir),
      "pack_interleave"   -> TrainOps.packInterleave(spark, sfDir),
      "sample_balanced"   -> StatsOps.sampleBalanced(spark, sfDir),
      "o12_pareto"        -> StatsOps.paretoAbc(spark, sfDir),
      "o13_rankfusion"    -> StatsOps.rankFusion(spark, sfDir)
    ).foreach { case (name, q) =>
      val windows = q.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow => w
      }
      assert(windows.nonEmpty || name == "pack_chunks", // memoized: may be cached
        s"$name lost its windows — did the plan change shape?")
      windows.foreach { w =>
        val grouped = w.partitionSpec.exists(
          _.toString.toLowerCase.contains("gid"))
        val overAggregate =
          w.child.collectFirst { case a: Aggregate => a }.isDefined
        assert(grouped || overAggregate,
          s"$name has a monolithic per-stratum window: ${w.partitionSpec}")
      }
    }
  }

  test("amendment replay and LSH pair generation stay window-free") {
    // o05: one max_by hash-agg, no per-key sort
    assert(!plan(CoreRelational.o05Amendment(spark, sfDir)).contains("Window"))
    // posting-list pair-gen replaced the window-capped bucket self-join
    assert(!plan(DedupOps.dedupMinhash(spark, sfDir)).contains("Window"))
    assert(!plan(DedupOps.dedupNgram(spark, sfDir)).contains("Window"))
  }

  test("hydration join resolves references via broadcast hash joins") {
    val p = plan(CoreRelational.j08Hydrate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("as-of and range joins avoid the nested-loop plan") {
    // as-of: union + running-last window, never a range probe
    val asof = plan(EventOps.evAsof(spark, sfDir))
    assert(!asof.contains("NestedLoop"))
    assert(asof.contains("Window"))
    // range: interval bucketing makes the BETWEEN an equi-join
    val range = plan(EventOps.evRange(spark, sfDir))
    assert(!range.contains("NestedLoop"))
    assert(range.contains("HashJoin") || range.contains("SortMergeJoin"))
  }

  test("repetition gates are shuffle-free; funnel scans the corpus once") {
    // everything before the presentation sort is a narrow projection:
    // under count() the only Exchange left is the final single-partition
    // gather of the global aggregate
    val rep = plan(TextOps.textRepetition(spark, sfDir).groupBy().count())
    assert(rep.linesIterator.count(_.contains("Exchange")) == 1,
      "text_repetition shuffled before the aggregate")
    // funnel: exactly one documents scan feeds all six stages
    val fun = plan(TextOps.filterFunnel(spark, sfDir))
    assert(fun.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      "filter_funnel re-scans the corpus per stage")
  }

  test("semantic dedup and passage coverage stay window- and NLJ-free") {
    // the pair-generation idiom itself: one hash-agg shuffle, no window
    // sort, no nested loop (the IVF lineage inside dedup_semantic's plan
    // legitimately prints the 16-row centroid window/cross several times
    // through cached-plan nodes, so assert the idiom in isolation)
    val bucketed = spark.range(100)
      .select((col("id") % 10).as("b"), col("id")).toDF("b", "id")
    val pairPlan = plan(
      DedupOps.cappedBucketPairs(bucketed, Seq("b"), "id", "pa", "pb"))
    assert(!pairPlan.contains("Window"), "cap degraded to a window sort")
    assert(!pairPlan.contains("NestedLoop"))
    assert(pairPlan.linesIterator.count(_.contains("Exchange")) == 1,
      "pair generation should be exactly one hash-agg shuffle")
    // the semantic entry reuses the memoized IVF index, not a rebuild
    SimOps.ivfIndex(spark, sfDir) // ensure built (persist is lazy until first use)
    val sem = plan(DedupOps.dedupSemantic(spark, sfDir))
    assert(sem.contains("InMemoryTableScan"),
      "dedup_semantic rebuilt the IVF index instead of reusing it")
    val sub = plan(DedupOps.dedupSubstr(spark, sfDir))
    assert(!sub.contains("NestedLoop"))
    assert(!sub.contains("Window"))
  }

  test("sketches compute once per row side — no inferred-filter recompute") {
    // a NULLABLE sketch in a join-key derivation makes Catalyst push
    // isnotnull(sketch(text)) below the projection and run the sketch
    // twice per row; the non-nullable expressions must keep it at one
    // Project per join side (dedup_simhash scans documents twice: a/b)
    val p = plan(DedupOps.dedupSimhash(spark, sfDir))
    assert("simhash64".r.findAllIn(p).length == 2,
      "simhash recomputed outside the two per-side projections")
    assert(!p.contains("isnotnull(simhash64"))
  }

  test("round-6 plans: single-scan aggregates, broadcast probes, rank pushdown") {
    // profile_corr: all six sufficient statistics in ONE lineitem scan
    val corr = plan(Profiling.profileCorr(spark, sfDir))
    assert(corr.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) == 1,
      "profile_corr re-scans the fact per moment")
    // ev_drift: both population splits as conditional sums — the events
    // scan must not run once per split (subtree reuse keeps it at one
    // effective scan; two printed scans would mean a per-split pass)
    val drift = plan(EventOps.evDrift(spark, sfDir))
    assert(drift.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events")) <= 2,
      "ev_drift scans events per split")
    // q21: the single-aggregate restatement — never the classic THREE
    // fact walks of the EXISTS/NOT-EXISTS form
    val q21 = plan(Headline.q21Waiting(spark, sfDir))
    assert(q21.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) <= 2,
      "q21 degraded to the triple fact walk")
    // text_zipf: the top-50 rank filter must plan as WindowGroupLimit
    // (cap inside the sort), and text_cms' probe ends in a broadcast
    val zipf = plan(TextOps.textZipf(spark, sfDir))
    assert(zipf.contains("WindowGroupLimit"),
      "text_zipf lost the rank-limit pushdown")
    val cms = plan(TextOps.textCms(spark, sfDir))
    assert(cms.contains("BroadcastNestedLoopJoin") ||
      cms.contains("BroadcastExchange"),
      "text_cms probe no longer broadcasts the 1-row sketch")
    // ann_pq: global cut is TakeOrdered, never a full sort
    val pq = plan(SimOps.annPq(spark, sfDir))
    assert(pq.contains("TakeOrderedAndProject"),
      "ann_pq sorts the full score table")
  }

  test("round-6b plans: argmin/semi/anti restatements stay window- and rescan-free") {
    // q02: correlated-MIN as two hash aggregates — no window sort, and
    // the fact is scanned once
    val q02 = plan(Headline.q02MinCost(spark, sfDir))
    assert(!q02.contains("Window"), "q02 argmin degraded to a window")
    assert(q02.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) == 1,
      "q02 re-scans the fact")
    // q04: EXISTS plans as a LEFT SEMI join (never a per-order rescan)
    val q04 = plan(Headline.q04Priority(spark, sfDir))
    assert(q04.contains("LeftSemi"), "q04 lost the semi-join form")
    // q17: the correlated-AVG threshold is one stats aggregate joined
    // back — exactly two lineitem scans (detail + stats), no more
    val q17 = plan(Headline.q17SmallQty(spark, sfDir))
    assert(q17.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) == 2,
      "q17 walks the fact more than twice")
    // q22: the no-recent-orders test is a LEFT ANTI join with the date
    // predicate pushed to the orders scan
    val q22 = plan(Headline.q22Idle(spark, sfDir))
    assert(q22.contains("LeftAnti"), "q22 lost the anti-join form")
    assert(q22.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")),
      "q22 date predicate not pushed to the orders scan")
    // ev_changepoint: ONE window (index+cumsum share it), argmax is a
    // hash aggregate — no second window
    val cp = EventOps.evChangepoint(spark, sfDir).queryExecution
      .optimizedPlan.collect { case w: LogicalWindow => w }
    assert(cp.size == 1, s"ev_changepoint has ${cp.size} windows, want 1")
    // ev_overlap_kmv: all three sketches in ONE events aggregate — the
    // scan count stays at 2 (sketch pass + exact-reference pass)
    val ov = plan(EventOps.evOverlapKmv(spark, sfDir))
    assert(ov.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events")) == 2,
      "ev_overlap_kmv runs a scan per sketch")
  }

  test("round-6c plans: two-level windows carry their bucket key") {
    // every window partition spec in these ops must include the
    // value/arrival bucket column — a window keyed on the group alone
    // would be the monolithic-partition anti-pattern at 100 TB
    // (bucketKeyed, runsOnAggregatedInput) per window: the corpus-side
    // window must carry the bucket; a window without it may only run
    // over an already-aggregated (bucket-summary-sized) input
    def audit(df: DataFrame, name: String): Unit = {
      val ws = df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow =>
          (w.partitionSpec.map(_.sql),
            w.child.collect { case a: Aggregate => a }.nonEmpty)
      }
      assert(ws.nonEmpty, s"$name lost its windows")
      ws.foreach { case (keys, aggBelow) =>
        assert(keys.exists(_.contains("__b")) || aggBelow,
          s"$name has a corpus-side window without the bucket key: $keys")
      }
      assert(ws.exists(_._1.exists(_.contains("__b"))),
        s"$name has no bucket-keyed window at all: $ws")
    }
    audit(LayoutOlap.o15Wmedian(spark, sfDir), "o15_wmedian")
    audit(EventOps.evAuc(spark, sfDir), "ev_auc")
    audit(EventOps.evHistogramEq(spark, sfDir), "ev_histogram_eq")
    audit(EventOps.evLateness(spark, sfDir), "ev_lateness")
    // a21_allocate windows key on the high-cardinality order key
    val al = LayoutOlap.a21Allocate(spark, sfDir).queryExecution
      .optimizedPlan.collect {
        case w: LogicalWindow => w.partitionSpec.map(_.sql)
      }
    assert(al.nonEmpty && al.forall(_.exists(_.contains("o_orderkey"))),
      s"a21_allocate window keys: $al")
  }

  test("round-8 plans: banded stats windows, sparse PPR top-k, vocab rank") {
    // the nonparametric panel + coverage curve must keep every
    // corpus-side window keyed on the __b band (the two-level
    // discipline); windows over already-aggregated inputs are exempt
    def banded(df: DataFrame, name: String): Unit = {
      val ws = df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow =>
          (w.partitionSpec.map(_.sql),
            w.child.collect { case a: Aggregate => a }.nonEmpty)
      }
      assert(ws.nonEmpty, s"$name lost its windows")
      ws.foreach { case (keys, aggBelow) =>
        assert(keys.exists(_.contains("__b")) || aggBelow,
          s"$name has a corpus-side window without the bucket key: $keys")
      }
    }
    banded(StatsOps.evRankSum(spark, sfDir), "ev_ranksum")
    banded(StatsOps.evKsTest(spark, sfDir), "ev_kstest")
    banded(StatsOps.evSprt(spark, sfDir), "ev_sprt")
    banded(TextOps.textNgramCoverage(spark, sfDir), "text_ngram_coverage")
    // personalized PageRank: the top-20 cut must compile to
    // TakeOrderedAndProject, never a global Sort exchange
    val ppr = plan(GraphOps.graphPpr(spark, sfDir))
    assert(ppr.contains("TakeOrderedAndProject"),
      "graph_ppr top-20 lost the TakeOrdered plan")
  }

  test("round-9 plans: diversify rank pushdown, banded gini/gaps, dq pushdown, panel broadcasts") {
    // o11_diversify: the per-customer cap must compile to
    // WindowGroupLimit (rank-limit pushdown inside the sort) and the
    // global cut to TakeOrderedAndProject — never a full global sort
    val div = plan(LayoutOlap.o11Diversify(spark, sfDir))
    assert(div.contains("WindowGroupLimit"),
      "o11_diversify lost the rank-limit pushdown")
    assert(div.contains("TakeOrderedAndProject"),
      "o11_diversify sorts the survivors globally")
    // the two-level discipline, generalized: every window over raw
    // corpus rows must carry a partition key; an UNPARTITIONED window
    // may only run over an already-aggregated (bucket-summary-sized)
    // input. dq_sequence_gaps additionally recursed its boundary pass
    // this round (super-buckets), so no window partition scales with
    // the id span — a regression back to the monolithic boundary sort
    // fails here, not just in bench drift.
    def secondLevel(df: DataFrame, name: String): Unit = {
      val ws = df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow =>
          (w.partitionSpec.map(_.sql),
            w.child.collect { case a: Aggregate => a }.nonEmpty)
      }
      assert(ws.nonEmpty, s"$name lost its windows")
      ws.foreach { case (keys, aggBelow) =>
        assert(keys.nonEmpty || aggBelow,
          s"$name has an unpartitioned window over raw corpus rows")
      }
    }
    secondLevel(EventOps.evGini(spark, sfDir), "ev_gini")
    secondLevel(Profiling.dqSequenceGaps(spark, sfDir),
      "dq_sequence_gaps")
    secondLevel(EventOps.evGains(spark, sfDir), "ev_gains")
    // dq scans keep their predicates at the parquet reader
    val gaps = plan(Profiling.dqSequenceGaps(spark, sfDir))
    assert(gaps.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("event_type")),
      "dq_sequence_gaps' purchase filter left the events scan")
    // mm_near_dup: both feature-hydration joins against the
    // checkpointed count-vector table must broadcast (the pair table
    // is capped-bucket-sized; a sort-merge here would shuffle the
    // decoded features)
    val mm = plan(MultimodalOps.mmNearDup(spark, sfDir))
    assert(mm.contains("BroadcastHashJoin"),
      "mm_near_dup feature hydration lost its broadcast")
    assert(!mm.contains("SortMergeJoin"),
      "mm_near_dup shuffles the decoded feature table")
    // ann panel probes: the 1-row query vector and the 20-row anchor
    // panel ride broadcasts, never a shuffled join side
    val rng = plan(SimOps.annRange(spark, sfDir))
    assert(rng.contains("BroadcastNestedLoopJoin") ||
      rng.contains("BroadcastExchange"),
      "ann_range no longer broadcasts the query vector")
    val trip = plan(SimOps.embTripletMining(spark, sfDir))
    assert(trip.contains("BroadcastExchange"),
      "emb_triplets no longer broadcasts the anchor panel")
    assert(!trip.contains("SortMergeJoin"),
      "emb_triplets shuffles the corpus against the panel")
    // the native as-of join's pruning rule (AsofJoinPruning) must keep
    // narrowing BOTH child scans to the referenced columns — the
    // whole-operator plan otherwise reads every events column twice
    val asofScans = plan(EventOps.evAsofNative(spark, sfDir))
      .linesIterator.filter(_.contains("ReadSchema: struct<")).toSeq
    assert(asofScans.nonEmpty, "asof native plan lost its parquet scans")
    asofScans.foreach { l =>
      val ncols = l.substring(l.indexOf("struct<")).count(_ == ',') + 1
      assert(ncols <= 4,
        s"asof child scan reads $ncols columns — pruning rule inactive: $l")
    }
  }

  test("round-10 plans: text suite reads the shared token artifact, " +
      "never the parquet") {
    // build the memo once, then EVERY keyword/collocation consumer
    // must plan against the checkpointed token table — a parquet scan
    // in any of these plans means the shared-tokenize discipline
    // regressed to five corpus re-tokenizations
    TextOps.tokCorpus(spark, sfDir).count()
    Seq(
      "text_textrank" -> TextOps.textTextrank(spark, sfDir),
      "text_search_bm25" -> TextOps.textSearchBm25(spark, sfDir),
      "text_rake" -> TextOps.textRake(spark, sfDir),
      "text_pmi" -> TextOps.textPmi(spark, sfDir),
      "text_topterms" -> TextOps.textTopTerms(spark, sfDir)
    ).foreach { case (n, df) =>
      val p = plan(df)
      assert(!p.contains("Scan parquet"),
        s"$n re-tokenizes the corpus instead of reading the artifact")
      assert(p.contains("ExistingRDD"),
        s"$n does not read the checkpointed token table")
    }
  }

  test("j15_interval: the bucket decomposition keeps the overlap join " +
    "EQUI — no cartesian or nested-loop node anywhere in the plan") {
    val p = plan(CoreRelational.j15Interval(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      "interval join degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join degenerated to a nested loop")
    // the JOIN KEY LIST itself must carry both the supplier and the
    // bucket — joining on supplier alone is the O(n^2)-per-key trap
    // the decomposition exists to avoid; every hash/merge join node
    // prints as "...Join [key1#id, key2#id], [...]"
    assert("Join \\[suppkey#\\d+L?, bucket#\\d+".r.findFirstIn(p).isDefined,
      "the executed join is not keyed on (suppkey, bucket)")
  }

  test("mm_codec_dispatch / mm_tar_shards: the scaladoc's shuffle " +
    "claims hold in the executed plan") {
    // dispatch: payloads decode in place; the ONLY hash shuffle is the
    // 5-row ledger agg (partial aggregation runs map-side first)
    val pd = plan(MultimodalOps.mmCodecDispatch(spark, sfDir))
    val hashEx = "Exchange hashpartitioning".r
    assert(hashEx.findAllIn(pd).length == 1,
      "dispatch ledger should shuffle exactly once (the tiny agg)")
    assert(pd.contains("partial_count") || pd.contains("partial_sum"),
      "ledger agg lost its map-side partial phase")
    // tar shards, part 1 — the LAYOUT PLANNER's own shape: it
    // shuffles only (media_id, weight) through the gid window and the
    // offsets agg; the offset table rolls up in ONE bounded
    // single-partition window (≤256 rows) and broadcasts to the join
    val weighted = graft.Tables
      .spread(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id").as("media_id"))
      .withColumn("n_bytes", MultimodalOps.tarUnitWeight)
    val pl = plan(MultimodalOps.byteBudgetLayout(
      weighted, MultimodalOps.TarShardUnitBudget))
    assert(hashEx.findAllIn(pl).length == 2,
      "layout should shuffle exactly twice: gid window + offsets agg")
    assert("Exchange SinglePartition".r.findAllIn(pl).length == 1,
      "the offset rollup should be the one bounded single-partition window")
    assert("BroadcastExchange".r.findAllIn(pl).length == 1,
      "the <=256-row offset table should broadcast to the layout join")
    // part 2 — the ledger over the (session, dataset)-memoized,
    // checkpointed layout: the ONLY remaining shuffle is the shard
    // grouping (payloads build inside the assembler)
    val pt = plan(MultimodalOps.mmTarShards(spark, sfDir))
    assert(hashEx.findAllIn(pt).length == 1,
      "ledger should shuffle once: the shard grouping over the memo")
    assert(!pd.contains("CartesianProduct") && !pt.contains("CartesianProduct") &&
      !pl.contains("CartesianProduct"))
  }

  test("partitioned table prunes partitions at scan time") {
    val dir = Files.createTempDirectory("ptab").toString + "/t"
    val df = graft.Tables.orders(spark, sfDir)
      .withColumn("cycle", (col("o_orderkey") % 3 + 2018).cast("int"))
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    PartitionedTable.write(df, dir, "cycle")
    assert(spark.conf.getOption(modeKey) == modeBefore,
      "the write must not change the session's overwrite mode")
    val pruned = PartitionedTable.readPartition(spark, dir, "cycle", 2019)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: [isnotnull(cycle"))
    assert(pruned.count() == df.filter(col("cycle") === 2019).count())
    // dynamic overwrite replaces only the touched partition
    PartitionedTable.write(
      df.filter(col("cycle") === 2019).limit(10), dir, "cycle")
    val after = PartitionedTable.read(spark, dir)
    assert(after.filter(col("cycle") === 2019).count() == 10)
    assert(after.filter(col("cycle") === 2018).count() ==
      df.filter(col("cycle") === 2018).count())
  }
}
