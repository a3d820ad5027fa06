package graft.operators

import graft.SparkSpec

/** Physical-plan shape assertions — the 100 TB posture checks. A query
  * that silently regresses to a full scan / global sort / sort-merge join
  * on a broadcastable dim fails here even though its results stay right.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+project pushes predicates and prunes columns at the scan") {
    val p = plan(Relational.q2FilterProject(spark, Sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("o_orderstatus") && p.contains("o_totalprice"))
    // pruned read schema: none of the unused columns reach the scan
    assert(!p.contains("o_orderpriority"), s"column not pruned:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q4TopK(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("tiny dims broadcast in the star join") {
    val p = plan(Relational.q12StarJoinRevenue(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("bloom-pruned join: might_contain gates the fact scan below a shuffled join") {
    val df = Relational.q33BloomPrunedJoin(spark, Sf)
    df.collect() // AQE finalizes the join strategy only on execution
    val p = plan(df)
    assert(p.contains("might_contain"), s"no bloom gate in:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"join not shuffled (a broadcast " +
      s"would make the bloom redundant — the query models the " +
      s"non-broadcastable-dim regime):\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"dim broadcast crept in:\n$p")
    // the gate must sit on the FACT side, i.e. before the join: the
    // pruned scan's filter mentions both the bloom and l_partkey
    val gateLine = p.linesIterator.find(_.contains("might_contain")).get
    assert(gateLine.contains("l_partkey"), s"bloom gates the wrong side:\n$p")
  }

  test("aggregation is partial (map-side) before the exchange") {
    val p = plan(Relational.q1PricingSummary(spark, Sf))
    assert(p.contains("HashAggregate"), p)
    // partial + final pairs around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg in:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, s"too many shuffles in:\n$p")
  }

  test("whole-stage codegen covers the relational hot path") {
    val df = Relational.q1PricingSummary(spark, Sf)
    df.collect() // AQE finalizes (and codegens) the plan only on execution
    val p = plan(df)
    // codegen stages render as "*(n) HashAggregate..." in the plan string
    assert(p.contains("*(1)"), s"no codegen span in:\n$p")
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
      s"aggregate outside codegen in:\n$p")
  }

  test("sessionize reuses one exchange+sort for lag and aggregation") {
    val p = plan(Events.sessionize(spark, Sf))
    // one hash exchange on user_id for the window; the groupBy(user_id)
    // rides the same partitioning (no second wide shuffle of events)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"sessionize shuffles $exchanges times:\n$p")
  }

  test("quality filter computes the per-source median on one exchange") {
    val p = plan(TextAnalysis.qualityFilter(spark, Sf))
    // row_number (sorted), count and median-average all window over the
    // same `source` hash partitioning — a second exchange would mean the
    // median is being recomputed through a join-back
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"quality filter shuffles $exchanges times:\n$p")
  }

  test("ngram counts: map-side partial count, top-k not a global sort") {
    val p = plan(TextAnalysis.ngramCounts(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg in:\n$p")
    // the gram-keyed count is the ONLY shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("similarity top-k has no single-partition window over the corpus") {
    val p = plan(Similarity.bruteForceTopK(spark, Sf))
    // the first (bulk) window partitions by (q_id, bkt); only the final
    // small rank partitions by q_id alone
    assert(p.contains("bkt"), s"two-phase bucket column missing:\n$p")
  }

  private def scanLeaves(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect() // finalize AQE so query stages carry the real scans
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    scans(df.queryExecution.executedPlan)
  }

  test("date predicate prunes the partitioned events layout to 7 of 30 days") {
    val df = Events.partitionedDaily(spark, Sf)
    val p = plan(df)
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined,
      s"no partition filter on event_date in:\n$p")
    val scans = scanLeaves(df)
    assert(scans.nonEmpty, s"no file scan in:\n$p")
    val selected = scans.map(_.selectedPartitions.partitionCount).sum
    assert(selected >= 1 && selected <= 7,
      s"expected <= 7 day partitions scanned, got $selected")
  }

  test("source predicate prunes the partitioned JSONL corpus to 3 of 20 sources") {
    val df = Dedup.jsonlCorpusDedup(spark, Sf)
    val p = plan(df)
    assert("PartitionFilters: \\[[^\\]]*source".r.findFirstIn(p).isDefined,
      s"no partition filter on source in:\n$p")
    val selected = scanLeaves(df).map(_.selectedPartitions.partitionCount).sum
    assert(selected === 3, s"expected exactly 3 source partitions scanned, got $selected")
  }

  test("top-k aggregate is map-side combined (partial heap before the exchange)") {
    val df = Similarity.bruteForceTopKAgg(spark, Sf)
    df.collect()
    // AQE's toString repeats the plan under "== Initial Plan ==" — count
    // shuffles in the final section only
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("partial_graft_topk"),
      s"no partial top-k aggregate before the shuffle in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"top-k agg should shuffle once (k rows per partition per group):\n$p")
  }

  test("knn graph: equi-join on blocks, heap agg — no nested loop, no broadcast corpus") {
    val df = Similarity.knnGraph(spark, Sf, k = 3, nBlocks = 8)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"knn graph fell back to an all-pairs join:\n$p")
    assert(p.contains("partial_graft_topk"),
      s"per-source top-k is not map-side combined in:\n$p")
  }

  test("curation manifest: one exchange per stage grain, membership broadcast") {
    val p = plan(TextAnalysis.curationManifest(spark, Sf))
    // source (median windows) + fp (dedup window) + source (pack window);
    // the kept-id membership rides a broadcast semi join, not a shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 3, s"curation shuffles $exchanges times:\n$p")
    assert(p.contains("BroadcastExchange"), s"kept-set not broadcast in:\n$p")
  }

  test("centroid assignment broadcasts the centroid table, argmax map-side") {
    val df = Similarity.centroidAssign(spark, Sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the O(buckets) centroid table rides a BroadcastExchange; the
    // corpus is never shuffled for the scoring join, and the per-vector
    // argmax combines map-side as 1-row heaps
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast in:\n$p")
    assert(p.contains("partial_graft_topk"), s"argmax not map-side combined in:\n$p")
  }

  test("bucketed fact join is co-located: zero exchanges before the join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val (lt, ot) = graft.sources.Layout.ensureBucketedFacts(spark, Sf)
      val joined = spark.table(lt)
        .join(spark.table(ot),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .select("l_orderkey", "o_orderpriority", "l_extendedprice")
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(p.contains("Bucketed: true"), s"scan did not use bucketing:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("range join is an equi join on time buckets, never a nested loop") {
    val p = plan(Events.rangeJoinPriorCounts(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("scd2 as-of lookup joins on the custkey equi key, never a nested loop") {
    val p = plan(Relational.q43Scd2Asof(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of interval lookup degenerated to a nested loop:\n$p")
    // at most one current row per probe: probes x dates in, <= that out
    val n = Relational.q43Scd2Asof(spark, Sf).count()
    val probes = graft.sources.Tables.customer(spark, Sf).count() * 3
    assert(n <= probes, s"$n rows from $probes probes — intervals overlap")
  }

  test("scd2 late splice: key-equi anti/semi joins, never a nested loop") {
    val p = plan(Relational.q46Scd2LateSplice(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"late splice degenerated to a nested loop:\n$p")
  }

  test("as-of join is one exchange (union-and-carry, no range explosion)") {
    val p = plan(Events.asofJoin(spark, Sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"as-of join should shuffle exactly once, got $exchanges:\n$p")
  }

  test("minhash band rows never carry token arrays through the shuffle") {
    val bands = Dedup.minhashBands(spark, Sf)
    assert(bands.columns.toSeq === Seq("doc_id", "band_id", "band_hash"))
  }

  private def aggregates(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }

  test("srp near-dup candidates are unique by construction: no distinct anywhere") {
    // leftmost-band emission — the candidate dedup exchange is GONE, so
    // the whole pair pipeline optimizes to zero Aggregate nodes
    val df = Similarity.srpNearDupPairs(spark, Sf)
    assert(aggregates(df).isEmpty,
      s"unexpected aggregate (a distinct crept back in):\n${df.queryExecution.optimizedPlan}")
  }

  test("ngram jaccard dedups at RESULT cardinality, after the verify filter") {
    val df = Dedup.ngramJaccardPairs(spark, Sf, threshold = 0.6, n = 5)
    val plan = df.queryExecution.optimizedPlan
    // the root is the final (tiny, post-threshold) distinct
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate],
      s"final distinct is not the last operator:\n$plan")
    // no candidate-cardinality distinct between index join and verify:
    // an aggregate grouping exactly (doc_a, doc_b) — without jaccard —
    // would be the old pre-verify distinct creeping back in
    val candDistinct = aggregates(df).filter { a =>
      a.groupingExpressions.collect {
        case ne: org.apache.spark.sql.catalyst.expressions.NamedExpression => ne.name
      }.toSet == Set("doc_a", "doc_b")
    }
    assert(candDistinct.isEmpty,
      s"candidate-cardinality distinct crept back in:\n$plan")
    // remaining aggregates: the final distinct plus the shingle df-count,
    // which the LOGICAL plan expands once per self-join side — physically
    // the identical subtrees collapse into a ReusedExchange (asserted)
    assert(aggregates(df).size <= 3,
      s"unexpected extra aggregates:\n$plan")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "self-join sides did not reuse the shingle-index exchange")
  }

  test("funnel computes each stage exactly once: k scans, k-1 reused stages") {
    val df = Events.funnel(spark, Sf) // 3 stages
    df.collect() // finalize AQE so stage reuse is decided
    // final-plan section only: the "== Initial Plan ==" tail repeats nodes
    val p = plan(df).split("== Initial Plan ==")(0)
    // one events scan per stage — branch k's count rides the SAME subtree
    // stage k+1 joins against (count(stage_ms) keeps min() un-pruned so
    // the subtrees canonicalize equal)
    assert("FileScan".r.findAllIn(p).size === 3, s"stage recomputed:\n$p")
    assert("ReusedExchange".r.findAllIn(p).size === 2,
      s"stage exchanges not reused:\n$p")
  }

  test("cohort retention scans events once (window min, no self-join)") {
    val df = Events.cohortRetention(spark, Sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(p).size === 1, s"events scanned twice:\n$p")
    assert(!p.contains("Join"), s"self-join crept back in:\n$p")
  }

  test("salted agg and join keep broadcastable plans and partial aggregation") {
    val agg = Relational.q28SaltedAgg(spark, Sf)
    val p = plan(agg)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg in:\n$p")
    val j = plan(Relational.q29SaltedJoin(spark, Sf))
    assert(!j.contains("CartesianProduct") && !j.contains("BroadcastNestedLoopJoin"),
      s"salted join degenerated:\n$j")
  }

  test("triangle census: joins are equi, never a nested loop; the edge " +
    "frame is materialized — the LSH chain is never re-derived") {
    val p = plan(Graph.triangleCensus(spark, Sf))
    // the only permissible non-equi join is the final 1x1 stats x tri glue
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(p).size +
      "CartesianProduct".r.findAllIn(p).size
    assert(loops <= 1, s"wedge/closure joins degenerated to nested loops:\n$p")
    // censusOf references the edge frame repeatedly (degrees, the
    // orientation join, the adjacency build): every reference must read
    // the checkpointed RDD — the banded-LSH pair derivation and its
    // documents scan must NOT reappear anywhere in the census plan
    // (the round-11 11.2x-superlinear census was exactly this unrolled)
    assert(p.contains("ExistingRDD"),
      s"expected checkpointed-edge scans under the census:\n$p")
    assert(!p.contains("documents") && !p.contains("Parquet"),
      s"census plan re-derives the corpus chain:\n$p")
    // the sampled estimator shares censusOf; pin the same contract
    val ps = plan(Graph.triangleSample(spark, Sf))
    assert(ps.contains("ExistingRDD") && !ps.contains("Parquet"),
      s"sampled census re-derives the corpus chain:\n$ps")
  }

  test("pagerank: iterations are materialized — final plan reads stored " +
    "ranks, never re-derives the LSH chain") {
    val p = plan(Graph.pageRank(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"pagerank degenerated to a cartesian product:\n$p")
    // per-iteration localCheckpoint truncates lineage (the round-11 100x
    // rehearsal measured the un-materialized unroll at 88x its 10x
    // cost): the returned frame scans the stored rank RDD — the banded
    // LSH derivation and its documents scan must NOT reappear above it
    assert(p.contains("ExistingRDD"),
      s"expected a checkpointed-rank scan:\n$p")
    assert(!p.contains("documents") && !p.contains("Parquet"),
      s"final pagerank plan re-derives the corpus chain:\n$p")
  }

  test("ntile/percent_rank/cume_dist share one window exchange per segment") {
    val p = plan(Relational.q44NtileCume(spark, Sf))
    // all three rank functions ride a single Window operator
    assert("Window ".r.findAllIn(p).size <= 2, s"window spec split:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition sort crept into the segment window:\n$p")
  }

  test("span dedup: equi joins only, removal explode bounded by dup spans") {
    val p = plan(TextAnalysis.spanDedup(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span dedup degenerated to a nested loop:\n$p")
    // the canonical-occurrence choice is a window over the span-hash
    // exchange, never a self-join of the shingle stream against itself
    assert(p.contains("Window"), s"expected a window rank over span hashes:\n$p")
  }

  test("skew audit head rank is two-phase: no single-partition histogram sort") {
    val p = plan(Relational.q48SkewAudit(spark, Sf))
    // the global-rank window runs AFTER the per-bucket top-k filter; the
    // full key histogram must never hit one partition unfiltered
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    val filters = "rn_local".r.findAllIn(p).size
    assert(filters >= 1, s"local pre-rank missing — head rank is global:\n$p")
    assert(single <= 2, s"unexpected single-partition exchanges:\n$p")
  }

  test("ivfpq rerank: shortlist and queries broadcast against the vector fetch") {
    val p = plan(Similarity.ivfPqRerank(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"rerank fetch degenerated to a cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shortlist should broadcast against the vector table:\n$p")
  }

  test("sq8 descent: the final plan is the rescore over the checkpointed " +
    "graph — ExistingRDD in, exactly one raw-vector cosine, no corpus " +
    "re-scan (the rounds ran behind the eager checkpoints)") {
    val df = Similarity.knnDescentSq8(spark, Sf)
    val p = plan(df)
    assert(p.contains("ExistingRDD"),
      s"final plan does not read the checkpointed graph:\n$p")
    // only the exact-rescore projection touches raw 64-double vectors
    val cosines = "graft_cosine\\(".r.findAllIn(p).size
    assert(cosines == 1, s"expected exactly the rescore cosine, got $cosines:\n$p")
    assert(!p.contains("graft_sq8_cosine"),
      s"round-scoring leaked past the checkpoint into the final plan:\n$p")
    assert(!p.contains("Scan parquet"),
      s"descent re-derives the corpus scan instead of the checkpoint:\n$p")
    assert(df.columns.toSeq ===
      Seq("src_id", "nbr_id", "cos_sim_sq8", "cos_sim"))
  }

  test("source nb: the model joins broadcast into the scoring fan-out; " +
    "every shuffle join is doc-keyed — no doc-to-doc or cartesian join") {
    val df = TextAnalysis.sourceNb(spark, Sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"model should broadcast into the scoring fan-out:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian in NB scoring:\n$p")
    // the per-class fan-out IS a cross join — but its build side must
    // always be the broadcast (tiny) model frame, never the corpus
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("BuildRight") && l.contains("Cross"),
        s"class fan-out must broadcast-build the model side:\n$l")
    }
    // any sort-merge join must key on doc_id (the completion join's
    // legitimate co-partitioned exchange) — never on nothing or on a
    // corpus-sized non-doc key
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("doc_id"), s"non-doc-keyed shuffle join:\n$l\n$p")
    }
  }

  test("ivf append: the batch assignment broadcast-builds the centroid " +
    "table; no cartesian, no corpus-to-corpus join (standing x standing " +
    "is never joined)") {
    val p = plan(Similarity.ivfAppend(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"append assignment degenerated to a cartesian product:\n$p")
    // the batch x centroid fan-out is a cross join by construction, but
    // its build side must be the bounded centroid table, never a
    // corpus-sized frame
    // (planned Inner with a broadcast hint — the build side is what
    // matters, never the corpus)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("BuildRight"),
        s"assignment must broadcast-build the centroid side:\n$l")
    }
    // any shuffle join keys on vec_id or bucket (bounded frames) —
    // never an unkeyed corpus join
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("vec_id") || l.contains("bucket"),
        s"non-keyed shuffle join in append plan:\n$l\n$p")
    }
  }

  test("pq append: both batch encodes broadcast-build the bounded " +
    "codebook; no cartesian, standing x standing is never joined") {
    val p = plan(Similarity.pqAppend(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"pq append degenerated to a cartesian product:\n$p")
    // the (subvector x codebook-entry) fan-out joins on `sub` via
    // broadcast — the build side must always be the <=128-row codebook
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("BuildRight"),
        s"encode must broadcast-build the codebook side:\n$l")
    }
    // any shuffle join keys on (vec_id, sub) / sub — bounded argmin and
    // report frames — never an unkeyed corpus join
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("vec_id") || l.contains("sub"),
        s"non-keyed shuffle join in pq append plan:\n$l\n$p")
    }
  }

  test("index roundtrip: the serve from the LOADED artifacts keeps the " +
    "append plans' shape — artifacts broadcast-build, no cartesian, no " +
    "corpus-to-corpus join") {
    val p = plan(Similarity.indexRoundtrip(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"roundtrip serve degenerated to a cartesian product:\n$p")
    // both (batch x artifact) fan-outs must broadcast-build the bounded
    // loaded table, never the batch side
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("BuildRight"),
        s"serve must broadcast-build the loaded artifact side:\n$l")
    }
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("vec_id") || l.contains("sub") || l.contains("bucket"),
        s"non-keyed shuffle join in roundtrip plan:\n$l\n$p")
    }
  }

  test("lsh index roundtrip: the probe against the LOADED artifact keeps " +
    "the append plan's shape — band-keyed equi-joins only, no cartesian") {
    val p = plan(Dedup.lshIndexRoundtrip(spark, Sf))
    assert(!p.contains("CartesianProduct"),
      s"lsh roundtrip probe degenerated to a cartesian product:\n$p")
    // the non-equi first-shared-band conjunct must ride as a join
    // filter on the band-key equi-join, never force a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"lsh roundtrip probe lost its equi-join keys:\n$p")
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("band_id") || l.contains("bk") ||
        l.contains("doc_a") || l.contains("doc_b") || l.contains("doc_id"),
        s"non-keyed shuffle join in lsh roundtrip plan:\n$l\n$p")
    }
  }

  test("bpe trainer: the merge table is a driver-policy local relation; " +
    "the compression report never re-scans the corpus per round") {
    val m = TextAnalysis.bpeMerges(spark, Sf)
    // the trained merge list is O(k) rows assembled from k bounded
    // argmax collects — its plan is a LocalTableScan, no lineage back
    // into the corpus
    val p = plan(m)
    assert(p.contains("LocalTableScan"), s"merge table not local:\n$p")
    assert(!p.contains("Scan parquet"), s"merge table drags corpus lineage:\n$p")
  }

  test("a keyed checkpoint joins on its key with no Exchange or Sort on " +
    "its side for three checkpointed rounds; rows equal a plain checkpoint") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val big = spark.range(0, 20000)
      .select((col("id") % 997).as("k"), col("id").as("v"))
    val keyed = Iterates.keyed(big, "k")
    val keyedRdd = keyed.queryExecution.executedPlan
      .collectFirst { case r: RDDScanExec => r.rdd }.get
    assert(keyedRdd.getNumPartitions === n)
    keyed.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(k), m) =>
        assert(k.references.map(_.name).toSet === Set("k") && m === n)
      case other => fail(s"keyed frame declares $other")
    }
    // ancestors of every scan of the keyed blocks, nearest first
    def chains(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] =
      p match {
        case r: RDDScanExec if r.rdd eq keyedRdd => Seq(above)
        case a: AdaptiveSparkPlanExec => chains(a.executedPlan, above)
        case q: QueryStageExec => chains(q.plan, q :: above)
        case _ => p.children.flatMap(c => chains(c, p :: above))
      }
    def rounds(side: DataFrame, check: Boolean): Set[(Long, Long)] = {
      var cur = spark.range(0, 997).select(col("id").as("k"), lit(1L).as("x"))
        .localCheckpoint(true)
      for (_ <- 1 to 3) {
        val q = cur.join(side, "k").groupBy(col("k"))
          .agg((sum(col("x") + col("v")) % 1000003L).as("x"))
        val next = q.localCheckpoint(true)
        if (check) {
          val found = chains(q.queryExecution.executedPlan, Nil)
          assert(found.nonEmpty, "round did not scan the keyed blocks")
          found.foreach { up =>
            val below = up.takeWhile(!_.isInstanceOf[SortMergeJoinExec])
            assert(below.size < up.size, "keyed side not read by a SMJ")
            assert(!below.exists(b => b.isInstanceOf[Exchange] ||
              b.isInstanceOf[SortExec]),
              s"keyed side re-exchanged or re-sorted:\n" +
                q.queryExecution.executedPlan)
          }
        }
        cur = next
      }
      cur.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val got = rounds(keyed, check = true)
      assert(got.size === 997)
      assert(got === rounds(big.localCheckpoint(true), check = false))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
