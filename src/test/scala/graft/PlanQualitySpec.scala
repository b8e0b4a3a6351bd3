package graft

/** Plan-quality regressions: the physical plans the engine is designed
  * around (README scale notes) must not silently degrade — predicate
  * pushdown reaching the parquet scan, pruned read schemas, broadcast
  * dimension joins, and no cartesian products anywhere in the driver
  * query surface.
  */
class PlanQualitySpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()

  /** Runs a check on the shared bucketed facts with auto-broadcast off —
    * a tiny sf0.001 orders side would otherwise be broadcast and hide
    * whether the bucketed layout eliminated the shuffle (the claim that
    * matters at fact⋈fact scale) — then drops the fact tables. */
  private def withBucketedFacts(body: => Unit): Unit =
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    finally {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      spark.sql(s"DROP TABLE IF EXISTS graft_fact_li_$tag")
      spark.sql(s"DROP TABLE IF EXISTS graft_fact_o_$tag")
      ()
    }

  test("q2: filters are pushed into the parquet scan and schema is pruned") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThanOrEqual(`l_shipdate`"),
      s"shipdate range not pushed:\n$p")
    assert(!p.contains("l_comment"), "read schema must stay pruned")
  }

  test("q3: dimension chain uses broadcast hash joins") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("fold queries map-side combine and never window over the raw stream") {
    val p = plan("evt_lww_state")
    // string-typed max_by buffers legally plan as SortAggregate (per-
    // partition sort, spillable); the invariants that matter at scale are
    // partial aggregation (shuffle carries one row per key)…
    assert(p.contains("partial_max_by"), s"expected map-side partial agg:\n$p")
    // …and no Window over the full event stream
    assert(!p.contains("Window"), s"fold must not be window-based:\n$p")
  }

  test("top-k uses TakeOrderedAndProject, never a global sort") {
    val p = plan("q5_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("ngram jaccard blocks on (lang, n_chars-bucket) equi-join keys (r2 #5)") {
    val p = plan("dedup_ngram_jaccard")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("lang")).getOrElse("")
    assert(joinLine.contains("bucket"),
      s"bucket must be an equi-join key next to lang:\n$p")
  }

  test("CPU-bound pipeline kernels pin explicit partition counts (AQE must not serialize them)") {
    // byte-based AQE coalescing would collapse these compute-heavy stages
    // onto one task at small SF; REPARTITION_BY_NUM exchanges are exempt
    Seq("dedup_embedding_cosine", "dedup_simhash", "dedup_editdist").foreach { name =>
      val p = plan(name)
      assert(p.contains("REPARTITION_BY_NUM"), s"$name must pin kernel parallelism:\n$p")
    }
    // minhash's candidate stage executes eagerly behind the size gate
    // (localCheckpoint), so its pin is asserted on the subplan itself
    val d = graft.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.pipeline.Text.shingles(org.apache.spark.sql.functions.col("text"), 3).as("sh"))
    val candPlan = graft.pipeline.Dedup.minhashCandidates(d, "doc_id", "sh")
      .queryExecution.executedPlan.toString()
    assert(candPlan.contains("REPARTITION_BY_NUM"),
      s"minhash candidate stage must pin kernel parallelism:\n$candPlan")
  }

  test("minhash verification is size-gated: broadcast under the cap, shuffled join above (r3 #3)") {
    // under the cap (the real default path at this SF): candidate pairs broadcast
    val small = plan("dedup_minhash_lsh")
    assert(small.contains("BroadcastHashJoin"), s"expected broadcast verify join:\n$small")
    // cap forced to 0: the VERIFY joins (keyed on the pair ids id_a/id_b)
    // must be shuffled hash joins — neither the candidate pairs nor the
    // (size-underestimated) shingle-array sides broadcast. The candidate-
    // GENERATION self-join over the cached bucket rows may legitimately
    // broadcast; it is keyed on (band, key), not on the pair ids.
    val gated = graft.queries.Pipeline.minhashVerified(spark, dir, maxBroadcast = 0)
      .queryExecution.sparkPlan.toString()
    assert(gated.contains("ShuffledHashJoin"), s"expected shuffled hash verify joins:\n$gated")
    val broadcastOnPairIds = gated.linesIterator
      .filter(_.contains("BroadcastHashJoin"))
      .exists(l => l.contains("[id_a") || l.contains("[id_b"))
    assert(!broadcastOnPairIds,
      s"verify join must not broadcast when the bound exceeds the cap:\n$gated")
  }

  test("no query surface plans a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("substring contamination: probe side broadcast, equi join, no nested loop") {
    val p = plan("contamination_substring")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"inverted-index join must stay an equi join:\n$p")
    // the benchmark-sized probe side broadcasts; the hash join key is the
    // aggregate-computed h/ph attr pair (xxhash64 folded into the agg)
    assert(p.contains("BroadcastHashJoin"),
      s"expected a broadcast equi join on the window hash:\n$p")
  }

  test("url canonicalization is join-free row-local string arithmetic") {
    val p = plan("pipeline_url_canon")
    assert(!p.contains("Join"), s"canonicalization must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"canonicalization must not shuffle on a key:\n$p")
  }

  test("host caps run on exactly one domain-keyed hash exchange") {
    val p = plan("pipeline_host_caps")
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (the domain window):\n$p")
    assert(!p.contains("Join"), s"host caps must not join:\n$p")
  }

  test("as-of join plans as one keyed window pass, never a nested loop") {
    val p = plan("evt_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not fall back to a nested-loop range join:\n$p")
    assert(p.contains("Window"), s"expected the forward-fill window:\n$p")
  }

  test("range join plans as an equi hash join on the band bucket, never a nested loop") {
    val p = plan("evt_range_agg")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"banded range join must be an equi join:\n$p")
    assert(p.contains("__bucket"), s"band bucket must be a join key:\n$p")
  }

  test("sliding agg plans one keyed RANGE window, no global sort") {
    val p = plan("evt_sliding_agg")
    assert(p.contains("Window"), s"expected a window frame:\n$p")
    // the frame must be keyed by user (hash exchange), never a single
    // unpartitioned window over the whole stream
    assert(p.contains("hashpartitioning(user_id"),
      s"window must partition by user_id:\n$p")
    assert(p.contains("RangeFrame"), s"expected a RANGE frame:\n$p")
  }

  test("cube plans one Expand + partial hash aggregate, not a scan per grouping set") {
    val p = plan("q13_cube")
    assert(p.contains("Expand"), s"expected Expand:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"cube must read lineitem exactly once:\n$p")
  }

  test("edit-distance dedup blocks on (lang, n_chars-bucket) equi-join keys") {
    val p = plan("dedup_editdist")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("lang")).getOrElse("")
    assert(joinLine.contains("bucket"),
      s"bucket must be an equi-join key next to lang:\n$p")
  }

  test("z-order key stays pure codegen arithmetic: no UDF, one scan, one agg") {
    val p = plan("q14_zorder")
    assert(!p.contains("UDF"), s"morton interleave must not be a UDF:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"z-order key must read lineitem exactly once:\n$p")
  }

  test("tf-idf joins the vocab df frame broadcast, never shuffling the corpus on it") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"df (vocab) frame must broadcast:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"rank window must partition by doc_id:\n$p")
  }

  test("gap-fill windows over the dense grid partitioned by user, no global sort") {
    val p = plan("evt_gapfill")
    assert(p.contains("hashpartitioning(user_id"),
      s"forward-fill must partition by user_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dense-grid join must stay an equi join:\n$p")
  }

  test("bloom semi join prefilters the fact side below the exact join, no UDF") {
    val p = plan("q12_bloom_semi")
    // the codegen'd probe must sit on the lineitem branch (below the semi
    // join), so the fact shuffle carries candidates only — and it must be
    // the native expression, not a codegen-fencing boxed UDF (VERDICT r10)
    val semiIdx = p.indexOf("LeftSemi")
    val probeIdx = p.indexOf("bloom_might_contain(l_orderkey")
    assert(semiIdx >= 0 && probeIdx > semiIdx,
      s"expected bloom probe filter below the semi join:\n$p")
    assert(!p.contains("UDF"), s"bloom probe must not plan as a UDF:\n$p")
  }

  test("funnel runs on ONE user-keyed hash exchange: windows chain and the collapse reuses it") {
    val p = plan("evt_funnel")
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (window + agg share user_id):\n$p")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
  }

  test("json extract parses props exactly once per row, no UDF, map-side combine") {
    val p = plan("evt_json_extract")
    assert(!p.contains("UDF"), s"from_json must not plan as a UDF:\n$p")
    assert(p.linesIterator.count(_.contains("from_json")) <= 1,
      s"props must be parsed once, not per extracted field:\n$p")
    assert(p.contains("partial_count"), s"expected map-side partial agg:\n$p")
  }

  test("reservoir top-k never sorts a whole stratum on one reducer") {
    val p = plan("samp_reservoir")
    // phase 1 must partition by (lang, salt); phase 2 by lang over the
    // filtered survivors only (a Filter between the two Window operators)
    assert(p.contains("hashpartitioning(lang"), s"expected keyed windows:\n$p")
    val lines = p.linesIterator.toVector
    val w1 = lines.indexWhere(l => l.contains("Window") && l.contains("salt"))
    val w2 = lines.lastIndexWhere(l => l.contains("Window") && !l.contains("salt"))
    assert(w1 >= 0 && w2 >= 0 && w2 < w1,
      s"expected the global rank window ABOVE the salted window:\n$p")
    val cut = lines.slice(w2, w1).exists(_.contains("r1"))
    assert(cut, s"phase-2 window must consume only phase-1 survivors (r1 filter):\n$p")
  }

  test("chunking is row-local: no hash exchange below the contract sort") {
    val p = plan("text_chunking")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunk explode must not shuffle:\n$p")
    assert(p.contains("Generate explode"), s"expected the chunk-grid explode:\n$p")
  }

  test("pii redaction is join-free row-local regexp work, no UDF") {
    val p = plan("pipeline_pii")
    assert(!p.contains("Join"), s"pii pass must not join:\n$p")
    // r15: the one allowed hash exchange is Tables.cpuSpread's explicit
    // REPARTITION_BY_NUM below the regex projections — it exists only
    // when the local single-row-group scan plans fewer partitions than
    // the cluster has cores, and a production (pre-split) scan gets no
    // exchange at all. Any ENSURE_REQUIREMENTS hash exchange would mean
    // a join/aggregation crept into the pass — still forbidden.
    val induced = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM"))
    assert(induced.isEmpty,
      s"pii pass must not shuffle below the contract sort (beyond the explicit cpu spread):\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"at most the single explicit cpu-spread exchange is allowed:\n$p")
    assert(!p.contains("UDF"), s"pii pass must stay codegen regexp:\n$p")
  }

  test("q19: bucket-aligned join reads both facts with zero join-key exchanges") {
    withBucketedFacts {
      val p = plan("q19_bucketed_join")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join inputs must not re-shuffle on the join key:\n$p")
      // the only exchange allowed is the final groupBy(o_orderpriority)
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"expected at most the rollup exchange, got $exchanges:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a non-broadcast fact join:\n$p")
    }
  }

  test("q3 reuses the shared bucketed facts: zero join-key exchanges on the fact join") {
    withBucketedFacts {
      // VERDICT r13 #7: the SAME bucket layout q19 writes serves q3's
      // lineitem⋈orders — the fact join must not re-shuffle either side
      // on the key; the only keyed exchanges left belong to the
      // customer join and the nation rollup
      val p = plan("q3_join_agg")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"q3's fact join must read the bucketed layout exchange-free:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a non-broadcast fact join:\n$p")
    }
  }

  test("q12 reuses the shared bucketed facts: zero join-key exchanges on the semi join") {
    withBucketedFacts {
      // VERDICT r14 #7: the third bucketedFacts consumer — the bloom
      // prefilter and the totalprice predicate are filters (bucket
      // distribution preserved), so the exact semi join must not
      // re-shuffle either side on the key; the only keyed exchange left
      // is the returnflag aggregate
      val p = plan("q12_bloom_semi")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"q12's semi join must read the bucketed layout exchange-free:\n$p")
      assert(p.contains("LeftSemi"), s"expected the exact semi join:\n$p")
      assert(p.contains("might_contain") || p.contains("bloom"),
        s"expected the bloom prefilter on the fact side:\n$p")
    }
  }

  test("hamming top-k: broadcast query codes, codegen distance kernel, no shuffle join") {
    val p = plan("ann_hamming_topk")
    assert(p.contains("hamming_dist"),
      s"distance must run in the native HammingDistExpr kernel:\n$p")
    // the query side is a bounded broadcast against the corpus scan —
    // a non-equi condition (query_id =!= neighbor_id), so the right
    // shape is a broadcast nested-loop, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query codes must broadcast against the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"hamming scoring must not shuffle or go cartesian:\n$p")
  }

  test("q21 reuses the shared bucketed facts: join AND per-order aggregate exchange-free") {
    withBucketedFacts {
      // the fourth bucketedFacts consumer — the status/date predicates
      // are row filters (bucket distribution preserved), and BOTH
      // order-keyed aggregates (per-(order, supplier) dedup, per-order
      // rollup) key on supersets/equal of the bucket key, so neither
      // the join nor the group-bys may add a keyed exchange; the only
      // one left belongs to the bounded per-supplier rollup. Also pins
      // the cascaded-aggregate rewrite: countDistinct would plan an
      // Expand (UnknownPartitioning → two extra fact-size exchanges).
      val p = plan("q21_only_late_supplier")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"q21's fact join and per-order aggregates must ride the bucket layout:\n$p")
      assert(!p.contains("Expand"),
        s"distinct counting must cascade aggregates, not Expand:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1,
        s"expected at most the per-supplier rollup exchange, got $exchanges:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a non-broadcast fact join:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-20 must be a TakeOrdered, not a global sort:\n$p")
    }
  }

  test("containment: inverted-index candidates, never a cartesian or per-language all-pairs") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"),
      s"containment must prefix-filter, never cross-join:\n$p")
    assert(!p.toLowerCase.contains("udf"),
      s"the merge-walk verification must be the codegen expression:\n$p")
    // the candidate stage is posting-list equi-joins — every join keyed
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in the candidate or verify stages:\n$p")
  }

  test("attribution: one keyed window carry, never a touches-by-conversions self-join") {
    val p = plan("evt_attribution")
    // the join formulation would re-shuffle touches against conversions;
    // the carry is a single user-keyed window over the one event scan
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans <= 1, s"attribution must scan events exactly once, got $scans:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the running last-touch window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no self-join on the event stream:\n$p")
  }

  test("triangle counting: oriented equi-joins only, degree frames broadcast") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"),
      s"wedge enumeration must stay equi-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |suppliers|-row degree frames must broadcast:\n$p")
  }

  test("ngram novelty: first occurrence is a map-side min over the window key, no rank window") {
    val p = plan("text_ngram_novelty")
    assert(!p.contains("Window"),
      s"first occurrence must not be a rank window (the dedup_paragraph skew class):\n$p")
    assert(p.contains("partial_min"),
      s"min(doc_id) must partial-aggregate map-side:\n$p")
  }

  test("semdedup pairs only inside clusters; dominance agg map-side combines") {
    val p = plan("pipeline_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must be a cluster-keyed equi-join:\n$p")
    assert(p.contains("cluster_id"), s"join must key on the cluster:\n$p")
    assert(p.contains("partial_max"),
      s"the min-id dominance vote must partial-aggregate map-side:\n$p")
  }

  test("mix budget planner runs on a local relation — corpus scanned once at build") {
    val p = plan("pipeline_mix_budget")
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"the |langs|-row planner frame must not re-scan the corpus:\n$p")
    assert(p.contains("LocalTableScan"), s"expected the collected planner frame:\n$p")
  }

  test("paragraph dedup collapses the hash key map-side — no window, partial_min") {
    val p = plan("dedup_paragraph")
    // skew guard: the first-occurrence rank must NOT be a row_number window
    // over the raw paragraph-hash key (one boilerplate paragraph = one
    // reducer-side sort); it must be a map-side-combinable min aggregate
    assert(!p.contains("Window"), s"no window over the raw paragraph frame:\n$p")
    assert(p.contains("partial_min"),
      s"first-occurrence must partial-aggregate below the paragraph-hash exchange:\n$p")
    // the md5 projection must sit BELOW (printed after) the paragraph-hash
    // exchange: only the 32-byte hash crosses the shuffle, never the tokens
    val exIdx = p.indexOf("Exchange hashpartitioning(chunk_md5")
    assert(exIdx >= 0 && p.indexOf("md5(", exIdx) > exIdx,
      s"md5 must be computed on the map side of the paragraph shuffle:\n$p")
  }

  test("split assignment is one map-side-combined aggregation") {
    val p = plan("pipeline_split")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partial agg:\n$p")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
  }

  test("collocations join unigram counts over the aggregated vocab, never a nested loop") {
    val p = plan("text_collocations")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"vocab joins must stay equi joins:\n$p")
    assert(p.contains("partial_count"), s"bigram agg must map-side combine:\n$p")
  }

  test("cohort retention is join-free: week sets fold on one user-keyed exchange") {
    val p = plan("evt_cohort_retention")
    assert(!p.contains("Join"), // the min-week frame never re-joins the stream
      s"retention must fold week sets, not self-join the event stream:\n$p")
    assert(p.contains("partial_collect_set"),
      s"week-set aggregation must map-side combine:\n$p")
  }

  test("unpivot melts via one Expand over a single scan, not one scan per measure") {
    val p = plan("q15_unpivot")
    assert(p.contains("Expand"), s"expected the unpivot Expand node:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"expected a single lineitem scan, got $scans:\n$p")
  }

  test("grouping sets plan one Expand over a single scan, like cube/rollup") {
    val p = plan("q17_grouping_sets")
    assert(p.contains("Expand"), s"expected the grouping-sets Expand node:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"expected a single lineitem scan, got $scans:\n$p")
  }

  test("outlier flags run on ONE user-keyed exchange: window and rollup share it") {
    val p = plan("evt_outliers")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected exactly one keyed exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"mean terms must come from the window, not a self-join:\n$p")
  }

  test("exact median/p99 window over per-value COUNTS, never sorting raw rows on one reducer") {
    Seq("q16_median_exact", "q18_p99_exact", "q20_quantile_profile").foreach { name =>
      val p = plan(name)
      // the partial aggregate must sit below the first exchange: the shuffle
      // carries |distinct values| rows, not |lineitem| rows
      val exIdx = p.indexOf("Exchange hashpartitioning")
      val partialIdx = p.indexOf("partial_count", exIdx)
      assert(exIdx >= 0 && partialIdx > exIdx,
        s"$name: value-count aggregation must map-side combine below the shuffle:\n$p")
    }
  }

  test("bigram LM aggregates map-side; the rank window sees only the bigram frame") {
    val p = plan("text_bigram_lm")
    assert(p.contains("partial_count"), s"bigram agg must map-side combine:\n$p")
    assert(!p.contains("Join"), s"head totals come from a window, not a self-join:\n$p")
  }

  test("mixture totals broadcast as a 1-row frame; the corpus never reshuffles for them") {
    val p = plan("pipeline_mixture")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals frame must broadcast:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 keyed exchanges, got $exchanges:\n$p")
  }

  test("emb dim stats: component rows combine map-side to |dims| rows, one exchange, no join") {
    val p = plan("emb_dim_stats")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-dimension aggregation must map-side combine:\n$p")
    assert(!p.contains("Join"), s"dim stats must not join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected <=1 keyed exchange, got $exchanges:\n$p")
  }

  test("term lift: vocab broadcasts (pair fanout stays V-bounded), top-k never global-sorts") {
    val p = plan("text_term_lift")
    assert(p.contains("BroadcastHashJoin"),
      s"the top-V vocab must broadcast into the presence frame:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-V / final top-k must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("cross-source matrix aggregates paragraph counts map-side before any join") {
    val p = plan("dedup_cross_source")
    // hot boilerplate must collapse in partial aggregation BEFORE the
    // hash-keyed self-join (≤ |sources| rows per hash key afterwards)
    assert(p.contains("partial_count"),
      s"per-(hash, source) counts must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair mass must come from the hash-keyed equi self-join:\n$p")
  }

  test("bpe merges resolve during construction: the final plan is the local merge table") {
    val p = plan("text_bpe_merges")
    // one corpus scan + vocab-bounded rounds happen during construction
    // (1-row driver sync per round, the k-means pick pattern); the result
    // the driver consumes must be the collected merge table, no rescans
    assert(p.contains("LocalTableScan"), s"expected the local merge table:\n$p")
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"no corpus rescan in the final plan:\n$p")
  }

  test("curriculum census is a collected local frame — no corpus re-scan at consumption") {
    val p = plan("pipeline_curriculum")
    // ADVICE r13: both passes (boundaries + census) now run inside the
    // builder while the scored frame is cached, and the RETURNED frame is
    // the ≤ 10·|langs|-row collected census (the mix-budget local-frame
    // pattern) — consuming it must never re-scan parquet or re-shuffle
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      s"returned census must not re-scan the corpus:\n$p")
    assert(p.contains("LocalTableScan"), s"expected the collected census frame:\n$p")
    assert(!p.contains("Window"), s"tier assignment must be value-based, not rank-based:\n$p")
    assert(!p.contains("Exchange"), s"the local census must not shuffle:\n$p")
  }

  test("bm25: posting-list filter below the tf aggregate, broadcast joins, TakeOrdered top-k") {
    val p = plan("text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-25 must never global-sort:\n$p")
    assert(p.contains("partial_sum"), s"scores must combine map-side:\n$p")
    // the 5-term IN filter must prune tokens BEFORE they are counted:
    // below the (doc, token) aggregate, directly over the explode
    val lines = p.linesIterator.toVector
    val inIdx = lines.indexWhere(l => l.contains("Filter") && l.contains(" IN ("))
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(inIdx >= 0 && genIdx > inIdx,
      s"query-term IN filter must sit between the tf aggregate and the explode:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"term/doc-length joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no wide joins in the scoring plan:\n$p")
  }

  test("spacesaving: map-side partial summaries — the exchange carries one sketch per task, not one row per key") {
    val p = plan("sketch_spacesaving")
    assert(p.contains("partial_space_saving"),
      s"expected a map-side partial of the custom aggregate:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must plan as ObjectHashAggregate:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"only the merged summaries may cross the wire:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(user_id)]"),
      s"null filter must reach the parquet scan:\n$p")
  }

  test("sq8: encode is row-local against plan literals — no join, no agg, one presentation exchange") {
    val p = plan("emb_sq8")
    assert(!p.contains("Join"), s"the range must ride as plan literals, not a dim join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"codes/error must fold row-locally, never re-group by vec_id:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1 && p.contains("rangepartitioning"),
      s"only the presentation sort may shuffle (found $exchanges exchanges):\n$p")
  }
}
