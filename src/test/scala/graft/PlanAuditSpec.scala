package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: the properties that make these queries survive a
  * 100x scale-up are asserted here so a regression (lost pushdown, a
  * broadcast silently becoming a shuffle join, top-k degrading to a global
  * sort) fails CI rather than surfacing as a slow cluster job. */
class PlanAuditSpec extends SparkSuite {

  private def plan(name: String): String = planAt(sf0001, name)

  private def planAt(dir: String, name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: filters reach the parquet scan and columns are pruned") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("l_discount"), p)
    // untouched columns must not be read at all
    assert(!p.contains("l_tax") && !p.contains("l_returnflag"), p)
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), p)
  }

  test("q04: the part dimension joins as a broadcast, not a shuffle") {
    val p = plan("q04_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05: star join broadcasts all three small dims") {
    val p = plan("q05_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts\n$p")
  }

  test("q08: top-k runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q08_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q11/q12: semi and anti joins keep their specialized join types") {
    assert(plan("q11_semi_join").contains("LeftSemi"), "semi join lost")
    assert(plan("q12_anti_join").contains("LeftAnti"), "anti join lost")
  }

  // formatted explain prints each exchange's partitioning in its detail
  // section ("Arguments: hashpartitioning(...)"), one per Exchange node
  private def hashExchanges(p: String): Int =
    "Arguments: hashpartitioning".r.findAllIn(p).length

  test("ingest_size_rotation: both window functions share one shuffle") {
    val p = plan("ingest_size_rotation")
    val exchanges = hashExchanges(p)
    assert(exchanges >= 1 && exchanges <= 2,
      s"expected 1-2 hash exchanges, got $exchanges\n$p")
  }

  test("q07: the aggregate and the running window share one exchange " +
    "(repartition on the window key satisfies both clusterings)") {
    val p = plan("q07_window_running")
    // one REPARTITION_BY_COL exchange + the output-contract range exchange;
    // no ENSURE_REQUIREMENTS hash exchange may appear between agg and window
    val hashEx = hashExchanges(p)
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$p")
  }

  test("dedup_containment_blocked: candidates come from the winnowing " +
    "fingerprint equi-join, never an all-pairs or cartesian join") {
    val p = plan("dedup_containment_blocked")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join keys on the selected fingerprint column
    assert(p.contains("[fp"), p)
  }

  test("sim_topk_ivf_lloyd: assignment and probing are centroid-literal " +
    "projections — the corpus never shuffle-joins; the only join is the " +
    "probes broadcast") {
    val p = plan("sim_topk_ivf_lloyd")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // formatted explain names each node twice (tree + detail section);
    // the "(id) Node" detail headers count each join exactly once
    val broadcasts = """\(\d+\) BroadcastHashJoin""".r.findAllIn(p).length
    assert(broadcasts == 1, s"expected exactly the probes broadcast, " +
      s"got $broadcasts\n$p")
  }

  test("sim_topk_ivf_served: the index scan carries a PartitionFilter " +
    "on list_id — unprobed list directories are never opened") {
    val p = plan("sim_topk_ivf_served")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, s"no PartitionFilters line in\n$p")
    assert(pf.get.contains("list_id"), pf.get)
    // the filter is a real IN-list, not the empty bracket
    assert(!pf.get.matches(".*PartitionFilters: \\[\\s*\\].*"), pf.get)
  }

  test("sim_topk_ivfpq_served: the code scan carries a PartitionFilter " +
    "on list_id and reads NO raw-vector column") {
    val p = plan("sim_topk_ivfpq_served")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, s"no PartitionFilters line in\n$p")
    assert(pf.get.contains("list_id"), pf.get)
    assert(!pf.get.matches(".*PartitionFilters: \\[\\s*\\].*"), pf.get)
    // the serving scan's schema is codes-only — floats live in the
    // base table, not the index
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs.exists(_.contains("codes")), s"no codes read in\n$p")
    rs.filter(_.contains("codes")).foreach { line =>
      assert(!line.contains("c_v"), s"raw vectors leaked into the index scan: $line")
    }
  }

  test("dedup_embedding: SRP-LSH candidates join on buckets — no " +
    "all-pairs nested-loop or cartesian join anywhere in the plan") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_clusters / dedup_clusters_alt: converged output reads the " +
    "checkpointed round, not replayed per-round lineage") {
    // both iterative loops localCheckpoint each round — losing that
    // truncation re-grows the plan (doubling per round) until merely
    // rendering it exhausts the driver. The converged result must be a
    // flat scan over the final round's RDD with NO joins left in it.
    val prop = plan("dedup_clusters")
    assert(prop.contains("Scan ExistingRDD"), prop)
    assert(!prop.contains("Join"), prop)
    // the alternating engine's converged plan keeps exactly ONE join —
    // the final nodes⟕star-forest label lookup — on top of checkpointed
    // scans; iterative lineage would show a join pyramid
    val alt = plan("dedup_clusters_alt")
    assert(alt.contains("Scan ExistingRDD"), alt)
    // count join nodes by their detail headers ("(n) XyzJoin"), one per
    // physical node
    val joinNodes = "\\(\\d+\\) \\w*Join".r.findAllIn(alt).length
    assert(joinNodes <= 1, s"expected at most one join node, got $joinNodes\n$alt")
  }

  test("dedup_substring: coverage is a union + ONE doc-keyed window — " +
    "the dup-start set is never broadcast or equi-joined against tokens") {
    val p = plan("dedup_substring")
    // flag rows union into the token stream; a join here would mean the
    // ~10%-of-corpus dup-start set crossed as a build side (OOM at scale)
    assert(!p.contains("BroadcastHashJoin LeftOuter"), p)
    assert(p.contains("Union"), p)
    // occurrence counts join back on the 8-byte hash as a shuffled hash
    // join (uniform keys — no sort), and the reassembly aggregate reuses
    // the window's doc_id exchange: exactly one exchange feeds the window
    // and none sits between Window and the aggregates
    assert(p.contains("ShuffledHashJoin"), p)
    // reassembly reuses the window's doc_id exchange: in the plan tree
    // (aggregates print above the Window they consume) no Exchange sits
    // between the first aggregate line and the Window line
    val tree = p.linesIterator.toVector
    val agg = tree.indexWhere(_.contains("ObjectHashAggregate"))
    val win = tree.indexWhere(_.contains("Window"))
    assert(agg >= 0 && win > agg, p)
    assert(!tree.slice(agg, win).exists(_.contains("Exchange")), p)
  }

  test("emb_pca_cov: one corpus scan — the model-scale moment aggregate " +
    "is cached and serves both the mean and cross-moment branches") {
    val p = plan("emb_pca_cov")
    assert(p.contains("InMemoryTableScan"),
      "moments must be persisted or every reference re-scans the corpus\n" + p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    graft.analytics.Caches.clear()
  }

  test("text_bpe_pairs: pair explode runs over the VOCABULARY (above the " +
    "word-frequency aggregate) and top-k is TakeOrdered, not a sort") {
    val p = plan("text_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    // top-down tree order must be: pair-count aggregate, THEN the pair
    // explode, THEN the word-frequency aggregate — i.e. the explode
    // consumes the aggregated vocabulary, not the corpus token stream
    val tree = p.linesIterator.toVector
    val firstAgg = tree.indexWhere(_.contains("HashAggregate"))
    val pairGen = tree.indexWhere(_.contains("Generate"))
    val lastAgg = tree.lastIndexWhere(_.contains("HashAggregate"))
    assert(firstAgg >= 0 && firstAgg < pairGen && pairGen < lastAgg,
      s"pair explode must sit between the two aggregates\n$p")
  }

  test("dedup_incremental_bloom: the sketch survives as a might_contain " +
    "predicate over a scalar subquery — not a degenerate plain join") {
    val p = plan("dedup_incremental_bloom")
    // refactoring the prefilter away would silently revert to paying the
    // full history anti-join for every batch key
    assert(p.contains("might_contain"), p)
    assert(p.contains("Subquery"), p)
  }

  test("pipeline_dedup_split: the capstone composition stays bucketed — " +
    "no nested-loop or cartesian join anywhere") {
    val p = plan("pipeline_dedup_split")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    graft.analytics.Caches.clear()
  }

  test("q31: the no-equi-key band join runs as a bucket equi-join, " +
    "never a nested-loop/cartesian plan") {
    val p = plan("q31_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_topk_ivf: centroid assignment is a partial max_by aggregate, " +
    "not a window/sort over the unique corpus key") {
    val p = plan("sim_topk_ivf")
    assert(p.contains("partial_max_by"), p)
    // exactly one Window node remains: the final per-query top-k ranking
    // (count detail-section headers "(N) Window" — each node appears once)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows <= 1, s"expected <=1 Window (final top-k), got $windows\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup/text stage with native expressions stays inside " +
    "WholeStageCodegen (no CodegenFallback fracture)") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"),
        graft.functions.HashExpressions.tokenSetFingerprint(
          lower(col("text"))).as("fp"),
        graft.functions.HashExpressions.simhash64(
          graft.analytics.TextAnalysis.tokens(lower(col("text")))).as("sh"))
      .filter(col("fp").isNotNull)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // formatted explain stars every operator fused into a WholeStageCodegen
    // stage; the Project over our expressions must be starred, i.e. not
    // ejected from the fused stage by a CodegenFallback expression
    val projectLine = p.linesIterator
      .find(l => l.contains("Project") && !l.startsWith("(")).getOrElse("")
    assert(projectLine.trim.startsWith("* Project"),
      s"Project not codegen'd: '$projectLine'\n$p")
  }

  test("text_contamination: the benchmark shingle set joins as a " +
    "broadcast — the corpus side pays no exchange for the join") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_boilerplate: segment frequency joins on the 64-bit hash — " +
    "no nested-loop/cartesian plan, partial aggregation before shuffles") {
    val p = plan("dedup_boilerplate")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_boilerplate_clean: reassembly aggregates with map-side " +
    "partials on the hash key — no cartesian/nested-loop plan") {
    val p = plan("dedup_boilerplate_clean")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("emb_centroid_stats: the centroid table joins as a broadcast — the " +
    "corpus never reshuffles for the join") {
    val p = plan("emb_centroid_stats")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_normalize / text_pii_scrub: pure codegen'd projections — no " +
    "hash shuffle at all, only the output-order range exchange") {
    for (q <- Seq("text_normalize", "text_pii_scrub")) {
      val p = plan(q)
      assert(hashExchanges(p) == 0, s"$q grew a hash shuffle\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("CodegenFallback"),
        s"$q left codegen\n$p")
    }
  }

  test("sim_topk_ivfpq: both index builds aggregate with map-side " +
    "partials, the corpus never cartesian/nested-loop joins, and the only " +
    "Window left is the final top-k") {
    val p = plan("sim_topk_ivfpq")
    assert(p.contains("partial_max_by"), p)
    assert(p.contains("partial_min_by"), p)
    // centroid/codebook assignment deliberately scans corpus x 16
    // broadcast rows (a BroadcastNestedLoopJoin over a bounded inner
    // side); what must never appear is an unbroadcast cartesian product
    assert(!p.contains("CartesianProduct"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows <= 1, s"expected <=1 Window (final top-k), got $windows\n$p")
  }

  test("q36/q37/tfidf: the analytics additions aggregate with map-side " +
    "partials and never plan a cartesian or unbounded nested loop") {
    for (q <- Seq("q36_funnel", "q37_retention", "text_tfidf_topterms")) {
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_min"), s"$q\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
    // the funnel/retention joins must stay equi-joins; tfidf is allowed its
    // single-row broadcast N join (a bounded nested loop by construction)
    for (q <- Seq("q36_funnel", "q37_retention")) {
      assert(!plan(q).contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("pipeline_corpus_prep: the composed pipeline keeps specialized " +
    "join types (semi for the gate, anti for contamination) and never " +
    "degrades to a nested-loop/cartesian plan") {
    val p = plan("pipeline_corpus_prep")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch_approx_distinct: HLL and exact-distinct aggregate with " +
    "map-side partials") {
    val p = plan("sketch_approx_distinct")
    assert(p.contains("partial_approx_count_distinct") ||
      p.contains("partial_count"), p)
  }

  test("pipeline_retrieval: the tiny hit set broadcasts into the " +
    "documents join and only the projected document columns are read") {
    // sf0.01: other suites .cache() the sf0.001 documents/embeddings
    // tables, and the cache manager would substitute the (unpruned)
    // InMemoryRelation into this plan when they run first
    val p = planAt(sf001, "pipeline_retrieval")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // documents scan pruned to the three projected columns
    assert(!p.contains("text:string"), p)
  }

  test("dedup_incremental_emb: increment-vs-history SRP buckets join as " +
    "an equi-join — never a nested-loop/cartesian plan") {
    val p = plan("dedup_incremental_emb")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q41: the salted join keys on (user_id, _salt) so a hot key " +
    "spreads across saltFactor partitions") {
    val p = plan("q41_skew_salted_join")
    assert(p.contains("_salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q42: the z-order bucket aggregate combines map-side — the Morton " +
    "key computes in the scan stage, not after a shuffle") {
    val p = plan("q42_zorder_layout")
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
  }

  test("text_repetition: both doc-keyed aggregates combine map-side and " +
    "the gram build stays in the scan stage (<=2 hash exchanges)") {
    val p = plan("text_repetition")
    assert(p.contains("partial_count"), p)
    val hashEx = hashExchanges(p)
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx\n$p")
  }

  test("profile_docs: one scan feeds the whole profile — the " +
    "multi-distinct rewrites to Expand, never per-column scans") {
    val p = plan("profile_docs")
    assert(p.contains("Expand"), p)
    // one file index = one scan (each scan prints one Location: line)
    val scans = "Location: InMemoryFileIndex".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
  }

  test("dedup_semantic: the pair search is a shuffle-hash equi-join on " +
    "the cluster blocking key — never a nested-loop/cartesian plan") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("emb_kmeans: assignment is a pure projection over the cached " +
    "corpus (centroids ride as a literal) — zero hash exchanges, no " +
    "join, no window, no sort-aggregate in the returned plan") {
    val p = plan("emb_kmeans")
    assert(hashExchanges(p) == 0, s"kmeans assignment grew a shuffle\n$p")
    assert(!"\\bJoin\\b".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortAggregate"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows == 0, s"kmeans must not plan a Window, got $windows\n$p")
  }

  test("text_perplexity: the unigram model joins tokens on an equi-key " +
    "with partial counts; the doc aggregate combines map-side") {
    val p = plan("text_perplexity")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p) // token join is SHUFFLE_HASH
  }

  test("text_classifier: zero-shuffle scoring — the whole model " +
    "application is one codegen'd projection") {
    val p = plan("text_classifier")
    assert(hashExchanges(p) == 0, s"classifier grew a hash shuffle\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("CodegenFallback"),
      p)
  }

  test("text_winnow: fingerprint selection is ONE bounded window over " +
    "ONE doc-keyed shuffle") {
    val p = plan("text_winnow")
    val hashEx = hashExchanges(p)
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_winnow_contam: the benchmark fingerprint set broadcasts — " +
    "the corpus side pays no exchange for the contamination join") {
    val p = plan("text_winnow_contam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch_topk: the frequent-items sketch aggregates in one pass " +
    "with a map-side partial (ObjectHashAggregate), no cartesian") {
    val p = plan("sketch_topk")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_approx_top_k"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q44: the unpivot is a Generate over the pivot aggregate — one " +
    "codegen'd row expansion, no join, no second shuffle") {
    val p = plan("q44_unpivot")
    assert(p.contains("Generate"), p)
    assert(!"\\bJoin\\b".r.findFirstIn(p).isDefined, p)
    // the pivot itself is two aggregates (per-cell, then per-row); the
    // unpivot adds NO exchange of its own
    val hashEx = hashExchanges(p)
    assert(hashEx <= 2, s"unpivot must not add a shuffle, got $hashEx\n$p")
  }

  test("sim_topk_ivfsq: the composed index keeps the IVF discipline — " +
    "map-side-partial max_by assignment, no cartesian, only the final " +
    "top-k window") {
    val p = plan("sim_topk_ivfsq")
    assert(p.contains("partial_max_by"), p)
    assert(!p.contains("CartesianProduct"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows <= 1, s"expected <=1 Window (final top-k), got $windows\n$p")
  }

  test("text_dsir: the bucket-ratio model broadcasts — the scoring scan " +
    "pays only the doc-keyed aggregate shuffle, never a sort-merge join") {
    val p = plan("text_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("text_ppl_buckets: both ranking windows share ONE source-keyed " +
    "sort (windows collapse into one Window node)") {
    val p = plan("text_ppl_buckets")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows <= 2, s"expected the windows to share shuffles\n$p")
    // the 1-row corpus-totals broadcast (inside the perplexity subtree)
    // is the only permitted nested loop; an unbroadcast cartesian never
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lake_upsert: the lake side pays one LEFT ANTI equi-join and is " +
    "never aggregated/sorted/windowed; the only aggregate runs over the " +
    "update increment") {
    val p = plan("lake_upsert")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows == 0, s"upsert must not plan a Window, got $windows\n$p")
  }

  test("sim_topk_srp_mp: multi-probe keeps the SRP discipline — " +
    "candidates come from a (band, bucket) equi-join with the probe side " +
    "broadcast, never a nested-loop/cartesian; one final top-k window") {
    val p = plan("sim_topk_srp_mp")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly the top-k window, got $windows\n$p")
  }

  test("text_dsir2: the n-gram feature union still scores against a " +
    "broadcast model — no sort-merge join, map-side-partial doc aggregate") {
    val p = plan("text_dsir2")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("lake_cdc_merge: the CDC merge is ONE max_by aggregate over the " +
    "union — no join at all, no window, map-side partial") {
    val p = plan("lake_cdc_merge")
    assert(p.contains("partial_max_by"), p)
    assert(!p.contains("CartesianProduct"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows == 0, s"cdc merge must not plan a Window, got $windows\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"cdc merge must not join, plan:\n$p")
  }

  test("emb_pca_project / emb_pca_energy: after the driver-side fit the " +
    "query is ONE scan + literal-array projection — no join, no " +
    "aggregate, no shuffle before the output sort") {
    for (q <- Seq("emb_pca_project", "emb_pca_energy")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q must stay a pure projection:\n$p")
      assert(hashExchanges(p) == 0,
        s"$q must not hash-shuffle (ORDER BY is a range exchange):\n$p")
    }
  }

  test("text_bpe_apply: the merge rewrite sits ABOVE the " +
    "distinct-word aggregate (vocabulary-scale evaluations), never in " +
    "the token-stream projection — the 17× regression guard") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the merge rewrite is the native single-pass BpeApplyMerges now
    // (constant plan depth); the guarded invariant is unchanged — the
    // rewrite must evaluate per DISTINCT word, not per corpus token
    def hasFold(es: Seq[Expression]): Boolean =
      es.exists(_.find(
        _.isInstanceOf[graft.functions.BpeApplyMerges]).isDefined)
    val sp = SparkEntry.queries("text_bpe_apply")(spark, sf0001)
      .queryExecution.sparkPlan
    // Catalyst may leave the folds in a Project or collapse them into an
    // aggregate's result expressions — both count, the HOME matters
    val foldNodes: Seq[SparkPlan] = sp.collect {
      case pr: ProjectExec if hasFold(pr.projectList) => pr
      case ag: BaseAggregateExec if hasFold(ag.resultExpressions) => ag
    }
    assert(foldNodes.nonEmpty, s"no fold site found:\n$sp")
    // every fold site must BE (or sit above) the distinct-word
    // aggregate — folds per distinct word, not per corpus token
    foldNodes.foreach { n =>
      val vocabScale = n match {
        case ag: BaseAggregateExec => ag.groupingExpressions.nonEmpty
        case other => other.collect {
          case h: BaseAggregateExec if h.groupingExpressions.nonEmpty &&
            h.ne(other) => h
        }.nonEmpty
      }
      assert(vocabScale,
        s"folds must evaluate on the DISTINCT word set, got:\n$n")
    }
    // ...and the token-stream side (below any Generate) carries none
    sp.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
      .foreach { g =>
        assert(g.find {
          case pr: ProjectExec => hasFold(pr.projectList)
          case _ => false
        }.isEmpty, s"folds leaked into the token-stream side:\n$g")
      }
    val p = plan("text_bpe_apply")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_substring_incr: history hashes enter a LeftSemi " +
    "SHUFFLE_HASH join (never a broadcast build of the corpus-scale " +
    "set), and coverage keeps the one-window union shape") {
    val p = plan("dedup_substring_incr")
    assert(p.contains("ShuffledHashJoin LeftSemi"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).length
    assert(windows == 1, s"expected the single coverage window:\n$p")
  }

  test("privacy_k_anon: both aggregates are partial (map-side combine) " +
    "and the only scanned columns are the QI tuple + sensitive") {
    val p = plan("privacy_k_anon")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    // the scan must be pruned to the three touched customer columns
    assert(p.contains("c_nationkey") && p.contains("c_acctbal") &&
      p.contains("c_mktsegment"), p)
    assert(!p.contains("c_phone") && !p.contains("c_comment"), p)
  }

  test("mix_epoch_alloc: the corpus-scale work is ONE partial aggregate " +
    "(the source caps); the slab solve windows run over the aggregated " +
    "source list only (below the aggregate, above the scan there is no " +
    "window)") {
    val p = plan("mix_epoch_alloc")
    assert(p.contains("partial_"), p)
    // exactly one corpus-scale exchange feeds the aggregate; the window
    // sort happens after aggregation on the ~#sources-row frame
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q54_abtest_cuped: every corpus shuffle is user_id-keyed — the " +
    "moments fold in a partial aggregate, no window touches the events") {
    val p = plan("q54_abtest_cuped")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q56 Kaplan-Meier: the corpus folds in a partial user-keyed " +
    "aggregate; the KM windows run on the duration table only") {
    val p = plan("q56_survival_km")
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q57 EWMA: the 48-lag band self-join runs on the (event_type, " +
    "delta-bucket) TWO-column equi key — each probe enumerates one " +
    "48-row-bounded bucket, never the full per-type hourly history, " +
    "and never a nested-loop") {
    // clear: an earlier suite may have cached the persisted cell table,
    // and CacheManager substitution would hide the aggregate subtree
    graft.analytics.Caches.clear()
    val p = plan("q57_ewma_hours")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the bucket key is PART OF the join key list, not a residual:
    // formatted explain prints "Left keys [2]" only for a 2-key equi join
    assert(p.contains("keys [2]"), p)
    assert(p.contains("bk"), p)
    assert(p.contains("partial_count") || p.contains("InMemoryTableScan"),
      p)
  }

  test("q69b banded Theil-Sen: the lag-168 pair stage is a TWO-column " +
    "(event_type, lag-bucket) equi join — each probe enumerates one " +
    "bounded bucket, never the full per-type history, never a " +
    "nested-loop") {
    graft.analytics.Caches.clear()
    val p = plan("q69b_theil_sen_banded")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("keys [2]"), p)
    assert(p.contains("bk"), p)
  }

  test("q60 Markov: ONE corpus-scale window (the per-user lead); the " +
    "matrix aggregates with map-side combine") {
    val p = plan("q60_markov_trans")
    assert("Window".r.findAllIn(p).length >= 1, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63 bootstrap: resampled means aggregate with map-side combine " +
    "and the only nested-loop joins are the 1-row readout folds") {
    graft.analytics.Caches.clear()
    val p = plan("q63_bootstrap_ci")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q67 power/MDE + profile_emb_drift + text_bpe_compression: the " +
    "corpus folds in map-side-combinable aggregates; no nested loops, " +
    "no shuffle join outside the vocabulary-keyed BPE apply") {
    graft.analytics.Caches.clear()
    val p67 = plan("q67_power_mde")
    assert(p67.contains("partial_sum") && !p67.contains("CartesianProduct"),
      p67)
    val pd = plan("profile_emb_drift")
    assert(pd.contains("partial_sum"), pd)
    // a 64-row dim fold needs NO join at all
    assert(!pd.contains("Join"), pd)
    val pc = plan("text_bpe_compression")
    assert(pc.contains("partial_sum") && !pc.contains("CartesianProduct"),
      pc)
  }

  test("sample_dsir_gumbel: the DSIR model joins as a broadcast (1024 " +
    "rows), and the global weighted top-k plans as TakeOrderedAndProject " +
    "— no global sort, no shuffle join") {
    graft.analytics.Caches.clear()
    val p = plan("sample_dsir_gumbel")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63b Poisson bootstrap: NO join anywhere on the resample grid — " +
    "weights fold straight into a map-side-combinable groupBy(b); the " +
    "only joins in the plan are the broadcast 1-row readout folds") {
    graft.analytics.Caches.clear()
    val p = plan("q63b_bootstrap_poisson")
    // the exact multinomial form's scale-killer is the per-draw index
    // join (a shuffle join on |users|·B rows); the Poisson form must
    // have no shuffle join at all
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("er_jaro_blocked: candidates come from the token-index equi-join " +
    "— no cartesian anywhere, and the JW scorer runs in a projection " +
    "over blocked pairs") {
    val p = plan("er_jaro_blocked")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("jaro_winkler"), p)
  }

  test("corpus_js_divergence: the top-256 vocabulary joins as a " +
    "broadcast against the corpus-scale counts") {
    val p = plan("corpus_js_divergence")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("profile_pareto_front: only the needed columns reach the scan " +
    "(doc_id, n_chars, text — no source/lang)") {
    // sf0.01 (the pipeline_retrieval workaround): other suites .cache()
    // the sf0.001 documents table, and CacheManager substitution embeds
    // that relation's UNPRUNED inner scan into this plan string
    val p = planAt(sf001, "profile_pareto_front")
    assert(!p.contains("source") || !p.contains("lang"), p)
  }

  // ---------------------------------------------- round-14 additions

  test("ingest_partition_change_off: the writer-era window and the " +
    "per-(era, ep) file aggregate stay on writer-keyed exchanges — no " +
    "global sort, no extra shuffle beyond the two window keys") {
    val p = plan("ingest_partition_change_off")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // era comes from row_number over the writer — a window, not a sort
    assert(p.contains("Window"), p)
    val hashEx = hashExchanges(p)
    assert(hashEx <= 3, s"expected <=3 hash exchanges, got $hashEx\n$p")
  }

  test("mm_decode_image: decode is partition-parallel mapPartitions " +
    "plumbing — no shuffle before the decode, no join anywhere") {
    val p = plan("mm_decode_image")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      p)
    assert(!p.contains("Join"), p)
  }

  test("mix_doremi: ONE corpus-scale aggregate chain feeds the " +
    "sources-row fold — token counts combine map-side and the corpus " +
    "never broadcasts") {
    val p = plan("mix_doremi")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_topk_ivf_compacted: the serve scan still carries a real " +
    "list_id PartitionFilter AFTER compaction — the rewrite must not " +
    "cost the static pruning") {
    val p = plan("sim_topk_ivf_compacted")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, s"no PartitionFilters line in\n$p")
    assert(pf.get.contains("list_id"), pf.get)
    assert(!pf.get.matches(".*PartitionFilters: \\[\\s*\\].*"), pf.get)
  }

  test("graph_triangles: every join is a hash join on real keys — the " +
    "wedge enumeration and its closing probe must never degrade to a " +
    "nested-loop/cartesian (the all-pairs shape degree-ordering exists " +
    "to prevent), and the close stays a semi-join") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"closing probe lost semi-join shape\n$p")
  }

  test("q68 group-sequential: the 5-row look frame joins as a " +
    "broadcast (the corpus is never on the build side) and the " +
    "per-user aggregate combines map-side") {
    val p = plan("q68_group_seq")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("emb_rp_project: a pure map — zero exchanges besides the output " +
    "ordering, no joins, no aggregates over the corpus") {
    val p = plan("emb_rp_project")
    assert(!p.contains("Join"), p)
    // the only allowed exchange is the final orderBy's range partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 0, s"expected 0 hash exchanges, got $hashEx\n$p")
  }

  test("privacy_rr_freq + sample_neyman: one corpus-scale aggregate " +
    "each; dictionaries/strata frames broadcast or stay tiny — no " +
    "corpus-side sort-merge join, no cartesian") {
    Seq("privacy_rr_freq", "sample_neyman").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q:\n$p")
    }
  }

  test("q71/q72/q73 (MWU, BH-FDR, KS): rank/ECDF statistics run at " +
    "histogram or per-key aggregate grain — map-side combine on the " +
    "corpus pass, and NO join anywhere (the rank windows run on the " +
    "distinct-value/metric frames, never a row sort of the corpus)") {
    Seq("q71_mwu", "q72_bh_fdr", "q73_ks_drift",
      "q74_wasserstein").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side combine:\n$p")
    }
  }

  test("lake_summary_serve: the dashboard aggregate SCANS THE SUMMARY, " +
    "never the base lake — the dim filter is pushed into the summary's " +
    "parquet scan and the scan reads only the referenced partials") {
    val p = plan("lake_summary_serve")
    assert(p.contains("graft_sumlake_"), p)
    val scans = p.linesIterator.filter(_.contains("Location")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("/summary")),
      s"a scan escaped to the base lake:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(dow), LessThanOrEqual(dow"),
      p)
    assert(p.contains("m_sum_cents"), p)
    // ROLLUP: the Expand survives (same grouping-set algebra) but sits
    // over the summary scan — the lake is never expanded |sets| times
    val r = plan("lake_summary_rollup")
    assert(r.contains("Expand"), r)
    val rScans = r.linesIterator.filter(_.contains("Location")).toSeq
    assert(rScans.nonEmpty && rScans.forall(_.contains("/summary")),
      s"rollup scan escaped to the base lake:\n$r")
    // percentile/median serve from the HISTOGRAM kind: value-grain scan,
    // frequency-weighted Percentile, never a lake scan
    val h = plan("lake_summary_percentile")
    val hScans = h.linesIterator.filter(_.contains("Location")).toSeq
    assert(hScans.nonEmpty && hScans.forall(_.contains("/hist")),
      s"percentile scan escaped to the base lake:\n$h")
    assert(h.contains("percentile(v"), h)
    // star join: the base side of the join is the summary; the customer
    // dim scan stays; the orders base lake is never read
    val st = plan("lake_summary_star")
    val stScans = st.linesIterator.filter(_.contains("Location")).toSeq
    assert(stScans.exists(_.contains("/summary")) &&
      stScans.exists(_.contains("customer")) &&
      !stScans.exists(_.contains("/base")),
      s"star join did not serve from the summary:\n$st")
  }

  test("lake_summary_ivm / _hll / _cm: the maintenance and sketch paths " +
    "stay join-disciplined — no cartesian anywhere, no sort-merge join " +
    "(touched-group joins broadcast or hash at group grain, the sketch " +
    "tables broadcast by construction), map-side combine present") {
    Seq("lake_summary_ivm", "lake_summary_hll", "lake_summary_cm")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
        assert(p.contains("partial_count") || p.contains("partial_sum") ||
          p.contains("partial_max"), s"$q lost map-side combine:\n$p")
      }
  }
  test("mm_dhash rows: decode is map-only (no shuffle before the bucket " +
    "aggregate), and the near-dup candidate join is a hash equi-join at " +
    "signature grain — never a cartesian or nested-loop pairing") {
    val d = plan("mm_dhash_dedup")
    assert(d.contains("partial_count"), s"bucket groupBy lost map-side combine:\n$d")
    assert(!d.contains("CartesianProduct") && !d.contains("Join"),
      s"dedup bucketing must not join at all:\n$d")
    val n = plan("mm_dhash_near_dup")
    assert(!n.contains("CartesianProduct") &&
      !n.contains("BroadcastNestedLoopJoin"),
      s"near-dup pairing degenerated past the banded equi-join:\n$n")
    assert(n.contains("Join"), s"banded candidate join missing:\n$n")
    // incremental: the history side collapses to distinct signatures
    // BEFORE the anti-join (signature grain both sides — at 100 TB the
    // lake side is a signature table, never the image corpus), and the
    // anti-join is a hash equi-join, not a nested-loop scan
    val i = plan("mm_dhash_incremental")
    assert(i.contains("LeftAnti"), s"history anti-join missing:\n$i")
    assert(!i.contains("CartesianProduct") &&
      !i.contains("BroadcastNestedLoopJoin"),
      s"incremental anti-join degenerated to a non-equi pairing:\n$i")
    assert(i.contains("partial_count"),
      s"batch survivor groupBy lost map-side combine:\n$i")
  }

  test("Ingest.run: the Avro sidecar writes read the shared file-group " +
    "assignment with no exchange of their own, and the manifest stats " +
    "write has no range exchange") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    // (issuing program frame, plan) of every SQL execution Ingest.run starts
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, SparkPlanInfo)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          val issuer = Option(x.details).getOrElse("").linesIterator
            .map(_.trim).find(_.startsWith("graft.")).getOrElse("")
          plans.add(issuer -> x.sparkPlanInfo)
        case _ =>
      }
    }
    val df = graft.ingest.IngestSpec.smallFilesBatch(spark)
    val out = java.nio.file.Files.createTempDirectory("plan_ingest").toString
    sc.addSparkListener(listener)
    try graft.ingest.Ingest.run(df, graft.ingest.IngestSpec.smallFilesCfg,
      graft.ingest.IngestSpec.SmallFilesPartitioner, out,
      payloadCols = graft.ingest.IngestSpec.SmallFilesPayload,
      valueColumnForNulls = Some("value"), writeManifest = true,
      causeStats = true)
    finally {
      org.apache.spark.TestAccess.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    def nodes(p: SparkPlanInfo, intoCache: Boolean): Seq[SparkPlanInfo] =
      p +: (if (!intoCache && p.nodeName == "InMemoryTableScan") Nil
            else p.children.flatMap(nodes(_, intoCache)))
    def show(p: SparkPlanInfo): String =
      nodes(p, intoCache = true).map(_.simpleString).mkString("\n")

    val avro = all.filter(_._1.startsWith("graft.ingest.AvroGroupWriter"))
    assert(avro.size == 2, all.map(_._1))
    avro.foreach { case (_, p) =>
      val own = nodes(p, intoCache = false)
      assert(own.exists(_.nodeName == "InMemoryTableScan"), show(p))
      assert(!own.exists(_.nodeName.contains("Exchange")), show(p))
    }
    val manifest = all.filter(_._1.startsWith("graft.ingest.CommitManifest"))
    assert(manifest.nonEmpty, all.map(_._1))
    manifest.foreach { case (_, p) =>
      assert(!nodes(p, intoCache = true)
        .exists(_.simpleString.contains("rangepartitioning")), show(p))
    }
  }
}
