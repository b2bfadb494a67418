package graft

/** Physical-plan property assertions: the scale design claims
  * (pushdown, pruning, broadcast dims, single-shuffle as-of) hold in
  * the actual optimized plans, not just in documentation.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString()
  }

  test("driver entry smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q6: filters reach the parquet scan and columns are pruned") {
    val p = planOf("q6_filter")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("l_shipdate"), "shipdate filter missing from scan")
    // projection pruned: the scan must not read l_orderkey
    assert(!p.contains("ReadSchema: struct<l_orderkey"), "scan reads unpruned schema")
  }

  test("ann_topk_filtered: the label predicate pushes into the corpus scan") {
    val p = planOf("ann_topk_filtered")
    assert("""PushedFilters: \[[^\]]*EqualTo\(label,7\)""".r.findFirstIn(p).isDefined,
      s"pre-filter predicate must reach the parquet scan; plan:\n$p")
  }

  test("flat ANN top-k: the rank-limit pushdown (WindowGroupLimit) fires") {
    // cosineTopK / pqTopK / sqTopK / pcaTopK express per-query top-k
    // as row_number() <= k over Window.partitionBy(query_id); what
    // keeps that scalable is Spark's WindowGroupLimit rewrite — a
    // MAP-SIDE partial limit that bounds the shuffle at
    // parts x queries x k rows instead of n x queries. An expression
    // change breaking the rewrite pattern (or a conf flip disabling
    // it) would silently revert these scans to corpus-sized sorts;
    // assert the operator is actually present in the executed plan.
    for (name <- Seq("ann_topk", "ann_pq", "ann_sq", "ann_pca")) {
      val p = planOf(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit rank-limit pushdown — its " +
          s"top-k shuffle is corpus-sized again; plan:\n$p")
    }
  }

  test("q_bloom_prefilter: the membership probe filters BELOW the join") {
    val p = planOf("q_bloom_prefilter")
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain_long")
    assert(probeIdx >= 0, s"bloom probe missing from the plan:\n$p")
    // executedPlan prints root-first, children after parents: the
    // probe predicate inside the scan stage must appear AFTER the
    // join node — a probe above the join would mean partner-less rows
    // still rode the shuffle and the reduction did nothing
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe did not stay below the join; plan:\n$p")
  }

  test("profile_ucc: all combinations from ONE scan through one Expand") {
    val p = planOf("profile_ucc")
    assert("Expand".r.findAllIn(p).length == 1,
      s"expected exactly one Expand; plan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"UCC audit must read orders exactly once; plan:\n$p")
  }

  test("q5: dimension joins are broadcast") {
    val p = planOf("q5_multijoin")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins at this SF, got $broadcasts")
  }

  test("r8 queries: broadcast dims, narrow chunking, codes-only PQ scan") {
    // q10: every dim join broadcasts, the fact side never sort-merges
    val q10 = planOf("q10_returns")
    assert("BroadcastHashJoin".r.findAllIn(q10).length >= 3 &&
      !q10.contains("SortMergeJoin"), s"q10 joins regressed")
    // curate_split: the pair-sized component map joins broadcast —
    // document payloads must never shuffle for a split assignment
    val split = planOf("curate_split")
    assert(split.contains("BroadcastHashJoin"), "split map join not broadcast")
    assert(!split.contains("SortMergeJoin"),
      "split must not shuffle the corpus against the tiny component map")
    // curate_chunks/gopher: one exchange TOTAL, and only for the
    // driver contract's ORDER BY — the operators themselves are narrow
    for (name <- Seq("curate_chunks", "curate_gopher", "multimodal_audio",
        "multimodal_audio_seg", "multimodal_resize")) {
      val p = planOf(name)
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$name grew a shuffle beyond the output sort:\n$p")
    }
  }

  test("asof join: one exchange feeds the window (union-merge, no per-key blowup)") {
    val p = planOf("asof_join")
    assert(p.contains("Window"), "window operator missing")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not fall back to a product join")
  }

  test("range join: bucketized equi-join, never a nested-loop plan") {
    val p = planOf("range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a product plan")
  }

  test("text ops are shuffle-free projections") {
    val p = planOf("token_count")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-row text op should not hash-shuffle")
  }

  test("text_stats/curate_quality prune the unused profile kernels") {
    // both route through docProfile's 13-column projection but consume
    // only the cheap counting columns — ColumnPruning must drop the
    // simhash / winnowing / language-ID kernels from their plans, or
    // each would silently pay the full profile cost
    for (q <- Seq("text_stats", "curate_quality")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val p = df.queryExecution.optimizedPlan.toString()
      for (kernel <- Seq("simhash64", "winnow_mins", "lang_score"))
        assert(!p.contains(kernel),
          s"$q plan still evaluates pruned-away kernel $kernel")
    }
  }

  test("embedding near-dup scale path never plans a product join") {
    val p = planOf("dedup_embedding_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "banded pair generation degenerated to an all-pairs product plan")
    // the wired (capped) query runs eagerly and caches, so its plan
    // string can collapse to an InMemoryTableScan — ALSO assert the
    // underlying lazy pipeline's shape directly
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val lazyPlan = graft.similarity.Ann
      .cosinePairsLsh(emb, "vec_id", "embedding", threshold = 0.8)
      .queryExecution.executedPlan.toString
    assert(!lazyPlan.contains("BroadcastNestedLoopJoin")
        && !lazyPlan.contains("CartesianProduct"),
      s"uncapped banded pipeline plans a product join:\n$lazyPlan")
  }

  // Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
  // every entry broadcasts a side BOUNDED BY CONSTRUCTION — a distinct
  // value domain (value matching scores all pairs of DISTINCT values,
  // the reference semantics; cost is |distinct|^2, never |rows|^2), a
  // column-name list, a single-row corpus total, or a driver-small
  // query batch (ann_topk is the declared brute-force baseline; the
  // ann_*_recall gates embed the same broadcast-query brute-force
  // truth to compare the approximate paths against). A BNLJ
  // over an UNBOUNDED side — like the retired dedup_embedding exact
  // pair join over the whole corpus — is the scale-killer this test
  // exists to catch.
  private val boundedBroadcastBnlj = Set(
    "match_values_edit", "match_values_topk", "match_values_tfidf",
    "match_values_embedding", "match_values_coverage",
    // match_values_standard routes through the same edit matcher over
    // DISTINCT values (vocabulary side broadcast-bounded by definition)
    "match_values_standard",
    // jaro_winkler matching shares match_values_edit's shape: the
    // TARGET DOMAIN (distinct values — the value-matching contract's
    // broadcast-bounded side) crosses the source domain behind the
    // 5t-4 length band
    "match_values_jw",
    // the non-ASCII gate runs the SAME jw matcher over its 8-variant /
    // 8-canonical name spines — both domains literal-bounded
    "match_values_jw_unicode",
    // semantic decontamination scores the corpus against the BROADCAST
    // eval split (benchmark-sized by contract — the decontaminate
    // family's asymmetric shape); the corpus side never shuffles
    "decontaminate_semantic",
    "match_schema_name", "match_schema_sketch", "match_schema_twophase",
    "match_schema_maxvalsim", "match_schema_overlap", "match_schema_topk",
    // coma crosses the column-name score matrices (driver-small);
    // the standard match crosses per-COLUMN counts with the
    // vocabulary's per-ATTRIBUTE counts (both column-count-bounded)
    "match_schema_coma", "match_schema_standard",
    // the fromSchemaJson flow shares match_schema_standard's shape:
    // per-COLUMN counts crossed with the JSON vocabulary's
    // per-ATTRIBUTE counts (both column/attribute-count-bounded)
    "match_schema_standard_json",
    // curate_buckets scores through the same unigram LM (1-row totals
    // crossJoin) before its rank window
    "text_lm_score", "curate_buckets",
    // bigram LM: same 1-row vocabulary-size totals crossJoin as the
    // unigram scorer (the bigram/unigram count joins are hash joins)
    "text_bigram_lm",
    // KN trigram LM: the same 1-row bigram-type-total crossJoin; all
    // count/continuation joins are hash joins on type-sized tables
    "text_kn_lm",
    // pairwise MI: per-pair ONE-ROW total frames cross into the
    // group-sized joint/marginal tables (the q11 scalar pattern)
    "profile_mi",
    // PMI collocations: the ONE-ROW token-total frame crosses into
    // the bigram/unigram count join (the score_ppm numerator's T)
    "corpus_collocations",
    // keywords crosses the ONE-ROW corpus-count frame into the
    // tf/df join (the idf denominator)
    "text_keywords",
    // the IND sketch gate crosses the |columns|-row sketch frame with
    // itself (13x13 pairs — column-count-bounded, like the schema
    // matchers above); the join-size gate crosses ONE-ROW sketch and
    // exact-count frames per pair
    "profile_inclusion_sketch", "profile_joinsize_sketch",
    // histogram bucketing crosses the ONE-ROW min/max bounds frame
    // into the value stream (graph_pagerank has the same one-row
    // dangling-mass crossJoin per round, but its per-round lineage
    // pin truncates the plan, so the BNLJ never reaches the final
    // executed plan this guard inspects)
    "profile_histogram",
    // bucketed drift crosses the same ONE-ROW union-bounds frame into
    // the tagged value stream before its 16-bucket contingency
    "profile_drift_hist",
    // ann_range / ann_knn_label: same broadcast-query corpus scan as
    // ann_topk (the kNN probe is cosineTopK + batch-sized vote frames)
    "ann_topk", "ann_range", "ann_knn_label", "ann_lsh_recall", "ann_ivf_recall",
    // the filtered variant is ann_topk over the pre-filtered slice —
    // same broadcast-query corpus scan
    "ann_topk_filtered",
    // PQ's ADC scan crossJoins the BROADCAST query batch against the
    // compact (id, reconstruction) table — query-side bounded like
    // ann_topk; the recall gate adds the exact-truth baseline on top
    "ann_pq", "ann_pq_index", "ann_pq_recall",
    // the SemDeDup recall gate's exact-truth baseline: probe slice
    // (200 ids) against the corpus via an inequality join — the same
    // O(probe x corpus) bounded-broadcast shape as the ann gates
    "dedup_semantic_recall",
    // q11's scalar-subquery HAVING: the per-part aggregate crossJoins
    // its own ONE-ROW global re-aggregate (1-row broadcast)
    "q11_important",
    // BM25 crossJoins its ONE-ROW corpus length-stats frame into the
    // query-term-pruned posting table (the q11 pattern)
    "text_search_bm25",
    // hybrid fusion embeds BOTH bounded arms: BM25's one-row stats
    // crossJoin and ann_topk's broadcast-query corpus scan; the RRF
    // combine itself aggregates only the truncated top-k union
    "text_search_hybrid",
    // NB classification crossJoins |classes|-row and ONE-ROW model
    // frames (class table, vocabulary size, prior-argmax fallback)
    // into the token stream — all broadcast, class count a small
    // constant; the token-key count join is a hash join
    "text_classify_nb",
    // the char-trigram NB rows (r19) ride the identical classify
    // chain: classes/vocab-size/fallback one-row broadcast crosses —
    // all bounded by |classes| = 5 languages
    "lang_id_nb", "lang_id_nb_gate",
    // temperature mixing crossJoins the one-row token total into the
    // tiny per-group frame (group cardinality = languages/sources);
    // apply_mix embeds the same plan under its broadcast rate join
    "curate_temperature", "curate_apply_mix",
    // quality bucketing broadcasts its ONE-ROW corpus-size frame into
    // the ranked corpus for the closed-form ntile (the q11 pattern)
    "curate_buckets",
    // the KN-scored bucketing (r20) composes text_kn_lm's 1-row
    // bigram-type-total crossJoin with curate_buckets' 1-row
    // corpus-size crossJoin — both bounded-broadcast (q11 pattern)
    "curate_buckets_kn",
    // r12 additions — all the established bounded shapes:
    // the IVFPQ/SQ recall gates embed the exact-truth baseline
    // (broadcast-query corpus scan, the ann_pq_recall shape); the SQ
    // ADC scan itself is the same broadcast-query crossJoin as ann_pq
    "ann_ivfpq_recall", "ann_sq", "ann_sq_recall", "ann_pca", "ann_pca_recall",
    // the persisted-BM25 paths keep BM25's one-row stats crossJoin
    // (now read from the index's stats file); hybrid_idx embeds it
    // alongside the cell-pruned dense arm
    "text_search_bm25_idx", "text_search_bm25_incr", "text_search_hybrid_idx",
    // the NB gate aggregates text_classify_nb's plan (the same
    // |classes|-row and one-row model-frame crossJoins), and the
    // classifier-driven curation filter scores the corpus through it
    "text_classify_nb_gate", "curate_classify_filter",
    // the r12 grouped distribution matcher crossJoins each side's
    // histogram with the OTHER side's literal column-name list
    // (|cols| rows, broadcast) and the full literal pair matrix —
    // schema-sized frames, never instance data
    "match_schema_distribution",
    // r13 additions — established bounded shapes: the PCA-IVFPQ
    // recall gate embeds the exact-truth baseline (broadcast-query
    // corpus scan, the ann_ivfpq_recall shape); the filtered hybrid
    // keeps BM25's one-row (summed per-lang) stats crossJoin beside
    // the cell-pruned filtered dense arm (the hybrid_idx shape)
    "ann_pca_ivfpq_recall", "text_search_hybrid_filtered",
    // the merged *ALL* sketch row crossJoins its ONE-ROW global
    // exact-count frame (the q11 scalar-subquery pattern)
    "profile_distinct_sketch",
    // r14: the source-overlap matrix crossJoins the |sources|-row
    // sketch frame with itself under g1 < g2 (the inclusionSketchGate
    // shape) — sources number in the thousands at most, never
    // corpus-sized; the corpus itself reduces map-side to one sketch
    // row per source before the cross
    "profile_source_overlap")

  test("no wired query plans a CartesianProduct; BNLJ only on bounded-broadcast baselines") {
    val withBnlj = scala.collection.mutable.Set[String]()
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — a shuffled product join")
      if (p.contains("BroadcastNestedLoopJoin")) withBnlj += name
    }
    assert(withBnlj == boundedBroadcastBnlj,
      s"BNLJ set drifted: unexpected=${(withBnlj -- boundedBroadcastBnlj).toSeq.sorted} " +
        s"stale-allowlist=${(boundedBroadcastBnlj -- withBnlj).toSeq.sorted} — " +
        "a new entry needs a bounded-broadcast justification above")
  }

  // Partition-less windows whose INPUT is bounded by construction
  // (group-cardinality frames, never corpus-sized rows), so the single
  // partition holds a handful of rows at any corpus scale:
  private val boundedFrameWindows = Set(
    // temperature mixing normalizes per-LANGUAGE weight shares — the
    // window input is the groupBy(lang) aggregate (|langs| rows);
    // apply_mix embeds the same tiny frame under its rate join
    "curate_temperature", "curate_apply_mix",
    // the Benford grand total runs over the 9-row digit aggregate
    "profile_benford",
    // the chi-square side/grand totals run over the |categories|-row
    // contingency aggregate (5 priorities / 4 event types) — the
    // corpus-sized work is the upstream groupBy(category); the hist
    // variant's totals run over its ≤16-bucket contingency likewise
    "profile_drift_chi2", "profile_drift_hist")

  test("no wired query plans a partition-less window over corpus-sized input") {
    // a Window with an empty partitionBy forces ONE task to sort the
    // whole input — the r10 weak flags (match_schema_distribution,
    // curate_buckets) were exactly this shape over corpus-sized rows.
    // Both now rank through Ranks.globalRank; assert the scale-killer
    // never comes back in ANY wired query (bounded group-sized frames
    // above are the only sanctioned exceptions).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val withGlobalWindow = scala.collection.mutable.Set[String]()
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) withGlobalWindow += name
    }
    assert(withGlobalWindow.toSet == boundedFrameWindows,
      s"partition-less Window set drifted: " +
        s"unexpected=${(withGlobalWindow.toSet -- boundedFrameWindows).toSeq.sorted} " +
        s"stale-allowlist=${(boundedFrameWindows -- withGlobalWindow).toSeq.sorted} — " +
        "a new entry needs a bounded-frame justification above")
  }

  test("ann_ivf_index: the persisted-index probe scan prunes unprobed cells") {
    // the wired query's own executed plan (not just the operator spec)
    // must show the probed-cell literals as PARTITION filters on the
    // index scan — the storage-layer candidate selection that lets a
    // query batch read nProbe/nCells of a 100 TB corpus
    val p = planOf("ann_ivf_index")
    assert(p.contains("PartitionFilters: [") && p.contains("cell"),
      s"index scan shows no cell partition filters:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_search_hybrid_idx: both arms serve from indexes — no corpus scan in the fused plan") {
    // after the eager index builds, the served plan must read ONLY the
    // bucketed postings table and the cell-pruned IVF index: neither
    // raw corpus file appears, and the dense arm's scan carries the
    // probed-cell partition filters — the whole point of the
    // index-backed hybrid at 100 TB
    val p = planOf("text_search_hybrid_idx")
    assert(!p.contains("documents.parquet"),
      s"lexical arm re-scanned the raw corpus:\n$p")
    // embeddings.parquet may appear ONLY as the 3-row query batch
    // (pushed vec_id bound) — never as an unfiltered corpus scan
    val embScans =
      """FileScan parquet [^\n]*embeddings\.parquet[^\n]*""".r.findAllIn(p).toSeq
    assert(embScans.forall(_.contains("LessThan(vec_id")),
      s"dense arm re-scanned the raw vectors:\n${embScans.mkString("\n")}")
    assert(p.contains("PartitionFilters: [") && p.contains("cell"),
      s"dense arm's index scan shows no cell partition filters:\n$p")
    // the postings read is term-pruned (pushed isin/In on term)
    assert("""PushedFilters: \[[^\]]*In\(term""".r.findFirstIn(p).isDefined,
      s"postings scan shows no pushed term filter:\n$p")
  }

  test("text_search_hybrid_filtered: the lang predicate pushes into BOTH index arms' scans") {
    // the filtered hybrid's whole point: the metadata predicate cuts
    // rows INSIDE each index scan — the lang-carrying postings read
    // keeps its pushed term isin AND gains a pushed lang equality; the
    // dense arm's codes scan keeps its probed-cell partition filters
    // AND gains the same pushed lang equality; the raw corpus text is
    // never re-scanned (embeddings surface only as the query batch +
    // the candidate re-rank semi-join, the documented IVFPQ shape)
    val p = planOf("text_search_hybrid_filtered")
    assert(!p.contains("documents.parquet"),
      s"lexical arm re-scanned the raw corpus:\n$p")
    assert(p.contains("PartitionFilters: [") && p.contains("cell"),
      s"dense arm's codes scan shows no cell partition filters:\n$p")
    assert("""PushedFilters: \[[^\]]*In\(term""".r.findFirstIn(p).isDefined,
      s"postings scan shows no pushed term filter:\n$p")
    val langPushes =
      """PushedFilters: \[[^\]]*EqualTo\(lang,en\)""".r.findAllIn(p).size
    assert(langPushes >= 2,
      s"lang predicate must push into BOTH arms' scans (found $langPushes):\n$p")
  }

  test("corpus-materialization queries keep equi/anti joins only") {
    // keepCanonical and Decontaminate.clean anti-join the corpus
    // against small id sets — a product plan here would scan-multiply
    // the full corpus
    for (q <- Seq("dedup_canonical", "decontaminate_clean")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q planned a product join")
    }
  }

  test("q4/q22 plan genuine semi/anti hash joins, never row-duplicating inner joins") {
    val p4 = planOf("q4_late_orders")
    assert(p4.contains("LeftSemi"), s"q4 must semi-join (EXISTS shape):\n$p4")
    val p22 = planOf("q22_dormant")
    assert(p22.contains("LeftAnti"), s"q22 must anti-join (NOT EXISTS shape):\n$p22")
    for (p <- Seq(p4, p22))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("curate_pipeline: quality -> dedup -> pack composes into ONE corpus scan") {
    // the end-to-end chain must not re-read the corpus per stage: one
    // FileScan, and only the two structural shuffles (dedup window's
    // hash partition + the per-shard packing window, whose partitioning
    // the final aggregation reuses)
    val df = SparkEntry.queries("curate_pipeline")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$p")
  }

  test("exact dedup aggregates map-side before the hash shuffle") {
    // partial_min/partial_count markers prove the combine happens
    // before the exchange — at 100 TB the shuffle carries one row per
    // (partition, text-hash), not one per document
    val p = planOf("dedup_exact")
    assert(p.contains("partial_"), "no map-side partial aggregation in plan")
  }

  test("deterministic sampling is a pure per-row predicate: no exchange") {
    val p = planOf("curate_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      "sampling must not shuffle — it is a pushdown-friendly filter")
  }

  test("kernel queries carry no CodegenFallback expressions") {
    // a single CodegenFallback expression (native fallback kernel or an
    // interpreted HOF lambda) disqualifies its whole operator from
    // WholeStageCodegen — the sketch/text pipelines must have none
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val queries = Seq("dedup_minhash", "dedup_simhash", "lang_id",
      "doc_fingerprint", "text_scrub", "text_stats", "token_count",
      "text_entropy")
    for (q <- queries) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val fb = scala.collection.mutable.ArrayBuffer[String]()
      df.queryExecution.optimizedPlan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case e: CodegenFallback => fb += e.prettyName
          case _ =>
        })
      }
      assert(fb.isEmpty, s"$q has CodegenFallback expressions: ${fb.distinct}")
    }
  }

  test("sketch kernels execute inside WholeStageCodegen spans") {
    // run two cheap kernel queries to finalize the adaptive plan (the
    // session has spark.sql.codegen.fallback=false, so Janino failures
    // would throw here instead of silently interpreting), then assert
    // the *(n) whole-stage markers sit on the kernel projections
    for ((q, kernel) <- Seq("lang_id" -> "lang_score(",
                            "dedup_simhash" -> "simhash64(")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      // keep only the final adaptive plan — the "== Initial Plan ==" tail
      // repeats the pre-codegen tree and would always trip the assert
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // only operator lines that EVALUATE the kernel count — FileScan
      // lines echo the kernel inside their DataFilters description
      val lines = p.linesIterator.filter(l =>
        l.contains(kernel) && !l.contains("FileScan")).toSeq
      assert(lines.nonEmpty, s"$q: final plan never inlines $kernel")
      lines.foreach { l =>
        assert(l.contains("*("),
          s"$q: operator evaluating $kernel is outside WholeStageCodegen:\n$l")
      }
    }
  }

  test("every wired query, run inside Pins.scoped, leaves nothing cached") {
    // a long-lived session that scopes each query must not accumulate
    // cached or checkpointed blocks. The only survivors allowed are
    // the process-level memo frames (capFrames, fixtureCorpus), which
    // are identified through the memo maps themselves.
    import graft.operators.Pins
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    def memoRdds: Set[Int] = {
      val frames = SparkEntry.capFramesCache.values.asScala.toSeq
        .flatMap(_.productIterator.map(_.asInstanceOf[DataFrame])) ++
        SparkEntry.fixtureCorpusCache.values.asScala
      frames.flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id })
        .toSet
    }
    spark.catalog.clearCache()
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      Pins.scoped(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      val rdds = sc.getPersistentRDDs.keySet.toSet -- before -- memoRdds
      val cached = !spark.sharedState.cacheManager.isEmpty
      if (cached) spark.catalog.clearCache()
      if (rdds.nonEmpty || cached) Some(s"$name: new rdds $rdds, cache entries left: $cached")
      else None
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
