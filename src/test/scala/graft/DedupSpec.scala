package graft

import graft.dedup.Dedup
import org.apache.spark.sql.{functions => F}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),        // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),      // near dup of 1
    (4L, "completely different words entirely unrelated text here"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L, "docs 1 and 2 collapse to min id 1")
    assert(!out.contains(2L))
    assert(out(3L) == 1L && out(4L) == 1L)
  }

  test("jaccardPairs finds near dups, no false pairs, exact scores") {
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)), "exact dups are also jaccard dups")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "one-word-change near dup")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc pairs with nothing")
    val j12 = out.find(r => r._1 == 1L && r._2 == 2L).get._3
    assert(j12 == 1.0)
    // doc1 vs doc3: 7 shingles each (9 tokens, k=3), 5 shared → J = 5/9
    val j13 = out.find(r => r._1 == 1L && r._2 == 3L).get._3
    assert(math.abs(j13 - 5.0 / 9.0) < 1e-12)
  }

  test("minhashLsh candidates verified exactly (no false positives)") {
    val out = Dedup.minhashLsh(docs, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    out.foreach { case (_, _, j) => assert(j >= 0.4) }
    assert(out.exists(r => r._1 == 1L && r._2 == 2L), "identical docs always collide")
  }

  test("components: label propagation finds min-id clusters") {
    // graph: {1-2, 2-3, 3-7} one chain, {10-11} a pair, 99 isolated (no edges)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("id1", "id2")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(7L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(!comp.contains(99L), "isolated nodes are not in the pair graph")
  }

  test("components: a scope releases a cached pair table; output unaffected") {
    import graft.operators.Pins
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val comp = Pins.scoped {
      Pins.persist(pairs).count()
      Dedup.components(pairs).as[(Long, Long)].collect().toMap
    }
    assert(comp(3L) == 1L && comp(11L) == 10L)
    assert(pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the scope must release the input cache")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"components left cached frames behind: $leaked")
  }

  test("components distributed path: labels survive upstream cache release") {
    // smallGraphLimit = 0 forces the label-propagation path on a small
    // graph. The returned labels must have TRUNCATED lineage
    // (checkpointed), so collecting them after a full cache purge
    // cannot re-walk the released input.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("id1", "id2").persist()
    pairs.count()
    val labels = Dedup.components(pairs, smallGraphLimit = 0)
    spark.catalog.clearCache() // simulate eviction of every cached frame
    val comp = labels.as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(7L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(!labels.queryExecution.optimizedPlan.toString.contains("Join"),
      "truncated lineage must not reach the propagation join pipeline")
  }

  test("capReport counts what dfCap and bucketCap drop") {
    // 30 docs sharing one boilerplate sentence + unique tails: the
    // shared shingles have df=30 > dfCap=10, and every doc lands in the
    // same full-signature buckets only if identical — use exact dups to
    // force an over-cap bucket
    val boiler = (1 to 30).map(i =>
      (i.toLong, s"shared boilerplate sentence common to all docs plus unique tail $i"))
    val dups = (31 to 40).map(i => (i.toLong, "exactly the same text every time"))
    val corpus = (boiler ++ dups).toDF("doc_id", "text")
    val rep = Dedup.capReport(corpus, "doc_id", "text", k = 3,
      dfCap = 10, numHashes = 16, bands = 4, bucketCap = 5)
      .as[(String, Long)].collect().toMap
    assert(rep("jaccard_shingles_over_dfcap") > 0,
      "30-doc boilerplate shingles exceed dfCap=10")
    assert(rep("jaccard_postings_dropped") >= 11 * rep("jaccard_shingles_over_dfcap"),
      "each over-cap shingle carries more than dfCap postings")
    assert(rep("minhash_buckets_over_cap") >= 4,
      "10 identical docs collide in all 4 bands; each bucket has 10 > 5")
    assert(rep("minhash_band_entries_dropped") >= 40,
      "4 over-cap buckets x 10 docs")
    assert(rep.keySet.size == 4)
  }

  test("keepCanonical drops all but the min-id doc per near-dup cluster") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L), s"got $kept")
  }

  test("distributed components branch end-to-end: keepCanonical and leakageFreeSplit equal the union-find path") {
    // The union-find fast path wins at every gate-scale graph size, so
    // the label-propagation branch would otherwise only run in its own
    // unit tests. Drive BOTH branches through the full driver-shaped
    // pipelines — jaccardPairs -> keepCanonical and jaccardPairs ->
    // leakageFreeSplit — by forcing smallGraphLimit = 0, and assert the
    // outputs are IDENTICAL to the fast path's: same survivors, same
    // (id, group_id, split) assignment. Both branches must implement
    // the same min-id component contract or the corpus a cluster run
    // deduplicates would differ from what the gate certified.
    val corpus = (0 until 30).flatMap { c =>
      val base = s"cluster $c shares one sentence body with enough tokens to shingle " +
        s"reliably across every member of the group"
      (0 until (c % 3) + 1).map(j => (c * 10L + j, base))
    } ++ Seq((900L, "a lonely document about something entirely different"),
      (901L, "another unpaired text with its own vocabulary and no twin"))
    val df = corpus.toDF("doc_id", "text")
    def pairs = Dedup.jaccardPairs(df, "doc_id", "text", k = 3, threshold = 0.8)
      .select("id1", "id2")
    val keptFast = Dedup.keepCanonical(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    val keptDist = Dedup.keepCanonical(df, "doc_id", pairs, smallGraphLimit = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptFast == keptDist,
      s"branches disagree: fast-only=${keptFast -- keptDist} dist-only=${keptDist -- keptFast}")
    // min-id survivors: every cluster keeps c*10, both singletons stay
    val expect = (0 until 30).map(_ * 10L).toSet ++ Set(900L, 901L)
    assert(keptFast == expect)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def splitRows(limit: Long) =
      graft.text.Curate.leakageFreeSplit(df, "doc_id", pairs, splits,
          smallGraphLimit = limit)
        .select("doc_id", "group_id", "split")
        .as[(Long, Long, String)].collect().toSet
    val sFast = splitRows(Long.MaxValue)
    val sDist = splitRows(0L)
    assert(sFast == sDist,
      s"split assignment diverges: ${(sFast diff sDist) ++ (sDist diff sFast)}")
    // leakage-free contract holds under the distributed labels too:
    // every group lands in exactly one split
    assert(sDist.groupBy(_._2).forall { case (_, rows) => rows.map(_._3).toSet.size == 1 })
  }

  test("keepBest maps every doc to its cluster's top-score member") {
    // cluster {1,2,3}: scores 5,9,9 -> survivor 2 (max score, tie min
    // id); cluster {6,7}: survivor 7; 4 and 5 are singletons
    val members = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val docs7 = members.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("id1", "id2")
    val scored = Seq((1L, 5), (2L, 9), (3L, 9), (4L, 1), (5L, 2),
      (6L, 3), (7L, 8)).toDF("id", "score")
    val got = Dedup.keepBest(docs7, "doc_id", pairs, scored)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L,
      5L -> 5L, 6L -> 7L, 7L -> 7L), s"got $got")
  }

  test("minhashLsh recall vs exact jaccard on the sf0.001 corpus") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.jaccardPairs(real, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val approx = Dedup.minhashLsh(real, "doc_id", "text", k = 3,
      numHashes = 128, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exact), "verification guarantees no false positives")
    if (exact.nonEmpty) {
      val recall = approx.size.toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall below 0.9 (|exact|=${exact.size})")
    }
  }

  test("dfCap bounds PPJoin candidates on a boilerplate-heavy corpus") {
    // 120 docs, each 4 shared boilerplate shingles + 3 unique ones:
    // the PPJoin prefix (|d| - ceil(t|d|) + 1 = 4) must include one
    // shingle with document frequency 120, so that single ubiquitous
    // shingle emits C(120,2) candidates — the quadratic blowup the cap
    // guards — while pairwise Jaccard stays 4/10 = 0.4 < threshold
    val docs = (1 to 120).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardCandidates(docs, "doc_id", "text", 3, 0.5, None)
    val capped = Dedup.jaccardCandidates(docs, "doc_id", "text", 3, 0.5, Some(10))
    val (nu, nc) = (uncapped.count(), capped.count())
    assert(nu > 5000, s"boilerplate corpus should explode candidates, got $nu")
    assert(nc < 200, s"dfCap should bound candidates, got $nc")
    // boilerplate pairs sit below the 0.5 threshold here, so capping
    // candidates does not change the VERIFIED output at all
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val withCap = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, Some(10))
    assert(full.count() == withCap.count())
    uncapped.unpersist(); capped.unpersist(); full.unpersist(); withCap.unpersist()
  }

  test("bucketCap bounds LSH bucket blowup; capped output stays a subset") {
    // near-identical docs (one long shared text + unique token) collide
    // into the same LSH buckets: bucket size ~n, candidates ~n^2
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm mat near the old wooden door"
    val docs = (1 to 60).map(i => (i.toLong, s"$base extra$i")).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(docs, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, threshold = 0.5)
    val capped = Dedup.minhashLsh(docs, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, threshold = 0.5, bucketCap = Some(10))
    val all = uncapped.select("id1", "id2").as[(Long, Long)].collect().toSet
    val sub = capped.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(all.size > 1000, s"degenerate buckets should pair ~all docs, got ${all.size}")
    assert(sub.subsetOf(all), "capping only ever drops pairs")
    assert(sub.size < all.size,
      "the documented recall tradeoff: over-cap buckets are skipped")
  }

  test("boilerplateShingles: per-doc distinct doc frequencies above floor") {
    // "a b c" appears (once-per-doc) in docs 1..3; doc 3 repeats it
    val df = Seq(
      (1L, "a b c x"), (2L, "a b c y"), (3L, "a b c a b c"),
      (4L, "q r s t")).toDF("doc_id", "text")
    val out = Dedup.boilerplateShingles(df, "doc_id", "text", k = 3, minDocs = 3)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a b c" -> 3L), s"got $out")
  }

  test("incrementalNew: batch-internal dups and already-seen texts dropped") {
    val existing = Seq((1L, "seen text here"), (2L, "other old doc")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "seen text here"),   // already in the corpus
      (11L, "brand new text"),
      (12L, "brand new text"),   // batch-internal dup of 11
      (13L, "another new one")).toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(incoming, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("decontaminate: overlap counts shared distinct shingles, clean drops hits") {
    import graft.dedup.Decontaminate
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val hits = Decontaminate.overlap(docs, "doc_id", "text",
      eval, "doc_id", "text", k = 3)
      .as[(Long, Long)].collect().toMap
    // docs 1/2 are the eval text verbatim: all 7 3-gram shingles shared
    assert(hits(1L) == 7L && hits(2L) == 7L)
    // doc 3 differs by one word: shares the 5 shingles not touching it
    assert(hits(3L) == 5L)
    assert(!hits.contains(4L) && !hits.contains(5L), "no overlap, no row")
    val kept = Decontaminate.clean(docs, "doc_id", "text",
      eval, "doc_id", "text", k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L), "contaminated docs dropped, rest intact")
  }

  test("decontaminate probes via a broadcast join (eval side is benchmark-sized)") {
    import graft.dedup.Decontaminate
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = Decontaminate.overlap(docs, "doc_id", "text",
      eval, "doc_id", "text", k = 3)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the eval shingle set must broadcast — the corpus side streams")
  }

  test("simhashPairs: identical docs at hamming 0; output within radius") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val h12 = out.find(r => r._1 == 1L && r._2 == 2L)
    assert(h12.exists(_._3 == 0), "identical texts have identical simhash")
    out.foreach { case (_, _, h) => assert(h <= 3) }
  }

  test("pairGroupReport: unordered group pairs counted; within-group kept") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val meta = Seq((1L, "web"), (2L, "books"), (3L, "web"),
      (4L, "books"), (5L, "books")).toDF("doc_id", "source")
    val out = Dedup.pairGroupReport(pairs, meta, "doc_id", "source")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (1,2) web-books; (1,3) web-web; (2,3) books-web; (4,5) books-books
    assert(out(("books", "web")) == 2L, s"got $out")
    assert(out(("web", "web")) == 1L)
    assert(out(("books", "books")) == 1L)
  }

  test("capReport over pre-built frames equals the from-scratch counters") {
    // a caller already running the capped dedup queries hands in the
    // shingle and banded-signature tables it built — same counters,
    // two corpus passes saved
    val boiler = (1 to 30).map(i =>
      (i.toLong, s"shared boilerplate sentence common to all docs plus unique tail $i"))
    val dups = (31 to 40).map(i => (i.toLong, "exactly the same text every time"))
    val corpus = (boiler ++ dups).toDF("doc_id", "text")
    val scratch = Dedup.capReport(corpus, "doc_id", "text", k = 3,
      dfCap = 10, numHashes = 16, bands = 4, bucketCap = 5)
      .as[(String, Long)].collect().toMap
    val shingles = Dedup.docShingles(corpus, "doc_id", "text", k = 3).persist()
    val banded = Dedup.minhashBanded(corpus, "doc_id", "text",
      k = 3, numHashes = 16, bands = 4).persist()
    val shared = Dedup.capReport(shingles, banded, dfCap = 10, bucketCap = 5)
      .as[(String, Long)].collect().toMap
    shingles.unpersist(); banded.unpersist()
    assert(shared == scratch, s"shared-frame counters drifted: $shared vs $scratch")
  }

  test("components takes the RELIABLE checkpoint branch when a dir is set") {
    // cluster deployments set a checkpoint dir (GraftSession.build knob /
    // SPARK_GRAFT_CHECKPOINT_DIR); the distributed-path labels must then
    // be pinned by a reliable checkpoint() — files on the checkpoint
    // store — so an executor loss re-reads them instead of re-running
    // the released upstream pair pipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("id1", "id2").persist()
    pairs.count()
    val labels = Dedup.components(pairs, smallGraphLimit = 0)
    spark.catalog.clearCache()
    val comp = labels.as[(Long, Long)].collect().toMap
    assert(comp(7L) == 1L && comp(11L) == 10L)
    assert(!labels.queryExecution.optimizedPlan.toString.contains("Join"),
      "checkpointed labels must not re-walk the propagation pipeline")
    val ckptFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(ckptFiles > 0, "reliable checkpoint wrote no files — branch not taken")
  }

  test("incremental near-dup against the persisted signature index equals exact batch pairs") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely different words entirely unrelated text here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the sleepy dog"),
      (11L, "the quick brown fox jumps over the sleepy dog"),
      (12L, "totally novel content with no relatives at all anywhere")
    ).toDF("doc_id", "text")
    // a crashed previous run can leave the managed location behind
    // without a catalog entry — clear both before building
    spark.sql("DROP TABLE IF EXISTS inc_sig_idx")
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "inc_sig_idx")
    if (java.nio.file.Files.exists(loc))
      java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    Dedup.minhashIndexBuild(existing, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, table = "inc_sig_idx", nBuckets = 4)
    val loaded = spark.table("inc_sig_idx")
    // the index read is bucket-aware, so the (band, key) join never
    // shuffles the corpus-sized signature side. At this toy scale the
    // planner broadcasts the probe and rightly skips bucketing, so
    // assert the AT-SCALE plan shape: with broadcast off, the join must
    // read the index bucketed and exchange only the probe side.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val scanPlan = loaded.join(
        Dedup.minhashBanded(incoming, "doc_id", "text", 3, 64, 16), Seq("band", "key"))
        .queryExecution.executedPlan.toString
      assert(scanPlan.contains("Bucketed: true"),
        s"signature index scan is not bucket-aware:\n$scanPlan")
      assert("Exchange hashpartitioning".r.findAllIn(scanPlan).length == 1,
        s"expected exactly one exchange (probe side only):\n$scanPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    val out = Dedup.incrementalNearDupPairs(incoming, existing, loaded,
      "doc_id", "text", k = 3, numHashes = 64, bands = 16, threshold = 0.4)
    val got = out.as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // ground truth: the full exact pair join restricted to pairs
    // touching the batch — same values, and existing x existing pairs
    // (1,2) must NOT be regenerated
    val full = Dedup.jaccardPairs(existing.unionAll(incoming), "doc_id", "text",
        k = 3, threshold = 0.4)
      .where(F.col("id1") >= 10 || F.col("id2") >= 10)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == full, s"got=$got want=$full")
    assert(got.contains((1L, 10L)) && got.contains((10L, 11L)),
      "cross existing-batch and within-batch pairs both found")
    assert(!got.contains((1L, 2L)), "existing pairs are not re-emitted")
    spark.sql("DROP TABLE inc_sig_idx")
    out.unpersist()
  }

  test("hot-shingle salted PPJoin candidates equal the plain join on a skewed corpus") {
    // skew shape: one boilerplate bigram rides in EVERY doc (df = 60,
    // above the hot threshold, below dfCap) while each near-dup pair
    // shares rare shingles — the salted path must not change results
    val docs = (0 until 60).map { i =>
      val dup = if (i % 2 == 0) s"alpha$i beta$i gamma$i" else s"alpha${i - 1} beta${i - 1} gamma${i - 1}"
      (i.toLong, s"common anchor text $dup")
    }.toDF("doc_id", "text")
    val plain = Dedup.jaccardCandidates(docs, "doc_id", "text", 2, 0.3,
      dfCap = Some(100L), hotSalt = None)
    val salted = Dedup.jaccardCandidates(docs, "doc_id", "text", 2, 0.3,
      dfCap = Some(100L), hotSalt = Some((10L, 4)))
    val p = plain.as[(Long, Long)].collect().toSet
    val s = salted.as[(Long, Long)].collect().toSet
    assert(p.nonEmpty, "skewed corpus must produce candidates")
    assert(s == p, s"salted candidates diverged: missing=${(p -- s).size} extra=${(s -- p).size}")
    plain.unpersist(); salted.unpersist()
  }

  test("salting drops the max-task shuffle input on a skewed join") {
    // direct Skew.saltedJoin measurement: one celebrity key carries
    // 2000 left rows; plain hash join funnels them all into one task,
    // the salted join splits them across `salts` reducers. Max per-task
    // shuffle-read records is the straggler metric that matters.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import graft.operators.Skew
    val left = (0 until 2000).map(i => ("hot", i.toLong))
      .toDF("k", "payload")
    val right = Seq(("hot", 1L)).toDF("k", "tag")
    class MaxRead extends SparkListener {
      @volatile var maxRecords = 0L
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          maxRecords = math.max(maxRecords,
            te.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    def measure(f: => Long): (Long, Long) = {
      val l = new MaxRead
      spark.sparkContext.addSparkListener(l)
      try {
        val n = f
        // listener events drain asynchronously after the job completes
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (l.maxRecords == 0 && System.nanoTime() < deadline) Thread.sleep(50)
        (n, l.maxRecords)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      // AQE coalescing would merge the tiny post-split partitions back
      // together and mask the per-reducer measurement
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (nPlain, maxPlain) = measure(left.join(right, Seq("k")).count())
      val (nSalted, maxSalted) = measure(
        Skew.saltedJoin(left, right, "k", salts = 8).count())
      assert(nPlain == 2000 && nSalted == 2000, "salting must not change results")
      assert(maxPlain >= 2000, s"plain join straggler should read all rows, read $maxPlain")
      assert(maxSalted <= maxPlain / 2,
        s"salted max-task input $maxSalted not below half of plain $maxPlain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dropRepeatedParagraphs: corpus boilerplate dropped, order kept, remainder chunks") {
    // width=2 chunks: "legal boilerplate" appears in docs 1,2,3 (df=3,
    // dropped); every other chunk is unique (kept). Doc 4 is ALL
    // boilerplate; doc 5 has an odd token count (remainder chunk).
    val docs = Seq(
      (1L, "legal boilerplate alpha bravo charlie delta"),
      (2L, "echo foxtrot legal boilerplate golf hotel"),
      (3L, "india juliet kilo lima legal boilerplate"),
      (4L, "legal boilerplate"),
      (5L, "mike november oscar")
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedParagraphs(docs, "doc_id", "text",
        width = 2, minDf = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 1L, "alpha bravo charlie delta"),
      (2L, 3L, 1L, "echo foxtrot golf hotel"),
      (3L, 3L, 1L, "india juliet kilo lima"),
      (4L, 1L, 1L, ""),
      (5L, 2L, 0L, "mike november oscar")), s"got $out")
  }

  test("dropRepeatedParagraphs: below-minDf repeats survive; empty docs are zero-chunk rows") {
    val docs = Seq(
      (1L, "shared pair unique one"),
      (2L, "shared pair unique two"),   // df=2 < minDf=3 -> kept
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedParagraphs(docs, "doc_id", "text",
        width = 2, minDf = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 0L, "shared pair unique one"),
      (2L, 2L, 0L, "shared pair unique two"),
      (3L, 0L, 0L, "")), s"got $out")
  }

  test("duplicatedSpans: runs, interval-union sweep, and zero rows — hand-computed") {
    // doc 1/2 share a 6-token prefix -> one 3-gram run each, span
    // [0, 6). doc 10 is untouched. docs 8/9 share "m n o" and "o p q"
    // but NOT the middle window: two runs whose token intervals OVERLAP in doc 8
    // ([0,3) and [2,5)) — union 5, a naive sum says 6
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f x y"),
      (8L, "m n o p q"),
      (9L, "m n o z o p q"),
      (10L, "q w r t z u i o p")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .orderBy("id").as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 1L, 6L, 0.75),
      (2L, 8L, 1L, 6L, 0.75),
      (8L, 5L, 2L, 5L, 1.0),   // union length, not 3+3
      (9L, 7L, 2L, 6L, 0.857143),
      (10L, 9L, 0L, 0L, 0.0)), s"got $got")
  }

  test("stripDuplicatedSpans: min-id owner keeps spans, others lose covered positions") {
    val docs = Seq(
      (1L, "a b c d e f g h"),   // owner of the shared prefix windows
      (2L, "a b c d e f x y"),   // loses tokens 0..5, keeps "x y"
      (3L, "q w r t z u i o")).toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 8L, "a b c d e f g h"),
      (2L, 8L, 2L, "x y"),
      (3L, 8L, 8L, "q w r t z u i o")), s"got $got")
    // exactly one copy of the duplicated region survives corpus-wide
    val allText = got.map(_._4).mkString(" ")
    assert("a b c d e f".r.findAllIn(allText).length == 1)
  }

  test("GraftSession.build checkpointDir knob reaches the SparkContext") {
    // getOrCreate returns the shared test session, so the knob must
    // apply to the ACTIVE context — which is exactly the deployment
    // contract (one session, its context carries the checkpoint dir)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-knob").toString
    val s = GraftSession.build(master = "local[2]", checkpointDir = Some(dir))
    assert(s.sparkContext.getCheckpointDir.exists(_.contains(
      java.nio.file.Paths.get(dir).getFileName.toString)),
      s"checkpoint dir not applied: ${s.sparkContext.getCheckpointDir}")
  }
}
