package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Corpus curation operators for training-data pipelines: deterministic
  * sampling, quality filtering, and corpus-statistics quality scoring.
  *
  * Scale design: sampling and quality filtering are pure per-row
  * predicates (no shuffle, fully codegen'd, pushdown-friendly);
  * the unigram LM score is the canonical two-pass corpus op — one
  * token-count aggregation over the corpus, then one scoring pass.
  */
object Curate {

  /** Deterministic pseudo-random sampling key in [0, 1): a Knuth-style
    * multiplicative mix of a numeric id — exact integer arithmetic, so
    * the SAME rows are kept on every engine, run, and partitioning
    * (unlike rand(), which is per-partition-seeded, or engine hash
    * functions, which differ across engines). Public-knowledge mixer:
    * Knuth's 2654435761 multiplicative hash (TAOCP vol. 3).
    *
    * The id·constant product is built in DECIMAL, never Long (the
    * seasonal-z-test policy): a Long product wraps silently above
    * id ≈ 3.49e9 — ids in the tens of billions are routine at the
    * 100 TB design point — while the HUGEINT oracle twin stays exact,
    * so sampling membership would silently diverge cross-engine
    * exactly where it matters. decimal(21,0)·(10,0) is exact to 1e31.
    */
  def sampleKey(id: Column, salt: Long = 0L): Column =
    F.pmod((id.cast("decimal(20,0)") + F.lit(salt).cast("decimal(20,0)")) *
        F.lit(2654435761L).cast("decimal(10,0)"),
      F.lit(1000000L).cast("decimal(7,0)"))
      .cast("double") / F.lit(1000000.0)

  /** Keep ~rate of rows, deterministically by id. A pure per-row
    * filter: no shuffle, survives predicate pushdown, reproducible.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double, salt: Long = 0L): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, "rate in [0,1]")
    df.where(sampleKey(F.col(idCol), salt) < rate)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis
    * & Spirakis IPL'06, the A-ES scheme): each row draws a priority
    *   key = ln(u) / w      (order-equivalent to the classic u^(1/w))
    * from a deterministic per-id uniform u ∈ (0,1), and the k largest
    * keys are the sample — inclusion probability proportional to the
    * weight, reproducible across runs and engines (no RNG state).
    * The key rounds to 9dp BEFORE ranking so the selection boundary
    * itself is cross-engine stable; ties break on ascending id.
    *
    * Scale: the key is one codegen'd per-row expression (the
    * [[sampleKey]] hash), and top-k-by-key is a TakeOrdered — a
    * per-partition heap + driver merge of k rows, never a global
    * sort. Weights must be strictly positive.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: Long = 0L): DataFrame = {
    require(k > 0, "sample size must be positive")
    // u strictly inside (0,1): the +0.5 offset keeps ln() finite;
    // the mixer product is decimal for the sampleKey overflow reason
    val u = (F.pmod((F.col(idCol).cast("decimal(20,0)") +
        F.lit(salt).cast("decimal(20,0)")) *
        F.lit(2654435761L).cast("decimal(10,0)"),
      F.lit(1000000L).cast("decimal(7,0)")).cast("double") + F.lit(0.5)) /
      F.lit(1000000.0)
    val key = F.round(F.log(u) / F.col(weightCol).cast("double"), 9)
    df.withColumn("sample_key", key)
      .orderBy(F.col("sample_key").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Stratified deterministic sampling: per-stratum keep rates (e.g.
    * downsample boilerplate languages, keep all rare ones). Rates ride
    * in the plan as a literal map — no join, still one codegen'd
    * per-row predicate.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: Long = 0L): DataFrame = {
    val rateExpr = rates.toSeq.sortBy(_._1).foldLeft(F.lit(defaultRate)) {
      case (acc, (stratum, r)) =>
        F.when(F.col(stratumCol) === stratum, F.lit(r)).otherwise(acc)
    }
    df.where(sampleKey(F.col(idCol), salt) < rateExpr)
  }

  /** Gopher-style quality verdict (Rae et al. 2021, table A1 spirit):
    * token-count window, repetition (top-token share), symbol ratio,
    * and a stopword floor. Returns (keep boolean, first failed rule or
    * null) as columns — pure per-row, shuffle-free.
    */
  def qualityVerdict(text: Column,
                     minTokens: Int = 5, maxTokens: Int = 100000,
                     maxTopTokenShare: Double = 0.3,
                     maxPunctRatio: Double = 0.3,
                     minStopwords: Int = 1): Seq[(String, Column)] = {
    val toks = TextOps.tokens(text)
    val nToks = F.size(toks)
    val nChars = F.length(text)
    val punct = F.regexp_count(text, F.lit("[^a-zA-Z0-9 ]"))
    val punctRatio = F.when(nChars > 0,
      punct.cast("double") / nChars.cast("double")).otherwise(F.lit(0.0))
    val topShare = TextOps.topTokenShare(toks)
    val stops = graft.functions.HashExprs.stopwordCount(
      toks, TextOps.stopwords.toMap.apply("en"))
    qualityVerdictFrom(nToks, topShare, punctRatio, stops,
      minTokens, maxTokens, maxTopTokenShare, maxPunctRatio, minStopwords)
  }

  /** qualityVerdict from already-computed measures — pass ATTRIBUTES
    * of a [[TextOps.docProfile]] output (n_tokens, top_token_share,
    * punct_ratio, n_stopwords) and each kernel runs once per row;
    * `keep` and `reason` referencing the same measures is then free.
    * The inline [[qualityVerdict]] re-evaluates its when-chain for
    * both output columns (expressions, not attributes) — fine for a
    * one-off, wasteful inside a profile pipeline.
    */
  def qualityVerdictFrom(nToks: Column, topShare: Column,
                         punctRatio: Column, stops: Column,
                         minTokens: Int = 5, maxTokens: Int = 100000,
                         maxTopTokenShare: Double = 0.3,
                         maxPunctRatio: Double = 0.3,
                         minStopwords: Int = 1): Seq[(String, Column)] = {
    val reason = F.when(nToks < minTokens, "too_short")
      .when(nToks > maxTokens, "too_long")
      .when(topShare > maxTopTokenShare, "repetitive")
      .when(punctRatio > maxPunctRatio, "symbol_heavy")
      .when(stops < minStopwords, "no_stopwords")
      .otherwise(F.lit(null).cast("string"))
    Seq("keep" -> reason.isNull, "reason" -> reason)
  }

  /** Deterministic shard assignment for training-data serving: shard =
    * floor(sampleKey * nShards) — exact integer arithmetic on the id,
    * so membership is identical on every engine, run, partitioning,
    * and cluster size (unlike rand() or spark_partition_id). A pure
    * per-row expression: no shuffle to COMPUTE the assignment; the
    * shuffle happens only when the caller materializes shards.
    */
  def shardKey(id: Column, nShards: Int, salt: Long = 0L): Column = {
    // sampleKey has 1e-6 granularity; beyond ~1e5 shards assignments
    // would quantize visibly, so refuse rather than degrade silently
    require(nShards >= 1 && nShards <= 100000, "nShards in [1, 100000]")
    F.floor(sampleKey(id, salt) * nShards)
  }

  /** Globally shuffled, sharded training-data write: documents land in
    * `nShards` directories (shard=K/), each shard's rows ordered by a
    * second independent hash — the standard "shuffle once at write
    * time so training readers stream sequentially" layout.
    *
    * Scale: ONE shuffle (repartition on the shard id), then a
    * partition-local sort; both keys are per-row integer hashes, so
    * the exchange is as balanced as the id space. Membership and order
    * are reproducible bit-for-bit across clusters.
    */
  def writeShuffledShards(df: DataFrame, idCol: String, nShards: Int,
                          path: String, salt: Long = 0L): Unit =
    df.withColumn("shard", shardKey(F.col(idCol), nShards, salt))
      .withColumn("__ord", sampleKey(F.col(idCol), salt + 1))
      .repartition(nShards, F.col("shard"))
      // the id is the final tiebreaker: sampleKey has only 1e6 distinct
      // values, so any shard beyond ~10^3 docs gets key ties (birthday
      // bound) and intra-tie order would otherwise depend on input
      // partition layout — with the id the sort key is total and the
      // written order is reproducible at real corpus sizes
      .sortWithinPartitions(F.col("shard"), F.col("__ord"), F.col(idCol))
      .drop("__ord")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Per-document unigram log-probability quality score: fit a unigram
    * LM on the corpus itself (one token-count aggregation — the only
    * shuffle), then score each document by its average per-token
    * log p(token), add-one smoothed over the corpus vocabulary.
    * Low scores flag gibberish / vocabulary-divergent documents; the
    * classic cheap perplexity proxy when no external LM is available.
    *
    * Three linear corpus passes, NO caching at all: one
    * tokenize+explode for counting (map-side partial aggregation
    * absorbs the skew there) and one per scoring branch — scans are
    * the cheap currency at 100 TB; shuffles are not. The token-count
    * shuffle is referenced by three consumers inside the returned
    * plan and deduplicated by ReuseExchange at execution, so repeated
    * calls leave nothing pinned in executor memory. The scoring join
    * is Zipf-SKEWED by nature —
    * natural-language token frequencies follow a power law ("the"
    * alone is ~5% of English tokens; at 100 TB that is one reducer
    * receiving billions of rows in a plain shuffle join) — so it is
    * split: the `headK` most frequent tokens' log-probs ride as a
    * BROADCAST map-side join (the head carries most of the mass and
    * never shuffles), and only the long tail — whose per-token counts
    * are bounded below the head cutoff by construction — takes the
    * shuffle join. Output: (id, n_tokens, avg_logprob).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     headK: Int = 10000): DataFrame = {
    val docToks = df.select(F.col(idCol).as("id"),
      F.explode(TextOps.tokens(F.col(textCol))).as("tok"))
    // The token-count aggregation feeds the head TakeOrdered, the tail
    // anti-join, and the totals agg. NOT cached: all three consumers
    // sit inside the one returned plan, where ReuseExchange dedupes the
    // identical count-shuffle — the corpus-wide tokenize+shuffle runs
    // once per materialization with no session-lifetime cache left
    // behind (a previous persist here leaked a vocabulary-sized cache
    // on every call until someone cleared the whole session cache).
    val counts = docToks.groupBy("tok").agg(F.count(F.lit(1)).as("c"))
    // corpus totals: one tiny agg, broadcast into the probability expr
    val totals = counts.agg(F.sum("c").as("n_total"), F.count(F.lit(1)).as("n_vocab"))
    val probs = counts.crossJoin(F.broadcast(totals))
      .select(F.col("tok"), F.col("c"),
        F.log((F.col("c") + 1).cast("double") /
          (F.col("n_total") + F.col("n_vocab")).cast("double")).as("logp"))
    // head = top-headK tokens by count (deterministic tie-break) — a
    // TakeOrdered over the vocabulary, broadcastable by construction
    val head = probs
      .orderBy(F.col("c").desc, F.col("tok").asc).limit(headK)
      .select("tok", "logp")
    val tail = probs.join(F.broadcast(head.select("tok")), Seq("tok"), "left_anti")
      .select("tok", "logp")
    val tagged = docToks.join(F.broadcast(head), Seq("tok"), "left")
    val scored = tagged.where(F.col("logp").isNotNull)
      .select("id", "logp")
      .unionAll(tagged.where(F.col("logp").isNull).drop("logp")
        .join(tail, "tok").select("id", "logp"))
    // round(9) then DECIMAL accumulation (§5): shields the last-ulp
    // libm ln() difference across engines AND makes the sum
    // partition-order-free — a raw double sum's value depends on
    // reduce order
    scored.groupBy("id")
      .agg(F.count(F.lit(1)).as("n_tokens"),
        (F.sum(F.round(F.col("logp"), 9).cast("decimal(22,12)"))
          .cast("double") / F.count(F.lit(1))).as("avg_logprob"))
  }

  /** Conditional bigram LM scoring with add-one smoothing — the next
    * quality-signal step up from [[unigramLogProb]]: per document, the
    * mean of ln((c(w1,w2) + 1) / (c(w1) + V)) over its consecutive
    * token pairs, where c(w1,w2) is the corpus bigram count, c(w1) the
    * corpus unigram count over ALL positions (the documented
    * denominator choice), and V the distinct-token vocabulary size.
    * Fluent text scores high; shuffled/garbled text scores low even
    * when its unigram profile is typical — which is exactly the
    * failure mode unigram scoring can't see.
    *
    * Bigram extraction is the codegen'd 2-shingle kernel. Scale shape
    * mirrors unigramLogProb: counts shuffle on (8-byte-hashable)
    * bigram strings with map-side combine; the corpus totals are a
    * 1-row broadcast; the per-doc score is one groupBy. The
    * doc-bigrams-to-probability join shuffles on the bigram key —
    * bounded by bigram vocabulary, and the natural next step at
    * extreme scale is the same head-broadcast/tail-shuffle split the
    * unigram scorer implements.
    *
    * Documents with fewer than 2 tokens have no bigrams and emit no
    * row. Output: (id, n_bigrams, avg_logprob).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.tokens(F.col(textCol))
    val docBg = df.select(F.col(idCol).as("id"),
        F.explode(TextOps.shingles(toks, 2)).as("bg"))
    val docToks = df.select(F.col(idCol).as("id"),
      F.explode(TextOps.tokens(F.col(textCol))).as("tok"))
    val cu = docToks.groupBy("tok").agg(F.count(F.lit(1)).as("c1"))
    val totals = cu.agg(F.count(F.lit(1)).as("n_vocab"))
    val cb = docBg.groupBy("bg").agg(F.count(F.lit(1)).as("c"))
    // tokens contain no spaces (the tokenizer splits on non-alnum), so
    // the shingle's first space is the w1/w2 boundary
    val probs = cb
      .withColumn("tok", F.substring_index(F.col("bg"), " ", 1))
      .join(cu, "tok")
      .crossJoin(F.broadcast(totals))
      .select(F.col("bg"),
        F.log((F.col("c") + 1).cast("double") /
          (F.col("c1") + F.col("n_vocab")).cast("double")).as("logp"))
    // same §5 decimal accumulation as unigramLogProb: round(9) pins
    // the addend, decimal makes the sum order-free
    docBg.join(probs, "bg")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_bigrams"),
        (F.sum(F.round(F.col("logp"), 9).cast("decimal(22,12)"))
          .cast("double") / F.count(F.lit(1))).as("avg_logprob"))
  }

  /** Interpolated Kneser-Ney TRIGRAM log-probability per document —
    * the CCNet-style perplexity quality filter at its published
    * strength (Wenzek et al. LREC'20 filter by KenLM perplexity;
    * KN smoothing per Kneser & Ney ICASSP'95, interpolated form per
    * Chen & Goodman '98). [[bigramLogProb]] is add-one smoothed —
    * fine as a signal, but KN's continuation counts are what make a
    * count LM rank fluency credibly, and a trigram context is the
    * smallest that punishes shuffled word salad.
    *
    * Fixed discount D = 0.75 (exactly representable — no decimal/
    * float seam). Scoring the training corpus itself means every
    * scored trigram and context exists, so all three interpolation
    * levels are total — no OOV branch crosses the engines:
    *
    *   P(w3|w1w2) = (c3−D)/c2ctx + D·N1+(w1w2·)/c2ctx · Pmid
    *   Pmid(w3|w2) = (N1+(·w2w3)−D)/N1+(·w2·) + D·N1+types(w2·)/N1+(·w2·) · Pc
    *   Pc(w3)     = |{w2 : bigram(w2w3)}| / |bigram types|
    *
    * Scale (the [[bigramLogProb]] exchanges, one size up): every
    * count table is TYPE-sized (map-side combined), the probability
    * join keys on those vocab tables, the single corpus-sized join is
    * doc-trigrams ⋈ trigram-type probs on the trigram key, and the
    * one-row bigram-type total broadcasts. §5 log policy: each
    * addend rounds to 9 decimals and decimal-sums order-free.
    */
  def knTrigramLogProb(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val toks = TextOps.tokens(F.col(textCol))
    val docTri = df.select(F.col(idCol).as("id"),
      F.explode(TextOps.shingles(toks, 3)).as("tg"))
    val bgTypes = df.select(F.explode(TextOps.shingles(toks, 2)).as("bg"))
      .distinct()
    // trigram TYPE table with its prefix/middle/suffix splits (tokens
    // contain no spaces, so space positions are the word boundaries)
    val parts = docTri.groupBy("tg").agg(F.count(F.lit(1)).as("c3"))
      .select(F.col("tg"), F.col("c3"),
        F.substring_index(F.col("tg"), " ", 2).as("w12"),
        F.substring_index(F.substring_index(F.col("tg"), " ", 2), " ", -1)
          .as("w2"),
        F.substring_index(F.col("tg"), " ", -2).as("w23"),
        F.substring_index(F.col("tg"), " ", -1).as("w3"))
    val hi = parts.groupBy("w12")
      .agg(F.sum("c3").as("c2ctx"), F.count(F.lit(1)).as("n1_hi"))
    val mid1 = parts.groupBy("w23").agg(F.count(F.lit(1)).as("ncont"))
    val mid2 = mid1
      .withColumn("w2", F.substring_index(F.col("w23"), " ", 1))
      .groupBy("w2")
      .agg(F.sum("ncont").as("ncm"), F.count(F.lit(1)).as("n1_mid"))
    val uni = bgTypes
      .select(F.substring_index(F.col("bg"), " ", -1).as("w3"))
      .groupBy("w3").agg(F.count(F.lit(1)).as("nbg_pre"))
    val tot = bgTypes.agg(F.count(F.lit(1)).as("nbg_total"))
    val d = F.lit(0.75)
    def dbl(c: String) = F.col(c).cast("double")
    val pc = dbl("nbg_pre") / dbl("nbg_total")
    val pmid = F.greatest(dbl("ncont") - d, F.lit(0.0)) / dbl("ncm") +
      (d * dbl("n1_mid") / dbl("ncm")) * pc
    val p = F.greatest(dbl("c3") - d, F.lit(0.0)) / dbl("c2ctx") +
      (d * dbl("n1_hi") / dbl("c2ctx")) * pmid
    val probs = parts
      .join(hi, "w12").join(mid1, "w23").join(mid2, "w2").join(uni, "w3")
      .crossJoin(F.broadcast(tot))
      .select(F.col("tg"), F.log(p).as("logp"))
    docTri.join(probs, "tg")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_trigrams"),
        (F.sum(F.round(F.col("logp"), 9).cast("decimal(22,12)"))
          .cast("double") / F.count(F.lit(1))).as("avg_logprob"))
  }

  /** Collocation extraction by scaled-integer pointwise mutual
    * information (Church & Hanks, Computational Linguistics 1990):
    * which adjacent word pairs co-occur MORE than their unigram
    * frequencies predict — the association-strength complement of
    * [[topNgrams]]' raw-count ranking (raw counts surface "of the";
    * PMI surfaces the "hong kong"s).
    *
    * DIVISION-FREE: PMI = ln(c_ab·T / (c_a·c_b)) is monotone in the
    * ratio, so ranking and output use the floor-scaled integer
    * score_ppm = (c_ab·T·10⁶) div (c_a·c_b) — decimal(18,0) products
    * (the 4m·intra overflow lesson: terms first, never a Long
    * intermediate), integer floor division, exact cross-engine, no
    * log/float anywhere; the unique-bigram tie-break totalizes the
    * order. minCount prunes the PMI noise floor (hapax pairs score
    * absurdly high — the paper's own caveat).
    *
    * Scale: the [[bigramLogProb]] exchanges — one map-side-combined
    * count per vocabulary (unigram + surviving bigram), the token
    * total as a one-row broadcast, two hash joins keyed on the
    * unigram vocabulary, and a global top-k under a full ordering
    * (TakeOrderedAndProject — k rows per partition move, never a
    * global sort). Nothing corpus-sized shuffles twice.
    */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5, k: Int = 100): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be positive")
    val tl = TextOps.tokens(F.col(textCol))
    val docBg = df.select(F.explode(TextOps.shingles(tl, 2)).as("bg"))
    val docToks = df.select(F.explode(tl).as("tok"))
    val cu = docToks.groupBy("tok").agg(F.count(F.lit(1)).as("cn"))
    val tot = cu.agg(F.sum("cn").cast("decimal(18,0)").as("t"))
    val cb = docBg.groupBy("bg").agg(F.count(F.lit(1)).as("c_ab"))
      .where(F.col("c_ab") >= minCount)
    // tokens contain no spaces (the tokenizer splits on non-alnum),
    // so the shingle's single space is the w1/w2 boundary
    cb.withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
      .withColumn("w2", F.substring_index(F.col("bg"), " ", -1))
      .join(cu.select(F.col("tok").as("w1"), F.col("cn").as("c_a")), "w1")
      .join(cu.select(F.col("tok").as("w2"), F.col("cn").as("c_b")), "w2")
      .crossJoin(F.broadcast(tot))
      .select(F.col("bg").as("bigram"), F.col("c_ab"),
        F.col("c_a"), F.col("c_b"),
        F.expr("(CAST(c_ab AS DECIMAL(18,0)) * t * 1000000) div " +
          "(CAST(c_a AS DECIMAL(18,0)) * CAST(c_b AS DECIMAL(18,0)))")
          .as("score_ppm"))
      .orderBy(F.col("score_ppm").desc, F.col("bigram").asc)
      .limit(k)
  }

  /** Per-group corpus report — the pass every mixing/curation decision
    * starts from: document counts, character and token volumes per
    * (source, language, shard, ...) group. One map-side-combined
    * hash-shuffle aggregation; token counting is the codegen'd tokens
    * kernel, so the corpus is read exactly once and the exchange
    * carries one row per group. Exact integer arithmetic only (counts,
    * sums, min/max) — engine-portable, no float accumulation order.
    */
  def corpusStats(df: DataFrame, groupCols: Seq[String], textCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one grouping column")
    val base = df.select(groupCols.map(F.col) ++ Seq(
      F.length(F.col(textCol)).cast("long").as("__chars"),
      F.size(TextOps.tokens(F.col(textCol))).cast("long").as("__toks")): _*)
    base.groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("__chars").as("sum_chars"),
        F.min("__chars").as("min_chars"),
        F.max("__chars").as("max_chars"),
        F.sum("__toks").as("sum_tokens"))
  }

  /** Per-group token-count quantiles — the length distribution that
    * drives truncation / sequence-packing decisions. Uses Spark's
    * EXACT `percentile` aggregate (ANSI linear interpolation, the same
    * formula as DuckDB quantile_cont): its aggregation state is a
    * value -> count map, and the doc-length DOMAIN is bounded (distinct
    * token counts, not documents), so the state stays small at any
    * corpus size — percentile_approx's sketch is unnecessary here and
    * would break engine parity.
    */
  def lengthQuantiles(df: DataFrame, groupCol: String, textCol: String,
                      quantiles: Seq[(String, Double)] =
                        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    val base = df.select(F.col(groupCol),
      F.size(TextOps.tokens(F.col(textCol))).cast("long").as("__nt"))
    val arr = F.expr(s"percentile(__nt, array(${quantiles.map(_._2).mkString(", ")}))")
    base.groupBy(groupCol)
      .agg(arr.as("__q"))
      .select(F.col(groupCol) +: quantiles.zipWithIndex.map { case ((nm, _), i) =>
        F.round(F.element_at(F.col("__q"), i + 1), 6).as(nm) }: _*)
  }

  /** The 100 TB quantile path, wired WITH its own error gate:
    * [[lengthQuantiles]]' exact percentile is defended by its bounded
    * integer domain, but the general at-scale answer is a mergeable
    * sketch — Spark's approx_percentile (Greenwald-Khanna style,
    * bounded state independent of group size, rank error <=
    * 1/accuracy). This emits, per group and quantile, whether the
    * sketch's answer lands inside the exact rank window
    * [p - 1/accuracy, p + 1/accuracy] (+-1 value slack absorbs
    * interpolated-vs-element discreteness on integer domains) — the
    * recall-gate pattern: the driver oracle is the literal all-true
    * table, so a sketch regression fails the hash match rather than
    * silently shipping a wrong distribution report.
    */
  def lengthQuantilesApproxGate(df: DataFrame, groupCol: String, textCol: String,
                                accuracy: Int = 10000,
                                quantiles: Seq[(String, Double)] =
                                  Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)): DataFrame = {
    require(quantiles.nonEmpty && accuracy >= 100, "quantiles + accuracy >= 100")
    val d = 1.0 / accuracy
    val base = df.select(F.col(groupCol),
      F.size(TextOps.tokens(F.col(textCol))).cast("long").as("__nt"))
    val qsApprox = quantiles.map(_._2)
    val lo = quantiles.map { case (_, p) => math.max(0.0, p - d) }
    val hi = quantiles.map { case (_, p) => math.min(1.0, p + d) }
    val agg = base.groupBy(groupCol).agg(
      F.expr(s"approx_percentile(__nt, array(${qsApprox.mkString(", ")}), $accuracy)").as("__a"),
      F.expr(s"percentile(__nt, array(${lo.mkString(", ")}))").as("__lo"),
      F.expr(s"percentile(__nt, array(${hi.mkString(", ")}))").as("__hi"))
    agg.select(F.col(groupCol) +: quantiles.zipWithIndex.map { case ((nm, _), i) =>
      (F.element_at(F.col("__a"), i + 1).cast("double") >=
        F.element_at(F.col("__lo"), i + 1) - 1.0 &&
        F.element_at(F.col("__a"), i + 1).cast("double") <=
          F.element_at(F.col("__hi"), i + 1) + 1.0).as(s"${nm}_ok") }: _*)
  }

  /** CCNet-style quality bucketing (Wenzek et al., LREC 2020 §4.4):
    * rank the corpus by unigram-LM average log-probability
    * (unigramLogProb — the public-knowledge stand-in for CCNet's
    * KenLM perplexity) and split it into equal-population buckets:
    * head (best-scoring), middle, tail. Downstream mixing then
    * oversamples head and drops or down-weights tail.
    *
    * Assignment is SQL-ntile semantics over the TOTAL order (rounded
    * score desc, id asc) — deterministic across engines and runs, and
    * immune to float-boundary sensitivity: no document is ever
    * compared against an interpolated cutoff value, ties break by id.
    *
    * Scale note: the exactly-equal-population guarantee is inherently
    * a global rank, but NOT inherently a single-partition window. The
    * rank comes from [[graft.operators.Ranks.globalRank]]
    * (range-partitioned sort + per-partition offsets over 16-byte
    * (id, score) pairs — each task sorts |corpus|/p), and the bucket
    * is then the closed-form ntile function of (rank, n, buckets):
    * with q = n div b and r0 = n mod b, the first r0 buckets hold
    * q + 1 rows and the rest q — exactly the SQL NTILE fill order, so
    * the assignment is bit-identical to the old global-window ntile
    * and the DuckDB parity gate is unchanged. The one-row row-count
    * frame rides in on a broadcast (the q11 pattern).
    *
    * Output: (id, score, bucket, bucket_name), bucket 1..buckets.
    */
  def qualityBuckets(df: DataFrame, idCol: String, textCol: String,
                     buckets: Int = 3, headK: Int = 10000): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val scored = unigramLogProb(df, idCol, textCol, headK)
      .select(F.col("id"), F.round(F.col("avg_logprob"), 6).as("score"))
    bucketizeByScore(scored, buckets)
  }

  /** CCNet bucketing at the recipe's PUBLISHED strength: the actual
    * Wenzek et al. LREC'20 §4.4 pipeline tiers by a TRAINED LM's
    * perplexity, not a unigram fit — here [[knTrigramLogProb]]'s
    * interpolated Kneser-Ney trigram score stands in for KenLM
    * (same count-LM family; same fluency ranking role). Identical
    * equal-population ntile arithmetic and (score desc, id asc)
    * total order as [[qualityBuckets]] — only the scorer changes, so
    * head/middle/tail populations stay exactly balanced and
    * cross-engine deterministic. Documents with < 3 tokens carry no
    * trigram and drop out of the ranking on BOTH engines (the KN
    * scorer's inner-join contract).
    */
  def qualityBucketsKn(df: DataFrame, idCol: String, textCol: String,
                       buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val scored = knTrigramLogProb(df, idCol, textCol)
      .select(F.col("id"), F.round(F.col("avg_logprob"), 6).as("score"))
    bucketizeByScore(scored, buckets)
  }

  /** Shared equal-population ntile over (score desc, id asc):
    * range-partitioned global rank + the closed-form NTILE fill
    * (first n mod b buckets hold one extra row), one-row count on a
    * broadcast. Input contract: (id, score) with score pre-rounded.
    */
  private def bucketizeByScore(scored: DataFrame, buckets: Int): DataFrame = {
    val ranked = graft.operators.Ranks.globalRank(
      scored, Seq(F.col("score").desc, F.col("id").asc))
    val n = ranked.agg(F.max("rnk").as("__n"))
    val name = F.when(F.col("bucket") === 1, "head")
      .when(F.col("bucket") === buckets, "tail")
      .otherwise("middle")
    ranked.crossJoin(F.broadcast(n))
      .withColumn("__q", F.expr(s"__n div $buckets"))
      .withColumn("__r0", F.expr(s"__n - __q * $buckets"))
      .withColumn("bucket",
        F.expr(s"""CASE WHEN rnk <= __r0 * (__q + 1)
                   THEN (rnk - 1) div (__q + 1) + 1
                   ELSE __r0 + (rnk - __r0 * (__q + 1) - 1) div greatest(__q, 1L) + 1
                   END"""))
      .select(F.col("id"), F.col("score"), F.col("bucket").cast("long").as("bucket"),
        name.as("bucket_name"))
  }

  /** Deterministic exact-count selection per stratum: the N
    * pseudo-random-lowest documents of each stratum (by the same Knuth
    * sampleKey order as hashSample, id tie-break), e.g. "exactly 100
    * held-out docs per language" for eval-split construction — where
    * rate-based sampling can't hit an exact count. One window shuffle
    * partitioned by stratum; the rank predicate discards everything
    * past N during the partition-local sort, and membership is a pure
    * function of the ids (stable across runs/engines/partitionings).
    */
  def takePerStratum(df: DataFrame, idCol: String, stratumCol: String,
                     n: Int, salt: Long = 0L): DataFrame = {
    require(n >= 1, "n >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(sampleKey(F.col(idCol), salt).asc, F.col(idCol).asc)
    df.withColumn("__rk", F.row_number().over(w))
      .where(F.col("__rk") <= n).drop("__rk")
  }

  /** Full Gopher-style repetition profile (Rae et al. 2021, table A1
    * subset): line-level duplication (duplicate-line fraction and the
    * character-weighted variant), top 2-/3-gram token share, mean
    * word length window, and the alphabetic-word floor — the
    * repetition rules [[qualityVerdict]]'s single-token share can't
    * see. Output: (id, n_tokens, n_lines, dup_line_frac,
    * dup_line_char_frac, top_2gram_share, top_3gram_share,
    * mean_word_len, alpha_ratio, keep, reason), ratios rounded to 6
    * so the parity gate compares exact doubles.
    *
    * Scale design: pure per-row work (split, array_distinct,
    * aggregate HOFs, the native one-pass mode kernels for the n-gram
    * shares) — no shuffle, no state; the verdict references the same
    * rounded attributes it emits, so each measure computes once.
    */
  def gopherProfile(df: DataFrame, idCol: String, textCol: String,
                    maxDupLineFrac: Double = 0.30,
                    maxDupLineCharFrac: Double = 0.20,
                    maxTop2GramShare: Double = 0.20,
                    maxTop3GramShare: Double = 0.18,
                    meanWordLen: (Double, Double) = (3.0, 10.0),
                    minAlphaRatio: Double = 0.80): DataFrame = {
    val toks = F.col("__toks")
    val lines = F.col("__lines")
    val n = F.size(toks)
    val nl = F.size(lines)
    def r6(c: Column): Column = F.round(c, 6)
    def chars(arr: Column): Column =
      F.aggregate(arr, F.lit(0L), (a, l) => a + F.length(l))
    val lineChars = chars(lines)
    val distinctChars = chars(F.array_distinct(lines))
    val dupLineFrac = F.when(nl > 0,
      (nl - F.size(F.array_distinct(lines))).cast("double") / nl.cast("double"))
      .otherwise(F.lit(0.0))
    val dupCharFrac = F.when(lineChars > 0,
      (lineChars - distinctChars).cast("double") / lineChars.cast("double"))
      .otherwise(F.lit(0.0))
    val meanLen = F.when(n > 0,
      chars(toks).cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    val alphaRatio = F.when(n > 0,
      F.size(F.filter(toks, t => t.rlike("[a-z]"))).cast("double") / n.cast("double"))
      .otherwise(F.lit(0.0))
    val measured = df
      .select(F.col(idCol), TextOps.tokens(F.col(textCol)).as("__toks"),
        F.split(F.col(textCol), "\n").as("__lines"))
      .select(F.col(idCol),
        n.cast("int").as("n_tokens"), nl.cast("int").as("n_lines"),
        r6(dupLineFrac).as("dup_line_frac"),
        r6(dupCharFrac).as("dup_line_char_frac"),
        r6(TextOps.topTokenShare(TextOps.shingles(toks, 2))).as("top_2gram_share"),
        r6(TextOps.topTokenShare(TextOps.shingles(toks, 3))).as("top_3gram_share"),
        r6(meanLen).as("mean_word_len"),
        r6(alphaRatio).as("alpha_ratio"))
    // the verdict reads the ROUNDED attributes it ships, so the keep
    // decision is reproducible from the emitted row alone
    val reason = F.when(F.col("dup_line_frac") > maxDupLineFrac, "dup_lines")
      .when(F.col("dup_line_char_frac") > maxDupLineCharFrac, "dup_line_chars")
      .when(F.col("top_2gram_share") > maxTop2GramShare, "top_2gram")
      .when(F.col("top_3gram_share") > maxTop3GramShare, "top_3gram")
      .when(F.col("mean_word_len") < meanWordLen._1 ||
        F.col("mean_word_len") > meanWordLen._2, "word_length")
      .when(F.col("alpha_ratio") < minAlphaRatio, "non_alpha")
      .otherwise(F.lit(null).cast("string"))
    measured.withColumn("reason", reason)
      .withColumn("keep", F.col("reason").isNull)
  }

  /** Leakage-free train/val/test split: every document is assigned a
    * split by hashing its near-dup CLUSTER representative (connected
    * components over `pairs`; unpaired documents represent
    * themselves), so near-duplicates can never straddle a split — the
    * eval-contamination failure mode of naive per-document random
    * splits. `splits` are (name, weight) with weights summing to 1;
    * assignment cuts the deterministic [[sampleKey]] of the group id
    * at the cumulative weights, so membership is a pure function of
    * the ids — stable across engines, runs, and partitionings.
    *
    * Scale design: the component map is pair-table-sized (tiny
    * relative to the corpus — only documents with a near-dup edge
    * appear), so the join broadcasts; document payloads never move;
    * the assignment itself is a per-row expression. Output: the input
    * plus (group_id, split).
    */
  def leakageFreeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)],
                       salt: Long = 0L,
                       smallGraphLimit: Long = graft.dedup.Dedup.SmallGraphEdges): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(splits.forall(_._2 > 0), "positive weights")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights sum to 1")
    val comp = graft.dedup.Dedup.components(pairs, smallGraphLimit = smallGraphLimit)
      .withColumnRenamed("id", idCol)
    val key = sampleKey(F.col("group_id"), salt)
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val assign = splits.init.zip(cuts.init).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc.fold(F.when(key < cut, name))(_.when(key < cut, name)))
    }.fold(F.lit(splits.last._1))(_.otherwise(splits.last._1))
    df.join(comp, Seq(idCol), "left")
      .withColumn("group_id", F.coalesce(F.col("component"), F.col(idCol)))
      .drop("component")
      .withColumn("split", assign)
  }

  /** RAG-style document chunking: overlapping token windows of
    * `chunkSize` tokens every `stride` tokens (overlap = chunkSize -
    * stride). Chunk k of a document covers tokens [k·stride,
    * k·stride + chunkSize); the final window may run short; documents
    * shorter than one window yield exactly one chunk; empty documents
    * yield none. Output: (id, chunk_id, start_tok, n_tokens,
    * chunk_text).
    *
    * Scale design: a pure NARROW op — tokenize, per-row chunk-count
    * arithmetic, sequence + explode, array slice — no shuffle
    * anywhere, fully parallel over input splits, and the blowup
    * factor is the user's own overlap choice. This is the
    * embed-for-retrieval preprocessing pass: its output feeds the
    * embedding + ANN suite.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, "chunkSize >= 1")
    require(stride >= 1 && stride <= chunkSize, "stride in [1, chunkSize]")
    val n = F.size(F.col("__toks"))
    // last chunk index: 0 when the doc fits one window, else
    // ceil((n - chunkSize) / stride) — positive-int ceil via
    // (n - chunkSize + stride - 1) / stride in exact arithmetic
    val last = F.when(n <= chunkSize, F.lit(0))
      .otherwise(F.floor((n - chunkSize + (stride - 1)).cast("long") / stride)
        .cast("int"))
    df.select(F.col(idCol), TextOps.tokens(F.col(textCol)).as("__toks"))
      .where(F.size(F.col("__toks")) > 0)
      .select(F.col(idCol), F.col("__toks"),
        F.explode(F.sequence(F.lit(0), last)).as("chunk_id"))
      .select(F.col(idCol),
        F.col("chunk_id").cast("int").as("chunk_id"),
        (F.col("chunk_id") * stride).cast("int").as("start_tok"),
        F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1,
          F.lit(chunkSize)).as("__sl"))
      .select(F.col(idCol), F.col("chunk_id"), F.col("start_tok"),
        F.size(F.col("__sl")).as("n_tokens"),
        F.array_join(F.col("__sl"), " ").as("chunk_text"))
  }

  /** Deterministic sequence packing (concat-and-split accounting): the
    * corpus is laid out in stable (shard, id) order and cut into fixed
    * token-budget packs — each document's pack is the one containing
    * its FIRST token, pack_id = exclusive-running-token-count div
    * budget (GPT-style corpus concatenation: long documents straddle
    * pack boundaries and are accounted to their start pack). Exact
    * integer arithmetic end to end, so the packing is reproducible
    * across engines, runs, and partitionings. ONE window shuffle
    * partitioned by shard; shards' running sums are independent, so
    * nShards is the packing parallelism knob at corpus scale (the
    * within-shard window is a single partition-local sorted pass).
    * Output: (id, shard, n_tokens, pack_id).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, nShards: Int, salt: Long = 0L): DataFrame = {
    require(budget >= 1, "budget >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(F.col(idCol),
        shardKey(F.col(idCol), nShards, salt).as("shard"),
        F.size(TextOps.tokens(F.col(textCol))).cast("long").as("n_tokens"))
      .withColumn("__start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0L)))
      .withColumn("pack_id", F.expr(s"__start div ${budget}L"))
      .drop("__start")
  }

  /** Source-mixture planning — the step between [[corpusStats]] and
    * the sampling pass in a data-mixing pipeline: given per-source
    * target weights (fraction of the token budget) and a total token
    * budget, report each source's available tokens, its target
    * allocation (floor(weight * budget)), and the deterministic keep
    * rate min(1, target/available) to feed [[stratifiedSample]].
    * One map-side-combined aggregation over the corpus; weights ride
    * as a literal when-chain, no join. A rate of exactly 1.0 with
    * target > available flags an UNDER-SUPPLIED source — upsampling /
    * repetition is a caller decision, never silent. rate is
    * round(, 6) for engine parity.
    */
  def mixtureRates(df: DataFrame, sourceCol: String, textCol: String,
                   weights: Map[String, Double], defaultWeight: Double,
                   budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens >= 0")
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0), "weights >= 0")
    // one constant names the output column the select below aliases
    // sourceCol to AND the weight when-chain references — the chain is
    // correct for ANY input column name, not just "source"
    val out = "source"
    val wExpr = weights.toSeq.sortBy(_._1).foldLeft(F.lit(defaultWeight)) {
      case (acc, (s, w)) => F.when(F.col(out) === s, F.lit(w)).otherwise(acc)
    }
    df.select(F.col(sourceCol).as(out),
        F.size(TextOps.tokens(F.col(textCol))).cast("long").as("__nt"))
      .groupBy(out).agg(F.sum("__nt").as("available_tokens"))
      .withColumn("target_tokens",
        F.floor(wExpr * budgetTokens).cast("long"))
      .withColumn("rate", F.round(F.least(F.lit(1.0),
        F.col("target_tokens").cast("double") /
          F.col("available_tokens").cast("double")), 6))
  }

  /** Temperature-scaled mixture planning (multilingual alpha-sampling
    * — Conneau & Lample NeurIPS'19 §3.1, XLM-R, mC4's alpha=0.3):
    * sampling share q_i proportional to p_i^alpha where p_i is group
    * i's natural token share — alpha < 1 flattens the distribution,
    * upsampling low-resource groups. Per group: available tokens, the
    * natural and temperature shares, the token target under `budget`,
    * the per-doc keep rate (capped at 1), and the effective epoch
    * count (> 1 = the group repeats — the upsampling the papers
    * report).
    *
    * Cross-engine numeric policy: pow() is the one op whose last ulp
    * can differ between libm implementations, so its result is
    * rounded to 9 decimals and then cast to DECIMAL — making the
    * normalizing sum EXACT and order-free (double summation order
    * would otherwise differ between engines). Shares divide the
    * decimals back in double with identical casts on both sides.
    * One aggregate per group + two one-row/window re-aggregates —
    * group cardinality (languages, sources) is tiny at any corpus
    * scale, so the unpartitioned window is driver-cheap.
    */
  def temperatureRates(df: DataFrame, groupCol: String, textCol: String,
                       alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    require(budgetTokens >= 0, "budgetTokens >= 0")
    val avail = df.select(F.col(groupCol).as("group"),
        F.size(TextOps.tokens(F.col(textCol))).cast("long").as("__nt"))
      .groupBy("group").agg(F.sum("__nt").as("available_tokens"))
    val tot = avail.agg(F.sum("available_tokens").as("__tot"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val shareD = F.col("__w").cast("double") / F.col("__totw").cast("double")
    avail.crossJoin(tot)
      .withColumn("__p",
        F.col("available_tokens").cast("double") / F.col("__tot").cast("double"))
      .withColumn("__w",
        F.round(F.pow(F.col("__p"), F.lit(alpha)), 9).cast("decimal(22,12)"))
      .withColumn("__totw", F.sum("__w").over(w))
      .withColumn("target_tokens",
        F.floor(shareD * F.lit(budgetTokens.toDouble)).cast("long"))
      .select(F.col("group"), F.col("available_tokens"),
        F.round(F.col("__p"), 6).as("natural_share"),
        F.round(shareD, 6).as("temp_share"),
        F.col("target_tokens"),
        F.round(F.least(F.lit(1.0),
          F.col("target_tokens").cast("double") /
            F.col("available_tokens").cast("double")), 6).as("rate"),
        F.round(F.col("target_tokens").cast("double") /
          F.col("available_tokens").cast("double"), 6).as("epochs"))
  }

  /** Apply a mixture plan ([[mixtureRates]] / [[temperatureRates]]
    * output) to the corpus: keep each document with its group's rate
    * via the deterministic id-hash key — the materialization half of
    * the plan/apply pair. The rate table is group-cardinality-small
    * by construction (languages/sources), so it broadcasts; the keep
    * decision stays a pure per-row predicate on the corpus scan.
    * Two corpus passes total across plan + apply — inherent to
    * "measure, then sample to target".
    */
  def applyMixture(df: DataFrame, idCol: String, groupCol: String,
                   rates: DataFrame, salt: Long = 0L): DataFrame =
    df.join(F.broadcast(rates.select(F.col("group").as(groupCol), F.col("rate"))),
        Seq(groupCol))
      .where(sampleKey(F.col(idCol), salt) < F.col("rate"))

  /** End-to-end curation pipeline — quality filter -> exact dedup ->
    * deterministic shard + sequence packing — composed in ONE plan
    * over ONE corpus scan, returning the per-(shard, pack) report a
    * training-data build job emits. The composition is the point:
    *  - the quality verdict and token counts are per-row staged
    *    expressions on the same scan (no second read);
    *  - exact dedup is the single-scan window form (min-id row per
    *    text hash) rather than keepFirst's agg + semi-join back,
    *    which would re-scan the corpus;
    *  - packing reuses the already-computed token counts.
    * Two shuffles total at any scale: the dedup window's hash
    * partition and the per-shard packing window (whose partitioning
    * the final aggregation reuses).
    */
  def pipelineReport(df: DataFrame, idCol: String, textCol: String,
                     budget: Long, nShards: Int,
                     stop: Seq[String], salt: Long = 0L): DataFrame = {
    require(budget >= 1, "budget >= 1")
    import graft.functions.HashExprs.stopwordCount
    val base = df.select(F.col(idCol), F.col(textCol).as("__text"),
      TextOps.tokens(F.col(textCol)).as("__toks"))
    // stage each counting kernel once (docProfile's projection-boundary
    // trick) — the verdict references them multiple times
    // nulls coalesce to 0 so a null-text row fails `too_short` instead
    // of slipping past the when-chain on null comparisons
    val mid = base.select(F.col(idCol), F.col("__text"),
      F.coalesce(F.size(F.col("__toks")), F.lit(0)).as("__nt"),
      F.coalesce(F.length(F.col("__text")), F.lit(0)).as("__nc"),
      F.coalesce(F.regexp_count(F.col("__text"), F.lit("[^a-zA-Z0-9 ]")), F.lit(0)).as("__np"),
      F.coalesce(stopwordCount(F.col("__toks"), stop), F.lit(0)).as("__ns"),
      TextOps.topTokenShare(F.col("__toks")).as("__tts"))
    val punctRatio = F.when(F.col("__nc") > 0,
      F.col("__np").cast("double") / F.col("__nc").cast("double")).otherwise(F.lit(0.0))
    val reason = qualityVerdictFrom(F.col("__nt"), F.col("__tts"),
      punctRatio, F.col("__ns")).toMap.apply("reason")
    val kept = mid.where(reason.isNull)
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(F.md5(F.col("__text").cast("binary"))).orderBy(idCol)
    val deduped = kept.withColumn("__rk", F.row_number().over(wDup))
      .where(F.col("__rk") === 1)
    val wPack = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    deduped.select(F.col(idCol),
        shardKey(F.col(idCol), nShards, salt).as("shard"),
        F.col("__nt").cast("long").as("n_tokens"))
      .withColumn("__start", F.coalesce(F.sum("n_tokens").over(wPack), F.lit(0L)))
      .withColumn("pack_id", F.expr(s"__start div ${budget}L"))
      .groupBy("shard", "pack_id")
      .agg(F.count(F.lit(1)).as("n_docs"), F.sum("n_tokens").as("sum_tokens"),
        F.min(idCol).as("first_doc"), F.max(idCol).as("last_doc"))
  }

  /** Per-group top-k token report — tokenizer/vocabulary audits and
    * stopword discovery. Two bounded aggregations, no window: (1) the
    * explode shuffles (group, token) pairs with map-side partial
    * counting, so that exchange carries one row per distinct (group,
    * token); (2) the finalized counts feed the exact bounded
    * topk_by_count aggregate (TopKCountAgg) — partial top-k sets merge
    * map-side, so the second exchange carries AT MOST k entries per
    * partition per group. The equivalent rank-window formulation ships
    * the entire per-group vocabulary into one partition for a full
    * sort — a single-partition sort of billions of rows at web-corpus
    * scale. Deterministic tie-break (count desc, token asc).
    */
  def topTokens(df: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame =
    topKTail(df
      .select(F.col(groupCol), F.explode(TextOps.tokens(F.col(textCol))).as("tok")),
      groupCol, k)

  /** Per-group top-k word n-grams by count (collocation mining — the
    * n-gram generalization of [[topTokens]], same two-shuffle partial
    * top-k shape; n-gram explode multiplies rows by ~tokens-per-doc,
    * identical to the dedup shingle pipelines).
    */
  def topNgrams(df: DataFrame, groupCol: String, textCol: String,
                ngram: Int, k: Int): DataFrame =
    topKTail(df
      .select(F.col(groupCol),
        F.explode(TextOps.shingles(TextOps.tokens(F.col(textCol)), ngram)).as("tok")),
      groupCol, k)

  /** The at-scale vocabulary-report path: per-group top-k tokens via a
    * two-pass heavy-hitter sketch instead of counting the whole
    * vocabulary. [[topTokens]]' first aggregation shuffles one row per
    * DISTINCT (group, token) — fine for word vocabularies, unbounded
    * for bigrams/URLs at 100 TB. Here pass 1 reduces each partition
    * MAP-SIDE to a `capacity`-entry Misra-Gries summary
    * ([[graft.functions.MisraGriesAgg]] — the exchange carries ≤
    * capacity rows per partition per group, a constant), whose
    * surviving keys are a GUARANTEED superset of every token with
    * count > 2N/capacity; pass 2 re-counts only those candidates
    * exactly (the candidate set broadcast into a semi join, so the
    * corpus-sized side never shuffles) and keeps the top k under the
    * same (count desc, token asc) order as the exact path. Output
    * EQUALS [[topTokens]] whenever the group's rank-k count clears
    * the sketch bound — the property [[topTokensApproxGate]] gates.
    */
  def topTokensApprox(df: DataFrame, groupCol: String, textCol: String,
                      k: Int, capacity: Int = 512): DataFrame =
    topKTailApprox(df
      .select(F.col(groupCol), F.explode(TextOps.tokens(F.col(textCol))).as("tok")),
      groupCol, k, capacity)

  /** N-gram variant of [[topTokensApprox]] — the case the sketch
    * exists for: the bigram vocabulary grows with the corpus, the
    * summary does not.
    */
  def topNgramsApprox(df: DataFrame, groupCol: String, textCol: String,
                      ngram: Int, k: Int, capacity: Int = 512): DataFrame =
    topKTailApprox(df
      .select(F.col(groupCol),
        F.explode(TextOps.shingles(TextOps.tokens(F.col(textCol)), ngram)).as("tok")),
      groupCol, k, capacity)

  /** Zipf rank-frequency diagnostic per group: the OLS slope (and
    * intercept) of ln(count) on ln(rank) over the top-k vocabulary —
    * natural language sits near slope −1 (Zipf '49; Piantadosi '14
    * review); templated/duplicated/machine corpora bend away, so the
    * slope is a cheap corpus-quality smell test next to [[topTokens]]'
    * raw report.
    *
    * Cross-engine exactness (§5): every regression addend (ln rank,
    * ln count, their products) rounds to 9 decimals and decimal-sums
    * order-free; the closed-form OLS then runs in DOUBLE over those
    * exact sums in a pinned operation order, rounded to 6 at the
    * display edge. Ranks come from [[topTokens]]' deterministic
    * (count desc, token asc) bounded top-k — no window, no
    * vocabulary-sized sort. Groups with a degenerate design (all
    * ranks equal — impossible for k ≥ 2 distinct ranks) yield null.
    */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
                k: Int = 100): DataFrame = {
    require(k >= 3, "need at least 3 ranks for a meaningful slope")
    val top = topTokens(df, groupCol, textCol, k)
    val x9 = F.round(F.log(F.col("rank").cast("double")), 9)
    val y9 = F.round(F.log(F.col("n").cast("double")), 9)
    def d12(c: org.apache.spark.sql.Column) = c.cast("decimal(22,12)")
    val s = top.groupBy(F.col(groupCol))
      .agg(F.count(F.lit(1)).as("n_top"),
        F.sum(d12(x9)).as("sx"), F.sum(d12(y9)).as("sy"),
        F.sum(d12(F.round(x9 * y9, 9))).as("sxy"),
        F.sum(d12(F.round(x9 * x9, 9))).as("sxx"))
    def dd(c: String) = F.col(c).cast("double")
    val nD = dd("n_top")
    // ANSI guard: a group with one rank has var(ln rank) = 0 — null,
    // never a fabricated slope (and never a DIVIDE_BY_ZERO throw)
    val den = nD * dd("sxx") - dd("sx") * dd("sx")
    val raw = F.when(den =!= 0.0,
      (nD * dd("sxy") - dd("sx") * dd("sy")) / den)
    s.select(F.col(groupCol), F.col("n_top"),
      F.round(raw, 6).as("slope"),
      F.round((dd("sy") - raw * dd("sx")) / nD, 6).as("intercept"))
  }

  private def topKTailApprox(exploded: DataFrame, groupCol: String,
                             k: Int, capacity: Int): DataFrame = {
    require(capacity >= k, "sketch capacity must be >= k")
    val cands = exploded
      .groupBy(F.col(groupCol))
      .agg(graft.functions.MisraGriesAgg.misraGries(F.col("tok"), capacity).as("__mg"))
      .select(F.col(groupCol), F.explode(F.col("__mg")).as("__e"))
      .select(F.col(groupCol), F.col("__e.key").as("tok"))
    topKTail(exploded.join(F.broadcast(cands), Seq(groupCol, "tok"), "left_semi"),
      groupCol, k)
  }

  /** Literal-true gate for [[topTokensApprox]] (the
    * lengthQuantilesApproxGate pattern): per group, the sketch top-k
    * must EQUAL the exact top-k rank-for-rank — token AND exact count
    * (pass 2 re-counts exactly, so equality, not tolerance, is the
    * contract whenever candidate generation didn't miss a true top-k
    * token). The driver oracle is the all-true table: a sketch
    * regression fails the hash match rather than silently shipping a
    * wrong vocabulary report.
    */
  def topTokensApproxGate(df: DataFrame, groupCol: String, textCol: String,
                          k: Int, capacity: Int = 512): DataFrame =
    approxTopKGate(topTokens(df, groupCol, textCol, k),
      topTokensApprox(df, groupCol, textCol, k, capacity), groupCol)

  /** [[topTokensApproxGate]] for n-grams — the vocabulary the sketch
    * actually exists for (bigram vocabularies grow with the corpus).
    */
  def topNgramsApproxGate(df: DataFrame, groupCol: String, textCol: String,
                          ngram: Int, k: Int, capacity: Int = 512): DataFrame =
    approxTopKGate(topNgrams(df, groupCol, textCol, ngram, k),
      topNgramsApprox(df, groupCol, textCol, ngram, k, capacity), groupCol)

  private def approxTopKGate(exact: DataFrame, approx: DataFrame,
                             groupCol: String): DataFrame =
    exact.as("e")
      .join(approx.as("a"), Seq(groupCol, "rank"), "full")
      .groupBy(F.col(groupCol))
      .agg(F.count(F.lit(1)).as("n_topk"),
        F.min(F.coalesce(F.col("e.tok") === F.col("a.tok") &&
          F.col("e.n") === F.col("a.n"), F.lit(false))).as("topk_ok"))

  private def topKTail(exploded: DataFrame, groupCol: String, k: Int): DataFrame =
    exploded
      .groupBy(F.col(groupCol), F.col("tok")).agg(F.count(F.lit(1)).as("n"))
      .groupBy(F.col(groupCol))
      .agg(graft.functions.TopKCountAgg.topKByCount(F.col("n"), F.col("tok"), k).as("__tk"))
      .select(F.col(groupCol), F.posexplode(F.col("__tk")))
      .select(F.col(groupCol), F.col("col.key").as("tok"), F.col("col.n").as("n"),
        (F.col("pos") + 1).cast("long").as("rank"))

  // ---------------------------------------------------------------
  // BPE tokenizer training (Sennrich, Haddow & Birch, ACL 2016)
  // ---------------------------------------------------------------

  /** The padded symbol-sequence representation BPE iterates on:
    * " c1 c2 ... cn " (space-separated characters, one leading and
    * trailing space) — padding makes every symbol boundary a space so
    * a merge is the plain string replace " a b " -> " ab ".
    */
  private def bpeInitRepr(word: Column): Column =
    F.concat(F.lit(" "),
      F.array_join(F.filter(F.split(word, ""), c => c =!= ""), " "),
      F.lit(" "))

  /** Adjacent symbol pairs (space-joined, all overlapping occurrences
    * — the Sennrich counting rule) of a padded representation.
    */
  private def bpePairs(repr: Column): Column =
    graft.functions.HashExprs.shingleStrings(F.split(F.trim(repr), " "), 2)

  /** One merge applied to a padded representation: single-pass
    * left-to-right non-overlapping string replace in BOTH engines
    * (Spark `replace` and DuckDB `replace` share the Java semantics:
    * the scan resumes after each replacement). On a run of the same
    * pair ("b b b b") this merges alternate occurrences rather than
    * re-pairing maximally — deterministic, engine-portable, and
    * documented; reference BPE implementations themselves differ on
    * this edge.
    */
  private def bpeApplyMerge(repr: Column, pair: String): Column =
    F.replace(repr, F.lit(s" $pair "), F.lit(s" ${pair.replace(" ", "")} "))

  /** TRAIN a BPE tokenizer on the corpus: learn the top `nMerges`
    * byte-pair merges (Sennrich ACL'16 — the algorithm behind the
    * GPT-2/RoBERTa tokenizer family, here over the shared word
    * tokenizer's alphabet). Output: one row per learned merge —
    * (step, pair, merged, cnt), step ascending.
    *
    * Scale design — the reason BPE training is feasible at 100 TB:
    * the corpus is scanned ONCE (word-count aggregation, map-side
    * combined); every merge iteration then runs on the WORD-FREQUENCY
    * table, whose size is the vocabulary (millions of rows at web
    * scale), not the corpus. Each step is one vocabulary-sized
    * aggregate + a 1-row argmax (driver-collected, like the k-means
    * centroid reduce) + one narrow replace projection. K merges = K
    * tiny shuffles after the single corpus pass. The per-step persist
    * is released as soon as the next representation materializes.
    *
    * Determinism: pair counts are exact integers; the argmax
    * tie-breaks (count desc, pair asc), so the learned merge table is
    * a pure function of the corpus.
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, "nMerges >= 1")
    var words = graft.operators.Pins.persist(docs
      .select(F.explode(TextOps.tokens(F.col(textCol))).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))
      .select(bpeInitRepr(F.col("word")).as("repr"), F.col("cnt")))
    words.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = words
        .select(F.col("cnt"), F.explode(bpePairs(F.col("repr"))).as("pair"))
        .groupBy("pair").agg(F.sum("cnt").as("c"))
        .orderBy(F.col("c").desc, F.col("pair").asc)
        .limit(1).as[(String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (pair, c) = best.head
        merges += ((step.toLong, pair, pair.replace(" ", ""), c))
        val next = graft.operators.Pins.persist(words
          .select(bpeApplyMerge(F.col("repr"), pair).as("repr"), F.col("cnt")))
        next.count()
        words.unpersist()
        words = next
        step += 1
      }
    }
    words.unpersist()
    merges.toSeq.toDF("step", "pair", "merged", "cnt")
  }

  /** [[bpeTrain]] at PRODUCTION merge counts (r19; VERDICT r18 #2): a
    * real tokenizer is 16k-64k merges, and K distributed argmax jobs
    * cannot survive that. The lloydLocal precedent applies verbatim —
    * the word-frequency table is VOCABULARY-sized by construction
    * (millions of rows at web scale, never corpus-sized), so collect
    * it ONCE and learn every merge driver-side in one pass; the
    * corpus is still scanned exactly once (the distributed word
    * count), and the APPLY path ([[bpeSubwordCounts]]) stays
    * distributed and shuffle-free.
    *
    * Bit-equivalence with [[bpeTrain]] (spec-gated): the padded
    * representations are built by the SAME Spark expression before
    * collection; pair counting is the same all-overlapping-
    * occurrences rule; the argmax tie-break is the same
    * (count desc, pair asc); and the merge application is
    * `java.lang.String.replace` — the exact semantics Spark's
    * `F.replace` and DuckDB's `replace` share (single-pass
    * left-to-right, scan resumes after each replacement).
    *
    * Cost: init builds the pair→word inverted index in one vocab
    * scan; each merge touches only the words that contain the winning
    * pair (stale index entries are harmless — their old/new pair
    * multisets cancel) plus an O(|pairs|) argmax scan. `maxVocab`
    * bounds the collect LOUDLY (the boundedTrainSample discipline):
    * above it, a deployment shards words by first symbol and merges
    * the per-shard counts — refusing beats silently training on a
    * truncated vocabulary.
    */
  /** The BPE training unit stream: single words for `unitWords` = 1
    * (Sennrich word-level BPE), or SentencePiece-style multi-word
    * units — word `unitWords`-grams joined by the '▁' boundary symbol
    * (Kudo & Richardson EMNLP'18) — so merges can cross word
    * boundaries while the unit-frequency table stays bounded by
    * vocab^unitWords (corpus-INDEPENDENT, unlike sentence units,
    * whose table is the corpus). The boundary symbol chars-splits to
    * its own symbol in both engines (one code point).
    */
  private[graft] def bpeUnits(docs: DataFrame, textCol: String,
                              unitWords: Int): DataFrame = {
    require(unitWords >= 1, "unitWords >= 1")
    val toks = TextOps.tokens(F.col(textCol))
    val unit =
      if (unitWords == 1) F.explode(toks)
      else F.explode(F.transform(
        graft.functions.HashExprs.shingleStrings(toks, unitWords),
        s => F.replace(s, F.lit(" "), F.lit("▁"))))
    docs.select(unit.as("word"))
  }

  def bpeTrainLocal(docs: DataFrame, textCol: String, nMerges: Int,
                    maxVocab: Int = 2000000, unitWords: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, "nMerges >= 1")
    val wcDf = bpeUnits(docs, textCol, unitWords)
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))
      .select(bpeInitRepr(F.col("word")).as("repr"), F.col("cnt"))
    val nVocab = wcDf.limit(maxVocab + 1).count()
    require(nVocab <= maxVocab,
      s"bpeTrainLocal: vocabulary exceeds maxVocab=$maxVocab — shard " +
        "the word table and merge per-shard counts instead of " +
        "collecting it")
    val rows = wcDf.as[(String, Long)].collect()
    val reprs = rows.map(_._1)
    val cnts = rows.map(_._2)

    def pairsOf(repr: String): Array[String] = {
      val syms = repr.trim.split(" ")
      if (syms.length < 2) Array.empty
      else Array.tabulate(syms.length - 1)(i => syms(i) + " " + syms(i + 1))
    }
    val pairCount = new java.util.HashMap[String, Long]()
    val occ = new java.util.HashMap[String, java.util.ArrayList[Int]]()
    def addWord(i: Int, sign: Long): Unit = {
      val ps = pairsOf(reprs(i))
      var j = 0
      while (j < ps.length) {
        val p = ps(j)
        val c = pairCount.getOrDefault(p, 0L) + sign * cnts(i)
        if (c == 0L) pairCount.remove(p) else pairCount.put(p, c)
        if (sign > 0)
          occ.computeIfAbsent(p, _ => new java.util.ArrayList[Int]()).add(i)
        j += 1
      }
    }
    var i = 0
    while (i < reprs.length) { addWord(i, 1L); i += 1 }

    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // argmax (count desc, pair asc) — a flat scan; |pairs| is
      // alphabet²-ish and shrinks as merges consume it
      var bestPair: String = null
      var bestC = 0L
      val it = pairCount.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (bestPair == null || e.getValue > bestC ||
          (e.getValue == bestC && e.getKey.compareTo(bestPair) < 0)) {
          bestPair = e.getKey; bestC = e.getValue
        }
      }
      if (bestPair == null) exhausted = true
      else {
        val merged = bestPair.replace(" ", "")
        merges += ((step.toLong, bestPair, merged, bestC))
        val from = " " + bestPair + " "
        val to = " " + merged + " "
        val touched = occ.remove(bestPair)
        if (touched != null) {
          val seen = new java.util.HashSet[Int]()
          var t = 0
          while (t < touched.size()) {
            val w = touched.get(t)
            // occ lists carry duplicates (a pair occurring twice in a
            // word) and stale entries (an earlier merge rewrote the
            // word); both are safe — dedupe per step, and a word whose
            // repr no longer contains the pair nets to zero
            if (seen.add(w)) {
              addWord(w, -1L)
              reprs(w) = reprs(w).replace(from, to)
              addWord(w, 1L)
            }
            t += 1
          }
        }
        step += 1
      }
    }
    merges.toSeq.toDF("step", "pair", "merged", "cnt")
  }

  /** APPLY a trained merge table: per document, tokenize with the
    * shared tokenizer, run every word through the merge sequence in
    * step order, and report the resulting subword count next to the
    * raw token count — the compression-ratio view a tokenizer audit
    * reads. Pure narrow op: the merges are literals in the plan
    * (driver-small by construction), so the corpus is one scan with
    * no shuffle.
    */
  def bpeSubwordCounts(docs: DataFrame, idCol: String, textCol: String,
                       merges: Seq[String]): DataFrame = {
    def subCount(w: Column): Column =
      F.size(F.split(F.trim(merges.foldLeft(bpeInitRepr(w))(bpeApplyMerge)), " "))
        .cast("long")
    docs.select(F.col(idCol), TextOps.tokens(F.col(textCol)).as("__toks"))
      .select(F.col(idCol),
        F.size(F.col("__toks")).cast("long").as("n_tokens"),
        F.aggregate(F.col("__toks"), F.lit(0L),
          (acc, w) => acc + subCount(w)).as("n_subwords"))
  }

  // ------------------------------- incremental domain curation (r18)

  /** Per-(domain, host) PARTIAL stats of one batch — the mergeable
    * grain of domain curation (the daily-crawl twin of the batch
    * domain-stats query): n_docs and sum_chars are plain sums, and
    * the domain's host spread is a countDistinct over this table's
    * keys, so ANY number of per-batch partials aggregated at read
    * time ([[domainStats]]) equals the full-corpus recompute EXACTLY
    * — no sketch error, because the partial keeps the (domain, host)
    * key instead of collapsing to a non-mergeable domain-level
    * countDistinct. Rows with un-parseable URLs (null domain) are
    * dropped, matching the batch query's grouping semantics.
    */
  def domainHostPartials(batch: DataFrame, urlCol: String,
                         charsCol: String): DataFrame =
    batch.select(
        graft.functions.Urls.host(F.col(urlCol)).as("host"),
        graft.functions.Urls.domain(F.col(urlCol)).as("domain"),
        F.col(charsCol).cast("long").as("__chars"))
      .where(F.col("domain").isNotNull)
      .groupBy("domain", "host")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum(F.col("__chars")).as("sum_chars"))

  /** Bootstrap the persisted domain-stats table from a corpus:
    * (domain, host, n_docs, sum_chars, ingest_batch) bucketed+sorted
    * by domain, so domain-level reads aggregate the table in place.
    * The table is one row per (domain, host, batch) — orders of
    * magnitude smaller than the corpus (a 100 TB crawl has ~1e8
    * hosts, ~10 GB of stats rows) — and append-only: merging happens
    * at read, the same absorb-at-read discipline as the exact-dedup
    * hash index. `ingest_batch` is -1 for the bootstrap, the
    * StreamingDedup lineage convention (an at-least-once loop can
    * drop its own partial leftovers on re-run).
    */
  def domainStatsBuild(corpus: DataFrame, urlCol: String, charsCol: String,
                       table: String, nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      domainHostPartials(corpus, urlCol, charsCol)
        .withColumn("ingest_batch", F.lit(-1L)),
      table, bucketBy = Seq("domain"), nBuckets = nBuckets,
      sortBy = Seq("domain", "host"))

  /** Append one batch's partials under its `ingest_batch` id. Only
    * the BATCH is scanned — the historical corpus and the existing
    * stats rows are never re-read on the ingest path.
    */
  def domainStatsAppend(batch: DataFrame, urlCol: String, charsCol: String,
                        table: String, ingestBatch: Long,
                        nBuckets: Int = 64): Unit =
    graft.sources.Sources.writeBucketedMulti(
      domainHostPartials(batch, urlCol, charsCol)
        .withColumn("ingest_batch", F.lit(ingestBatch)),
      table, bucketBy = Seq("domain"), nBuckets = nBuckets,
      sortBy = Seq("domain", "host"),
      mode = org.apache.spark.sql.SaveMode.Append)

  /** Domain-level stats served from the partials table (pass the
    * frame read back from [[domainStatsBuild]]'s table, or any frame
    * with (domain, host, n_docs, sum_chars) rows): equals the batch
    * recompute over everything ingested so far, by mergeability of
    * the partial grain. On the bucketed table the groupBy reads in
    * place — no shuffle of the stats side.
    */
  def domainStats(partials: DataFrame): DataFrame =
    partials.groupBy("domain")
      .agg(F.sum("n_docs").as("n_docs"),
        F.countDistinct("host").as("n_hosts"),
        F.sum("sum_chars").as("sum_chars"))

  /** CROSS-BATCH quota enforcement (the C4 anti-monoculture cap,
    * incremental form): admit a batch row iff the domain's
    * already-admitted count plus the row's deterministic rank within
    * the batch stays ≤ `cap`. Ranks use the shared [[sampleKey]]
    * order (engine-exact decimal arithmetic, id tie-break), so
    * admission is reproducible on any partitioning; `prior` is a
    * (domain, n_admitted) frame — [[admittedCounts]] of everything
    * admitted so far, or the empty frame for the first batch.
    *
    * Equivalence (spec-gated, and what the wired twin replays
    * closed-form): chaining batches through this filter admits
    * exactly the first `cap` docs per domain in (batch, sampleKey,
    * id) lexicographic order — each batch fills the domain's
    * remaining quota in sampleKey order, so the cumulative admit set
    * is a prefix of that global order.
    */
  def domainQuotaAdmit(batch: DataFrame, idCol: String, domainCol: String,
                       prior: DataFrame, cap: Int,
                       salt: Long = 0L): DataFrame = {
    require(cap >= 1, "cap >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol)
      .orderBy(sampleKey(F.col(idCol), salt).asc, F.col(idCol).asc)
    batch.withColumn("__rk", F.row_number().over(w))
      .join(prior.select(F.col(domainCol), F.col("n_admitted")),
        Seq(domainCol), "left")
      .where(F.col("__rk") + F.coalesce(F.col("n_admitted"), F.lit(0L)) <=
        F.lit(cap.toLong))
      .drop("__rk", "n_admitted")
  }

  /** (domain, n_admitted) census of an admitted set — the `prior`
    * frame the NEXT [[domainQuotaAdmit]] call consumes. A caller
    * persisting across jobs writes this next to the stats table.
    */
  def admittedCounts(admitted: DataFrame, domainCol: String): DataFrame =
    admitted.groupBy(domainCol).agg(F.count(F.lit(1)).as("n_admitted"))
}
