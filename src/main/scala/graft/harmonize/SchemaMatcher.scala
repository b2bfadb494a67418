package graft.harmonize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Distributed schema matching: find, for each source column, the best
  * matching target column. Re-expresses the reference's instance-based
  * matchers (bdikit/schema_matching/one2one/valentine.py — Jaccard /
  * distribution-based family) Spark-first: unpivot both tables to
  * (column, value) pairs, distinct-reduce, and join on value — an
  * inverted-index formulation whose cost is bounded by distinct-value
  * overlap, never by row count. At 100 TB the unpivot+distinct is one
  * shuffle each side, and the value join shuffles only distinct sets.
  */
object SchemaMatcher {

  /** Unpivot selected columns to (col_name, value), distinct.
    *
    * NOTE every column is cast to string first, so NUMERIC columns
    * participate in value overlap as their string renderings ("1.0"
    * matches "1.0", not 1) — deliberately mirroring the reference's
    * str() coercion in its distribution-based matchers; a numeric
    * column pair whose formats differ ("1" vs "1.0") scores 0.
    */
  private def unpivot(df: DataFrame, cols: Seq[String], colAs: String): DataFrame = {
    val pairs = cols.map(c =>
      df.select(F.lit(c).as(colAs), F.trim(F.col(c).cast("string")).as("value"))
        .where(F.col("value").isNotNull && F.col("value") =!= ""))
    pairs.reduce(_ unionAll _).distinct()
  }

  /** Jaccard similarity of the distinct value sets of every
    * (source column, target column) pair. Columns with no overlap get
    * similarity 0.0. Output: (source, target, similarity).
    */
  def valueOverlapAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String]): DataFrame = {
    val sv = unpivot(src, srcCols, "source")
    val tv = unpivot(tgt, tgtCols, "target")
    val ns = sv.groupBy("source").agg(F.count(F.lit(1)).as("ns"))
    val nt = tv.groupBy("target").agg(F.count(F.lit(1)).as("nt"))
    val inter = sv.join(tv, "value")
      .groupBy("source", "target").agg(F.count(F.lit(1)).as("ni"))
    ns.crossJoin(F.broadcast(nt))
      .join(inter, Seq("source", "target"), "left")
      .na.fill(0L, Seq("ni"))
      .select(F.col("source"), F.col("target"),
        (F.col("ni").cast("double") /
          (F.col("ns") + F.col("nt") - F.col("ni")).cast("double")).as("similarity"))
  }

  /** Best target per source column, deterministic tie-break (higher
    * similarity, then target name ascending). The reference computes a
    * 1:1 assignment (valentine one_to_one, valentine.py:24); we use
    * argmax-per-source which coincides on well-separated inputs and is
    * a single window pass (no iterative driver loop) at scale.
    */
  def bestPerSource(all: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    all.withColumn("rn", F.row_number().over(w))
      .where(F.col("rn") === 1).drop("rn")
  }

  /** Valentine-style strict 1:1 assignment (the reference post-processes
    * every matcher through MatcherResults.one_to_one, valentine.py:24-27):
    * greedy assignment over the score matrix in (similarity desc, source
    * asc, target asc) order — no source OR target is assigned twice, so
    * two source columns can never map to the same target (argmax-per-
    * source can double-assign on ambiguous inputs). The matrix is
    * |srcCols| x |tgtCols| — driver-small by definition — so the greedy
    * scan collects; all instance-scale work already happened producing
    * the scores.
    */
  def oneToOne(all: DataFrame): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val sorted = all.select("source", "target", "similarity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy { case (s, t, sim) => (-sim, s, t) }
    val usedS = scala.collection.mutable.HashSet.empty[String]
    val usedT = scala.collection.mutable.HashSet.empty[String]
    val out = sorted.flatMap { case (s, t, sim) =>
      if (!usedS.contains(s) && !usedT.contains(t)) {
        usedS += s; usedT += t
        Some((s, t, sim))
      } else None
    }
    out.toSeq.toDF("source", "target", "similarity")
  }

  /** bestPerSource or oneToOne, by flag — the two assignment policies
    * every matcher's all-pairs matrix can feed.
    */
  def assign(all: DataFrame, strictOneToOne: Boolean): DataFrame =
    if (strictOneToOne) oneToOne(all) else bestPerSource(all)

  def valueOverlapMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String]): DataFrame =
    bestPerSource(valueOverlapAll(src, srcCols, tgt, tgtCols))

  /** Top-k candidate target columns per source column with similarity,
    * the reference's top_matches API (bdikit/api.py:99). Same window
    * machinery as bestPerSource, rank exposed.
    */
  def topKPerSource(all: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(F.col("similarity").desc, F.col("target").asc)
    all.withColumn("rank", F.row_number().over(w).cast("long"))
      .where(F.col("rank") <= k)
  }

  /** Sketch-based distribution matching — the 100 TB scale path for
    * valueOverlapMatch: each column is reduced map-side to one MinHash
    * signature of its distinct values (graft.functions.MinHashAgg), and
    * column-pair Jaccard is ESTIMATED from positional signature
    * agreement. No distinct-value join at all: the shuffle carries
    * |columns| signatures of numHashes longs each.
    */
  def valueOverlapSketchAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      numHashes: Int = 256): DataFrame = {
    import graft.functions.MinHashAgg.minhashAgg
    def sketches(df: DataFrame, cols: Seq[String], colAs: String): DataFrame =
      unpivot(df, cols, colAs)
        .groupBy(colAs).agg(minhashAgg(F.col("value"), numHashes).as("sig"))
    val ss = sketches(src, srcCols, "source")
    val ts = sketches(tgt, tgtCols, "target")
    val agree = F.aggregate(
      F.zip_with(F.col("ssig"), F.col("tsig"), (a, b) => F.when(a === b, 1).otherwise(0)),
      F.lit(0), (acc, x) => acc + x)
    ss.withColumnRenamed("sig", "ssig")
      .crossJoin(F.broadcast(ts.withColumnRenamed("sig", "tsig")))
      .select(F.col("source"), F.col("target"),
        (agree.cast("double") / F.lit(numHashes.toDouble)).as("similarity"))
  }

  def valueOverlapSketchMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      numHashes: Int = 256): DataFrame =
    bestPerSource(valueOverlapSketchAll(src, srcCols, tgt, tgtCols, numHashes))

  /** Schema matching behind ANY [[TextEncoder]] (r18 — the
    * contrastive-learning matcher's SHAPE, `one2one/
    * contrastivelearning.py:1`: a column is represented by pooling
    * encoded values, columns match by profile cosine). Per column:
    * distinct values, a deterministic per-column cap (`valueCap`,
    * ranked by xxhash64 so the sample is stable and scale-bounded —
    * the reference samples per column too), batched encode through
    * the SAME executor plumbing as [[ValueMatcher.encoderMatch]],
    * mean-pool to one profile vector, then all-pairs cosine with the
    * target side broadcast. Output (source, target, similarity) —
    * feeds the shared assign/topK machinery like every other matcher.
    */
  def encoderProfileAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      encoder: TextEncoder,
      valueCap: Int = 1000, batchSize: Int = 256): DataFrame = {
    require(encoder.dim > 0, s"encoder.dim must be positive, got ${encoder.dim}")
    require(valueCap > 0, "valueCap must be positive")
    def profiles(df: DataFrame, cols: Seq[String], colAs: String): DataFrame = {
      val w = Window.partitionBy(colAs)
        .orderBy(F.xxhash64(F.col("value")), F.col("value"))
      val capped = unpivot(df, cols, colAs)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= valueCap)
        .select(F.col(colAs), F.col("value"))
      import org.apache.spark.sql.types._
      val out = StructType(Seq(
        StructField(colAs, StringType),
        StructField("vec", ArrayType(DoubleType, containsNull = false))))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
      val embedded = capped.mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { chunk =>
          val names = chunk.map(_.getString(0))
          val vals = chunk.map(_.getString(1)).toArray
          val vecs = encoder.encodeBatch(vals)
          require(vecs.length == vals.length,
            s"encoder returned ${vecs.length} vectors for ${vals.length} values")
          names.lazyZip(vecs).map { (n, vec) =>
            require(vec.length == encoder.dim,
              s"encoder returned a ${vec.length}-dim vector, contract says ${encoder.dim}")
            org.apache.spark.sql.Row(n, vec.map(_.toDouble).toSeq)
          }
        }
      }(enc)
      // mean-pool: component-wise average over the column's values
      embedded.select(F.col(colAs), F.posexplode(F.col("vec")).as(Seq("i", "x")))
        .groupBy(colAs, "i").agg(F.avg("x").as("x"))
        .groupBy(colAs)
        .agg(F.map_from_entries(F.collect_list(F.struct(F.col("i"), F.col("x")))).as("m"))
        .select(F.col(colAs),
          F.transform(F.sequence(F.lit(0), F.lit(encoder.dim - 1)),
            i => F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0))).as("vec"))
    }
    val sp = profiles(src, srcCols, "source")
    val tp = profiles(tgt, tgtCols, "target")
    sp.crossJoin(F.broadcast(tp.select(F.col("target"), F.col("vec").as("tvec"))))
      .select(F.col("source"), F.col("target"),
        F.round(graft.functions.HashExprs.cosineSim(F.col("vec"), F.col("tvec")), 6)
          .as("similarity"))
  }

  /** All (source, target) column-name pairs with normalized edit
    * similarity — names are driver-small, so this is a tiny broadcast
    * frame feeding the same window/tie-break machinery.
    */
  def nameSimilarityAll(
      spark: SparkSession, srcCols: Seq[String], tgtCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val s = srcCols.toDF("source")
    val t = tgtCols.toDF("target")
    s.crossJoin(F.broadcast(t))
      .withColumn("similarity",
        ValueMatcher.normalizedLevenshtein(F.col("source"), F.col("target")))
  }

  /** Column-NAME similarity matching (normalized edit similarity on
    * column names) — the schema-only signal used by the reference's
    * name-based matchers.
    */
  def nameSimilarityMatch(
      spark: SparkSession, srcCols: Seq[String], tgtCols: Seq[String]): DataFrame =
    bestPerSource(nameSimilarityAll(spark, srcCols, tgtCols))

  /** COMA-style composite matching (Do & Rahm, VLDB 2002 — the family
    * behind the reference's coma method): independent matchers score
    * every column pair — column-name edit similarity, instance value
    * overlap, and data-type compatibility — and the composite is their
    * weighted average. Aggregating evidence makes the match robust
    * where any single signal is ambiguous.
    */
  def compositeAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      wName: Double = 0.3, wValues: Double = 0.5, wType: Double = 0.2): DataFrame = {
    val names = nameSimilarityAll(src.sparkSession, srcCols, tgtCols)
      .withColumnRenamed("similarity", "name_sim")
    val values = valueOverlapAll(src, srcCols, tgt, tgtCols)
      .withColumnRenamed("similarity", "value_sim")
    def typeOf(df: DataFrame, cols: Seq[String], colAs: String) = {
      import df.sparkSession.implicits._
      cols.map(c => (c, df.schema(c).dataType.simpleString)).toDF(colAs, s"${colAs}_type")
    }
    val st = typeOf(src, srcCols, "source")
    val tt = typeOf(tgt, tgtCols, "target")
    names
      .join(values, Seq("source", "target"), "left")
      .na.fill(0.0, Seq("value_sim"))
      .join(F.broadcast(st), "source")
      .join(F.broadcast(tt), "target")
      .select(F.col("source"), F.col("target"),
        ((F.col("name_sim") * wName + F.col("value_sim") * wValues +
          F.when(F.col("source_type") === F.col("target_type"), wType).otherwise(0.0))
          / (wName + wValues + wType)).as("similarity"))
  }

  def compositeMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      wName: Double = 0.3, wValues: Double = 0.5, wType: Double = 0.2): DataFrame =
    bestPerSource(compositeAll(src, srcCols, tgt, tgtCols, wName, wValues, wType))

  /** Two-phase schema matching (reference TwoPhaseSchemaMatcher,
    * schema_matching/one2one/twophase.py:10): a cheap top-k matcher
    * (here: column-name similarity) proposes candidate target columns
    * per source column, then the instance-based value-overlap matcher
    * re-ranks ONLY the candidate pairs. The unpivot is restricted to
    * columns that survive phase 1, so the expensive distinct-value join
    * touches candidates only — that restriction is the whole point of
    * the two-phase design at scale.
    */
  def twoPhaseAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String], topN: Int = 2): DataFrame = {
    val cand = topKPerSource(
      nameSimilarityAll(src.sparkSession, srcCols, tgtCols), topN)
      .select("source", "target")
    // candidate column-name lists are driver-small by definition
    val candRows = cand.collect()
    val candTgtCols = candRows.map(_.getString(1)).distinct.toSeq
    valueOverlapAll(src, srcCols, tgt, candTgtCols)
      .join(cand, Seq("source", "target"), "left_semi")
  }

  def twoPhaseMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String], topN: Int = 2): DataFrame =
    bestPerSource(twoPhaseAll(src, srcCols, tgt, tgtCols, topN))

  /** Max-value-similarity schema matching (reference
    * MaxValSimSchemaMatcher, schema_matching/one2one/maxvalsim.py:11):
    * per candidate column pair, each distinct source value is matched
    * to its best target value by normalized edit similarity (>=
    * threshold); the column's value score is the sum of matched
    * similarities / |distinct target values|, averaged with the
    * phase-1 column score; argmax per source. Cost is |candidate
    * pairs| x |distinct values|^2 — vocabulary-bounded, never row
    * count — with the target side broadcast.
    */
  def maxValSimAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      topN: Int = 2, threshold: Double = 0.8): DataFrame = {
    val cand = topKPerSource(
      nameSimilarityAll(src.sparkSession, srcCols, tgtCols), topN)
      .select(F.col("source"), F.col("target"), F.col("similarity").as("name_score"))
    val sv = unpivot(src, srcCols, "source").withColumnRenamed("value", "sval")
    val tv = unpivot(tgt, tgtCols, "target").withColumnRenamed("value", "tval")
    val ntv = tv.groupBy("target").agg(F.count(F.lit(1)).as("n_tv"))
    val bestPerValue = cand.join(sv, "source").join(F.broadcast(tv), "target")
      .withColumn("vsim",
        ValueMatcher.normalizedLevenshtein(F.col("sval"), F.col("tval")))
      .where(F.col("vsim") >= threshold)
      .groupBy("source", "target", "name_score", "sval")
      .agg(F.max("vsim").as("best"))
    val vscore = bestPerValue
      .groupBy("source", "target", "name_score")
      .agg(F.sum("best").as("sum_best"))
      .join(F.broadcast(ntv), "target")
      .select(F.col("source"), F.col("target"),
        ((F.col("name_score") + F.col("sum_best") / F.col("n_tv")) / 2.0).as("similarity"))
    // candidates with zero value matches keep half their name score
    cand.join(vscore, Seq("source", "target"), "left")
      .select(F.col("source"), F.col("target"),
        F.coalesce(F.col("similarity"), F.col("name_score") / 2.0).as("similarity"))
  }

  def maxValSimMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String],
      topN: Int = 2, threshold: Double = 0.8): DataFrame =
    bestPerSource(maxValSimAll(src, srcCols, tgt, tgtCols, topN, threshold))

  /** Quantile grid shared by [[distributionAll]] and its DuckDB twin:
    * 257 equi-spaced fractions i/256. Dyadic rationals have finite
    * decimal expansions, so these rendered strings parse back to the
    * EXACT same double in any IEEE engine — the twin embeds the same
    * literals, eliminating fraction-representation drift.
    */
  val DistributionFractions: Seq[String] =
    (0 to 256).map(i => (i.toDouble / 256).toString)

  /** GENUINE distribution-based schema matching (the reference's
    * `distribution_based` method — Valentine's DistributionBased
    * matcher, after Zhang et al. SIGMOD'11 "Automatic discovery of
    * attributes in relational databases"; reference dispatch at
    * bdikit/schema_matching/one2one/valentine.py:75-89). Where
    * `jaccard_distance` compares value SETS, this compares value
    * DISTRIBUTIONS: two columns drawn from the same distribution score
    * high even when their exact value sets barely overlap (the case
    * that motivates the method — e.g. two independently-sampled
    * account-balance columns share almost no doubles but the same
    * shape), and identical value sets with different frequencies score
    * below 1.
    *
    * Per comparable column pair:
    *  1. the pair's combined DISTINCT value domain is ranked (numeric
    *     pairs numerically, text pairs lexicographically) — the
    *     rank space is the shared measurement axis, making the score
    *     invariant to the raw value scale;
    *  2. each column's rows map to domain ranks, and the column is
    *     summarized by the 257-point equi-spaced quantile vector of
    *     its rank distribution (exact percentile — agg state is
    *     bounded by |distinct domain|, not row count);
    *  3. the pair's distance is the Wasserstein-1 (earth mover's)
    *     distance between the two quantile functions — for 1-D
    *     distributions W1 equals the mean absolute difference of
    *     inverse CDFs, i.e. of these quantile vectors — normalized by
    *     the domain width: sim = 1 - mean|qs - qt| / (|domain| - 1).
    * A numeric column and a text column have no shared ranking, so
    * mixed-type pairs score 0.0 (the reference's matcher likewise
    * treats column type classes separately).
    *
    * Oracle-parity per SURVEY par.5: each |qs_i - qt_i| is rounded to
    * 6 dp then cast to DECIMAL before summation, so the sum is exact
    * and order-free in both engines; the final similarity is rounded
    * to 6 dp.
    *
    * Scale (r12 single-plan shape): plan size is O(cols), not
    * O(pairs) — each (table, type class) is MELTED once (one FileScan
    * feeding every column's (col, value) stream via Dataset.unpivot)
    * and reduced to per-column value HISTOGRAMS (domain-sized, never
    * row-sized, since the quantiles are frequency-weighted —
    * percentile's frequency argument replays row multiplicity
    * exactly). Histograms cross the OTHER side's literal column-name
    * list to form per-pair domains, ranked by a row_number window
    * partitioned BY PAIR and folded into per-pair quantile aggregates
    * — one grouped pipeline for all |srcCols| x |tgtCols| pairs, so a
    * GDC-sized standard (~1k attributes, ~10^6 pairs) costs ~10
    * operators, not ~10^6 unioned subtrees (the r11 shape, where the
    * optimizer — and one eager driver job per pair — became the
    * bottleneck before the data did). Per-pair memory is bounded by
    * the pair's combined distinct domain in BOTH shapes (exact
    * percentile state is domain-sized regardless), so the grouped
    * window loses nothing; parallelism now comes from the pair count.
    * The rank is exact, so the DuckDB parity gate is unchanged.
    */
  def distributionAll(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val spark = src.sparkSession
    import spark.implicits._
    def isNum(df: DataFrame, c: String) =
      df.schema(c).dataType.isInstanceOf[NumericType]
    val (srcNum, srcTxt) = srcCols.partition(isNum(src, _))
    val (tgtNum, tgtTxt) = tgtCols.partition(isNum(tgt, _))

    // one melt per (table, type class): a single scan yields every
    // column's (col, value, cnt) histogram
    def hist(df: DataFrame, cols: Seq[String], numeric: Boolean): DataFrame = {
      val casted = df.select(cols.map { c =>
        (if (numeric) F.col(c).cast("double")
         else F.trim(F.col(c).cast("string"))).as(c)
      }: _*)
      val melted = casted.unpivot(Array.empty[Column],
        cols.map(F.col).toArray, "col", "value")
      val filtered =
        if (numeric) melted.where(F.col("value").isNotNull)
        else melted.where(F.col("value").isNotNull && F.col("value") =!= "")
      filtered.groupBy("col", "value").agg(F.count(F.lit(1)).as("cnt"))
    }

    // all same-type-class pairs of one class in ONE grouped pipeline
    def groupSims(sCols: Seq[String], tCols: Seq[String],
                  numeric: Boolean): Option[DataFrame] = {
      if (sCols.isEmpty || tCols.isEmpty) return None
      val sh = hist(src, sCols, numeric)
      val th = hist(tgt, tCols, numeric)
      val ps = sh.withColumnRenamed("col", "source")
        .crossJoin(F.broadcast(tCols.toDF("target")))
        .select(F.col("source"), F.col("target"), F.col("value"),
          F.col("cnt").as("cs"), F.lit(0L).as("ct"))
      val pt = th.withColumnRenamed("col", "target")
        .crossJoin(F.broadcast(sCols.toDF("source")))
        .select(F.col("source"), F.col("target"), F.col("value"),
          F.lit(0L).as("cs"), F.col("cnt").as("ct"))
      // per-pair combined distinct domain, with each side's frequency
      val dom = ps.unionAll(pt).groupBy("source", "target", "value")
        .agg(F.sum("cs").as("cs"), F.sum("ct").as("ct"))
      val w = Window.partitionBy("source", "target").orderBy(F.col("value").asc)
      val ranked = dom.withColumn("rnk", F.row_number().over(w).cast("long"))
      val fr = DistributionFractions.mkString(",")
      // frequency-weighted exact percentile == the row-level percentile
      // over the rank-joined rows (greatest(...,1) keeps the frequency
      // operand positive on the rows the CASE already nulls out)
      val row = ranked.groupBy("source", "target").agg(
        F.expr(s"percentile(CASE WHEN cs > 0 THEN rnk END, array($fr), greatest(cs, 1L))").as("qs"),
        F.expr(s"percentile(CASE WHEN ct > 0 THEN rnk END, array($fr), greatest(ct, 1L))").as("qt"),
        F.max("rnk").as("n"))
      val sumDiff = F.aggregate(
        F.zip_with(F.col("qs"), F.col("qt"),
          (a, b) => F.round(F.abs(a - b), 6).cast("decimal(28,6)")),
        F.lit(BigDecimal(0)).cast("decimal(32,6)"),
        (acc, x) => (acc + x).cast("decimal(32,6)"))
      Some(row.select(
        F.col("source"), F.col("target"),
        F.when(F.col("qs").isNull || F.col("qt").isNull, 0.0)
          .when(F.col("n") <= 1, 1.0)
          .otherwise(F.round(
            F.lit(1.0) - sumDiff.cast("double") /
              (F.lit(DistributionFractions.size.toDouble) *
                (F.col("n") - 1).cast("double")), 6))
          .as("similarity")))
    }

    val sims = Seq(groupSims(srcNum, tgtNum, numeric = true),
      groupSims(srcTxt, tgtTxt, numeric = false)).flatten
    // the full literal matrix backfills what the grouped pipelines
    // cannot emit: mixed-type pairs (0.0 by contract) and pairs whose
    // domains are entirely null/empty (0.0, matching the r11 shape)
    val full = srcCols.toDF("source")
      .crossJoin(F.broadcast(tgtCols.toDF("target")))
    val joined = sims.reduceOption(_ unionAll _)
      .fold(full.withColumn("similarity", F.lit(0.0)))(s =>
        full.join(s, Seq("source", "target"), "left")
          .na.fill(0.0, Seq("similarity")))
    joined
  }

  def distributionMatch(
      src: DataFrame, srcCols: Seq[String],
      tgt: DataFrame, tgtCols: Seq[String]): DataFrame =
    bestPerSource(distributionAll(src, srcCols, tgt, tgtCols))
}
