package graft.harmonize

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Distribution-drift statistics between two table snapshots — the
  * monitoring layer a long-lived 100 TB ingest pipeline runs between
  * every pair of batches (reference: the profiling/monitoring surface
  * of bdikit's `api.py` preview/profile family, extended to two-sample
  * comparison; Kolmogorov-Smirnov and Pearson chi-square are the
  * standard pair, e.g. Rabanser et al. NeurIPS'19 "Failing Loudly").
  *
  * Everything is EXACT integer/decimal arithmetic (SURVEY §5): the KS
  * statistic is computed as max |cumA*nB - cumB*nA| over value
  * boundaries (cross-multiplied — no per-row division), reported as a
  * truncating-division ppm; chi-square cell contributions use
  * micro-scaled expected counts. Both replay verbatim in DuckDB
  * (HUGEINT), so the drift report is oracle-gated, not approximate.
  */
object Drift {

  private val Dec = DecimalType(38, 0)
  private def d38(c: Column): Column = c.cast(Dec)

  /** Exact two-sample Kolmogorov-Smirnov + total-variation drift over
    * an orderable column. Returns ONE row:
    * (comparison, n_a, n_b, ks_ppm, tv_ppm).
    *
    * ks_ppm = floor(1e6 * max_v |F_a(v) - F_b(v)|) with the sup taken
    * at every distinct observed value; tv_ppm = floor(1e6 * (1/2)
    * sum_v |p_a(v) - p_b(v)|) over the discrete per-value masses.
    * Both are computed in cross-multiplied integer space
    * (|cum_a*n_b - cum_b*n_a|), divided ONCE at the end.
    *
    * Scale mechanics: one tagged-union shuffle groups counts per
    * distinct value (map-side combine), then the global cumulative sum
    * uses the Ranks.globalRank two-pass shape — range-partition by
    * value, per-partition running sums under a window PARTITIONED BY
    * the partition ordinal (never a single-partition window), plus
    * driver prefix-summed per-partition offsets (p rows — a plan
    * literal). The per-value table is persisted so both passes see one
    * layout, and released before return: the result is a single row,
    * materialized eagerly here (the scalar is the product; keeping the
    * full lineage lazy would only risk a layout change after the
    * offsets were read).
    */
  def ksDrift(comparison: String, a: DataFrame, b: DataFrame,
              valueCol: String, parts: Int = 0): DataFrame =
    ksDriftMany(Seq((comparison, a, b, valueCol)), parts)

  /** k [[ksDrift]] comparisons FUSED into one tagged pass (r21,
    * guide §2.4 — the profile_drift_ks wall was k× fixed costs, not
    * data): every (comparison, side) input is tagged with its
    * comparison label, so ONE per-(comparison, value) aggregate, ONE
    * persisted range layout, ONE p·k-row totals collect and ONE
    * windowed cumulative pass serve all k comparisons — the
    * per-comparison shuffle/persist/collect/head fixed costs are paid
    * once. All value columns must share one union-compatible type
    * (they group per comparison, so widening never mixes sides).
    * Arithmetic is per comparison and unchanged: cumulative sums
    * window PARTITIONED BY (partition ordinal, comparison), offsets
    * key on (ordinal, comparison), and the final cross-multiplied
    * integer divisions run on the driver over the k collected
    * decimal scalars — BigInteger truncating division over
    * non-negative operands, bit-identical to the SQL `div` it
    * replaces. Returns k rows (comparison, n_a, n_b, ks_ppm, tv_ppm)
    * in input order.
    */
  def ksDriftMany(inputs: Seq[(String, DataFrame, DataFrame, String)],
                  parts: Int = 0): DataFrame = {
    require(inputs.nonEmpty, "ksDriftMany: at least one comparison")
    require(inputs.map(_._1).distinct.size == inputs.size,
      "ksDriftMany: comparison labels must be unique")
    val spark = inputs.head._2.sparkSession
    val p0 = if (parts > 0) parts
             else math.max(1, spark.sessionState.conf.numShufflePartitions)
    val tagged = inputs.map { case (cmp, a, b, valueCol) =>
      a.select(F.lit(cmp).as("__cmp"), F.col(valueCol).as("__v"),
          F.lit(1L).as("__ia"), F.lit(0L).as("__ib"))
        .unionAll(b.select(F.lit(cmp).as("__cmp"), F.col(valueCol).as("__v"),
          F.lit(0L).as("__ia"), F.lit(1L).as("__ib")))
    }.reduce(_ unionAll _).where(F.col("__v").isNotNull)
    val perValue = tagged.groupBy("__cmp", "__v")
      .agg(F.sum("__ia").as("ca"), F.sum("__ib").as("cb"))
    val stamped = graft.operators.Pins.persist(
      perValue.repartitionByRange(p0, F.col("__cmp"), F.col("__v"))
        .sortWithinPartitions("__cmp", "__v"))
    // pass 1: per-(partition, comparison) totals (<= p*k rows after
    // partial agg) -> driver prefix sums per comparison. Grouping on
    // spark_partition_id projected first (nondeterministic
    // expressions are legal in a Project only). Range partitioning
    // assigns ascending (__cmp, __v) ranges to ascending ordinals, so
    // pid order IS each comparison's value order.
    val totals = stamped
      .select(F.spark_partition_id().cast("long").as("__pid"),
        F.col("__cmp"), F.col("ca"), F.col("cb"))
      .groupBy("__pid", "__cmp")
      .agg(F.sum("ca").as("ta"), F.sum("cb").as("tb"))
      .orderBy("__cmp", "__pid")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nA = totals.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val nB = totals.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    inputs.foreach { case (cmp, _, _, _) =>
      val (na, nb) = (nA.getOrElse(cmp, 0L), nB.getOrElse(cmp, 0L))
      require(na > 0 && nb > 0,
        s"ksDrift($cmp): both sides need rows (n_a=$na, n_b=$nb)")
    }
    // offsets keyed "pid|comparison" (totals are already in
    // (__cmp, __pid) order, so the running sums accumulate per
    // comparison across ascending ordinals)
    val accA = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val accB = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val offA = collection.mutable.Map.empty[String, Long]
    val offB = collection.mutable.Map.empty[String, Long]
    totals.foreach { case (p, cmp, ta, tb) =>
      offA(s"$p|$cmp") = accA(cmp); accA(cmp) += ta
      offB(s"$p|$cmp") = accB(cmp); accB(cmp) += tb
    }
    val pid = F.spark_partition_id().cast("long")
    val offKey = F.concat_ws("|", F.col("__pid").cast("string"), F.col("__cmp"))
    val w = Window.partitionBy("__pid", "__cmp").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pass 2: same persisted layout — local running sums + offsets
    val nAc = F.element_at(F.typedlit(nA), F.col("__cmp"))
    val nBc = F.element_at(F.typedlit(nB), F.col("__cmp"))
    val cum = stamped
      .select(F.col("__cmp"), F.col("__v"), F.col("ca"), F.col("cb"),
        pid.as("__pid"))
      .withColumn("cumA",
        F.element_at(F.typedlit(offA.toMap), offKey) + F.sum("ca").over(w))
      .withColumn("cumB",
        F.element_at(F.typedlit(offB.toMap), offKey) + F.sum("cb").over(w))
    val aggRows = cum.groupBy("__cmp").agg(
        F.max(F.abs(d38(F.col("cumA")) * d38(nBc) - d38(F.col("cumB")) * d38(nAc)))
          .as("__d"),
        F.sum(F.abs(d38(F.col("ca")) * d38(nBc) - d38(F.col("cb")) * d38(nAc)))
          .as("__tv"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getDecimal(1).toBigInteger, r.getDecimal(2).toBigInteger))
      .toMap
    stamped.unpersist(true)
    val M = java.math.BigInteger.valueOf(1000000L)
    val schema = StructType(Seq(
      StructField("comparison", StringType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false),
      StructField("ks_ppm", LongType, nullable = false),
      StructField("tv_ppm", LongType, nullable = false)))
    val rows = inputs.map { case (cmp, _, _, _) =>
      val (d, tv) = aggRows(cmp)
      val na = java.math.BigInteger.valueOf(nA(cmp))
      val nb = java.math.BigInteger.valueOf(nB(cmp))
      val ks = d.multiply(M).divide(na.multiply(nb))
      val tvp = tv.multiply(M)
        .divide(java.math.BigInteger.TWO.multiply(na).multiply(nb))
      Row(cmp, nA(cmp), nB(cmp), ks.longValueExact, tvp.longValueExact)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Bucketed chi-square drift for numeric columns — the 100 TB scale
    * path beside [[ksDrift]]: KS walks every distinct value (state
    * grows with the column's cardinality), while this reduces both
    * sides to `bins` fixed-width buckets over the UNION's [min,max]
    * (one one-row bound aggregate, broadcast — the profile_histogram
    * pattern, bit-for-bit replayable double arithmetic) and
    * chi-squares the 2×bins contingency through the shared
    * [[chi2FromContingency]] — constant-size state, the shape the
    * streaming monitor can maintain incrementally. Returns the chi2
    * report with category = bucket index (string).
    */
  def histDrift(comparison: String, a: DataFrame, b: DataFrame,
                valueCol: String, bins: Int = 16): DataFrame = {
    require(bins >= 1, "at least one bucket")
    def side(df: DataFrame, ia: Int) =
      df.select(F.col(valueCol).cast("double").as("__v"),
        F.lit(ia.toLong).as("__ia"), F.lit(1L - ia).as("__ib"))
    val tagged = side(a, 1).unionAll(side(b, 0))
      .where(F.col("__v").isNotNull)
    val bounds = tagged.agg(F.min("__v").as("__mn"), F.max("__v").as("__mx"))
    val mn = F.col("__mn"); val mx = F.col("__mx")
    val bucket = F.when(mx === mn, F.lit(0L)).otherwise(
      F.least(F.floor((F.col("__v") - mn) * F.lit(bins) / (mx - mn)),
        F.lit(bins - 1L)))
    val cont = tagged.crossJoin(F.broadcast(bounds))
      .select(bucket.cast("string").as("category"),
        F.col("__ia"), F.col("__ib"))
      .groupBy("category")
      .agg(F.sum("__ia").as("cnt_a"), F.sum("__ib").as("cnt_b"))
    chi2FromContingency(comparison, cont)
  }

  /** Per-dimension EXACT centroid drift between two embedding-bearing
    * slices — the embedding-column member of the drift family (KS for
    * orderable, chi-square for categorical, this for vector columns):
    * for every dimension d, the report row is
    * (comparison, dim, n_a, n_b, mean_a_micro, mean_b_micro, gap_micro)
    * where values are first fixed to micro-units
    * (CAST(floor(v·1e6) AS BIGINT) — the float×1e6 product is exact in
    * double: 24-bit float mantissa × 20-bit 1e6 < 53 bits — and floor,
    * not trunc, keeps both engines identical on negatives), means are
    * sign-safe truncating divisions, and the centroid gap is computed
    * CROSS-MULTIPLIED ((sa·cb − sb·ca) over ca·cb, one division at the
    * end) so it is exact to the micro-unit, not a difference of two
    * truncated means.
    *
    * Scale + width contract: ONE tagged-union posexplode scan with
    * map-side combine — the shuffle carries ≤ p·dims partial rows, the
    * result is |dims| rows per comparison. All accumulation in
    * DECIMAL(38,0)/HUGEINT: |sa·cb| ≤ 1e6·n · n = 1e30 at the 1e12-row
    * design point, inside 38 digits. Signed divisions are sign-split
    * (sign · (abs div den)) because Spark `div` truncates toward zero
    * while DuckDB `//` floors — they only agree on non-negative
    * operands. Per-dim counts are carried per dimension (not one global
    * n), so ragged vectors report honest per-dim masses.
    */
  def embeddingDrift(comparison: String, a: DataFrame, b: DataFrame,
                     vecCol: String): DataFrame = {
    def side(df: DataFrame, ia: Int) = df
      .where(F.col(vecCol).isNotNull)
      .select(F.posexplode(F.col(vecCol)).as(Seq("dim", "__v")))
      .select(F.col("dim").cast("long").as("dim"),
        F.expr("CAST(floor(CAST(__v AS DOUBLE) * 1000000) AS BIGINT)")
          .as("__vm"),
        F.lit(ia.toLong).as("__ia"), F.lit(1L - ia).as("__ib"))
    val per = side(a, 1).unionAll(side(b, 0))
      .groupBy("dim")
      .agg(
        F.sum(d38(F.col("__ia")) * d38(F.col("__vm"))).as("sa"),
        F.sum(d38(F.col("__ib")) * d38(F.col("__vm"))).as("sb"),
        F.sum("__ia").as("ca"), F.sum("__ib").as("cb"))
    // sign-split truncating division: Spark div truncates toward zero,
    // DuckDB // floors — identical only after the abs() split. Guarded
    // on a positive divisor: a dimension one side never populates
    // (ragged vectors, an empty slice) reports NULL, not a
    // divide-by-zero (ANSI) or a silent null-without-contract
    def sdiv(num: String, den: String) =
      s"(CASE WHEN ($den) > 0 THEN (CASE WHEN ($num) >= 0 " +
        s"THEN ($num) div ($den) ELSE -((-($num)) div ($den)) END) " +
        s"ELSE NULL END)"
    per.select(
      F.lit(comparison).as("comparison"), F.col("dim"),
      F.col("ca").cast("long").as("n_a"), F.col("cb").cast("long").as("n_b"),
      F.expr("CAST(" + sdiv("sa", "ca") + " AS BIGINT)").as("mean_a_micro"),
      F.expr("CAST(" + sdiv("sb", "cb") + " AS BIGINT)").as("mean_b_micro"),
      F.expr("CAST(" + sdiv("sa * cb - sb * ca", "ca * cb") + " AS BIGINT)")
        .as("gap_micro"))
  }

  /** Exact chi-square drift report for a categorical column: one row
    * per category present on either side —
    * (comparison, category, cnt_a, cnt_b, contrib_ppm) where
    * contrib_ppm ~= 1e6 * (O-E)^2/E summed over the two side-cells of
    * the 2 x |categories| contingency table.
    *
    * Integer contract: E is first truncated to micro-units
    * (E_micro = (rowtot * sidetot * 1e6) div n — positive operands, so
    * Spark `div` == DuckDB `//`), then contrib = dev^2 div E_micro
    * with dev = o*1e6 - E_micro; dev^2 is non-negative so the outer
    * truncating division is also engine-identical. dev^2 <= 1e36 at
    * the 1e12-row design point — inside DECIMAL(38,0)/HUGEINT.
    * A category so rare that E_micro truncates to 0 (side imbalance
    * beyond 1e6x) yields NULL, never a crash or a float.
    *
    * Shape: one tagged-union groupBy(category) (map-side combine);
    * the side/grand totals come from a window over the |categories|-row
    * aggregate — bounded-frame by construction (the profile_benford
    * pattern), never a corpus-sized single partition.
    */
  def chi2Drift(comparison: String, a: DataFrame, b: DataFrame,
                catCol: String): DataFrame = {
    val tagged = a.select(F.col(catCol).cast("string").as("category"),
        F.lit(1L).as("__ia"), F.lit(0L).as("__ib"))
      .unionAll(b.select(F.col(catCol).cast("string").as("category"),
        F.lit(0L).as("__ia"), F.lit(1L).as("__ib")))
      .where(F.col("category").isNotNull)
    val cont = tagged.groupBy("category")
      .agg(F.sum("__ia").as("cnt_a"), F.sum("__ib").as("cnt_b"))
    chi2FromContingency(comparison, cont)
  }

  /** Same chi-square report from an already-aggregated contingency
    * frame (category, cnt_a, cnt_b) — the entry point for callers that
    * hold counts rather than rows: a streaming monitor comparing each
    * micro-batch's counts against a FROZEN reference histogram must
    * not rescan the reference corpus per batch
    * ([[graft.streaming.StreamingDrift.chi2Ingest]]), so it joins two
    * |categories|-row count tables and hands the result here.
    */
  def chi2FromContingency(comparison: String, cont: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withTot = cont
      .withColumn("__na", F.sum("cnt_a").over(wAll))
      .withColumn("__nb", F.sum("cnt_b").over(wAll))
      .withColumn("__n", F.col("__na") + F.col("__nb"))
      .withColumn("__rt", F.col("cnt_a") + F.col("cnt_b"))
    // expression assembled once in SQL text so the decimal math stays
    // verbatim-mirrored by the DuckDB twin
    def contribExpr(oCol: String, sideTot: String): String =
      s"""(CASE WHEN (CAST(__rt AS DECIMAL(38,0)) * CAST($sideTot AS DECIMAL(38,0)) *
         |  CAST(1000000 AS DECIMAL(38,0))) div CAST(__n AS DECIMAL(38,0)) > 0
         | THEN CAST((
         |   (CAST($oCol AS DECIMAL(38,0)) * CAST(1000000 AS DECIMAL(38,0)) -
         |    (CAST(__rt AS DECIMAL(38,0)) * CAST($sideTot AS DECIMAL(38,0)) *
         |     CAST(1000000 AS DECIMAL(38,0))) div CAST(__n AS DECIMAL(38,0))) *
         |   (CAST($oCol AS DECIMAL(38,0)) * CAST(1000000 AS DECIMAL(38,0)) -
         |    (CAST(__rt AS DECIMAL(38,0)) * CAST($sideTot AS DECIMAL(38,0)) *
         |     CAST(1000000 AS DECIMAL(38,0))) div CAST(__n AS DECIMAL(38,0)))
         |  ) div ((CAST(__rt AS DECIMAL(38,0)) * CAST($sideTot AS DECIMAL(38,0)) *
         |     CAST(1000000 AS DECIMAL(38,0))) div CAST(__n AS DECIMAL(38,0))) AS BIGINT)
         | ELSE NULL END)""".stripMargin.replace("\n", " ")
    withTot.select(
      F.lit(comparison).as("comparison"), F.col("category"),
      F.col("cnt_a"), F.col("cnt_b"),
      (F.expr(contribExpr("cnt_a", "__na")) +
        F.expr(contribExpr("cnt_b", "__nb"))).as("contrib_ppm"))
  }
}
