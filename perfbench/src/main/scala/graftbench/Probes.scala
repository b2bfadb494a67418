package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Kernel probes: executor CPU nanoseconds per row of one public
  * expression, timed from outside over seeded generated columns into the
  * noop sink. The probe's CPU minus that of a trivial scalar over the same
  * columns is the kernel's own cost. CPU time (not wall) keeps the number
  * independent of the core count. Each probe runs once unmeasured, then
  * [[Reps]] times interleaved with its baseline; medians are reported.
  */
object Probes {
  private val Reps = 3

  def run(ctx: Ctx, seed: Long): Map[String, Double] = {
    val spark = ctx.spark
    val syl = F.lit(Words.syllables.toArray)
    def h(parts: Column*): Column = F.pmod(F.xxhash64(F.lit(seed) +: parts: _*), F.lit(Long.MaxValue))
    def pick(parts: Column*): Column =
      F.element_at(syl, (F.pmod(h(parts: _*), F.lit(Words.syllables.size)) + 1).cast("int"))
    def pinned(rows: Long)(cols: Column*): DataFrame =
      spark.range(rows).select(cols: _*).repartition(ctx.cores).localCheckpoint(true)
    def vector(id: Column, salt: Int): Column = F.transform(F.sequence(F.lit(1), F.lit(128)),
      i => F.pmod(h(id, i + salt), F.lit(1000)).cast("double") / 1000)

    val id = F.col("id")
    val (strings, shingles, vectors) = ctx.rec.span("bench.probe_inputs", -1) {
      (pinned(400000)(
        F.concat((0 until 4).map(i => pick(id, F.lit(i))): _*).as("a"),
        F.concat(pick(id, F.lit(0)), pick(id, F.lit(9)), pick(id, F.lit(2)), pick(id, F.lit(3))).as("b"),
        F.pmod(id, F.lit(64)).as("g")),
        pinned(40000)(F.transform(F.sequence(F.lit(1), F.lit(40)), i =>
          F.concat_ws(" ", pick(id, i), pick(id, i + 1), pick(id, i + 2))).as("shs")),
        pinned(200000)(vector(id, 0).as("u"), vector(id, 1000).as("v")))
    }

    def perRow(name: String, rows: Long, kernel: DataFrame, base: DataFrame): (String, Double) = {
      def once(label: String, df: DataFrame): String = {
        ctx.rec.span(label, -1)(df.write.format("noop").mode("overwrite").save())
        label
      }
      once(s"$name.warmup", kernel)
      val labels = (1 to Reps).map(r => (once(s"$name.kernel#$r", kernel), once(s"$name.base#$r", base)))
      ctx.rec.drain()
      def cpu(ls: Seq[String]) = Harness.median(ctx.rec.spans.filter(s => ls.contains(s.name)).map(_.cpuNs.toDouble).toSeq)
      name -> (cpu(labels.map(_._1)) - cpu(labels.map(_._2))) / rows
    }

    val out = Map(
      perRow("functions.levenshtein_ns_row", 400000,
        strings.select(graft.harmonize.ValueMatcher.normalizedLevenshtein(F.col("a"), F.col("b")).as("x")),
        strings.select((F.length(F.col("a")) + F.length(F.col("b"))).as("x"))),
      perRow("functions.minhash_ns_row", 40000,
        shingles.select(graft.dedup.Dedup.minhashSignature(F.col("shs"), 64).as("x")),
        shingles.select(F.size(F.col("shs")).as("x"))),
      perRow("functions.kmv_ns_row", 400000,
        strings.groupBy("g").agg(graft.functions.KmvAgg.kmvAgg(F.col("a"), 256).as("x")),
        strings.groupBy("g").agg(F.count(F.col("a")).as("x"))),
      perRow("functions.cosine_ns_row", 200000,
        vectors.select(graft.similarity.Ann.cosine(F.col("u"), F.col("v")).as("x")),
        vectors.select((F.size(F.col("u")) + F.size(F.col("v"))).as("x"))))
    Seq(strings, shingles, vectors).foreach(Harness.release)
    out
  }
}
