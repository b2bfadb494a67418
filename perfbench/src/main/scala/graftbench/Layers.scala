package graftbench

/** The per-layer metric names and how a traced run fills them. */
object Layers {
  /** Every traced step, by layer. Steps a workload does not run read 0. */
  val steps: Seq[String] = Seq(
    "harmonize.profile", "harmonize.match_schema", "harmonize.match_values",
    "harmonize.edit_join", "harmonize.materialize",
    "text.quality", "text.build", "text.lookup",
    "dedup.near_dup", "dedup.components",
    "similarity.build", "similarity.lookup",
    "operators.pagerank", "operators.kcore", "operators.bfs")

  val kernels: Seq[String] = Seq(
    "functions.levenshtein_ns_row", "functions.minhash_ns_row",
    "functions.kmv_ns_row", "functions.cosine_ns_row")

  val quality: Seq[String] = Seq(
    "harmonize.match_schema.accuracy", "harmonize.match_values.precision",
    "harmonize.match_values.coverage", "dedup.near_dup.recall",
    "similarity.lookup.recall10")

  /** Per step: medians over the traced warm passes (lookups: over every
    * lookup span) of wall, jobs, executor run time, shuffle and plan time.
    */
  def metrics(rec: Recorder, warmPasses: Set[Int], probes: Map[String, Double],
              q: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = rec.spans.toSeq
    steps.flatMap { st =>
      val mine = spans.filter(s => s.name == st && (s.pass < 0 || warmPasses.contains(s.pass)))
      def med(f: Span => Double) = if (mine.isEmpty) 0.0 else Harness.median(mine.map(f))
      Seq(
        (s"$st.s", med(_.seconds), "s"),
        (s"$st.jobs", med(_.jobs.toDouble), "count"),
        (s"$st.task_s", med(_.taskMs / 1e3), "s"),
        (s"$st.shuffle_mb", med(_.shuffleBytes / 1e6), "MB"),
        (s"$st.plan_ms", med(_.planMs.toDouble), "ms"))
    } ++ kernels.map(k => (k, probes.getOrElse(k, 0.0), "ns")) ++
      quality.map(k => (k, q.getOrElse(k, 0.0), "ratio"))
  }
}
