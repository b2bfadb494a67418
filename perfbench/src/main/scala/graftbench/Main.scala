package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, one process.
  *
  *   graftbench.Main --workload <harmonize|curate|graph> --seed <n>
  *                   --seconds <s> --trace <0|1> [--work <dir>]
  *
  * Set-up (session build + loading the generated parquet, the load
  * repeated [[LoadReps]] times), one cold pass, warm passes for
  * `--seconds`, then the serve phase's [[Lookups]] sequential lookups.
  * A single closed-loop client drives local Spark on every core. The
  * last stdout line is the JSON result; everything else goes to stderr.
  * With `--trace 1` the warm passes run [[TracedSchedule]]: after one
  * more untraced warm-up pass, untraced, traced, traced, untraced, so the
  * JIT warm-up still under way drifts evenly over both kinds. The traced
  * ones record one span per step, and the result carries the per-layer
  * metrics instead of the end-to-end ones.
  */
object Main {
  val LoadReps = 3
  val MinWarmPasses = 1
  /** Whether each warm pass of a traced run is traced; the first is a
    * warm-up left out of `trace.overhead`.
    */
  val TracedSchedule: Seq[Boolean] = Seq(false, false, true, true, false)
  /** 20 lookups leave ten samples above the reported median, the highest
    * percentile the serve phase can report with ten samples beyond it.
    */
  val Lookups = 20

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    val seed = opts.getOrElse("seed", usage("--seed is required")).toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_work")).toAbsolutePath.resolve(workload)
    if (!Workloads.names.contains(workload))
      usage(s"unknown workload '$workload' (known: ${Workloads.names.mkString(", ")})")
    val code = try run(workload, seed, seconds, trace, work) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace(System.err)
        1
    }
    System.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg\nusage: --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    System.exit(2)
    throw new IllegalStateException(msg)
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: java.nio.file.Path): Int = {
    Harness.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)

    // ---- set-up: session build, generation (recorded apart), loads ----
    val tSession = System.nanoTime()
    val spark = graft.GraftSession.build(master = s"local[${cores()}]", appName = "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val rec = new Recorder(spark, trace)
    val ctx = new Ctx(spark, rec, work, cores())

    val tGen = System.nanoTime()
    val wl = Workloads(workload, seed)
    val tables = wl.tables
    val digests = rec.span("bench.generate", -1) {
      tables.map(t => t.name -> Harness.writeTable(spark, t, ctx.path(s"input/${t.name}"))).toMap
    }
    val genS = (System.nanoTime() - tGen) / 1e9
    // determinism (traced runs): regenerating the seed gives the same
    // content and the next seed different content; the parquet digests,
    // logged and kept in the trace, show byte-identical inputs across runs
    val content = Harness.contentDigest(tables)
    val sameSeedIdentical = !trace || Harness.contentDigest(Workloads(wl.name, seed).tables) == content
    val otherSeedDiffers = !trace || Harness.contentDigest(Workloads(wl.name, seed + 1).tables) != content
    log(f"generated ${tables.map(t => s"${t.name}=${t.rows.size}").mkString(" ")} in $genS%.2fs, " +
      s"content sha256 ${content.take(16)}, parquet sha256 " +
      digests.toSeq.sorted.map { case (k, v) => s"$k=${v.take(16)}" }.mkString(" "))

    var inputs = Map.empty[String, DataFrame]
    val loadS = (1 to LoadReps).map { _ =>
      inputs.values.foreach(Harness.release)
      val t0 = System.nanoTime()
      inputs = rec.span("bench.load", -1) {
        tables.map { t =>
          val df = spark.read.parquet(ctx.path(s"input/${t.name}"))
          t.name -> df.repartition(ctx.cores, F.col(df.columns.head)).localCheckpoint(true)
        }.toMap
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Harness.median(loadS)
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    rec.drain()
    rec.resetPeak()
    log(f"setup ${setupS}%.3fs (session ${sessionS}%.3fs, loads ${loadS.map(x => f"$x%.3f").mkString(",")})")

    // ---- passes ----
    var attempted = 0
    var failed = 0
    val checks = mutable.ArrayBuffer.empty[Check]
    var quality = Map.empty[String, Double]
    var coldFp = Map.empty[String, String]
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val traced = mutable.ArrayBuffer.empty[PassRun]
    var lastOuts = Map.empty[String, Any]

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!keep.contains(id)) r.unpersist(blocking = true)
      }
    }

    def onePass(p: Int, tracedPass: Boolean): Unit = {
      // untraced passes inside a traced run carry a marker instead of a
      // span id, so their jobs are neither attributed nor counted missing
      if (trace) spark.sparkContext.setLocalProperty(Recorder.SpanKey, if (tracedPass) null else Recorder.Off)
      val run = new PassRun(ctx, p, tracedPass, countLeaks = tracedPass)
      val t0 = System.nanoTime()
      val ok = try {
        if (tracedPass) rec.span(s"${wl.name}.pass", p)(wl.pass(run, inputs)) else wl.pass(run, inputs)
        true
      } catch { case _: PassAborted => false }
      val wall = (System.nanoTime() - t0) / 1e9
      if (trace) spark.sparkContext.setLocalProperty(Recorder.SpanKey, null)
      attempted += wl.steps.size
      rec.span("bench.check", p) {
        if (!ok) {
          val (step, e) = run.failedStep.get
          failed += wl.steps.size - run.outs.size
          checks += Check(step, ok = false, s"threw $e")
          log(s"pass $p: step $step threw $e")
          e.printStackTrace(System.err)
        } else {
          // the cold pass is checked against planted truth and fingerprinted;
          // warm passes repeat the same deterministic work
          if (p == 0) {
            val v = wl.check(ctx, inputs, run.outs.toMap)
            checks ++= v.checks
            quality = v.quality
            coldFp = v.fingerprints
            failed += v.checks.filterNot(_.ok).map(_.step).distinct.size
          }
          lastOuts = run.outs.toMap
        }
        if (tracedPass) { rec.drain(); traced += run }
      }
      passWall += ((p, tracedPass, wall))
      log(f"pass $p${if (tracedPass) " (traced)" else ""}: $wall%.3fs " +
        run.seconds.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      cleanup()
    }

    val gcBefore = gcMs()
    onePass(0, tracedPass = trace)
    val coldS = passWall.head._3
    val tWarm = System.nanoTime()
    var p = 1
    def enough = (System.nanoTime() - tWarm) / 1e9 >= seconds &&
      p > (if (trace) TracedSchedule.size else MinWarmPasses)
    while (!enough) {
      onePass(p, tracedPass = trace && TracedSchedule.lift(p - 1).getOrElse(p % 2 == 0))
      p += 1
    }
    val warmPasses = passWall.count(_._1 > 0)
    val gcPerPass = (gcMs() - gcBefore).toDouble / (warmPasses + 1)
    val runS = Harness.median(passWall.filter(w => w._1 > 0 && !w._2).map(_._3).toSeq)

    // ---- serve phase ----
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val lookups = wl.lookups(ctx, inputs)
    require(lookups.size == Lookups, s"${wl.name} defines ${lookups.size} lookups, not $Lookups")
    lookups.foreach { l =>
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try rec.span(l.span, -1)(l.run()) catch {
        case e: Throwable => log(s"lookup ${l.span} threw $e"); false
      }
      lookupMs += (System.nanoTime() - t0) / 1e6
      if (!ok) { failed += 1; checks += Check(l.span, ok = false, "lookup answer wrong") }
    }
    log(f"serve: ${lookupMs.size} lookups p50 ${Harness.median(lookupMs.toSeq)}%.2fms")
    val writtenMb = wl.writtenBytes(ctx, lastOuts) / 1e6

    // ---- kernel probes (traced runs) ----
    val probes = if (trace) Probes.run(ctx, seed) else Map.empty[String, Double]

    rec.drain()
    val cachePeakMb = rec.peakMb
    val determinism = Seq(
      Check("generator", sameSeedIdentical, "same seed must generate identical inputs"),
      Check("generator", otherSeedDiffers, "next seed must generate different inputs"))
    checks ++= determinism
    val badChecks = checks.filterNot(_.ok)
    badChecks.foreach(c => log(s"CHECK FAILED ${c.step}: ${c.detail}"))
    val correct = badChecks.isEmpty && failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("cold_run_s", coldS, "s"),
        ("run_s", runS, "s"),
        ("lookup_p50_ms", Harness.median(lookupMs.toSeq), "ms"),
        ("written_mb", writtenMb, "MB"),
        ("cache_peak_mb", cachePeakMb, "MB"),
        ("success_ratio", (attempted - failed).toDouble / attempted, "ratio"))
      else {
        val tracedRunS = Harness.median(passWall.filter(w => w._1 > 0 && w._2).map(_._3).toSeq)
        val untracedRunS = Harness.median(passWall.filter(w => w._1 > 1 && !w._2).map(_._3).toSeq)
        val leaked = traced.find(_.pass == 0).map(_.leaks.values.sum).getOrElse(0)
        Layers.metrics(rec, traced.filter(_.pass > 0).map(_.pass).toSet, probes, quality) ++ Seq(
          ("spark.spill_mb", rec.spillMb, "MB"),
          ("jvm.gc_ms", gcPerPass, "ms"),
          ("spark.leaked_rdds", leaked.toDouble, "count"),
          ("spark.unattributed_jobs", rec.unattributedJobs.toDouble, "count"),
          ("trace.overhead", tracedRunS / untracedRunS - 1, "ratio"))
      }

    if (trace) {
      val cold = traced.find(_.pass == 0)
      TraceFile.write(work.getParent.resolve(s"trace-${wl.name}-$seed.json"), rec, Map(
        "workload" -> wl.name, "seed" -> seed, "gen_s" -> genS, "setup_s" -> setupS,
        "session_s" -> sessionS, "load_s" -> loadS, "input_sha256" -> digests,
        "cold_fingerprints" -> coldFp,
        "leaks_cold_pass" -> cold.map(_.leaks.toMap).getOrElse(Map.empty),
        "passes" -> passWall.map { case (pp, t, w) => Map("pass" -> pp, "traced" -> t, "s" -> w) },
        "checks" -> checks.map(c => Map("step" -> c.step, "ok" -> c.ok, "detail" -> c.detail))))
    }
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  private def cores(): Int = Runtime.getRuntime.availableProcessors()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
