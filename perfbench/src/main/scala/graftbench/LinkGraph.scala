package graftbench

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import scala.collection.mutable

/** The link-graph stage of the curation flow: quality signals over the
  * crawl's host link graph — host rank (pageRank), dense link farms
  * (k-core) and crawl distance from the seed host (BFS hops). Every result
  * is written as parquet and checked against a driver-side replay of the
  * same rounds. Personalized pageRank and weighted shortest paths run the
  * same loops as pageRank and BFS; they, label propagation and connected
  * components are left out to keep a run inside its time budget.
  *
  * The graph is a Barabási–Albert core (power-law degrees) of [[Core]]
  * hosts with [[Hubs]] extra hubs, chains of [[ChainLen]] hosts hanging
  * off the core and detached chains. Round counts are small: each graft
  * loop round costs a fixed number of Spark jobs, and a few rounds
  * already carry that cost.
  */
final class LinkGraph(seed: Long) {
  val Core = 1500
  val Hubs = 3
  val HubDegree = 100
  val Chains = 4
  val ChainLen = 12
  val DetachedChains = 2
  val PageRankIters = 2
  val CoreK = 3
  val CoreRounds = 2
  val SearchRounds = 3

  private val r = new scala.util.Random(seed)
  private def node(i: Int) = f"h$i%05d"

  /** undirected host pairs (a < b), deduplicated */
  private val hostPairs: IndexedSeq[(String, String)] = {
    val set = mutable.LinkedHashSet.empty[(Int, Int)]
    def add(a: Int, b: Int): Unit = if (a != b) set += ((math.min(a, b), math.max(a, b)))
    val ends = mutable.ArrayBuffer(0, 1, 1, 2, 2, 0)
    add(0, 1); add(1, 2); add(2, 0)
    for (v <- 3 until Core) {
      val a = ends(r.nextInt(ends.size))
      var b = ends(r.nextInt(ends.size))
      while (b == a) b = ends(r.nextInt(ends.size))
      add(v, a); add(v, b)
      ends ++= Seq(v, a, v, b)
    }
    var next = Core
    for (_ <- 0 until Hubs) {
      val h = next; next += 1
      r.shuffle((0 until Core).toList).take(HubDegree).foreach(add(h, _))
    }
    for (c <- 0 until Chains + DetachedChains) {
      val start = next
      if (c < Chains) add(r.nextInt(Core), start)
      for (k <- 1 until ChainLen) add(start + k - 1, start + k)
      next += ChainLen
    }
    set.toIndexedSeq.map { case (a, b) => (node(a), node(b)) }
  }
  private val nodes = hostPairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
  /** directed weighted links, 30% of them reciprocated */
  private val links: IndexedSeq[(String, String, Long)] = hostPairs.flatMap { case (a, b) =>
    val (s, d) = if (r.nextBoolean()) (a, b) else (b, a)
    val w = 1L + r.nextInt(9)
    if (r.nextDouble() < 0.3) Seq((s, d, w), (d, s, 1L + r.nextInt(9))) else Seq((s, d, w))
  }
  /** the crawl starts at the first core host */
  private val crawlSeed = node(0)

  val tables: Seq[Table] = Seq(
    Table("links", StructType(Seq(StructField("src", StringType, nullable = false),
      StructField("dst", StringType, nullable = false), StructField("w", LongType, nullable = false))),
      links.map { case (s, d, w) => Row(s, d, w) }))

  val steps: Seq[String] = Seq("operators.pagerank", "operators.kcore", "operators.bfs")

  private val outDir: Map[String, String] = steps.map(s => s -> s"out/${s.stripPrefix("operators.")}").toMap

  def pass(run: PassRun, in: Map[String, DataFrame]): Unit = {
    val links = in("links")
    // the undirected view: every link as a host pair
    val pairs = links.select(F.col("src").as("a"), F.col("dst").as("b"))
    def write(step: String)(result: => DataFrame): Unit = run.step(step) {
      val df = result
      df.write.mode("overwrite").parquet(run.ctx.path(outDir(step)))
      Harness.release(df)
    }
    val spark = links.sparkSession
    write("operators.pagerank")(Graph.pageRank(links, PageRankIters))
    write("operators.kcore")(Graph.kCore(pairs, CoreK, CoreRounds))
    write("operators.bfs")(Graph.shortestHops(pairs, spark.createDataFrame(
      java.util.List.of(Row(crawlSeed)), StructType(Seq(StructField("node", StringType)))), SearchRounds))
  }

  private def read(ctx: Ctx, step: String): DataFrame = ctx.spark.read.parquet(ctx.path(outDir(step)))

  // ---- driver-side replays of the same rounds ----
  private lazy val neighbors: Map[String, Seq[String]] =
    links.flatMap { case (s, d, _) => Seq(s -> d, d -> s) }.distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** PageRank with uniform teleport and dangling mass spread uniformly. */
  private def pageRank: Map[String, Double] = {
    val n = nodes.size.toDouble
    val out = links.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum.toDouble }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to PageRankIters) {
      val in = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      links.foreach { case (s, d, w) => in(d) += rank(s) * w / out(s) }
      val dang = nodes.filterNot(out.contains).map(rank).sum
      rank = nodes.map(v => v -> ((1 - 0.85) / n + 0.85 * (in(v) + dang / n))).toMap
    }
    rank
  }

  /** Synchronous peeling for a fixed number of rounds. */
  private def kCore: Map[String, Long] = {
    var live = hostPairs.toSet
    def degrees = live.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    for (_ <- 1 to CoreRounds) {
      val deg = degrees
      live = live.filter(p => deg(p._1) >= CoreK && deg(p._2) >= CoreK)
    }
    degrees.filter(_._2 >= CoreK)
  }

  /** Hop counts from the seed, bounded to `SearchRounds` rounds. */
  private def hops: Map[String, Long] = {
    var dist = Map(crawlSeed -> 0L)
    for (_ <- 1 to SearchRounds) {
      val next = mutable.HashMap(dist.toSeq: _*)
      dist.foreach { case (v, d) => neighbors(v).foreach(u => if (!next.contains(u)) next(u) = d + 1) }
      dist = next.toMap
    }
    dist
  }

  /** Checks against the driver replays, and a fingerprint per step. */
  def check(ctx: Ctx): (Seq[Check], Map[String, String]) = {
    val rows = steps.map(s => s -> read(ctx, s).collect().toSeq).toMap
    def collect(step: String) = rows(step).map(r => r.get(0).toString -> r.get(1)).toMap
    def same[V](step: String, want: Map[String, V], conv: Any => V) = {
      val got = collect(step).map { case (k, v) => k -> conv(v) }
      val wrong = (got.keySet | want.keySet).count(k => got.get(k) != want.get(k))
      Check(step, wrong == 0, s"$wrong of ${want.size} nodes differ from the driver replay")
    }
    val want = pageRank
    val got = collect("operators.pagerank").map { case (k, v) => k -> v.asInstanceOf[java.math.BigDecimal].doubleValue }
    val diff = if (got.keySet != want.keySet) Double.PositiveInfinity
      else want.map { case (k, v) => math.abs(got(k) - v) }.max
    val toLong = (v: Any) => v.toString.toLong
    (Seq(
      Check("operators.pagerank", diff <= 1e-9, s"pageRank max |diff| $diff vs driver power iteration"),
      same("operators.kcore", kCore, toLong),
      same("operators.bfs", hops, toLong)),
      rows.map { case (s, rs) => s -> Harness.fingerprintRows(rs) })
  }
}
