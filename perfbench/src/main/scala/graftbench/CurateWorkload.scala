package graftbench

import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.{Curate, Search, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import scala.jdk.CollectionConverters._

/** The curation flow: quality → near-dup detection → canonical corpus →
  * link-graph signals ([[LinkGraph]]) → IVF and BM25 index builds, then a
  * serve phase of single-query index lookups.
  *
  * The corpus is [[BaseDocs]] topical documents plus planted low-quality
  * documents (one group per quality reason), [[ExactDups]] exact copies and
  * [[NearDups]] one-token edits (shingle Jaccard ≥ 0.9) of distinct base
  * documents, all with higher ids than their originals. Each document
  * carries its embedding; embeddings are clustered by topic, and copies
  * share their original's vector.
  */
final class CurateWorkload(seed: Long) extends Workload {
  val name = "curate"
  val BaseDocs = 1200
  val Topics = 16
  val Dim = 32
  val ExactDups = 80
  val NearDups = 80
  val ShingleK = 3
  val TopK = 10
  val IndexTable = "perfbench_bm25"
  /** BM25 postings buckets, sized to the corpus rather than the 64 default */
  val Buckets = 8

  private val r = new scala.util.Random(seed)
  private val graph = new LinkGraph(seed * 31 + 7)
  private val stop = TextOps.stopwords.toMap.apply("en")
  private val general = Words.distinct(2000)(Words.word(r, 2, 3))
  private val topical = Words.distinct(Topics * 60)(Words.word(r, 4, 4)).grouped(60).toIndexedSeq
  private val zipf: Array[Double] = {
    val w = general.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  private def generalWord(): String = {
    val i = java.util.Arrays.binarySearch(zipf, r.nextDouble())
    general(if (i >= 0) i else math.min(-i - 1, general.size - 1))
  }
  private def doc(topic: Int): IndexedSeq[String] = IndexedSeq.fill(60 + r.nextInt(61)) {
    val u = r.nextDouble()
    if (u < 0.25) stop(r.nextInt(stop.size))
    else if (u < 0.5) topical(topic)(r.nextInt(60))
    else generalWord()
  }
  private def unit(v: IndexedSeq[Double]): IndexedSeq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => math.rint(x / n * 1e6) / 1e6)
  }
  private val centers = IndexedSeq.fill(Topics)(unit(IndexedSeq.fill(Dim)(r.nextGaussian())))
  private def near(v: IndexedSeq[Double], sigma: Double) = unit(v.map(_ + r.nextGaussian() * sigma))

  // base documents: ids 0 until BaseDocs
  private val baseToks: IndexedSeq[IndexedSeq[String]] = (0 until BaseDocs).map(i => doc(i % Topics))
  private val baseVec: IndexedSeq[IndexedSeq[Double]] = (0 until BaseDocs).map(i => near(centers(i % Topics), 0.1))

  /** planted low-quality documents: text and the reason the verdict must give */
  private val bad: IndexedSeq[(String, String)] = {
    def words(n: Int) = IndexedSeq.fill(n)(generalWord())
    IndexedSeq.fill(40)(words(3).mkString(" ") -> "too_short") ++
      IndexedSeq.fill(30) { val w = generalWord(); (Seq.fill(30)(w) ++ Seq("the", "and")).mkString(" ") -> "repetitive" } ++
      IndexedSeq.fill(30)(("the" +: Words.distinct(12)(generalWord()).map(w => s"$w %%%&&")).mkString(" ") -> "symbol_heavy") ++
      IndexedSeq.fill(30)(Words.distinct(40)(generalWord()).mkString(" ") -> "no_stopwords")
  }
  private val badIds = (BaseDocs until BaseDocs + bad.size).map(_.toLong)

  private def shingleSet(t: IndexedSeq[String]): Set[String] = t.sliding(ShingleK).map(_.mkString(" ")).toSet
  private def jaccard(a: IndexedSeq[String], b: IndexedSeq[String]): Double = {
    val (x, y) = (shingleSet(a), shingleSet(b))
    (x & y).size.toDouble / (x | y).size
  }

  private val originals = r.shuffle((0 until BaseDocs).toList).take(ExactDups + NearDups)
  private val firstDupId = BaseDocs + bad.size
  /** (original id, copy id, copy tokens) */
  private val exact = originals.take(ExactDups).zipWithIndex.map { case (o, k) =>
    (o.toLong, (firstDupId + k).toLong, baseToks(o)) }
  private val nearCopies = originals.drop(ExactDups).zipWithIndex.map { case (o, k) =>
    var t = baseToks(o)
    do { t = baseToks(o).updated(r.nextInt(baseToks(o).size), generalWord()) }
    while (t == baseToks(o) || jaccard(t, baseToks(o)) < 0.9)
    (o.toLong, (firstDupId + ExactDups + k).toLong, t)
  }

  /** (doc_id, text, vec) */
  private val docRows: IndexedSeq[Row] =
    baseToks.indices.map(i => Row(i.toLong, baseToks(i).mkString(" "), baseVec(i))) ++
      bad.indices.map(k => Row(badIds(k), bad(k)._1, unit(IndexedSeq.fill(Dim)(r.nextGaussian())))) ++
      (exact ++ nearCopies).map { case (o, id, t) => Row(id, t.mkString(" "), baseVec(o.toInt)) }

  /** serve-phase queries over base documents, which all survive curation;
    * lookups alternate between the IVF and the BM25 index
    */
  private val queryDocs = r.shuffle((0 until BaseDocs).toList).take(Main.Lookups).toIndexedSeq
  private val ivfQueries = queryDocs.indices.filter(_ % 2 == 0)
  private val queryVec = queryDocs.map(d => near(baseVec(d), 0.02))
  private val queryText: IndexedSeq[String] = {
    val df = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    baseToks.foreach(_.distinct.foreach(w => df(w) += 1))
    queryDocs.map(d => baseToks(d).distinct.sortBy(w => (df(w), w)).take(3).mkString(" "))
  }

  val tables: Seq[Table] = Seq(
    Table("documents", StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("vec", ArrayType(DoubleType, containsNull = false)))),
      docRows)) ++ graph.tables

  val steps: Seq[String] = Seq("text.quality", "dedup.near_dup", "dedup.components") ++
    graph.steps ++ Seq("similarity.build", "text.build")

  def pass(run: PassRun, in: Map[String, DataFrame]): Unit = {
    val docs = in("documents")
    val spark = docs.sparkSession
    val ctx = run.ctx
    def kept = docs.join(spark.read.parquet(ctx.path("out/quality")).where(F.col("keep")).select("doc_id"), "doc_id")
    run.step("text.quality") {
      val verdict = Curate.qualityVerdictFrom(F.col("n_tokens"), F.col("top_token_share"),
        F.col("punct_ratio"), F.col("n_stopwords"))
      TextOps.docProfile(docs, "doc_id", "text", stop)
        .select(F.col("doc_id") +: verdict.map { case (n, c) => c.as(n) }: _*)
        .write.mode("overwrite").parquet(ctx.path("out/quality"))
    }
    run.step("dedup.near_dup") {
      Dedup.minhashLsh(kept, "doc_id", "text", ShingleK, numHashes = 64, bands = 16, threshold = 0.7)
        .write.mode("overwrite").parquet(ctx.path("out/pairs"))
    }
    run.step("dedup.components") {
      Dedup.keepCanonical(kept, "doc_id", spark.read.parquet(ctx.path("out/pairs")))
        .write.mode("overwrite").parquet(ctx.path("out/corpus"))
    }
    graph.pass(run, in)
    def corpus = spark.read.parquet(ctx.path("out/corpus"))
    run.step("similarity.build") {
      Ann.ivfBuild(corpus, "doc_id", "vec", ctx.path("out/ivf"), nCells = Topics)
    }
    run.step("text.build") {
      Search.bm25Build(corpus, "doc_id", "text", IndexTable, ctx.path("out/bm25_stats"), nBuckets = Buckets)
    }
  }

  private val vecSchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def check(ctx: Ctx, in: Map[String, DataFrame], outs: Map[String, Any]): Verdict = {
    val spark = ctx.spark
    def read(p: String) = spark.read.parquet(ctx.path(p))
    val quality = read("out/quality").collect().toSeq
    val verdicts = quality.map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    val wantReason = badIds.zip(bad.map(_._2)).toMap
    val wrongVerdicts = verdicts.count { case (id, reason) => reason != wantReason.get(id) }
    val pairRows = read("out/pairs").collect().toSeq
    val pairs = pairRows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val nearFound = nearCopies.count { case (o, c, _) => pairs.contains((o, c)) }
    val exactFound = exact.count { case (o, c, _) => pairs.contains((o, c)) }
    val corpus = read("out/corpus").collect().toSeq
    val corpusIds = corpus.map(_.getAs[Long]("doc_id")).toSet
    val wantCorpus = (0L until BaseDocs.toLong).toSet
    val indexFp = Harness.fingerprintFrame(read("out/ivf/index").select("neighbor_id", "cell"))
    val indexRows = indexFp.takeWhile(_ != ':').toLong
    val stats = read("out/bm25_stats").collect().toSeq
    val statsN = stats.head.getAs[Long]("n")
    // IVF recall@10 against brute-force cosine top-10 over the same corpus;
    // a per-layer quality ratio, so measured in traced runs only
    val recall10 = if (!ctx.rec.tracing) None else Some {
      val queries = spark.createDataFrame(ivfQueries.map(i => Row(-1L - i, queryVec(i))).asJava, vecSchema)
      val corpusVecs = read("out/corpus")
      def topk(df: DataFrame) = df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val ivf = topk(Ann.ivfQueryIndex(spark, ctx.path("out/ivf"), queries, "qid", "vec", TopK))
      val exactTop = topk(Ann.cosineTopK(queries, "qid", "vec", corpusVecs, "doc_id", "vec", TopK))
      exactTop.map { case (q, want) => (ivf.getOrElse(q, Set.empty) & want).size }.sum.toDouble /
        exactTop.values.map(_.size).sum
    }
    val checks = Seq(
      Check("text.quality", verdicts.size == docRows.size && wrongVerdicts == 0,
        s"verdict reasons match the planted ones ($wrongVerdicts wrong of ${verdicts.size})"),
      Check("dedup.near_dup", nearFound == NearDups && exactFound == ExactDups,
        s"found $nearFound/$NearDups near-dup and $exactFound/$ExactDups exact-dup pairs"),
      Check("dedup.components", corpusIds == wantCorpus,
        s"canonical corpus is exactly the base documents (${corpusIds.size} vs ${wantCorpus.size}); " +
          s"exact copies left: ${exact.count(e => corpusIds.contains(e._2))}"),
      Check("similarity.build", indexRows == BaseDocs, s"IVF index holds $indexRows rows (want $BaseDocs)"),
      Check("text.build", statsN == BaseDocs, s"BM25 stats count $statsN docs (want $BaseDocs)")
    ) ++ recall10.map(r => Check("similarity.lookup", r >= 0.9, s"IVF recall@10 vs brute force $r >= 0.9"))
    val (graphChecks, graphFp) = graph.check(ctx)
    val fingerprints = Map(
      "text.quality" -> Harness.fingerprintRows(quality),
      "dedup.near_dup" -> Harness.fingerprintRows(pairRows),
      "dedup.components" -> Harness.fingerprintRows(corpus),
      "similarity.build" -> indexFp,
      "text.build" -> (Harness.fingerprintFrame(spark.table(IndexTable).select("doc_id", "term", "dl", "tf")) +
        "/" + Harness.fingerprintRows(stats))) ++ graphFp
    Verdict(checks ++ graphChecks, Map("dedup.near_dup.recall" -> nearFound.toDouble / NearDups) ++
      recall10.map("similarity.lookup.recall10" -> _), fingerprints)
  }

  /** Single-query lookups, IVF by vector or BM25 by the source document's
    * three rarest terms; each must return its source document in the top 10.
    */
  def lookups(ctx: Ctx, in: Map[String, DataFrame]): IndexedSeq[Lookup] = {
    val spark = ctx.spark
    val ivf = ivfQueries.toSet
    queryDocs.indices.map { i =>
      val want = queryDocs(i).toLong
      if (ivf.contains(i)) Lookup("similarity.lookup", () => {
        val q = spark.createDataFrame(java.util.List.of(Row(-1L - i, queryVec(i))), vecSchema)
        Ann.ivfQueryIndex(spark, ctx.path("out/ivf"), q, "qid", "vec", TopK)
          .collect().exists(_.getAs[Long]("neighbor_id") == want)
      })
      else Lookup("text.lookup", () =>
        Search.bm25QueryIndex(spark, IndexTable, ctx.path("out/bm25_stats"), Seq((i, queryText(i))), TopK)
          .collect().exists(_.getAs[Long]("doc_id") == want))
    }
  }

  def writtenBytes(ctx: Ctx, outs: Map[String, Any]): Long =
    Harness.treeBytes(ctx.path("out/ivf")) + Harness.treeBytes(ctx.path("out/bm25_stats")) +
      Harness.treeBytes(ctx.path(s"warehouse/$IndexTable"))
}
