package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{functions => F}
import scala.jdk.CollectionConverters._

/** A generated input table: the benchmark writes it as parquet, and the
  * program only ever sees that parquet.
  */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

/** The result of one planted-truth check. */
final case class Check(step: String, ok: Boolean, detail: String)

/** What the checks of a finished pass found: the checks, the quality
  * ratios, and an order-independent result fingerprint per step, so two
  * commits can be compared for identical output.
  */
final case class Verdict(checks: Seq[Check], quality: Map[String, Double], fingerprints: Map[String, String])

/** One serve-phase lookup: `run` returns whether its answer was right. */
final case class Lookup(span: String, run: () => Boolean)

/** What a workload supplies to the harness. */
trait Workload {
  def name: String
  /** Seeded inputs; the same seed gives the same rows. */
  def tables: Seq[Table]
  /** Step (span) names of one pass, in order. */
  def steps: Seq[String]
  /** One pass: every step runs through `run.step`, which times it. */
  def pass(run: PassRun, in: Map[String, DataFrame]): Unit
  /** Planted-truth checks, quality ratios and fingerprints of a finished pass. */
  def check(ctx: Ctx, in: Map[String, DataFrame], outs: Map[String, Any]): Verdict
  /** The serve phase's sequential lookups, run after the last pass. */
  def lookups(ctx: Ctx, in: Map[String, DataFrame]): IndexedSeq[Lookup]
  /** Bytes the last pass wrote to storage. */
  def writtenBytes(ctx: Ctx, outs: Map[String, Any]): Long
}

/** Run-wide handles a workload needs. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val work: Path, val cores: Int) {
  def path(name: String): String = work.resolve(name).toString
}

/** One pass in progress: steps run in order; the first failure aborts
  * the pass and the steps it skipped count as failed.
  */
final class PassRun(val ctx: Ctx, val pass: Int, traced: Boolean, countLeaks: Boolean) {
  val outs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val leaks = scala.collection.mutable.LinkedHashMap.empty[String, Int]
  var failedStep: Option[(String, Throwable)] = None

  def step[T](name: String)(body: => T): T = {
    val sc = ctx.spark.sparkContext
    val before = if (countLeaks) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val cachedBefore = if (countLeaks) Harness.cacheEntries(ctx.spark) else 0
    val t0 = System.nanoTime()
    val out = try {
      if (traced) ctx.rec.span(name, pass)(body) else body
    } catch {
      case e: Throwable =>
        failedStep = Some((name, e))
        throw new PassAborted(name, e)
    }
    seconds(name) = (System.nanoTime() - t0) / 1e9
    outs(name) = out
    if (countLeaks) {
      // persisted RDDs the step left behind, plus cache entries whose
      // buffers were never built (a built buffer is a named RDD)
      val fresh = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      val buffers = fresh.count(_._2.name != null)
      leaks(name) = fresh.size +
        math.max(0, Harness.cacheEntries(ctx.spark) - cachedBefore - buffers)
    }
    out
  }
}

final class PassAborted(step: String, cause: Throwable)
    extends RuntimeException(s"step $step failed: $cause", cause)

object Harness {
  def cacheEntries(spark: SparkSession): Int =
    org.apache.spark.sql.graftbench.EngineBridge.cachedEntries(spark)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Digest of a table's generated content (rows in generated order). */
  def contentDigest(tables: Seq[Table]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    tables.foreach { t =>
      md.update(t.name.getBytes("UTF-8"))
      t.rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write a generated table as one parquet file; returns the file's digest. */
  def writeTable(spark: SparkSession, t: Table, dir: String): String = {
    spark.createDataFrame(t.rows.asJava, t.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val parts = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    require(parts.length == 1, s"expected one parquet file in $dir")
    sha256(Files.readAllBytes(parts.head.toPath))
  }

  /** Order-independent fingerprint of collected rows. */
  def fingerprintRows(rows: Seq[Row]): String = {
    var sum = BigInt(0)
    rows.foreach { r =>
      sum += BigInt(1, MessageDigest.getInstance("SHA-256").digest(r.toString.getBytes("UTF-8")).take(8))
    }
    s"${rows.size}:${(sum % (BigInt(1) << 64)).toString(16)}"
  }

  /** Order-independent fingerprint of a frame, computed in one job. */
  def fingerprintFrame(df: DataFrame): String = {
    val h = F.xxhash64(df.columns.map(F.col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  /** Drop every persisted and checkpointed block a frame's plan holds.
    * The benchmark keeps its own copy of this rather than calling the
    * engine's, so an engine change cannot alter how inputs are released.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = true)
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _: LogicalPlan => ()
    }
  }

  /** Bytes under a directory tree. */
  def treeBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
