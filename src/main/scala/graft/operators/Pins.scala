package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place graft stores intermediate frames, and the one place
  * it releases them.
  *
  * Every persist in the library goes through [[persist]] and every
  * lineage truncation through [[pin]]. Both register what they create
  * in the innermost [[scoped]] block on the calling thread; threads
  * started inside a scope inherit it. When the block exits, normally
  * or by an exception, the scope releases everything registered in
  * it, blocking, so a long-lived session that wraps each unit of work
  * in `Pins.scoped { ... }` accumulates no cached or checkpointed
  * blocks:
  *
  * {{{
  *   val nDocs = Pins.scoped {
  *     Dedup.keepCanonical(docs, "doc_id", Dedup.jaccardPairs(...))
  *       .write.parquet(out)
  *     spark.read.parquet(out).count()
  *   }
  * }}}
  *
  * Outside a scope nothing is registered: [[persist]] and [[pin]]
  * behave like the plain Spark calls, and whatever an operator leaves
  * cached stays cached until the caller clears it. Operators still
  * release the intermediates they create and fully consume before
  * returning; a scope additionally covers what they return or leave
  * cached for the result's consumer.
  *
  * Release is precise: a persisted frame is dropped from the
  * CacheManager, a pinned frame's own checkpoint RDD is unpersisted.
  * Frames the scope did not create, including pins further up a
  * registered frame's lineage, are never touched.
  */
object Pins {

  /** Row-count-derived partition count for iterative support frames
    * (optimization guide §2: derive partitioning from measured input
    * size, never a constant tuned for one deployment): ramps to full
    * parallelism once a frame has enough rows to be worth splitting
    * (~50k rows/task for the narrow rows these loops carry), then
    * keeps growing past core count for genuinely large frames
    * (~1M rows/task), so a 1e10-row frontier still gets thousands of
    * partitions. The small end is the measured problem: a toy graph's
    * cached supports inherit parallelism-many near-empty partitions,
    * and every round then pays parallelism-many task launches per map
    * stage — pageRank's 32-task map stages over a ~50k-row cached
    * edge frame burned ~28 s of summed task time to move 5 MB.
    */
  def partsForRows(rows: Long, parallelism: Int): Int = {
    val byCpu = math.min(parallelism.toLong, (rows + 49999) / 50000)
    val byVolume = (rows + 999999) / 1000000
    math.max(1L, math.max(byCpu, byVolume)).toInt
  }

  /** Rows below which an iterative loop's per-round small side (rank/
    * label/frontier tables — narrow rows by construction) is joined
    * with an explicit broadcast hint instead of a shuffle (guide §3.1:
    * pick the strategy deliberately; the checkpointed frames these
    * loops iterate carry NO size statistics, so the planner defaults
    * to sort-merge and re-shuffles the big cached side every round).
    * 1M narrow rows is tens of MB framed — comfortably under the
    * session's 64 MB autoBroadcast bar and far under the 8 GB hard
    * cap; above it the loop falls back to the planner's choice.
    */
  val BroadcastRows: Long = 1L << 20

  /** Run `body` and release, blocking, every frame [[persist]] or
    * [[pin]] created inside it, on this thread or on threads started
    * inside it. Release runs in `finally`, so it also runs when the
    * body throws. Scopes nest; a frame registers with the innermost.
    * The body must return a materialized value (a count, collected
    * rows, Unit after a write): a returned Dataset would be a plan
    * over blocks the scope is about to free.
    */
  def scoped[A](body: => A): A = {
    val scope = new Scope
    val outer = scopes.get
    scopes.set(scope :: outer)
    try {
      val out = body
      require(!out.isInstanceOf[Dataset[_]],
        "Pins.scoped: the body returned a Dataset, whose blocks the scope " +
          "releases on exit — return a materialized value (count, collect, write)")
      out
    } finally {
      scopes.set(outer)
      scope.close()
    }
  }

  /** Persist `df` at the session's default cache level (MEMORY_AND_DISK
    * unless configured otherwise) and register it with the enclosing
    * scope. A frame that is already cached is returned unchanged and
    * not registered: its owner releases it.
    */
  def persist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else register(df.persist())

  /** Eager lineage pin: a reliable checkpoint when the session has a
    * checkpoint dir (cluster deployments — survives executor loss),
    * else an eager localCheckpoint (single-JVM runs, where losing an
    * executor means losing the app anyway). Plain persist() is NOT
    * enough for a frame referenced more than once per round: the
    * logical plan doubles every iteration even though execution reads
    * the cache. The pinned frame registers with the enclosing scope.
    */
  def pin(df: DataFrame): DataFrame =
    register(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(true))

  /** Release a pinned (or persisted) frame's storage NOW. Walks the
    * analyzed plan for `LogicalRDD` leaves and unpersists their
    * backing RDDs directly — the blocks a localCheckpoint holds are
    * invisible to `Dataset.unpersist()`. The frame's data is
    * unrecoverable afterwards (its lineage was truncated at the pin),
    * so only release a round once its successor is eagerly pinned.
    * Reliable-checkpoint frames keep their checkpoint-dir files (the
    * RDD unpersist is a no-op there); persist()-backed frames release
    * through the plain unpersist.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }
  }

  /** One scope's registrations. Threads that inherited the scope may
    * register concurrently; once closed it accepts nothing more, so a
    * pool thread outliving its scope falls through to the next open
    * one.
    */
  private final class Scope {
    private var frames = List.empty[DataFrame]
    private var open = true

    def add(df: DataFrame): Boolean = synchronized {
      if (open) frames = df :: frames
      open
    }

    /** Newest first, so a frame is dropped before the frames it was
      * built from and the CacheManager never rebuilds a dependant. */
    def close(): Unit = {
      val toFree = synchronized { open = false; val fs = frames; frames = Nil; fs }
      toFree.foreach { df =>
        try free(df)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn("Pins.scoped: releasing a registered frame failed", e)
        }
      }
    }
  }

  private val scopes = new InheritableThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  private def register(df: DataFrame): DataFrame = {
    scopes.get.exists(_.add(df))
    df
  }

  /** Blocking, precise release: the frame's own cache entry, plus its
    * checkpoint RDD when the frame is a pin (its plan is that leaf). */
  private def free(df: DataFrame): Unit = {
    df.unpersist(blocking = true)
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _              => ()
    }
  }
}
