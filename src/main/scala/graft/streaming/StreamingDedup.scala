package graft.streaming

import graft.dedup.{Decontaminate, Dedup}
import graft.operators.Pins
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

/** Streaming twin of the incremental near-dup ingest loop
  * (Dedup.minhashIndexBuild / incrementalNearDupPairs): a document
  * stream where each micro-batch is
  *  1. band-probed against everything ingested in PRIOR batches — the
  *     persisted signature index plus the batch's own signatures — and
  *     exact-verified, the resulting near-dup pairs handed to `sink`;
  *  2. appended to the corpus table and its signatures to the index,
  *     so the NEXT batch sees this one.
  * This is the daily-crawl loop with all state in TABLES, not executor
  * memory: no state store grows with the corpus (watermark-based
  * streaming dedup caps state by time; a near-dup index over the whole
  * history cannot be time-capped, so it lives in storage where a 100 TB
  * corpus's signatures belong), and the per-batch cost is the
  * batch-sized probe — never a corpus re-shingle.
  *
  * At-least-once correctness (foreachBatch may re-run a batch after a
  * failure, including after PARTIAL table appends):
  *  - every appended row carries its `ingest_batch` id, and batch N's
  *    probe reads only rows with ingest_batch < N — a re-run never
  *    sees its own partial leftovers;
  *  - duplicate appends from a crashed run are absorbed at read time:
  *    candidate generation is distinct over (id1, id2) and the verify
  *    step deduplicates candidate docs by id, so later batches compute
  *    correct pairs even if some batch's rows were appended twice
  *    (storage duplication is bounded by failure count — compact
  *    offline if it matters);
  *  - the sink receives `batchId` and, as always under at-least-once
  *    delivery, must be idempotent per batch id (e.g. overwrite a
  *    batchId-keyed partition).
  *
  * foreachBatch (not a stateful operator) because both halves are
  * BATCH operations on tables — exactly what foreachBatch exists for.
  * Run [[bootstrap]] (an empty initial corpus works) before starting.
  */
object StreamingDedup {

  /** Create the corpus + signature-index tables from an initial corpus
    * frame (may be empty) with the `ingest_batch` lineage column the
    * ingest loop's idempotence depends on. The index is bucketed and
    * sorted by the full (band, key) join key, like minhashIndexBuild.
    */
  def bootstrap(initial: DataFrame, corpusTable: String, indexTable: String,
                idCol: String, textCol: String, k: Int,
                numHashes: Int, bands: Int, nBuckets: Int = 64): Unit = {
    // stale-location recovery mirrors Sources.writeBucketedMulti's
    // (which already guards the index table below): a crashed previous
    // JVM's warehouse directory must not block the bootstrap
    if (!initial.sparkSession.catalog.tableExists(corpusTable))
      graft.sources.Sources.deleteStaleTableLocation(initial.sparkSession, corpusTable)
    initial.select(F.col(idCol), F.col(textCol))
      .withColumn("ingest_batch", F.lit(-1L))
      .write.mode(SaveMode.Overwrite).saveAsTable(corpusTable)
    graft.sources.Sources.writeBucketedMulti(
      Dedup.minhashBanded(initial, idCol, textCol, k, numHashes, bands)
        .withColumn("ingest_batch", F.lit(-1L)),
      indexTable, bucketBy = Seq("band", "key"), nBuckets = nBuckets,
      sortBy = Seq("band", "key"))
  }

  /** @param checkpointDir checkpoint location for the streaming query.
    *        This is a HARD CORRECTNESS requirement, not a tuning
    *        option: the `ingest_batch < batchId` probe and the
    *        duplicate-absorption replay story both assume batch ids
    *        increase monotonically across restarts, which only a
    *        checkpoint guarantees. Without one, a restarted query
    *        resets batchId to 0 — the probe then silently skips every
    *        previously ingested row (missed cross-run pairs) and new
    *        appends REUSE already-taken ingest_batch ids, permanently
    *        corrupting the lineage column. `None` is allowed only for
    *        single-run tests that never restart (e.g. MemoryStream
    *        specs); production callers must pass a durable path.
    */
  def nearDupIngest(stream: DataFrame, corpusTable: String, indexTable: String,
                    idCol: String, textCol: String, k: Int,
                    numHashes: Int, bands: Int, threshold: Double,
                    nBuckets: Int = 64,
                    checkpointDir: Option[String] = None)
                   (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      Pins.scoped {
        val spark: SparkSession = batch.sparkSession
        // resolve the tables INSIDE the batch so each micro-batch sees
        // the files previous batches appended (a frame captured outside
        // would pin the query start's file listing); exclude this
        // batch's own ingest_batch — a re-run after a partial append
        // must not probe its own leftovers
        val existing = spark.table(corpusTable)
          .where(F.col("ingest_batch") < batchId)
          .select(idCol, textCol)
        val banded = spark.table(indexTable)
          .where(F.col("ingest_batch") < batchId)
          .select("id", "band", "key")
        val pairs = Dedup.incrementalNearDupPairs(batch.toDF(), existing, banded,
          idCol, textCol, k, numHashes, bands, threshold)
        sink(pairs, batchId)
        // probe BEFORE append: a batch must not band-join its own index
        // rows (its self-pairs already come from the in-memory union)
        batch.select(F.col(idCol), F.col(textCol))
          .withColumn("ingest_batch", F.lit(batchId))
          .write.mode(SaveMode.Append).saveAsTable(corpusTable)
        graft.sources.Sources.writeBucketedMulti(
          Dedup.minhashBanded(batch.toDF(), idCol, textCol, k, numHashes, bands)
            .withColumn("ingest_batch", F.lit(batchId)),
          indexTable, bucketBy = Seq("band", "key"), nBuckets = nBuckets,
          sortBy = Seq("band", "key"), mode = SaveMode.Append)
      }
    }.start()
  }

  /** Bootstrap for the EXACT-dedup streaming ingest: the corpus table
    * plus its distinct-hash index table (Dedup.exactHashIndexBuild's
    * layout — hash-bucketed, `ingest_batch` lineage) from an initial
    * corpus frame (may be empty).
    */
  def exactBootstrap(initial: DataFrame, corpusTable: String,
                     indexTable: String, idCol: String, textCol: String,
                     nBuckets: Int = 64): Unit = {
    if (!initial.sparkSession.catalog.tableExists(corpusTable))
      graft.sources.Sources.deleteStaleTableLocation(initial.sparkSession, corpusTable)
    initial.select(F.col(idCol), F.col(textCol))
      .withColumn("ingest_batch", F.lit(-1L))
      .write.mode(SaveMode.Overwrite).saveAsTable(corpusTable)
    Dedup.exactHashIndexBuild(initial, textCol, indexTable, nBuckets)
  }

  /** Streaming twin of the EXACT incremental ingest
    * ([[graft.dedup.Dedup.incrementalNewIdx]]): per micro-batch, keep
    * only documents first-seen within the batch AND absent from the
    * persisted hash index (prior batches only — `ingest_batch <
    * batchId`), hand the kept rows to `sink`, then append them to the
    * corpus and their hashes to the index so the next batch sees
    * them. The per-batch cost is the batch-sized anti-join probe of
    * the in-place bucketed hash table — NEVER a corpus re-hash (the
    * watermark-free replacement for Events.streamingIncrementalNew's
    * static-corpus broadcast, whose seen-set cannot grow with the
    * stream). Same at-least-once story as [[nearDupIngest]] (lineage
    * probe, read-time duplicate absorption, idempotent sink per
    * batchId) and the same checkpoint requirement.
    */
  def exactIngest(stream: DataFrame, corpusTable: String,
                  indexTable: String, idCol: String, textCol: String,
                  nBuckets: Int = 64,
                  checkpointDir: Option[String] = None)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      Pins.scoped {
        val spark: SparkSession = batch.sparkSession
        val index = spark.table(indexTable)
          .where(F.col("ingest_batch") < batchId)
          .select("hash")
        // pinned: the kept frame feeds the sink, the corpus append, and
        // the index append — unpinned, the probe would run three times
        val kept = Pins.persist(
          Dedup.incrementalNewIdx(batch.toDF(), index, idCol, textCol))
        kept.count()
        sink(kept, batchId)
        kept.select(F.col(idCol), F.col(textCol))
          .withColumn("ingest_batch", F.lit(batchId))
          .write.mode(SaveMode.Append).saveAsTable(corpusTable)
        Dedup.exactHashIndexAppend(kept, textCol, indexTable, batchId, nBuckets)
      }
    }.start()
  }

  /** Bootstrap for the SEMANTIC streaming ingest: trains the coarse
    * quantizer ONCE on the initial corpus and freezes it (writes the
    * centroid matrix to `centroidPath`) — the defining property of an
    * online semantic index: every future batch is assigned under the
    * bootstrap centroids, because retraining would silently invalidate
    * every stored cell. The initial corpus must be NON-empty (a
    * quantizer needs training vectors); re-bootstrap offline when
    * drift warrants new centroids, rewriting the cell table with them.
    * Tables carry the same `ingest_batch` lineage as the text loop.
    */
  def semanticBootstrap(initial: DataFrame, corpusTable: String,
                        cellTable: String, centroidPath: String,
                        idCol: String, vecCol: String,
                        nCells: Int, nProbe: Int, iters: Int = 3,
                        maxTrain: Int = 100000,
                        nBuckets: Int = 16): Seq[Seq[Double]] = {
    require(initial.limit(1).count() > 0,
      "semantic bootstrap needs a non-empty initial corpus to train the quantizer")
    import graft.similarity.Ann
    val spark = initial.sparkSession
    if (!spark.catalog.tableExists(corpusTable))
      graft.sources.Sources.deleteStaleTableLocation(spark, corpusTable)
    initial.select(F.col(idCol), F.col(vecCol))
      .withColumn("ingest_batch", F.lit(-1L))
      .write.mode(SaveMode.Overwrite).saveAsTable(corpusTable)
    val cents = Ann.trainQuantizer(initial, idCol, vecCol, nCells, iters, maxTrain)
    graft.sources.Sources.writeBucketedMulti(
      Ann.semanticCellsWith(initial, idCol, vecCol, cents, nProbe)
        .withColumn("ingest_batch", F.lit(-1L)),
      cellTable, bucketBy = Seq("cell"), nBuckets = nBuckets,
      sortBy = Seq("cell"))
    Ann.writeCentroids(spark, cents, centroidPath)
    cents
  }

  /** Streaming twin of the SEMANTIC incremental ingest
    * ([[graft.similarity.Ann.semanticIngestPairs]]): per micro-batch,
    * assign the batch under the FROZEN bootstrap quantizer, probe the
    * persisted cell table (prior batches only — `ingest_batch <
    * batchId`), exact-verify, hand the cosine pairs to `sink`, then
    * append the batch's vectors and cells so the next batch sees
    * them. Same at-least-once story as [[nearDupIngest]] (lineage
    * probe, read-time duplicate absorption, idempotent sink per
    * batchId) and the same checkpoint requirement.
    */
  def semanticIngest(stream: DataFrame, corpusTable: String,
                     cellTable: String, centroidPath: String,
                     idCol: String, vecCol: String,
                     threshold: Double, nProbe: Int,
                     cellCap: Option[Long] = None,
                     nBuckets: Int = 16,
                     checkpointDir: Option[String] = None)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.similarity.Ann
    val writer = stream.writeStream
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      Pins.scoped {
        val spark: SparkSession = batch.sparkSession
        val cents = Ann.readCentroids(spark, centroidPath)
        val existing = spark.table(corpusTable)
          .where(F.col("ingest_batch") < batchId)
          .select(idCol, vecCol)
        val cells = spark.table(cellTable)
          .where(F.col("ingest_batch") < batchId)
          .select("id", "cell")
        val pairs = Ann.semanticIngestPairs(batch.toDF(), existing, cells,
          cents, idCol, vecCol, threshold, nProbe, cellCap)
        sink(pairs, batchId)
        batch.select(F.col(idCol), F.col(vecCol))
          .withColumn("ingest_batch", F.lit(batchId))
          .write.mode(SaveMode.Append).saveAsTable(corpusTable)
        graft.sources.Sources.writeBucketedMulti(
          Ann.semanticCellsWith(batch.toDF(), idCol, vecCol, cents, nProbe)
            .withColumn("ingest_batch", F.lit(batchId)),
          cellTable, bucketBy = Seq("cell"), nBuckets = nBuckets,
          sortBy = Seq("cell"), mode = SaveMode.Append)
      }
    }.start()
  }

  /** Bootstrap for the STREAMING DECONTAMINATION loop (r19; VERDICT
    * r18 #9): persist the eval/benchmark corpus's distinct shingle
    * hashes once. The index is FROZEN by definition — a benchmark
    * does not grow with the training stream — which makes this the
    * cheapest loop in the family: no state ever grows, no corpus is
    * ever re-read.
    */
  def decontaminateBootstrap(eval: DataFrame, evalIdCol: String,
                             evalTextCol: String, evalShinglesTable: String,
                             k: Int = 8): Unit = {
    if (!eval.sparkSession.catalog.tableExists(evalShinglesTable))
      graft.sources.Sources.deleteStaleTableLocation(
        eval.sparkSession, evalShinglesTable)
    Decontaminate.evalShingleIndex(eval, evalIdCol, evalTextCol, k)
      .write.mode(SaveMode.Overwrite).saveAsTable(evalShinglesTable)
  }

  /** Streaming decontamination: each micro-batch probes the broadcast
    * frozen eval index ([[decontaminateBootstrap]]) and appends its
    * contaminated-document verdicts (id, n_shared, ingest_batch) —
    * micro-batches union to EXACTLY the batch
    * [[Decontaminate.overlap]] of everything streamed (spec-gated).
    * Replay-idempotent under the at-least-once foreachBatch contract:
    * a batch whose ingest_batch already exists in the verdicts table
    * is skipped, the domainStatsIngest pattern.
    */
  def decontaminateIngest(stream: DataFrame, evalShinglesTable: String,
                          verdictsTable: String, idCol: String,
                          textCol: String, k: Int = 8,
                          checkpointDir: Option[String] = None)
                         (onBatch: Long => Unit = _ => ()): StreamingQuery = {
    val writer = stream.writeStream
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val spark: SparkSession = batch.sparkSession
      val replay = spark.catalog.tableExists(verdictsTable) &&
        !spark.table(verdictsTable)
          .where(F.col("ingest_batch") === batchId).isEmpty
      if (!replay && !batch.isEmpty) {
        Decontaminate.overlapFromShingles(batch.toDF(), idCol, textCol,
            spark.table(evalShinglesTable), k)
          .withColumn("ingest_batch", F.lit(batchId))
          .write.mode(SaveMode.Append).saveAsTable(verdictsTable)
        onBatch(batchId)
      }
    }.start()
  }
}
