package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-agnostic table IO.
  *
  * Readers accept an EXPECTED schema: for self-describing formats
  * (parquet) it is validated after load; for schemaless text formats
  * (csv/json) it is imposed, which keeps ingestion deterministic and
  * avoids the double-scan of schema inference — at 100 TB, inference
  * IS a full extra pass over the data.
  */
object Sources {

  def read(spark: SparkSession, path: String, format: String,
           schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.format(format)
    val df = (schema, format) match {
      case (Some(s), "parquet" | "orc") =>
        // self-describing columnar formats: VALIDATE the stored schema
        // instead of imposing one (an imposed schema would silently
        // cast; a drifted table should fail loudly)
        val got = base.load(path)
        val want = s.fields.map(f => f.name -> f.dataType).toMap
        val mismatched = got.schema.fields.filter(f =>
          want.get(f.name).exists(_ != f.dataType))
        require(mismatched.isEmpty,
          s"schema mismatch at $path: ${mismatched.map(_.name).mkString(", ")}")
        got
      case (Some(s), "csv") => base.schema(s).option("header", "true").load(path)
      case (Some(s), _) => base.schema(s).load(path)
      case (None, "csv") => base.option("header", "true").option("inferSchema", "true").load(path)
      case (None, _) => base.load(path)
    }
    df
  }

  /** Partitioned columnar write — the shape every 100 TB sink takes:
    * directory-partitioned by low-cardinality columns (enables
    * partition pruning for downstream readers), optional bucketing by
    * a high-cardinality key (enables shuffle-free joins downstream —
    * bucketed tables need saveAsTable/metastore, so it is exposed but
    * separate).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionBy: Seq[String] = Nil,
                       format: String = "parquet",
                       mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.format(format).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Bucketed managed-table write for co-located downstream joins.
    * The bucket columns should cover the FULL
    * downstream join key — Spark's co-partition check requires all
    * cluster keys by default (spark.sql.requireAllClusterKeysForCoPartition),
    * so a subset-bucketed table still shuffles.
    */
  def writeBucketedMulti(df: DataFrame, table: String, bucketBy: Seq[String],
                         nBuckets: Int, sortBy: Seq[String] = Nil,
                         mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketBy.nonEmpty, "need at least one bucket column")
    // saveAsTable refuses a warehouse LOCATION left behind by a
    // previous JVM whose in-memory catalog entry is gone (an unclean
    // shutdown mid-pipeline). An Overwrite caller has already declared
    // the table's contents replaceable, so clear the stale directory —
    // but ONLY when the catalog has no entry (a cataloged table goes
    // through saveAsTable's own overwrite path, and Append must never
    // delete anything).
    if (mode == SaveMode.Overwrite && !df.sparkSession.catalog.tableExists(table))
      deleteStaleTableLocation(df.sparkSession, table)
    // cluster by the bucket key before the write (r20, guide §6): a
    // bucketed write emits one file PER (input split × bucket) — an
    // n-split input leaves n files in every bucket, and every bucketed
    // read then pays n per-file opens per bucket. The exchange is
    // ALIGNED to the bucket spec (r21): repartition(nBuckets, cols)
    // uses the same Murmur3 hash modulo the same count as bucketBy, so
    // each output task holds exactly ONE bucket — one file per bucket,
    // any sortBy total within it, and Spark keeps the bucket-sorted
    // read optimization (it drops it when a bucket spans files). An
    // unaligned count (the session's shuffle.partitions) only lines up
    // when nBuckets divides it — otherwise one bucket's rows scatter
    // over partitions/gcd(partitions, nBuckets) tasks and files.
    import org.apache.spark.sql.{functions => F}
    val clustered = df.repartition(nBuckets, bucketBy.map(F.col): _*)
    val w = clustered.write.format("parquet").mode(mode)
      .bucketBy(nBuckets, bucketBy.head, bucketBy.tail: _*)
    (if (sortBy.nonEmpty) w.sortBy(sortBy.head, sortBy.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Delete the default-database warehouse location of `table` if it
    * exists — through the Hadoop FileSystem API, so it works for ANY
    * warehouse scheme (local file:, HDFS, object stores), not just
    * local paths. Managed-table locations are lowercase under the
    * warehouse dir for the default database.
    */
  def deleteStaleTableLocation(spark: org.apache.spark.sql.SparkSession,
                               table: String): Unit = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
  }

  /** Morton/Z-order value of two non-negative integer columns: the
    * low `bits` of each interleave (a's bit i → position 2i, b's →
    * 2i+1), so lexicographic order on the z-value is a space-filling
    * curve over the (a, b) plane — rows close in BOTH dimensions land
    * close in the sort (Morton '66; the multi-dimensional clustering
    * trick behind Delta/Iceberg OPTIMIZE ZORDER). Pure bit arithmetic
    * (one codegen'd expression, no UDF), replayable in any engine.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, "bits in [1,31]")
    import org.apache.spark.sql.{functions => F}
    (0 until bits).map { i =>
      (F.shiftrightunsigned(a.cast("long"), i).bitwiseAND(F.lit(1L)) * F.lit(1L << (2 * i))) +
        (F.shiftrightunsigned(b.cast("long"), i).bitwiseAND(F.lit(1L)) * F.lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Write `df` clustered on the z-order curve of (colA, colB): a
    * range-repartition + within-partition sort on the z-value, so
    * every output file covers a tight rectangle of BOTH dimensions —
    * min/max footer stats then let a reader skip files for predicates
    * on EITHER column, where a linear sort only serves its leading
    * column. `parts` bounds the file count (one file per partition).
    * The locality claim is spec-asserted: per-file value ranges of
    * the SECOND dimension shrink by orders of magnitude vs a
    * single-column sort.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    parts: Int, bits: Int = 16,
                    format: String = "parquet"): Unit = {
    import org.apache.spark.sql.{functions => F}
    require(parts >= 1, "at least one output partition")
    df.withColumn("__z", zValue(F.col(colA), F.col(colB), bits))
      .repartitionByRange(parts, F.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.format(format).mode(SaveMode.Overwrite).save(path)
  }

  /** Parse a JSON string column into a typed struct with an EXPLICIT
    * DDL schema — the semi-structured sidecar pattern (event props,
    * per-doc metadata riding next to the payload). No inference: at
    * 100 TB, sampling-based schema inference is an extra read of the
    * corpus, and a schema drift mid-dataset would silently change the
    * inferred type. Malformed rows yield null fields (Spark's
    * PERMISSIVE default), keeping ingestion total — filter on
    * `as IS NULL` to quarantine them.
    */
  /** Small-file COMPACTION — the operational pass a long-running
    * ingest leaves behind: streaming sinks and per-batch appends
    * accumulate thousands of tiny files, and at 100 TB the per-file
    * open/footer overhead (plus NameNode/listing pressure) dominates
    * scan time. Rewrites the table at `path` into
    * ceil(totalBytes / targetFileBytes) files (floor 1) sized by the
    * ACTUAL on-disk bytes, not a guessed partition count. Returns
    * (filesBefore, filesAfter, totalBytes). The rewrite goes to
    * `outPath` — compaction must never overwrite its own input
    * mid-job (a failed overwrite-in-place loses the table).
    */
  def compact(spark: SparkSession, path: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              format: String = "parquet"): (Long, Long, Long) = {
    require(targetFileBytes > 0, "targetFileBytes > 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val inP = new org.apache.hadoop.fs.Path(path)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val fs = inP.getFileSystem(conf)
    val outFs = outP.getFileSystem(conf)
    // in-place guard on QUALIFIED paths: raw string equality lets
    // equivalent spellings through ('/a/b' vs '/a/b/' vs 'file:/a/b')
    // and a failed overwrite-in-place loses the table
    require(fs.makeQualified(inP) != outFs.makeQualified(outP),
      "compaction must not overwrite its input in place")
    def dataFiles(fsx: org.apache.hadoop.fs.FileSystem, p: String) = {
      val it = fsx.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) buf += f
      }
      buf.toSeq
    }
    val before = dataFiles(fs, path)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    spark.read.format(format).load(path)
      .repartition(nOut.toInt)
      .write.format(format).mode(SaveMode.Overwrite).save(outPath)
    (before.size.toLong, dataFiles(outFs, outPath).size.toLong, totalBytes)
  }

  /** [[compact]] for a PARTITIONED table (e.g. the cell-partitioned
    * ANN codes dir that ivfpqIndexAppend grows by one small file per
    * batch — `Ann.indexReport`'s n_batches is the signal): the plain
    * compact would flatten the layout and the probed-cell
    * PartitionFilters would stop pruning files. This rewrite keeps
    * `partitionBy(partitionCols)` and clusters rows by the partition
    * key, so each partition directory collapses to ~1 file and
    * partition pruning survives (spec-asserted). Same accounting and
    * never-in-place guard as [[compact]].
    */
  def compactPartitioned(spark: SparkSession, path: String, outPath: String,
                         partitionCols: Seq[String],
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         format: String = "parquet"): (Long, Long, Long) = {
    require(partitionCols.nonEmpty, "at least one partition column")
    require(targetFileBytes > 0, "targetFileBytes > 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val inP = new org.apache.hadoop.fs.Path(path)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val fs = inP.getFileSystem(conf)
    val outFs = outP.getFileSystem(conf)
    require(fs.makeQualified(inP) != outFs.makeQualified(outP),
      "compaction must not overwrite its input in place")
    def dataFiles(fsx: org.apache.hadoop.fs.FileSystem, p: String) = {
      val it = fsx.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) buf += f
      }
      buf.toSeq
    }
    val before = dataFiles(fs, path)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    import org.apache.spark.sql.{functions => F}
    spark.read.format(format).load(path)
      .repartition(nOut.toInt, partitionCols.map(F.col): _*)
      .write.format(format).partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite).save(outPath)
    (before.size.toLong, dataFiles(outFs, outPath).size.toLong, totalBytes)
  }

  def parseJsonColumn(df: DataFrame, column: String, ddl: String,
                      as: String = "parsed"): DataFrame =
    df.withColumn(as,
      org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col(column), StructType.fromDDL(ddl)))

  /** Schema-evolution-tolerant parquet read: a long-lived table whose
    * writers ADDED columns over time reads as the UNION schema
    * (mergeSchema — Spark reconciles the per-file footers; rows from
    * files predating a column get null there). Strictly widening
    * evolution only: a column whose TYPE differs across files is a
    * broken table, and this read fails loudly rather than silently
    * casting (same policy as [[read]]'s validation arm).
    *
    * Scale note: footer merging touches every file's metadata —
    * Spark distributes it, and a daily-compacted table (see
    * [[compact]]) keeps the file count bounded anyway.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Schema drift report between two snapshots of a table: one row
    * per (column, change) with change ∈ added / removed / retyped —
    * the audit a pipeline runs before promoting a new upstream drop
    * (the schema-matching story of SURVEY §A applied to VERSIONS of
    * the same table rather than across tables). Driver-side metadata
    * only — no data is read.
    */
  def schemaDrift(old: DataFrame, nu: DataFrame): Seq[(String, String, String, String)] = {
    val o = old.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val n = nu.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val added = (n.keySet -- o.keySet).toSeq.sorted
      .map(c => (c, "added", "", n(c)))
    val removed = (o.keySet -- n.keySet).toSeq.sorted
      .map(c => (c, "removed", o(c), ""))
    val retyped = (o.keySet & n.keySet).toSeq.sorted
      .filter(c => o(c) != n(c))
      .map(c => (c, "retyped", o(c), n(c)))
    added ++ removed ++ retyped
  }
}
