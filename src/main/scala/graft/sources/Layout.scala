package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Physical-layout utilities, all absent from the reference
  * (single-process pandas has no layout):
  *
  *  - Bucketed tables: facts bucketed on the join key join WITHOUT any
  *    exchange — at 1000 executors the repeated clinical⋈mutation joins
  *    (SURVEY §2.3) pay the shuffle once at write time, then never again.
  *  - The input-width guard ([[spread]]) and small-file compaction
  *    ([[compact]]).
  */
object Layout {

  /** Round-robin spread of a frame to the session's default parallelism
    * when its current plan would execute on fewer than half that many
    * tasks — the SINGLE-ROW-GROUP-INPUT guard (optimization r14).
    *
    * Why it exists: a parquet file is splittable only at row-group
    * boundaries, and a generator that writes one big row group per file
    * pins every scan of that file — and every operator whole-stage-
    * pipelined into the scan (seeding projections, tokenize+explode,
    * fused rule aggregates) — to ONE task regardless of cluster size
    * (measured: the v18 durable-MAF build, and the fused 37-rule pass
    * reading it back, ran 1 task on 32 cores at sf0.1). Durable-index
    * BUILDS route through this before writing, so (a) the expensive
    * derivation runs wide and (b) the index lands as ~parallelism files
    * whose readback splits properly.
    *
    * Scale behavior: the guard is the partition-count check, not a
    * constant — a production table with hundreds of splits passes
    * through untouched (no exchange in the plan); only a degenerate
    * under-split input pays one exchange, which is exactly the
    * "repartition immediately after the read" remedy the input-skew
    * playbook prescribes (guide §2.5). Round-robin keeps content
    * deterministic per input (sort-before-repartition is on by
    * default); downstream results are partitioning-independent.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Gate on the ACTUAL splittable width, not the planned partition
    // count (r15, advisor note): parquet splits only at row-group
    // boundaries, so a large single-row-group file yields many planned
    // byte-splits (>= target/2 — the old gate then SKIPPED the spread)
    // while only one task ever reads data. Probing the footers also
    // avoids the old `.rdd` call, which under AQE materializes upstream
    // query stages (executing a build twice). Non-scan-rooted frames
    // pass through unchanged — spread() is an input-layout remedy and
    // must be fed scan-rooted plans (both call sites are).
    scanSplitWidth(df) match {
      case Some(width) if width * 2 <= target => df.repartition(target)
      case _ => df
    }
  }

  /** Effective splittable width of a frame rooted at ONE parquet
    * relation: the total row-group count across its files (each row
    * group is the smallest schedulable read unit). Footers are only
    * probed when the file count alone is below the caller's threshold
    * of interest; with > 64 files the scan is wide regardless of
    * row-group layout. None when the plan is not a single-parquet-scan
    * tree (no byte estimate exists without executing it).
    */
  private[graft] def scanSplitWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }
    rels match {
      case Seq(fs: HadoopFsRelation) =>
        val files = fs.location.inputFiles
        if (files.length > 64) Some(files.length)
        else {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          val groups = files.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRowGroups.size finally r.close()
          }.sum
          Some(math.max(1, groups))
        }
      case _ => None
    }
  }

  /** Save as a bucketed (and optionally sort-within-bucket) parquet table
    * in `db`. Both sides of a join bucketed on the join key with the same
    * bucket count plan a SortMergeJoin with NO ShuffleExchange.
    */
  def writeBucketed(df: DataFrame, db: String, table: String, buckets: Int,
                    keys: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    // Pre-shuffle rows into their bucket so each bucket is ONE file.
    // Without this every input task writes a file per bucket it touches —
    // tasks × buckets small files, the classic bucketed-write explosion.
    val bucketed = df.repartition(buckets, keys.map(df.col): _*)
    var w: DataFrameWriter[Row] = bucketed.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(s"$db.$table")
  }

  /** Create (once) a database rooted at an explicit location — keeps test
    * and bench warehouses out of the working directory.
    */
  def ensureDb(spark: SparkSession, db: String, location: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$location'")

  /** Small-file compaction: rewrite a parquet directory into
    * `ceil(totalBytes / targetBytes)` files. Long-running ingest (and
    * every streaming sink) accretes small files until listing and task
    * scheduling dominate query time — compaction is the standing
    * maintenance op of a 100 TB lake. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles() = fs.listStatus(p).filter(s =>
      s.isFile && !s.getPath.getName.startsWith("_"))
    val before = dataFiles()
    val total = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp")
    spark.read.parquet(dir).repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    // Never a window where the only copy is gone: move the original aside,
    // promote the rewrite, and delete the old copy last — a crash between
    // steps leaves the data at either the target or `__compact_old`. Both
    // renames are within one parent dir, so no cross-filesystem surprises.
    val old = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    fs.delete(old, true) // clear any leftover from a previous failed run
    require(fs.rename(p, old), s"compact: rename $p -> $old failed")
    require(fs.rename(tmp, p),
      s"compact: rename $tmp -> $p failed; original preserved at $old")
    fs.delete(old, true)
    (before.length, dataFiles().length)
  }
}
