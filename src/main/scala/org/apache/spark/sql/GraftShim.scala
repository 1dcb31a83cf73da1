package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the classic Column ↔ Expression converters, which are
  * `private[sql]` in Spark 4 (the Connect refactor hid them). Needed so
  * graft's native Catalyst expressions (graft.functions.*) can be exposed
  * as Columns without going through the string `expr()` parser.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `SparkSession.sessionUUID` is `private[sql]` in Spark 4; graft keys
    * its per-session caches on it (stable id, no strong session reference).
    */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Blocks until every queued listener event is delivered, so a job or
    * stage listener has seen the end of everything already run
    * (`SparkContext.listenerBus` is `private[spark]`).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Spark's standard WRONG_NUM_ARGS analysis error — the builder-side
    * arity refusal (`QueryCompilationErrors` is `private[sql]`).
    */
  def wrongNumArgs(fn: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(fn, Seq(expected), actual)

  /** ONE partitioned parquet relation over an EXPLICIT file list that may
    * span multiple root directories — the multi-root read a mutated index
    * clone needs (graft.pipeline.CellsLayout: a clone's manifest
    * references the source's files until its own mutations write local
    * ones). `spark.read.option("basePath", …)` accepts exactly one base,
    * so partition values are supplied directly as a user
    * [[execution.datasources.PartitionSpec]] (parsed from the manifest's
    * relative paths by the caller) and the listing is restricted to the
    * named files via InMemoryFileIndex's explicit-paths constructor. The
    * result is an ordinary partitioned HadoopFsRelation: static partition
    * pruning AND dynamic partition pruning apply exactly as they do to a
    * directory-resolved scan (plan-asserted in PipelineSpec).
    *
    * `partitionDirs` maps each leaf partition directory (absolute) to its
    * partition-column values; every file's parent must appear in it. The
    * file-count guard below turns a path-qualification mismatch (which
    * would otherwise serve an EMPTY scan — the worst failure shape) into
    * a loud error.
    */
  def partitionedParquetDF(
      spark: SparkSession,
      partCols: Seq[String],
      partitionDirs: Seq[(Seq[Int], String)],
      files: Seq[String],
      dataSchema: types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val cs = spark.asInstanceOf[classic.SparkSession]
    val hconf = cs.sparkContext.hadoopConfiguration
    val partSchema = types.StructType(partCols.map(c =>
      types.StructField(c, types.IntegerType, nullable = true)))
    val parts = partitionDirs.map { case (vals, d) =>
      val p = new org.apache.hadoop.fs.Path(d)
      val q = p.getFileSystem(hconf).makeQualified(p)
      PartitionPath(
        catalyst.InternalRow.fromSeq(vals), q)
    }
    val index = new InMemoryFileIndex(cs,
      files.map(f => new org.apache.hadoop.fs.Path(f)),
      Map.empty, None, FileStatusCache.getOrCreate(cs),
      Some(PartitionSpec(partSchema, parts)), None)
    val rel = HadoopFsRelation(index, partSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat,
      Map.empty)(cs)
    val df = cs.baseRelationToDataFrame(rel)
    val matched = df.inputFiles.length
    require(matched == files.size,
      s"file-list relation matched $matched of ${files.size} files — " +
        "partition-dir qualification mismatch; refusing to serve a " +
        "silently truncated scan")
    df
  }
}
