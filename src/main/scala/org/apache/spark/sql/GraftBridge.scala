package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Column ⇄ Expression bridge. Spark 4 made `new Column(expr)` private to
  * the sql package (columns are plan-node-based in the unified API); the
  * supported conversion lives in `classic.ExpressionUtils`, which is
  * `private[sql]` — this shim re-exports it for graft's custom Catalyst
  * expressions (the standard extension-library technique).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** DataFrame construction over a custom FileIndex (manifest-backed scans).
  * HadoopFsRelation/LogicalRelation/Dataset.ofRows live behind package-
  * private seams in Spark 4; this shim assembles the standard
  * "external lakehouse table" relation exactly the way delta-spark does.
  */
object GraftRelations {
  import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.types.StructType

  /** A graft scan reads a PINNED snapshot whose manifest enumerates the
    * exact file set — a file missing at execution can only mean the
    * version was destroyed underneath the reader (VACUUM won the race).
    * The contract is LOUD failure, never silent partial rows, so the
    * lenient flags are pinned off per-relation: FileSourceOptions reads
    * relation options before the session conf, making the contract hold
    * even when a user sets spark.sql.files.ignoreMissingFiles=true
    * globally for their non-graft scans (LakeSpec races a pinned reader
    * against VACUUM to hold this). */
  private val strictScanOptions = Map(
    "ignoreMissingFiles" -> "false",
    "ignoreCorruptFiles" -> "false")

  def parquetScan(spark: SparkSession, index: FileIndex, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rel = HadoopFsRelation(index, StructType(Nil), schema, None,
      new ParquetFileFormat, strictScanOptions)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming = false))
  }

  /** Every FileIndex behind a file-source relation in the ANALYZED plan —
    * analysis expands temp views, so this sees through them to the actual
    * pinned scans. Input to the plan-based ETag (the analog of the
    * reference's ETagBuilderVisitor walking the logical plan,
    * `src/frontend/http.rs:63-105`). Runs no job: analysis only. */
  def fileIndexes(df: DataFrame): Seq[FileIndex] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Some(h.location)
        case _ => None
      }
    }.flatten
}

/** A parquet write with caller-supplied write-job stats trackers — what
  * `df.write` cannot take (its command wires only Spark's own basic
  * tracker). `FileFormatWriter.write` is the call the write command makes;
  * delta-spark makes the same one for its per-file statistics. */
object GraftWrites {
  import org.apache.spark.internal.io.FileCommitProtocol
  import org.apache.spark.sql.execution.SQLExecution
  import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

  /** Write `df`'s rows as parquet files under the new directory `path`
    * (one write job; options as `df.write.option`), feeding every row to
    * `trackers`. Each tracker has seen every file once this returns. */
  def parquet(df: DataFrame, path: String, options: Map[String, String],
              trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = FileCommitProtocol.instantiate(
          spark.sessionState.conf.fileCommitProtocolClass,
          jobId = java.util.UUID.randomUUID().toString,
          outputPath = path),
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf = spark.sessionState.newHadoopConfWithOptions(options),
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = trackers,
        options = options)
    }
  }
}

/** Arrow IPC result encoding for the serving tier — the wire format the
  * reference's Arrow Flight (SQL) frontend speaks (`src/frontend/flight/`;
  * gRPC itself is offline-impossible here, so the IPC stream rides HTTP
  * content negotiation instead). Built on Spark's own arrow bridge
  * (`ArrowWriter`/`ArrowUtils`, both `private[sql]` — hence this shim)
  * and the classpath arrow-vector: the response is one standard Arrow
  * IPC stream (schema message + record batches) that pyarrow /
  * arrow-js / ADBC clients read natively. Rows stream through
  * `executeToIterator` (partition-at-a-time, like the JSON-lines path)
  * and flush every `maxRecordsPerBatch` rows, so the server never holds
  * the full result.
  */
object GraftArrow {
  import org.apache.arrow.vector.VectorSchemaRoot
  import org.apache.arrow.vector.ipc.ArrowStreamWriter
  import org.apache.spark.sql.execution.arrow.ArrowWriter
  import org.apache.spark.sql.util.ArrowUtils

  def writeIpcStream(df: DataFrame, out: java.io.OutputStream,
                     maxRecordsPerBatch: Int = 65536): Long = {
    val cs = df.asInstanceOf[classic.Dataset[Row]]
    val timeZone = cs.sparkSession.sessionState.conf.sessionLocalTimeZone
    val arrowSchema = ArrowUtils.toArrowSchema(df.schema, timeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val allocator = ArrowUtils.rootAllocator
      .newChildAllocator(s"graft-ipc-${System.nanoTime()}", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    try {
      val writer = new ArrowStreamWriter(root, null,
        java.nio.channels.Channels.newChannel(out))
      val aw = ArrowWriter.create(root)
      writer.start()
      val it = cs.queryExecution.executedPlan.executeToIterator()
      var n = 0L
      var inBatch = 0
      while (it.hasNext) {
        aw.write(it.next()); n += 1; inBatch += 1
        if (inBatch >= maxRecordsPerBatch) {
          aw.finish(); writer.writeBatch(); aw.reset(); inBatch = 0
        }
      }
      // empty results still carry the schema (one empty batch)
      if (inBatch > 0 || n == 0) { aw.finish(); writer.writeBatch() }
      writer.end()
      n
    } finally { root.close(); allocator.close() }
  }

  /** Decode an Arrow IPC stream FILE into a DataFrame WITHOUT holding
    * the whole payload's rows on the heap: record batches stream through
    * a ColumnarBatch row view into chunked parquet part files under
    * `spillDir`, and the returned frame is a plain scan of those parts —
    * so N concurrent capped uploads cost N×chunk of heap, not N×payload.
    * The upload endpoint's ingest half of the Flight do_put parity story
    * (reference `src/frontend/flight/handler.rs:136-237`). */
  def ipcFileToDataFrame(spark: SparkSession, path: String, spillDir: String,
                         chunkRows: Int = 65536): DataFrame = {
    import scala.jdk.CollectionConverters._
    val allocator = org.apache.spark.sql.util.ArrowUtils.rootAllocator
      .newChildAllocator(s"graft-ipc-in-${System.nanoTime()}", 0, Long.MaxValue)
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val schema = org.apache.spark.sql.util.ArrowUtils.fromArrowSchema(root.getSchema)
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      val buf = new scala.collection.mutable.ArrayBuffer[Row]()
      def flush(): Unit = if (buf.nonEmpty) {
        spark.createDataFrame(buf.toList.asJava, schema)
          .write.mode("append").parquet(spillDir)
        buf.clear()
      }
      var any = false
      while (reader.loadNextBatch()) {
        any = true
        val cols = (0 until root.getFieldVectors.size()).map(i =>
          new org.apache.spark.sql.vectorized.ArrowColumnVector(root.getVector(i))
            : org.apache.spark.sql.vectorized.ColumnVector).toArray
        val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(cols, root.getRowCount)
        batch.rowIterator().asScala.foreach { ir =>
          buf += conv(ir).asInstanceOf[Row]
          if (buf.size >= chunkRows) flush()
        }
      }
      flush()
      if (!any || new java.io.File(spillDir).listFiles() == null ||
          !new java.io.File(spillDir).listFiles().exists(_.getName.endsWith(".parquet")))
        spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).parquet(spillDir)
    } finally { reader.close(); in.close(); allocator.close() }
  }

  /** Decode one Arrow IPC stream into a DataFrame — the ingest half of
    * the Flight parity story for SMALL payloads (the CDC sync channel,
    * whose batches are bounded by the buffered-writer flush thresholds):
    * schema comes from the stream itself, rows land driver-side. */
  def readIpcStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val (iter, schema) =
      org.apache.spark.sql.execution.arrow.ArrowConverters.fromIPCStream(bytes)
    try {
      import scala.jdk.CollectionConverters._
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      val rows = iter.map(r => conv(r).asInstanceOf[Row]).toList
      spark.createDataFrame(rows.asJava, schema)
    } finally iter.close()
  }
}

/** Session cloning for the concurrent read path. `cloneSession` copies the
  * whole SessionState (SQL conf, function registry incl. graft extensions
  * and persisted SQL UDFs, temp views) while sharing the SparkContext and
  * data cache — the standard way to give each request an isolated catalog
  * view without re-paying driver startup.
  */
object GraftSessions {
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Register `fn` unless the session already resolves `id` (a builtin,
    * an extension-injected function, or an earlier registration). */
  def ensureFunction(s: SparkSession, id: FunctionIdentifier, info: ExpressionInfo,
                     fn: Seq[Expression] => Expression): Unit = {
    val reg = s.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    if (!reg.functionExists(id)) reg.registerFunction(id, info, fn)
  }

  /** Drop a session-local function (no-op when absent). */
  def dropFunction(s: SparkSession, name: String): Unit =
    s.asInstanceOf[classic.SparkSession].sessionState.catalog
      .dropTempFunction(name, ignoreIfNotExists = true)

  /** Block until every listener has seen every event posted so far. */
  def drainListeners(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop every local temp view (the clone must expose exactly the target
    * database's tables, not whatever the parent had registered). */
  def clearTempViews(s: SparkSession): Unit =
    s.asInstanceOf[classic.SparkSession].sessionState.catalog.clearTempTables()

  /** `df.createOrReplaceTempView(name)` without the command pipeline: the
    * same temporary-view relation `CREATE OR REPLACE TEMP VIEW` builds from
    * the already-analyzed plan, put straight into the session catalog.
    * Skipping the command's own analysis, optimization, planning and SQL
    * execution events saves a few ms per view — which a snapshot rebuild
    * pays once for every table and system view. */
  def replaceTempView(df: DataFrame, name: String): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val catalog = ds.sparkSession.sessionState.catalog
    val plan = ds.queryExecution.analyzed
    val view = org.apache.spark.sql.execution.command.ViewHelper.createTemporaryViewRelation(
      org.apache.spark.sql.catalyst.TableIdentifier(name), ds.sparkSession, replace = true,
      catalog.getRawTempView, originalText = None, plan, plan, Nil)
    catalog.createTempView(name, view, overrideIfExists = true)
  }
}
