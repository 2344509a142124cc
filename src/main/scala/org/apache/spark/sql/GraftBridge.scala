package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

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

/** DataFusion-dialect function-name aliases (SURVEY §2.8 compat shim):
  * queries written for the reference engine keep working unmodified.
  * Each alias re-registers the Spark builtin's own expression builder
  * under the DataFusion name — full codegen, zero UDF overhead.
  */
object GraftCompatFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

  // DataFusion name -> Spark builtin name. ONLY pairs whose semantics
  // match exactly are aliased: regexp_match (first-match vs all-matches,
  // flags vs group-index 3rd arg) and to_hex (lowercase vs uppercase)
  // were considered and rejected — a silently-different result is worse
  // than an unresolved-function error.
  private val aliases = Seq(
    "strpos" -> "instr",            // strpos(str, substr), both 1-based
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    "make_array" -> "array",
    "array_length" -> "array_size",
    "list_element" -> "element_at") // both 1-based list indexing

  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    aliases.foreach { case (dfName, sparkName) =>
      if (reg.lookupFunctionBuilder(FunctionIdentifier(dfName)).isEmpty) {
        FunctionRegistry.builtin.lookupFunctionBuilder(FunctionIdentifier(sparkName))
          .foreach(b => reg.registerFunction(FunctionIdentifier(dfName), b, "built-in"))
      }
    }
  }
}
