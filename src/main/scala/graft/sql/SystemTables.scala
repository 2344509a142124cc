package graft.sql

import java.util.OptionalLong

import graft.lake.Manifest
import org.apache.spark.sql.{GraftBridge, GraftSessions, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `system` and `information_schema` views, synthesized from the
  * catalog + manifest logs (reference `src/system_tables.rs`, golden
  * output `tests/statements/query.rs:15-63`).
  *
  * Registration is O(views) and touches no storage: every view is a
  * [[LazyView]] whose rows are computed only when a query scans it. A
  * catalog generation bump therefore costs readers the data views alone,
  * not a walk over every table's version history per snapshot.
  */
object SystemTables {

  /** A table of a snapshot with the manifest its data view is pinned to.
    * The system views answer from the same pins, so a snapshot's
    * `system.table_versions` never shows a version its data views can't
    * see, even when a commit lands between registration and the query. */
  case class Pinned(schema: String, name: String, uuid: String, manifest: Manifest.TableManifest) {
    /** The data view's name: bare for `public`, `sch__tbl` otherwise. */
    def view: String = if (schema == "public") name else s"${schema}__$name"
  }

  private def fields(cols: (String, DataType)*): StructType =
    // primitive columns are non-nullable: the layout the Seq-of-tuples
    // encoder produced before these views became lazy
    StructType(cols.map { case (n, t) =>
      StructField(n, t, nullable = !(t == LongType || t == IntegerType))
    })

  /** Register the system views of `db` into `spark` over the given pins. */
  def registerInto(ctx: GraftContext, spark: SparkSession, db: String,
                   pinned: Seq[Pinned]): Unit = {
    def view(name: String, schema: StructType)(rows: => Seq[Row]): Unit =
      GraftSessions.replaceTempView(GraftBridge.ofRows(spark,
        DataSourceV2Relation.create(new LazyView(name, schema, () => rows), None, None)), name)
    // one catalog read, shared by the views that need it, on first scan
    lazy val state = ctx.catalog.load()
    def functions: Seq[(String, String)] =
      state.functions.toSeq.map { case (n, f) => n -> f.detailsJson }.sortBy(_._1)

    // system.table_versions: one row per (table, version), up to the
    // pinned version. Reads are lock-free, so this enumeration RACES the
    // background GC sweep (GraftContext.gcSweep vacuums non-latest
    // manifests without coordinating with readers, by design): a version
    // file can vanish between listVersions and the read. Treat that as
    // "vacuumed concurrently" and skip the row — this snapshot serializes
    // after the sweep — exactly like buildSnapshot skips a manifestless
    // table. A pure SELECT must never fail on an unrelated table's
    // retention sweep.
    view("system__table_versions", fields("table_schema" -> StringType,
        "table_name" -> StringType, "table_version_id" -> LongType, "version" -> LongType,
        "creation_time" -> LongType)) {
      pinned.flatMap { p =>
        val root = ctx.catalog.tableRoot(p.uuid)
        val pin = p.manifest.version
        Manifest.listVersions(root).filter(_ <= pin).flatMap { v =>
          (if (v == pin) Some(p.manifest) else Manifest.readOpt(root, v))
            .map(m => Row(p.schema, p.name, v, v, m.timestampMs / 1000))
        }
      }
    }

    view("system__dropped_tables", fields("table_schema" -> StringType,
        "table_name" -> StringType, "uuid" -> StringType, "deletion_status" -> StringType,
        "drop_time" -> LongType)) {
      state.dropped.map(d => Row(d.schema, d.name, d.uuid, "PENDING", d.dropTimeMs / 1000))
    }

    // information_schema.tables / columns — the reference lists its own
    // information_schema views alongside base tables (golden layout
    // tests/statements/query.rs:15-31, ddl.rs:192-206)
    val infoViews = Seq("check_constraints", "columns", "df_settings", "parameters",
      "routines", "schemata", "table_constraints", "tables", "views")
    view("information_schema__tables", fields("table_catalog" -> StringType,
        "table_schema" -> StringType, "table_name" -> StringType, "table_type" -> StringType)) {
      pinned.map(p => Row(db, p.schema, p.name, "BASE TABLE")) ++
        Seq(Row(db, "system", "table_versions", "VIEW"),
          Row(db, "system", "dropped_tables", "VIEW")) ++
        infoViews.map(v => Row(db, "information_schema", v, "VIEW"))
    }

    view("information_schema__columns", fields("table_catalog" -> StringType,
        "table_schema" -> StringType, "table_name" -> StringType, "column_name" -> StringType,
        "ordinal_position" -> IntegerType, "is_nullable" -> StringType,
        "data_type" -> StringType)) {
      pinned.flatMap { p =>
        val st = DataType.fromJson(p.manifest.schemaJson).asInstanceOf[StructType]
        st.fields.toSeq.zipWithIndex.map { case (f, i) =>
          Row(db, p.schema, p.name, f.name, i + 1, if (f.nullable) "YES" else "NO", f.dataType.sql)
        }
      }
    }

    // information_schema.routines: persisted CREATE FUNCTION entries
    // (reference exposes routines/parameters for its function catalog)
    view("information_schema__routines", fields("routine_catalog" -> StringType,
        "routine_schema" -> StringType, "routine_name" -> StringType,
        "routine_type" -> StringType, "routine_definition" -> StringType)) {
      functions.map { case (n, details) => Row(db, "public", n, "FUNCTION", details) }
    }

    // information_schema.parameters: one row per routine input (IN, by
    // position) plus the result row (OUT) — the reference exposes its
    // function catalog through the standard layout
    view("information_schema__parameters", fields("specific_catalog" -> StringType,
        "specific_schema" -> StringType, "specific_name" -> StringType,
        "ordinal_position" -> LongType, "parameter_mode" -> StringType,
        "data_type" -> StringType)) {
      functions.flatMap { case (n, json) =>
        val d = Functions.parse(json)
        d.inputTypes.zipWithIndex.map { case (t, i) =>
          Row(db, "public", n, i + 1L, "IN", t.toUpperCase)
        } :+ Row(db, "public", n, 0L, "OUT", d.returnType.toUpperCase)
      }
    }

    // information_schema.schemata: catalog schemas + the synthesized ones
    view("information_schema__schemata", fields("catalog_name" -> StringType,
        "schema_name" -> StringType, "owner" -> StringType)) {
      (state.dbs.getOrElse(db, Map.empty).keys.toSeq ++ Seq("information_schema", "system"))
        .distinct.sorted.map(s => Row(db, s, null))
    }

    // information_schema.views: CREATE VIEW is rejected for parity, so
    // the relation is always empty — but present, with the standard shape
    view("information_schema__views", fields("table_catalog" -> StringType,
        "table_schema" -> StringType, "table_name" -> StringType,
        "definition" -> StringType))(Nil)

    // information_schema.df_settings analog: the session's SQL settings
    view("information_schema__df_settings", fields("name" -> StringType, "value" -> StringType)) {
      spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }

    // information_schema.table_constraints + check_constraints: the
    // standard two-view layout over the lake tables' CHECK constraints
    def constraints: Seq[(String, String, String, String)] = pinned.flatMap { p =>
      // tolerate the table vanishing under us (drop + gc in another
      // process after the snapshot pinned it), same rationale as the
      // version walk above
      val cs = try new graft.lake.GraftTable(spark, ctx.catalog.tableRoot(p.uuid)).constraints
        catch { case _: java.io.FileNotFoundException => Nil }
      cs.map { case (cn, ce) => (p.schema, p.name, cn, ce) }
    }
    view("information_schema__table_constraints", fields("constraint_catalog" -> StringType,
        "constraint_schema" -> StringType, "constraint_name" -> StringType,
        "table_catalog" -> StringType, "table_schema" -> StringType,
        "table_name" -> StringType, "constraint_type" -> StringType)) {
      constraints.map { case (sch, name, cn, _) => Row(db, sch, cn, db, sch, name, "CHECK") }
    }
    view("information_schema__check_constraints", fields("constraint_catalog" -> StringType,
        "constraint_schema" -> StringType, "constraint_name" -> StringType,
        "check_clause" -> StringType)) {
      constraints.map { case (sch, _, cn, ce) => Row(db, sch, cn, ce) }
    }
  }

  /** A read-only DSv2 table whose scan is a `LocalScan`: Spark asks for
    * its rows while planning a query that reads it (and never otherwise),
    * and serves them from a local table scan. Each planned query gets a
    * fresh scan, so the rows are computed at most once per query. */
  private final class LazyView(viewName: String, sch: StructType, compute: () => Seq[Row])
      extends Table with SupportsRead {
    override def name(): String = viewName
    override def schema(): StructType = sch
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan with SupportsReportStatistics {
        private lazy val rowsOnce: Array[InternalRow] = {
          val toCatalyst = CatalystTypeConverters.createToCatalystConverter(sch)
          compute().map(r => toCatalyst(r).asInstanceOf[InternalRow]).toArray
        }
        override def readSchema(): StructType = sch
        override def rows(): Array[InternalRow] = rowsOnce
        // sized like a LocalRelation of the same rows, so joins between
        // system views keep planning as broadcasts
        override def estimateStatistics(): Statistics = new Statistics {
          override def sizeInBytes(): OptionalLong =
            OptionalLong.of((8L + sch.defaultSize) * rowsOnce.length)
          override def numRows(): OptionalLong = OptionalLong.of(rowsOnce.length.toLong)
        }
      }
  }
}
