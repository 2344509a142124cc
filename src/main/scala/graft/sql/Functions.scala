package graft.sql

import graft.lake.Manifest.Json
import graft.lake.Manifest.Json._

/** CREATE FUNCTION DDL (reference `src/wasm_udf/`, DDL plumbing
  * `src/context/logical.rs:226-296`): function details arrive as a JSON
  * document `{"entrypoint","language","input_types","return_type","data",
  * "volatility"}` and are persisted in the catalog.
  *
  * Languages:
  *  - `sql`: `data` is a SQL expression over `$1..$n` — registered as a
  *    native Spark SQL UDF (codegen'd, no interpretation overhead).
  *  - `wasm`: `data` is the base64-encoded module; executed by the
  *    embedded raw-numeric-ABI interpreter (graft.functions.wasm),
  *    matching the reference's I32/I64/F32/F64 surface
  *    (`src/wasm_udf/wasm.rs:243-354`).
  *  - `wasmMessagePack`: `data` is the base64-encoded module exporting
  *    `alloc`/`dealloc`/`memory` + the entrypoint; arguments are msgpack-
  *    coded into guest memory per row (reference `src/wasm_udf/wasm.rs:
  *    84-241`), widening the type surface to TEXT/BOOLEAN/DATE/TIMESTAMP/
  *    DECIMAL. Runs on the same embedded interpreter (WASI preview1 no-op
  *    stubs cover the imports Rust `wasm32-wasi` modules link).
  */
object Functions {

  case class Details(language: String, entrypoint: String, inputTypes: Seq[String],
                     returnType: String, data: String, volatility: String)

  def parse(json: String): Details = {
    val o = Json.parse(json).asInstanceOf[O].m
    def str(k: String, dflt: String = ""): String =
      o.get(k).collect { case S(s) => s }.getOrElse(dflt)
    val inputs = o.get("input_types").collect { case A(xs) => xs.collect { case S(s) => s } }
      .getOrElse(Vector.empty)
    Details(str("language", "wasm"), str("entrypoint"), inputs, str("return_type"),
      str("data"), str("volatility", "volatile"))
  }

  /** Persist a function after validating it on a throwaway clone of
    * `snapshot`, the statement's read snapshot — so a body may call engine
    * functions and functions persisted before it. A module that fails to
    * parse/validate must not be persisted, or every later statement would
    * trip over it. Later snapshots register it from the catalog. */
  def create(catalog: graft.catalog.Catalog, snapshot: org.apache.spark.sql.SparkSession,
             name: String, detailsJson: String, orReplace: Boolean): Unit = {
    val d = parse(detailsJson)
    require(d.returnType.nonEmpty, "function details need a return_type")
    require(orReplace || !catalog.functions.contains(name),
      s"function $name already exists")
    registerInto(org.apache.spark.sql.GraftSessions.cloneSession(snapshot), Map(name -> detailsJson))
    catalog.createFunction(name, detailsJson, orReplace)
  }

  /** Register `fns` (name -> details JSON) on `s`, each replacing any
    * temporary function of that name. */
  def registerInto(s: org.apache.spark.sql.SparkSession, fns: Map[String, String]): Unit =
    fns.foreach { case (n, j) =>
      org.apache.spark.sql.GraftSessions.dropFunction(s, n)
      register(s, n, parse(j))
    }

  private def register(spark: org.apache.spark.sql.SparkSession, name: String,
                       d: Details): Unit = d.language match {
    case "sql" =>
      def sqlType(t: String) = GraftContext.sqlType(t).sql
      val params = d.inputTypes.zipWithIndex
        .map { case (t, i) => s"p${i + 1} ${sqlType(t)}" }.mkString(", ")
      val body = SqlText.bindParams(d.data)(i => s"p$i")
      spark.sql(
        s"CREATE OR REPLACE TEMPORARY FUNCTION $name($params) RETURNS ${sqlType(d.returnType)} RETURN $body")
    case "wasm" =>
      // the entrypoint names the module export; defaults to the SQL name
      val entry = if (d.entrypoint.nonEmpty) d.entrypoint else name
      graft.functions.wasm.WasmUdf.register(spark, name, entry,
        d.inputTypes, d.returnType, d.data)
    case "wasmMessagePack" =>
      val entry = if (d.entrypoint.nonEmpty) d.entrypoint else name
      graft.functions.wasm.WasmMsgPackUdf.register(spark, name, entry,
        d.inputTypes, d.returnType, d.data)
    case other =>
      throw new IllegalArgumentException(s"unsupported function language: $other")
  }
}
