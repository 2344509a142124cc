package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cheap extraction of `$.k` from events.props.
  *
  * The generator writes props as exactly `{"k": N}` (single key, one
  * space, no escapes — OpsSpec pins this row-for-row against
  * get_json_object at every test SF). `get_json_object` spins up a
  * Jackson parse PER ROW (~µs) — measured as a third of the gr family's
  * edge-derivation stage, paid by every gr/ev item query over 100% of
  * event rows. The fixed-layout substring is one codegen'd byte slice;
  * any other layout takes the JSON path, so the value is
  * get_json_object's on every input.
  *
  * JSON-SURFACE queries (q27_json_funcs, f2's json probes) deliberately
  * keep the real JSON path functions — this helper is for compute
  * pipelines where the value, not the JSON semantics, is the query.
  */
object EventProps {
  /** `CAST(props->>'k' AS BIGINT)`. A value shaped `{"k": <int>}` is
    * sliced: substring(props, 7, length-7) drops `{"k": ` and the
    * trailing `}`, and a try-cast keeps only an integer there. Any other
    * shape (no space, more keys, reordered keys) yields NULL on the fast
    * path and falls back to get_json_object; NULL props stay NULL. No
    * regex: gr1 and ev1 run this on every event row. */
  def propsK(props: Column): Column = {
    val sliced = when(props.startsWith("{\"k\": ") && props.endsWith("}"),
      props.substr(lit(7), length(props) - 7).try_cast(LongType))
    coalesce(sliced, get_json_object(props, "$.k").cast(LongType))
  }
}
