package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Declarative spellings of native operators: the semantic references
  * OpsSpec pins the native expressions against. */
object DeclarativeTwins {

  /** `Embeddings.quantize` as a `transform` lambda over `round`. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast(DoubleType) * 1000000.0).cast(LongType))

  /** `Bpe.encodeWith` as a per-word `transform` lambda replaying the
    * merges with `replace`. */
  def bpeEncodeWith(docs: DataFrame, textCol: String, idCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 64, s"merge table too large: ${merges.size} (model, not data)")
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    def enc(w: Column): Column = {
      val seq0 = concat(lit(" "), regexp_replace(w, "(.)", "$1 "))
      val merged = merges.foldLeft(seq0) { case (s, (a, b)) =>
        // lit() arguments: merge symbols containing quotes/backslashes
        // pass through unescaped, exactly as in train()
        call_function("replace", s, lit(s" $a $b "), lit(s" $a$b "))
      }
      trim(merged)
    }
    docs.select(col(idCol).as("doc_id"),
        array_join(transform(words, enc(_)), " ").as("tokens"))
      .withColumn("n_tokens",
        when(col("tokens") === "", lit(0L))
          .otherwise(size(split(col("tokens"), " ")).cast("long")))
  }
}
