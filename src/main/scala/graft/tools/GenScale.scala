package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize a 10× scale-up of sf0.1 under /tmp/sf1 for the
  * compute-dominated bench leg (BASELINE.md). Ten replicas with disjoint
  * key spaces (stride 10M per key column); document text is caesar-
  * rotated per replica and embeddings are per-component perturbed so
  * replicas are textually/geometrically disjoint — a 10× corpus, not 10
  * copies (cross-replica duplicates would blow the dedup ops quadratically
  * in BOTH engines and measure pair explosion, not scale-up).
  * region/nation are dimensions and stay as-is.
  */
object GenScale {
  private val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    // optional comma-separated table subset (regenerating one table
    // after a generator fix without paying for the rest)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(src))

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String)(build: Int => DataFrame): Unit = if (wanted(t)) {
      val all = (0 until replicas).map(build).reduce(_ unionAll _)
      // file count scales with the multiplier so per-file size stays
      // bounded at 100x (and scan parallelism with it)
      all.repartition(math.max(8, replicas)).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def shift(c: String, r: Int) = col(c) + lit(r * Stride)

    // dimensions: copy untouched
    Seq("region", "nation").filter(wanted).foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    write("customer") { r => read("customer").withColumn("c_custkey", shift("c_custkey", r)) }
    write("supplier") { r => read("supplier").withColumn("s_suppkey", shift("s_suppkey", r)) }
    write("part") { r => read("part").withColumn("p_partkey", shift("p_partkey", r)) }
    write("orders") { r =>
      read("orders")
        .withColumn("o_orderkey", shift("o_orderkey", r))
        .withColumn("o_custkey", shift("o_custkey", r))
    }
    write("lineitem") { r =>
      read("lineitem")
        .withColumn("l_orderkey", shift("l_orderkey", r))
        .withColumn("l_partkey", shift("l_partkey", r))
        .withColumn("l_suppkey", shift("l_suppkey", r))
    }
    write("events") { r =>
      read("events")
        .withColumn("event_id", shift("event_id", r))
        .withColumn("user_id", shift("user_id", r))
    }
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write("documents") { r =>
      // replicas 0-25 keep the original caesar rotation (the standing
      // sf1 corpus stays byte-identical); beyond 26 the rotation RECYCLES
      // — replicas 0 and 26 produced IDENTICAL text, planting 109k
      // real duplicate groups in a 100x corpus and turning every dedup
      // probe quadratic on data the generator invented (round-20 sf10
      // probe found dd18 at 57x growth from exactly this). A seeded
      // per-replica letter PERMUTATION keeps replicas pairwise
      // textually disjoint at any multiplier (~1 expected fixed point
      // per permutation pair → negligible shingle overlap).
      val mapped =
        if (r < 26) alpha.drop(r) + alpha.take(r)
        else {
          val arr = alpha.toCharArray
          val rnd = new scala.util.Random(0x9E3779B9L * r)
          var i = arr.length - 1
          while (i > 0) {
            val j = rnd.nextInt(i + 1)
            val t = arr(i); arr(i) = arr(j); arr(j) = t
            i -= 1
          }
          new String(arr)
        }
      read("documents")
        .withColumn("doc_id", shift("doc_id", r))
        .withColumn("text", translate(col("text"), alpha, mapped))
    }
    write("embeddings") { r =>
      read("embeddings")
        .withColumn("vec_id", shift("vec_id", r))
        .withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> cast(x + 0.05 * sin((vec_id + i) * ${r + 1}) as float))"))
    }
    spark.stop()
  }
}
