package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The `analytics` workload: one op is one pass over four multi-job
  * gates, each forced the way `graft.Bench` forces a gate (xxhash64 over
  * every output column, then `bit_xor`). */
final class Analytics(spark: SparkSession, inputs: Path, work: Path,
                      tr: Tracer) {
  import Analytics._

  /** Set-up: type the generated CSV tables and write them as parquet,
    * the layout `SparkEntry.queries` reads (`<dir>/<table>.parquet`). */
  val dataDir: String = {
    val dir = work.resolve("tables").toString
    Schemas.foreach { case (name, schema) =>
      spark.read.schema(schema).csv(inputs.resolve(s"$name.csv").toString)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** Set-up check: the rows written per table match the generator's
    * counts. */
  locally {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val want = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
      inputs.resolve("counts.json"))).extract[Map[String, Long]]
    Schemas.keys.foreach { t =>
      val n = spark.read.parquet(s"$dataDir/$t.parquet").count()
      Check(want.get(t).contains(n), s"$t: wrote $n rows, generated ${want.get(t)}")
    }
  }

  /** gate -> (rows, digest) of the first pass; every later pass must
    * agree (the gates are deterministic). */
  private val reference = scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  def pass(): Map[String, Double] = {
    Gates.foreach { g =>
      val (rows, digest) = tr.span(s"gate.$g", forced = true) {
        val tag = SparkCounters.GateTag + g
        spark.sparkContext.addJobTag(tag)
        try {
          val df = SparkEntry.queries(g)(spark, dataDir)
          val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
            .agg(count(lit(1)), expr("bit_xor(__h)")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        } finally spark.sparkContext.removeJobTag(tag)
      }
      Check(rows > 0, s"$g returned no rows")
      val ref = reference.getOrElseUpdate(g, (rows, digest))
      Check(ref == (rows, digest),
        s"$g: $rows rows digest $digest, an earlier pass gave ${ref._1} rows digest ${ref._2}")
    }
    Map.empty
  }
}

object Analytics {
  val Gates = Seq("agg_gini_grouped", "graph_pagerank", "dedup_minhash_pairs",
    "pipeline_curation7")

  /** Column types of the sf0.1 tables the gates read. */
  val Schemas: Map[String, StructType] = Map(
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
}
