package graft

import org.apache.spark.sql.functions._

/** Dev tool (not driver contract): LSH bucket-occupancy diagnostics
  * for any embedding source — the number that predicts the banded
  * candidate join's cost is Σ c² over bucket sizes c, and a healthy
  * sign-LSH corpus shows it near n²/2^np per table. Run after adding
  * a modality's feature vectors; the image (round 11) and audio
  * (round 12) cone/sawtooth degeneracies were both invisible in
  * correctness runs and obvious in this statistic.
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf1 scripts/run.sh \
  *          graft.ProbeBuckets {audio|image|embeddings}
  */
object ProbeBuckets {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.build("probebuckets")
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val src = args.headOption.getOrElse("embeddings")
    val emb = src match {
      case "audio" => llm.Multimodal.audioEmbeddings(Tables.documents(spark, sfDir))
      case "image" => llm.Multimodal.imageEmbeddings(Tables.documents(spark, sfDir))
      case "video" => llm.Multimodal.videoEmbeddings(Tables.documents(spark, sfDir))
      case _       => Tables.embeddings(spark, sfDir)
    }
    val n = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val nRows = n.count()
    val np = llm.Similarity.adaptivePlanes(nRows)
    val pl = llm.Similarity.planesFor(np)
    val tableBuckets = pl.indices.map { t =>
      val bucket = pl(t).indices.map { p =>
        when(call_function("dot_d", col("v"),
          array(pl(t)(p).map(lit): _*)) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    val bkt = n.select(col("vec_id"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("c"))
      .cache()
    val stats = bkt.agg(
      sum(col("c")).as("rows"),
      count(lit(1)).as("buckets"),
      max(col("c")).as("max_c"),
      sum(col("c") * col("c")).as("sum_c2")).collect().head
    println(s"source=$src n=$nRows np=$np tables=${pl.size}")
    println(s"occupied buckets=${stats.getLong(1)} max bucket=${stats.getLong(2)}")
    println(s"sum c^2=${stats.getLong(3)} (candidate-join work proxy; " +
      s"healthy ~ ${pl.size.toLong * nRows * nRows / (1L << np)})")
    spark.stop()
  }
}
