package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftfns.{StopHits, VectorFunctions}

/** Per-row cost of each SQL-registered graftfns kernel over the corpus
  * column it serves. Each input is cached in memory (the corpus replicated
  * so one pass is long enough to time); a kernel's time is its projection
  * into the noop sink minus a scan-only projection of the same column, so
  * `ns_per_row` excludes the scan.
  */
object Kernels {
  private val Reps = 3

  def probe(spark: SparkSession, dir: String, cpus: Int): Seq[(String, Double)] = {
    VectorFunctions.register(spark)
    // `register` covers every kernel but stop_hits, which only
    // graft.GraftExtensions injects; add it the same way.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "stop_hits", es => StopHits(es(0)), "scala_udf")
    def replicated(df: DataFrame, copies: Int): DataFrame = {
      val out = df.crossJoin(spark.range(copies).toDF("copy")).drop("copy")
        .repartition(cpus).cache()
      out.count()
      out
    }
    val text = replicated(spark.read.parquet(s"$dir/documents.parquet")
      .where("text IS NOT NULL").select("text"), 10)
    val hashes = text.selectExpr("shingle_hashes(text, 5) AS hs").cache()
    hashes.count()
    val vecs = replicated(spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v"), 25)
    val cases = Seq(
      ("dot_product", vecs, "v", "dot_product(v, v)"),
      ("shingle_hashes", text, "text", "shingle_hashes(text, 5)"),
      ("minhash_signature", hashes, "hs", "minhash_signature(hs, 64)"),
      ("simhash64", text, "text", "simhash64(text)"),
      ("bpe_run_count", text, "text", "bpe_run_count(text)"),
      ("rolling_fp", text, "text", "rolling_fp(text)"),
      ("word_grams", text, "text", "word_grams(text, 3)"),
      ("stop_hits", text, "text", "stop_hits(text)"))
    val out = cases.map { case (fn, df, column, call) =>
      val rows = df.count().toDouble
      def time(e: String): Long = {
        val t0 = System.nanoTime()
        df.selectExpr(e).write.mode("overwrite").format("noop").save()
        System.nanoTime() - t0
      }
      time(column); time(call) // JIT warm-up
      val perRow = (1 to Reps).map(_ => (time(call) - time(column)) / rows).sorted
      s"kernels.$fn.ns_per_row" -> perRow(Reps / 2)
    }
    Seq(text, hashes, vecs).foreach(_.unpersist(blocking = true))
    out
  }
}
