package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Probes of layers the workloads reach only through whole queries or
  * not at all: the native SQL functions (`graft.functions`) over a fixed
  * cached input, the cost of building a `graft.pipeline` chain up to an
  * analyzed plan, and the `graft.ScaleData` build of a scaled copy. */
object LayerProbes {
  /** A fixed byte-level merge table: common English pairs, then "the". */
  private val Merges = "74 68 68 65 69 6E 65 72 61 6E 7468 65"

  val Functions: Seq[(String, String)] = Seq(
    "char_fold" -> "char_fold(text, 7)",
    "minhash_sig" -> "minhash_sig(sset, 16)",
    "shingle_set" -> "shingle_set(text, 3)",
    "jaccard_sim" -> "jaccard_sim(sset, sset2)",
    "nearest_centroids" -> "nearest_centroids(v, nrm, cents, 2)",
    "dot_product" -> "dot_product(v, v2)",
    "bpe_apply_bytes" -> s"bpe_apply_bytes(text, '$Merges')",
    "ascii_word_histogram" -> "ascii_word_histogram(lower(text))",
    "text_features" -> "text_features(text)")

  /** Nanoseconds per input row of each function: warmed once, then the
    * median of `reps` timed evaluations, less the median time of a plain
    * projection over the same input (the per-job cost). The input pairs
    * every document and every vector with a seeded partner, so binary
    * functions see real pairs; 16 seeded vectors serve as centroids. Both
    * inputs are repeated up to about `docRows` and `vecRows` rows, so the
    * kernels, not the job, dominate the timing. */
  def functions(spark: SparkSession, dataDir: String, seed: Long, reps: Int = 7,
      docRows: Long = 30000, vecRows: Long = 100000): Map[String, Double] = {
    graft.functions.GraftFunctions.register(spark)
    val docs0 = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("sset", expr("shingle_set(text, 3)"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(xxhash64(col("doc_id"), lit(seed)))))
    val docs = docs0.as("a").join(docs0.select(col("r"), col("text").as("text2"),
        col("sset").as("sset2")).withColumn("r", col("r") - 1).as("b"),
        col("a.r") === col("b.r"), "left")
      .select(col("doc_id"), col("text"), col("sset"),
        coalesce(col("text2"), col("text")).as("text2"),
        coalesce(col("sset2"), col("sset")).as("sset2"))
    val vecs0 = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(dot_product(v, v))"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(xxhash64(col("vec_id"), lit(seed)))))
    val cents = vecs0.where(col("r") <= 16)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cn"))).as("cents"))
    val vecs = vecs0.as("a").join(vecs0.select((col("r") - 1).as("r"), col("v").as("v2")).as("b"),
        col("a.r") === col("b.r"), "left")
      .select(col("vec_id"), col("v"), col("nrm"), coalesce(col("v2"), col("v")).as("v2"))
      .crossJoin(cents)
    def repeated(df: DataFrame, rows: Long): DataFrame = {
      val times = math.max(1L, rows / math.max(1L, df.count()))
      df.withColumn("rep", explode(sequence(lit(1L), lit(times)))).drop("rep")
    }
    val docIn = repeated(docs, docRows).cache()
    val vecIn = repeated(vecs, vecRows).cache()
    try {
      val nDocs = docIn.count()
      val nVecs = vecIn.count()
      def timed(in: DataFrame, call: String): Double = {
        def once(): Double =
          Result.time(in.selectExpr(s"$call AS r").queryExecution.toRdd.count())._2
        once()
        Stats.median(Seq.fill(reps)(once()))
      }
      val docBase = timed(docIn, "doc_id")
      val vecBase = timed(vecIn, "vec_id")
      Functions.map { case (fn, call) =>
        val (in, n, base) =
          if (call.contains("(v")) (vecIn, nVecs, vecBase) else (docIn, nDocs, docBase)
        fn -> math.max(0.0, timed(in, call) - base) * 1e9 / math.max(1L, n)
      }.toMap
    } finally {
      docIn.unpersist(blocking = true)
      vecIn.unpersist(blocking = true)
    }
  }

  /** Seconds to build a three-stage `graft.pipeline` chain over the
    * documents table and analyze the resulting plan (median of `reps`). */
  def pipelineBuild(spark: SparkSession, dataDir: String, reps: Int = 20): Double = {
    import graft.pipeline.{Flow, Pipeline, Source}
    val src = Source[Row]("documents", s => spark.read.parquet(s"$dataDir/documents.parquet"))
    def once(): Double = Result.time {
      Pipeline.from(src)
        .via(Flow[Row, Row]("norm", _.toDF().withColumn("text", lower(col("text")))))
        .via(Flow[Row, Row]("long", _.toDF().where(length(col("text")) > 20)))
        .via(Flow[Row, Row]("fold", _.toDF().withColumn("fp", expr("char_fold(text, 7)"))))
        .dataFrame(spark).queryExecution.analyzed
    }._2
    graft.functions.GraftFunctions.register(spark)
    once()
    Stats.median(Seq.fill(reps)(once()))
  }

  /** Seconds for `graft.ScaleData` to build a 2× copy of `dataDir` into
    * `outDir`. ScaleData stops the shared session when it is done, so this
    * must be the last use of it. */
  def scaleData(dataDir: String, outDir: String): Double =
    Result.time(graft.ScaleData.main(Array(dataDir, outDir, "2")))._2
}
