package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{CorpusPipeline, Similarity}
import graft.ops.{ConnectedComponents, JaccardPrefix}

/** The `api`/`ops` layer measurement, made by the catalog workload's traced
  * invocation: one `CorpusPipeline.prepareFull` over the sf0.1 corpus (5,000
  * documents, 2,000 embeddings) with the semantic stage on and the
  * `doc_id % 97 = 0` decontamination slice that `pipeline_corpus` uses. The
  * operator decisions the pipeline's stages expose are copied onto its span.
  * The seed permutes input row order and partitioning; the output must not
  * change with it. */
object CorpusRun {
  /** The `Dev pipeline ... full` configuration. */
  val Cfg = CorpusPipeline.Config(mixRates = Map("en" -> 0.9), defaultRate = 0.7,
    maxSurprisalBits = 5.05, keepBestPerCluster = true)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    ctx.run = -1
    // the seed decides which partition each row lands in and the row order
    // within partitions; the partition count stays fixed
    def input(table: String, id: String): DataFrame = t.span("bench.prepare", "corpus") {
      val df = spark.read.parquet(s"${ctx.data}/sf0.1/$table.parquet")
        .repartition(2 * ctx.cpus, xxhash64(col(id), lit(ctx.seed)))
        .sortWithinPartitions(xxhash64(col(id), lit(ctx.seed + 1)))
        .persist()
      df.count()
      df
    }
    val docs = input("documents", "doc_id")
    val emb = input("embeddings", "vec_id")
    val bench = docs.filter(col("doc_id") % 97 === 0).select(trim(regexp_replace(
      regexp_replace(col("text"), "<[^>]*>", " "), "[ \\t\\n\\f\\r]+", " ")).as("ctext"))
    try ctx.op("prepare_full", "corpus", "api.prepare_full") {
      val p = CorpusPipeline.prepareFull(docs, "doc_id", "text", "lang",
        Some((emb, "vec_id", "embedding")), Some((bench, "ctext")), Cfg)
      noop(p.documents)
      noop(p.trainChunks)
      t.attr("jaccard_route", JaccardPrefix.lastDecision.map(_.pathName).orNull)
      t.attr("lsh_shape", Similarity.lastLshShape.map(_.shapeName).orNull)
      t.count("ops.cc_rounds", ConnectedComponents.lastRounds.getOrElse(0).toDouble)
      p
    }.foreach { p =>
      val (n, h) = Main.checksum(p.documents.select("id", "cluster", "split"))
      ctx.checks("corpus") = Map("kept" -> n, "checksum" -> h)
    } finally { docs.unpersist(); emb.unpersist() }
  }
}
