package graft.perfbench

import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** A fixed slice of the `SparkEntry.queries` catalog, each entry fully
  * written to Spark's `noop` sink so every output column is computed
  * (graft.Bench's `.count()` timing lets Catalyst prune the columns `count`
  * does not need). One run is one pass over the slice in a seed-permuted order. */
object Catalog extends Workload {
  /** Entries picked for the open work items: the `Exact` decimal
    * aggregates (q1, cube), the text entry the noop sink made visible (ttr),
    * two game-domain mirrors (stg_cast, window_latest), the Jaccard pair join,
    * the KMeans driver fan-in (sim_ivf_trained), a sketch and a chunk packer.
    * The whole catalog does not fit the benchmark's time per run on a
    * 4-core box: its cold warmup alone takes about two minutes. */
  val Entries: Seq[String] = Seq("sql_tpch_q1", "cube_agg", "stg_cast", "window_latest",
    "text_ttr", "dedup_ngram_jaccard", "sim_ivf_trained", "agg_approx_quantile",
    "pack_chunks")
  /** The scale the catalog runs at: the scale `tools/check.py` checks
    * against DuckDB, so each recorded checksum is one the oracle passed. */
  val Scale = "sf0.01"
  /** The approximate entry: no oracle, bound-checked like SketchSpec. */
  val Sketch = "agg_approx_quantile"

  private val families: Seq[(String, List[(String, graft.Q)])] = Seq(
    "relational" -> graft.RelationalQueries.all, "text" -> graft.TextQueries.all,
    "dedup" -> graft.DedupQueries.all, "vector" -> graft.VectorQueries.all,
    "time" -> graft.TimeQueries.all, "sketch" -> graft.SketchQueries.all,
    "sample" -> graft.SampleQueries.all)
  private lazy val familyOf: Map[String, String] =
    (for ((f, qs) <- families; (n, _) <- qs) yield n -> f).toMap

  private def dir(ctx: Ctx) = s"${ctx.data}/$Scale"

  def prepare(ctx: Ctx): Unit = ()

  /** One untimed pass of the same noop writes, so each entry's class
    * loading, codegen and JIT warmup is done before its timed run. graft.Bench
    * warms on sf0.001 under `.count()`; after that warmup the first timed
    * pass here still ran 60% slower than a second one. */
  def warmup(ctx: Ctx): Unit =
    for (name <- Entries) try noop(ctx, name) catch { case _: Throwable => () }

  private def noop(ctx: Ctx, name: String): Unit =
    SparkEntry.queries(name)(ctx.spark, dir(ctx)).write.format("noop").mode("overwrite").save()

  /** The `api`/`ops` layers have no workload of their own: the traced
    * invocation measures them with one corpus pipeline run. */
  override def tracedOnly(ctx: Ctx): Unit = CorpusRun.run(ctx)

  def run(ctx: Ctx): Unit = {
    val names = new scala.util.Random(ctx.seed * 7919L + ctx.run)
      .shuffle(Entries)
    for (name <- names) {
      val fam = familyOf(name)
      ctx.op(name, fam, s"catalog.$fam")(noop(ctx, name))
    }
  }

  /** Row count and checksum of each entry's output; the sketch entry has no
    * exact answer and is bound-checked instead. */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val d = dir(ctx)
    for (name <- Entries) ctx.checks(name) =
      try {
        if (name == Sketch) Map("bound_ok" -> quantileWithinBound(ctx))
        else {
          val (n, h) = Main.checksum(SparkEntry.queries(name)(spark, d))
          Map("rows" -> n, "checksum" -> h)
        }
      } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(200)) }
  }

  /** SketchSpec's check: p50 <= p95 <= p99, and the p50's actual rank is
    * within percentile_approx's guarantee (accuracy 10000: rank error at
    * most N / 10000) plus a few rows of slack for ties. */
  private def quantileWithinBound(ctx: Ctx): Boolean = {
    val d = dir(ctx)
    val li = Tables.lineitem(ctx.spark, d)
    val q = SparkEntry.queries(Sketch)(ctx.spark, d).collect()
    q.nonEmpty && q.forall { r =>
      val grp = li.filter(col("l_linestatus") === r.getString(0))
      val n = grp.count().toDouble
      val below = grp.filter(col("l_extendedprice") <= r.getDouble(1)).count() / n
      r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3) &&
        math.abs(below - 0.5) <= 1.0 / 10000 + 4 / n
    }
  }
}
