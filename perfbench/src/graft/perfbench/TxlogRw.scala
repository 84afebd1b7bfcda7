package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxLog
import graft.streaming.EventStream

/** One TxLog table built from sf0.1 `orders`, then a seeded mix of writes
  * and reads from the plan file, ending with `vacuum`. Every read is checked
  * against a keyed model of the table the benchmark keeps per version. */
object TxlogRw extends Workload {
  final case class R(cust: Long, cents: Long, status: String, tag: Long)
  type Model = HashMap[Long, R]

  private val K = "o_orderkey"
  private val Cols = Seq(K, "o_custkey", "cents", "o_orderstatus", "tag")
  /** Appended rows are re-keyed above every base key. */
  private val AppendKeyStride = 1000000L

  private var base: DataFrame = _
  private var baseModel: Model = HashMap.empty
  private var keySpan = 0L
  private var plan: Vector[Vector[Vector[String]]] = Vector.empty
  private val sigCache = new java.util.IdentityHashMap[Model, (Long, BigInt)]

  private def rowHash(k: Long, r: R): Long = {
    var h = XxHash64Function.hash(k, LongType, 42L)
    h = XxHash64Function.hash(r.cust, LongType, h)
    h = XxHash64Function.hash(r.cents, LongType, h)
    h = XxHash64Function.hash(UTF8String.fromString(r.status), StringType, h)
    XxHash64Function.hash(r.tag, LongType, h)
  }
  private def sig(m: Iterable[(Long, R)]): (Long, BigInt) =
    m.foldLeft((0L, BigInt(0))) { case ((n, s), (k, r)) => (n + 1, s + rowHash(k, r)) }
  private def sigOf(m: Model): (Long, BigInt) = sigCache.computeIfAbsent(m, _ => sig(m))

  private def hashCol: Column = xxhash64(Cols.map(col): _*).cast("decimal(38,0)")
  /** Full materialization of a read: every column is decoded and hashed. */
  private def sigOf(df: DataFrame): (Long, BigInt) = {
    val r = df.agg(count(lit(1)), sum(hashCol)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }

  def prepare(ctx: Ctx): Unit = {
    plan = Files.readAllLines(Paths.get(ctx.args("plan"))).asScala.toVector
      .map(_.trim).filter(_.nonEmpty)
      .foldLeft(Vector.empty[Vector[Vector[String]]]) { (runs, line) =>
        if (line == "run") runs :+ Vector.empty
        else runs.init :+ (runs.last :+ line.split(" ").toVector)
      }
    base = ctx.spark.read.parquet(s"${ctx.data}/sf0.1/orders.parquet")
      .select(col(K), col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus"), lit(0L).as("tag"))
      .persist()
    baseModel = HashMap.from(base.collect().iterator.map(r =>
      r.getLong(0) -> R(r.getLong(1), r.getLong(2), r.getString(3), 0L)))
    keySpan = baseModel.keysIterator.max + 1
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete) }

  private def treeBytes(p: Path, filter: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(f => Files.isRegularFile(f) && filter(f))
        .map(Files.size).sum }

  private def fileCount(p: Path, filter: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.count(f => Files.isRegularFile(f) && filter(f)).toLong }

  private val isData = (f: Path) => !f.toString.contains("_txlog")
  /** Stored bytes per row of the initial load: the unit for user bytes. */
  private var bytesPerRow = 0.0

  /** One untimed run of the mix on the full table. After a warmup on a
    * small table the first timed run still ran 25% slower than the second. */
  def warmup(ctx: Ctx): Unit = runSteps(ctx, plan.last)

  private def frac(s: String): Long = (s.toDouble * keySpan).toLong

  def run(ctx: Ctx): Unit = runSteps(ctx, plan(ctx.run % plan.size))

  private def runSteps(ctx: Ctx, steps: Vector[Vector[String]]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = Paths.get(ctx.work, "txlog_run")
    ctx.untimed(deleteTree(dir))
    val t = dir.resolve("t").toString
    val mirror = dir.resolve("mirror").toString
    val ckpt = dir.resolve("ckpt").toString
    var model: Model = HashMap.empty
    val versions = mutable.ArrayBuffer.empty[(Long, Model)]
    var userRows = 0L
    var liveFiles: Set[String] = Set.empty

    def logCounters[A](body: => A): A = {
      val (c0, l0) = (TxLog.commitFilesReplayed.get, TxLog.logDirListings.get)
      try body finally {
        tr.count("txlog.commit_files_replayed", (TxLog.commitFilesReplayed.get - c0).toDouble)
        tr.count("txlog.log_dir_listings", (TxLog.logDirListings.get - l0).toDouble)
      }
    }
    def write(name: String, verb: String, next: => Model)(call: => Long): Unit =
      ctx.op(name, "write", s"txlog.$verb")(logCounters(call)).foreach { v =>
        ctx.untimed {
          val m = next
          userRows += (m.iterator.count { case (k, r) => !model.get(k).contains(r) })
          model = m
          versions += v -> m
          if (tr.active) {
            val files = TxLog.snapshot(t).files.toSet
            tr.count("txlog.files_added", (files -- liveFiles).size.toDouble)
            tr.count("txlog.files_removed", (liveFiles -- files).size.toDouble)
            liveFiles = files
          }
        }
      }
    def read(name: String, verb: String, want: => (Long, BigInt))(call: => (Long, BigInt)): Unit =
      ctx.op(name, "read", s"txlog.$verb")(logCounters(call)).foreach { got =>
        ctx.untimed { val w = want; if (got != w) ctx.mismatch(name, s"got $got want $w") }
      }
    def snapshot(asOf: Long = Long.MaxValue) =
      tr.span("txlog.snapshot", s"r${ctx.run}/snapshot")(TxLog.snapshot(t, asOf))
    def inBand(lo: Long, hi: Long)(k: Long) = k >= lo && k <= hi

    for ((step, i) <- steps.zipWithIndex) {
      val tag = i + 1L
      val name = s"$i.${step.head}"
      step match {
        case Vector("load") =>
          write(name, "append", baseModel) {
            TxLog.append(base.repartitionByRange(8, col(K)), t, statsCol = Some(K)) }
          ctx.untimed { bytesPerRow = treeBytes(Paths.get(t), isData).toDouble / baseModel.size }
        case Vector("append", rem) =>
          val off = tag * AppendKeyStride
          write(name, "append", model ++ baseModel.iterator.collect {
            case (k, r) if k % 97 == rem.toLong => (k + off) -> r.copy(tag = tag) }) {
            TxLog.append(base.filter(col(K) % 97 === rem.toLong)
              .withColumn(K, col(K) + off).withColumn("tag", lit(tag)).coalesce(1),
              t, statsCol = Some(K))
          }
        case Vector("merge", lo, hi) =>
          // upsert every base key of a 1% band: matched keys are rewritten,
          // keys an earlier delete removed are inserted again
          val (a, b) = (frac(lo), frac(hi))
          val bump = 1L + tag % 50
          write(name, "merge", model ++ baseModel.iterator.collect {
            case (k, r) if inBand(a, b)(k) =>
              k -> r.copy(cents = r.cents + bump, status = "M", tag = tag) }) {
            TxLog.merge(base.filter(col(K).between(a, b))
              .withColumn("cents", col("cents") + bump)
              .withColumn("o_orderstatus", lit("M")).withColumn("tag", lit(tag)).coalesce(1),
              t, K, changeFeed = true)
          }
        case Vector("update", lo, hi) =>
          val (a, b) = (frac(lo), frac(hi))
          write(name, "update", model.map { case (k, r) =>
            if (inBand(a, b)(k)) k -> r.copy(cents = r.cents + 7, tag = tag) else k -> r }) {
            TxLog.update(spark, t, col(K).between(a, b),
              Map("cents" -> (col("cents") + 7), "tag" -> lit(tag)),
              statsCol = Some(K), changeFeed = true, useDV = true)
          }
        case Vector("delete", lo, hi) =>
          val (a, b) = (frac(lo), frac(hi))
          write(name, "delete", model.filterNot { case (k, _) => inBand(a, b)(k) }) {
            TxLog.delete(spark, t, col(K).between(a, b), statsCol = Some(K),
              changeFeed = true, useDV = true)
          }
        case Vector("optimize") =>
          write(name, "optimize", model) {
            TxLog.optimize(spark, t, targetBytes = 4L << 20, statsCol = Some(K)) }
        case Vector("scan") =>
          read(name, "scan", sigOf(model))(sigOf(snapshot().read(spark)))
        case Vector("pruned", lo, hi) =>
          val (a, b) = (frac(lo), frac(hi))
          read(name, "pruned_read", sig(model.filter { case (k, _) => inBand(a, b)(k) })) {
            sigOf(TxLog.readPruned(spark, t, K, a, b).filter(col(K).between(a, b))) }
          if (tr.active) ctx.untimed {
            tr.count("txlog.pruned_files", TxLog.readPruned(spark, t, K, a, b).inputFiles.length)
            tr.count("txlog.pruned_live_files", liveFiles.size.toDouble)
          }
        case Vector("timetravel") =>
          val (v, m) = versions(math.max(0, versions.size - 3))
          read(name, "time_travel", sigOf(m))(sigOf(snapshot(v).read(spark)))
        case Vector("cdf") =>
          val (v, m) = versions(math.max(0, versions.size - 4))
          val tip = versions.last._2
          read(name, "change_feed", {
            val (n1, h1) = sigOf(m); val (n2, h2) = sigOf(tip); (n2 - n1, h2 - h1) }) {
            val feed = TxLog.readChangeFeed(spark, t, v)
            val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
              .otherwise(-1L)
            val r = feed.agg(coalesce(sum(sign), lit(0L)), sum(hashCol * sign)).head()
            (r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
              .getOrElse(BigInt(0)))
          }
        case Vector("stream") =>
          ctx.op(name, "read", "txlog.stream_catchup")(logCounters {
            val q = EventStream.exactlyOnceTxLog(spark.readStream.format("txlog")
              .option("ignoreChanges", "true").load(t), mirror, ckpt, "perfbench")
            try q.processAllAvailable() finally q.stop()
          }).foreach { _ =>
            // the mirror holds every version of every row the source emitted;
            // each live key's newest version (highest tag) must be its row
            ctx.untimed {
              val newest = TxLog.snapshot(mirror).read(spark).groupBy(K)
                .agg(max_by(struct(Cols.tail.map(col): _*), col("tag")).as("r"))
                .select(col(K) +: Cols.tail.map(c => col(s"r.$c")): _*)
                .join(TxLog.snapshot(t).read(spark).select(K), Seq(K), "left_semi")
              val (got, want) = (sigOf(newest), sigOf(model))
              if (got != want) ctx.mismatch(name, s"mirror $got want $want")
            }
          }
        case Vector("vacuum") =>
          val tp = Paths.get(t)
          ctx.untimed(if (tr.active) {
            tr.count("txlog.commits", versions.size.toDouble)
            tr.count("txlog.log_bytes", treeBytes(tp.resolve("_txlog")).toDouble)
            tr.count("txlog.dv_files", fileCount(tp.resolve("_deletion_vectors"),
              _.toString.endsWith(".dv")).toDouble)
            tr.count("txlog.bytes_written", treeBytes(tp, isData).toDouble)
            tr.count("txlog.user_bytes", userRows * bytesPerRow)
          })
          ctx.op(name, "write", "txlog.vacuum")(logCounters(TxLog.vacuum(t, 0L, graceMs = 0L)))
          ctx.untimed {
            val got = sigOf(TxLog.snapshot(t).read(spark))
            if (got != sigOf(model)) ctx.mismatch(name, s"final snapshot $got want ${sigOf(model)}")
            val plain = dir.resolve("plain")
            TxLog.snapshot(t).read(spark).coalesce(1).write.parquet(plain.toString)
            val ratio = treeBytes(tp).toDouble / treeBytes(plain, _.toString.endsWith(".parquet"))
            ctx.extra("stored_bytes_ratio") =
              ctx.extra.getOrElse("stored_bytes_ratio", Vector.empty[Double])
                .asInstanceOf[Vector[Double]] :+ ratio
          }
        case other => throw new IllegalArgumentException(s"bad plan step $other")
      }
    }
    sigCache.clear()
    ctx.untimed(deleteTree(dir))
  }

  def check(ctx: Ctx): Unit = ()
}
