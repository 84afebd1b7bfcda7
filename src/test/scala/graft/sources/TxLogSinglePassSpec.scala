package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The write verbs read each input once: merge and mergeFull evaluate their
  * source a single time per call (every pass and every re-derivation reads
  * the same materialized rows, and only a cache the call created is
  * released), and the deletion-vector paths of delete/update build their
  * bitmaps in the same scan that finds the touched files.
  */
class TxLogSinglePassSpec extends SparkSpec {
  import TxLog.{ConstraintViolation, MatchedUpdate, NotMatchedInsert}

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txonce_$name").resolve("t").toString

  private val epoch = new java.sql.Timestamp(0L)

  /** 100 keys, range-partitioned into 4 stats-bearing files. */
  private def seeded(name: String): String = {
    import spark.implicits._
    val t = freshTable(name)
    TxLog.append((1 to 100).map(i => (i.toLong, s"v$i", epoch)).toDF("k", "v", "ts")
      .repartitionByRange(4, col("k")), t, statsCol = Some("k"))
    t
  }

  /** Keys 91..110 (ten matched, ten new) through a nondeterministic UDF that
    * counts its calls, with `ts` stamped by `current_timestamp()`. */
  private def countedSource(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val calls = spark.sparkContext.longAccumulator("source-calls")
    val counted = udf { (k: Long) => calls.add(1L); k }.asNondeterministic()
    (spark.range(91, 111).select(counted(col("id")).as("k"), lit("u").as("v"),
      current_timestamp().as("ts")), calls)
  }

  /** Arms the merge commit hook so its first attempt loses to an append of
    * `key`; the verb re-derives when it cannot admit the winner. Returns the
    * attempt count. */
  private def loseFirstAttempt(t: String, key: Long): java.util.concurrent.atomic.AtomicInteger = {
    import spark.implicits._
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    TxLog.mergeCommitHook = () => {
      if (attempts.incrementAndGet() == 1)
        TxLog.append(Seq((key, "dup", epoch)).toDF("k", "v", "ts").repartition(1), t,
          statsCol = Some("k"))
      ()
    }
    attempts
  }

  /** Key → ts of the committed rows and of the feed's post-image and insert
    * rows at version `v`, each over keys 91..110. */
  private def landed(t: String, v: Long): (Map[Long, java.sql.Timestamp], Map[Long, java.sql.Timestamp]) = {
    def byKey(df: DataFrame) = {
      val rs = df.where(col("k").between(91L, 110L)).select("k", "ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1))
      assert(rs.map(_._1).distinct.length == rs.length, s"one row per key, got ${rs.toSeq}")
      rs.toMap
    }
    (byKey(TxLog.snapshot(t).read(spark)),
      byKey(TxLog.readChangeFeed(spark, t, v - 1).where(col("_commit_version") === v &&
        col("_change_type").isin("update_postimage", "insert"))))
  }

  private def assertOnce(t: String, v: Long, calls: Long, attempts: Int): Unit = {
    assert(attempts == 2, s"the first commit attempt must lose, saw $attempts attempts")
    assert(calls == 20L, s"20 source rows must be evaluated 20 times, saw $calls")
    val (data, feed) = landed(t, v)
    assert(data.keySet == (91L to 110L).toSet)
    assert(data.values.toSet.size == 1, s"one current_timestamp() per call: ${data.values.toSet}")
    assert(!data.values.exists(_ == epoch))
    assert(feed == data, "the change feed must carry the very rows the table got")
  }

  test("merge evaluates its source once, across passes and a re-derivation") {
    val t = seeded("merge")
    val (src, calls) = countedSource()
    // key 95 overlaps the source keys: admission cannot prove the winner
    // disjoint, so merge re-derives (and replaces both copies of 95)
    val attempts = loseFirstAttempt(t, 95L)
    TxLog.mergeDerivations.set(0L)
    val v = try TxLog.merge(src, t, "k", changeFeed = true)
      finally TxLog.mergeCommitHook = () => ()
    assert(TxLog.mergeDerivations.get == 2L, "the overlapping winner forces a re-derivation")
    assertOnce(t, v, calls.value, attempts.get)
  }

  test("mergeFull evaluates its source once, across passes and a re-derivation") {
    val t = seeded("mergefull")
    val (src, calls) = countedSource()
    // mergeFull re-derives on every lost race; key 500 stays out of the
    // source's range so no target row matches twice
    val attempts = loseFirstAttempt(t, 500L)
    val v = try TxLog.mergeFull(src, t, "k", Seq(
        MatchedUpdate(Map("v" -> col("s.v"), "ts" -> col("s.ts"))), NotMatchedInsert()),
        changeFeed = true)
      finally TxLog.mergeCommitHook = () => ()
    assertOnce(t, v, calls.value, attempts.get)
  }

  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("the merge verbs keep a caller's cache and release their own, on return and on throw") {
    import spark.implicits._
    val t = seeded("cache")
    TxLog.addConstraint(spark, t, "k_nonneg", "k >= 0")
    val verbs: Seq[(String, DataFrame => Long)] = Seq(
      "merge" -> (df => TxLog.merge(df, t, "k")),
      "mergeFull" -> (df => TxLog.mergeFull(df, t, "k",
        Seq(MatchedUpdate(Map("v" -> col("s.v"))), NotMatchedInsert()))))
    for ((name, run) <- verbs) {
      def src(k: Long) = Seq((k, s"$name$k", epoch)).toDF("k", "v", "ts")
      // caller-owned: used as is, still cached afterwards
      val owned = src(5L).persist()
      val ownedBad = src(-5L).persist()
      try {
        run(owned)
        assert(cached(owned), s"$name dropped the caller's cache")
        intercept[ConstraintViolation](run(ownedBad))
        assert(cached(ownedBad), s"$name dropped the caller's cache on a throw")
      } finally { owned.unpersist(); ownedBad.unpersist() }
      // merge-owned: spillable while the verb runs, gone afterwards
      val mine = src(6L)
      var during: Option[StorageLevel] = None
      TxLog.mergeCommitHook = () => { during = Some(mine.storageLevel) }
      try run(mine) finally TxLog.mergeCommitHook = () => ()
      assert(during.contains(StorageLevel.MEMORY_AND_DISK), s"$name: $during")
      assert(!cached(mine), s"$name left its own cache entry behind")
      val mineBad = src(-6L)
      intercept[ConstraintViolation](run(mineBad))
      assert(!cached(mineBad), s"$name left its own cache entry behind on a throw")
    }
    assert(TxLog.snapshot(t).read(spark).where(col("k") < 0L).isEmpty)
  }

  /** Root SQL executions `body` ran on this thread (tagged by a job group,
    * so work another suite left running is not counted): (description,
    * physical plan). */
  private def queries[A](body: => A): (A, Seq[(String, String)]) = {
    val group = s"txonce-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) && s.jobGroupId.contains(group) =>
          seen.add(s.description -> s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val a = body
      GraftBridge.drainListenerBus(spark)
      (a, seen.asScala.toSeq)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def oneFile(name: String): String = {
    import spark.implicits._
    val t = freshTable(name)
    TxLog.append((0L until 5000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1), t, statsCol = Some("k"))
    t
  }

  private val BitmapAgg = "graft_dv_bitmap_agg"

  test("a DV delete runs one data query, a DV update two") {
    val td = oneFile("dvdel")
    val (vd, qd) = queries(TxLog.delete(spark, td, col("k") === 7L, useDV = true))
    assert(vd == 2L && TxLog.dvSwapFiles.get == 1L)
    assert(qd.size == 1, s"the bitmap aggregate is the only scan: ${qd.map(_._1)}")
    assert(qd.head._2.contains(BitmapAgg))
    val tu = oneFile("dvupd")
    val (vu, qu) = queries(TxLog.update(spark, tu, col("k") === 7L,
      Map("v" -> lit("x")), useDV = true))
    assert(vu == 2L && TxLog.dvSwapFiles.get == 1L)
    assert(qu.size == 2, s"bitmap aggregate + postimage staging: ${qu.map(_._1)}")
    assert(qu.count(_._2.contains(BitmapAgg)) == 1)
    assert(TxLog.snapshot(tu).read(spark).where(col("k") === 7L)
      .select("v").collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("a DV delete whose matching rows are already masked commits nothing") {
    val t = oneFile("dvagain")
    val v = TxLog.delete(spark, t, col("k") === 7L, useDV = true)
    val (again, q) = queries(TxLog.delete(spark, t, col("k") === 7L, useDV = true))
    assert(again == v && TxLog.latestVersion(t) == v, "no empty commit")
    assert(q.size == 1, s"${q.map(_._1)}")
    assert(TxLog.snapshot(t).read(spark).count() == 4999L)
  }

  test("rewrite-path delete and update keep their touch scan") {
    val td = oneFile("rwdel")
    val (_, qd) = queries(TxLog.delete(spark, td, col("k") === 7L))
    val tu = oneFile("rwupd")
    val (_, qu) = queries(TxLog.update(spark, tu, col("k") === 7L, Map("v" -> lit("x"))))
    for ((verb, q) <- Seq("delete" -> qd, "update" -> qu)) {
      assert(q.size == 2, s"$verb: touch scan + rewrite staging, saw ${q.map(_._1)}")
      assert(!q.exists(_._2.contains(BitmapAgg)), s"$verb built bitmaps without useDV")
    }
    assert(TxLog.snapshot(td).read(spark).count() == 4999L)
    assert(TxLog.snapshot(tu).read(spark).where(col("v") === "x").count() == 1L)
  }
}
