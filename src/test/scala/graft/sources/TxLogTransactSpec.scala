package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one commit protocol every TxLog write verb runs through: a lost
  * race re-derives against the fresh tip (or re-commits past a winner the
  * step admits), and a call gives up after 64 lost races with nothing of
  * its own visible.
  */
class TxLogTransactSpec extends SparkSpec {

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txact_$name").resolve("t").toString

  /** A two-row, one-file table at version 1. */
  private def seeded(name: String): String = {
    import spark.implicits._
    val t = freshTable(name)
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t,
      statsCol = Some("k"))
    t
  }

  private def txn(app: String, version: Long): String =
    s"""{"txn":{"app":"$app","version":$version}}"""

  private def logText(t: String): String =
    scala.util.Using.resource(Files.list(Paths.get(t, "_txlog"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".json"))
        .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .mkString("\n")
    }

  test("a derivation that loses a race derives again at the fresh tip") {
    val t = seeded("lose_one")
    val tips = scala.collection.mutable.ArrayBuffer.empty[Long]
    val v = TxLog.transact(t, "probe") { r =>
      tips += r.tip
      if (tips.size == 1) TxLog.commit(t, r.tip + 1, Seq(txn("racer", 1L)), "append")
      TxLog.Publish(Seq(txn("ours", 1L)), (v: Long) => v)
    }
    assert(tips == Seq(1L, 2L), "the second derivation sees the winner")
    assert(v == 3L)
    assert(TxLog.lastTxnVersion(t, "racer") == Some(1L))
    assert(TxLog.lastTxnVersion(t, "ours") == Some(1L))
  }

  test("a winner the step admits is passed with the same actions, no new derivation") {
    val t = seeded("admit")
    var derivations = 0
    var attempts = 0
    val hook = () => {
      attempts += 1
      if (attempts == 1) TxLog.commit(t, 2L, Seq(txn("racer", 1L)), "append")
    }
    val v = TxLog.transact(t, "probe", hook) { _ =>
      derivations += 1
      TxLog.Publish(Seq(txn("ours", 1L)), (v: Long) => v, admits = _ == 2L)
    }
    assert((derivations, attempts, v) == ((1, 2, 3L)))
    assert(TxLog.lastTxnVersion(t, "ours") == Some(1L))
  }

  test("a racer on every attempt exhausts the budget: 64 races, 65 derivations") {
    val t = seeded("exhaust")
    var derivations = 0L
    val err = intercept[RuntimeException] {
      TxLog.transact(t, "probe") { r =>
        derivations += 1
        TxLog.commit(t, r.tip + 1, Seq(txn("racer", derivations)), "append")
        TxLog.Publish(Seq(txn("ours", 1L)), (v: Long) => v)
      }
    }
    assert(err.getMessage == s"probe lost 64 version races on $t")
    assert(derivations == 65L)
    assert(TxLog.latestVersion(t) == 66L, "one racer commit per derivation")
    assert(TxLog.snapshot(t).read(spark).count() == 2L, "readable at the tip")
    assert(TxLog.lastTxnVersion(t, "racer") == Some(65L))
    assert(TxLog.lastTxnVersion(t, "ours").isEmpty)
    assert(!logText(t).contains("\"ours\""), "none of our actions reached the log")
  }

  test("delete gives up after 64 lost races, deriving once per race") {
    val t = seeded("delete_budget")
    val before = TxLog.deleteDerivations.get
    // a dropConstraint line is metadata: never admitted, so every lost
    // race re-derives
    TxLog.deleteCommitHook = () => { TxLog.dropConstraint(t, "none"); () }
    val err =
      try intercept[RuntimeException](TxLog.delete(spark, t, col("k") >= 0L))
      finally TxLog.deleteCommitHook = () => ()
    assert(err.getMessage == s"delete lost 64 version races on $t")
    assert(TxLog.deleteDerivations.get - before == 65L)
    assert(TxLog.latestVersion(t) == 66L)
    assert(TxLog.snapshot(t).read(spark).count() == 2L, "nothing was deleted")
  }

  test("appendIdempotent stages a partitioned table's files under its spec") {
    import spark.implicits._
    val t = freshTable("idem_parts")
    TxLog.append(Seq((1L, "x"), (2L, "y")).toDF("k", "p"), t, partitionBy = Seq("p"))
    val v = TxLog.appendIdempotent(
      Seq((3L, "x"), (4L, "y"), (5L, "x")).toDF("k", "p").repartition(1), t, "app", 0L)
    assert(v == Some(2L))
    val adds = Files.readAllLines(Paths.get(t, "_txlog", f"${2L}%020d.json"),
      StandardCharsets.UTF_8).asScala.filter(_.startsWith("{\"add\""))
    assert(adds.size == 2, "one value-pure file per partition value")
    adds.foreach { l =>
      val p = TxLog.parseStatsAll(l).find(_.col == "p")
      assert(p.exists(s => s.min == s.max), s"no exact partition stat: $l")
    }
    assert(TxLog.snapshot(t).read(spark).count() == 5L)
  }
}
