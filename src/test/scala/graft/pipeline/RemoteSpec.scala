package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.JobExecutionStatus
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Remote-task RPC semantics (MR_RunOnKey / MR_RunOnAllShards, SURVEY §2.2). */
class RemoteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `body`'s result and the job groups of the `Remote` jobs it started (one entry per job). */
  private def withRemoteJobGroups[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-remote-")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    val out = try { val a = body; ListenerBridge.drain(sc); a }
    finally sc.removeSparkListener(listener)
    (out, groups.asScala.toSeq)
  }

  test("runOnAllShards gathers one result per shard (dbsize analog)") {
    val ds = spark.createDataset((1 to 100).map(_.toLong)).repartition(4)
    val r = Remote.runOnAllShards(ds)(it => it.size.toLong)
    assert(r.isRight)
    val sizes = r.toOption.get
    assert(sizes.size === 4)
    assert(sizes.sum === 100L)
  }

  test("runOnKey routes to matching records (get analog)") {
    val ds = spark.createDataset((1 to 100).map(i => (s"key:$i", i * 2L)))
    val r = Remote.runOnKey(ds, (kv: (String, Long)) => kv._1 == "key:42")(
      it => it.toSeq.headOption.map(_._2).getOrElse(-1L))
    assert(r === Right(84L))
  }

  test("runOnKey on a missing key returns the task's no-record result") {
    val ds = spark.createDataset(Seq(("a", 1L)))
    val r = Remote.runOnKey(ds, (kv: (String, Long)) => kv._1 == "zzz")(
      it => it.toSeq.headOption.map(_._2).getOrElse(-1L))
    assert(r === Right(-1L))
  }

  test("internalCommand runs every command on every shard") {
    val r = Remote.internalCommand(spark, numShards = 3)(
      Seq((shard: Int) => s"cmd1@$shard", (shard: Int) => s"cmd2@$shard"))
    assert(r.isRight)
    val replies = r.toOption.get
    assert(replies.size === 3)
    assert(replies(1) === Seq("cmd1@1", "cmd2@1"))
  }

  test("timeout yields Left, not an exception") {
    val ds = spark.createDataset(Seq(1L, 2L)).repartition(2)
    val r = Remote.runOnAllShards(ds)({ it => Thread.sleep(5000); it.size }, timeoutMs = 300)
    assert(r === Left("task timed out"))
  }

  test("runOnKey is one job over every partition and returns the local filter's multiset") {
    val rows = (1 to 200).map(i => (i % 7, i.toLong))
    val ds = spark.createDataset(spark.sparkContext.parallelize(rows, 4))
    val pred = (kv: (Int, Long)) => kv._1 == 3
    assert(ds.rdd.filter(pred).glom().collect().count(_.nonEmpty) >= 2,
      "matches must span at least two partitions")
    val (r, groups) = withRemoteJobGroups(Remote.runOnKey(ds, pred)(it => it.map(_._2).toSeq))
    assert(r.map(_.sorted) === Right(rows.filter(pred).map(_._2).sorted))
    assert(groups.size === 1, s"runOnKey started ${groups.size} jobs, expected 1")
  }

  test("runOnKey timeout yields Left and cancels its job") {
    val ds = spark.createDataset(spark.sparkContext.parallelize(1L to 8L, 4))
    val (r, groups) = withRemoteJobGroups(
      Remote.runOnKey(ds, (x: Long) => { Thread.sleep(5000); x > 0 })(_.size, timeoutMs = 300))
    assert(r === Left("task timed out"))
    assert(groups.nonEmpty)
    val tracker = spark.sparkContext.statusTracker
    def running = groups.distinct.flatMap(tracker.getJobIdsForGroup(_))
      .flatMap(tracker.getJobInfo(_)).filter(_.status == JobExecutionStatus.RUNNING)
    val deadline = System.nanoTime() + java.util.concurrent.TimeUnit.SECONDS.toNanos(3)
    while (running.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(running.isEmpty, "the timed-out lookup's job is still running")
  }

  test("runOnKey returns a failing predicate's message as Left") {
    val ds = spark.createDataset(spark.sparkContext.parallelize(1L to 8L, 4))
    val r = Remote.runOnKey(ds, (x: Long) => if (x == 5L) throw new IllegalStateException("bad key 5")
      else false)(_.size)
    assert(r.swap.exists(_.contains("bad key 5")), s"unexpected result $r")
  }
}
