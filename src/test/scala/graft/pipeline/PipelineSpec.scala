package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Pipeline-builder semantics, mirroring the reference's test module
 * (tests/mr_test_module/pytests/test_basic.py & test_errors.py):
 * every step type, the per-record error channel, the accumulate
 * partial/final split, and the timeout path.
 */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("map-filter-collect pipeline (readallstringkeys analog)") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 100).map(_.toLong), parts = 4)
      .filter(_ % 2 == 0)
      .map(k => s"key:$k")
      .collect()
      .run()
    assert(r.errors.isEmpty)
    assert(r.results.size === 50)
    assert(r.results.toSet === (1 to 100).filter(_ % 2 == 0).map(k => s"key:$k").toSet)
  }

  test("accumulate before collect = per-partition partials; after = global (countkeys analog)") {
    val partials = ExecutionBuilder.seqReader(spark, (1 to 1000).map(_.toLong), parts = 4)
      .accumulate(0L)((a, _) => a + 1)
      .run()
    assert(partials.results.size === 4)         // one partial per shard
    assert(partials.results.sum === 1000L)

    val global = ExecutionBuilder.seqReader(spark, (1 to 1000).map(_.toLong), parts = 4)
      .accumulate(0L)((a, _) => a + 1)
      .collect()
      .accumulate(0L)(_ + _)
      .run()
    assert(global.results === Seq(1000L))       // reference expects [1000]
  }

  test("erroring map: [0 results, N errors] and the execution completes (test_errors.py)") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 100).map(_.toLong), parts = 4)
      .map[Long](k => throw new IllegalStateException(s"boom $k"))
      .collect()
      .run()
    assert(r.results.isEmpty)
    assert(r.errors.size === 100)
    assert(r.errors.forall(_.startsWith("boom")))
  }

  test("partially-erroring filter keeps good records and accumulates bad ones") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 10).map(_.toLong), parts = 2)
      .filter(k => if (k % 3 == 0) throw new RuntimeException(s"err $k") else k % 2 == 0)
      .run()
    assert(r.results.toSet === Set(2L, 4L, 8L, 10L))
    assert(r.errors.size === 3)  // 3, 6, 9
  }

  test("flatMap: 0..n records out, throw demotes the input to one error") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 10).map(_.toLong), parts = 2)
      .flatMap { k =>
        if (k % 5 == 0) throw new RuntimeException(s"boom $k")
        else Seq.fill((k % 3).toInt)(s"k:$k")  // 0, 1 or 2 copies
      }
      .collect()
      .run()
    val expected = (1 to 10).filter(_ % 5 != 0)
      .flatMap(k => Seq.fill(k % 3)(s"k:$k"))
    assert(r.results.sorted === expected.sorted)
    assert(r.errors.size === 2)                  // 5 and 10
  }

  test("mapE Left routes to the error channel without exceptions") {
    val r = ExecutionBuilder.seqReader(spark, Seq(1L, 2L, 3L), parts = 1)
      .mapE(k => if (k == 2) Left("bad two") else Right(k * 10))
      .run()
    assert(r.results.toSet === Set(10L, 30L))
    assert(r.errors === Seq("bad two"))
  }

  test("erroring accumulate: [0 results, N errors] (test_errors.py accumulate case)") {
    val all = ExecutionBuilder.seqReader(spark, (1 to 50).map(_.toLong), parts = 4)
      .accumulate(0L)((_, k) => throw new IllegalStateException(s"acc $k"))
      .collect()
      .run()
    assert(all.results.isEmpty)     // no zero-valued partials leak out
    assert(all.errors.size === 50)

    // partially-erroring accumulate still folds the good records
    val part = ExecutionBuilder.seqReader(spark, (1 to 10).map(_.toLong), parts = 2)
      .accumulate(0L)((a, k) => if (k % 2 == 0) throw new RuntimeException(s"e$k") else a + k)
      .collect()
      .accumulate(0L)(_ + _)
      .run()
    assert(part.results === Seq(Seq(1L, 3L, 5L, 7L, 9L).sum))
    assert(part.errors.size === 5)
  }

  test("errors survive accumulate and reshuffle") {
    implicit val mr: MRRecord[Long] = MRRecord(k => s"k:$k")
    val r = ExecutionBuilder.seqReader(spark, (1 to 20).map(_.toLong), parts = 4)
      .map[Long](k => if (k <= 5) throw new RuntimeException(s"e$k") else k)
      .reshuffle()
      .accumulate(0L)(_ + _)
      .collect()
      .accumulate(0L)(_ + _)
      .run()
    assert(r.results === Seq((6 to 20).map(_.toLong).sum))
    assert(r.errors.size === 5)
  }

  test("reshuffle co-locates records with equal hash tags") {
    implicit val mr: MRRecord[(String, Long)] = MRRecord(_._1)
    val data = (1 to 40).map(i => (s"tag${i % 4}", i.toLong))
    val ds = ExecutionBuilder.seqReader(spark, data, parts = 8)
      .reshuffle(parts = 4)
      .toDataset
    import org.apache.spark.sql.functions.spark_partition_id
    val placed = ds.toDF("key", "v").withColumn("pid", spark_partition_id())
      .select("key", "pid").distinct().collect()
    // each key must live in exactly one partition
    val byKey = placed.groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).toSet)
    byKey.foreach { case (k, pids) => assert(pids.size === 1, s"key $k split across $pids") }
  }

  // Straggler semantics (lmrtest.unevenwork, reference
  // tests/mr_test_module/src/lib.rs:691-714; pytests/test_basic.py:49-78):
  // ONE partition is much slower than the rest — the execution must
  // wait for it and return complete results, not drop or truncate.
  test("straggler: one slow partition still completes with full results (unevenwork)") {
    val t0 = System.nanoTime()
    val r = ExecutionBuilder.seqReader(spark, (1 to 32).map(_.toLong), parts = 8)
      .map { k => if (k == 7L) Thread.sleep(1500); k * 2 }
      .collect()
      .run()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(r.errors.isEmpty)
    assert(r.results.sorted === (1 to 32).map(_ * 2L).sorted)
    // the fast partitions finish in ms; completing only after the
    // straggler proves the gather awaited the slow shard
    assert(elapsedMs >= 1500, s"finished in $elapsedMs ms — straggler not awaited")
  }

  // reachmaxidle against a genuinely skewed execution (reference
  // lib.rs:766-797): the OTHER partitions complete quickly, but the
  // one straggler holds the execution past the idle budget — expiry
  // must yield the reference's error result, not partial results and
  // not an exception.
  test("straggler vs tight max-idle: clean partial-error result (reachmaxidle)") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 32).map(_.toLong), parts = 8)
      .map { k => if (k == 7L) Thread.sleep(30000); k }
      .run(maxIdleMs = 1000)
    assert(r.results.isEmpty)
    assert(r.errors === Seq("execution max idle reached"))
  }

  test("max-idle timeout yields the reference error string, not an exception") {
    val r = ExecutionBuilder.seqReader(spark, (1 to 8).map(_.toLong), parts = 2)
      .map { k => Thread.sleep(5000); k }
      .run(maxIdleMs = 300)
    assert(r.results.isEmpty)
    assert(r.errors === Seq("execution max idle reached"))
  }

  test("a run after a max-idle timeout completes in full (no cancelled job group leaks)") {
    val timedOut = ExecutionBuilder.seqReader(spark, (1 to 8).map(_.toLong), parts = 2)
      .map { k => Thread.sleep(5000); k }
      .run(maxIdleMs = 300)
    assert(timedOut.errors === Seq("execution max idle reached"))
    val r = ExecutionBuilder.seqReader(spark, (1 to 32).map(_.toLong), parts = 4)
      .map(_ * 3)
      .run()
    assert(r.errors.isEmpty)
    assert(r.results.sorted === (1 to 32).map(_ * 3L))
  }

  test("erroring reader: per-record errors, execution completes (test_errors.py reader case)") {
    val reader = new Reader[Long] {
      def numPartitions = 2
      def read(p: Int): Iterator[Long] = Iterator.range(0, 10).map { i =>
        if (i % 3 == 0) throw new RuntimeException(s"read fail $p:$i") else p * 100L + i
      }
    }
    val r = ExecutionBuilder.reader(spark, reader).collect().run()
    // i=0 throws, then 1,2 ok, i=3 throws, ... per partition: 4 errors (0,3,6,9), 6 values
    assert(r.errors.size === 8)
    assert(r.results.size === 12)
    assert(r.errors.forall(_.startsWith("read fail")))
  }

  test("reader whose cursor breaks mid-scan yields one error and completes") {
    val reader = new Reader[Long] {
      def numPartitions = 1
      def read(p: Int): Iterator[Long] = new Iterator[Long] {
        private var i = 0
        override def hasNext: Boolean =
          if (i >= 5) throw new IllegalStateException("cursor lost") else true
        override def next(): Long = { i += 1; i.toLong }
      }
    }
    val r = ExecutionBuilder.reader(spark, reader).run()
    assert(r.results === Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.errors === Seq("cursor lost"))
  }

  test("generic Reader trait: one iterator per partition") {
    val reader = new Reader[Long] {
      def numPartitions = 3
      def read(p: Int): Iterator[Long] = Iterator.range(p * 10, p * 10 + 5).map(_.toLong)
    }
    val r = ExecutionBuilder.reader(spark, reader).collect().run()
    assert(r.results.size === 15)
    assert(r.results.toSet === Set(0, 1, 2, 3, 4, 10, 11, 12, 13, 14, 20, 21, 22, 23, 24).map(_.toLong))
  }
}
