package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.spark.implicits._

/** StreamConf scoping via per-start session clones (VERDICT r10 item #5):
  * a streaming start gets the streaming shuffle width while the caller's
  * session conf is NEVER mutated — so a batch query planned concurrently
  * (the r9/r10 residual window) keeps the batch width unconditionally.
  * Test session: batch width 4, streaming width 8 (GraftSession).
  */
class StreamConfSpec extends SparkSpec {

  private val ShuffleKey = "spark.sql.shuffle.partitions"

  test("scoped start runs on a clone with the streaming width; parent conf untouched") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val counts = input.toDS().toDF("k", "v").groupBy("k").count()

    assert(spark.conf.get(ShuffleKey) == "4")
    val q = StreamConf.scoped(counts) { ds =>
      // the rebound frame lives on a DIFFERENT session owning the width
      assert(ds.sparkSession ne spark)
      assert(ds.sparkSession.conf.get(ShuffleKey) == "8")
      // the parent is untouched WHILE the scoped start is in flight —
      // this was the old implementation's residual window
      assert(spark.conf.get(ShuffleKey) == "4")
      ds.writeStream.format("memory").queryName("streamconf_width")
        .outputMode("update").start()
    }
    try {
      input.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      // the state store really partitioned at the streaming width
      val stateParts = q.lastProgress.stateOperators.apply(0).numShufflePartitions
      assert(stateParts == 8L, s"state partitions: $stateParts")
      // and the clone inherited the parent's RUNTIME conf (cloneSession,
      // not newSession — newSession would reset to initial conf)
      assert(q.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally q.stop()
    assert(spark.conf.get(ShuffleKey) == "4", "parent width must survive")
  }

  test("batch query planned concurrently with scoped starts keeps the session width") {
    implicit val sq = spark.sqlContext
    // sampler thread: hammer the parent conf + plan a batch aggregation
    // while scoped starts happen; ANY observation of the streaming width
    // is the bug the clone removed
    val stop = new AtomicBoolean(false)
    @volatile var violation: Option[String] = None
    val sampler = new Thread(() => {
      while (!stop.get() && violation.isEmpty) {
        val w = spark.conf.get(ShuffleKey)
        if (w != "4") violation = Some(s"sampled conf width $w")
      }
    })
    sampler.start()
    try {
      (1 to 5).foreach { i =>
        val input = MemoryStream[(String, Long)]
        val agg = input.toDS().toDF("k", "v").groupBy("k").count()
        val q = StreamConf.scoped(agg)(_.writeStream.format("memory")
          .queryName(s"streamconf_race_$i").outputMode("update").start())
        try {
          input.addData(("x", i.toLong))
          q.processAllAvailable()
        } finally q.stop()
      }
    } finally {
      stop.set(true)
      sampler.join()
    }
    assert(violation.isEmpty, violation.toString)
  }

  test("unset key is a no-op: same session, no clone") {
    val vanilla = org.apache.spark.sql.GraftSqlBridge.cloneSession(spark)
    vanilla.conf.unset(StreamConf.Key)
    val df = org.apache.spark.sql.GraftSqlBridge.rebind(
      Seq(1, 2).toDF("x"), vanilla)
    StreamConf.scoped(df) { ds =>
      assert(ds.sparkSession eq vanilla)
      assert(ds eq df)
    }
  }

  test("memory-sink read-back goes through the clone (StreamCollector end to end)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val rows = StreamCollector.collect(input.toDS(), limit = 3,
      timeoutMs = 30000)
    assert(rows.sorted == Seq(1, 2, 3))
  }

  test("rebind preserves plan semantics for a batch frame") {
    val child = org.apache.spark.sql.GraftSqlBridge.cloneSession(spark)
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val re = org.apache.spark.sql.GraftSqlBridge.rebind(df, child)
    assert(re.sparkSession eq child)
    assert(re.groupBy("k").agg(sum("v")).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet == Set(("a", 3L), ("b", 3L)))
  }

  test("the configured checkpoint file manager class loads") {
    Class.forName(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass"))
  }
}
