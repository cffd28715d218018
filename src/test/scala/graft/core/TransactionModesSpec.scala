package graft.core

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import graft.streaming.CommitLogFamily

/** Transaction mode + concurrency semantics, mirroring the reference's
  * TransactionLogObserver suites (two coordinators, conflicting and
  * non-conflicting interleavings, parallel commit storms).
  */
class TransactionModesSpec extends SparkSpec {

  private def fam() =
    new CommitLogFamily(spark, Files.createTempDirectory("graft-tx-").toString + "/log")

  private def up(key: String, attr: String, stamp: Long, v: String) =
    StreamElement("user", key, attr, s"u-$key-$attr-$stamp", 0, stamp,
      v.getBytes("UTF-8"), delete = false, deleteWildcard = false)

  test("read-your-writes: a tx get sees its own buffered writes pre-commit") {
    val f = fam()
    f.append(Seq(up("k", "a", 1, "committed")))
    val coord = new TransactionCoordinator(f)
    val tx = coord.begin()
    // before any buffered write: committed value
    assert(tx.get("k", "a").map(e => new String(e.value, "UTF-8"))
      .contains("committed"))
    // own write wins over committed storage
    tx.update(up("k", "a", 10, "mine"))
    assert(tx.get("k", "a").map(e => new String(e.value, "UTF-8"))
      .contains("mine"))
    // latest buffered write wins among several
    tx.update(up("k", "a", 11, "mine2"))
    assert(tx.get("k", "a").map(e => new String(e.value, "UTF-8"))
      .contains("mine2"))
    // buffered delete reads as absent
    tx.update(StreamElement("user", "k", "a", "d-1", 0, 12, null,
      delete = true, deleteWildcard = false))
    assert(tx.get("k", "a").isEmpty)
    // a buffered wildcard tombstone covers the whole prefix
    tx.update(StreamElement("user", "k", "dev.*", "d-2", 0, 13, null,
      delete = true, deleteWildcard = true))
    assert(tx.get("k", "dev.1").isEmpty)
    tx.commit()
    // and the committed state agrees with what the tx read
    assert(new graft.randomaccess.RandomAccessReader(f).get("k", "a").isEmpty)
  }

  test("ATTRIBUTE mode: conflicts only on the same cell") {
    val f = fam()
    val coord = new TransactionCoordinator(f, TransactionMode.Attribute)
    val t1 = coord.begin(); val t2 = coord.begin(); val t3 = coord.begin()
    t1.get("u1", "a"); t2.get("u1", "a"); t3.get("u1", "b")
    t1.update(up("u1", "a", 1, "x"))
    t1.commit()
    // same cell -> abort
    t2.update(up("u1", "a", 2, "y"))
    intercept[coord.TransactionRejectedException](t2.commit())
    // same key, different attribute -> fine under ATTRIBUTE
    t3.update(up("u1", "b", 3, "z"))
    t3.commit()
  }

  test("KEY mode: any attribute of a touched key conflicts") {
    val f = fam()
    val coord = new TransactionCoordinator(f, TransactionMode.Key)
    val t1 = coord.begin(); val t2 = coord.begin(); val t3 = coord.begin()
    t1.update(up("u1", "a", 1, "x"))
    t1.commit()
    // different attribute, same key -> abort under KEY
    t2.update(up("u1", "b", 2, "y"))
    intercept[coord.TransactionRejectedException](t2.commit())
    // different key -> fine
    t3.update(up("u2", "a", 3, "z"))
    t3.commit()
  }

  test("ALL mode: any concurrent commit conflicts") {
    val f = fam()
    val coord = new TransactionCoordinator(f, TransactionMode.All)
    val t1 = coord.begin(); val t2 = coord.begin()
    t1.update(up("u1", "a", 1, "x"))
    t1.commit()
    t2.update(up("u9", "zzz", 2, "unrelated"))
    intercept[coord.TransactionRejectedException](t2.commit())
    // a fresh transaction (snapshot after t1's commit) is fine
    val t3 = coord.begin()
    t3.update(up("u9", "zzz", 3, "ok"))
    t3.commit()
  }

  test("write-write race aborts even without a prior read") {
    val f = fam()
    val coord = new TransactionCoordinator(f, TransactionMode.Attribute)
    val t1 = coord.begin(); val t2 = coord.begin()
    t1.update(up("u1", "a", 1, "first"))
    t2.update(up("u1", "a", 2, "lost-update"))
    t1.commit()
    intercept[coord.TransactionRejectedException](t2.commit())
  }

  test("two coordinators over one family see each other's commits") {
    val f = fam()
    val c1 = new TransactionCoordinator(f, TransactionMode.Attribute)
    val c2 = new TransactionCoordinator(f, TransactionMode.Attribute)
    val t1 = c1.begin()
    val t2 = c2.begin()
    t1.get("u1", "a"); t2.get("u1", "a")
    t1.update(up("u1", "a", 1, "c1-wins"))
    val s1 = t1.commit()
    t2.update(up("u1", "a", 2, "c2-stale"))
    intercept[c2.TransactionRejectedException](t2.commit())
    // sequence ids advance across coordinators, not per coordinator
    val t3 = c2.begin()
    t3.update(up("u2", "a", 3, "fresh"))
    assert(t3.commit() > s1)
    val vals = new graft.randomaccess.RandomAccessReader(f).get("u1", "a")
    assert(vals.map(e => new String(e.value, "UTF-8")).contains("c1-wins"))
  }

  test("TWO coordinator instances racing on one cell: one winner per round") {
    // the round-2 gap: a per-instance lock cannot serialize two
    // coordinators — both scan before either appends and both commit.
    // The storage-keyed arbiter must yield exactly one winner per round.
    val dir = Files.createTempDirectory("graft-tx-").toString + "/log"
    val c1 = new TransactionCoordinator(
      new CommitLogFamily(spark, dir), TransactionMode.Attribute)
    val c2 = new TransactionCoordinator(
      new CommitLogFamily(spark, dir), TransactionMode.Attribute)
    val pool = Executors.newFixedThreadPool(2)
    var winners = 0
    for (round <- 1 to 3) {
      val t1 = c1.begin(); val t2 = c2.begin() // both snapshot BEFORE racing
      t1.update(up("hot", "cell", round * 10L, s"c1-r$round"))
      t2.update(up("hot", "cell", round * 10L + 1, s"c2-r$round"))
      val start = new CountDownLatch(1)
      val results = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Boolean]())
      Seq(t1, t2).foreach { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try { t.commit(); results.add(true) }
            catch { case _: Exception => results.add(false) }
          }
        })
      }
      start.countDown()
      val deadline = System.currentTimeMillis() + 120000
      while (results.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      assert(results.asScala.count(identity) == 1,
        s"round $round: exactly one of two racing coordinators must win, got $results")
      winners += 1
    }
    pool.shutdown()
    val fam = new CommitLogFamily(spark, dir)
    val all = fam.batchUpdates().collect()
    assert(all.length == winners, s"one row per won round, got ${all.length}")
    assert(all.map(_.seqId).distinct.length == winners, "seqIds must be unique")
  }

  test("marker lock: mutual exclusion, own-claim release, stale-lease break") {
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = Files.createTempDirectory("graft-lock-").toString + "/_commit.lock"
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val pool = Executors.newFixedThreadPool(4)
    val inLock = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
    (1 to 4).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          CommitArbiter.withMarkerLock(conf, lock) {
            if (inLock.incrementAndGet() != 1) overlap.set(true)
            order.add(s"enter-$i"); Thread.sleep(40)
            inLock.decrementAndGet(); order.add(s"exit-$i")
          }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(!overlap.get(), "two holders were inside the lock simultaneously")
    assert(order.size == 8, s"every contender must eventually enter+exit: $order")
    // a crashed holder's stale lock is broken after the lease expires
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val p = new org.apache.hadoop.fs.Path(lock)
    fs.create(p, false).close()
    fs.setTimes(p, System.currentTimeMillis() - 120000, -1) // long-dead holder
    var ran = false
    CommitArbiter.withMarkerLock(conf, lock, leaseMs = 1000) { ran = true }
    assert(ran, "stale lock must be reclaimed")
    assert(!fs.exists(p), "lock released after use")
  }

  test("marker lock: heartbeat keeps a live holder's lease from being broken") {
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = Files.createTempDirectory("graft-lock-hb-").toString + "/_commit.lock"
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val pool = Executors.newFixedThreadPool(1)
    // the holder's commit runs 2.5 lease intervals — without the mtime
    // heartbeat the waiter would break the lease at ~one interval and run
    // concurrently with the still-live holder. The lease is generous
    // (2s, beats every 500ms) so a CI scheduler stall between beats
    // cannot make the waiter's break legitimate and flake the ordering
    pool.submit(new Runnable {
      override def run(): Unit =
        CommitArbiter.withMarkerLock(conf, lock, leaseMs = 2000) {
          order.add("holder-enter"); Thread.sleep(5000); order.add("holder-exit")
        }
    })
    pool.shutdown()
    Thread.sleep(100) // let the holder claim first
    CommitArbiter.withMarkerLock(conf, lock, leaseMs = 2000) {
      order.add("waiter-enter")
    }
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(order.toArray.toSeq ==
      Seq("holder-enter", "holder-exit", "waiter-enter"),
      s"waiter must not preempt a heartbeating holder: $order")
  }

  test("parallel commit storm on one cell: exactly one winner per round") {
    val f = fam()
    val coord = new TransactionCoordinator(f, TransactionMode.Attribute)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Boolean]())
    // 4 transactions snapshot BEFORE any commit, then race
    val txs = (1 to 4).map { i =>
      val t = coord.begin()
      t.update(up("hot", "cell", 100 + i, s"w$i"))
      t
    }
    txs.foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try { t.commit(); results.add(true) }
          catch { case _: Exception => results.add(false) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(identity) == 1,
      s"exactly one racing transaction must win, got $results")
    assert(f.batchUpdates().count() == 1)
  }

  /** Replays a commitMany schedule through the SEQUENTIAL API on its own
    * family: same begins, updates, commits, in schedule order. Returns
    * outcomes in commit order, Right(seq) or Left(reject message).
    */
  private def sequentialReplay(f: graft.streaming.AttributeLogFamily,
      mode: TransactionMode,
      schedule: Seq[TransactionCoordinator.ScheduleStep])
      : Seq[(Int, Either[String, Long])] = {
    import TransactionCoordinator.ScheduleStep._
    val coord = new TransactionCoordinator(f, mode)
    val open = collection.mutable.Map.empty[Int, coord.Transaction]
    val out = collection.mutable.ArrayBuffer.empty[(Int, Either[String, Long])]
    schedule.foreach {
      case Begin(i) => open(i) = coord.begin()
      case Update(i, e) => open(i).update(e)
      case Commit(i) =>
        out += ((i,
          try Right(open(i).commit())
          catch { case e: Exception => Left(e.getMessage) }))
    }
    out.toSeq
  }

  test("LAW: commitMany == the sequential schedule (winners, seqIds, log)") {
    import TransactionCoordinator.{ScheduleStep => St}
    val schedules: Seq[Seq[TransactionCoordinator.ScheduleStep]] = Seq(
      // a contention-rich deterministic schedule: pairs racing one cell
      // (loser must abort), interleaved begins, a no-conflict different-
      // attribute pair, and a three-way race with one winner
      Seq(
        // pair race on one cell: 0 wins, 1 aborts
        St.Begin(0), St.Begin(1),
        St.Update(0, up("u1", "bal", 1, "a")), St.Commit(0),
        St.Update(1, up("u1", "bal", 2, "b")), St.Commit(1),
        // different attribute, same key: conflicts only under KEY mode
        St.Begin(2), St.Begin(3),
        St.Update(2, up("u1", "name", 3, "c")), St.Commit(2),
        St.Update(3, up("u1", "mail", 4, "d")), St.Commit(3),
        // three-way race on a fresh cell: first commit wins, two abort
        St.Begin(4), St.Begin(5), St.Begin(6),
        St.Update(4, up("u2", "bal", 5, "e")),
        St.Update(5, up("u2", "bal", 6, "f")),
        St.Update(6, up("u2", "bal", 7, "g")),
        St.Commit(4), St.Commit(5), St.Commit(6),
        // begins AFTER earlier commits see them in their snapshot
        St.Begin(7), St.Update(7, up("u1", "bal", 8, "h")), St.Commit(7)),
      // an empty-write commit persists nothing, so the next begin must
      // not see its seq
      Seq(
        St.Begin(0), St.Update(0, up("u1", "bal", 1, "a")), St.Commit(0),
        St.Begin(1), St.Commit(1),
        St.Begin(2), St.Update(2, up("u1", "bal", 2, "b")), St.Commit(2)))
    for (schedule <- schedules;
         mode <- Seq(TransactionMode.Attribute, TransactionMode.Key)) {
      val fBatch = fam(); val fSeq = fam()
      val cb = new TransactionCoordinator(fBatch, mode)
      val batched = cb.commitMany(schedule)
        .map(o => (o.txn, o.result))
      val sequential = sequentialReplay(fSeq, mode, schedule)
      // same winners with same seqIds, same losers (messages may differ)
      assert(batched.map { case (t, r) => (t, r.toOption) } ==
        sequential.map { case (t, r) => (t, r.toOption) },
        s"mode $mode: batched=$batched sequential=$sequential")
      // and the committed logs are row-identical
      val a = fBatch.batchUpdates().toDF()
        .selectExpr("key", "attribute", "seqId", "cast(value as string)")
        .collect().map(_.toString).sorted.toSeq
      val b = fSeq.batchUpdates().toDF()
        .selectExpr("key", "attribute", "seqId", "cast(value as string)")
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"mode $mode: committed logs diverge")
    }
  }

  test("commitMany: reuse of a committed txn id and update-before-begin throw") {
    val f = fam()
    val coord = new TransactionCoordinator(f)
    import TransactionCoordinator.{ScheduleStep => St}
    intercept[IllegalArgumentException](coord.commitMany(Seq(
      St.Begin(0), St.Begin(0))))
    intercept[IllegalArgumentException](coord.commitMany(Seq(
      St.Update(1, up("k", "a", 1, "x")))))
    intercept[IllegalArgumentException](coord.commitMany(Seq(
      St.Begin(2), St.Commit(2), St.Commit(2))))
  }
}
