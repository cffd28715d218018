package graft.streaming

import graft.SparkSpec
import graft.core.StreamElement

/** The `kafka://` family over the REAL TCP wire ([[KafkaWire]]): the
  * broker is a socket server (in this JVM for these tests, loopback —
  * the same bytes cross-process in KafkaWireSmokeSpec), and every fetch,
  * produce, offset resolution and group commit is a network round trip.
  * The seam laws re-run here are the KafkaSeamSpec set that touches the
  * broker; what changes is WHO moves the bytes: executor tasks fetch
  * their splits and produce their rows themselves — the networked plan
  * shape the in-JVM double could not express.
  */
class KafkaWireSpec extends SparkSpec {

  private val server = new KafkaWire.Server(0).start()
  private def broker = s"tcp:127.0.0.1:${server.port}"

  private def up(key: String, attr: String, stamp: Long, v: String) =
    StreamElement("gw", key, attr, s"u-$key-$attr-$stamp", 0, stamp,
      v.getBytes("UTF-8"), delete = false, deleteWildcard = false)

  test("wire protocol: append/latest/slice/commit/committed round-trip " +
      "over a real socket with dense per-partition offsets") {
    val t = EmbeddedKafka.topic(broker, "w-proto", 4)
    assert(t.isInstanceOf[EmbeddedKafka.RemoteTopic])
    val recs = (1 to 20).map(i => t.append(up("k1", "a", i, s"v$i")))
    assert(recs.map(_.partition).distinct.size == 1,
      "one (key, attribute) stays in one partition across the wire")
    assert(recs.map(_.offset) == (0 until 20).map(_.toLong))
    assert(t.latestOffsets.values.sum == 20)
    val p = recs.head.partition
    val sliced = t.slice(p, 5, 10)
    assert(sliced.map(_.stamp).toSeq == (6L to 10L),
      "slice is the offset range [from, until)")
    t.commit("g", Map(p -> 7L))
    assert(t.committed("g") == Map(p -> 7L))
    // commit monotonicity holds on the broker, not the client
    t.commit("g", Map(p -> 3L))
    assert(t.committed("g") == Map(p -> 7L))
    // a null value survives the wire (tombstones)
    val del = StreamElement("gw", "kd", "a", "u-del", 0, 99, null,
      delete = true, deleteWildcard = false)
    val r = t.append(del)
    val back = t.slice(r.partition, r.offset, r.offset + 1).head
    assert(back.value == null && back.delete)
  }

  test("consumer-group observe/ack over the wire: ack commits, the " +
      "uncommitted tail replays to the next consumer") {
    val t = EmbeddedKafka.topic(broker, "w-groups", 2)
    (1 to 6).foreach(i => t.append(up(s"k$i", "a", i, s"v$i")))
    val c1 = new EmbeddedKafka.Consumer(t, "g1")
    val first = c1.pollUncommitted()
    assert(first.size == 6)
    c1.ack(first.take(4))
    val replay = new EmbeddedKafka.Consumer(t, "g1").pollUncommitted()
    assert(replay.map(_.element.uuid).toSet ==
      first.drop(4).map(_.element.uuid).toSet)
  }

  test("DSv2 batch write PRODUCES from executor tasks over the socket; " +
      "batch read FETCHES splits over the socket") {
    import graft.SparkSpec.spark.implicits._
    val t = EmbeddedKafka.topic(broker, "w-dsv2", 4)
    val fam = new KafkaLogFamily(spark, t)
    val elems = (1 to 40).map(i => up(s"k$i", "a", i, s"v$i"))
    fam.append(spark.createDataset(elems).repartition(8))
    assert(t.latestOffsets.values.sum == 40, "all 40 produced to the broker")
    val back = fam.batchUpdates().collect()
    assert(back.length == 40 &&
      back.map(_.uuid).toSet == elems.map(_.uuid).toSet)
    // stamp-range pushup still applies over the wire family
    assert(fam.batchUpdates(from = 10, until = 20).count() == 10)
  }

  test("streaming over the wire broker: replay, restart from checkpoint, " +
      "group commit on the broker (the observe+ack pairing)") {
    val t = EmbeddedKafka.topic(broker, "w-stream", 2)
    val fam = new KafkaLogFamily(spark, t)
    fam.append(Seq(up("k1", "a", 1, "v1"), up("k2", "a", 2, "v2"),
      up("k3", "a", 3, "v3")))
    val cp = java.nio.file.Files.createTempDirectory("graft-wire-cp-").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = fam.streamFromOldest("g-wire").writeStream
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamElement], _: Long) =>
            b.collect().foreach(e => seen.add(e.uuid))
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(seen.size == 3, "first run replays the full log")
    fam.append(Seq(up("k4", "a", 4, "v4"), up("k5", "a", 5, "v5")))
    run()
    assert(seen.size == 5, s"restart resumes from checkpointed offsets: $seen")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.distinct.size == 5, "no record twice")
    // the group position landed ON THE BROKER (offsets of finished
    // batches commit when their successor starts — the final batch may
    // stay uncommitted, exactly the at-least-once ack contract)
    assert(t.committed("g-wire").values.sum >= 3,
      s"committed: ${t.committed("g-wire")}")
  }

  test("a refused frame mid-batch leaves the log UNTOUCHED: the full " +
      "batch decodes before any append, so the retry never duplicates " +
      "an applied prefix") {
    val t = EmbeddedKafka.topic(broker, "w-atomic-batch", 2)
    // hand-craft an OpAppendBatch of 2 where the SECOND frame claims a
    // hostile 128 MiB value (over the 64 MiB cap): the broker must
    // refuse the whole batch, not durably apply element 1
    val sock = new java.net.Socket("127.0.0.1", server.port)
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      out.writeByte(KafkaWire.OpAppendBatch)
      out.writeUTF("w-atomic-batch")
      out.writeInt(2)
      KafkaWire.writeElement(out, up("k1", "a", 1, "v1"))
      // frame 2: valid header, then a value-length claim of 1 << 27
      out.writeUTF("gw"); out.writeUTF("k2"); out.writeUTF("a")
      out.writeUTF("u-hostile"); out.writeLong(0L); out.writeLong(2L)
      out.writeInt(1 << 27)
      out.flush()
      // server kills the connection on refusal — the read fails loudly
      intercept[Exception] {
        val in = new java.io.DataInputStream(sock.getInputStream)
        sock.setSoTimeout(5000)
        if (in.readInt() != 2) sys.error("unexpected ack")
      }
    } finally sock.close()
    assert(t.latestOffsets.values.sum == 0,
      "refused batch left NO prefix in the log")
    // a clean retry of the same logical batch (sans hostile frame) lands
    // exactly once
    t.appendAll(Seq(up("k1", "a", 1, "v1")))
    assert(t.latestOffsets.values.sum == 1)
  }

  test("a CREATE frame claiming more partitions than the cap is refused " +
      "before allocation: the client throws, the broker keeps serving") {
    intercept[Exception] {
      KafkaWire.withClient(broker)(_.create("w-too-wide", (1 << 16) + 1))
    }
    assert(EmbeddedKafka.topic(broker, "w-too-wide", 2).numPartitions == 2)
  }

  test("resolve RE-VALIDATES the partition count against the broker: a " +
      "drop+recreate at a different width from elsewhere never leaves a " +
      "stale cached handle routing by the wrong count") {
    val t4 = EmbeddedKafka.topic(broker, "w-revalidate", 4)
    assert(t4.numPartitions == 4)
    // "another process" drops and recreates the topic 2-wide, bypassing
    // this JVM's handle cache entirely
    KafkaWire.withClient(broker) { c =>
      c.drop("w-revalidate"); c.create("w-revalidate", 2)
    }
    val t2 = EmbeddedKafka.topic(broker, "w-revalidate", 4)
    assert(t2.numPartitions == 2,
      "resolve must return the broker's actual width, not the cached 4")
    assert(t2.latestOffsets.keySet == Set(0, 1))
  }

  test("drop reaches a wire broker even when THIS process never cached " +
      "a handle for the topic") {
    // created by "another process": raw client, never via EmbeddedKafka
    KafkaWire.withClient(broker) { c =>
      c.create("w-drop-foreign", 3)
      c.appendBatch("w-drop-foreign", Iterator(up("k1", "a", 1, "v1")))
    }
    assert(KafkaWire.withClient(broker)(_.latest("w-drop-foreign"))
      .values.sum == 1)
    EmbeddedKafka.drop(broker, "w-drop-foreign")
    // the broker's log is gone: a fresh resolve sees an empty topic at
    // the requested width
    val fresh = EmbeddedKafka.topic(broker, "w-drop-foreign", 5)
    assert(fresh.numPartitions == 5 && fresh.latestOffsets.values.sum == 0)
  }

  test("8 concurrent producers over 8 wire connections to 8 DISTINCT " +
      "partitions: no loss, dense offsets, per-producer order preserved " +
      "(the broker thread-per-connection + per-partition locks scale " +
      "with splits, like the reference's per-partition consumption)") {
    val t = EmbeddedKafka.topic(broker, "w-concurrent", 8)
    // one key per partition: each producer owns a partition exclusively
    def keyFor(p: Int): String = Iterator.from(0).map(i => s"ck$i")
      .find(k => t.partitionFor(up(k, "a", 1, "x")) == p).get
    val keys = (0 until 8).map(keyFor)
    val perProducer = 250
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = keys.zipWithIndex.map { case (k, p) =>
      new Thread(() => {
        try {
          // a persistent connection per producer — requests from
          // different producers interleave on the broker concurrently
          val (h, port) = KafkaWire.hostPort(broker)
          val c = new KafkaWire.Client(h, port)
          try (1 to perProducer).foreach { i =>
            val (part, off) = c.append("w-concurrent", up(k, "a", i.toLong, s"v$p-$i"))
            assert(part == p, s"producer $p landed in partition $part")
            assert(off >= 0)
          } finally c.close()
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(errors.isEmpty, s"producer failures: ${errors.peek()}")
    val latest = t.latestOffsets
    assert((0 until 8).forall(p => latest(p) == perProducer.toLong),
      s"every partition must hold exactly $perProducer records: $latest")
    // per-producer order: each producer's appends were sequential round
    // trips into its own partition, so stamps read back ascending
    (0 until 8).foreach { p =>
      val stamps = t.slice(p, 0, Long.MaxValue).map(_.stamp).toSeq
      assert(stamps == (1L to perProducer.toLong),
        s"partition $p order broken: ${stamps.take(10)}...")
    }
  }

  test("synchronous replication (acks=all): every acked mutation — " +
      "appends, group commits, create, drop — exists on the follower " +
      "before the producer's ack") {
    val follower = new KafkaWire.Server(0).start()
    val leader = new KafkaWire.Server(0,
      followers = Seq(s"tcp:127.0.0.1:${follower.port}")).start()
    try {
      val lt = EmbeddedKafka.topic(s"tcp:127.0.0.1:${leader.port}", "w-repl", 4)
      val recs = (1 to 30).map(i => lt.append(up(s"k$i", "a", i, s"v$i")))
      lt.commit("g-r", Map(recs.head.partition -> 3L))
      // the follower address serves the SAME log, byte-identical
      val ft = EmbeddedKafka.topic(s"tcp:127.0.0.1:${follower.port}", "w-repl", 4)
      assert(ft.latestOffsets == lt.latestOffsets)
      (0 until 4).foreach { p =>
        val (l, f) = (lt.slice(p, 0, Long.MaxValue), ft.slice(p, 0, Long.MaxValue))
        assert(l.map(_.uuid).toSeq == f.map(_.uuid).toSeq, s"partition $p diverged")
        assert(l.map(e => new String(e.value, "UTF-8")).toSeq ==
          f.map(e => new String(e.value, "UTF-8")).toSeq)
      }
      assert(ft.committed("g-r") == Map(recs.head.partition -> 3L),
        "group positions replicate — a consumer resumes off the follower")
      // drop replicates too
      EmbeddedKafka.drop(s"tcp:127.0.0.1:${leader.port}", "w-repl")
      assert(KafkaWire.withClient(s"tcp:127.0.0.1:${follower.port}")(
        _.topics()).isEmpty, "drop must reach the follower")
    } finally { leader.close(); follower.close() }
  }

  test("replicas CONVERGE under concurrent producers: offset-explicit " +
      "forwarding + follower reassembly make the logs byte-identical " +
      "regardless of connection interleave") {
    val follower = new KafkaWire.Server(0).start()
    val leader = new KafkaWire.Server(0,
      followers = Seq(s"tcp:127.0.0.1:${follower.port}")).start()
    try {
      val leaderB = s"tcp:127.0.0.1:${leader.port}"
      val lt = EmbeddedKafka.topic(leaderB, "w-repl-conc", 4)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      // 8 producers over 8 connections, keys colliding across partitions
      val threads = (0 until 8).map { tid =>
        new Thread(() => {
          try {
            val (h, p) = KafkaWire.hostPort(leaderB)
            val c = new KafkaWire.Client(h, p)
            try (1 to 100).foreach { i =>
              c.append("w-repl-conc", up(s"k${i % 5}", "a",
                tid * 1000L + i, s"v$tid-$i")); ()
            } finally c.close()
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(errors.isEmpty, s"producer failures: ${errors.peek()}")
      val ft = EmbeddedKafka.topic(s"tcp:127.0.0.1:${follower.port}",
        "w-repl-conc", 4)
      assert(lt.latestOffsets.values.sum == 800)
      assert(ft.latestOffsets == lt.latestOffsets,
        "follower must hold every acked record (no reassembly gap)")
      (0 until 4).foreach { p =>
        assert(lt.slice(p, 0, Long.MaxValue).map(_.uuid).toSeq ==
          ft.slice(p, 0, Long.MaxValue).map(_.uuid).toSeq,
          s"partition $p order diverged between replicas")
      }
    } finally { leader.close(); follower.close() }
  }

  test("acks=all fails LOUDLY when a follower dies: no acked-but-" +
      "under-replicated records, and the follower serves everything " +
      "acked before the leader's death (operator failover); a fresh " +
      "replica re-joins via syncFrom byte-identical") {
    val follower = new KafkaWire.Server(0).start()
    val followerB = s"tcp:127.0.0.1:${follower.port}"
    val leader = new KafkaWire.Server(0, followers = Seq(followerB)).start()
    val leaderB = s"tcp:127.0.0.1:${leader.port}"
    try {
      val lt = EmbeddedKafka.topic(leaderB, "w-failover", 2)
      (1 to 50).foreach(i => lt.append(up(s"k$i", "a", i, s"v$i")))
      // LEADER dies. Readers repoint to the follower: every acked
      // record is there (that is what acks=all bought)
      leader.close()
      val ft = EmbeddedKafka.topic(followerB, "w-failover", 2)
      assert(ft.latestOffsets.values.sum == 50)
      val elems = (0 until 2).flatMap(p => ft.slice(p, 0, Long.MaxValue))
      assert(elems.map(_.uuid).toSet == (1 to 50).map(i =>
        s"u-k$i-a-$i").toSet, "follower serves the complete acked log")
      // a fresh replica re-joins from the survivor: slice-replay sync
      val rejoin = new KafkaWire.Server(0).start()
      try {
        val (nTopics, nRecs) = rejoin.syncFrom(followerB)
        assert(nTopics >= 1 && nRecs == 50, s"synced $nTopics/$nRecs")
        val rt = EmbeddedKafka.topic(s"tcp:127.0.0.1:${rejoin.port}",
          "w-failover", 2)
        (0 until 2).foreach { p =>
          assert(rt.slice(p, 0, Long.MaxValue).map(_.uuid).toSeq ==
            ft.slice(p, 0, Long.MaxValue).map(_.uuid).toSeq)
        }
      } finally rejoin.close()
      // and the reverse direction: a leader whose FOLLOWER died must
      // refuse the append (dead socket), never ack under-replicated
      val f2 = new KafkaWire.Server(0).start()
      val l2 = new KafkaWire.Server(0,
        followers = Seq(s"tcp:127.0.0.1:${f2.port}")).start()
      try {
        val t2 = EmbeddedKafka.topic(s"tcp:127.0.0.1:${l2.port}", "w-acks", 2)
        t2.append(up("k1", "a", 1, "v1"))
        f2.close()
        intercept[Exception] { t2.append(up("k2", "a", 2, "v2")) }
      } finally l2.close()
    } finally follower.close()
  }

  test("replication frames leave the leader in OFFSET order (per-topic " +
      "sequencer): an acked frame is APPLIED on the follower, never " +
      "parked behind a gap a dead leader could no longer fill — " +
      "arrival order recorded by a scripted follower under 8 " +
      "concurrent producers") {
    import scala.jdk.CollectionConverters._
    val arrivals =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val srv = new java.net.ServerSocket(0)
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = srv.accept()
        val t = new Thread(() => {
          val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(sock.getInputStream))
          val out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(sock.getOutputStream))
          try while (true) {
            in.read() match {
              case -1 => throw new java.io.EOFException
              case KafkaWire.OpCreate =>
                in.readUTF(); val n = in.readInt()
                out.writeInt(n); out.flush()
              case KafkaWire.OpReplicateBatch =>
                in.readUTF(); in.readInt() // name, width
                val n = in.readInt()
                (0 until n).foreach { _ =>
                  val p = in.readInt(); val off = in.readLong()
                  KafkaWire.readElement(in)
                  arrivals.add((p, off))
                }
                out.writeByte(0); out.flush()
              case other => sys.error(s"scripted follower got op $other")
            }
          } catch { case _: Throwable => () } finally sock.close()
        })
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    val leader = new KafkaWire.Server(0,
      followers = Seq(s"tcp:127.0.0.1:${srv.getLocalPort}")).start()
    try {
      val leaderB = s"tcp:127.0.0.1:${leader.port}"
      EmbeddedKafka.topic(leaderB, "w-order", 1) // width 1: one offset line
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { tid =>
        new Thread(() => {
          try {
            val (h, p) = KafkaWire.hostPort(leaderB)
            val c = new KafkaWire.Client(h, p)
            try (1 to 50).foreach { i =>
              c.append("w-order", up("k", "a", tid * 1000L + i, s"v$tid-$i"))
              ()
            } finally c.close()
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(errors.isEmpty, s"producer failures: ${errors.peek()}")
      val offs = arrivals.asScala.toList.map(_._2)
      assert(offs == (0L until 400L).toList,
        "forwards must arrive in dense offset order — an out-of-order " +
          "frame is one the follower would ack while it sat in the " +
          "reassembly buffer")
    } finally { leader.close(); srv.close() }
  }

  test("a follower BLIP does not permanently brick the leader: the " +
      "replication channel reconnects once per call, so a follower " +
      "restarted at the same address (the --sync-from re-join) resumes " +
      "live replication") {
    val f1 = new KafkaWire.Server(0).start()
    val fPort = f1.port
    val followerB = s"tcp:127.0.0.1:$fPort"
    val leader = new KafkaWire.Server(0, followers = Seq(followerB)).start()
    val leaderB = s"tcp:127.0.0.1:${leader.port}"
    try {
      val lt = EmbeddedKafka.topic(leaderB, "w-blip", 1)
      (1 to 10).foreach(i => lt.append(up("k", "a", i, s"v$i")))
      f1.close() // the blip
      // poisoned ack while the follower is down (the record stays in
      // the LEADER's log unacked — the high-watermark analog)
      intercept[Exception] { lt.append(up("k", "a", 11, "v11")) }
      // follower restarts at the SAME address and re-joins
      val f2 = new KafkaWire.Server(fPort).start()
      try {
        val (_, synced) = f2.syncFrom(leaderB)
        assert(synced == 11, s"re-join replays the leader's log ($synced)")
        // live replication RESUMES: this append must succeed (one
        // reconnect) — before the fix a single blip bricked the write
        // path until the leader itself restarted
        val t2 = EmbeddedKafka.topic(leaderB, "w-blip", 1)
        t2.append(up("k", "a", 12, "v12"))
        val ft = EmbeddedKafka.topic(followerB, "w-blip", 1)
        assert(ft.latestOffsets == t2.latestOffsets,
          "replicas byte-identical after blip + re-join + resumed traffic")
        assert(ft.slice(0, 0, Long.MaxValue).map(_.uuid).toSeq ==
          t2.slice(0, 0, Long.MaxValue).map(_.uuid).toSeq)
      } finally f2.close()
    } finally {
      leader.close()
      try f1.close() catch { case _: Throwable => () } // already closed on the happy path
    }
  }

  test("re-join sync replays GROUP positions too: commits made while a " +
      "replica was down land at syncFrom, and the merge is monotone — " +
      "a newer local position never regresses") {
    val leader = new KafkaWire.Server(0).start()
    val leaderB = s"tcp:127.0.0.1:${leader.port}"
    try {
      val lt = EmbeddedKafka.topic(leaderB, "w-gsync", 2)
      (1 to 20).foreach(i => lt.append(up(s"k$i", "a", i, s"v$i")))
      lt.commit("g-a", Map(0 -> 3L, 1 -> 5L))
      lt.commit("g-b", Map(0 -> 1L))
      val rejoin = new KafkaWire.Server(0).start()
      try {
        val rt = EmbeddedKafka.topic(s"tcp:127.0.0.1:${rejoin.port}",
          "w-gsync", 2)
        // the re-joining replica already holds a NEWER g-a position for
        // p0 (it was the survivor of an earlier failover): the group
        // replay must max-merge, never regress it
        rt.commit("g-a", Map(0 -> 7L))
        rejoin.syncFrom(leaderB)
        assert(rt.committed("g-a") == Map(0 -> 7L, 1 -> 5L),
          "sync merges the peer's positions monotonically")
        assert(rt.committed("g-b") == Map(0 -> 1L),
          "a group unknown locally lands whole")
        assert(rt.latestOffsets == lt.latestOffsets)
      } finally rejoin.close()
    } finally leader.close()
  }

  test("closing a leader whose follower never came up is clean: close() " +
      "opens no connection and the local broker store is released") {
    val leader = new KafkaWire.Server(0,
      followers = Seq("tcp:127.0.0.1:1")).start()
    // (any MUTATION through this leader fails loudly — acks=all with an
    // unreachable follower — so nothing resolves a topic here; the
    // regression is close() itself forcing a connect and throwing)
    leader.close() // must not throw (channel close never connects)
    intercept[Exception] {
      KafkaWire.withClient(s"tcp:127.0.0.1:${leader.port}")(_.topics())
    }
  }

  test("KafkaWireBroker: a trailing --follower/--sync-from is a usage " +
      "error, not an ArrayIndexOutOfBounds") {
    val e = intercept[RuntimeException] {
      graft.tools.KafkaWireBroker.main(Array("0", "--follower"))
    }
    assert(e.getMessage.contains("usage"))
    val e2 = intercept[RuntimeException] {
      graft.tools.KafkaWireBroker.main(Array("--sync-from"))
    }
    assert(e2.getMessage.contains("usage"))
  }

  test("a dead broker fails loudly, never silently empty") {
    val dead = new KafkaWire.Server(0).start()
    val deadBroker = s"tcp:127.0.0.1:${dead.port}"
    val t = EmbeddedKafka.topic(deadBroker, "w-dead", 2)
    t.append(up("k1", "a", 1, "v1"))
    dead.close()
    intercept[Exception] { t.latestOffsets }
    intercept[Exception] { t.append(up("k2", "a", 2, "v2")) }
  }
}
