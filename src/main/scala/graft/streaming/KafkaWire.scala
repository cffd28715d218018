package graft.streaming

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}

import scala.collection.concurrent.TrieMap

import graft.core.StreamElement

/** A real TCP WIRE between the Kafka-shaped commit log's clients and its
  * broker — the piece that moves the `kafka://` family from "in-JVM
  * double" to "networked broker a separate process serves".
  *
  * Why not the actual Kafka protocol: this build has NO Kafka jars (no
  * kafka-clients, no broker, offline dependency resolution — verified
  * against /opt/spark/jars and the coursier cache), so neither an
  * embedded KRaft broker nor the real client can exist here. What CAN be
  * real is everything the reference's Kafka storage contract actually
  * exercises (reference: direct/io-kafka/.../KafkaAccessor.java,
  * KafkaLogReader.java:74 observe/ack, KafkaStorage.java:53): partitioned
  * append with broker-assigned offsets, per-split offset-range fetches,
  * consumer-group commit/committed, topic lifecycle — each as a request
  * over a length-delimited binary protocol on a real socket, served by a
  * broker that owns the log in ITS process. Executors fetch their splits
  * and produce their rows THEMSELVES over this wire (see
  * [[KafkaReaderFactory]]/[[KafkaWriterFactory]]) — the networked plan
  * shape the in-JVM double could only approximate by shipping rows
  * through plan-time slices and commit messages. Seating the genuine
  * `org.apache.kafka` client behind [[EmbeddedKafka.TopicHandle]] when
  * jars are available is a drop-in: the handle surface IS the client
  * surface a real binding needs.
  *
  * Protocol (all fields via DataInput/DataOutput, one request per
  * round-trip on a persistent connection): byte op, then op-specific
  * fields; responses are op-specific. Elements travel as
  * (entity, key, attribute, uuid: UTF; seqId, stamp: i64; value:
  * i32-length-prefixed bytes, -1 = null; delete, deleteWildcard: bool).
  * A server-side failure closes the connection — the client fails
  * LOUDLY on the dead socket, never with a silent partial result.
  */
object KafkaWire {

  val OpCreate = 1
  val OpAppendBatch = 2
  val OpLatest = 3
  val OpEarliest = 4
  val OpSlice = 5
  val OpCommit = 6
  val OpCommitted = 7
  val OpDrop = 8
  val OpAppend = 9
  val OpReplicateBatch = 10
  val OpTopics = 11
  val OpGroups = 12

  /** Broker strings `tcp:<host>:<port>` route over the wire. */
  def isWire(broker: String): Boolean = broker.startsWith("tcp:")

  def hostPort(broker: String): (String, Int) = {
    val rest = broker.stripPrefix("tcp:")
    val i = rest.lastIndexOf(':')
    require(i > 0, s"wire broker must be tcp:<host>:<port>, got $broker")
    (rest.substring(0, i), rest.substring(i + 1).toInt)
  }

  private[streaming] def writeElement(out: DataOutputStream,
      e: StreamElement): Unit = {
    out.writeUTF(e.entity); out.writeUTF(e.key)
    out.writeUTF(e.attribute); out.writeUTF(e.uuid)
    out.writeLong(e.seqId); out.writeLong(e.stamp)
    if (e.value == null) out.writeInt(-1)
    else { out.writeInt(e.value.length); out.write(e.value) }
    out.writeBoolean(e.delete); out.writeBoolean(e.deleteWildcard)
  }

  /** Hostile-claim cap (the CodecFuzzLaws discipline): a frame claiming
    * a multi-GB value must refuse BEFORE the allocation, not OOM the
    * broker. 64 MiB is far above any sane commit-log record.
    */
  private val MaxValueBytes = 1 << 26

  /** The same cap for a frame's partition count: a topic's width sizes
    * its per-partition logs up front, so a hostile claim of millions of
    * partitions must refuse before the allocation too.
    */
  private val MaxPartitions = 1 << 16

  private def readWidth(in: DataInputStream): Int = {
    val n = in.readInt()
    if (n < 1 || n > MaxPartitions) throw new IllegalStateException(
      s"kafka-wire frame claims $n partitions (outside 1..$MaxPartitions) " +
        "— refusing before allocation; corrupt or hostile peer")
    n
  }

  private[streaming] def readElement(in: DataInputStream): StreamElement = {
    val entity = in.readUTF(); val key = in.readUTF()
    val attribute = in.readUTF(); val uuid = in.readUTF()
    val seqId = in.readLong(); val stamp = in.readLong()
    val n = in.readInt()
    val value = if (n < 0) null else {
      if (n > MaxValueBytes) throw new IllegalStateException(
        s"kafka-wire frame claims a $n-byte value (> $MaxValueBytes cap) " +
          "— refusing before allocation; corrupt or hostile peer")
      val b = new Array[Byte](n); in.readFully(b); b
    }
    StreamElement(entity, key, attribute, uuid, seqId, stamp, value,
      in.readBoolean(), in.readBoolean())
  }

  private[streaming] def writeOffsets(out: DataOutputStream,
      m: Map[Int, Long]): Unit = {
    out.writeInt(m.size)
    m.foreach { case (p, o) => out.writeInt(p); out.writeLong(o) }
  }

  private[streaming] def readOffsets(in: DataInputStream): Map[Int, Long] =
    (0 until in.readInt()).map(_ => in.readInt() -> in.readLong()).toMap

  /** The broker side: serves the wire ops against the log it OWNS (its
    * JVM's topic store). Run it in-process for loopback tests or as a
    * standalone process via [[graft.tools.KafkaWireBroker]].
    *
    * REPLICATION (`followers`): every mutating op — append, group
    * commit, create, drop — is forwarded SYNCHRONOUSLY to each follower
    * broker before the producer is acked, Kafka's acks=all shape:
    * an acked record exists on every replica, so a dead leader loses
    * nothing acknowledged and readers repoint to a follower address
    * (operator-driven failover; there is no controller here — the
    * reference delegates election to Kafka's, and a promoted follower
    * simply becomes the address writers are given). Appends forward
    * WITH their leader-assigned (partition, offset), and a per-topic
    * SEQUENCER holds offset assignment and the synchronous forward
    * under one lock — frames leave the leader in offset order on the
    * single replication channel, so a frame the follower acks is
    * APPLIED, never parked in the reassembly buffer awaiting a gap a
    * dead leader can no longer fill. (Replicated topics therefore
    * serialize appends through the sequencer — the price of honest
    * acks=all; unreplicated topics keep full per-partition
    * parallelism.) A failed forward is retried ONCE on a fresh
    * connection — a follower that blipped and re-joined by
    * [[syncFrom]] resumes live replication (every replicated op is
    * idempotent: offset-explicit appends skip held offsets, commits
    * max-merge) — and only a still-dead follower poisons the ack. Like
    * records above Kafka's high watermark, a batch the leader applied
    * locally before the forward failed stays in the LEADER's log
    * unacked; the producer's at-least-once retry may duplicate it
    * there. A follower that was down re-joins by [[syncFrom]]
    * (slice-replay from a live peer) before taking live traffic; do
    * not promote a mid-sync follower — records it acked during the
    * race are complete only once the sync finishes. Group commits made
    * while a follower was down land at re-join too: [[syncFrom]]
    * replays every group's positions off the peer (OpGroups) through
    * the monotone max-merge.
    */
  final class Server(bindPort: Int = 0, followers: Seq[String] = Nil)
      extends AutoCloseable {
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    private val server = new ServerSocket(bindPort, 64,
      InetAddress.getByName("0.0.0.0"))
    @volatile private var running = true

    def port: Int = server.getLocalPort

    /** The served broker id inside this server's JVM registry —
      * per-INSTANCE (a JVM-wide counter: identityHashCode makes no
      * uniqueness promise, and a collision would let one server's
      * close() wipe another's live log), so two servers in one JVM (a
      * loopback leader and its follower under test) own genuinely
      * separate logs.
      */
    private val LocalBroker = s"wire-served-${Server.instanceIds.incrementAndGet()}"

    private def topic(name: String, n: Int = 4): EmbeddedKafka.Topic =
      EmbeddedKafka.localTopic(LocalBroker, name, n)

    /** One persistent replication channel per follower. Connects on
      * first use (a follower process may bind after the leader
      * constructs) and RECONNECTS once per failed call: a follower that
      * restarted and re-joined via `--sync-from` at the same address
      * resumes live replication instead of permanently bricking the
      * leader's write path on one TCP reset. The single retry is safe —
      * every replicated op is idempotent (offset-explicit appends skip
      * held offsets, group commits max-merge, create/drop are
      * idempotent) — and a still-dead follower throws, poisoning the
      * producer's ack (acks=all, no silent under-replication).
      */
    private final class ReplicaChannel(broker: String) extends AutoCloseable {
      private val (h, p) = hostPort(broker)
      private var cli: Client = null
      private def client(): Client = {
        if (cli == null) cli = new Client(h, p)
        cli
      }
      private def invalidate(): Unit = {
        if (cli != null) { try cli.close() catch { case _: Throwable => () }; cli = null }
      }
      def call[A](f: Client => A): A = synchronized {
        try f(client()) catch {
          case _: java.io.IOException =>
            invalidate()
            try f(client()) catch { case e2: Throwable => invalidate(); throw e2 }
        }
      }
      override def close(): Unit = synchronized(invalidate())
    }

    private val replicas: Seq[ReplicaChannel] = followers.map(new ReplicaChannel(_))

    /** Per-topic replication sequencer: offset ASSIGNMENT and the
      * synchronous forward happen under one lock, so frames reach each
      * follower in offset order and an acked record is always APPLIED
      * on the replica — never parked behind a gap that a leader dying
      * mid-interleave would leave unfillable. Unreplicated servers
      * bypass it entirely (per-partition parallelism intact).
      */
    private val replSeq = TrieMap.empty[String, Object]
    private def sequenced[A](name: String)(f: => A): A =
      if (followers.isEmpty) f
      else replSeq.getOrElseUpdate(name, new Object).synchronized(f)

    /** Forward leader-assigned records; a follower failure (after one
      * reconnect attempt) poisons the ack (the producer sees the dead
      * socket) — acks=all, no silent under-replication.
      */
    private def replicate(name: String, width: Int,
        recs: Seq[EmbeddedKafka.Record]): Unit =
      if (recs.nonEmpty)
        replicas.foreach(_.call(_.replicateBatch(name, width, recs)))

    /** Re-join protocol for a (re)started follower: clone every topic
      * the peer serves, replaying each partition's missing suffix
      * through the same offset-explicit apply path live replication
      * uses, then every consumer GROUP's committed positions through
      * commit's max-merge — so commits made while this replica was down
      * land too, and a consumer resuming off the re-joined replica
      * reads its true position. Idempotent both legs (already-held
      * offsets are skipped, group merge is monotone) — syncing WHILE
      * live replication flows cannot double-apply or regress. Returns
      * (topics, records) copied.
      */
    def syncFrom(peerBroker: String): (Int, Long) = {
      var copied = 0L
      val ts = withClient(peerBroker)(_.topics())
      ts.foreach { case (name, width) =>
        val t = topic(name, width)
        (0 until width).foreach { p =>
          val have = t.latestOffsets(p)
          val elems = withClient(peerBroker)(_.slice(name, p, have, Long.MaxValue))
          elems.zipWithIndex.foreach { case (e, i) =>
            t.appendAt(p, have + i, e)
          }
          copied += elems.length
        }
        withClient(peerBroker)(_.groups(name)).foreach { case (g, offs) =>
          t.commit(g, offs)
        }
      }
      (ts.size, copied)
    }

    /** Live connections — close() severs them too, so an in-JVM
      * "killed" broker behaves like a dead process (its open sockets
      * die with it), not like a server that merely stopped accepting.
      */
    private val live =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          live.add(sock)
          val t = new Thread(() => serve(sock))
          t.setDaemon(true)
          t.start()
        } catch {
          case _: Throwable if !running => // closed
          case e: Throwable => log.warn(s"kafka-wire accept failed: $e")
        }
      }
    })
    acceptor.setDaemon(true)

    def start(): Server = { acceptor.start(); this }

    private def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      try {
        while (true) {
          val op = in.read()
          if (op < 0) throw new EOFException
          op match {
            case OpCreate =>
              val (name, n) = (in.readUTF(), readWidth(in))
              val t = topic(name, n)
              replicas.foreach(_.call(_.create(name, t.numPartitions)))
              out.writeInt(t.numPartitions)
            case OpAppendBatch =>
              val name = in.readUTF()
              val t = topic(name)
              val n = in.readInt()
              // decode the FULL batch before touching the log: a refused
              // frame mid-batch (e.g. the 64 MiB hostile-claim cap) must
              // leave the log untouched — applying as we decode would
              // durably keep the prefix while the client sees only a dead
              // socket, and its at-least-once retry would duplicate it.
              // The array grows as frames arrive: a hostile count hits EOF
              // instead of allocating n slots up front
              val elems = Iterator.fill(n)(readElement(in)).toArray
              // assignment + forward under the topic's sequencer: the
              // follower must see frames in offset order (see replSeq)
              sequenced(name) {
                val recs = elems.map(t.append).toSeq
                replicate(name, t.numPartitions, recs)
              }
              out.writeInt(n)
            case OpAppend =>
              val name = in.readUTF()
              val t = topic(name)
              val e = readElement(in)
              val r = sequenced(name) {
                val rec = t.append(e)
                replicate(name, t.numPartitions, Seq(rec))
                rec
              }
              out.writeInt(r.partition); out.writeLong(r.offset)
            case OpReplicateBatch =>
              val name = in.readUTF()
              val width = readWidth(in)
              val t = topic(name, width)
              val n = in.readInt()
              val recs = Iterator.fill(n) {
                val (p, off) = (in.readInt(), in.readLong())
                (p, off, readElement(in))
              }.toArray
              // apply + relay under the sequencer too: a promoted
              // follower taking direct producer appends while a late
              // relay drains must not interleave its own forwards out
              // of offset order
              sequenced(name) {
                recs.foreach { case (p, off, e) => t.appendAt(p, off, e) }
                // replication CHAINS: a follower with its own followers
                // relays, so a 3-deep chain stays fully consistent
                if (replicas.nonEmpty) {
                  val rs = recs.toSeq.map { case (p, off, e) =>
                    EmbeddedKafka.Record(p, off, e) }
                  replicate(name, width, rs)
                }
              }
              out.writeByte(0)
            case OpTopics =>
              val ts = EmbeddedKafka.listLocal(LocalBroker)
              out.writeInt(ts.size)
              ts.foreach { case (n, w) => out.writeUTF(n); out.writeInt(w) }
            case OpGroups =>
              val gs = topic(in.readUTF()).groups
              out.writeInt(gs.size)
              gs.foreach { case (g, offs) =>
                out.writeUTF(g); writeOffsets(out, offs) }
            case OpLatest => writeOffsets(out, topic(in.readUTF()).latestOffsets)
            case OpEarliest =>
              writeOffsets(out, topic(in.readUTF()).earliestOffsets)
            case OpSlice =>
              val t = topic(in.readUTF())
              val (p, from, until) = (in.readInt(), in.readLong(), in.readLong())
              val elems = t.slice(p, from, until)
              out.writeInt(elems.length)
              elems.foreach(writeElement(out, _))
            case OpCommit =>
              val name = in.readUTF()
              val t = topic(name)
              val group = in.readUTF()
              val offs = readOffsets(in)
              t.commit(group, offs)
              // group positions replicate too (monotone max-merge is
              // order-independent): a consumer resuming off a follower
              // reads its committed position
              replicas.foreach(_.call(_.commit(name, group, offs)))
              out.writeByte(0)
            case OpCommitted =>
              val t = topic(in.readUTF())
              writeOffsets(out, t.committed(in.readUTF()))
            case OpDrop =>
              val name = in.readUTF()
              EmbeddedKafka.drop(LocalBroker, name)
              replicas.foreach(_.call(_.drop(name)))
              out.writeByte(0)
            case other => sys.error(s"unknown kafka-wire op $other")
          }
          out.flush()
        }
      } catch {
        case _: EOFException => // client done
        case e: Throwable if running =>
          log.warn(s"kafka-wire connection failed: $e")
      } finally {
        live.remove(sock)
        sock.close()
      }
    }

    override def close(): Unit = {
      running = false
      server.close()
      // an accept racing the close can still return a live connection,
      // and the listening socket stays open until that accept returns:
      // wait for the acceptor, so the port refuses once close() returns
      // and every socket it handed out is in `live`
      acceptor.join()
      live.forEach(s => try s.close() catch { case _: Throwable => () })
      live.clear()
      // release this instance's log and replication channels — servers
      // are per-instance stores now, and a long test session must not
      // accumulate dead brokers' topics (channel close never connects:
      // closing a leader whose follower is unreachable must not throw)
      replicas.foreach(c => try c.close() catch { case _: Throwable => () })
      EmbeddedKafka.dropLocalBroker(LocalBroker)
    }
  }

  private object Server {
    /** JVM-wide instance counter backing per-instance broker ids. */
    val instanceIds = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** One client = one persistent connection; calls are synchronized (a
    * request/response pair owns the socket). Executor-side users open a
    * client per split/task — connection setup is the cheap part of a
    * fetch that moves the split's bytes anyway.
    */
  final class Client(host: String, port: Int) extends AutoCloseable {
    private val sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))

    private def call[T](f: => T): T = synchronized(f)

    def create(name: String, numPartitions: Int): Int = call {
      out.writeByte(OpCreate); out.writeUTF(name)
      out.writeInt(numPartitions); out.flush()
      in.readInt()
    }

    def appendBatch(name: String, elems: Iterator[StreamElement]): Int = call {
      val buf = elems.toArray
      out.writeByte(OpAppendBatch); out.writeUTF(name)
      out.writeInt(buf.length)
      buf.foreach(writeElement(out, _))
      out.flush()
      in.readInt()
    }

    def append(name: String, e: StreamElement): (Int, Long) = call {
      out.writeByte(OpAppend); out.writeUTF(name)
      writeElement(out, e); out.flush()
      (in.readInt(), in.readLong())
    }

    def latest(name: String): Map[Int, Long] = call {
      out.writeByte(OpLatest); out.writeUTF(name); out.flush()
      readOffsets(in)
    }

    def earliest(name: String): Map[Int, Long] = call {
      out.writeByte(OpEarliest); out.writeUTF(name); out.flush()
      readOffsets(in)
    }

    def slice(name: String, p: Int, from: Long,
        until: Long): Array[StreamElement] = call {
      out.writeByte(OpSlice); out.writeUTF(name)
      out.writeInt(p); out.writeLong(from); out.writeLong(until); out.flush()
      Array.fill(in.readInt())(readElement(in))
    }

    def commit(name: String, group: String, offsets: Map[Int, Long]): Unit =
      call {
        out.writeByte(OpCommit); out.writeUTF(name); out.writeUTF(group)
        writeOffsets(out, offsets); out.flush()
        in.readByte(); ()
      }

    def committed(name: String, group: String): Map[Int, Long] = call {
      out.writeByte(OpCommitted); out.writeUTF(name); out.writeUTF(group)
      out.flush()
      readOffsets(in)
    }

    def drop(name: String): Unit = call {
      out.writeByte(OpDrop); out.writeUTF(name); out.flush()
      in.readByte(); ()
    }

    /** Replication frame: records WITH their leader-assigned positions. */
    private[streaming] def replicateBatch(name: String, width: Int,
        recs: Seq[EmbeddedKafka.Record]): Unit = call {
      out.writeByte(OpReplicateBatch); out.writeUTF(name)
      out.writeInt(width); out.writeInt(recs.size)
      recs.foreach { r =>
        out.writeInt(r.partition); out.writeLong(r.offset)
        writeElement(out, r.element)
      }
      out.flush()
      in.readByte(); ()
    }

    /** Topics this broker serves, with partition widths. */
    def topics(): Seq[(String, Int)] = call {
      out.writeByte(OpTopics); out.flush()
      Seq.fill(in.readInt())((in.readUTF(), in.readInt()))
    }

    /** Committed positions of every consumer group of a topic — the
      * re-join sync's group replay reads these.
      */
    def groups(name: String): Seq[(String, Map[Int, Long])] = call {
      out.writeByte(OpGroups); out.writeUTF(name); out.flush()
      Seq.fill(in.readInt())((in.readUTF(), readOffsets(in)))
    }

    override def close(): Unit = sock.close()
  }

  /** Run `f` with a short-lived client. */
  def withClient[T](broker: String)(f: Client => T): T = {
    val (h, p) = hostPort(broker)
    val c = new Client(h, p)
    try f(c) finally c.close()
  }
}
