package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.core.StreamElement

/** Clients of the ingest/retrieve service over loopback HTTP, on
  * FIXTURES.md's `gateway` entity (scalar `status`, wildcard `device.*`),
  * keys drawn from the workload's key distribution.
  */
object Serve {
  val Devices = 8

  /** One request of the mix. `stamp` orders writes: later ops carry
    * larger stamps, so the last acknowledged write is the one a get sees.
    */
  final case class Op(kind: String, key: String, attr: String, stamp: Long,
      keys: Seq[String] = Nil)

  /** A completed request. Times are epoch ms; `due` is when it should have
    * been sent (the send time in a closed loop).
    */
  final case class Done(op: Op, due: Long, sent: Long, end: Long, ok: Boolean,
      value: Option[String])

  /** Seeded draws of keys `gw0`..`gw<n-1>`, Zipf-distributed with exponent
    * `zipf` (uniform when 0), and of the other choices that make an input.
    */
  final class Keys(seed: Long, n: Int, zipf: Double) {
    private val cdf = {
      val w = (1 to n).map(i => if (zipf > 0) 1.0 / math.pow(i, zipf) else 1.0)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val rnd = new java.util.Random(seed)
    def next(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"gw${if (i >= 0) i else -i - 1}"
    }
    def nextInt(k: Int): Int = rnd.nextInt(k)
  }

  val Block = 20

  /** The op mix as an endless sequence of blocks of 20: 10 ingest, 8 get,
    * 1 tx and 1 list or multifetch (alternating), so ingest is 50%, get 40%,
    * list and multifetch 5% and tx 5%, and every 40 ops hold each kind at
    * least once. The kinds come in one fixed order, the keys from the seed:
    * in an open loop an op that overlaps another takes about a third
    * longer, so the share of overlapped ingests, and with it the ingest
    * median, must not change from seed to seed.
    */
  def mix(keys: Keys, stamps: AtomicLong): Iterator[Op] =
    Iterator.from(0).flatMap { block =>
      val kinds = Seq("ingest", "get", "ingest", "get", "ingest", "get", "ingest", "get",
        "ingest", "tx", "ingest", "get", "ingest", "get", "ingest", "get", "ingest", "get",
        "ingest", if (block % 2 == 0) "list" else "multifetch")
      kinds.map { kind =>
        val key = keys.next()
        val attr = if (keys.nextInt(2) == 0) "status" else s"device.${keys.nextInt(Devices)}"
        kind match {
          case "ingest" => Op(kind, key, attr, stamps.incrementAndGet())
          case "get" => Op(kind, key, attr, 0L)
          case "list" => Op(kind, key, "device.", 0L)
          case "multifetch" => Op(kind, key, "status", 0L, Seq.fill(4)(keys.next()) :+ key)
          case _ => Op(kind, key, "status", stamps.incrementAndGet())
        }
      }
    }

  def value(op: Op): String = s"${op.key}/${op.attr}@${op.stamp}"

  /** Seeded preload: every key gets a status and two device cells. */
  def preload(nKeys: Int, stamps: AtomicLong): Seq[StreamElement] =
    (0 until nKeys).flatMap { i =>
      Seq("status", s"device.${i % Devices}", s"device.${(i + 3) % Devices}").map { a =>
        val s = stamps.incrementAndGet()
        StreamElement("gateway", s"gw$i", a, s"pre-$i-$a", 0L, s,
          value(Op("ingest", s"gw$i", a, s)).getBytes(UTF_8), false, false)
      }
    }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

    private def post(path: String, body: String): String = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode == 200, s"$path -> ${resp.statusCode}: ${resp.body.take(200)}")
      resp.body
    }
    private def ok(body: String) = Json.field(body, "ok").contains("true")

    /** Sends one op; returns (ok, value read). */
    def call(op: Op): (Boolean, Option[String]) = op.kind match {
      case "ingest" =>
        val r = post("/ingest", Json.obj("entity" -> "gateway", "key" -> op.key,
          "attribute" -> op.attr, "stamp" -> op.stamp, "value" -> b64(value(op))))
        (ok(r), None)
      case "get" =>
        val r = post("/get", Json.obj("entity" -> "gateway", "key" -> op.key,
          "attribute" -> op.attr))
        (Json.field(r, "found").isDefined,
          Json.field(r, "value").map(v => new String(Base64.getDecoder.decode(v), UTF_8)))
      case "list" =>
        val r = post("/list", Json.obj("entity" -> "gateway", "key" -> op.key,
          "prefix" -> op.attr))
        (Json.has(r, "attributes"), None)
      case "multifetch" =>
        val r = post("/multifetch", Json.obj("entity" -> "gateway",
          "attribute" -> op.attr, "keys" -> op.keys))
        (Json.has(r, "values"), None)
      case "tx" =>
        val tx = Json.field(post("/tx/begin",
          Json.obj("entity" -> "gateway", "attribute" -> op.attr)), "tx").get
        val u = post("/tx/update", Json.obj("tx" -> tx, "entity" -> "gateway",
          "key" -> op.key, "attribute" -> op.attr, "stamp" -> op.stamp, "value" -> b64(value(op))))
        (ok(u) && ok(post("/tx/commit", Json.obj("tx" -> tx))), None)
    }

    def run(op: Op, due: Long): Done = {
      val sent = System.currentTimeMillis()
      val (ok, v) =
        try Trace.span(op.kind, s"${op.kind}:${op.stamp}:$sent")(call(op))
        catch { case e: Exception =>
          System.err.println(s"[serve] ${op.kind} failed: ${e.getMessage}"); (false, None) }
      Done(op, due, sent, System.currentTimeMillis(), ok, v)
    }
  }

  /** `clients` threads, each sending its next op when the last returns,
    * until all of `ops` are done; returns them and the seconds taken.
    */
  def closedLoop(client: Client, ops: Seq[Op], clients: Int): (Seq[Done], Double) = {
    val out = new ConcurrentLinkedQueue[Done]()
    val todo = ops.iterator
    def next() = todo.synchronized(if (todo.hasNext) Some(todo.next()) else None)
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(clients)
    (1 to clients).foreach(_ => pool.submit(new Runnable {
      def run(): Unit = Iterator.continually(next()).takeWhile(_.isDefined).flatten
        .foreach(o => out.add(client.run(o, System.currentTimeMillis())))
    }))
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Open loop: op i is due at start + i / rate whatever the state of
    * earlier ops; at most `conns` are in flight, the rest queue. Returns
    * the completions and, per op, (due, when the generator handed it over).
    */
  def openLoop(client: Client, ops: Seq[Op], rate: Double, conns: Int)
      : (Seq[Done], Seq[(Long, Long)]) = {
    val out = new ConcurrentLinkedQueue[Done]()
    val handed = Seq.newBuilder[(Long, Long)]
    val pool = Executors.newFixedThreadPool(conns)
    val start = System.currentTimeMillis() + 50
    ops.zipWithIndex.foreach { case (op, i) =>
      val due = start + (i * 1000.0 / rate).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      handed += ((due, System.currentTimeMillis()))
      pool.submit(new Runnable { def run(): Unit = out.add(client.run(op, due)) })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (out.asScala.toSeq, handed.result())
  }

  /** Gets that did not return a value acknowledged for their cell: the
    * newest write acked before the get was sent, or a write in flight
    * while it ran. Returns the number of bad reads.
    */
  def badReads(pre: Seq[StreamElement], done: Seq[Done]): Int = {
    type Cell = (String, String)
    val writes: Map[Cell, Seq[(Long, Long, Long, String)]] = // (sent, end, stamp, value)
      (pre.map(e => ((e.key, e.attribute), (Long.MinValue, Long.MinValue, e.stamp,
        new String(e.value, UTF_8)))) ++
        done.filter(d => d.ok && (d.op.kind == "ingest" || d.op.kind == "tx"))
          .map(d => ((d.op.key, d.op.attr), (d.sent, d.end, d.op.stamp, value(d.op)))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    done.count { d =>
      d.op.kind == "get" && d.ok && {
        val ws = writes.getOrElse((d.op.key, d.op.attr), Nil)
        val acked = ws.filter(_._2 < d.sent)
        val floor = if (acked.isEmpty) Long.MinValue else acked.map(_._3).max
        val allowed = ws.filter(w => w._3 >= floor && w._1 <= d.end).map(_._4).toSet
        d.value match {
          case Some(v) => !allowed.contains(v)
          case None => acked.nonEmpty
        }
      }
    }
  }
}
