package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{GraftOperator, Repository, StreamElement}
import graft.service.IngestServer

/** One benchmark run in a fresh JVM, written as raw samples to one JSON
  * file that `perfbench/run.py` turns into metrics:
  *
  *  1. warm-up: every analytics row `WarmReps` times (its output checked),
  *     beside the first set-up and a sequential client and a generator on
  *     its server, so the online paths are compiled before they are timed;
  *  2. set-up, repeated: preload a seeded table and a backlog, boot the
  *     ingest server, which starts the transformation; the last set-up
  *     drains its backlog before the online phases;
  *  3. analytics: one client runs the rows, one at a time, `Passes` times;
  *  4. serve capacity: `cores` closed-loop clients (one when tracing, so
  *     every Spark job belongs to the op in flight);
  *  5. serve: an open loop of HTTP requests at `Rate`, and
  *  6. pipeline: a fixed-period generator feeding the transformation, the
  *     two in alternating slices.
  *
  * {{{
  * Main <workDir> <dataDir> <seed> <seconds> <trace 0|1> <zipf> <out.json>
  * }}}
  */
object Main {
  val SetupReps = 3
  // executions of each row before the timed pass
  val WarmReps = 2
  val Passes = 1
  // the open loop's offered rate, ops/s: about a third of the closed-loop
  // capacity measured on 4 cores. Its period, 500 ms, is longer than most
  // gets (about 400 ms), so few requests overlap: were it near a get's
  // time, whether a get still ran when the next request was due would
  // swing the ingest median from run to run
  val Rate = 2.0
  // the open loop's share of `seconds`, the rest is the pipeline's: a
  // batch's lag varies less from batch to batch than latency from request
  // to request
  val ServeShare = 0.625
  val Rounds = 2
  val ServeKeys = 200
  // longer than a typical append plus micro-batch (about 0.8 s on 4 cores),
  // so a batch usually finds the stream idle
  val PeriodMs = 1000
  val Batch = 50
  // the closed loop's length in ops, so every run's open loop starts on the
  // same number of files
  val CapacityOps = 16
  val Backlog = 1000
  // the online warm-up's number of requests, and of generator batches
  val WarmOnline = 8

  /** The online deployment: FIXTURES.md's `gateway` entity behind the HTTP
    * front door, and a declared identity transformation `event` → `mirror`.
    */
  def config(dir: String): String =
    s"""entities {
       |  gateway { attributes { status { scheme: bytes }, "device.*" { scheme: bytes } } }
       |  event { attributes { data { scheme: bytes } } }
       |  mirror { attributes { data { scheme: bytes } } }
       |}
       |attributeFamilies {
       |  gateway-store { entity: gateway, attributes: [ "*" ], storage: "file://$dir/gateway",
       |    type: primary, access: [ commit-log, random-access, batch-updates, batch-snapshot ] }
       |  event-log { entity: event, attributes: [ data ], storage: "file://$dir/event",
       |    type: primary, access: [ commit-log, batch-updates ] }
       |  mirror-log { entity: mirror, attributes: [ data ], storage: "file://$dir/mirror",
       |    type: primary, access: [ commit-log, batch-updates ] }
       |}
       |transformations {
       |  event-to-mirror { entity: event, attributes: [ data ], using: "graftbench.Mirror" }
       |}""".stripMargin

  final case class Online(dir: String, server: IngestServer.Handle, watcher: Pipeline.Watcher,
      preloaded: Seq[StreamElement], backlog: Seq[StreamElement], boot: Long,
      setupS: Double) {
    def stop(): Unit = { server.stop(); watcher.stop() }
  }

  def main(args: Array[String]): Unit = {
    val Array(work, data, seedS, secondsS, traceS, zipfS, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val zipf = zipfS.toDouble
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val marks = mutable.LinkedHashMap.empty[String, Double]
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(phase: String): Unit = marks(phase) = (System.currentTimeMillis() - jvmStart) / 1000.0
    Trace.enabled = trace

    val builder = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) builder.config("spark.sql.streaming.streamingQueryListeners",
      classOf[Trace.StreamProbe].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(Trace.SparkProbe)
    graft.core.Metrics.install(spark)
    val counters0 = graft.core.Metrics.snapshot
    mark("session")

    // ---- 2. set-up, defined first: the online warm-up of step 1 runs the
    // first one
    val stamps = new AtomicLong(0L)
    def setUp(rep: Int, owner: String = "pipeline"): Online = {
      val dir = s"$work/rep$rep"
      val t0 = System.nanoTime()
      val pre = new GraftOperator(spark, Repository.parse(config(dir)), s"$dir/tmp")
      val preloaded = Serve.preload(ServeKeys, stamps)
      pre.writeBatch(spark.createDataset(preloaded)(StreamElement.encoder))
      val backlog = Pipeline.elements(new Serve.Keys(seed, ServeKeys, zipf), s"backlog$rep",
        Backlog, 0L)
      pre.writeBatch(spark.createDataset(backlog)(StreamElement.encoder))
      val watcher = new Pipeline.Watcher(s"$dir/mirror")
      Trace.owner.set(owner)
      val boot = System.currentTimeMillis()
      val server = IngestServer.boot(spark, config(dir), checkpointRoot = s"$dir/ckpt")
      Online(dir, server, watcher, preloaded, backlog, boot, (System.nanoTime() - t0) / 1e9)
    }
    val rows = Analytics.Rows.map(_._1)
    val fingerprints = new ConcurrentHashMap[String, Vector[String]]()
    val rowErrors = new ConcurrentHashMap[String, String]()

    /** Runs one row; returns its seconds (NaN on error). */
    def runRow(name: String, pass: Int): Double = {
      Trace.owner.set(name)
      val n0 = System.nanoTime()
      try {
        val fp = Trace.span("row", s"$name:$pass", "analytics")(
          Analytics.fingerprint(graft.SparkEntry.queries(name)(spark, data)))
        fingerprints.merge(name, Vector(fp), _ ++ _)
        (System.nanoTime() - n0) / 1e9
      } catch { case e: Exception =>
        rowErrors.put(name, Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        Double.NaN
      }
    }
    def release(): Unit = { graft.core.CachePins.releaseAll(); spark.catalog.clearCache() }

    // ---- 1. warm-up: `cores` rows at a time, each `WarmReps` times, streaming
    // rows (the longest) first, beside the table views the oracles read and
    // the online warm-up: the first set-up, then one client sending the op
    // mix back to back and a generator appending back to back, `WarmOnline`
    // steps each (untraced; every request and append must succeed)
    val w0 = System.nanoTime()
    val warmSteps = new AtomicLong(0L)
    val warmFailed = new AtomicLong(0L)
    def warmLoop(step: Int => Unit): Thread = {
      val t = new Thread(() => (0 until WarmOnline).foreach { i =>
        warmSteps.incrementAndGet()
        try step(i) catch { case _: Exception => warmFailed.incrementAndGet() }
      })
      t.start()
      t
    }
    val onlineWarm = Executors.newSingleThreadExecutor()
    val warmOn = onlineWarm.submit(new Callable[Online] {
      def call(): Online = {
        val on = setUp(1, "warm")
        val client = new Serve.Client(on.server.port)
        val ops = Serve.mix(new Serve.Keys(seed + 4, ServeKeys, zipf), new AtomicLong(1L << 50))
        val gen = new Serve.Keys(seed + 5, ServeKeys, zipf)
        Seq(
          warmLoop(_ => require(client.call(ops.next())._1, "not acknowledged")),
          warmLoop(i => on.server.op.writeBatch(spark.createDataset(
            Pipeline.elements(gen, s"warm$i", Batch, System.currentTimeMillis()))(
            StreamElement.encoder)))).foreach(_.join())
        on.stop()
        on
      }
    })
    val warmPool = Executors.newFixedThreadPool(cores)
    val warm = rows.sortBy(n => !Analytics.Streaming(n))
      .map(n => (() => (1 to WarmReps).foreach(_ => runRow(n, 0))): Runnable)
    val first = warm.take(cores).map(warmPool.submit(_))
    val views = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map(t => warmPool.submit((() =>
        spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t)): Runnable))
    val oracleFps = Analytics.OracleRows.map(n => n -> warmPool.submit(new Callable[String] {
      def call(): String = {
        views.foreach(_.get())
        Analytics.fingerprint(spark.sql(graft.SparkEntry.oracleSql(n)))
      }
    }))
    (first ++ warm.drop(cores).map(warmPool.submit(_))).foreach(_.get())
    val reps = Vector(warmOn.get())
    onlineWarm.shutdown()
    val oracle = oracleFps.map { case (n, fp) =>
      n -> (try {
        if (Option(fingerprints.get(n)).exists(_.headOption.contains(fp.get()))) "match"
        else "mismatch"
      } catch { case e: ExecutionException => s"error: ${e.getCause.getMessage}".take(300) })
    }.toMap
    warmPool.shutdown()
    release()
    result("warmup_s") = (System.nanoTime() - w0) / 1e9
    mark("warmup")

    val setups = reps ++ (2 until SetupReps).map { r => val o = setUp(r); o.stop(); o }
    mark("setup")

    // ---- 3. analytics: one client, one row at a time
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val times = mutable.LinkedHashMap.empty[String, Vector[Double]]
    val rowSpans = mutable.Buffer.empty[(String, Long, Long)]
    val gc0 = gcMs
    for (pass <- 1 to Passes; n <- rows) {
      val t0 = System.currentTimeMillis()
      val sec = runRow(n, pass)
      if (!sec.isNaN) times(n) = times.getOrElse(n, Vector.empty) :+ sec
      rowSpans += ((n, t0, System.currentTimeMillis()))
      release()
    }
    result("analytics") = Map(
      "rows" -> rows.map(n => n -> Map(
        "set" -> Analytics.setName(n),
        "streaming" -> Analytics.Streaming(n),
        "times_s" -> times.getOrElse(n, Vector.empty),
        "fingerprints" -> Option(fingerprints.get(n)).getOrElse(Vector.empty).distinct,
        "oracle" -> oracle.getOrElse(n, "none"),
        "error" -> rowErrors.get(n))).toMap,
      "passes" -> Passes,
      "warm_reps" -> WarmReps,
      "gc_ms" -> (gcMs - gc0))
    mark("analytics")

    // ---- the last set-up runs the online phases, once its backlog is drained
    val on = setUp(SetupReps)
    on.watcher.awaitReadable(Backlog, 60000)
    result("setup_reps_s") = (setups :+ on).map(_.setupS)
    result("drain_s") = (on.watcher.readable.map(_._1).max - on.boot) / 1000.0
    result("backlog") = Backlog
    val drainLost = (on.backlog.map(_.uuid).toSet -- on.watcher.readable.map(_._2)).size

    // ---- 4. serve capacity
    val client = new Serve.Client(on.server.port)
    val (closed, closedS) = Serve.closedLoop(client,
      Serve.mix(new Serve.Keys(seed + 1, ServeKeys, zipf), stamps).take(CapacityOps).toSeq,
      if (trace) 1 else cores)
    mark("capacity")

    // ---- 5, 6. serve and pipeline in `Rounds` alternating slices, so that a
    // slow spell of the host falls on both instead of on one of them
    val gen = new Serve.Keys(seed + 2, ServeKeys, zipf)
    val appendMs = mutable.Buffer.empty[Long]
    val genHanded = mutable.Buffer.empty[(Long, Long)]
    val written = mutable.Buffer.empty[String]

    /** The transformation's fixed-period generator for `n` batches; returns
      * once all are readable.
      */
    def generate(n: Int): Unit = {
      val g0 = System.currentTimeMillis() + 50
      (0 until n).foreach { j =>
        val i = genHanded.size
        val due = g0 + j.toLong * PeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val start = System.currentTimeMillis()
        genHanded += ((due, start))
        val batch = Pipeline.elements(gen, s"steady$i", Batch, due)
        Trace.span("append", s"append:$i", "pipeline")(
          on.server.op.writeBatch(spark.createDataset(batch)(StreamElement.encoder)))
        appendMs += System.currentTimeMillis() - start
        written ++= batch.map(_.uuid)
      }
      on.watcher.awaitReadable(Backlog + written.size, 60000)
    }

    // the serve open loop for `ServeShare` of `seconds`, its ops depending on
    // the seed alone (their stamps sort after every closed-loop write);
    // traced, two whole blocks of the mix, so every kind of op is seen. The
    // generator for the rest of `seconds`.
    val openOps = Serve.mix(new Serve.Keys(seed + 3, ServeKeys, zipf), new AtomicLong(1L << 40))
      .take(math.max((Rate * seconds * ServeShare).toInt, if (trace) 2 * Serve.Block else 0)).toSeq
    val batches = (seconds * (1 - ServeShare) * 1000 / PeriodMs).toInt
    val open = mutable.Buffer.empty[Serve.Done]
    val openHanded = mutable.Buffer.empty[(Long, Long)]
    (0 until Rounds).foreach { r =>
      val (done, handed) = Serve.openLoop(client,
        openOps.slice(openOps.size * r / Rounds, openOps.size * (r + 1) / Rounds), Rate,
        if (trace) 1 else cores)
      open ++= done
      openHanded ++= handed
      generate(batches * (r + 1) / Rounds - batches * r / Rounds)
    }
    mark("online")
    on.stop()
    val got = on.watcher.readable
    val gotUuids = got.map(_._2)
    // the generator's elements (the backlog's have stamp 0)
    val dues = genHanded.map(_._1).toSet
    val measured = got.filter(r => dues(r._3))
    result("serve") = Map(
      "closed_ops" -> closed.size, "closed_s" -> closedS,
      "open" -> open.map(d => Seq(d.op.kind, d.due, d.sent, d.end, d.ok)),
      "closed" -> closed.map(d => Seq(d.op.kind, d.due, d.sent, d.end, d.ok)),
      "generator" -> openHanded,
      "bad_reads" -> Serve.badReads(on.preloaded, closed ++ open),
      "warm_ops" -> warmSteps.get, "warm_failed" -> warmFailed.get,
      "files" -> Option(new java.io.File(s"${on.dir}/gateway").listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0))
    result("pipeline") = Map(
      "lag_ms" -> measured.map(r => r._1 - r._3),
      // a generator batch shares one due time: its lag is that of its last element
      "batch_lag_ms" -> measured.groupBy(_._3).values.map(_.map(r => r._1 - r._3).max),
      "append_ms" -> appendMs, "generator" -> genHanded,
      "expected" -> (Backlog + written.size),
      "lost" -> (drainLost + (written.toSet -- gotUuids).size),
      "duplicated" -> (gotUuids.size - gotUuids.distinct.size))

    result("marks_s") = marks
    if (trace) result("trace") = traced(rowSpans.toSeq, cores)
    val c1 = graft.core.Metrics.snapshot
    result("counters") = c1.map { case (k, v) => k -> (v - counters0.getOrElse(k, 0L)) }
      .filter(_._2 != 0)
    Files.write(Paths.get(out), Json.render(result).getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(s"$work/spans.json"), Json.render(Trace.allSpans.map(s =>
      Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))).getBytes("UTF-8"))
    // every output is written and run.py removes the run's directory, so
    // the JVM ends without Spark's shutdown
    Runtime.getRuntime.halt(0)
  }

  /** Per-layer aggregates from the spans and the Spark/streaming probes. */
  def traced(rowSpans: Seq[(String, Long, Long)], cores: Int): Map[String, Any] = {
    def jobStats(from: Long, to: Long, streaming: Boolean) = {
      val js = Trace.jobsIn(from, to).filter(j => streaming || !j.streaming)
      Map("jobs" -> js.size, "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
        "task_ms" -> js.map(_.taskMs).sum, "shuffle_read" -> js.map(_.shuffleRead).sum,
        "shuffle_write" -> js.map(_.shuffleWrite).sum, "input" -> js.map(_.input).sum,
        "job_union_ms" -> Trace.unionMs(js.map(j => (j.startMs, math.max(j.endMs, j.startMs)))),
        "wall_ms" -> (to - from))
    }
    val spans = Trace.allSpans
    val appends = spans.filter(_.name == "append")
    val generatorStart = appends.map(_.startMs).minOption.getOrElse(Long.MaxValue)
    Map(
      "cores" -> cores,
      // a row's own streams are its work; an op's are the transformation's
      "rows" -> rowSpans.map { case (n, s, e) => Map("row" -> n) ++ jobStats(s, e, true) },
      "ops" -> spans.filter(_.parent == "").map(s =>
        Map("op" -> s.name) ++ jobStats(s.startMs, s.endMs, false)),
      "appends" -> appends.map(s => jobStats(s.startMs, s.endMs, false)),
      "pipeline_jobs" -> Trace.allJobs.count(j => j.streaming && j.startMs >= generatorStart),
      "batches" -> Trace.batches.asScala.toSeq.filter(_.durations.contains("addBatch")).map(b =>
        Map("owner" -> b.owner, "steady" -> (b.atMs >= generatorStart),
          "durations" -> b.durations, "rows" -> b.inputRows,
          "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs)))
  }
}
