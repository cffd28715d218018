package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}}, then a
  * short summary line.
  * local[32] + 32 shuffle partitions per the driver contract; a warm-up pass
  * on sf0.001 amortizes codegen/classload so per-query numbers measure the
  * plan, not JIT.
  *
  * Run isolation (round-2 bench triage): queries run alphabetically, so
  * the heavy dedup queries preceded the join queries and left behind (a)
  * a persisted shingle table occupying storage memory and (b) garbage
  * pressure — the join timings doubled with unchanged plans. Each query
  * now starts from a clean slate: `clearCache()` drops any persist the
  * previous query pinned and an explicit GC empties the young generation,
  * so per-query numbers measure the plan, not the predecessor's residue.
  *
  * Failure honesty (round-7 audit): a failing query records -1, NEVER its
  * fail-fast elapsed time — an analysis error that throws in 60 ms must be
  * impossible to mistake for a 0.06 s success. Messages surface in an
  * `errors` object, `failed` carries the count, and the process exits
  * nonzero, so rc=0 can never hide breakage ([[BenchSpec]] pins this).
  */
object Bench {

  /** One measured query: -1.0 + the error on failure, elapsed seconds
    * otherwise. `clearCache` between queries is the caller's job.
    */
  def runOne(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try { fn(spark, sfDir).count(); ((System.nanoTime() - t0) / 1e9, None) }
    catch { case e: Throwable =>
      (-1.0, Some(Option(e.getMessage).getOrElse(e.getClass.getName))) }
  }

  /** The driver-contract JSON line. `value` sums only SUCCESSFUL queries —
    * failures contribute -1 entries plus `failed`/`errors`, never time.
    * `batches` (micro-batches a query's streaming replays executed, from
    * [[BatchCounter]]) attributes a slow streaming row to the
    * operator vs the replay harness without re-deriving it: seconds up
    * with batches flat = the operator; both up = the harness grew.
    */
  def renderJson(results: Seq[(String, Double, Option[String])],
      sfDir: String, batches: Map[String, Long] = Map.empty): String = {
    import JsonLine.{num, str => jstr}
    val qs = results.map { case (k, v, _) => jstr(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) =>
      jstr(k) + ":" + jstr(m.take(300)) }.mkString("{", ",", "}")
    val nFail = results.count(_._3.isDefined)
    val total = results.collect { case (_, v, None) => v }.sum
    val nb = results.collect { case (k, _, _) if batches.getOrElse(k, 0L) > 0 =>
      jstr(k) + ":" + batches(k) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_batches":$nb,"failed":$nFail,"errors":$errs,"sf":"$sfDir"}"""
  }

  /** The last stdout line: at most 200 bytes whatever the row count, so a
    * tail-truncated capture still carries the headline. The full line is
    * in the artifact it names.
    */
  def renderSummary(results: Seq[(String, Double, Option[String])]): String = {
    val total = results.collect { case (_, v, None) => v }.sum
    val nFail = results.count(_._3.isDefined)
    s"""{"total":${JsonLine.num(total)},"failed":$nFail,"n":${results.size},"artifact":"BENCH_RESULT.json"}"""
  }

  /** Per-query wall-clock ceilings, `name -> seconds` (+ optional
    * "total"). `"sf1"` loads the shipped sf1 endurance budget
    * (resources/graft/sf1_budgets.properties); anything else is a
    * properties-file path.
    */
  def loadBudgets(spec: String): Map[String, Double] = {
    val props = new java.util.Properties()
    val in =
      if (spec == "sf1")
        Option(getClass.getResourceAsStream("/graft/sf1_budgets.properties"))
          .getOrElse(throw new IllegalStateException(
            "budget resource /graft/sf1_budgets.properties not on the " +
              "classpath — packaging problem, not a budget pass"))
      else new java.io.FileInputStream(spec)
    try props.load(in) finally in.close()
    props.asScala.map { case (k, v) => k -> v.trim.toDouble }.toMap
  }

  /** The endurance gate: every budgeted query (and the optional suite
    * "total") must land under its ceiling — a scale regression fails
    * LOUDLY here instead of drifting across rounds. A failed query
    * (-1 s) violates its budget by definition; a budgeted query absent
    * from the results is skipped (subset runs stay usable).
    */
  def checkBudgets(results: Seq[(String, Double, Option[String])],
      budgets: Map[String, Double]): Seq[String] = {
    val byName = results.map(r => r._1 -> r._2).toMap
    val perQuery = budgets.toSeq.sorted.collect {
      case (name, ceiling) if name != "total" && byName.contains(name) &&
          (byName(name) < 0 || byName(name) > ceiling) =>
        s"$name: ${byName(name)}s exceeds budget ${ceiling}s"
    }
    val total = budgets.get("total").toSeq.flatMap { ceiling =>
      val sum = results.collect { case (_, v, None) => v }.sum
      val failed = results.count(_._3.isDefined)
      if (failed > 0) Seq(s"total: $failed queries failed")
      else if (sum > ceiling) Seq(s"total: ${sum}s exceeds budget ${ceiling}s")
      else Seq.empty
    }
    perQuery ++ total
  }

  /** The exit gate both harnesses share. `budgetSpec` "sf1" or a
    * properties path arms the endurance budgets — ceilings breached ->
    * loud exit 3, never silent drift; empty or "off" disarms them. Any
    * failed query then exits `failedRc`, so rc=0 never hides breakage.
    */
  def exitGate(results: Seq[(String, Double, Option[String])],
      budgetSpec: Option[String], failedRc: Int): Unit = {
    budgetSpec.filter(s => s.nonEmpty && s != "off").foreach { spec =>
      val violations = checkBudgets(results, loadBudgets(spec))
      if (violations.nonEmpty) {
        violations.foreach(v => System.err.println(s"[budget] $v"))
        sys.exit(3)
      }
    }
    if (results.exists(_._3.isDefined)) sys.exit(failedRc)
  }

  /** Writes the one-line bench JSON to BENCH_RESULT.json plus
    * BENCH_RESULT_<sfName>_c<cpus>.json (so the 32- and 8-core runs of the
    * same SF don't clobber each other). Root defaults to the working
    * directory (the repo root under `sbt runMain`);
    * SPARK_GRAFT_RESULT_DIR overrides for test isolation. Best-effort: an
    * unwritable directory must not fail the bench itself.
    */
  def writeResultArtifacts(json: String, sfDir: String,
      root: String = sys.env.getOrElse("SPARK_GRAFT_RESULT_DIR", ".")): Unit = {
    val sfName = new java.io.File(sfDir).getName
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Seq("BENCH_RESULT.json", s"BENCH_RESULT_${sfName}_c$cpus.json").foreach { f =>
      try {
        val p = java.nio.file.Paths.get(root, f)
        java.nio.file.Files.write(p,
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    }
  }

  /** Micro-batches per bench row, read off the SparkContext's shared
    * listener bus. Every session's streaming events reach that bus —
    * the memory-sink rows start on a per-start cloned session
    * (`StreamConf.scoped`), whose `spark.streams` listeners the root
    * session never sees.
    *
    * The bus is async, so counting by time window would bleed a row's
    * LAST batch into the next row. Instead each streaming run is OWNED
    * by the row current when its start event arrives (the bus is FIFO
    * per query: start precedes every progress event), and progress
    * counts against the owner whenever it arrives. `settle` drains the
    * bus before the row changes, so a start event delivered late still
    * lands on the row that started it.
    */
  final class BatchCounter extends SparkListener {
    @volatile var row: String = ""
    private val runOwner = new ConcurrentHashMap[UUID, String]()
    private val byRow = new ConcurrentHashMap[String, AtomicLong]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: QueryStartedEvent => runOwner.put(s.runId, row); ()
      case p: QueryProgressEvent =>
        val owner = runOwner.get(p.progress.runId)
        if (owner != null && owner.nonEmpty)
          byRow.computeIfAbsent(owner, _ => new AtomicLong).incrementAndGet()
        ()
      case _ =>
    }

    def settle(spark: SparkSession): Unit =
      try GraftSqlBridge.drainListenerBus(spark.sparkContext, 10000L)
      catch { case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] listener bus not drained: ${e.getMessage}") }

    def counts: Map[String, Long] =
      byRow.asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  /** The measuring loop shared with [[EnduranceBench]]: an untimed
    * warm-up of every name on `warmupDir` (absorbs JIT/codegen, one-time
    * fixture staging and the page cache; failures are logged, and only
    * NonFatal ones survive — a swallowed OOM would leave the timed loop
    * measuring a degraded JVM), then each name timed on `dataDir` from a
    * clean slate. Returns `(name, sec, error)` in `names` order plus the
    * micro-batches each row's streams ran.
    */
  def measure(spark: SparkSession, names: Seq[String], dataDir: String,
      warmupDir: String): (Seq[(String, Double, Option[String])], Map[String, Long]) = {
    names.foreach { n =>
      try { SparkEntry.queries(n)(spark, warmupDir).count(); () }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}") }
    }
    graft.core.CachePins.releaseAll()
    spark.catalog.clearCache()
    val batches = new BatchCounter
    spark.sparkContext.addSparkListener(batches)
    // warm-up streams still queued on the bus land on row "", uncounted
    batches.settle(spark)
    try {
      val results = names.map { name =>
        System.gc()
        batches.row = name
        val (sec, err) = runOne(spark, SparkEntry.queries(name), dataDir)
        err.foreach(m => System.err.println(s"[bench] $name failed: $m"))
        batches.settle(spark)
        graft.core.CachePins.releaseAll()
        spark.catalog.clearCache()
        (name, sec, err)
      }
      (results, batches.counts)
    } finally spark.sparkContext.removeSparkListener(batches)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs a subset in a fresh JVM — the
    // isolation tool for separating session residue from real regressions
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown queries in SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // JIT/codegen warm-up on the smallest SF
    val (results, batches) =
      measure(spark, names, sfDir, warmupDir = "/root/testdata/sf0.001")
    val json = renderJson(results, sfDir, batches)
    // Persist the driver-contract line as an artifact: stdout capture is
    // tail-truncated by some harnesses (the full line is ~10 KB), so the
    // identical bytes also land in BENCH_RESULT.json at the repo root and
    // in a per-SF copy that survives a subsequent lower-core re-run; the
    // short summary line comes last so a truncated tail still carries it.
    writeResultArtifacts(json, sfDir)
    println(json)
    println(renderSummary(results))
    spark.stop()
    exitGate(results, sys.env.get("SPARK_GRAFT_BUDGETS"), failedRc = 2)
  }
}
