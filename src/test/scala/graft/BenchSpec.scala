package graft

/** Bench failure honesty (VERDICT r7 §Next #2): a throwing query must be
  * impossible to mistake for a fast success — -1 in `queries`, its message
  * in `errors`, counted in `failed`, excluded from `value`.
  */
class BenchSpec extends SparkSpec {

  test("a deliberately broken query records -1 and an error, never a time") {
    val boom: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException("deliberate analysis failure")
    val (sec, err) = Bench.runOne(spark, boom, "/nowhere")
    assert(sec == -1.0)
    assert(err.exists(_.contains("deliberate analysis failure")))
  }

  test("a working query records positive elapsed time and no error") {
    val ok: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (s, _) => s.range(10).toDF()
    val (sec, err) = Bench.runOne(spark, ok, "/nowhere")
    assert(sec > 0.0 && err.isEmpty)
  }

  test("renderJson: failures surface in queries=-1, failed count, errors") {
    val json = Bench.renderJson(Seq(
      ("q_ok", 1.5, None),
      ("q_bad", -1.0, Some("""boom "quoted"
	tabbed"""))), "/sf")
    assert(json.contains(""""q_ok":1.500"""))
    assert(json.contains(""""q_bad":-1.000"""))
    assert(json.contains(""""failed":1"""))
    assert(json.contains(""""q_bad":"boom \"quoted\"\n\ttabbed""""))
    // total sums only successes
    assert(json.contains(""""value":1.5"""))
    // the line must stay machine-parseable
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  test("renderJson: n_batches carries only queries that ran micro-batches") {
    val json = Bench.renderJson(
      Seq(("q_stream", 2.0, None), ("q_batchy", 1.0, None)), "/sf",
      batches = Map("q_stream" -> 7L, "q_batchy" -> 0L))
    assert(json.contains(""""n_batches":{"q_stream":7}"""), json)
  }

  test("the sf1 budget gate flags a deliberate 3x slowdown, and only it") {
    val budgets = Bench.loadBudgets("sf1")
    assert(budgets.contains("total") && budgets("q_semantic_dedup") > 0)
    // timings derived FROM the shipped ceilings (ceiling/2 ~= the clean
    // median each re-baseline anchors on), so this spec survives budget
    // regeneration instead of hard-coding one session's band
    val healthy = Seq(
      ("q_semantic_dedup", budgets("q_semantic_dedup") * 0.55,
        Option.empty[String]),
      ("q_multisignal_dedup", budgets("q_multisignal_dedup") * 0.55, None),
      ("q_unrelated", 3.0, None)) // unbudgeted: never flagged
    assert(Bench.checkBudgets(healthy, budgets).isEmpty)
    // a ~3x scale regression on one heavy query fails LOUDLY
    val regressed = healthy.map {
      case ("q_semantic_dedup", t, e) => ("q_semantic_dedup", t * 3, e)
      case other => other
    }
    val v = Bench.checkBudgets(regressed, budgets)
    assert(v.exists(_.startsWith("q_semantic_dedup:")), v)
    assert(v.size == 1, v)
    // a FAILED budgeted query (-1) can never sneak under its ceiling
    val failed = Seq(("q_semantic_dedup", -1.0, Some("boom")))
    assert(Bench.checkBudgets(failed, budgets)
      .exists(_.startsWith("q_semantic_dedup:")))
    // suite total breach is its own violation
    val bloated = Seq(("q_anything", budgets("total") + 1, Option.empty[String]))
    assert(Bench.checkBudgets(bloated, budgets).exists(_.startsWith("total:")))
  }

  test("writeResultArtifacts persists the identical JSON line, root + per-SF") {
    val dir = tempDir("bench-artifact")
    val json = Bench.renderJson(Seq(("q_x", 1.5, None)), "/data/sf0.1")
    Bench.writeResultArtifacts(json, "/data/sf0.1", dir.toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Seq("BENCH_RESULT.json", s"BENCH_RESULT_sf0.1_c$cpus.json").foreach { f =>
      val p = dir.resolve(f)
      assert(java.nio.file.Files.exists(p), s"$f missing")
      val back = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      assert(back == json, f)
    }
    // best-effort contract: an unwritable root must not throw
    Bench.writeResultArtifacts(json, "/data/sf0.1", "/nonexistent-dir/nope")
  }

  test("the summary line parses and fits in 200 bytes, even with 204 failures") {
    val failing = (1 to 204).map(i =>
      (f"q_row_$i%03d", -1.0, Some("x" * 300)))
    Seq(failing, Seq(("q_ok", 1234567.25, Option.empty[String]))).foreach { rs =>
      val line = Bench.renderSummary(rs)
      assert(line.getBytes("UTF-8").length <= 200, line)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(node.get("total").isNumber && node.get("n").asInt == rs.size, line)
      assert(node.get("failed").asInt == rs.count(_._3.isDefined), line)
      assert(node.get("artifact").asText == "BENCH_RESULT.json", line)
    }
  }

  test("n_batches counts a memory-sink stream started on a cloned session") {
    implicit val sq = spark.sqlContext
    import SparkSpec.spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val batches = new Bench.BatchCounter
    spark.sparkContext.addSparkListener(batches)
    try {
      batches.row = "q_clone"
      // StreamConf.scoped starts this query on a per-start clone of `spark`
      val out = graft.queries.StreamSupport.runToMemorySink(spark,
        input.toDS().groupBy("value").count())(_.processAllAvailable())
      assert(out.count() == 3)
      batches.settle(spark)
      assert(batches.counts.getOrElse("q_clone", 0L) > 0, batches.counts)
    } finally spark.sparkContext.removeSparkListener(batches)
  }
}
