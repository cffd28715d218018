package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Engine session defaults, shared by Verify/Bench/tests.
  *
  * - shuffle partitions = cores (local mode; a real cluster would size this
  *   to ~2-3x total cores — never the 200 default);
  * - AQE on: runtime coalescing + skew-join splitting is our answer to
  *   skewed keys at 100 TB;
  * - nanosAsLong: the events fixture carries TIMESTAMP(NANOS), which the
  *   vanilla parquet reader rejects; we read it as long and rebuild a
  *   microsecond timestamp in [[graft.sources.Tables.events]].
  */
object GraftSession {

  /** `-Dgraft.stateProvider=rocksdb` pins every stateful streaming start
    * in this JVM to the spill-capable RocksDB state store — per-key
    * state on executor DISK, the regime 100 TB key cardinality requires
    * (the default provider keeps all of it in heap). Any other value is
    * taken as a provider class name verbatim. RocksDbSuitePhaseSpec
    * re-runs the stateful spec suites in a child JVM with this set, so
    * the production provider is exercised suite-wide every round, not
    * only in the one-off smoke.
    */
  val StateProviderProp = "graft.stateProvider"

  private def applyStateProvider(b: SparkSession.Builder): SparkSession.Builder =
    sys.props.get(StateProviderProp).map {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case other => other
    }.fold(b)(cls =>
      b.config("spark.sql.streaming.stateStore.providerClass", cls))

  def builder(cores: String): SparkSession.Builder =
    applyStateProvider(SparkSession.builder())
      .withExtensions(graft.functions.GraftExtensions.install)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // streaming STATE width (scoped over query starts by
      // streaming.StreamConf): per-batch overhead is O(state
      // partitions), so small local micro-batches want few partitions
      // — 8 here; a production deployment sizes this to ~2x executor
      // cores or unsets it to inherit the batch width
      .config(graft.streaming.StreamConf.Key, "8")
      .config("spark.sql.adaptive.enabled", "true")
      // Checkpoint-manager choice is a per-FILESYSTEM adaptation, not a
      // scale knob: Spark's default FileContext-based manager costs
      // ~44 ms per metadata write on local/POSIX paths vs ~9 ms for the
      // FileSystem-based manager (medians, r16 receipt in VERDICT.md;
      // both are atomic under POSIX rename). Every micro-batch pays
      // three such writes on the driver critical path (offset WAL,
      // commit log, file-source log) plus one state-store delta per
      // state partition, so this is the dominant per-batch fixed cost.
      // An HDFS deployment should override back to the default (unset):
      // there FileContext's atomic-overwrite rename is the stronger
      // primitive; object-store checkpoints already use the FileSystem
      // manager because no FileContext binding exists.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      // manifest-store reads (sources/StoreManifest) pass explicit file
      // lists (64-256 paths for a bucketed store); above this threshold
      // Spark submits a whole JOB just to stat the roots, a fixed
      // ~0.3 s per read that dwarfs the driver-side listing on any
      // filesystem at this path count. A 100 TB deployment with ~1M
      // manifest entries should LOWER this again — there the parallel
      // listing is the right choice
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
