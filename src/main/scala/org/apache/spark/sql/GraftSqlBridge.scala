package org.apache.spark.sql

/** Minimal bridge to Spark-private members. Two `private[sql]` members of
  * Spark's classic API let [[graft.streaming.StreamConf]] give every
  * streaming query start its OWN SparkSession (shared SparkContext +
  * shared state, cloned session conf) instead of temporarily mutating
  * the caller's session conf — the r10-audited residual window where a
  * concurrently-planned batch query could observe the streaming shuffle
  * width.
  *
  * Why a bridge instead of public API: `newSession()` starts from the
  * INITIAL conf and would silently drop runtime conf set after startup
  * (e.g. the parquet-nanos vintage switch `Tables.events` applies), while
  * `cloneSession()` copies the live session state — exactly the semantics
  * needed, just `private[sql]`. Compiling a one-file shim inside the
  * `org.apache.spark.sql` package is the established OSS pattern for
  * this (test harnesses and connector libraries do the same); both
  * members are stable across Spark 3.x→4.x.
  */
object GraftSqlBridge {

  /** A session sharing `s`'s SparkContext and shared state, with a COPY
    * of its current session conf / temp views / registered functions.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** The same logical plan bound to another session — the started query
    * then plans (and captures its state-store partitioning) under THAT
    * session's conf.
    */
  def rebind[T](ds: Dataset[T], to: SparkSession): Dataset[T] = {
    val cd = ds.asInstanceOf[classic.Dataset[T]]
    classic.Dataset[T](to.asInstanceOf[classic.SparkSession],
      cd.queryExecution.logical)(cd.encoder)
  }

  /** Blocks until every event already posted to `sc`'s listener bus has
    * reached its listeners; throws `TimeoutException` after `timeoutMs`.
    * `graft.Bench.BatchCounter` drains between bench rows so that an
    * asynchronously delivered streaming start lands on the row that
    * started it.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** A fresh temp dir that Spark's shutdown hook deletes, with its
    * contents, when the JVM exits.
    */
  def tempDirDeletedAtExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
    dir.getPath
  }
}
