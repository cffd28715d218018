package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.core.StreamElement

/** The config-declared transformation under test: an identity copy of each
  * `event.data` element into entity `mirror`, uuid and stamp kept.
  */
class Mirror extends graft.streaming.Transformations.ElementWise {
  def apply(e: StreamElement): Seq[StreamElement] = Seq(e.copy(entity = "mirror"))
}

/** The transformation's side of the online phase: seeded `event.data`
  * elements for the generator, and a watcher that records when each
  * element becomes readable in the target family's directory. Each
  * element's stamp is its due time, so its lag is the time from the stamp
  * until it is readable.
  */
object Pipeline {

  def elements(keys: Serve.Keys, tag: String, n: Int, stamp: Long): Seq[StreamElement] =
    (0 until n).map { j =>
      val k = keys.next()
      StreamElement("event", k, "data", s"$tag-$j", 0L, stamp, s"$k:$tag:$j".getBytes(UTF_8),
        false, false)
    }

  /** Polls the target directory; for each new parquet file, when it was
    * first seen and its (uuid, stamp) rows.
    */
  final class Watcher(dir: String) {
    private val seen = new ConcurrentHashMap[String, (Long, Seq[(String, Long)])]()
    @volatile private var polling = true
    private val poller = new Thread(() => {
      val target = new File(dir)
      while (polling) {
        Option(target.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.getName.endsWith(".parquet") && !seen.containsKey(f.getName))
          .foreach(f => seen.put(f.getName, (System.currentTimeMillis(), read(f))))
        Thread.sleep(5)
      }
    }, "pipeline-watcher")
    poller.setDaemon(true)
    poller.start()

    def readable: Seq[(Long, String, Long)] = // (seenAt, uuid, stamp)
      seen.values.asScala.toSeq.flatMap { case (at, rows) => rows.map(r => (at, r._1, r._2)) }

    /** Blocks until `n` elements are readable or `timeoutMs` passes. */
    def awaitReadable(n: Int, timeoutMs: Long): Unit = {
      val end = System.currentTimeMillis() + timeoutMs
      while (readable.size < n && System.currentTimeMillis() < end) Thread.sleep(5)
    }

    def stop(): Unit = { polling = false; poller.join() }
  }

  /** (uuid, stamp) of every row of one parquet file, read without Spark. */
  def read(f: File): Seq[(String, Long)] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(f.getAbsolutePath)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(g => (g.getString("uuid", 0), g.getLong("stamp", 0))).toList
    finally r.close()
  }
}
