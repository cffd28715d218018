package graft.core

import org.apache.spark.sql.functions.{coalesce, col, lit, max}

import graft.streaming.AttributeLogFamily

/** Transaction isolation scope — which concurrent commits conflict with a
  * transaction (reference: core/.../repository/TransactionMode.java:19-53,
  * modes ATTRIBUTE/KEY/ALL; NONE is simply "don't use a coordinator").
  */
sealed trait TransactionMode
object TransactionMode {
  /** Conflicts on the exact (key, attribute) cells touched. */
  case object Attribute extends TransactionMode
  /** Conflicts on any attribute of a touched entity key. */
  case object Key extends TransactionMode
  /** Conflicts with ANY concurrent commit on the family. */
  case object All extends TransactionMode
}

/** Optimistic transactions over a commit-log family — the reference's
  * transaction support reduced to its observable contract
  * (reference: coordinator direct/transaction-manager/.../
  * TransactionLogObserver.java:81 — assigns sequential ids, validates a
  * transaction's inputs against commits that landed after its snapshot,
  * aborts on conflict; writer TransactionalOnlineAttributeWriter.java).
  *
  * Unlike round 1, validation is STORAGE-derived, so two coordinator
  * instances over the same family detect each other's commits (the
  * reference equivalently serializes all coordinators through the
  * transaction commit log):
  *
  *  - `begin()` snapshots the family's max sequential id (one distributed
  *    agg — constant driver memory at any family size);
  *  - `commit()` scans only elements with `seqId > beginSeq` — the
  *    commits that landed since the snapshot, a set bounded by concurrent
  *    churn, not family size (at scale the seqId predicate prunes on
  *    parquet footer stats) — and intersects them with the transaction's
  *    touched scope under the configured [[TransactionMode]];
  *  - on success one fresh sequential id stamps every buffered write and
  *    the batch lands as one atomic parquet commit.
  *
  * The validate→append critical section spans COORDINATORS, not just one
  * instance: commits run under [[CommitArbiter]]'s storage-keyed lock —
  * an in-JVM monitor per storage identity plus, for path-backed families,
  * a cross-process marker-file lease (the reference equivalently routes
  * every coordinator's commit through one serialized transaction-log
  * observer). Two coordinator instances — or two JVMs on a shared
  * filesystem — therefore cannot interleave the conflict scan with each
  * other's append.
  */
final class TransactionCoordinator(family: AttributeLogFamily,
    mode: TransactionMode = TransactionMode.Attribute) {

  final class TransactionRejectedException(msg: String)
      extends RuntimeException(msg)

  private def currentMaxSeq(): Long =
    family.batchUpdates().toDF()
      .agg(coalesce(max(col("seqId")), lit(0L))).head().getLong(0)

  /** Open transaction holding its snapshot position, touched cells and
    * buffered writes.
    */
  final class Transaction private[TransactionCoordinator] (val beginSeq: Long) {
    private val touched = collection.mutable.Set.empty[(String, String)]
    private val writes = collection.mutable.ArrayBuffer.empty[StreamElement]

    /** Transactional read: latest value of a cell, adding it to the
      * conflict scope validated at commit. READ-YOUR-WRITES: the
      * transaction's own latest buffered write to the cell wins over
      * committed storage (a buffered delete — exact or covering wildcard
      * tombstone — reads as absent); without this a client that updates
      * then gets the same cell inside one transaction saw the
      * PRE-transaction value. The cell still joins the conflict scope —
      * serving from the buffer must not narrow commit validation.
      */
    def get(key: String, attribute: String): Option[StreamElement] = {
      touched += ((key, attribute))
      val own = writes.reverseIterator.find { e =>
        e.key == key && (e.attribute == attribute ||
          (e.deleteWildcard &&
            attribute.startsWith(e.attribute.stripSuffix("*"))))
      }
      own match {
        case Some(e) => if (e.delete) None else Some(e)
        case None =>
          new graft.randomaccess.RandomAccessReader(family).get(key, attribute)
      }
    }

    def update(e: StreamElement): Unit = writes += e

    /** Validate + atomically append (TransactionLogObserver commit path).
      * Scope = reads ∪ writes, so write-write races (lost updates) abort
      * even without a prior read. The whole scan+append runs as the
      * storage's exclusive committer (see [[CommitArbiter]]).
      */
    def commit(): Long = CommitArbiter.withCommitLock(family) {
      val scope = touched.toSet ++ writes.map(e => (e.key, e.attribute))
      val since = family.batchUpdates().toDF()
        .filter(col("seqId") > beginSeq)
        .select(col("seqId"), col("key"), col("attribute"))
        .collect()
      val conflicting = since.filter { r =>
        mode match {
          case TransactionMode.All => true
          case TransactionMode.Key => scope.exists(_._1 == r.getString(1))
          case TransactionMode.Attribute =>
            scope.contains((r.getString(1), r.getString(2)))
        }
      }
      if (conflicting.nonEmpty) {
        Metrics.inc("graft.transactions.rejected")
        throw new TransactionRejectedException(
          s"${conflicting.length} commit(s) after seq $beginSeq touch the " +
            s"transaction scope under mode $mode (first: " +
            s"${conflicting.head.getString(1)}/${conflicting.head.getString(2)})")
      }
      val seq = (since.map(_.getLong(0)) :+ beginSeq).max + 1
      if (writes.nonEmpty)
        family.append(writes.map(_.copy(seqId = seq)).toSeq)
      Metrics.inc("graft.transactions.committed")
      seq
    }
  }

  def begin(): Transaction = new Transaction(currentMaxSeq())

  /** Execute a whole begin/update/commit schedule as the family's ONE
    * exclusive committer — the batch arbiter for callers that already
    * hold their interleaving in hand (a replayed transaction log, a
    * deterministic contention test). Per-step semantics are EXACTLY the
    * sequential API's (TransactionSpec pins the law): begin snapshots
    * the current max sequential id, commit validates the txn's write
    * scope against every commit that landed after its snapshot under
    * the configured [[TransactionMode]], winners get the next
    * sequential id, losers abort without aborting the schedule.
    *
    * What amortizes: the sequential API pays one distributed max-seq
    * aggregate per begin plus one storage conflict scan per commit —
    * O(schedule) Spark jobs for driver-bounded metadata. Under the
    * commit lock nothing else can land, so ONE storage read establishes
    * the base position and every subsequent begin/validate resolves
    * against the in-memory commit ledger; accepted writes land as ONE
    * atomic append carrying their per-commit seqIds. Same winners, same
    * aborts, same seqIds, same committed rows — O(1) jobs.
    *
    * Differences, both deliberate and documented: (a) atomicity is
    * batch-level (a crash mid-schedule commits nothing, where the
    * sequential replay would persist a prefix — strictly stronger for a
    * replayed log, which re-runs from the top anyway); (b) transactional
    * READS are not supported in a schedule (they would need a
    * read-through of the in-memory ledger; no batch caller needs it) —
    * use the sequential API when a txn must `get`.
    */
  def commitMany(schedule: Seq[TransactionCoordinator.ScheduleStep])
      : Seq[TransactionCoordinator.ScheduleOutcome] =
    CommitArbiter.withCommitLock(family) {
      import TransactionCoordinator.{ScheduleOutcome, ScheduleStep}
      import ScheduleStep._
      val base = currentMaxSeq() // the one storage read
      var logicalMax = base
      val beginSeq = collection.mutable.Map.empty[Int, Long]
      val writes =
        collection.mutable.Map.empty[Int, collection.mutable.ArrayBuffer[StreamElement]]
      // the in-memory commit ledger: (seq, key, attribute) of every
      // in-schedule winner — the exact rows a sequential commit's
      // storage scan (seqId > beginSeq) would return under the lock
      val ledger = collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      val accepted = collection.mutable.ArrayBuffer.empty[StreamElement]
      val outcomes = collection.mutable.ArrayBuffer.empty[ScheduleOutcome]
      schedule.foreach {
        case Begin(i) =>
          require(!beginSeq.contains(i), s"txn $i began twice")
          beginSeq(i) = logicalMax
          writes(i) = collection.mutable.ArrayBuffer.empty
        case Update(i, e) =>
          require(beginSeq.contains(i), s"txn $i updated before begin")
          writes(i) += e
        case Commit(i) =>
          require(beginSeq.contains(i), s"txn $i committed before begin")
          val scope = writes(i).map(e => (e.key, e.attribute)).toSet
          val since = ledger.filter(_._1 > beginSeq(i))
          val conflicting = since.filter { case (_, k, a) =>
            mode match {
              case TransactionMode.All => true
              case TransactionMode.Key => scope.exists(_._1 == k)
              case TransactionMode.Attribute => scope.contains((k, a))
            }
          }
          if (conflicting.nonEmpty) {
            Metrics.inc("graft.transactions.rejected")
            outcomes += ScheduleOutcome(i, Left(
              s"${conflicting.length} commit(s) after seq ${beginSeq(i)} " +
                s"touch the transaction scope under mode $mode (first: " +
                s"${conflicting.head._2}/${conflicting.head._3})"))
          } else {
            val seq = (since.map(_._1) :+ beginSeq(i)).max + 1
            ledger ++= writes(i).map(e => (seq, e.key, e.attribute))
            accepted ++= writes(i).map(_.copy(seqId = seq))
            // the sequential commit persists nothing for an empty write
            // set, so a later begin must not see its seq either
            if (writes(i).nonEmpty) logicalMax = math.max(logicalMax, seq)
            Metrics.inc("graft.transactions.committed")
            outcomes += ScheduleOutcome(i, Right(seq))
          }
          beginSeq.remove(i); writes.remove(i); ()
      }
      if (accepted.nonEmpty) family.append(accepted.toSeq) // the one append
      outcomes.toSeq
    }
}

object TransactionCoordinator {

  /** One step of a [[TransactionCoordinator.commitMany]] schedule; `txn`
    * indexes a logical transaction within the schedule (begin before
    * update before commit, each txn commits at most once).
    */
  sealed trait ScheduleStep { def txn: Int }
  object ScheduleStep {
    final case class Begin(txn: Int) extends ScheduleStep
    final case class Update(txn: Int, e: StreamElement) extends ScheduleStep
    final case class Commit(txn: Int) extends ScheduleStep
  }

  /** Outcome of one scheduled transaction: the assigned sequential id on
    * commit, or the rejection message on conflict abort.
    */
  final case class ScheduleOutcome(txn: Int, result: Either[String, Long])
}
