package graft.api

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.{DescribeQueryCommand, ExplainCommand, ShowCurrentNamespaceCommand, ShowNamespacesCommand}

/** §3.2 — the asynchronous ad-hoc SQL path
  * (src/webserver/dbapp.py:126-232 + src/services/long_query_runner.py).
  *
  * Reference: a `query_queue` Postgres table, 10 polling worker
  * processes, results as CSV/pickle files, executed under a read-only
  * role. Spark-native: queue entries in a control structure, execution
  * via `spark.sql` in FIFO `submitted` order
  * (long_query_runner.py:96), results persisted to parquet, errors
  * captured per entry. The "read-only role" becomes a statement
  * validator — only SELECT-shaped statements run (no writes/DDL), which
  * is the sandboxing a catalog-less session can enforce.
  */
final class QueryQueue(spark: SparkSession, resultDir: String) {

  final case class Entry(
      queryid: String, userid: String, queries: Seq[String],
      submitted: Timestamp, var started: Option[Timestamp] = None,
      // claim sequence number (1-based), stamped inside claimNext
      // under the queue monitor — the MEASURED hand-out order, which
      // a timestamp cannot carry under a concurrent drain (ms ties).
      // Written and read under the monitor (claimNext/status), so no
      // volatile needed.
      var claimSeq: Long = -1L,
      // @volatile: execute() writes these from a runner thread while
      // status() reads under the queue monitor the writer never takes;
      // without the fences a poller can see finished set but
      // error/errortext still torn (or never see finished at all).
      // finished is written LAST, so volatile ordering makes the
      // error fields visible to any reader that observes finished.
      @volatile var finished: Option[Timestamp] = None,
      @volatile var error: Boolean = false,
      @volatile var errortext: String = "")

  private val entries = mutable.LinkedHashMap[String, Entry]()
  private val counter = new AtomicLong(0)
  private val claims = new AtomicLong(0)

  /** The reference runs queue entries under a Postgres read-only *role*
    * (long_query_runner.py:139-146); a catalog-less Spark session
    * enforces the same contract by parsing each statement and rejecting
    * any plan that is (or contains) a write. A leading-keyword regex is
    * NOT enough: Spark's grammar admits CTE-prefixed DML
    * (`WITH x AS (SELECT 1) INSERT ...`), which starts with WITH but
    * writes. Benign metadata commands (EXPLAIN/DESCRIBE/SHOW) stay
    * allowed — by EXACT class, default-deny: name-prefix matching would
    * auto-allow any future side-effecting command that happens to start
    * with Show/Describe. Statement wrappers that smuggle arbitrary SQL
    * past a plan inspection are rejected outright: EXECUTE IMMEDIATE
    * (`UnresolvedExecuteImmediate` — not a `Command`, so a Command-only
    * check misses it and the wrapped DDL runs), procedure `Call`
    * (likewise a plain `UnaryNode`), and SQL-scripting compound blocks.
    */
  private val allowedCommands: Set[Class[_]] = Set(
    classOf[ExplainCommand], classOf[DescribeQueryCommand],
    classOf[DescribeRelation], classOf[DescribeColumn],
    classOf[DescribeNamespace], classOf[DescribeFunction],
    classOf[ShowTables], classOf[ShowViews], classOf[ShowColumns],
    classOf[ShowFunctions], classOf[ShowTableProperties],
    classOf[ShowNamespacesCommand], classOf[ShowCurrentNamespaceCommand],
    classOf[ShowCreateTable], classOf[ShowPartitions])

  private[graft] def assertReadOnly(q: String): Unit = {
    val plan = spark.sessionState.sqlParser.parsePlan(q)
    def isWrite(p: LogicalPlan): Boolean = p match {
      case _: InsertIntoStatement | _: InsertIntoDir => true
      case _: UnresolvedExecuteImmediate | _: Call => true
      case c: Command => !allowedCommands.contains(c.getClass)
      case _ => false
    }
    val offending = plan.collectFirst { case p if isWrite(p) => p }
    require(offending.isEmpty,
      s"only read-only statements allowed, got ${offending.get.nodeName}: ${q.take(60)}")
  }

  def submit(userid: String, queries: Seq[String]): String = synchronized {
    val id = f"q${counter.incrementAndGet()}%06d"
    entries(id) = Entry(id, userid, queries, new Timestamp(System.currentTimeMillis()))
    id
  }

  def status(queryid: String): Option[Entry] = synchronized(entries.get(queryid))

  /** Oldest unstarted entry (ORDER BY submitted,
    * long_query_runner.py:92-109). */
  def claimNext(): Option[Entry] = synchronized {
    entries.values.find(_.started.isEmpty).map { e =>
      e.started = Some(new Timestamp(System.currentTimeMillis()))
      e.claimSeq = claims.incrementAndGet()
      e
    }
  }

  /** Run one claimed entry: statements share a session sequentially,
    * the last result is persisted (long_query_runner.py:112-175). */
  def execute(e: Entry): Unit = {
    try {
      var last: Option[DataFrame] = None
      e.queries.foreach { q =>
        assertReadOnly(q)
        last = Some(spark.sql(q))
      }
      // an empty statement list must not complete "successfully" with
      // no output — results() would later fail with a raw path error
      if (last.isEmpty)
        throw new IllegalArgumentException("query entry has no statements")
      last.foreach(_.write.mode("overwrite").parquet(s"$resultDir/${e.queryid}"))
    } catch {
      case ex: Throwable => e.error = true; e.errortext = ex.getMessage
    } finally {
      e.finished = Some(new Timestamp(System.currentTimeMillis()))
    }
  }

  /** The runner's poll loop: claim and execute until the queue is empty. */
  private def drain(): Unit = {
    var next = claimNext()
    while (next.isDefined) { next.foreach(execute); next = claimNext() }
  }

  /** Drain the queue (the runner pool's poll loop, serialized). */
  def runAll(): Unit = drain()

  /** Drain with a pool of `nWorkers` claiming threads — the
    * reference's runner POOL (long_query_runner.py:216-251 spawns 10
    * worker processes that poll and claim independently; ours are
    * threads because Spark shares one driver). [[claimNext]] is the
    * single serialization point: it hands out the oldest unstarted
    * entry under the queue monitor, so every entry is claimed exactly
    * once and CLAIM order stays oldest-submitted-first even though
    * COMPLETION order is arbitrary under concurrency — the same
    * split the reference gets from `FOR UPDATE SKIP LOCKED`-style
    * claiming. Spark is thread-safe for concurrent job submission
    * (each worker's statements become independent jobs the scheduler
    * interleaves; results land under per-queryid directories), which
    * is how a served deployment would actually drain an ad-hoc
    * queue: N light driver threads, cluster slots arbitrated by the
    * scheduler's pools. A worker that hits a failing entry records
    * the error on the entry ([[execute]] never throws) and keeps
    * claiming, so one poisoned query cannot idle a worker or stall
    * the queue. */
  def runAll(nWorkers: Int): Unit = {
    require(nWorkers > 0, s"nWorkers must be positive (got $nWorkers)")
    val workers = Seq.tabulate(nWorkers) { i =>
      val t = new Thread(() => drain(), s"query-queue-worker-$i")
      t.start(); t
    }
    workers.foreach(_.join())
  }

  def results(queryid: String): DataFrame =
    spark.read.parquet(s"$resultDir/$queryid")

  /** Result retention: delete the persisted result directory and the
    * queue entry for every entry finished STRICTLY BEFORE `olderThan`
    * (src/services/long_query_runner.py:69-89 prunes results more than
    * 7 days old, result file + queue row). The cutoff is injected
    * rather than computed here so retention policy — and the spec —
    * stay deterministic. The reference needs a separate
    * `error AND started<since` clause because its errored entries
    * never set `finished`; ours always do ([[execute]]'s finally), so
    * one cutoff covers success and error alike (errored entries just
    * have no result directory to delete). In-flight entries (claimed,
    * not finished) are never pruned. Runs under the queue monitor like
    * submit/claim; an entry observed finished had its result write
    * complete first (`finished` is the volatile write-last fence), so
    * deleting the directory cannot race its writer. Returns the pruned
    * ids; a pruned id subsequently 404s in [[status]] and [[results]].
    *
    * Only the victim selection + entry removal hold the queue monitor;
    * the recursive directory walks happen after release — a large
    * result tree (or a slow filesystem) must not block submit/status/
    * claimNext for the duration of the delete. Entries are removed
    * first, so concurrent [[status]] already 404s while files are
    * still being torn down (same visibility a reader had mid-walk
    * under the old in-lock delete, which never guarded [[results]]'s
    * unsynchronized parquet read anyway).
    *
    * Deletion is rename-THEN-walk: each victim directory is first
    * atomically renamed to a `.trash-<id>` sibling (query ids are
    * UUIDs, so the dot-prefixed name can never collide with a live
    * result), and only the renamed tree is walk-deleted. A reader
    * therefore observes either the complete directory or ENOENT —
    * never a half-deleted parquet tree — and a victim is only
    * re-inserted (for retry by a later prune) when the RENAME fails,
    * i.e. while its files are still fully intact; once renamed the
    * entry stays gone even if the walk fails, because the result is
    * already unreadable at its public path. Leftover trash from a
    * failed walk is re-swept at the start of every prune. */
  def prune(olderThan: Timestamp): Seq[String] = {
    import java.nio.file.{Files, Paths}
    // delete-if-exists walk (graft.util.Local) tolerates a concurrent
    // prune racing the same tree; Files.walk surfaces racy directory
    // iteration as UncheckedIOException, so every walk below catches
    // BOTH exception shapes — an escape mid-flatMap would strand the
    // remaining victims' directories with their entries already gone
    val walkFailure: PartialFunction[Throwable, Throwable] = {
      case e: java.io.IOException => e
      case e: java.io.UncheckedIOException => e
    }
    // re-sweep trash orphaned by a previous prune's failed walk
    val root = Paths.get(resultDir)
    if (Files.isDirectory(root)) {
      val s = Files.list(root)
      try s.filter(_.getFileName.toString.startsWith(".trash-"))
        .forEach { t =>
          try graft.util.Local.deleteRecursively(t.toString)
          catch walkFailure.andThen { e =>
            System.err.println(s"[queryqueue] trash sweep of $t failed: $e") }
        }
      finally s.close()
    }
    val victims = synchronized {
      val vs = entries.values
        .filter(_.finished.exists(_.before(olderThan))).toVector
      vs.foreach(v => entries.remove(v.queryid))
      vs
    }
    victims.flatMap { v =>
      val dir = Paths.get(s"$resultDir/${v.queryid}")
      val trash = Paths.get(s"$resultDir/.trash-${v.queryid}")
      val renamed =
        try {
          if (Files.exists(dir))
            Files.move(dir, trash, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          case e: java.io.IOException =>
            synchronized { entries.put(v.queryid, v): Unit }
            System.err.println(
              s"[queryqueue] prune rename of ${v.queryid} failed, will retry: $e")
            false
        }
      if (renamed) {
        try graft.util.Local.deleteRecursively(trash.toString)
        catch walkFailure.andThen { e =>
          // already unreadable at the public path; next prune re-sweeps
          System.err.println(
            s"[queryqueue] trash delete of ${v.queryid} deferred: $e")
        }
        Some(v.queryid)
      } else None
    }
  }

  /** [[prune]] at the reference's default retention: everything
    * finished more than 7 days before `now`. */
  def pruneExpired(now: Timestamp): Seq[String] =
    prune(Timestamp.from(now.toInstant.minus(java.time.Duration.ofDays(7))))
}
