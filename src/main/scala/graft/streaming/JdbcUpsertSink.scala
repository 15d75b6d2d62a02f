package graft.streaming

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** A real JDBC merge sink behind `foreachBatch` — bytes cross an actual JDBC
  * driver, closing the reference's defining boundary (psycopg2 connection
  * `connect.py:8-14` executing `INSERT … ON CONFLICT` server-side,
  * `agency.py:26-37,311-322`). The in-JVM Derby engine (shipped with Spark
  * for the Hive metastore) stands in for the warehouse — the SQL and the
  * commit protocol are the same ones a Postgres/warehouse URL would get.
  *
  * Exactly-once table state uses the transactional-sink recipe:
  *
  *   1. the micro-batch is loaded into a staging table by parallel
  *      per-partition INSERT batches (executor-side connections — the
  *      cluster-scale write path; nothing funnels through the driver);
  *   2. ONE driver-side transaction then runs `MERGE INTO target USING
  *      staging` (upsert on the key) AND records the batch id in
  *      `graft_commits`, committing both atomically.
  *
  * A crash before the commit leaves the target and the recorded batch id
  * unchanged — the staging load is repeatable, and the batch replays from
  * the checkpoint. A crash after the commit but before the checkpoint
  * advanced re-enters `merge`, which the `batchId <= committed` guard skips.
  * Either way the target sees the batch exactly once. (Even unguarded, the
  * MERGE upsert is idempotent for identical re-delivery.)
  *
  * Scale notes: the staging INSERT is per-partition batched (executeBatch
  * every [[JdbcUpsertSink.InsertBatch]] rows); the MERGE joins staging
  * against the target inside the database on the indexed key — O(batch)
  * work, not O(table). Batches must carry at most one row per key (dedup
  * upstream — `StreamingOps.dedupByKey`), the same contract every MERGE
  * engine imposes.
  *
  * Task-retry safety: each staging partition commits its own INSERT
  * transaction, so a Spark task that commits and is then re-run (retry or
  * speculative duplicate) re-inserts its rows whole — exact duplicates,
  * since a partition's content is deterministic within a batch. The merge
  * transaction therefore first materializes a SELECT DISTINCT copy of
  * staging and MERGEs from that, restoring the one-row-per-key contract for
  * every such duplicate (Derby's MERGE source must be a base table). If a
  * re-run somehow staged same-key rows with differing values — possible only
  * with a nondeterministic upstream — the merge fails loud on a key-
  * uniqueness probe rather than applying an arbitrary winner.
  */
final class JdbcUpsertSink(url: String, table: String, keys: Seq[String],
                           schema: StructType) extends Serializable {
  require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
    s"keys ${keys.mkString(",")} must be columns of the schema")

  private val cols = schema.fields.map(_.name).toSeq
  private val nonKeyCols = cols.filterNot(keys.contains)
  // CDC marker: batches use ParquetTableSink.DeleteCol (`_deleted`), the
  // same convention as the parquet sink; inside the database it stages as
  // `graft_deleted` (Derby identifiers cannot start with an underscore).
  // A batch without the column stages all-false.
  private val DelCol = "graft_deleted"
  private val stagingSchema = StructType(schema.fields :+
    StructField(DelCol, BooleanType, nullable = true))
  private val stagingCols = cols :+ DelCol
  private val stage = s"${table}_stage"
  // Derby's MERGE source must be a BASE TABLE (no derived tables, no views),
  // so the retry-dedup SELECT DISTINCT materializes into a second staging
  // table inside the merge transaction.
  private val stageDedup = s"${stage}_dedup"

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR(4000)"
    case other => sys.error(s"JdbcUpsertSink: unsupported column type $other")
  }

  /** The java.sql.Types code for setNull: embedded Derby rejects
    * Types.NULL ("data type 0 is not supported"), so NULLs must carry the
    * column's declared JDBC type. */
  private def jdbcTypeCode(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _: DecimalType => java.sql.Types.DECIMAL
    case StringType => java.sql.Types.VARCHAR
    case other => sys.error(s"JdbcUpsertSink: unsupported column type $other")
  }

  /** Opt-in statement timing (-Dgraft.jdbc.timing=1): per-phase wall ms on
    * stderr, for sizing the merge path at scale. Zero cost when off. */
  private def timed[T](label: String)(body: => T): T =
    if (System.getProperty("graft.jdbc.timing") == null) body
    else {
      val t0 = System.nanoTime()
      try body finally System.err.println(
        f"[jdbc-timing] $table $label ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }

  private def withConn[T](body: Connection => T): T = {
    JdbcUpsertSink.ensureDriver(url)
    val c = DriverManager.getConnection(url)
    try body(c) finally c.close()
  }

  /** Idempotent DDL: Derby has no IF NOT EXISTS — swallow "already exists". */
  private def ensure(c: Connection, ddl: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(ddl)
    catch { case e: SQLException if e.getSQLState == "X0Y32" => () }
    finally st.close()
  }

  /** Create target/staging/commit-log tables (and the retry-dedup table) if
    * absent. */
  def ensureTables(): Unit = withConn(createTables)

  private def createTables(c: Connection): Unit = {
    val colDefs = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    val stageDefs = stagingSchema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    ensure(c, s"CREATE TABLE $table ($colDefs, PRIMARY KEY (${keys.mkString(", ")}))")
    ensure(c, s"CREATE TABLE $stage ($stageDefs)")
    ensure(c, s"CREATE TABLE $stageDedup ($stageDefs)")
    // NOTE the staging key index is NOT created here: it follows the bulk-
    // load lifecycle — dropped by clearStaging before the parallel INSERT
    // (per-row index maintenance over a 1M-row load costs more than one
    // post-load build) and rebuilt by stageIndex()/mergeCommit before the
    // delete-wins anti-join probes it. Unindexed, Derby runs that probe as
    // a nested-loop full scan, O(batch × tombstones): measured
    // non-terminating at the 10× scale gate (1M-row batch, 100k
    // tombstones). stageDedup deliberately stays index-free — the MERGE
    // probes the TARGET's primary key and the conflict probe is a
    // sort-group-by, so an index there would be pure insert-path overhead.
    ensure(c, "CREATE TABLE graft_commits (sink_name VARCHAR(128) PRIMARY KEY, batch_id BIGINT)")
    ensure(c, "CREATE TABLE graft_sink_locks (sink_name VARCHAR(128) PRIMARY KEY, " +
      "holder VARCHAR(256), acquired_at TIMESTAMP)")
  }

  def lastCommittedBatchId: Long = withConn { c =>
    createTables(c)
    committedBatchId(c)
  }

  /** The recorded batch id on an open connection; the tables must exist. */
  private def committedBatchId(c: Connection): Long = {
    val ps = c.prepareStatement("SELECT batch_id FROM graft_commits WHERE sink_name = ?")
    ps.setString(1, table)
    val rs = ps.executeQuery()
    try { if (rs.next()) rs.getLong(1) else -1L } finally { rs.close(); ps.close() }
  }

  private def bind(ps: PreparedStatement, row: Row): Unit =
    stagingSchema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) ps.setNull(i + 1, jdbcTypeCode(f.dataType))
      else f.dataType match {
        case LongType => ps.setLong(i + 1, row.getLong(i))
        case IntegerType => ps.setInt(i + 1, row.getInt(i))
        case ShortType => ps.setShort(i + 1, row.getShort(i))
        case DoubleType => ps.setDouble(i + 1, row.getDouble(i))
        case FloatType => ps.setFloat(i + 1, row.getFloat(i))
        case BooleanType => ps.setBoolean(i + 1, row.getBoolean(i))
        case TimestampType => ps.setTimestamp(i + 1, row.getAs[Timestamp](i))
        case DateType => ps.setDate(i + 1, row.getAs[java.sql.Date](i))
        case _: DecimalType => ps.setBigDecimal(i + 1, row.getAs[java.math.BigDecimal](i))
        case StringType => ps.setString(i + 1, row.getString(i))
        case other => sys.error(s"JdbcUpsertSink: unsupported column type $other")
      }
    }

  /** Bind-order safety: binding is positional by the DECLARED schema, so the
    * batch is re-projected into declared order first (a caller with the same
    * columns in another order would otherwise write values into the wrong
    * columns). Types must agree exactly — fail loud, not coerce. */
  private def aligned(batch: DataFrame): DataFrame = {
    // Name matching follows the session resolver (spark.sql.caseSensitive,
    // default false): a frame read back through a JDBC source that uppercases
    // identifiers must still align. The type check stays exact.
    val caseSensitive =
      batch.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def canon(n: String): String = if (caseSensitive) n else n.toLowerCase
    val byName = batch.schema.fields.map(f => canon(f.name) -> f.dataType).toMap
    require(byName.size == batch.schema.size,
      s"JdbcUpsertSink($table): batch has columns differing only in case under a case-insensitive resolver")
    schema.fields.foreach { f =>
      val dt = byName.getOrElse(canon(f.name),
        sys.error(s"JdbcUpsertSink($table): batch is missing column ${f.name}"))
      require(dt == f.dataType,
        s"JdbcUpsertSink($table): column ${f.name} is $dt in the batch but ${f.dataType} in the sink schema")
    }
    // the CDC marker joins last under its staging name; absent → all-false
    val hasDel = byName.contains(canon(ParquetTableSink.DeleteCol))
    if (hasDel) require(byName(canon(ParquetTableSink.DeleteCol)) == BooleanType,
      s"JdbcUpsertSink($table): ${ParquetTableSink.DeleteCol} must be BOOLEAN")
    val del =
      if (hasDel)
        org.apache.spark.sql.functions.coalesce(
          batch.col(ParquetTableSink.DeleteCol),
          org.apache.spark.sql.functions.lit(false))
      else org.apache.spark.sql.functions.lit(false)
    batch.select(cols.map(cn => batch.col(cn).as(cn)) :+ del.as(DelCol): _*)
  }

  private[streaming] def clearStaging(): Unit = withConn { c =>
    val st = c.createStatement()
    // TRUNCATE, not DELETE: a conglomerate swap, O(1) in batch size. The
    // key index is dropped FIRST (bulk-load lifecycle): the parallel
    // INSERT then appends to a bare heap, and mergeCommit rebuilds the
    // index in one post-load sort — measured cheaper than 1M incremental
    // B-tree maintenances under 32 writer threads.
    try {
      try st.executeUpdate(s"DROP INDEX ${stage}_k")
      catch { case e: SQLException if e.getSQLState == "42X65" => () }
      st.executeUpdate(s"TRUNCATE TABLE $stage")
    } finally st.close()
  }

  /** The executor-parallel staging load. Each partition commits its own
    * INSERT transaction, so a task retry/speculative duplicate re-inserts
    * its rows whole — `mergeCommit` first collapses staging through SELECT
    * DISTINCT, restoring single delivery for those exact duplicates. */
  private[streaming] def loadStaging(batch: DataFrame): Unit = {
    val insertSql =
      s"INSERT INTO $stage (${stagingCols.mkString(", ")}) " +
        s"VALUES (${stagingCols.map(_ => "?").mkString(", ")})"
    val connUrl = url // the closure captures `this` (Serializable) + this string
    aligned(batch).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        JdbcUpsertSink.ensureDriver(connUrl)
        val c = DriverManager.getConnection(connUrl)
        try {
          c.setAutoCommit(false)
          try {
            val ps = c.prepareStatement(insertSql)
            var n = 0
            rows.foreach { r =>
              bind(ps, r)
              ps.addBatch()
              n += 1
              if (n % JdbcUpsertSink.InsertBatch == 0) ps.executeBatch()
            }
            ps.executeBatch()
            ps.close()
            c.commit()
          } catch { case e: Throwable =>
            // Roll back before close: embedded Derby refuses to close a
            // connection with an open transaction (SQLSTATE 25001), which
            // would mask the original bind/insert failure in task logs.
            try c.rollback() catch { case _: SQLException => () }
            throw e
          }
        } finally c.close()
      }
    }
  }

  /** ONE transaction: staging dedup + merge + batch-id commit — the atomic
    * boundary. */
  private[streaming] def mergeCommit(batchId: Long): Unit =
    withConn { c =>
      // pre-transaction cleanup of the PREVIOUS merge's dedup rows: a
      // TRUNCATE under its own autocommit (conglomerate swap) instead of an
      // index-maintained row-by-row DELETE inside the transaction. A crash
      // right after leaves an empty dedup table — exactly what the replay
      // expects to find.
      val stTrunc = c.createStatement()
      try timed("dedup-truncate")(stTrunc.executeUpdate(s"TRUNCATE TABLE $stageDedup"))
      finally stTrunc.close()
      // post-load index build (see clearStaging): one bulk sort, under its
      // own autocommit — a crash leaves it in place and the next
      // clearStaging drops it again. Idempotent via ensure().
      timed("stage-index")(ensure(c,
        s"CREATE INDEX ${stage}_k ON $stage (${keys.mkString(", ")}, $DelCol)"))
      c.setAutoCommit(false)
      try {
        val st0 = c.createStatement()
        try {
          // DELETE WINS within a batch (the parquet sink's rule): an upsert
          // row whose key also carries a tombstone in the same batch is
          // dropped here, so only one intent per key survives into the
          // MERGE. The anti-join runs inside the database over the
          // micro-batch-sized staging table (a warehouse target hashes it).
          val keyEq = keys.map(k => s"d.$k = s.$k").mkString(" AND ")
          // tombstones keep only their key (payload values are never stored,
          // so two tombstones for one key collapse under DISTINCT instead of
          // tripping the conflict probe below)
          val sel = cols.map { cn =>
            if (keys.contains(cn)) s"s.$cn"
            else s"CASE WHEN s.$DelCol = TRUE THEN NULL ELSE s.$cn END"
          }.mkString(", ")
          timed("dedup-insert")(
            st0.executeUpdate(s"INSERT INTO $stageDedup (${stagingCols.mkString(", ")}) " +
              s"SELECT DISTINCT $sel, COALESCE(s.$DelCol, FALSE) FROM $stage s " +
              s"WHERE s.$DelCol = TRUE OR NOT EXISTS " +
              s"(SELECT 1 FROM $stage d WHERE d.$DelCol = TRUE AND $keyEq) " +
              // key-ordered (select-list ordinals: DISTINCT requires it) so
              // the MERGE's target-index probes walk the B-tree
              // sequentially instead of random-access per row
              s"ORDER BY ${keys.map(k => cols.indexOf(k) + 1).mkString(", ")}"))
          // DISTINCT collapses byte-identical retry duplicates only. If a
          // stage re-run produced same-key rows with DIFFERENT values (a
          // nondeterministic upstream), MERGE behavior would be undefined —
          // fail loud here instead of merging nondeterministically.
          val rs = timed("conflict-probe")(st0.executeQuery(
            s"SELECT ${keys.mkString(", ")} FROM $stageDedup " +
              s"GROUP BY ${keys.mkString(", ")} HAVING COUNT(*) > 1 " +
              "FETCH FIRST 1 ROWS ONLY"))
          try {
            if (rs.next()) sys.error(
              s"JdbcUpsertSink($table): staging holds conflicting rows for key (" +
                keys.indices.map(i => rs.getObject(i + 1)).mkString(", ") +
                ") — upstream batch is not deterministic per key; dedup by key before the sink")
          } finally rs.close()
        } finally st0.close()
        val on = keys.map(k => s"t.$k = s.$k").mkString(" AND ")
        val matched =
          if (nonKeyCols.isEmpty) ""
          else s"WHEN MATCHED AND s.$DelCol = FALSE THEN UPDATE SET " +
            nonKeyCols.map(cn => s"$cn = s.$cn").mkString(", ") + " "
        // tombstone semantics: matched + deleted → DELETE; unmatched +
        // deleted → no clause fires (absent-key delete is a no-op)
        val mergeSql =
          s"""MERGE INTO $table t USING $stageDedup s ON $on
             |WHEN MATCHED AND s.$DelCol = TRUE THEN DELETE
             |$matched
             |WHEN NOT MATCHED AND s.$DelCol = FALSE THEN INSERT (${cols.mkString(", ")})
             |  VALUES (${cols.map(cn => s"s.$cn").mkString(", ")})""".stripMargin
        // Initial-load fast path: against an EMPTY target no MATCHED clause
        // can fire and absent-key tombstones are no-ops, so the MERGE
        // degenerates to a plain INSERT of the non-deleted rows — stated as
        // one, Derby takes its empty-table bulk-insert path (deferred index
        // build) instead of 1M per-row PK probes. Same transaction, same
        // visible result; the key-uniqueness probe above already ran.
        val st = c.createStatement()
        try {
          val empty = {
            val rs = st.executeQuery(s"SELECT 1 FROM $table FETCH FIRST 1 ROWS ONLY")
            try !rs.next() finally rs.close()
          }
          if (empty)
            timed("merge")(st.executeUpdate(
              s"INSERT INTO $table (${cols.mkString(", ")}) " +
                s"SELECT ${cols.mkString(", ")} FROM $stageDedup WHERE $DelCol = FALSE"))
          else timed("merge")(st.executeUpdate(mergeSql))
        } finally st.close()

        val upd = c.prepareStatement(
          "UPDATE graft_commits SET batch_id = ? WHERE sink_name = ?")
        upd.setLong(1, batchId); upd.setString(2, table)
        val touched = upd.executeUpdate()
        upd.close()
        if (touched == 0) {
          val ins = c.prepareStatement(
            "INSERT INTO graft_commits (sink_name, batch_id) VALUES (?, ?)")
          ins.setString(1, table); ins.setLong(2, batchId)
          ins.executeUpdate(); ins.close()
        }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }

  /** Test-only stall point invoked while the sink lock is held, before any
    * destructive work — the two-writer JdbcSinkSpec drive parks here.
    * Transient: only the driver invokes it, and the sink object rides into
    * the executor-side staging closures (a test-assigned hook must not drag
    * its captures through serialization). */
  @transient private[streaming] var onLockAcquired: () => Unit = () => ()

  /** This writer's recorded identity in the lock row — diagnostic only (the
    * lock's liveness is the HOLDING TRANSACTION, not this string): an
    * operator inspecting a contended sink sees who has it. */
  private def holderId: String = {
    val host = scala.util.Try(java.net.InetAddress.getLocalHost.getHostName).getOrElse("?")
    s"$host pid=${ProcessHandle.current().pid()}"
  }

  /** ONE-WRITER ENFORCEMENT. The sink's staging tables and commit protocol
    * assume a single merger per sink name (two concurrent mergers would
    * interleave rows in the shared staging table). That contract is
    * enforced database-natively: an UPDATE of this sink's `graft_sink_locks`
    * row inside a transaction that stays OPEN for the whole merge — the row
    * X-lock IS the mutex. A second merger's UPDATE blocks on the row and
    * errors out of the engine's lock-wait timeout (or this statement's own
    * query timeout, whichever fires first), failing loud before touching
    * staging. Chosen over the parquet sink's lock-file idiom because the
    * database is the sink's only shared medium — a warehouse URL is reached
    * from hosts that share no filesystem — and because crash-release is
    * free: a holder that dies mid-merge has its transaction rolled back by
    * the engine, freeing the lock with no pid-liveness sweep. (Embedded
    * Derby additionally refuses to dual-boot one database directory from
    * two JVMs — SQLSTATE XSDB6 — so cross-process contention on the
    * embedded stand-in already fails loud at connect; the row lock is the
    * portable mechanism a client/server URL relies on.)
    *
    * Returns the open lock connection; the caller MUST release it. */
  private def acquireWriterLock(): Connection = {
    JdbcUpsertSink.ensureDriver(url)
    val c = DriverManager.getConnection(url)
    try {
      // lock-wait SQLSTATEs → the loud one-writer error. Any statement that
      // touches the X-locked row can be the one that blocks (the duplicate-
      // key probe of the INSERT below included), so both statements share it.
      def busy(e: SQLException): Nothing =
        sys.error(s"JdbcUpsertSink($table): another writer holds the sink lock " +
          s"(graft_sink_locks row for '$table' is X-locked by a live transaction); " +
          "one merger per sink — stop the other writer and retry. " +
          s"[${e.getSQLState}] ${e.getMessage}")
      val busyStates = Set("40XL1", "40001", "XCL52")
      // ensure the registry row exists (its own autocommit statement;
      // a concurrent creator's duplicate-key error means it exists)
      val ins = c.prepareStatement(
        "INSERT INTO graft_sink_locks (sink_name, holder, acquired_at) VALUES (?, NULL, NULL)")
      ins.setQueryTimeout(JdbcUpsertSink.LockWaitSeconds)
      ins.setString(1, table)
      try ins.executeUpdate()
      catch {
        case e: SQLException if e.getSQLState == "23505" => ()
        case e: SQLException if busyStates.contains(e.getSQLState) => busy(e)
      } finally ins.close()
      c.setAutoCommit(false)
      val upd = c.prepareStatement(
        "UPDATE graft_sink_locks SET holder = ?, acquired_at = CURRENT_TIMESTAMP " +
          "WHERE sink_name = ?")
      // belt-and-braces bound on the blocking wait, for engines whose
      // lock-wait timeout is configured infinite
      upd.setQueryTimeout(JdbcUpsertSink.LockWaitSeconds)
      upd.setString(1, holderId); upd.setString(2, table)
      try upd.executeUpdate()
      catch { case e: SQLException if busyStates.contains(e.getSQLState) => busy(e) }
      finally upd.close()
      c
    } catch { case e: Throwable =>
      try c.rollback() catch { case _: SQLException => () }
      try c.close() catch { case _: SQLException => () }
      throw e
    }
  }

  private def releaseWriterLock(c: Connection): Unit =
    try {
      // clear the diagnostic holder stamp, then commit — the commit is what
      // releases the row X-lock (rollback would equally; the stamp is for
      // operators, the transaction is the lock)
      val upd = c.prepareStatement(
        "UPDATE graft_sink_locks SET holder = NULL WHERE sink_name = ?")
      try { upd.setString(1, table); upd.executeUpdate() } finally upd.close()
      c.commit()
    } catch { case _: SQLException =>
      try c.rollback() catch { case _: SQLException => () }
    } finally {
      try c.close() catch { case _: SQLException => () }
    }

  /** Micro-batch upsert with the exactly-once batchId guard. */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    // the DDL runs once per merge; the guard re-check below reads on the
    // lock connection, where the tables already exist
    if (batchId <= lastCommittedBatchId) return // replay of a committed batch
    val lock = timed("acquire-lock")(acquireWriterLock())
    try {
      onLockAcquired()
      // re-check under the lock: the writer we waited behind may have
      // committed this very batch (replayed work splitting across writers)
      if (batchId <= committedBatchId(lock)) return
      timed("clear-staging")(clearStaging()) // repeatable: a replayed batch re-stages from scratch
      timed("load-staging")(loadStaging(batch))
      timed("merge-commit")(mergeCommit(batchId))
    } finally releaseWriterLock(lock)
  }
}

object JdbcUpsertSink {
  /** JDBC executeBatch flush interval for the staging load. */
  val InsertBatch = 4000

  /** Upper bound (seconds) a merger blocks on another writer's sink lock
    * before failing loud — statement-level query timeout, so it binds even
    * when the engine's own lock-wait timeout is configured infinite. */
  val LockWaitSeconds = 15

  /** Belt-and-braces driver registration: JDBC 4 service loading normally
    * finds the embedded Derby driver on the classpath, but an isolating
    * classloader (sbt fork, executor side) can miss it — and after an
    * engine-wide `jdbc:derby:;shutdown=true` the driver DEregisters, which
    * a plain Class.forName cannot undo (the static initializer only runs
    * once). Instantiating the driver is Derby's documented restart recipe:
    * it re-boots the engine and re-registers, and is idempotent when the
    * engine is already up.
    */
  private[streaming] def ensureDriver(url: String): Unit =
    if (url.startsWith("jdbc:derby:")) {
      // Engine sizing, applied before first boot (Derby reads these once):
      // the defaults — a 4 MB page cache and 1 MB per-table join memory —
      // are desktop-era and make a 1M-row MERGE page-thrash; a warehouse
      // target would be sized for its working set, so the embedded stand-in
      // is too. Respect values the operator already set.
      Seq(
        "derby.storage.pageCacheSize" -> "65536",      // pages: 256 MB data cache
        "derby.language.maxMemoryPerTable" -> "262144", // KB: lets the optimizer hash-join micro-batch tables
        "derby.storage.logBufferSize" -> "1048576",     // bytes: fewer WAL flushes under the parallel staging load
        "derby.storage.pageSize" -> "32768",            // bytes: 8x fewer page allocations/latches on the bulk paths
        "derby.storage.logSwitchInterval" -> "134217728",  // bytes: not one log-file rotate+sync per MB of merge log
        "derby.storage.checkpointInterval" -> "134217728", // bytes: don't checkpoint-storm the page cache mid-merge
        "derby.locks.escalationThreshold" -> "1000000" // rows: keep the parallel staging writers on row locks (the 5000 default escalates each to an X table lock, serializing the load)
        // NOT derby.locks.waitTimeout: that knob is engine-GLOBAL, so a low
        // value would abort any legitimate >10 s wait anywhere in the
        // database (e.g. a staging writer queued behind a checkpoint on a
        // large merge), while the only wait the design intends to cap — a
        // second merger blocked on the sink-lock row — is already bounded
        // per-statement by setQueryTimeout(LockWaitSeconds) on the lock
        // INSERT/UPDATE themselves.
      ).foreach { case (k, v) =>
        if (System.getProperty(k) == null) System.setProperty(k, v) }
      try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        .getDeclaredConstructor().newInstance()
      catch { case _: ReflectiveOperationException => () } // fall back to ServiceLoader
    }
}
