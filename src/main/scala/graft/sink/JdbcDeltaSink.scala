package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.sql.{DataFrame, Row}
import graft.core.Deltas

/** Declarative output-table schema (reference `DbRecord`/`DbColumn`,
  * db/mod.rs:134-206): name, SQL type, index flag, version stamp. */
final case class ColumnSpec(name: String, sqlType: String, index: Boolean = false)

final case class TableSpec(name: String, version: Int, columns: Seq[ColumnSpec]) {
  def colNames: Seq[String] = columns.map(_.name)
}

/** Shared row-level SQL for the delta protocol's member tables. */
private[sink] object DeltaSql {

  /** JDBC statement-batch size of [[applyTableDeltas]]'s inserts. */
  val RowBatchSize = 1000

  def bind(ps: PreparedStatement, params: Seq[Any]): Unit =
    params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement(); try st.executeUpdate(sql) finally st.close()
  }

  /** Identifier-case-robust existence probe. Unquoted identifiers fold
    * differently per engine — upper (Derby/Oracle/H2), lower (Postgres),
    * exact (SQLite/MSSQL) — so probe all three spellings; tested on Derby
    * (upper-folding) with spot checks for the as-given spelling. */
  def tableExists(c: Connection, name: String): Boolean = {
    def probe(n: String): Boolean = {
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }
    probe(name) || probe(name.toUpperCase) || probe(name.toLowerCase)
  }

  def nullSafeWhere(spec: TableSpec, values: Seq[Any]): (String, Seq[Any]) = {
    val (clauses, params) = spec.colNames.zip(values).map { case (n, v) =>
      if (v == null) (s"$n IS NULL", None) else (s"$n = ?", Some(v))
    }.unzip
    (clauses.mkString(" AND "), params.flatten)
  }

  /** One consolidated delta row of a micro-batch: its values in
    * `colNames` order and its `mult`. */
  def rowOf(r: Row, colNames: Seq[String]): (Seq[Any], Long) = {
    val values = colNames.map(n => r.getAs[Any](n) match {
      case null => null
      case v => v.asInstanceOf[AnyRef]
    })
    (values, r.getAs[Long](Deltas.MULT))
  }

  /** Bag-semantics application of one table's deltas on an open txn.
    *
    * Driver-memory-bounded: `deltas` is an ITERATOR (fed from
    * `toLocalIterator` by the batch writers, so a full-history replay
    * never materializes the view on the driver) and inserts go through
    * JDBC statement batching flushed every [[RowBatchSize]] rows. Pending
    * inserts are flushed before ANY delete executes, so unconsolidated
    * input (insert and retraction of the same tuple in one batch)
    * behaves exactly like the old statement-at-a-time form.
    *
    * Retractions per dialect: with `deleteLimitSql` (MSSQL `DELETE TOP
    * (?)`) exactly `-mult` rows are deleted; otherwise delete-all and
    * reinsert `removed + mult` copies, the affected-row count standing
    * in for a separate COUNT round trip (postgre.rs:245-247 — the
    * reference reads the delete's row count the same way). */
  def applyTableDeltas(c: Connection, spec: TableSpec,
                       deltas: Iterator[(Seq[Any], Long)],
                       dialect: SinkDialect): Unit = {
    val insRow = c.prepareStatement(dialect.insertSql(spec))
    var pending = 0
    def flush(): Unit = if (pending > 0) { insRow.executeBatch(); pending = 0 }
    def queueInserts(values: Seq[Any], copies: Long): Unit =
      (0L until copies).foreach { _ =>
        bind(insRow, values)
        insRow.addBatch()
        pending += 1
        if (pending >= RowBatchSize) flush()
      }
    deltas.foreach { case (values, mult) =>
      if (mult > 0) queueInserts(values, mult)
      else if (mult < 0) {
        flush() // a delete must see every insert queued before it
        val (where, params) = nullSafeWhere(spec, values)
        dialect.deleteLimitSql(spec, where) match {
          case Some(sql) => // bounded delete: remove exactly -mult rows
            val del = c.prepareStatement(sql)
            del.setLong(1, -mult)
            bind2(del, params, offset = 1)
            val removed = del.executeUpdate(); del.close()
            if (removed < -mult)
              throw new IllegalStateException(
                s"delta retracts more rows than present in ${spec.name}: $values mult=$mult have=$removed")
          case None => // delete-all, reinsert the surviving copies
            val del = c.prepareStatement(dialect.deleteAllSql(spec, where))
            bind(del, params)
            val removed = del.executeUpdate(); del.close()
            val remain = removed + mult // delete-then-reinsert (sqlite.rs:238-259)
            if (remain < 0)
              throw new IllegalStateException(
                s"delta retracts more rows than present in ${spec.name}: $values mult=$mult have=$removed")
            queueInserts(values, remain)
        }
      }
    }
    flush()
    insRow.close()
  }

  private def bind2(ps: PreparedStatement, params: Seq[Any], offset: Int): Unit =
    params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1 + offset, v) }

  /** Connection scope with rollback-before-close: a failure inside `f`
    * must surface, not be masked by Derby's close-with-active-txn error. */
  def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c)
    finally {
      try { if (!c.getAutoCommit) c.rollback() } catch { case _: Throwable => () }
      try c.close() catch { case _: Throwable => () }
    }
  }
}

/** The exactly-once delta protocol (reference `DB`, db/mod.rs:237-258,
  * 369-394), written once for every sink. It owns one GROUP of member
  * tables and the group's `{group}_offsets`/`{group}_batches` tables:
  * [[JdbcDeltaSink]] and [[AggDeltaSink]] are groups of one named after
  * their table, [[UnionDeltaSink]] a group of several. A member brings
  * only its table's DDL (its [[TableSpec]]) and its in-transaction apply;
  * bootstrap, offsets, the batch stamp and the transaction are the
  * group's.
  *
  * ONE local DB transaction per batch contains (a) the per-source offset
  * upsert, (b) the batch-id stamp (idempotent re-delivery: a replayed
  * micro-batch with an already-applied id is a no-op) and (c) every
  * member's deltas.
  *
  * Scale note: deltas cross the driver because one transaction must span
  * offsets + all rows — same invariant the reference enforces with a
  * single DB connection. The volume is the *view's churn per trigger*
  * (already consolidated), not the input rate; a view whose churn
  * exceeds driver memory needs a partitioned-transaction target (e.g. a
  * Delta/Iceberg table) instead of a single SQL endpoint.
  */
abstract class DeltaSink(url: String, group: String, dialect: SinkDialect)
    extends Serializable {
  import DeltaSql.{exec, tableExists}

  /** The member tables, bootstrapped and committed together. */
  private[sink] def tables: Seq[TableSpec]

  /** `foreachBatch` adapter: applies one micro-batch of deltas (the
    * optional `_source`/`_offset` columns feed the offsets map) in one
    * transaction. */
  def foreachBatchWriter(): (DataFrame, Long) => Unit

  private def offsetsTable: String = s"${group}_offsets"

  private def batchesTable: String = s"${group}_batches"

  private def withConn[A](f: Connection => A): A = DeltaSql.withConn(url)(f)

  /** Version-checked DDL bootstrap (reference K5) in one transaction.
    * Schema evolution is the reference's version-stamped drop-and-rebuild
    * (db/mod.rs:46-53, 282-315): a member whose `schema_versions` row
    * differs is dropped and recreated. The group's offsets/batches
    * tables are created if absent and CLEARED when any member was
    * rebuilt — the reference removes and repopulates the offset map with
    * the table; stale offsets or batch ids would make the replay a
    * silent no-op and leave the recreated member empty. Returns true if
    * any member was (re)created — the caller must replay from scratch
    * (the reference replays the whole union on any member's bump). */
  def bootstrap(): Boolean = withConn { c =>
    c.setAutoCommit(false)
    if (!tableExists(c, "schema_versions"))
      exec(c, "CREATE TABLE schema_versions (table_name VARCHAR(128) NOT NULL PRIMARY KEY, version INT NOT NULL)")
    val recreated = tables.map(bootstrapTable(c, _)).contains(true)
    for ((t, definition) <- Seq(
        offsetsTable -> "source VARCHAR(50) NOT NULL PRIMARY KEY, offset_ BIGINT NOT NULL",
        batchesTable -> "batch_id BIGINT NOT NULL")) {
      if (!tableExists(c, t)) exec(c, dialect.createTableSql(t, definition))
      else if (recreated) exec(c, s"DELETE FROM $t")
    }
    c.commit()
    recreated
  }

  /** One member's table, index and version row; true if (re)created. */
  private def bootstrapTable(c: Connection, spec: TableSpec): Boolean = {
    val cur: Option[Int] = {
      val ps = c.prepareStatement("SELECT version FROM schema_versions WHERE table_name = ?")
      ps.setString(1, spec.name)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(rs.getInt(1)) else None } finally { rs.close(); ps.close() }
    }
    val recreate = cur != Some(spec.version)
    if (recreate) {
      if (tableExists(c, spec.name)) exec(c, s"DROP TABLE ${spec.name}")
      val cols = spec.columns.map(col => s"${col.name} ${col.sqlType}").mkString(", ")
      exec(c, dialect.createTableSql(spec.name, cols))
      spec.columns.filter(_.index).foreach { col =>
        exec(c, dialect.createIndexSql(s"idx_${spec.name}_${col.name}",
          spec.name, col.name))
      }
      if (cur.isDefined) {
        val ps = c.prepareStatement("UPDATE schema_versions SET version = ? WHERE table_name = ?")
        ps.setInt(1, spec.version); ps.setString(2, spec.name)
        ps.executeUpdate(); ps.close()
      } else {
        val ps = c.prepareStatement("INSERT INTO schema_versions VALUES (?, ?)")
        ps.setString(1, spec.name); ps.setInt(2, spec.version)
        ps.executeUpdate(); ps.close()
      }
    }
    recreate
  }

  /** Restart point (reference K6 `get_offsets`, db/mod.rs:126). */
  def getOffsets(): Map[String, Long] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT source, offset_ FROM $offsetsTable")
    val b = Map.newBuilder[String, Long]
    while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
    b.result()
  }

  def lastBatchId(): Option[Long] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT MAX(batch_id) FROM $batchesTable")
    if (rs.next() && rs.getObject(1) != null) Some(rs.getLong(1)) else None
  }

  /** Max `_offset` per `_source` of a micro-batch; empty when the batch
    * carries no offset columns. */
  protected def offsetsOf(df: DataFrame): Map[String, Long] =
    if (!df.columns.contains("_source")) Map.empty
    else df.groupBy("_source").max("_offset").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** THE exactly-once batch transaction: serializable txn; an
    * already-applied batchId rolls back and returns false (idempotent
    * redelivery); otherwise offsets upsert + batch stamp + `body` commit
    * atomically, any throw rolls back. */
  protected def inBatchTxn(batchId: Long, offsets: Map[String, Long])
                          (body: Connection => Unit): Boolean = withConn { c =>
    dialect.sessionInitSql.foreach(exec(c, _)) // e.g. MSSQL SERIALIZABLE pin
    c.setAutoCommit(false)
    // Embedded single-writer engines (DuckDB, SQLite-class) don't expose
    // the JDBC isolation knob — they are snapshot-isolated by design, the
    // same guarantee the reference's SQLite driver relies on without
    // setting a level (sqlite.rs). Server engines accept the pin.
    try c.setTransactionIsolation(Connection.TRANSACTION_SERIALIZABLE)
    catch { case _: java.sql.SQLFeatureNotSupportedException => () }
    try {
      val applied = {
        val ps = c.prepareStatement(
          s"SELECT COUNT(*) FROM $batchesTable WHERE batch_id = ?")
        ps.setLong(1, batchId)
        val rs = ps.executeQuery(); rs.next()
        val n = rs.getLong(1); rs.close(); ps.close(); n > 0
      }
      if (applied) { c.rollback(); false }
      else {
        upsertOffsets(c, offsets)
        val bp = c.prepareStatement(s"INSERT INTO $batchesTable VALUES (?)")
        bp.setLong(1, batchId); bp.executeUpdate(); bp.close()
        body(c)
        c.commit()
        true
      }
    } catch { case e: Throwable => c.rollback(); throw e }
  }

  /** Offsets upsert on an open txn: the dialect's single-statement form
    * when it has one (Postgres ON CONFLICT, MSSQL if-exists-updlock),
    * else update-then-insert. */
  private def upsertOffsets(c: Connection, offsets: Map[String, Long]): Unit =
    dialect.offsetsUpsertSql(offsetsTable) match {
      case Some(sql) =>
        val ps = c.prepareStatement(sql)
        offsets.foreach { case (src, off) =>
          dialect.bindOffsetsUpsert(ps, src, off); ps.executeUpdate()
        }
        ps.close()
      case None =>
        val upd = c.prepareStatement(dialect.offsetsUpdateSql(offsetsTable))
        val ins = c.prepareStatement(dialect.offsetsInsertSql(offsetsTable))
        offsets.foreach { case (src, off) =>
          upd.setLong(1, off); upd.setString(2, src)
          if (upd.executeUpdate() == 0) {
            ins.setString(1, src); ins.setLong(2, off); ins.executeUpdate()
          }
        }
        upd.close(); ins.close()
    }

  /** Current contents of one member table (bag, for tests/inspection). */
  protected def readTable(spec: TableSpec): Seq[Seq[Any]] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT ${spec.colNames.mkString(", ")} FROM ${spec.name}")
    val b = Seq.newBuilder[Seq[Any]]
    while (rs.next()) b += spec.colNames.indices.map(i => rs.getObject(i + 1))
    b.result()
  }

  /** A member table as a Spark SOURCE: `spark.read.jdbc` over it
    * (reference K6 companion — downstream jobs consume the maintained
    * view without touching the event log). Partitioned reads for big
    * views go through the standard `option("partitionColumn", …)` route
    * on the same URL/table. */
  protected def readTableAsDataFrame(spark: org.apache.spark.sql.SparkSession,
                                     spec: TableSpec): DataFrame =
    spark.read.jdbc(url, spec.name, new java.util.Properties())
}

/** Transactional delta-apply JDBC sink — the reference's exactly-once
  * protocol (db/mod.rs:369-394, sqlite.rs:238-259) rebuilt for
  * `foreachBatch`: a [[DeltaSink]] group of one, `{table}_offsets` and
  * `{table}_batches`, whose member applies deltas with bag semantics —
  * mult > 0 inserts that many copies; mult < 0 deletes all matching rows
  * and re-inserts `rows + mult` copies (the reference's SQLite strategy,
  * sqlite.rs:238-259), with NULL-safe value matching (sqlite.rs:172-174).
  */
class JdbcDeltaSink(url: String, spec: TableSpec,
                    dialect: SinkDialect = AnsiDialect)
    extends DeltaSink(url, spec.name, dialect) {

  private[sink] def tables: Seq[TableSpec] = Seq(spec)

  def readAsDataFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    readTableAsDataFrame(spark, spec)

  /** Current table contents (bag, for tests/inspection). */
  def readRows(): Seq[Seq[Any]] = readTable(spec)

  /** Apply one consolidated delta batch + offsets in ONE transaction
    * (reference db/mod.rs:369-394: offsets upsert + batch stamp + bag-
    * semantics deltas). Replayed batch ids are skipped (exactly-once
    * under at-least-once `foreachBatch` delivery). */
  def applyDeltas(offsets: Map[String, Long], batchId: Long,
                  deltas: Seq[(Seq[Any], Long)]): Boolean =
    applyDeltasStreamed(offsets, batchId, deltas.iterator)

  /** Iterator form: the batch rows stream through the open transaction
    * without ever being whole on the driver (replay-safe — see
    * [[DeltaSql.applyTableDeltas]]). */
  def applyDeltasStreamed(offsets: Map[String, Long], batchId: Long,
                          deltas: Iterator[(Seq[Any], Long)]): Boolean =
    inBatchTxn(batchId, offsets)(c =>
      DeltaSql.applyTableDeltas(c, spec, deltas, dialect))

  /** `foreachBatch` adapter: consolidates the micro-batch's delta
    * DataFrame (must carry a `mult` column; plain DataFrames are lifted
    * at mult 1) and applies it transactionally. Offset columns
    * (`_source`, `_offset`) are split out if present.
    *
    * The consolidated deltas reach the DB via `toLocalIterator` — one
    * partition resident on the driver at a time — so a full-history
    * replay into a fresh sink is bounded by partition size, not view
    * size (the txn must still span the whole batch; that single-
    * connection invariant is the reference's, runner.rs:113-122). */
  def foreachBatchWriter(): (DataFrame, Long) => Unit = { (df, batchId) =>
    import scala.jdk.CollectionConverters._
    val consolidated = Deltas.consolidate(df.drop("_source", "_offset"))
    val rows = consolidated.toLocalIterator().asScala
      .map(r => DeltaSql.rowOf(r, spec.colNames))
    applyDeltasStreamed(offsetsOf(df), batchId, rows)
    ()
  }
}

/** Multi-table fan-out sink (reference `Union`, db/mod.rs:237-258,
  * 273-458): a [[DeltaSink]] group of several tables, one logical flow
  * whose member deltas and the SHARED offsets/batch tables commit in one
  * transaction — the all-tables-or-nothing guarantee the reference gives
  * a `Union` of up to 5 record types.
  *
  * `aggMembers` extends the union BEYOND the reference's raw-row
  * members: an incrementally-maintained [[AggDeltaSink]] view can join
  * the group, its per-group adjustments applied inside the SAME shared
  * transaction as the raw members' deltas — one flow feeding a raw
  * audit table and its rollup, atomically, replay-idempotent on the
  * shared batch stamp.
  */
class UnionDeltaSink(url: String, group: String, specs: Seq[TableSpec],
                     dialect: SinkDialect = AnsiDialect,
                     aggMembers: Seq[AggDeltaSink] = Nil)
    extends DeltaSink(url, group, dialect) {

  require(specs.map(_.name).toSet.intersect(aggMembers.map(_.name).toSet).isEmpty,
    "raw and aggregate members must not share table names")

  private[sink] def tables: Seq[TableSpec] = specs ++ aggMembers.map(_.spec)

  /** `foreachBatch` adapter for the union: the micro-batch DataFrame
    * carries a `_table` tag column naming each delta row's target member
    * (the reference's `Union` dispatches on the record variant,
    * db/mod.rs:237-258). Rows are consolidated per member on their OWN
    * column set — members have different schemas, so untagged columns
    * irrelevant to a member must be null there — and the whole batch
    * commits in one transaction. */
  def foreachBatchWriter(): (DataFrame, Long) => Unit = { (df, batchId) =>
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    // one lazy iterator per member, each drained inside the shared txn
    // (toLocalIterator: one partition on the driver at a time)
    inBatchTxn(batchId, offsetsOf(df)) { c =>
      specs.foreach { sp =>
        val rows = Deltas.consolidate(
            df.filter(col("_table") === sp.name)
              .select(sp.colNames.map(col) :+ col(Deltas.MULT): _*))
          .toLocalIterator().asScala
          .map(r => DeltaSql.rowOf(r, sp.colNames))
        DeltaSql.applyTableDeltas(c, sp, rows, dialect)
      }
      // aggregate members: same tag dispatch, their rows reduced to
      // per-group adjustments (distributed) and applied in THIS txn
      aggMembers.foreach { agg =>
        agg.applyAdjustmentsInTxn(c, agg.adjustmentsOf(
          df.filter(col("_table") === agg.name)
            .select(agg.dataColNames.map(col) :+ col(Deltas.MULT): _*)))
      }
    }
    ()
  }

  /** One transaction across ALL member tables + shared offsets: raw
    * deltas per table and, for aggregate members, per-group adjustments
    * (key values, dn, per-sum ds) — all-members-or-nothing, raw and
    * view alike. Replayed batch ids skip the whole batch. */
  def applyDeltas(offsets: Map[String, Long], batchId: Long,
                  perTable: Map[String, Seq[(Seq[Any], Long)]],
                  perAgg: Map[String, Seq[(Seq[Any], Long, Seq[Any])]] = Map.empty)
      : Boolean = {
    val unknown = perTable.keySet -- specs.map(_.name).toSet
    require(unknown.isEmpty, s"unknown tables in delta batch: $unknown")
    val unknownAgg = perAgg.keySet -- aggMembers.map(_.name).toSet
    require(unknownAgg.isEmpty, s"unknown aggregate members: $unknownAgg")
    inBatchTxn(batchId, offsets) { c =>
      specs.foreach { sp =>
        perTable.get(sp.name).filter(_.nonEmpty)
          .foreach(ds => DeltaSql.applyTableDeltas(c, sp, ds.iterator, dialect))
      }
      aggMembers.foreach { agg =>
        perAgg.get(agg.name).filter(_.nonEmpty)
          .foreach(adj => agg.applyAdjustmentsInTxn(c, adj.iterator))
      }
    }
  }
}
