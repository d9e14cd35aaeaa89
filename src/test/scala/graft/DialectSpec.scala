package graft

import graft.sink._

/** Golden-statement proof for the Postgres/MSSQL dialects (the container
  * has no live server — the reference's own Postgres/MSSQL suites are
  * env-gated the same way, postgre.rs:303-307) plus a live Derby pass
  * over the bounded-batching code path. Every golden string mirrors a
  * reference statement, cited per assertion. */
class DialectSpec extends SparkTestBase {

  private val spec = TableSpec("test_record", 1, Seq(
    ColumnSpec("a", "VARCHAR(64)", index = true),
    ColumnSpec("b", "BIGINT")))

  test("ANSI dialect emits the Derby-proven statements") {
    assert(AnsiDialect.insertSql(spec) ===
      "INSERT INTO test_record (a, b) VALUES (?, ?)")
    assert(AnsiDialect.deleteAllSql(spec, "a = ? AND b = ?") ===
      "DELETE FROM test_record WHERE a = ? AND b = ?")
    assert(AnsiDialect.deleteLimitSql(spec, "a = ?") === None,
      "no bounded delete → delete-all + reinsert removed+mult")
    assert(AnsiDialect.offsetsUpsertSql("t_offsets") === None,
      "no single-statement upsert → update-then-insert pair")
    assert(AnsiDialect.offsetsUpdateSql("t_offsets") ===
      "UPDATE t_offsets SET offset_ = ? WHERE source = ?")
    assert(AnsiDialect.createTableSql("t", "a INT") === "CREATE TABLE t (a INT)")
  }

  test("Postgres dialect: idempotent DDL + ON CONFLICT offsets upsert") {
    // postgre.rs:152 `create table if not exists {} ({})`
    assert(PostgresDialect.createTableSql("test_record", "a VARCHAR(64), b BIGINT") ===
      "CREATE TABLE IF NOT EXISTS test_record (a VARCHAR(64), b BIGINT)")
    // postgre.rs:156 `create index if not exists {} on {} ({})`
    assert(PostgresDialect.createIndexSql("idx_test_record_a", "test_record", "a") ===
      "CREATE INDEX IF NOT EXISTS idx_test_record_a ON test_record (a)")
    // postgre.rs:160-161: plain delete — the affected-row count feeds the
    // reinsert loop (postgre.rs:245-247), no bounded form
    assert(PostgresDialect.deleteLimitSql(spec, "a = ?") === None)
    assert(PostgresDialect.deleteAllSql(spec, "a = ?") ===
      "DELETE FROM test_record WHERE a = ?")
    // db/mod.rs:384-394 `insert into {}_offsets (source, offset_) values
    // (…) on conflict(source) do update set offset_ = excluded.offset_`
    assert(PostgresDialect.offsetsUpsertSql("test_record_offsets") === Some(
      "INSERT INTO test_record_offsets (source, offset_) VALUES (?, ?) " +
        "ON CONFLICT(source) DO UPDATE SET offset_ = excluded.offset_"))
  }

  test("MSSQL dialect: sys-catalog-guarded DDL, DELETE TOP (?), updlock upsert, SERIALIZABLE pin") {
    // mssql.rs:200-205 `if not exists (select * from sys.tables …) create table`
    assert(MssqlDialect.createTableSql("test_record", "a VARCHAR(64), b BIGINT") ===
      "IF NOT EXISTS (SELECT * FROM sys.tables WHERE name = 'test_record') " +
        "CREATE TABLE test_record (a VARCHAR(64), b BIGINT)")
    // mssql.rs:207-213 index guard via sys.indexes
    assert(MssqlDialect.createIndexSql("idx_test_record_a", "test_record", "a") ===
      "IF NOT EXISTS (SELECT * FROM sys.indexes WHERE name = 'idx_test_record_a') " +
        "CREATE INDEX idx_test_record_a ON test_record (a)")
    // mssql.rs:216-218 `delete top ({param}) {clause}` — parameterized cap
    assert(MssqlDialect.deleteLimitSql(spec, "a = ? AND b = ?") === Some(
      "DELETE TOP (?) FROM test_record WHERE a = ? AND b = ?"))
    // mssql.rs:288-299 if-exists-updlock upsert (sole-writer contract)
    assert(MssqlDialect.offsetsUpsertSql("test_record_offsets") === Some(
      "IF EXISTS (SELECT * FROM test_record_offsets WITH (UPDLOCK) WHERE source = ?) " +
        "UPDATE test_record_offsets SET offset_ = ? WHERE source = ? " +
        "ELSE INSERT test_record_offsets (source, offset_) VALUES (?, ?)"))
    // mssql.rs:142 isolation pinned per connection
    assert(MssqlDialect.sessionInitSql ===
      Seq("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE"))
  }

  test("unconsolidated batch: a queued insert is flushed before the same tuple's retraction") {
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_unconsol;create=true",
      spec, AnsiDialect)
    sink.bootstrap()
    // insert sits in the statement batch (size < 1000 rows) when the
    // retraction arrives — the delete must observe it, netting zero rows
    assert(sink.applyDeltas(Map.empty, 0L,
      Seq((Seq[Any]("z", 9L), 1L), (Seq[Any]("z", 9L), -1L))))
    assert(sink.readRows().isEmpty)
  }

  test("bounded batching: 2,500 deltas round-trip through 1000-row batches on Derby") {
    // the 1000-row statement batch flushes twice inside a 2,500-row batch
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_batch;create=true",
      spec, AnsiDialect)
    sink.bootstrap()
    val big = (1 to 2500).map(i => (Seq[Any](s"k$i", i.toLong), 1L))
    assert(sink.applyDeltas(Map("s" -> 1L), 0L, big))
    assert(sink.readRows().size === 2500)
    // mixed batch, one txn: double 1,200 rows (a flush at the 1,000th
    // insert), retract 100 (each delete flushes the inserts queued
    // before it), double 1,200 more
    val mixed = (101 to 1300).map(i => (Seq[Any](s"k$i", i.toLong), 1L)) ++
      (1 to 100).map(i => (Seq[Any](s"k$i", i.toLong), -1L)) ++
      (1301 to 2500).map(i => (Seq[Any](s"k$i", i.toLong), 1L))
    assert(sink.applyDeltas(Map("s" -> 2L), 1L, mixed))
    val rows = sink.readRows().map(r => r(0).toString)
    assert(rows.size === 4800)
    assert(!rows.contains("k1") && rows.count(_ == "k101") === 2 &&
      rows.count(_ == "k2500") === 2)
    assert(sink.getOffsets() === Map("s" -> 2L))
    // over-retraction mid-batch still rolls the whole txn back
    intercept[IllegalStateException] {
      sink.applyDeltas(Map("s" -> 3L), 2L,
        Seq((Seq[Any]("k200", 200L), 1L), (Seq[Any]("k300", 300L), -5L)))
    }
    assert(sink.readRows().size === 4800, "failed txn left no partial writes")
    assert(sink.getOffsets() === Map("s" -> 2L))
  }
}
