package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.Tables.TableMeta

/** Option-building logic of the JDBC edge (no live DB in the container). */
class JdbcSpec extends AnyFunSuite {

  private val url = "jdbc:postgresql://host/db"

  test("single-int-pk table range-partitions (keyset generalization, S4)") {
    val plan = Jdbc.readPlan(url, TableMeta("orders", Seq("o_orderkey")),
      Some((1L, 1500000L)), numPartitions = 64)
    assert(plan.parallel)
    assert(plan.options("partitionColumn") == "o_orderkey")
    assert(plan.options("lowerBound") == "1")
    assert(plan.options("upperBound") == "1500000")
    assert(plan.options("numPartitions") == "64")
  }

  test("composite-pk / no-pk tables fall back to one partition (S3 pathology)") {
    val comp = Jdbc.readPlan(url, TableMeta("lineitem", Seq("l_orderkey", "l_linenumber")),
      Some((1L, 100L)), 64)
    assert(!comp.parallel && comp.options("numPartitions") == "1")
    assert(!comp.options.contains("partitionColumn"))
    val nopk = Jdbc.readPlan(url, TableMeta("log", Nil), None, 64)
    assert(!nopk.parallel)
  }

  test("unknown bounds also forces the fallback (no pk probe possible)") {
    assert(!Jdbc.readPlan(url, TableMeta("orders", Seq("o_orderkey")), None, 8).parallel)
  }

  test("--chunksize parity: the write default IS ChunkSizer.Default, an " +
      "override seeds both the JDBC batchsize and the controller's first " +
      "batch (lib/taps/cli.rb:135)") {
    // an overridden initial chunk size is what the AIMD loop sends FIRST
    var t = 0L
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    Jdbc.adaptiveWriteLoop[Int](
      (1 to 900).iterator,
      (_, size) => { sizes += size; t += 950000000L }, // in-band: ~1s/batch
      graft.streaming.ChunkSizer(250), () => t)
    assert(sizes.head == 250)
  }

  test("adaptiveWriteLoop: fast writes ramp the batch size up, all rows land") {
    var t = 0L
    val clock = () => t
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    val written = scala.collection.mutable.ArrayBuffer[Int]()
    val (n, sizer) = Jdbc.adaptiveWriteLoop[Int](
      (1 to 10000).iterator,
      (batch, size) => { sizes += size; written ++= batch; t += 100000000L }, // 0.1s/batch
      graft.streaming.ChunkSizer(100), clock)
    assert(n == 10000 && written.toSeq == (1 to 10000))
    assert(sizes.toSeq.take(4) == Seq(100, 200, 400, 800)) // fast ramp ×2
    assert(!sizer.exhausted)
  }

  test("adaptiveWriteLoop: slow writes back off toward the 1s operating point") {
    var t = 0L
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    val (n, _) = Jdbc.adaptiveWriteLoop[Int](
      (1 to 3000).iterator,
      (batch, size) => { sizes += size; t += 4000000000L }, // 4s/batch: severe
      graft.streaming.ChunkSizer(900), () => t)
    assert(n == 3000)
    assert(sizes.toSeq.startsWith(Seq(900, 300, 100))) // ÷3 each time
  }

  test("adaptiveWriteLoop: failures reset 10→1 and retry the same rows; exhaustion stops") {
    // two failures then success: no row lost, no row duplicated
    var failures = 2
    val written = scala.collection.mutable.ArrayBuffer[Int]()
    val (n, sizer) = Jdbc.adaptiveWriteLoop[Int](
      (1 to 50).iterator,
      (batch, _) => {
        if (failures > 0) { failures -= 1; throw new RuntimeException("broken pipe") }
        written ++= batch
      },
      graft.streaming.ChunkSizer(40), () => { 0L })
    assert(n == 50 && written.toSeq.sorted == (1 to 50))
    // always-failing sink: aborts after the controller is exhausted
    val (n2, s2) = Jdbc.adaptiveWriteLoop[Int](
      (1 to 50).iterator,
      (_, _) => throw new RuntimeException("down"),
      graft.streaming.ChunkSizer(40), () => 0L)
    assert(n2 == 0 && s2.exhausted)
  }

  test("DDL replay: CREATE TABLE with pk, index, sequence reset (S6-S9)") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "name")
    val ddl = Jdbc.createTableDdl(df, "t", Seq("id"))
    assert(ddl.startsWith("CREATE TABLE t (") && ddl.endsWith(", PRIMARY KEY (id))"))
    assert(ddl.contains("id BIGINT") && ddl.contains("name STRING"))
    assert(Jdbc.createIndexDdl("t", "t_name_idx", Seq("name")) ==
      "CREATE INDEX t_name_idx ON t (name)")
    assert(Jdbc.createIndexDdl("t", "t_id_u", Seq("id"), unique = true)
      .startsWith("CREATE UNIQUE INDEX"))
  }

  test("resetPkSequenceSql dispatches per dialect: DuckDB creates+attaches " +
      "a sequence, Postgres setvals the serial's own, identity engines " +
      "ALTER..RESTART (Postgres never gets RESTART — it rejects it)") {
    val duck = Jdbc.resetPkSequenceSql("jdbc:duckdb:/tmp/x", "t", "id", 7L)
    assert(duck.exists(_.startsWith("CREATE SEQUENCE t_id_seq START WITH 7")))
    assert(duck.exists(_.contains("SET DEFAULT nextval('t_id_seq')")))
    val pg = Jdbc.resetPkSequenceSql("jdbc:postgresql://h/db", "t", "id", 7L)
    // honors the caller's `next` exactly like the other two dialects
    // (r17 ADVICE: the old form re-derived max+1 from the table,
    // silently ignoring a reserved gap)
    assert(pg == Seq(
      "SELECT setval(pg_get_serial_sequence('t', 'id'), 7, false)"))
    assert(pg.forall(!_.contains("RESTART")))
    val derby = Jdbc.resetPkSequenceSql("jdbc:derby:memory:x", "t", "id", 7L)
    assert(derby == Seq("ALTER TABLE t ALTER COLUMN id RESTART WITH 7"))
  }
}
