package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSpec, Tables, Transfer}
import graft.Tables.TableMeta

/** LIVE JDBC round-trip against embedded Derby (in /opt/spark/jars — no
  * network, no new dependency): the DDL strings are executed, the rows
  * actually land, the indexes actually constrain, the identity counter
  * actually advances. This is taps' production sequence — schema, data,
  * indexes, sequences (`lib/taps/operation.rb:245-257`) — run for real,
  * not as option-building. */
class JdbcRoundtripSpec extends AnyFunSuite with SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private val url = "jdbc:derby:memory:graft_it;create=true"

  test("pullToJdbc: schema applied, data landed, watermark = max(pk) — S5/S7 live") {
    val results = Transfer.pullToJdbc(spark, src, url, Seq("nation", "customer"))
    val byTable = results.map(r => r.table -> r).toMap
    val nationRows = Tables.load(spark, src, "nation").count()
    val custRows = Tables.load(spark, src, "customer").count()
    assert(byTable("nation").rows == nationRows)
    assert(byTable("customer").rows == custRows)
    val srcWm = Tables.load(spark, src, "customer").agg(max("c_custkey")).head().getLong(0)
    assert(byTable("customer").watermark.contains(srcWm))
  }

  test("partitioned JDBC read-back equals the source, bit for bit — S4 live") {
    Transfer.pullToJdbc(spark, src, url, Seq("nation"))
    val source = Tables.load(spark, src, "nation")
    val plan = Jdbc.readPlan(url, TableMeta("nation", Seq("n_nationkey")), Some((0L, 24L)), 4)
    assert(plan.parallel)
    val back = Jdbc.read(spark, plan)
      .select(source.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    assert(back.count() == source.count())
    assert(back.exceptAll(source).isEmpty && source.exceptAll(back).isEmpty)
  }

  test("writeAdaptive: per-partition AIMD batching lands every row and " +
      "type at a tiny seed chunk (many batches, live Derby) — A8/T5 live") {
    val results = Transfer.pullToJdbc(spark, src, url, Seq("customer"),
      batchSize = 16)
    val source = Tables.load(spark, src, "customer")
    assert(results.head.rows == source.count())
    // value fidelity through setObject, integer-exact on both engines:
    // key sum (numeric) + name length sum (strings uncorrupted)
    val backKeys = Jdbc.queryLong(url, "SELECT sum(c_custkey) FROM customer").get
    val backNames = Jdbc.queryLong(url, "SELECT sum(length(c_name)) FROM customer").get
    val srcRow = source.agg(sum("c_custkey"), sum(length(col("c_name")))).head()
    assert(backKeys == srcRow.getLong(0) && backNames == srcRow.getLong(1))
  }

  test("index replay is live: a UNIQUE index rejects a duplicate — S8") {
    Transfer.pullToJdbc(spark, src, url, Seq("nation"),
      indexes = Map("nation" -> Seq(Jdbc.IndexDef("idx_nation_name", Seq("n_name"), unique = true))))
    // n_name is unique in TPC-H nation; inserting a clash must now fail
    val ex = intercept[java.sql.SQLException] {
      Jdbc.execute(url, "INSERT INTO nation (n_nationkey, n_name, n_regionkey) " +
        "VALUES (999, (SELECT n_name FROM nation WHERE n_nationkey = 0), 0)")
    }
    assert(ex.getSQLState.startsWith("23")) // integrity constraint violation
  }

  test("sequence reset is live: insert without pk continues at max+1 — S9") {
    Transfer.pullToJdbc(spark, src, url, Seq("nation"))
    Jdbc.execute(url, "INSERT INTO nation (n_name, n_regionkey) VALUES ('ATLANTIS', 0)")
    val newPk = Jdbc.queryLong(url, "SELECT max(n_nationkey) FROM nation").get
    val srcMax = Tables.load(spark, src, "nation").agg(max("n_nationkey")).head().getInt(0)
    assert(newPk == srcMax + 1)
  }

  test("--indexes-first flips DDL order (pure plan) and still loads live") {
    val df = Tables.load(spark, src, "nation")
    val idx = Seq(Jdbc.IndexDef("idx_nf", Seq("n_regionkey")))
    val meta = Tables.metaOf("nation")
    val (preDeferred, postDeferred) = Jdbc.ddlPlan(df, "nation", meta, url, idx,
      indexesFirst = false, identityPk = true)
    assert(preDeferred.size == 1 && postDeferred.size == 1 &&
      postDeferred.head.startsWith("CREATE INDEX"))
    val (preFirst, postFirst) = Jdbc.ddlPlan(df, "nation", meta, url, idx,
      indexesFirst = true, identityPk = true)
    assert(preFirst.size == 2 && postFirst.isEmpty &&
      preFirst(1).startsWith("CREATE INDEX"))
    val r = Transfer.pullToJdbc(spark, src, url, Seq("nation"),
      indexes = Map("nation" -> idx), indexesFirst = true)
    assert(r.head.rows == df.count())
  }

  // -- dynamic-proxy plumbing for the kill-connection fixture ------------
  private def unwrapInvoke(target: AnyRef, m: java.lang.reflect.Method,
                           args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  /** A Connection that delegates to a real Derby connection but KILLS the
    * underlying session (close + throw SQLNonTransientConnectionException)
    * on the (dieAfter+1)-th executeBatch — taps' broken pipe, live. */
  private def dyingConnection(real: java.sql.Connection, dieAfter: Int): java.sql.Connection = {
    var batches = 0
    java.lang.reflect.Proxy.newProxyInstance(
      classOf[java.sql.Connection].getClassLoader,
      Array[Class[_]](classOf[java.sql.Connection]),
      (_, m, a) => {
        val args = if (a == null) Array.empty[AnyRef] else a
        val res = unwrapInvoke(real, m, args)
        if (m.getName == "prepareStatement") {
          val ps = res.asInstanceOf[java.sql.PreparedStatement]
          java.lang.reflect.Proxy.newProxyInstance(
            classOf[java.sql.PreparedStatement].getClassLoader,
            Array[Class[_]](classOf[java.sql.PreparedStatement]),
            (_, m2, a2) => {
              val args2 = if (a2 == null) Array.empty[AnyRef] else a2
              if (m2.getName == "executeBatch") {
                batches += 1
                if (batches > dieAfter) {
                  try real.rollback() catch { case _: Exception => () }
                  real.close()
                  throw new java.sql.SQLNonTransientConnectionException(
                    "connection died mid-write (test fixture)")
                }
              }
              unwrapInvoke(ps, m2, args2)
            }).asInstanceOf[AnyRef]
        } else res
      }).asInstanceOf[java.sql.Connection]
  }

  test("writePartitionAdaptive survives a connection killed mid-write: " +
      "reconnects, resets the controller, converges loss-free — T5 live " +
      "(the broken-pipe reset of lib/taps/utils.rb:103-111)") {
    import org.apache.spark.sql.Row
    Jdbc.dropTableIfExists(url, "die_target")
    Jdbc.execute(url, "CREATE TABLE die_target (id INT NOT NULL, " +
      "name VARCHAR(50), val INT, PRIMARY KEY (id))")
    // a NULL mid-stream also exercises the schema-driven setNull path live
    val rows = (0 until 100).map(i =>
      Row(i, if (i % 10 == 3) null else s"name_$i", i * 7))
    val (insertSql, types) = Jdbc.insertPlan(url, "die_target", Seq("id", "name", "val"))
    assert(insertSql.contains("\"ID\"")) // dialect-quoted canonical names
    var connects = 0
    val factory = () => {
      connects += 1
      val real = java.sql.DriverManager.getConnection(url)
      if (connects == 1) dyingConnection(real, dieAfter = 2) else real
    }
    val written = Jdbc.writePartitionAdaptive(rows.iterator, insertSql, types,
      factory, "die_target", chunkSize = 20, tolerateDuplicates = true)
    assert(connects == 2, "the loop must have reconnected exactly once")
    assert(written == 100)
    assert(Jdbc.queryLong(url, "SELECT count(*) FROM die_target").contains(100L))
    assert(Jdbc.queryLong(url, "SELECT count(DISTINCT id) FROM die_target").contains(100L))
    assert(Jdbc.queryLong(url, "SELECT sum(val) FROM die_target")
      .contains((0 until 100).map(_ * 7L).sum))
    assert(Jdbc.queryLong(url,
      "SELECT count(*) FROM die_target WHERE name IS NULL").contains(10L))
  }

  test("writePartitionAdaptive task-retry convergence: duplicate keys are " +
      "swallowed row-by-row when tolerated, loud when not — T3 live") {
    import org.apache.spark.sql.Row
    Jdbc.dropTableIfExists(url, "dup_target")
    Jdbc.execute(url, "CREATE TABLE dup_target (id INT NOT NULL, " +
      "val INT, PRIMARY KEY (id))")
    val (insertSql, types) = Jdbc.insertPlan(url, "dup_target", Seq("id", "val"))
    val connect = () => java.sql.DriverManager.getConnection(url)
    // first attempt commits rows 0..59 then "fails" (simulated by just
    // stopping); the retried task re-sends the WHOLE partition
    Jdbc.writePartitionAdaptive((0 until 60).map(i => Row(i, i)).iterator,
      insertSql, types, connect, "dup_target", 25, tolerateDuplicates = true)
    val retried = Jdbc.writePartitionAdaptive((0 until 100).map(i => Row(i, i)).iterator,
      insertSql, types, connect, "dup_target", 25, tolerateDuplicates = true)
    assert(retried == 100)
    assert(Jdbc.queryLong(url, "SELECT count(*) FROM dup_target").contains(100L))
    assert(Jdbc.queryLong(url, "SELECT sum(val) FROM dup_target")
      .contains((0 until 100).map(_.toLong).sum))
    // fail-fast mode: the same re-send aborts after controller exhaustion
    intercept[java.sql.SQLException] {
      Jdbc.writePartitionAdaptive((0 until 100).map(i => Row(i, i)).iterator,
        insertSql, types, connect, "dup_target", 25, tolerateDuplicates = false)
    }
    // and the loud path committed nothing new
    assert(Jdbc.queryLong(url, "SELECT count(*) FROM dup_target").contains(100L))
  }

  test("tolerateDuplicates swallows ONLY duplicate keys: a NOT NULL " +
      "violation in the per-row convergence path stays loud with the " +
      "real cause chained — no silent row loss") {
    import org.apache.spark.sql.Row
    Jdbc.dropTableIfExists(url, "nn_target")
    Jdbc.execute(url, "CREATE TABLE nn_target (id INT NOT NULL, " +
      "val INT NOT NULL, PRIMARY KEY (id))")
    val (insertSql, types) = Jdbc.insertPlan(url, "nn_target", Seq("id", "val"))
    val connect = () => java.sql.DriverManager.getConnection(url)
    // row 7 violates NOT NULL — an integrity violation a task retry can
    // NOT have caused; it must abort even in duplicate-tolerant mode
    val rows = (0 until 20).map(i => Row(i, if (i == 7) null else i))
    val ex = intercept[java.sql.SQLException] {
      Jdbc.writePartitionAdaptive(rows.iterator, insertSql, types,
        connect, "nn_target", 25, tolerateDuplicates = true)
    }
    // the retry-exhausted abort carries the real failure as its cause
    def states(t: Throwable): Seq[String] = {
      val own = t match {
        case s: java.sql.SQLException =>
          Iterator.iterate(s)(_.getNextException).takeWhile(_ != null)
            .take(10).flatMap(e => Option(e.getSQLState)).toSeq
        case _ => Seq.empty
      }
      own ++ Option(t.getCause).toSeq.flatMap(states)
    }
    assert(states(ex).exists(_.startsWith("23")),
      s"expected an integrity-violation SQLState in the chain, got $ex")
    // and the bad row never landed as "written"
    assert(Jdbc.queryLong(url,
      "SELECT count(*) FROM nn_target WHERE id = 7").contains(0L))
  }

  test("insertPlan resolves case-sensitive (quoted-DDL) table names via " +
      "the dialect-quoted fallback, and the INSERT actually lands") {
    import org.apache.spark.sql.Row
    try Jdbc.execute(url, "DROP TABLE \"Mixed_Case\"")
    catch { case _: java.sql.SQLException => () }
    Jdbc.execute(url, "CREATE TABLE \"Mixed_Case\" (id INT NOT NULL, " +
      "val INT, PRIMARY KEY (id))")
    // raw spelling folds to MIXED_CASE and misses; the plan must fall
    // back to the dialect-quoted identifier and keep using it
    val (insertSql, types) = Jdbc.insertPlan(url, "Mixed_Case", Seq("id", "val"))
    assert(insertSql.startsWith("INSERT INTO \"Mixed_Case\""), insertSql)
    val connect = () => java.sql.DriverManager.getConnection(url)
    val written = Jdbc.writePartitionAdaptive(
      (0 until 10).map(i => Row(i, i)).iterator, insertSql, types,
      connect, "Mixed_Case", 25, tolerateDuplicates = true)
    assert(written == 10)
    assert(Jdbc.queryLong(url,
      "SELECT count(*) FROM \"Mixed_Case\"").contains(10L))
  }

  test("adaptiveWriteLoop drives real batched INSERTs — S5's hot loop live") {
    Jdbc.dropTableIfExists(url, "loop_target")
    val source = Tables.load(spark, src, "customer")
    Jdbc.execute(url, Jdbc.createTableDdl(source, "loop_target", Seq("c_custkey"), Some(url)))
    val rows = source.collect() // 1500 rows at sf0.001 — a driver-side batch fixture
    // the production partition writer: its adaptiveWriteLoop throws once
    // the controller is exhausted, so a return means every batch landed
    val (insertSql, types) = Jdbc.insertPlan(url, "loop_target", source.columns.toSeq)
    val written = Jdbc.writePartitionAdaptive(rows.iterator, insertSql, types,
      () => java.sql.DriverManager.getConnection(url), "loop_target", 100,
      tolerateDuplicates = false)
    assert(written == rows.length)
    assert(Jdbc.queryLong(url, "SELECT count(*) FROM loop_target").contains(rows.length.toLong))
    val sumBal = Jdbc.queryLong(url, "SELECT CAST(sum(c_acctbal) AS BIGINT) FROM loop_target").get
    val srcSum = source.agg(sum("c_acctbal").cast("long")).head().getLong(0)
    assert(sumBal == srcSum)
  }
}
