package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.Manifest

/**
 * The whole-database transfer driver — the Spark shape of `taps pull/push`
 * (reference `lib/taps/operation.rb:245-257,404-416`; see SURVEY §3).
 *
 * taps' per-chunk HTTP ping-pong dissolves: each table is ONE partitioned
 * read → validate → idempotent write. What survives is the orchestration
 * semantics:
 *  - plan = catalog − regex filter − exclude list − completed set
 *    (P6/P7/P8, `lib/taps/operation.rb:44-63,113-115`);
 *  - per-table watermark = max(pk), recorded in the resume manifest
 *    (T2, `lib/taps/operation.rb:69-87`);
 *  - writes are overwrite-per-table, so a re-run after a crash converges
 *    (the idempotent version of taps' at-least-once chunk retry, T3);
 *  - tables transfer CONCURRENTLY (driver-side `.par` — Spark interleaves
 *    the jobs over executor slots); taps moves tables strictly one at a
 *    time (`lib/taps/operation.rb:300-323`).
 *
 * At cluster scale the same code moves 100 TB: each `load` is a partitioned
 * Parquet/JDBC scan, each write is distributed, and the manifest arbitrates
 * restart — no driver-side data movement anywhere.
 */
object Transfer {

  /** One table's outcome. */
  final case class Result(table: String, rows: Long, watermark: Option[Long], skipped: Boolean)

  // distinguishes repeated transfers of the same table within one session —
  // observed-metric names must be globally unique or a listener would hand
  // back a previous run's row
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test seam: invoked with the table name as each per-table task STARTS.
    * TransferSpec points it at a barrier to prove tables genuinely overlap
    * (a sequential loop deadlocks the barrier; the pool does not). */
  @volatile private[graft] var tableStartHook: String => Unit = _ => ()

  /** Collects `df.observe(...)` metrics from write-command executions.
    * `ExecutionListenerBus` delivers asynchronously, so readers poll
    * [[await]]; metric names are unique per table/chunk so concurrent
    * transfers never collide. */
  private final class MetricsCollector extends QueryExecutionListener {
    private val metrics = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (k, v) => metrics.put(k, v) }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    def await(name: String, timeoutMs: Long = 120000): Row = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!metrics.containsKey(name)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"observed metric '$name' never arrived")
        Thread.sleep(10)
      }
      metrics.get(name)
    }
  }

  /** Count + pk-watermark aggregates attached to the WRITE pass itself via
    * `df.observe` — the destination is never read back. (The previous shape
    * re-read every written table in full for its count and max(pk): a second
    * complete scan of the destination, which at 100 TB doubles read I/O.) */
  private def observedWrite(df: DataFrame, meta: Tables.TableMeta,
                            metricName: String, collector: MetricsCollector)
                           (write: DataFrame => Unit): (Long, Option[Long]) = {
    val wmAgg =
      if (meta.singleIntPk) max(col(meta.primaryKey.head)).cast("long").as("wm")
      else lit(null).cast("long").as("wm")
    val observed = df.observe(metricName, count(lit(1)).as("rows"), wmAgg)
    write(observed)
    val row = collector.await(metricName)
    val rows = row.getLong(row.fieldIndex("rows"))
    val wm = if (row.isNullAt(row.fieldIndex("wm"))) None
             else Some(row.getLong(row.fieldIndex("wm")))
    (rows, wm)
  }

  /** Build the table plan exactly as taps does: all tables, minus the
    * regex filter (P6), minus excludes (P7), minus already-completed (P8). */
  def plan(tables: Seq[String], filterRegex: Option[String], exclude: Seq[String],
           manifest: Manifest): Seq[String] =
    manifest.pending(
      tables
        .filter(t => filterRegex.forall(re => re.r.findFirstIn(t).isDefined))
        .filterNot(exclude.contains))

  /** Pull every planned table from `srcDir` into `dstDir` (Parquet→Parquet
    * here; swap the read/write for `sources.Jdbc` at the DB edge). `codec`
    * is taps' compression negotiation (`lib/taps/operation.rb:165-173`)
    * surfaced where it lives in a Spark pipeline: the landing files ARE the
    * transport, so the Parquet codec (zstd default — gzip-class ratio at
    * several times the speed) is the wire compression. Tables already
    * completed in the manifest are skipped; the rest are written
    * concurrently (`parallelism` at a time), each in one pass whose
    * observed metrics give its row count and, for a single integer pk,
    * its max-pk watermark. No row validation runs here (see
    * [[operators.Validate]] and [[verifyTransfer]]). Returns per-table
    * results; the manifest at `manifestPath` is updated after EVERY table
    * (for taps' finer per-chunk checkpoint granularity, see
    * [[pullChunked]]). */
  def pull(spark: SparkSession, srcDir: String, dstDir: String, manifestPath: String,
           tables: Seq[String] = Tables.names,
           filterRegex: Option[String] = None,
           exclude: Seq[String] = Nil,
           parallelism: Int = 4,
           codec: String = "zstd"): Seq[Result] = {
    import scala.collection.parallel.CollectionConverters._
    val m0 = Manifest.load(manifestPath)
    val todo = plan(tables, filterRegex, exclude, m0)
    val done = tables.filterNot(todo.contains).map(t => Result(t, 0L, m0.watermark(t), skipped = true))
    // manifest writes are serialized; table jobs run concurrently
    val lock = new Object
    var manifest = m0
    val pool = new java.util.concurrent.ForkJoinPool(parallelism)
    val par = todo.par
    par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
    val collector = new MetricsCollector
    spark.listenerManager.register(collector)
    val moved = try par.map { table =>
      tableStartHook(table)
      val df = Tables.load(spark, srcDir, table)
      val (rows, wm) = observedWrite(df, Tables.metaOf(table),
        s"graft_pull_${table}_${metricSeq.incrementAndGet()}", collector) {
        _.write.mode("overwrite").option("compression", codec)
          .parquet(s"$dstDir/$table.parquet")
      }
      lock.synchronized {
        manifest = manifest.complete(table, wm.getOrElse(rows))
        manifest.save(manifestPath)
      }
      Result(table, rows, wm, skipped = false)
    }.toList
    finally {
      pool.shutdown()
      spark.listenerManager.unregister(collector)
    }
    done ++ moved
  }

  /** Chunk-grained pull of ONE table — taps' per-chunk checkpoint semantics
    * (`lib/taps/operation.rb:312`, `lib/taps/data_stream.rb:47-49`: state is
    * saved after every chunk, so a crash loses at most one chunk, never the
    * table). The pk domain is split into `chunks` disjoint ranges
    * ([[operators.Scan.rangeChunks]]); each range lands as one Hive-style
    * partition (`chunk_id=N`) under dynamic partition-overwrite, and the
    * manifest records `table/chunk_id` after each range commits. Resume
    * anti-joins the chunk plan against the manifest: completed ranges are
    * never re-read and never re-written — a crash at 99% of a 10 TB table
    * restarts the last range, not the table.
    *
    * The pk range predicate is pushed into the Parquet scan (PushedFilters),
    * so each chunk reads ~1/chunks of the source row groups — the whole loop
    * costs one full source scan, same as the unchunked path.
    *
    * `maxChunks` bounds how many ranges ONE invocation commits (the graceful
    * drain / time-budget control, T6). Returns one Result per range this
    * call moved, keyed `table/chunk_id`.
    *
    * NO-PK FALLBACK: a table without a single integer pk has no keyset
    * access path, and this method refuses it (require below) — callers
    * fall back to the unchunked [[pull]], which moves the whole table in
    * one idempotent write. The reference's own answer for pk-less tables
    * is ORDER BY all columns + OFFSET pagination (`lib/taps/utils.rb:
    * 146-154`), which its README documents as pathological on large
    * tables (`README.rdoc:36`) — re-reading the whole prefix per page.
    * One full scan per run (the unchunked path) strictly beats N scans of
    * shrinking prefixes; the cost is chunk-grained resume, which a
    * pk-less table cannot have deterministically in either engine. */
  def pullChunked(spark: SparkSession, srcDir: String, dstDir: String,
                  manifestPath: String, table: String,
                  chunks: Int = 16, maxChunks: Int = Int.MaxValue): Seq[Result] = {
    val meta = Tables.metaOf(table)
    require(meta.singleIntPk,
      s"chunked pull needs a single integer pk (keyset access path); $table has ${meta.primaryKey}")
    val pk = meta.primaryKey.head
    val df = Tables.load(spark, srcDir, table)
    val bounds = df.agg(min(col(pk)).cast("long"), max(col(pk)).cast("long")).head()
    if (bounds.isNullAt(0)) return Nil // empty table: nothing to move
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val ranges = operators.Scan.rangeBounds(lo, hi + 1, chunks)
    var manifest = Manifest.load(manifestPath)
    val pending = (0 until chunks)
      .filterNot(id => manifest.isCompleted(s"$table/$id"))
      .take(maxChunks)
    val collector = new MetricsCollector
    spark.listenerManager.register(collector)
    val dest = s"$dstDir/$table.parquet"
    val results = try pending.map { id =>
      val key = s"$table/$id"
      val (rLo, rHi) = ranges(id)
      // explicit pk range (not a filter on the computed chunk_id) so the
      // predicate lands in PushedFilters and prunes source row groups
      val slice = df.filter(col(pk) >= lit(rLo) && col(pk) < lit(rHi))
        .withColumn("chunk_id", lit(id))
      val (rows, wm) = observedWrite(slice, meta,
        s"graft_pullchunk_${key}_${metricSeq.incrementAndGet()}", collector) {
        _.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("chunk_id")
          .parquet(dest)
      }
      manifest = manifest.complete(key, wm.getOrElse(rows))
      manifest.save(manifestPath)
      Result(key, rows, wm, skipped = false)
    } finally spark.listenerManager.unregister(collector)
    if ((0 until chunks).forall(id => manifest.isCompleted(s"$table/$id"))) {
      // whole table landed: record the table-level watermark so plan()/P8
      // and the unchunked resume path see it as complete
      val allWms = (0 until chunks).flatMap(id => manifest.watermark(s"$table/$id"))
      manifest = manifest.complete(table, if (allWms.nonEmpty) allWms.max else 0L)
      manifest.save(manifestPath)
    }
    results
  }

  /** Pull planned tables from Parquet into a LIVE JDBC database — the full
    * taps pull sequence per table: schema, data, indexes, sequences
    * (`lib/taps/operation.rb:245-257`, `lib/taps/schema.rb:60-80`).
    * `indexesFirst` flips index replay ahead of the data load
    * (`--indexes-first`, `lib/taps/cli.rb:133`). Single integer pks are
    * created `GENERATED BY DEFAULT AS IDENTITY` and their counter is
    * restarted past the loaded watermark (S9), so post-transfer inserts
    * without an explicit pk continue from max(pk)+1 exactly as after taps'
    * sequence reset.
    *
    * Row counts and watermarks come from destination-side aggregates over
    * the freshly indexed table (taps' verify_stream probes,
    * `lib/taps/data_stream.rb:329-336`) — never from a second Spark scan.
    * The data load itself is Spark's distributed JDBC writer: each source
    * partition opens its own connection and writes `batchsize`-row batches,
    * so a 1000-executor cluster drives the destination at whatever
    * parallelism the source layout gives it.
    *
    * Tables load CONCURRENTLY on a bounded pool (like [[pull]]; SURVEY §4's
    * headroom over taps' strictly sequential table loop,
    * `lib/taps/operation.rb:300-323`): each table's DDL→data→index→sequence
    * pipeline is independent, so a 1000-small-table database keeps both the
    * cluster and the destination busy instead of idling between tables. All
    * JDBC statements already run on per-call connections, and Spark's
    * scheduler interleaves the concurrent write jobs natively. */
  def pullToJdbc(spark: SparkSession, srcDir: String, url: String,
                 tables: Seq[String],
                 indexes: Map[String, Seq[sources.Jdbc.IndexDef]] = Map.empty,
                 indexesFirst: Boolean = false,
                 batchSize: Int = streaming.ChunkSizer.Default,
                 parallelism: Int = 4): Seq[Result] = {
    import sources.Jdbc
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(math.max(1, parallelism))
    val par = tables.par
    par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
    try par.map { table =>
      tableStartHook(table)
      val meta = Tables.metaOf(table)
      val df = Tables.load(spark, srcDir, table)
      val tableIndexes = indexes.getOrElse(table, Nil)
      val (pre, post) = Jdbc.ddlPlan(df, table, meta, url,
        tableIndexes, indexesFirst, identityPk = true,
        typeOverrides = Jdbc.indexedVarcharOverrides(df, tableIndexes))
      Jdbc.dropTableIfExists(url, table)
      if (Jdbc.usesExplicitSequence(url) && meta.singleIntPk)
        Jdbc.dropSequenceIfExists(url,
          Jdbc.pkSequenceName(table, meta.primaryKey.head))
      pre.foreach(Jdbc.execute(url, _))
      // per-partition AIMD sink: batchSize seeds each partition's
      // ChunkSizer (the --chunksize contract), then every stream retunes
      // independently — see Jdbc.writeAdaptive
      Jdbc.writeAdaptive(df, url, table, batchSize)
      val rows = Jdbc.queryLong(url, s"SELECT count(*) FROM $table").getOrElse(0L)
      val wm =
        if (meta.singleIntPk)
          Jdbc.queryLong(url, s"SELECT max(${meta.primaryKey.head}) FROM $table")
        else None
      // sequence BEFORE deferred indexes: explicit-sequence engines
      // attach the pk DEFAULT via ALTER TABLE, which DuckDB refuses once
      // an index exists on the table; identity engines are order-blind.
      // Runs for EVERY single-int-pk table — an EMPTY table (wm None)
      // still needs its sequence + DEFAULT on explicit-sequence engines
      // (identity engines bake auto-increment into the CREATE TABLE, so
      // skipping them on empty pulls silently dropped the S9 contract
      // for DuckDB); next = 1 when nothing was loaded
      if (meta.singleIntPk)
        Jdbc.resetPkSequenceSql(url, table, meta.primaryKey.head,
            wm.map(_ + 1).getOrElse(1L))
          .foreach(Jdbc.execute(url, _))
      post.foreach(Jdbc.execute(url, _))
      Result(table, rows, wm, skipped = false)
    }.toList
    finally pool.shutdown()
  }

  /** Bucketed landing for join-heavy destinations: co-partition a table on
    * its join key at WRITE time so every later equi-join on that key is
    * shuffle-free (bucket-to-bucket, no Exchange on either side when bucket
    * counts match). This is the Spark-native replacement for the secondary
    * indexes taps replays (S8): you don't index the destination, you LAYOUT
    * the destination. Requires a table catalog (`saveAsTable`). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil,
                    path: Option[String] = None): Unit = {
    val base = df.write.mode("overwrite").format("parquet")
    val w = path.fold(base)(p => base.option("path", p))
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Post-transfer verification, the moral of taps' `verify_stream`
    * (`lib/taps/data_stream.rb:329-340`): source and destination agree on
    * row count and pk high-water mark for every table. */
  def verifyTransfer(spark: SparkSession, srcDir: String, dstDir: String,
                     tables: Seq[String] = Tables.names): DataFrame = {
    import spark.implicits._
    tables.map { t =>
      val src = Tables.load(spark, srcDir, t)
      val dst = spark.read.parquet(s"$dstDir/$t.parquet")
      (t, src.count(), dst.count())
    }.toDF("table_name", "src_rows", "dst_rows")
      .withColumn("match", col("src_rows") === col("dst_rows"))
  }
}
