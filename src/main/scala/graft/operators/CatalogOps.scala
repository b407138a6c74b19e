package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Catalog-level table selection (SURVEY §2.2 P6–P8) and counts (S2/A1/A3).
 *
 * taps plans a transfer by listing tables, then subtracting: a `--filter`
 * regex (`lib/taps/operation.rb:48-63`), an `--exclude_tables` list
 * (:44-46), and the already-completed set on resume (:113-115,325-332).
 * We express all three relationally — the exclusions as left-anti joins —
 * so the same logic works whether the "catalog" is 10 fixture tables or a
 * 100k-table lakehouse metastore.
 */
object CatalogOps {

  /** P6: keep tables matching a regex (Ruby `names.grep(re)` semantics =
    * substring match, like `rlike`). `--tables a,b` sugar compiles to
    * `(^a$|^b$)` (`lib/taps/cli.rb:137-141`). */
  def filterRegex(names: DataFrame, re: String): DataFrame =
    names.filter(col("table_name").rlike(re))

  /** The `--tables` sugar: exact-name list → alternation regex. */
  def tablesToRegex(tables: Seq[String]): String =
    tables.map(t => s"^$t$$").mkString("(", "|", ")")

  /** P7: drop excluded tables — left-anti join against the exclusion list. */
  def excludeTables(spark: SparkSession, names: DataFrame, exclude: Seq[String]): DataFrame = {
    import spark.implicits._
    names.join(exclude.toDF("table_name"), Seq("table_name"), "left_anti")
  }

  /** P8: on resume, drop tables already fully transferred (anti-join against
    * the manifest's completed set — taps' `completed_tables`). */
  def skipCompleted(names: DataFrame, completed: DataFrame): DataFrame =
    names.join(completed, Seq("table_name"), "left_anti")

  /** S2/A1: per-table row counts from Parquet FOOTER metadata, as ONE
    * distributed job: table names are parallelized to executors and each
    * task lists its table's files and sums the row-group counts recorded in
    * the footers. No row data is read, and the driver schedules exactly one
    * job no matter how many tables there are — that is what survives a
    * 100k-table metastore (the earlier shape, one count() job per table
    * driven from a driver-side `.par` loop, bottlenecks on the driver's
    * scheduler long before that). taps counts tables strictly sequentially
    * with SELECT count(*) (`lib/taps/operation.rb:342-368`). */
  def countPerTable(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(tables.size, spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(tables, slices).map { t =>
      (t, parquetRowCount(new org.apache.hadoop.fs.Path(s"$dir/$t.parquet"), hconf.value))
    }.toDF("table_name", "cnt")
  }

  /** Footer row count of one table path (a single parquet file or a
    * directory of part files) — metadata I/O only. */
  private def parquetRowCount(path: org.apache.hadoop.fs.Path,
                              conf: org.apache.hadoop.conf.Configuration): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val fs = path.getFileSystem(conf)
    val root = fs.getFileStatus(path)
    val files =
      if (root.isDirectory)
        fs.listStatus(path).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      else Array(root)
    files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** A3: grand total (`inject(0){|a,c| a+=c}`, `lib/taps/operation.rb:334-336`). */
  def recordCountTotal(counts: DataFrame): DataFrame =
    counts.agg(sum(col("cnt")).as("total_records"))

  /** S6: schema dump as rows (name, type DDL) — the relational face of
    * `Schema.dump_table` (`lib/taps/schema.rb:15-30`). */
  def schemaDump(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema.fields.map(f => (f.name, f.dataType.sql, f.nullable))
      .toSeq.toDF("col_name", "data_type", "nullable")
  }

  /** Pre-transfer column profiling: one row per requested column with row
    * count, null count, distinct count, and min/max (surfaced as strings so
    * the report schema is column-type-independent). This is the data-quality
    * preflight a migration runs before moving a table — the quantitative
    * extension of taps' schema dump (`lib/taps/schema.rb:37-49`).
    *
    * Scale shape: a UNION of per-column aggregates — ONE Spark job with k
    * independent branches, each scanning ONLY its own column (Parquet
    * column pruning: total read I/O ≈ one full-width scan, split across
    * parallel branches) and each planning as a plain two-phase hash
    * aggregate. The earlier one-agg form put all k `countDistinct`s in a
    * single Aggregate, which Catalyst plans via Expand: every input row is
    * multiplied k× map-side — a 100× scan blow-up on a 100-column table.
    * The union form has NO Expand anywhere and each branch's shuffle is
    * bounded by that column's distinct values.
    *
    * `exactNdv = false` (default) counts distinct with HLL
    * (`approx_count_distinct`, ±2%): constant-size aggregation buffers, no
    * per-value shuffle — the right default for very wide 100 TB tables.
    * Reconciliation-grade profiling passes `exactNdv = true`. */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     exactNdv: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    cols.map { c =>
      val ndv = if (exactNdv) countDistinct(col(c)) else approx_count_distinct(col(c))
      df.select(col(c))
        .agg(count(lit(1)).as("__total"), count(col(c)).as("__cnt"),
          ndv.as("__ndv"),
          min(col(c)).cast("string").as("__min"),
          max(col(c)).cast("string").as("__max"))
        .select(lit(c).as("column_name"),
          col("__total").as("n_rows"),
          (col("__total") - col("__cnt")).as("n_nulls"),
          col("__ndv").as("n_distinct"),
          col("__min").as("min_value"),
          col("__max").as("max_value"))
    }.reduce(_ unionByName _)
  }
}
