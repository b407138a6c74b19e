package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for a database shaped like the repo's fixture: the ten
  * table names, column names, types and primary keys of `graft.Tables`
  * (`Tables.meta` / `Tables.expectedSchema`), with the same value domains
  * and the same row-count ratios per scale factor.
  *
  * Every value is a pure function of (row id, seed, column salt) through
  * `xxhash64`, so the same seed gives byte-identical tables whatever the
  * partitioning; a table is written as one Parquet file per 150k rows.
  * Timestamps are written as TIMESTAMP_NTZ (naive micros), as in the fixture. */
object Gen {

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
                         orders: Long, lineitem: Long, events: Long,
                         documents: Long, embeddings: Long) {
    def users: Long = math.max(10L, customer / 10)
  }

  def sizes(sf: Double): Sizes = {
    def n(perSf: Double, floor: Long = 1L) = math.max(floor, math.round(perSf * sf))
    Sizes(customer = n(150000), supplier = n(10000, 10), part = n(200000),
      orders = n(1500000), lineitem = n(6000000), events = n(1000000),
      documents = n(50000, 500), embeddings = n(20000, 500))
  }

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Sizes = {
    val sz = sizes(sf)
    tables(spark, sz, seed).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    sz
  }

  def tables(spark: SparkSession, sz: Sizes, seed: Long): Seq[(String, DataFrame)] = {
    var salt = 0
    // a fresh 64-bit hash of (id, seed, salt) per call site
    def h(): Column = { salt += 1; xxhash64(col("id"), lit(seed), lit(salt)) }
    def intIn(lo: Long, hi: Long): Column = pmod(h(), lit(hi - lo + 1)) + lit(lo)
    def unit(): Column = pmod(h(), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    def money(lo: Double, hi: Double): Column = round(lit(lo) + unit() * lit(hi - lo), 2)
    def pick(values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (pmod(h(), lit(values.size.toLong)) + 1).cast("int"))
    def range(n: Long): DataFrame = spark.range(0, n, 1, math.max(1, ((n + 149999) / 150000).toInt)).toDF()
    def ntzDay(base: String, maxDays: Long): Column =
      date_add(to_date(lit(base)), intIn(0, maxDays).cast("int")).cast("timestamp_ntz")

    val region = spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
    val customer = range(sz.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      intIn(0, 24).cast("int").as("c_nationkey"), money(-999.99, 9999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = range(sz.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      intIn(0, 24).cast("int").as("s_nationkey"), money(-999.99, 9999.99).as("s_acctbal"))
    val part = range(sz.part).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("blue", "cold", "hot", "large", "old", "red", "small", "green")),
        pick(Seq("bolt", "gear", "plate", "ring", "widget", "nut", "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), intIn(1, 25)).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      intIn(1, 50).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10).as("p_retailprice"))
    val orders = range(sz.orders).select(col("id").as("o_orderkey"),
      intIn(0, sz.customer - 1).as("o_custkey"), pick(Seq("F", "O", "P")).as("o_orderstatus"),
      money(1000.0, 500000.0).as("o_totalprice"), ntzDay("1995-01-01", 2403).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = range(sz.lineitem).select(intIn(0, sz.orders - 1).as("l_orderkey"),
      intIn(0, sz.part - 1).as("l_partkey"), intIn(0, sz.supplier - 1).as("l_suppkey"),
      intIn(1, 7).cast("int").as("l_linenumber"), intIn(1, 50).cast("double").as("l_quantity"),
      money(900.0, 105000.0).as("l_extendedprice"), (intIn(0, 10).cast("double") / 100).as("l_discount"),
      (intIn(0, 8).cast("double") / 100).as("l_tax"), pick(Seq("A", "N", "R")).as("l_returnflag"),
      pick(Seq("F", "O")).as("l_linestatus"), ntzDay("1995-01-02", 2498).as("l_shipdate"))
    // strictly increasing ts (one slot per event over 30 days): (user_id, ts)
    // is unique, as in the fixture
    val slotMicros = 30L * 86400L * 1000000L / math.max(1L, sz.events)
    val events = range(sz.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * lit(slotMicros) +
        pmod(h(), lit(math.max(1L, slotMicros)))).cast("timestamp_ntz").as("ts"),
      intIn(0, sz.users - 1).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(unit() * unit() * lit(560.0), 2).as("value"),
      format_string("{\"k\": %d}", intIn(0, 99)).as("props"))
    // 5% of documents repeat an earlier document's text plus " dup"
    val vocabArr = array(vocab.map(lit): _*)
    def textOf(id: Column): Column = {
      val s = lit(seed); val n = lit(vocab.size.toLong)
      val len = (pmod(xxhash64(id, s, lit(-1)), lit(91L)) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(1), len), i =>
        element_at(vocabArr, (pmod(xxhash64(id, s, i), n) + 1).cast("int"))))
    }
    val isDup = pmod(h(), lit(20L)) === 0 && col("id") > 0
    val docText = when(isDup, concat(textOf(pmod(h(), col("id"))), lit(" dup")))
      .otherwise(textOf(col("id")))
    val documents = range(sz.documents).select(col("id").as("doc_id"), docText.as("text"),
      pick(Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit-norm 64-d Gaussian vectors (Box-Muller over two hashes per dim)
    val s = lit(seed)
    def u(i: Column, k: Int) =
      (pmod(xxhash64(col("id"), s, i, lit(k)), lit(1L << 40)).cast("double") + 1) / ((1L << 40) + 1).toDouble
    val raw = transform(sequence(lit(1), lit(64)), i =>
      sqrt(log(u(i, 1)) * -2.0) * cos(u(i, 2) * (2 * math.Pi)))
    val embeddings = range(sz.embeddings).select(col("id").as("vec_id"), raw.as("raw"),
      intIn(0, 9).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"), col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
