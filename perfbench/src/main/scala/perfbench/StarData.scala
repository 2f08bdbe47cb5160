package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star-schema corpus in the layout the registered queries read:
  * `<dir>/<table>.parquet` for the eight star/event tables plus
  * `documents` and `embeddings`, with the column names and types of the
  * engine's test data. Every value is a pure function of (row id, seed),
  * so one seed always gives the same corpus.
  *
  * Timestamps are written as TIMESTAMP_NTZ so the parquet footer says
  * `isAdjustedToUTC=false`, as in the engine's test data; Spark then reads
  * them back as session-zone timestamps and DuckDB as plain TIMESTAMP.
  */
object StarData {

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
                         orders: Long, events: Long, users: Long,
                         documents: Long, vectors: Long)

  val StarTables: Set[String] = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")
  val CorpusTables: Set[String] = Set("documents", "embeddings")

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Writes `tables` under `out`; returns the rows written. */
  def generate(spark: SparkSession, out: String, seed: Long, s: Sizes,
               tables: Set[String]): Long = {
    /** Uniform value in [0, m) from (cols, tag, seed). */
    def h(m: Long, tag: Int, cols: Column*): Column =
      pmod(xxhash64(cols :+ lit(seed) :+ lit(tag): _*), lit(m))
    def money(lo: Double, hi: Double, tag: Int, cols: Column*): Column =
      lit(lo) + h(((hi - lo) * 100).toLong, tag, cols: _*) / lit(100.0)
    def pick(values: Seq[String], tag: Int, cols: Column*): Column =
      element_at(array(values.map(lit): _*),
        (h(values.size, tag, cols: _*) + 1).cast("int"))
    def at(values: Seq[String], idx: Column): Column =
      element_at(array(values.map(lit): _*), (idx + 1).cast("int"))
    def ntz(c: Column): Column = c.cast("timestamp_ntz")
    def epoch(iso: String): Long = java.time.Instant.parse(iso).getEpochSecond
    def write(df: => DataFrame, name: String): Unit =
      if (tables(name)) df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def range(n: Long) = spark.range(0, n, 1, if (n > 5000) 4 else 1)
    val id = col("id")

    write(range(5).select(id.cast("int").as("r_regionkey"),
      at(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id)
        .as("r_name")), "region")
    write(range(25).select(id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), "nation")
    write(range(s.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(25, 1, id).cast("int").as("c_nationkey"),
      money(-1000.0, 10000.0, 2, id).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), 3, id).as("c_mktsegment")), "customer")
    write(range(s.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(25, 4, id).cast("int").as("s_nationkey"),
      money(-1000.0, 10000.0, 5, id).as("s_acctbal")), "supplier")
    write(range(s.parts).select(id.as("p_partkey"),
      concat(
        pick(Seq("blue", "cold", "hot", "large", "new", "old", "red",
          "small"), 6, id), lit(" "),
        pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"), 7, id)).as("p_name"),
      format_string("Brand#%d", h(25, 8, id) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        9, id).as("p_type"),
      (h(50, 10, id) + 1).cast("int").as("p_size"),
      money(900.0, 1000.0, 11, id).as("p_retailprice")), "part")

    val orders = range(s.orders).select(id.as("o_orderkey"),
      h(s.customers, 12, id).as("o_custkey"),
      pick(Seq("O", "P", "F"), 13, id).as("o_orderstatus"),
      money(1000.0, 500000.0, 14, id).as("o_totalprice"),
      timestamp_seconds(lit(epoch("1995-01-01T00:00:00Z")) +
        h(2405, 15, id) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        16, id).as("o_orderpriority"))
    write(orders.withColumn("o_orderdate", ntz(col("o_orderdate"))),
      "orders")

    // 1..7 lines per order, each line's values mixed from (order, line)
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val lineitem = orders
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (h(7, 17, ok) + 1).cast("int")))
          .as("l_linenumber"))
      .select(ok.as("l_orderkey"),
        h(s.parts, 18, ok, ln).as("l_partkey"),
        h(s.suppliers, 19, ok, ln).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (h(50, 20, ok, ln) + 1).cast("double").as("l_quantity"),
        (money(900.0, 1000.0, 21, ok, ln) *
          (h(50, 20, ok, ln) + 1).cast("double")).as("l_extendedprice"),
        (h(11, 22, ok, ln) / lit(100.0)).as("l_discount"),
        (h(9, 23, ok, ln) / lit(100.0)).as("l_tax"),
        pick(Seq("R", "N", "A"), 24, ok, ln).as("l_returnflag"),
        pick(Seq("O", "F"), 25, ok, ln).as("l_linestatus"),
        ntz(timestamp_seconds(unix_timestamp(col("o_orderdate")) +
          (h(95, 26, ok, ln) + 1) * 86400L)).as("l_shipdate"))
    write(lineitem, "lineitem")

    write(range(s.events).select(id.as("event_id"),
      ntz(timestamp_micros(lit(epoch("2024-01-01T00:00:00Z") * 1000000L) +
        h(30L * 86400 * 1000000, 27, id))).as("ts"),
      h(s.users, 28, id).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 29, id)
        .as("event_type"),
      money(0.0, 561.0, 30, id).as("value"),
      format_string("{\"k\": %d}", h(100, 31, id)).as("props")),
      "events")

    // documents: 10..100 words from a fixed vocabulary; ~1 % copy a doc
    // at most 20 ids back, so near-duplicate clusters stay small
    val docSeed = when(h(100, 32, id) === 0,
      greatest(lit(0L), id - 1L - h(20, 33, id))).otherwise(id)
    val nWords = (h(91, 34, docSeed) + lit(10)).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), nWords),
      i => element_at(array(vocab.map(lit): _*),
        (h(vocab.size, 35, docSeed, i) + 1).cast("int"))))
    write(range(s.documents).select(id.as("doc_id"), text.as("text"),
      when(h(10, 36, id) < 4, "en")
        .otherwise(pick(Seq("de", "es", "fr", "zh"), 37, id)).as("lang"),
      format_string("src%d", h(20, 38, id)).as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim vectors around 10 label centroids, ~1 % planted
    // near-duplicates (the partner's components re-jittered by 0.001)
    val vecSeed = when(h(100, 39, id) === 0,
      greatest(lit(0L), id - 1L - h(20, 40, id))).otherwise(id)
    val label = h(10, 41, vecSeed).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), d =>
      ((h(2000, 42, label.cast("long"), d) - 1000L).cast("double") / 5000.0 +
        (h(2000, 43, vecSeed, d) - 1000L).cast("double") / 2750.0 +
        (h(100, 44, id, d) - 50L).cast("double") / 50000.0).cast("float"))
    write(range(s.vectors).select(id.as("vec_id"),
      emb.as("embedding"), label.as("label")), "embeddings")
    Seq("orders" -> s.orders, "events" -> s.events,
      "documents" -> s.documents, "embeddings" -> s.vectors)
      .collect { case (t, n) if tables(t) => n }.sum +
      (if (tables("lineitem")) spark.read.parquet(s"$out/lineitem.parquet").count()
       else 0L)
  }
}
