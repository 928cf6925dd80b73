package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stand-in for the sf0.1 lake the graded queries read
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`, same schemas and row counts). Every value is
  * a hash of the row id and a salt, so the tables do not depend on the
  * benchmark seed, on partitioning or on the host: every checkout
  * generates the same bytes of data, and the registry's recorded
  * result fingerprints hold for all of them.
  *
  * The tables the registry's queries read follow the sf0.1 lake's own
  * value distributions, measured on that lake (README.md, "The
  * generated lake"):
  *  - documents: 10 to 100 words drawn uniformly from a 30-word
  *    vocabulary; 5% of the documents copy another document's text and
  *    append the word "dup" (the near-duplicates); `lang` en 40% and
  *    de/es/fr/zh 15% each; `source` = src(doc_id mod 20);
  *  - embeddings: 64 i.i.d. normal components scaled to unit length,
  *    with a uniform label in 0..9 that carries no cluster structure;
  *  - events: uniform users, types and `props` keys; `value` is
  *    exponential with mean 50.
  */
object TableGen {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Row counts of the sf0.1 lake. */
  final case class Rows(customer: Long, supplier: Long, part: Long, orders: Long,
                        lineitem: Long, events: Long, users: Long, documents: Long,
                        embeddings: Long)
  val Sf01 = Rows(15000, 1000, 20000, 150000, 600000, 100000, 1500, 5000, 2000)
  val Tiny = Rows(150, 10, 200, 1500, 6000, 1000, 50, 500, 500)

  private def h(salt: String, cs: Column*): Column = xxhash64(lit(salt) +: cs: _*)
  private def pick(salt: String, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
  private def unit(salt: String, cs: Column*): Column =
    pick(salt, 1000003L, cs: _*).cast("double") / lit(1000003.0)
  private def oneOf(salt: String, vs: Seq[String], cs: Column*): Column =
    element_at(typedlit(vs), (pick(salt, vs.size.toLong, cs: _*) + 1).cast("int"))
  private def day(from: String, salt: String, span: Long): Column =
    date_add(lit(from).cast("date"), pick(salt, span, col("id")).cast("int")).cast("timestamp_ntz")

  val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "vector", "join", "customer", "the")

  def tables(spark: SparkSession, n: Rows): Map[String, DataFrame] = {
    import spark.implicits._
    val id = col("id")
    val rng = (k: Long) => spark.range(0, k, 1, 1)
    val docWords = (src: Column) => (pick("nw", 91, src) + 10).cast("int")
    val dup = pick("nd", 20, id) === 0
    val srcId = when(dup, pick("ns", n.documents, id)).otherwise(id)
    Map(
      "region" -> Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
        .toDF("r_regionkey", "r_name").coalesce(1),
      "nation" -> rng(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> rng(n.customer).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick("cn", 25, id).cast("int").as("c_nationkey"),
        round(unit("cb", id) * 10999.98 - 999.99, 2).as("c_acctbal"),
        oneOf("cs", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
          .as("c_mktsegment")),
      "supplier" -> rng(n.supplier).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick("sn", 25, id).cast("int").as("s_nationkey"),
        round(unit("sb", id) * 10999.98 - 999.99, 2).as("s_acctbal")),
      "part" -> rng(n.part).select(id.as("p_partkey"),
        concat(oneOf("pc", Seq("blue", "hot", "large", "red", "green", "small", "dark", "pale"), id),
          lit(" "), oneOf("pn", Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"), id))
          .as("p_name"),
        concat(lit("Brand#"), pick("pb", 25, id) + 1).as("p_brand"),
        oneOf("pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id).as("p_type"),
        (pick("ps", 50, id) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000).cast("double") / 10.0, 1).as("p_retailprice")),
      "orders" -> rng(n.orders).select(id.as("o_orderkey"), pick("oc", n.customer, id).as("o_custkey"),
        oneOf("os", Seq("O", "F", "P"), id).as("o_orderstatus"),
        round(unit("op", id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
        day("1995-01-01", "od", 2404).as("o_orderdate"),
        oneOf("oo", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
          .as("o_orderpriority")),
      "lineitem" -> rng(n.lineitem).select(pick("lo", n.orders, id).as("l_orderkey"),
        pick("lp", n.part, id).as("l_partkey"), pick("ls", n.supplier, id).as("l_suppkey"),
        (pick("ll", 7, id) + 1).cast("int").as("l_linenumber"),
        (pick("lq", 50, id) + 1).cast("double").as("l_quantity"),
        round(unit("le", id) * 99100.0 + 900.0, 2).as("l_extendedprice"),
        (pick("ld", 11, id).cast("double") / 100.0).as("l_discount"),
        (pick("lt", 9, id).cast("double") / 100.0).as("l_tax"),
        oneOf("lr", Seq("A", "N", "R"), id).as("l_returnflag"),
        oneOf("lx", Seq("O", "F"), id).as("l_linestatus"),
        day("1995-01-02", "lsd", 2498).as("l_shipdate")),
      "events" -> rng(n.events).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * lit(2592000000000L / n.events) +
          pick("et", 2592000000000L / n.events, id)).cast("timestamp_ntz").as("ts"),
        pick("eu", n.users, id).as("user_id"),
        oneOf("ey", Seq("signup", "click", "error", "view", "purchase"), id).as("event_type"),
        round(-log1p(-unit("ev", id)) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), pick("ek", 100, id), lit("}")).as("props")),
      "documents" -> rng(n.documents)
        .select(id, srcId.as("src"))
        .select(id.as("doc_id"),
          concat(array_join(transform(sequence(lit(0), docWords(col("src")) - 1), i =>
            element_at(typedlit(Vocab), (pick("w", Vocab.size, col("src"), i) + 1).cast("int"))), " "),
            when(dup, lit(" dup")).otherwise(lit(""))).as("text"),
          oneOf("dl", Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++ Seq.fill(3)("es") ++
            Seq.fill(3)("fr") ++ Seq.fill(3)("de"), id).as("lang"),
          concat(lit("src"), id % 20).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> rng(n.embeddings)
        .select(id.as("vec_id"), pick("lab", 10, id).cast("int").as("label"))
        .select(col("vec_id"), col("label"),
          // Box-Muller: a standard normal from two uniforms
          transform(sequence(lit(0), lit(63)), d =>
            sqrt(lit(-2.0) * log((pick("g1", 1000003L, col("vec_id"), d) + 1).cast("double") /
              lit(1000004.0))) * cos(lit(2 * math.Pi) * unit("g2", col("vec_id"), d)))
            .as("raw"))
        .select(col("vec_id"),
          transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
            (a, v) => a + v * v))).cast("float")).as("embedding"),
          col("label"))
    )
  }

  def write(spark: SparkSession, n: Rows, dir: Path): Unit =
    tables(spark, n).foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)
    }

  /** One-time inputs of a checkout: the sf0.1-shaped lake under `sf`. */
  def prepare(spark: SparkSession, data: Path): Unit = write(spark, Sf01, data.resolve("sf"))
}
