package perfbench

import java.io.File
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** A small TPC-H-shaped fixture (about a third of sf0.01) for the plain-scan
  * `SparkEntry` entries. It is generated from a FIXED seed, not the run's
  * seed, and committed as parquet (`perfbench/fixture/tpch`), so the
  * entries' results are constants that the committed golden hashes pin. */
object Tpch {
  def fixtureDir: String = sys.props.getOrElse("perfbench.fixture", "perfbench/fixture/tpch")

  val Seed = 20240601L
  val Orders = 5000L
  val Customers = 500L
  val Suppliers = 100L

  val entries: Seq[String] =
    Seq("q1_pricing_summary", "q3_top_orders", "q5_region_volume", "q18_big_baskets")

  private def h(salt: String, c: Column): Column = xxhash64(lit(Seed), lit(salt), c)
  private def pick(salt: String, c: Column, n: Long): Column = pmod(h(salt, c), lit(n))
  private def day(salt: String, c: Column, days: Long): Column =
    timestamp_seconds(lit(694224000L) + pick(salt, c, days) * 86400L)

  def write(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    def out(name: String) = new File(dir, s"$name.parquet").getPath
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(out("region"))
    (0 until 25).map(i => (i, f"NATION$i%02d", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(out("nation"))
    val id = col("id")
    spark.range(1, Suppliers + 1).select(id.as("s_suppkey"),
        concat(lit("Supplier#"), id.cast("string")).as("s_name"),
        pick("snat", id, 25).cast("int").as("s_nationkey"),
        (pick("sbal", id, 1000000) / 100.0).as("s_acctbal"))
      .coalesce(1).write.parquet(out("supplier"))
    spark.range(1, Customers + 1).select(id.as("c_custkey"),
        concat(lit("Customer#"), id.cast("string")).as("c_name"),
        pick("cnat", id, 25).cast("int").as("c_nationkey"),
        (pick("cbal", id, 1000000) / 100.0).as("c_acctbal"),
        element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY").map(lit): _*), (pick("seg", id, 5) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.parquet(out("customer"))
    val orders = spark.range(1, Orders + 1).select(id.as("o_orderkey"),
      (pick("cust", id, Customers) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (pick("ost", id, 3) + 1).cast("int"))
        .as("o_orderstatus"),
      (pick("otp", id, 50000000) / 100.0).as("o_totalprice"),
      day("odate", id, 2400).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), (pick("opri", id, 5) + 1).cast("int")).as("o_orderpriority"),
      (pick("nlines", id, 7) + 1).as("n_lines"))
    orders.drop("n_lines").coalesce(1).write.parquet(out("orders"))
    val li = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1L), col("n_lines"))).as("ln"))
      .select(col("l_orderkey"), col("o_orderdate"), col("ln"),
        (col("l_orderkey") * 8 + col("ln")).as("k"))
    li.select(col("l_orderkey"),
        (pick("lpart", col("k"), 2000) + 1).as("l_partkey"),
        (pick("lsupp", col("k"), Suppliers) + 1).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (pick("lqty", col("k"), 50) + 1).cast("double").as("l_quantity"),
        (pick("lprice", col("k"), 10000000) / 100.0).as("l_extendedprice"),
        (pick("ldisc", col("k"), 11) / 100.0).as("l_discount"),
        (pick("ltax", col("k"), 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pick("lrf", col("k"), 3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")), (pick("lls", col("k"), 2) + 1).cast("int"))
          .as("l_linestatus"),
        (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0),
          (pick("lship", col("k"), 120) + 1).cast("int"))).as("l_shipdate"))
      .coalesce(1).write.parquet(out("lineitem"))
  }

  /** Canonical hash of an entry's ordered result rows. */
  def resultHash(rows: Seq[org.apache.spark.sql.Row]): String =
    Gen.sha256(rows.iterator.map(_.toString))
}
