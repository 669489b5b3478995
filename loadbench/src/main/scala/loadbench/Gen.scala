package loadbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generation on the driver. The product has the shape of the
  * engine's TPC-H-like test tables (same names, columns and domains; row
  * counts proportional to the scale factor) with a seed-chosen row sample
  * and seed-chosen nulls on the nullable measure columns. Each table is one
  * parquet file written with parquet-hadoop, so generating inputs runs no
  * Spark job. One seed always yields the same files.
  */
object Gen {

  /** The product's sampling and null knobs, drawn from the seed. */
  final case class Knobs(keep: Double, nullRate: Double)

  def knobs(seed: Long): Knobs = {
    val r = new java.util.SplittableRandom(seed)
    Knobs(keep = 0.9 + 0.08 * r.nextDouble(), nullRate = 0.002 + 0.008 * r.nextDouble())
  }

  private type Rng = java.util.SplittableRandom

  /** One column: its parquet declaration and a value per row (null = absent). */
  private final case class Col(decl: String, value: (Long, Rng) => Any) {
    val name: String = decl.replaceAll("\\(.*", "").trim.split("\\s+")(2)
  }

  private final case class Table(name: String, rows: Long, sampled: Boolean, cols: Seq[Col])

  private val Words = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val DayMicros = 86400L * 1000000L
  private val Ts = "(TIMESTAMP(MICROS,true))"

  private def tables(seed: Long, scale: Double): Seq[Table] = {
    val k = knobs(seed)
    def n(atSf01: Long) = math.max(1L, (atSf01 * scale / 0.1).toLong)
    val nOrders = n(150000L)
    val nCust = n(15000L)
    val nPart = n(20000L)
    val nSupp = n(1000L)
    def of(xs: String*)(r: Rng): String = xs(r.nextInt(xs.size))
    def nullable(v: Rng => Any): (Long, Rng) => Any =
      (_, r) => { val x = v(r); if (r.nextDouble() < k.nullRate) null else x }
    def money(lo: Double, hi: Double)(r: Rng): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def date(startDay: Long, span: Int)(r: Rng): Long = (startDay + r.nextInt(span)) * DayMicros
    // an embedding is its label's seeded center plus noise
    val centers = {
      val r = new Rng(seed * 31 + 7)
      Array.fill(10, 64)((r.nextInt(2001) - 1000) / 5000.0)
    }
    def label(i: Long): Int = new Rng(seed * 1000003L + i).nextInt(10)
    var text = "" // the row's document text, for its n_chars column
    Seq(
      Table("region", 5, sampled = false, Seq(
        Col("optional int32 r_regionkey", (i, _) => i.toInt),
        Col("optional binary r_name (STRING)", (i, _) =>
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt)))),
      Table("nation", 25, sampled = false, Seq(
        Col("optional int32 n_nationkey", (i, _) => i.toInt),
        Col("optional binary n_name (STRING)", (i, _) => s"NATION_$i"),
        Col("optional int32 n_regionkey", (i, _) => (i % 5).toInt))),
      Table("customer", nCust, sampled = true, Seq(
        Col("optional int64 c_custkey", (i, _) => i),
        Col("optional binary c_name (STRING)", (i, _) => f"Customer#$i%09d"),
        Col("optional int32 c_nationkey", (_, r) => r.nextInt(25)),
        Col("optional double c_acctbal", nullable(money(-999.99, 9999.99))),
        Col("optional binary c_mktsegment (STRING)", (_, r) =>
          of("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r)))),
      Table("supplier", nSupp, sampled = false, Seq(
        Col("optional int64 s_suppkey", (i, _) => i),
        Col("optional binary s_name (STRING)", (i, _) => f"Supplier#$i%09d"),
        Col("optional int32 s_nationkey", (_, r) => r.nextInt(25)),
        Col("optional double s_acctbal", (_, r) => money(-999.99, 9999.99)(r)))),
      Table("part", nPart, sampled = false, Seq(
        Col("optional int64 p_partkey", (i, _) => i),
        Col("optional binary p_name (STRING)", (_, r) =>
          of("large", "small", "hot", "cold", "bright")(r) + " " +
            of("ring", "bolt", "gear", "pipe", "nut")(r)),
        Col("optional binary p_brand (STRING)", (_, r) => s"Brand#${1 + r.nextInt(25)}"),
        Col("optional binary p_type (STRING)", (_, r) =>
          of("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")(r)),
        Col("optional int32 p_size", (_, r) => 1 + r.nextInt(50)),
        Col("optional double p_retailprice", (i, _) => 900.0 + (i % 1000) / 10.0))),
      Table("orders", nOrders, sampled = true, Seq(
        Col("optional int64 o_orderkey", (i, _) => i),
        Col("optional int64 o_custkey", (_, r) => r.nextLong(nCust)),
        Col("optional binary o_orderstatus (STRING)", (_, r) => of("F", "O", "P")(r)),
        Col("optional double o_totalprice", nullable(money(1000.0, 500000.0))),
        Col(s"optional int64 o_orderdate $Ts", (_, r) => date(9131L, 2404)(r)),
        Col("optional binary o_orderpriority (STRING)", (_, r) =>
          of("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r)))),
      Table("lineitem", n(600000L), sampled = true, Seq(
        Col("optional int64 l_orderkey", (_, r) => r.nextLong(nOrders)),
        Col("optional int64 l_partkey", (_, r) => r.nextLong(nPart)),
        Col("optional int64 l_suppkey", (_, r) => r.nextLong(nSupp)),
        Col("optional int32 l_linenumber", (_, r) => 1 + r.nextInt(7)),
        Col("optional double l_quantity", (_, r) => (1 + r.nextInt(50)).toDouble),
        Col("optional double l_extendedprice", (_, r) => money(900.0, 105000.0)(r)),
        Col("optional double l_discount", nullable(r => r.nextInt(11) / 100.0)),
        Col("optional double l_tax", (_, r) => r.nextInt(9) / 100.0),
        Col("optional binary l_returnflag (STRING)", (_, r) => of("A", "N", "R")(r)),
        Col("optional binary l_linestatus (STRING)", (_, r) => of("F", "O")(r)),
        Col(s"optional int64 l_shipdate $Ts", (_, r) => date(9131L, 2499)(r)))),
      Table("events", n(100000L), sampled = true, Seq(
        Col("optional int64 event_id", (i, _) => i),
        Col(s"optional int64 ts $Ts", (i, r) =>
          1704067200000000L + i * 25920000L + r.nextLong(25920000L)),
        Col("optional int64 user_id", (_, r) => r.nextLong(1500)),
        Col("optional binary event_type (STRING)", (_, r) =>
          of("click", "error", "purchase", "signup", "view")(r)),
        Col("optional double value", nullable(money(0.0, 560.0))),
        Col("optional binary props (STRING)", nullable(r => s"""{"k": ${r.nextInt(100)}}""")))),
      Table("documents", n(5000L), sampled = false, Seq(
        Col("optional int64 doc_id", (i, _) => i),
        Col("optional binary text (STRING)", (_, r) => {
          text = Array.fill(8 + r.nextInt(80))(Words(r.nextInt(Words.length))).mkString(" ")
          text
        }),
        Col("optional binary lang (STRING)", (_, r) => of("en", "en", "en", "de", "es", "fr", "zh")(r)),
        Col("optional binary source (STRING)", (_, r) => s"src${r.nextInt(20)}"),
        Col("optional int64 n_chars", (_, _) => text.length.toLong))),
      Table("embeddings", n(2000L), sampled = false, Seq(
        Col("optional int64 vec_id", (i, _) => i),
        Col("optional group embedding (LIST) { repeated group list { optional float element; } }",
          (i, r) => { val c = centers(label(i)); Array.tabulate(64)(j =>
            (c(j) + (r.nextInt(2001) - 1000) / 12000.0).toFloat) }),
        Col("optional int32 label", (i, _) => label(i)))))
  }

  private def put(g: Group, name: String, v: Any): Unit = v match {
    case null =>
    case x: Long => g.append(name, x)
    case x: Int => g.append(name, x)
    case x: Double => g.append(name, x)
    case x: String => g.append(name, x)
    case xs: Array[Float] =>
      val l = g.addGroup(name)
      xs.foreach(x => l.addGroup("list").append("element", x))
  }

  /** Write the product's tables (all, or those named in `only`) as
    * `<dir>/<name>.parquet`.
    */
  def write(conf: Configuration, dir: String, seed: Long, scale: Double,
      only: Set[String] = Set.empty): Unit =
    tables(seed, scale).filter(t => only.isEmpty || only(t.name)).foreach { t =>
      val schema = MessageTypeParser.parseMessageType(
        t.cols.map(c => if (c.decl.endsWith("}")) c.decl else c.decl + ";")
          .mkString(s"message ${t.name} { ", " ", " }"))
      val factory = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(new Path(s"$dir/${t.name}.parquet"))
        .withType(schema).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val r = new Rng(seed * 1000003L + t.name.hashCode)
      val keep = knobs(seed).keep
      try {
        var i = 0L
        while (i < t.rows) {
          if (!t.sampled || r.nextDouble() < keep) {
            val g = factory.newGroup()
            t.cols.foreach(c => put(g, c.name, c.value(i, r)))
            w.write(g)
          }
          i += 1
        }
      } finally w.close()
    }
}
