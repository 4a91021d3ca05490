package perfbench

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.meta.{MetaStore, TableColumn, Transition}

/** Seeded input generator. Every attribute is a pure function of (seed,
  * key, version) through a SplitMix64 mix, computed on the driver and
  * written with the plain parquet writer in a fixed row order, so one seed
  * gives byte-identical files. A "version" is the delivery that last
  * changed a key; the checks rebuild the expected vault from these rows,
  * never from graft's own loaders or hashing. */
final class Gen(val seed: Long) {
  import Gen._

  private def mix(xs: Long*): Long = xs.foldLeft(fmix(seed ^ 0x5DEECE66DL))((h, x) => fmix(h ^ fmix(x)))
  private def u(mod: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), mod)
  private def ts(xs: Long*): java.sql.Timestamp = new java.sql.Timestamp((1577836800L + u(86400L * 365 * 3, xs: _*)) * 1000L)

  /** The row `source` delivers for key `k` at version `v`. */
  def row(source: String, k: Long, v: Long): Row = source match {
    case "customer" => Row(k, f"Customer#$k%09d", u(25, k, v, 1).toInt, (u(1099999, k, v, 2) - 99999) / 100.0,
      Segments(u(5, k, v, 3).toInt))
    case "orders" => Row(k, u(CustomerUniverse, k, 11) + 1, Seq("O", "F", "P")(u(3, k, v, 12).toInt),
      u(50000000L, k, v, 13) / 100.0, ts(k, 14), Priorities(u(5, k, v, 15).toInt))
    case "lineitem" => Row((k - 1) / 4 + 1, u(20000, k, 21) + 1, u(1000, k, 22) + 1, ((k - 1) % 4 + 1).toInt,
      (u(50, k, v, 23) + 1).toDouble, u(10000000L, k, v, 24) / 100.0, u(11, k, v, 25) / 100.0,
      u(9, k, v, 26) / 100.0, Seq("A", "N", "R")(u(3, k, v, 27).toInt), Seq("O", "F")(u(2, k, v, 28).toInt),
      ts(k, v, 29))
  }

  /** Keys of increment file `i` with the version whose attributes each
    * carries: `newKeys` fresh keys at version `i`, then, from file 1 on,
    * `changed` keys of file `i - 1`'s fresh range re-delivered with
    * version-`i` attributes and `same` further keys of that range
    * re-delivered unchanged (version `i - 1`, which is still their latest
    * when files arrive in order). A stride prime to `newKeys` walks the
    * range from a seeded offset, so the re-delivered keys are distinct. */
  def incrementKeys(i: Int, newKeys: Int, changed: Int, same: Int): Seq[(Long, Int)] = {
    val fresh = (1L to newKeys).map(k => (i.toLong * newKeys + k, i))
    if (i == 0) fresh
    else {
      val prev = (i - 1).toLong * newKeys
      val off = u(newKeys, i, 99)
      fresh ++ (0 until math.min(changed + same, newKeys)).map { j =>
        (prev + java.lang.Math.floorMod(j * Stride + off, newKeys.toLong) + 1, if (j < changed) i else i - 1)
      }
    }
  }

  private def words(id: Long): Seq[String] =
    (0L until MinWords + u(MaxWords - MinWords + 1, id, 41)).map(j => Vocab(u(Vocab.size, id, j, 42).toInt))

  /** Corpus shaped after sf0.1 `documents` (see METRICS.md): `n` base
    * documents of 10-99 words drawn uniformly from a 30-word vocabulary,
    * 41% `en` and the rest split evenly over `de`, `es`, `fr` and `zh`,
    * 20 sources by `doc_id % 20`. Planted on top: `nNear` near copies made
    * the way sf0.1's own are (the token `dup` inserted at a uniform
    * position of a seeded base document) and `nExact` exact copies (case
    * and spacing changed). Returns the document rows and the planted
    * (original, copy, kind) triples. */
  def corpus(n: Int, nExact: Int, nNear: Int): (Seq[Row], Seq[(Long, Long, String)]) = {
    def doc(id: Long, t: String) = {
      val r = u(10000, id, 46)
      val lang = if (r < 4100) "en" else Langs(((r - 4100) * Langs.size / 5900).toInt)
      Row(id, t, lang, s"src${id % 20}", t.length.toLong)
    }
    val base = (0L until n).map(id => doc(id, words(id).mkString(" ")))
    val exact = (0L until nExact).map { e =>
      val orig = u(n, e, 43)
      (orig, doc(n + e, "  " + words(orig).mkString(" ").toUpperCase + " "))
    }
    val near = (0L until nNear).map { q =>
      val orig = u(n, q, 44)
      val w = words(orig)
      val at = u(w.size + 1, q, 45).toInt
      (orig, doc(n.toLong + nExact + q, ((w.take(at) :+ "dup") ++ w.drop(at)).mkString(" ")))
    }
    (base ++ exact.map(_._2) ++ near.map(_._2),
      exact.map { case (o, d) => (o, d.getLong(0), "exact") } ++ near.map { case (o, d) => (o, d.getLong(0), "near") })
  }
}

object Gen {
  private def fmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** Orders reference customers from this key range, delivered or not yet. */
  val CustomerUniverse = 15000L
  /** A prime that divides no key count the workloads generate. */
  val Stride = 1000003L
  /** The vocabulary of sf0.1 `documents`: 30 words of near-equal frequency. */
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val MinWords = 10
  val MaxWords = 99
  val Langs = Seq("de", "es", "fr", "zh")

  val Sources = Seq("customer", "orders", "lineitem")

  private val StgCols: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR", "c_nationkey" -> "INT",
      "c_acctbal" -> "DOUBLE", "c_mktsegment" -> "VARCHAR"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT", "o_orderstatus" -> "VARCHAR",
      "o_totalprice" -> "DOUBLE", "o_orderdate" -> "TIMESTAMP", "o_orderpriority" -> "VARCHAR"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT", "l_suppkey" -> "BIGINT",
      "l_linenumber" -> "INT", "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE", "l_returnflag" -> "VARCHAR",
      "l_linestatus" -> "VARCHAR", "l_shipdate" -> "TIMESTAMP"))

  def stgType(source: String, column: String): String = StgCols(source).toMap.apply(column)

  def schema(source: String): StructType =
    StructType(StgCols(source).map { case (c, t) => StructField(c, MetaStore.sqlType(t), nullable = false) })

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false), StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** The source's satellite, its hash-key column and payload columns. */
  final case class SatSpec(table: String, hk: String, payload: Seq[String])

  def satOf(source: String): SatSpec = source match {
    case "customer" => SatSpec("hsat_customer", "customer_hk", Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    case "orders" => SatSpec("hsat_order", "order_hk", Seq("o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    case "lineitem" => SatSpec("lsat_lineitem", "lineitem_hk",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
  }

  /** Vault metadata: hub_customer, hub_order, link_order_customer,
    * nhl_lineitem (a non-historized link) and a `sat_delta` satellite per
    * source. */
  val meta: MetaStore = {
    def t(src: String, f: String, tgt: String, tf: String, g: String, p: Int, tt: String) =
      Transition(src, f, tgt, tf, g, p, raw = false, None, tt)
    def sat(src: String, table: String, hkSrc: String, base: String, group: String) =
      satOf(src).payload.zipWithIndex.map { case (c, i) => t(src, c, table, c, group, i + 1, "f") } :+
        t(src, hkSrc, table, base, group, 0, "sat_delta")
    val transitions =
      Seq(t("customer", "c_custkey", "hub_customer", "c_custkey_bk", "customer", 1, "bk")) ++
        sat("customer", "hsat_customer", "customer_hk", "customer", "customer_details") ++
        Seq(
          t("orders", "o_custkey", "hub_customer", "c_custkey_bk", "customer", 1, "bk"),
          t("orders", "o_orderkey", "hub_order", "o_orderkey_bk", "order", 1, "bk"),
          t("orders", "customer", "link_order_customer", "customer_hk", "oc", 1, "ll"),
          t("orders", "order", "link_order_customer", "order_hk", "oc", 2, "ll")) ++
        sat("orders", "hsat_order", "order_hk", "order", "order_details") ++
        Seq(
          t("lineitem", "l_orderkey", "hub_order", "o_orderkey_bk", "order", 1, "bk"),
          t("lineitem", "order", "nhl_lineitem", "order_hk", "li", 1, "ll"),
          t("lineitem", "l_linenumber", "nhl_lineitem", "l_linenumber_dk", "li", 2, "dk"),
          t("lineitem", "l_partkey", "nhl_lineitem", "l_partkey_dk", "li", 3, "dk"),
          t("lineitem", "l_suppkey", "nhl_lineitem", "l_suppkey_dk", "li", 4, "dk")) ++
        sat("lineitem", "lsat_lineitem", "li_hk", "lineitem", "li_details")
    val stg = StgCols.toSeq.flatMap { case (src, cols) =>
      cols.zipWithIndex.map { case ((c, ty), i) => TableColumn(src, "stg", c, ty, i + 1, "c") }
    }
    def satCols(src: String, rel: String, base: String) =
      TableColumn(base, rel, base, "", 0, "hk") +: satOf(src).payload.zipWithIndex.map { case (c, i) =>
        TableColumn(base, rel, c, stgType(src, c), i + 1, "f")
      }
    val vault = Seq(
      TableColumn("customer", "hub", "c_custkey", "BIGINT", 1, "bk"),
      TableColumn("order", "hub", "o_orderkey", "BIGINT", 1, "bk"),
      TableColumn("order_customer", "link", "customer", "", 1, "ll"),
      TableColumn("order_customer", "link", "order", "", 2, "ll"),
      TableColumn("lineitem", "nhl", "order", "", 1, "ll"),
      TableColumn("lineitem", "nhl", "l_linenumber", "INT", 2, "dk"),
      TableColumn("lineitem", "nhl", "l_partkey", "BIGINT", 3, "dk"),
      TableColumn("lineitem", "nhl", "l_suppkey", "BIGINT", 4, "dk")) ++
      satCols("customer", "hsat", "customer") ++ satCols("orders", "hsat", "order") ++
      satCols("lineitem", "lsat", "lineitem")
    MetaStore(stg ++ vault, transitions)
  }

  private def parquetType(f: StructField): String = {
    val (prim, ann) = f.dataType match {
      case LongType => ("int64", "")
      case IntegerType => ("int32", "")
      case DoubleType => ("double", "")
      case StringType => ("binary", " (STRING)")
      case TimestampType => ("int64", " (TIMESTAMP(MICROS,true))")
      case other => throw new IllegalArgumentException(s"no parquet mapping for $other")
    }
    s"required $prim ${f.name}$ann;"
  }

  /** Write `rows` of `schema` as one snappy parquet file at `path`. */
  def write(spark: SparkSession, path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val msg = MessageTypeParser.parseMessageType(schema.fields.map(parquetType).mkString("message row {", " ", "}"))
    val groups = new SimpleGroupFactory(msg)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        f.dataType match {
          case LongType => g.add(f.name, r.getLong(i))
          case IntegerType => g.add(f.name, r.getInt(i))
          case DoubleType => g.add(f.name, r.getDouble(i))
          case StringType => g.add(f.name, r.getString(i))
          case TimestampType => g.add(f.name, r.getTimestamp(i).getTime * 1000L)
        }
      }
      w.write(g)
    } finally w.close()
  }
}
