package perfbench

import scala.collection.mutable.ArrayBuffer

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The generator's record of what was delivered, and the vault state that
  * delivery implies. Expected hash keys use Spark built-ins only —
  * `sha1(upper(concat_ws('||', coalesce(cast(f as string), ''))))`, with
  * floating fields canonicalised through decimal(38,4) — so a defect in
  * graft's own hashing or loaders cannot hide in the comparison. */
final class Model(gen: Gen, spark: SparkSession) {
  /** Per source: (delivery sequence number, (key, version) pairs). */
  private val delivered = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[(Int, Seq[(Long, Int)])]]

  def deliver(source: String, seq: Int, keys: Seq[(Long, Int)]): Unit =
    delivered.getOrElseUpdate(source, ArrayBuffer.empty) += ((seq, keys))

  def files(source: String): Int = delivered.get(source).map(_.size).getOrElse(0)

  private def rows(source: String): Seq[Row] =
    delivered.getOrElse(source, Nil).flatMap { case (_, keys) => keys.map { case (k, v) => gen.row(source, k, v) } }.toSeq

  /** Every version a `sat_delta` satellite keeps, in delivery order: a
    * key's delivered row when its payload differs from the key's previous
    * one (or the key is new), so re-delivered unchanged rows add nothing. */
  private def historyRows(source: String): Seq[Row] = {
    val payload = Gen.satOf(source).payload.map(c => Gen.schema(source).fieldIndex(c))
    val last = scala.collection.mutable.HashMap.empty[Long, Seq[Any]]
    val kept = ArrayBuffer.empty[Row]
    delivered.getOrElse(source, Nil).sortBy(_._1).foreach { case (_, keys) =>
      keys.foreach { case (k, v) =>
        val row = gen.row(source, k, v)
        val p = payload.map(row.get)
        if (!last.get(k).contains(p)) { kept += row; last(k) = p }
      }
    }
    kept.toSeq
  }

  /** The last delivered row per key. */
  private def lastRows(source: String): Seq[Row] = {
    val last = scala.collection.mutable.LinkedHashMap.empty[Long, Row]
    delivered.getOrElse(source, Nil).sortBy(_._1).foreach { case (_, keys) =>
      keys.foreach { case (k, v) => last(k) = gen.row(source, k, v) }
    }
    last.values.toSeq
  }

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def keyCols(source: String): Seq[String] = source match {
    case "customer" => Seq("c_custkey")
    case "orders" => Seq("o_orderkey")
    case "lineitem" => Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  def hash(df: DataFrame, cols: String*): Column = {
    val parts = cols.map { c =>
      val in = df.schema(c).dataType match {
        case DoubleType | FloatType => col(c).cast("decimal(38,4)").cast("string")
        case _ => col(c).cast("string")
      }
      coalesce(in, lit(""))
    }
    sha1(upper(concat_ws("||", parts: _*)).cast("binary"))
  }

  /** Expected hash keys of every hub and link, one row per key. */
  def expectedKeys: Map[String, (String, DataFrame)] = {
    val m = scala.collection.mutable.Map.empty[String, (String, DataFrame)]
    def keyed(table: String, hk: String, schema: StructType, tuples: Seq[Row]): Unit =
      if (tuples.nonEmpty) {
        val d = df(tuples.distinct, schema)
        m(table) = (hk, d.select(hash(d, schema.fieldNames.toSeq: _*).as(hk)))
      }
    val one = StructType(Seq(StructField("k", LongType)))
    val (cust, ord, line) = (rows("customer"), rows("orders"), rows("lineitem"))
    keyed("hub_customer", "customer_hk", one, cust.map(x => Row(x.getLong(0))) ++ ord.map(x => Row(x.getLong(1))))
    keyed("hub_order", "order_hk", one, ord.map(x => Row(x.getLong(0))) ++ line.map(x => Row(x.getLong(0))))
    keyed("link_order_customer", "order_customer_hk",
      StructType(Seq(StructField("o_custkey", LongType), StructField("o_orderkey", LongType))),
      ord.map(x => Row(x.getLong(1), x.getLong(0))))
    keyed("nhl_lineitem", "lineitem_hk",
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType))),
      line.map(x => Row(x.getLong(0), x.getInt(3), x.getLong(1), x.getLong(2))))
    m.toMap
  }

  /** Satellite rows (hk, del_flag, payload...) of the given source rows. */
  private def satRows(src: String, rows: Seq[Row]): DataFrame = {
    val spec = Gen.satOf(src)
    val d = df(rows, Gen.schema(src))
    d.select((hash(d, keyCols(src): _*).as(spec.hk) +: lit(false).as("del_flag") +: spec.payload.map(col)): _*)
  }

  /** Expected current view of each satellite: the last delivered
    * attributes of every key, none deleted. */
  def expectedSats: Map[String, DataFrame] =
    Gen.Sources.filter(files(_) > 0).map(src => Gen.satOf(src).table -> satRows(src, lastRows(src))).toMap

  /** Expected full history of each satellite, load_dts and run_id left
    * out: one row per kept version. */
  def expectedHistory: Map[String, DataFrame] =
    Gen.Sources.filter(files(_) > 0).map(src => Gen.satOf(src).table -> satRows(src, historyRows(src))).toMap

  /** Current view of a satellite computed with a window, not graft's
    * latest-row operators: the row with the greatest (load_dts, run_id). */
  def currentOf(sat: DataFrame, spec: Gen.SatSpec): DataFrame = {
    val w = Window.partitionBy(col(spec.hk)).orderBy(col("load_dts").desc, col("run_id").desc)
    sat.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select((col(spec.hk) +: col("del_flag") +: spec.payload.map(col)): _*)
  }

  /** Check a vault against the model: every hub and link holds exactly
    * the expected keys (a duplicated key shows as extra); every
    * satellite's current view equals the last delivered attributes; and
    * every satellite's full history equals the versions the model keeps,
    * so a satellite that appends unchanged rows fails. All as multisets
    * compared both ways (what `exceptAll` in each direction leaves), on
    * the driver. The vault sides are read concurrently; each comparison is
    * its own verdict. `read` gives a dv table. */
  def checkVault(r: Run, label: String, read: String => DataFrame): Unit = {
    val keys = expectedKeys.toSeq.sortBy(_._1).map { case (table, (hk, expected)) =>
      (s"$label.$table.keys_unique_and_complete", () => read(table).select(hk), expected)
    }
    val sats = expectedSats.toSeq.sortBy(_._1).map { case (table, expected) =>
      (s"$label.$table.current", () => currentOf(read(table), Gen.Sources.map(Gen.satOf).find(_.table == table).get),
        expected)
    }
    val history = expectedHistory.toSeq.sortBy(_._1).map { case (table, expected) =>
      val spec = Gen.Sources.map(Gen.satOf).find(_.table == table).get
      (s"$label.$table.history", () => read(table).select((col(spec.hk) +: col("del_flag") +: spec.payload.map(col)): _*),
        expected)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(r.cores)
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val verdicts = (keys ++ sats ++ history).map { case (name, got, expected) =>
        name -> scala.concurrent.Future(
          try Model.sameMultiset(got().collect().toSeq, expected.collect().toSeq)
          catch { case scala.util.control.NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") })
      }
      verdicts.foreach { case (name, f) =>
        r.check(name)(scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      }
    } finally pool.shutdown()
  }
}

object Model {
  /** Multiset equality: rows of `got` beyond their count in `expected`
    * (extra) and the reverse (missing), as `exceptAll` would return them. */
  def sameMultiset(got: Seq[Row], expected: Seq[Row]): (Boolean, String) = {
    def counts(rows: Seq[Row]) = rows.map(x => x.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val (g, e) = (counts(got), counts(expected))
    val extra = g.map { case (k, n) => math.max(0, n - e.getOrElse(k, 0)) }.sum
    val missing = e.map { case (k, n) => math.max(0, n - g.getOrElse(k, 0)) }.sum
    (extra == 0 && missing == 0, s"extra=$extra missing=$missing")
  }
}
