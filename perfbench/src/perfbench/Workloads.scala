package perfbench

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Graft, SparkEntry}
import graft.core.Lake
import graft.dv.{HashGen, HashView}
import graft.etl.Staging
import graft.streaming.StreamingDv

/** A benchmark workload: seeded inputs, one closed-loop client (each
  * operation starts when the previous one ends), and correctness checks
  * against the generator's model. A run does a fixed amount of work that
  * depends on `--seconds` alone, never on how fast the rounds go, so two
  * builds compared on one seed do the same work; the traced run does the
  * same work as the untraced one with every public call traced. */
trait Workload {
  /** Generate the inputs under `root`. */
  def setup(r: Run, root: String): Unit
  /** Warm the engine once, on the inputs of the last setup. */
  def warm(r: Run): Unit
  /** The measured rounds; `t` traces every public call. */
  def measure(r: Run, t: Option[Tracer]): Unit
  /** Per-layer numbers that need calls `measure` does not make. */
  def phases(r: Run, t: Tracer): Unit = ()
  /** The directory whose parquet files are the measured data. */
  def liveRoot: String
}

object Workloads {
  def apply(name: String, r: Run): Workload = name match {
    case "vault_trickle" => new Trickle(r)
    case "vault_stream" => new Stream(r)
    case "corpus_dedup" => new Corpus(r)
  }

  def timed[A](t: Option[Tracer], layer: String, name: String, batches: Int = 0)(body: => A): A =
    t match {
      case Some(tr) => tr.call(layer, name, batches)(body)
      case None => body
    }

  /** Rounds for a run of `seconds`, given the nominal seconds of one
    * round: a count fixed by the arguments alone, at least one. */
  def rounds(seconds: Double, nominal: Double): Int = math.max(1, math.round(seconds / nominal).toInt)

  /** Run `n` rounds; each round's wall time is a `round` sample and the
    * driver JVM's CPU time over it (every Spark thread: local mode runs
    * the executors in the driver) a `round_cpu` sample. */
  def loop(r: Run, n: Int)(round: Int => Unit): Unit =
    (0 until n).foreach { i =>
      val (t0, c0) = (System.nanoTime(), Run.cpuNanos())
      round(i)
      r.sample("round", (System.nanoTime() - t0) / 1e9)
      r.sample("round_cpu", (Run.cpuNanos() - c0) / 1e9)
    }
}

/** Increment files shared by the trickle and stream workloads. Each source
  * delivers files 0, 1, ... in order; file `i` holds `NewKeys` fresh keys
  * and, from file 1 on, `Changed` keys of file `i - 1` with new attributes
  * and `Same` keys of file `i - 1` unchanged. The warm-up delivers
  * customer file 0; each round then delivers the next file of every source
  * (so customer files carry changed and unchanged keys from round 0 on)
  * and re-delivers the round's customer file, which must change nothing. */
abstract class Increments(r: Run) extends Workload {
  val NewKeys = 2000
  val Changed = 200
  val Same = 200
  /** About one round of four deliveries fits in this many seconds. */
  val NominalRound = 15.0
  val gen = new Gen(r.seed)
  val nRounds: Int = Workloads.rounds(r.seconds, NominalRound)
  /** (source, file) -> (path, rows, bytes) */
  val files = scala.collection.mutable.Map.empty[(String, Int), (String, Long, Long)]
  val model = new Model(gen, r.spark)
  var rowsIn, bytesIn = 0L

  def keys(file: Int): Seq[(Long, Int)] = gen.incrementKeys(file, NewKeys, Changed, Same)

  /** The warm-up deliveries: (source, file, delivery sequence number). */
  val warmups: Seq[(String, Int, Int)] = Seq(("customer", 0, 0))

  /** The file of `source` delivered in round `i`. */
  def fileOf(source: String, i: Int): Int = i + warmups.count(_._1 == source)

  def setup(r: Run, root: String): Unit =
    for (src <- Gen.Sources; i <- 0 to fileOf(src, nRounds - 1)) {
      val path = f"$root/$src/${src}_$i%04d.parquet"
      val rows = keys(i).map { case (k, v) => gen.row(src, k, v) }
      Gen.write(r.spark, path, Gen.schema(src), rows)
      files((src, i)) = (path, rows.size.toLong, r.fileSize(path))
    }

  /** Round `i`: (source, file, delivery sequence number, re-delivery). */
  def deliveries(i: Int): Seq[(String, Int, Int, Boolean)] =
    (Gen.Sources.map(s => (s, fileOf(s, i), false)) :+ (("customer", fileOf("customer", i), true))).zipWithIndex.map {
      case ((s, f, again), j) => (s, f, warmups.size + i * 4 + j, again)
    }
}

/** `vault_trickle`: small increments into one growing vault through
  * `Graft.executeFlow`, a light read after every flow (the touched
  * satellite's current view and one hub point lookup), and at the end of
  * every round the compaction of every satellite. */
final class Trickle(r: Run) extends Increments(r) {
  private var g: Graft = _

  def vault(root: String): Graft = {
    val v = new Graft(r.spark, root, Gen.meta)
    v.initVault()
    v
  }

  def liveRoot: String = r.dir("lake")

  /** Load the warm-up files into `v`, recording them in `m`. */
  def preload(v: Graft, m: Model): Unit =
    warmups.foreach { case (src, f, seq) =>
      v.executeFlow(src, "perfbench", Some(files((src, f))._1), Some(Run.loadDts(seq)))
      m.deliver(src, seq, keys(f))
    }

  /** Create the measured vault and load the warm-up files into it. */
  def warm(r: Run): Unit = {
    val t0 = System.nanoTime()
    g = vault(liveRoot)
    r.details("warm_init_vault_s") = ((System.nanoTime() - t0) / 1e9).toString
    preload(g, model)
  }

  /** A hub key the file delivered: the hub, its hash-key column and value. */
  def probe(src: String, file: Int): (String, String, String) = {
    val first = file.toLong * NewKeys + 1
    src match {
      case "customer" => ("hub_customer", "customer_hk", Run.hk(first))
      case "orders" => ("hub_order", "order_hk", Run.hk(first))
      case "lineitem" => ("hub_order", "order_hk", Run.hk((first - 1) / 4 + 1))
    }
  }

  def measure(r: Run, t: Option[Tracer]): Unit = {
    var loadS = 0.0
    var skipped = 0
    val t0 = System.nanoTime()
    Workloads.loop(r, nRounds) { i =>
      deliveries(i).foreach { case (src, f, seq, again) =>
        val (path, rows, bytes) = files((src, f))
        val t1 = System.nanoTime()
        val res = r.op("flow")(Workloads.timed(t, "etl", "executeFlow")(
          g.executeFlow(src, "perfbench", Some(path), Some(Run.loadDts(seq)))))(
          x => if (again) x.skipped else x.status == "success")
        if (res.exists(_.skipped)) skipped += 1
        if (res.exists(_.status == "success")) {
          model.deliver(src, seq, keys(f))
          rowsIn += rows; bytesIn += bytes; loadS += (System.nanoTime() - t1) / 1e9
        }
        val (hub, hkCol, hk) = probe(src, f)
        r.op("read")(Workloads.timed(t, "lake", "read") {
          g.sql(s"SELECT * FROM bv.${Gen.satOf(src).table}_cv").write.format("noop").mode("overwrite").save()
          g.lake.lookupBucketed("dv", hub, hkCol, hk).collect().length
        })(_ == 1)
      }
      Gen.Sources.foreach { src =>
        r.op("compact")(Workloads.timed(t, "lake", "compact")(g.compact("dv", Gen.satOf(src).table)))(_ => true)
      }
    }
    r.metric("wall_s", (System.nanoTime() - t0) / 1e9, "s")
    r.latency("flow", "flow")
    r.latency("read", "read")
    r.metric("load_rows_per_s", rowsIn / loadS, "rows/s")
    r.metric("space_amp", r.du(liveRoot)._2.toDouble / bytesIn, "ratio")
    r.metric("items_per_s", rowsIn / loadS, "1/s")
    r.metric("etl.skip_ratio", skipped.toDouble / r.samples("flow").size, "ratio")
    r.details("rounds") = nRounds.toString

    model.checkVault(r, "vault", tb => g.table("dv", tb))
    r.check("ledger.one_success_per_file") {
      val ok = g.runinfo.filter(col("status") === "success").groupBy("source_table", "source_file").count()
      val counts = ok.select(col("count")).collect().map(_.getLong(0))
      val expected = Gen.Sources.map(model.files).sum
      (counts.length == expected && counts.forall(_ == 1), s"files=${counts.length} expected=$expected")
    }
    r.check("ledger.redeliveries_skipped")((skipped == nRounds, s"redeliveries=$nRounds skipped=$skipped"))
  }

  /** Round 0's new files again, on a fresh vault that holds the warm-up
    * files, through the public per-phase calls `executeFlow` is made of:
    * ledger check and run id, staging, hash view, hub, link and satellite
    * loads. This path allocates no run id and writes no ledger row. */
  override def phases(r: Run, t: Tracer): Unit = {
    val v = vault(r.dir("phases"))
    val m = new Model(gen, r.spark)
    preload(v, m)
    var hubRows, hubStaged, satRows, satStaged = 0L
    deliveries(0).filterNot(_._4).foreach { case (src, f, seq, _) =>
      val (path, rows, _) = files((src, f))
      val dts = Some(Run.loadDts(seq))
      val runId = t.call("etl", "ledger") { v.flow.alreadyIngested(src, path); v.nextRunId() }
      t.call("etl", "staging")(v.lake.overwrite(Staging.loadFile(r.spark, v.meta, src, path), "stg", src))
      t.call("dv", "hashview") {
        HashView.build(v.flow.stagingDf(src), v.meta.getTransitions(src), HashGen.Sha1)
          .write.format("noop").mode("overwrite").save()
      }
      val hubs = t.call("dv", "hub")(v.loadRelatedHubs(src, runId, "perfbench", dts))
      t.call("dv", "link")(v.loadRelatedLinks(src, runId, "perfbench", dts))
      val sats = t.call("dv", "sat")(v.loadRelatedSats(src, runId, "perfbench", dts))
      hubRows += hubs.values.sum; hubStaged += rows * hubs.size
      satRows += sats.values.sum; satStaged += rows * sats.size
      m.deliver(src, seq, keys(f))
    }
    r.metric("dv.hub_insert_ratio", hubRows.toDouble / hubStaged, "ratio")
    r.metric("dv.sat_insert_ratio", satRows.toDouble / satStaged, "ratio")
    m.checkVault(r, "phases", tb => v.table("dv", tb))
  }
}

/** `vault_stream`: the trickle increments land one file at a time in
  * per-source directories read by `StreamingDv` hub, link and satellite
  * sinks with durable checkpoints; after each file every sink of that
  * source drains it as one micro-batch (AvailableNow) before the next file
  * lands. Re-delivered files arrive under a new name and must change
  * nothing. */
final class Stream(r: Run) extends Increments(r) {
  private lazy val lake = new Lake(r.spark, liveRoot)

  def liveRoot: String = r.dir("stream/lake")

  /** The sinks of one source: (query name, start). */
  def sinks(src: String, staged: DataFrame, dts: java.sql.Timestamp): Seq[(String, () => StreamingQuery)] = {
    val ckpt = r.dir("stream/ckpt")
    val tr = Gen.meta.getTransitions(src)
    val spec = Gen.satOf(src)
    val satT = tr.find(x => x.targetTable == spec.table && x.transferType == "sat_delta").get
    def hub(table: String, group: String, bk: (String, String)) = s"${src}_$table" -> (() =>
      StreamingDv.hubSink(lake, staged, tr, table, group, Seq(bk), "perfbench", s"$ckpt/${src}_$table", loadDts = Some(dts)))
    def link(table: String, group: String, legs: Seq[(String, String)], hk: String) = s"${src}_$table" -> (() =>
      StreamingDv.linkSink(lake, staged, tr, table, group, legs, hk, "perfbench", s"$ckpt/${src}_$table", loadDts = Some(dts)))
    val sat = s"${src}_${spec.table}" -> (() =>
      StreamingDv.satSink(lake, staged, tr, spec.table, satT.sourceField, s"${satT.groupName}_hashdiff",
        spec.payload.map(p => p -> p), spec.hk, "perfbench", s"$ckpt/${src}_${spec.table}", loadDts = Some(dts)))
    src match {
      case "customer" => Seq(hub("hub_customer", "customer", "c_custkey" -> "c_custkey_bk"), sat)
      case "orders" => Seq(
        hub("hub_customer", "customer", "o_custkey" -> "c_custkey_bk"),
        hub("hub_order", "order", "o_orderkey" -> "o_orderkey_bk"),
        link("link_order_customer", "oc", Seq("customer_hk" -> "customer_hk", "order_hk" -> "order_hk"),
          "order_customer_hk"),
        sat)
      case "lineitem" => Seq(
        hub("hub_order", "order", "l_orderkey" -> "o_orderkey_bk"),
        link("nhl_lineitem", "li", Seq("order_hk" -> "order_hk", "l_linenumber" -> "l_linenumber_dk",
          "l_partkey" -> "l_partkey_dk", "l_suppkey" -> "l_suppkey_dk"), "lineitem_hk"),
        sat)
    }
  }

  /** Land a file in its source directory and drain every sink of that
    * source; each sink's micro-batch is one operation. */
  def deliver(src: String, file: Int, name: String, seq: Int, t: Option[Tracer], measured: Boolean = true): Unit = {
    val fs = r.fs
    val dir = new Path(r.dir(s"stream/src/$src"))
    fs.mkdirs(dir)
    FileUtil.copy(fs, new Path(files((src, file))._1), fs, new Path(dir, name), false,
      r.spark.sparkContext.hadoopConfiguration)
    val staged = r.spark.readStream.schema(Gen.schema(src)).option("maxFilesPerTrigger", "1").parquet(dir.toString)
    sinks(src, staged, Run.loadDts(seq)).foreach { case (q, start) =>
      def batch(): Int = Workloads.timed(t, "streaming", q, batches = 1) {
        val query = start()
        query.awaitTermination()
        query.recentProgress.count(_.numInputRows > 0)
      }
      if (measured) r.op("batch")(batch())(_ == 1) else batch()
    }
  }

  /** Deliver the warm-up files before round 0. */
  def warm(r: Run): Unit =
    warmups.foreach { case (src, f, seq) =>
      deliver(src, f, f"${src}_$f%04d.parquet", seq, None, measured = false)
      model.deliver(src, seq, keys(f))
    }

  def measure(r: Run, t: Option[Tracer]): Unit = {
    val t0 = System.nanoTime()
    Workloads.loop(r, nRounds) { i =>
      deliveries(i).foreach { case (src, f, seq, again) =>
        deliver(src, f, f"${src}_$f%04d${if (again) "_again" else ""}.parquet", seq, t)
        if (!again) model.deliver(src, seq, keys(f))
        rowsIn += files((src, f))._2; bytesIn += files((src, f))._3
      }
    }
    val batches = r.samples("batch").toSeq
    r.metric("wall_s", (System.nanoTime() - t0) / 1e9, "s")
    r.latency("batch", "batch")
    r.metric("load_rows_per_s", rowsIn / batches.sum, "rows/s")
    r.metric("space_amp", r.du(liveRoot)._2.toDouble / bytesIn, "ratio")
    r.metric("items_per_s", rowsIn / batches.sum, "1/s")
    r.details("rounds") = nRounds.toString
    model.checkVault(r, "vault", tb => lake.read("dv", tb))
  }
}

/** `corpus_dedup`: a curation pass over a generated corpus with planted
  * exact and near duplicates — scrub, filter, exact, minhash and n-gram
  * Jaccard dedup, then packing — through `SparkEntry.queries`. The corpus
  * is shaped after sf0.1 `documents` at 40% of its 5000 documents, with
  * 5% near copies as in sf0.1 and 5% planted exact copies. */
final class Corpus(r: Run) extends Workload {
  val Docs = 2000
  val Exact = 100
  val Near = 100
  /** About two passes fit in this many seconds. */
  val NominalPass = 5.0
  val steps = Seq("text_scrub" -> "scrub", "corpus_filter" -> "filter", "dedup_exact" -> "exact",
    "dedup_minhash" -> "minhash", "dedup_ngram_jaccard" -> "ngram_jaccard", "corpus_pack" -> "pack")
  val gen = new Gen(r.seed)
  val nPasses: Int = Workloads.rounds(r.seconds, NominalPass)
  /** The warm-up pass runs on a corpus of this many base documents. */
  val WarmDocs = 400
  var dir, warmDir: String = _
  var planted: Seq[(Long, Long, String)] = _

  def liveRoot: String = dir
  def nDocs: Long = Docs.toLong + Exact + Near

  def setup(r: Run, root: String): Unit = {
    dir = s"$root/corpus"
    warmDir = s"$root/corpus_warm"
    val (docs, p) = gen.corpus(Docs, Exact, Near)
    Gen.write(r.spark, s"$dir/documents.parquet", Gen.CorpusSchema, docs)
    planted = p
    Gen.write(r.spark, s"$warmDir/documents.parquet", Gen.CorpusSchema,
      gen.corpus(WarmDocs, WarmDocs / 20, WarmDocs / 20)._1)
  }

  /** One pass over the corpus in `in`; each step's rows. */
  def pass(t: Option[Tracer], in: String = dir): Map[String, Array[Row]] =
    steps.map { case (q, short) =>
      q -> Workloads.timed(t, "corpus", short)(SparkEntry.queries(q)(r.spark, in).collect())
    }.toMap

  def warm(r: Run): Unit = { pass(None, warmDir); () }

  def measure(r: Run, t: Option[Tracer]): Unit = {
    var last: Map[String, Array[Row]] = Map.empty
    val t0 = System.nanoTime()
    Workloads.loop(r, nPasses) { _ =>
      r.op("pass")(pass(t))(_.values.forall(_.nonEmpty)).foreach(last = _)
    }
    val passS = r.samples("pass").sum
    r.metric("wall_s", (System.nanoTime() - t0) / 1e9, "s")
    r.latency("pass", "pass")
    r.metric("docs_per_s", nPasses * nDocs / passS, "docs/s")
    r.metric("items_per_s", nPasses * nDocs / passS, "1/s")
    r.details("passes") = nPasses.toString
    checks(r, last)
  }

  /** Exact-duplicate groups recomputed without graft — md5 of the
    * lower-cased, punctuation-stripped, whitespace-collapsed text over the
    * corpus the dedup queries stage (the documents plus their
    * doc_id % 7 == 0 re-ingest) — and every planted duplicate found. */
  def checks(r: Run, out: Map[String, Array[Row]]): Unit = {
    val docs = r.spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val staged = docs.union(docs.filter(col("doc_id") % 7 === 0).select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val expected = staged.select(col("doc_id"), md5(norm).as("fingerprint"))
      .groupBy("fingerprint").agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
    r.check("corpus.dedup_exact_groups") {
      Model.sameMultiset(out("dedup_exact").toSeq, expected.collect().toSeq)
    }
    val pairs = (q: String) =>
      out(q).map(x => (math.min(x.getLong(0), x.getLong(1)), math.max(x.getLong(0), x.getLong(1)))).toSet
    val near = planted.filter(_._3 == "near").map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    val groups = out("dedup_exact").map(_.getString(0)).toSet
    val exactCopies = planted.filter(_._3 == "exact").map(_._2)
    val exactFound = docs.filter(col("doc_id").isin(exactCopies: _*)).select(md5(norm)).collect()
      .count(x => groups(x.getString(0)))
    val nearFound = near.count(pairs("dedup_ngram_jaccard"))
    r.metric("corpus.dup_recall", (exactFound + nearFound).toDouble / planted.size, "ratio")
    r.metric("corpus.minhash_recall", near.count(pairs("dedup_minhash")).toDouble / near.size, "ratio")
    r.metric("corpus.keep_ratio", out("corpus_filter").length.toDouble / nDocs, "ratio")
    r.check("corpus.planted_duplicates_found") {
      (exactFound == exactCopies.size && nearFound == near.size,
        s"exact $exactFound/${exactCopies.size} near $nearFound/${near.size}")
    }
  }
}
