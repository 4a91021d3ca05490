package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cores K [--commit C]`, or `--self-test --work DIR --cores K`.
  *
  * Prints `perfbench ...` report lines and, last, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics traced. Exits non-zero when any
  * operation or correctness check fails. */
object Main {
  /** End-to-end metrics every workload reports on the last line. Wall
    * times (`round_p50_s`, `items_per_s` and the workload's own names) are
    * printed on report lines only: on a shared VM they follow the time the
    * hypervisor steals from the vCPUs (see METRICS.md). */
  val EndToEnd = Seq("setup_s" -> "s", "round_cpu_s" -> "s")
  /** Per-layer metrics every workload's traced run reports. */
  val PerLayer = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.driver_s" -> "s", "spark.plan_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "lake.fs_list_ops" -> "count", "lake.fs_read_ops" -> "count", "lake.fs_write_ops" -> "count",
    "lake.fs_bytes_read" -> "bytes", "lake.fs_bytes_written" -> "bytes",
    "lake.files_live" -> "count", "lake.bytes_live" -> "bytes")
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selfTest = args.contains("--self-test")
    val work = opts("work")
    val cores = opts("cores").toInt
    val trace = opts.get("trace").contains("1")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = graft.core.Sessions.localBuilder(cores.toString, cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (selfTest) SelfTest.run(spark, work)
        else run(spark, opts, work, cores, trace, (System.currentTimeMillis() - jvmStart) / 1000.0)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    // Every query has finished and the result is printed; the launcher
    // deletes the work directory, so skip the shutdown hooks' cleanup.
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def json(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def run(spark: SparkSession, opts: Map[String, String], work: String, cores: Int, trace: Boolean,
      sessionS: Double): Int = {
    val name = opts("workload")
    val r = new Run(spark, work, opts("seed").toLong, opts("seconds").toDouble, cores)
    val wl = Workloads(name, r)
    // Input generation is repeated and its median taken; the engine
    // warm-up (first operations in a fresh JVM) happens once.
    val reps = if (trace) 1 else SetupReps
    val genTimes = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      wl.setup(r, r.dir(s"input_$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.warm(r)
    val warmS = (System.nanoTime() - t0) / 1e9
    r.metric("setup_s", sessionS + Stats.median(genTimes) + warmS, "s")
    r.details("session_start_s") = sessionS.toString
    r.details("input_gen_s") = genTimes.mkString(",")
    r.details("warm_s") = warmS.toString
    val lakeFs = org.apache.hadoop.fs.FileSystem.get(new org.apache.hadoop.fs.Path(work).toUri,
      spark.sparkContext.hadoopConfiguration)
    val env = Seq(
      "workload" -> name, "seed" -> opts("seed"), "seconds" -> opts("seconds"), "trace" -> trace.toString,
      "master" -> spark.sparkContext.master, "k" -> cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "lake_fs" -> s"${lakeFs.getClass.getName} extends ${lakeFs.getClass.getSuperclass.getName} (${lakeFs.getUri}, no fsync)",
      "lake_path" -> (if (name == "corpus_dedup") "none (reads the generated corpus only)" else work),
      "checkpoint_path" -> (if (name == "vault_stream") s"$work/stream/ckpt" else "none"),
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    println("perfbench env " + env.map { case (k, v) => s""""$k": "${v.replace("\"", "'")}"""" }.mkString("{", ", ", "}"))

    val out =
      if (!trace) {
        wl.measure(r, None)
        r.latency("round", "round")
        r.metric("round_cpu_s", Stats.median(r.samples("round_cpu").toSeq), "s")
        r.metric("rss_peak_mb", Run.rssPeakMb(), "MB")
        EndToEnd.map { case (k, _) => k -> r.metrics(k) }
      } else traced(r, wl, spark)
    r.metric("fail_ratio", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    r.details.foreach { case (k, v) => println(s"perfbench detail $k $v") }
    r.metrics.foreach { case (k, (v, u)) => println(s"perfbench metric $k ${num(v)} $u") }
    val correct = r.failed == 0 && r.allPassed
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": ${json(out)}}""")
    if (correct) 0 else 1
  }

  private def traced(r: Run, wl: Workload, spark: SparkSession): Seq[(String, (Double, String))] = {
    val tracer = new Tracer(spark)
    tracer.attach()
    wl.measure(r, Some(tracer))
    val cs = tracer.calls.toList
    tracer.calls.clear()
    wl.phases(r, tracer)
    val phaseCalls = tracer.calls.toList
    tracer.detach()
    r.metric("rss_peak_mb", Run.rssPeakMb(), "MB")

    def sum(f: Call => Double) = cs.map(f).sum
    val jobS = sum(_.jobS)
    r.metric("spark.jobs", sum(_.jobs), "count")
    r.metric("spark.stages", sum(_.stages), "count")
    r.metric("spark.tasks", sum(_.tasks), "count")
    r.metric("spark.job_s", jobS, "s")
    r.metric("spark.driver_s", sum(_.driverS), "s")
    r.metric("spark.plan_s", sum(_.planS), "s")
    r.metric("spark.executor_cpu_s", sum(_.cpuS), "s")
    r.metric("spark.gc_s", sum(_.gcS), "s")
    r.metric("spark.busy_ratio", if (jobS > 0) sum(_.runS) / (jobS * r.cores) else 0.0, "ratio")
    r.metric("spark.shuffle_write_bytes", sum(_.shuffleW), "bytes")
    r.metric("spark.shuffle_read_bytes", sum(_.shuffleR), "bytes")
    r.metric("spark.spill_bytes", sum(_.spill), "bytes")
    r.metric("lake.fs_list_ops", sum(_.fsList), "count")
    r.metric("lake.fs_read_ops", sum(_.fsRead), "count")
    r.metric("lake.fs_write_ops", sum(_.fsWrite), "count")
    r.metric("lake.fs_bytes_read", sum(_.fsBytesR), "bytes")
    r.metric("lake.fs_bytes_written", sum(_.fsBytesW), "bytes")
    val (files, bytes) = r.du(wl.liveRoot, parquetOnly = true)
    r.metric("lake.files_live", files, "count")
    r.metric("lake.bytes_live", bytes, "bytes")
    // Tracing overhead: this run's measured wall time against the untraced
    // runs' wall_s, which cover the same rounds.
    r.details("trace.wall_s") = r.metrics("wall_s")._1.toString
    r.details("trace.unsettled_calls") = tracer.unsettled.toString

    // Layer-specific numbers, for the workloads that exercise the layer.
    def total(calls: Seq[Call], layer: String, name: String)(f: Call => Double): Option[Double] = {
      val xs = calls.filter(c => c.layer == layer && c.name == name)
      if (xs.isEmpty) None else Some(xs.map(f).sum)
    }
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Option[Double], u: String): Unit = v.foreach(x => layer(k) = (x, u))
    put("etl.flow_s", total(cs, "etl", "executeFlow")(_.wallS), "s")
    put("etl.ledger_s", total(phaseCalls, "etl", "ledger")(_.wallS), "s")
    put("etl.staging_s", total(phaseCalls, "etl", "staging")(_.wallS), "s")
    Seq("hashview", "hub", "link", "sat").foreach(n => put(s"dv.${n}_s", total(phaseCalls, "dv", n)(_.wallS), "s"))
    put("lake.read_s", total(cs, "lake", "read")(_.wallS), "s")
    put("lake.compact_s", total(cs, "lake", "compact")(_.wallS), "s")
    put("lake.compact_bytes_rewritten", total(cs, "lake", "compact")(_.fsBytesW.toDouble), "bytes")
    val progress = cs.filter(_.layer == "streaming").flatMap(_.progress)
    if (progress.nonEmpty) {
      def ms(k: String) = progress.map(_.getOrElse(k, 0L)).sum / 1000.0
      put("stream.add_batch_s", Some(ms("addBatch")), "s")
      put("stream.wal_commit_s", Some(ms("walCommit")), "s")
      put("stream.commit_offsets_s", Some(ms("commitOffsets")), "s")
      put("stream.latest_offset_s", Some(ms("latestOffset")), "s")
      put("stream.query_planning_s", Some(ms("queryPlanning")), "s")
      put("stream.checkpoint_s", Some(ms("triggerExecution") - ms("addBatch")), "s")
      put("stream.batches", Some(progress.size.toDouble), "count")
    }
    Seq("scrub", "filter", "exact", "minhash", "ngram_jaccard", "pack")
      .foreach(n => put(s"corpus.${n}_s", total(cs, "corpus", n)(_.wallS), "s"))
    Seq("etl.skip_ratio", "dv.hub_insert_ratio", "dv.sat_insert_ratio", "corpus.keep_ratio", "corpus.dup_recall")
      .foreach(k => r.metrics.get(k).foreach(layer(k) = _))
    println("perfbench layers " + json(layer))
    (cs ++ phaseCalls).groupBy(c => (c.layer, c.name)).toSeq.sortBy(_._1).foreach { case ((l, n), xs) =>
      println(f"perfbench call $l.$n n=${xs.size} wall_s=${xs.map(_.wallS).sum}%.3f job_s=${xs.map(_.jobS).sum}%.3f " +
        f"driver_s=${xs.map(_.driverS).sum}%.3f jobs=${xs.map(_.jobs).sum} stages=${xs.map(_.stages).sum} " +
        f"tasks=${xs.map(_.tasks).sum} plan_s=${xs.map(_.planS).sum}%.3f fs_list=${xs.map(_.fsList).sum} " +
        f"fs_read=${xs.map(_.fsRead).sum} fs_write=${xs.map(_.fsWrite).sum}")
    }
    PerLayer.map { case (k, _) => k -> r.metrics(k) }
  }
}
