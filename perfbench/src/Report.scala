package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Turns a finished [[Bench]] into the result line and the detail file. */
object Report {
  import Bench.{median, quantile}

  val checkedLayers = Seq("TickStore", "findb", "AsOf", "StreamingOps", "Dedup")
  val spanLayers = Seq("TickStore", "findb", "AsOf", "StreamingOps", "Dedup", "bench")

  /** The metrics a run reports, name and unit, as BENCHMARK.json lists
    * them: `end_to_end` for an untraced run, `per_layer` for a traced one.
    */
  def metricsOf(spec: String, traced: Boolean): Seq[(String, String)] =
    new ObjectMapper().readTree(new java.io.File(spec)).get(if (traced) "per_layer" else "end_to_end")
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  def layerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "FindbDistWriter" | "FindbDataSource" => "findb"
    case "KeyValue" => "AsOf"
    case "op" => "bench"
    case other => other
  }

  private def endToEndValues(b: Bench, setupS: Double): Map[String, Double] = {
    def med(n: String) = median(b.samples.getOrElse(n, Nil).toSeq)
    Map(
      "setup_s" -> setupS,
      "point_p50_ms" -> med("point_ms"),
      "point_p95_ms" -> quantile(b.samples.getOrElse("point_ms", Nil).toSeq, 0.95),
      "findb_point_p50_ms" -> med("findb_point_ms"),
      "freshness_p50_ms" -> med("freshness_ms")) ++
      Seq("bulk_wide_s", "bulk_narrow_s", "findb_bulk_s", "asof_join_rows_per_s", "ingest_rows_per_s",
        "stream_rows_per_s", "store_bytes_per_row").map(n => n -> med(n))
  }

  private def perLayerValues(b: Bench): Map[String, Double] = {
    val t = b.tracer
    // a call that ran only in an untraced block still has its timing
    def med(n: String) = median(b.samples.get(n).orElse(b.samples.get(s"untraced.$n")).getOrElse(Nil).toSeq)
    def both(n: String) = median(Seq(n, s"untraced.$n").flatMap(b.samples.getOrElse(_, Nil)))
    val flowOps = t.ops.filter(_.flow.startsWith(b.primary)).toSeq
    val sp = flowOps.map(o => t.opSpark.getOrElse(o.id, new t.OpSpark))
    def perOp(f: t.OpSpark => Double) = if (sp.isEmpty) 0.0 else sp.map(f).sum / sp.size
    val tickOps = flowOps.zip(sp).filter(o => o._2.tickFiles + o._2.tickRows > 0)
    val findbOps = flowOps.zip(sp).filter(_._2.findbPartitions > 0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def progress(label: String) = t.progress.getOrElse(label, Nil).toSeq.filter(_.numInputRows > 0)
    def dur(label: String, key: String) =
      median(progress(label).map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    val asof = progress("StreamingOps.streamStreamAsOf")
    val pairOps = t.ops.filter(_.flow == "dedup.pairs").map(o => t.opSpark.get(o.id).map(_.shuffleWrite).getOrElse(0L))
    val self = t.selfMs(layerOf)
    Map(
      "spark.plan_ms" -> perOp(_.planMs.toDouble), "spark.jobs" -> perOp(_.jobs.toDouble),
      "spark.stages" -> perOp(_.stages.toDouble), "spark.tasks" -> perOp(_.tasks.toDouble),
      "spark.scheduler_delay_ms" -> perOp(_.schedDelayMs.toDouble),
      "spark.task_max_ms" -> perOp(s => if (s.taskMs.isEmpty) 0.0 else s.taskMs.max.toDouble),
      "spark.task_median_ms" -> perOp(s => if (s.taskMs.isEmpty) 0.0 else median(s.taskMs.map(_.toDouble).toSeq)),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble), "spark.peak_exec_mem_bytes" -> perOp(_.peakMem.toDouble),
      "spark.gc_ms" -> perOp(_.gcMs.toDouble),
      "TickStore.scan.files_read" -> ratio(tickOps.map(_._2.tickFiles).sum, tickOps.size),
      "TickStore.scan.partitions_read" -> ratio(tickOps.map(_._2.tickPartitions).sum, tickOps.size),
      "TickStore.scan.bytes_read" -> ratio(tickOps.map(_._2.tickBytes).sum, tickOps.size),
      "TickStore.scan.rows_scanned_per_result" -> ratio(tickOps.map(_._2.tickRows).sum, tickOps.map(_._1.results).sum),
      "FindbDataSource.scan.partitions_planned" -> ratio(findbOps.map(_._2.findbPartitions).sum, findbOps.size),
      "FindbDataSource.scan.rows_decoded" -> ratio(findbOps.map(_._2.findbRows).sum, findbOps.size),
      "FindbDataSource.scan.rows_decoded_per_result" ->
        ratio(findbOps.map(_._2.findbRows).sum, findbOps.map(_._1.results).sum),
      "TickStore.streamingSink.batch_ms" -> dur("TickStore.streamingSink", "triggerExecution"),
      "TickStore.streamingSink.wal_ms" -> dur("TickStore.streamingSink", "walCommit"),
      "FindbDistWriter.streamingSink.batch_ms" -> dur("FindbDistWriter.streamingSink", "triggerExecution"),
      "StreamingOps.streamStreamAsOf.batch_ms" -> dur("StreamingOps.streamStreamAsOf", "triggerExecution"),
      "StreamingOps.streamStreamAsOf.state_rows" ->
        (if (asof.isEmpty) 0.0 else asof.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble),
      "StreamingOps.streamStreamAsOf.state_mem_bytes" ->
        (if (asof.isEmpty) 0.0 else asof.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble),
      "StreamingOps.streamStreamAsOf.state_commit_ms" ->
        median(asof.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "Dedup.minhashLshPairs.shuffle_bytes_per_candidate" ->
        ratio(pairOps.sum, b.samples.getOrElse("Dedup.minhashLshPairs.candidate_pairs", Nil).sum),
      "trace.point_p50_ms" -> med("point_ms"), "trace.untraced_point_p50_ms" -> med("untraced.point_ms"),
      "trace.point_overhead_frac" -> (med("point_ms") / med("untraced.point_ms") - 1),
      "trace.bulk_wide_s" -> med("bulk_wide_s"), "trace.untraced_bulk_wide_s" -> med("untraced.bulk_wide_s"),
      "trace.bulk_wide_overhead_frac" -> (med("bulk_wide_s") / med("untraced.bulk_wide_s") - 1),
      "AsOf.asOfBulkPruned.wide_vs_unpruned" -> both("bulk_wide_s") / both("unpruned_wide_s"),
      "AsOf.asOfBulkPruned.narrow_vs_unpruned" -> both("bulk_narrow_s") / both("unpruned_narrow_s")) ++
      Seq("compact_s", "stream_asof_rows_per_s", "dedup_docs_per_s", "TickStore.read.open_ms", "TickStore.write.ms", "TickStore.write.files", "TickStore.write.bytes",
        "TickStore.compactIfNeeded.ms", "TickStore.compactIfNeeded.files_before",
        "TickStore.compactIfNeeded.files_after", "TickStore.compactIfNeeded.bytes_rewritten",
        "FindbDistWriter.write.ms", "FindbDistWriter.write.pages", "FindbDistWriter.write.bytes",
        "FindbDistWriter.streamingSink.stores", "FindbDistWriter.compactSink.ms",
        "FindbDistWriter.compactSink.inputs", "AsOf.asOfRange.exec_ms", "KeyValue.pointLookup.exec_ms",
        "AsOf.asOfBulkPruned.envelope_ms", "AsOf.asOfBulkPruned.exec_ms", "AsOf.asOfJoin.exec_ms",
        "Dedup.minhashLshPairs.ms", "Dedup.minhashLshPairs.candidate_pairs",
        "Dedup.minhashLshPairs.candidate_precision", "Dedup.minhashLshPairs.candidate_recall",
        "Dedup.dedupSurvivors.ms", "Dedup.dedupSurvivors.truth_mismatches", "gen.ms", "host.steal_frac").map(n => n -> med(n)) ++
      checkedLayers.flatMap(l => Seq(s"$l.attempted" -> b.attempted(l).toDouble, s"$l.failed" -> b.failed(l).toDouble)) ++
      spanLayers.map(l => s"$l.self_ms" -> self.getOrElse(l, 0.0))
  }

  /** Prints the detail line and the result line; returns the exit code. */
  def emit(b: Bench, setupS: Double, rounds: Seq[Double], sessionS: Double, measuredS: Double,
           resultFile: String, opts: Map[String, String]): Int = {
    val mapper = new ObjectMapper()
    val traced = opts("trace") == "1"
    val names = metricsOf(opts("spec"), traced)
    val values = if (traced) perLayerValues(b) else endToEndValues(b, setupS)
    val missing = names.map(_._1).filter(n => !values.get(n).exists(v => !v.isNaN && !v.isInfinite))
    val metrics = new java.util.LinkedHashMap[String, Any]()
    names.foreach { case (n, unit) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("value", values.getOrElse(n, Double.NaN)); m.put("unit", unit)
      metrics.put(n, m)
    }
    val attempted = b.attempted.values.sum
    val failed = b.failed.values.sum
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failed == 0 && attempted > 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("metrics", metrics)

    val prov = new java.util.LinkedHashMap[String, Any]()
    prov.putAll(mapper.readValue(opts.getOrElse("provenance", "{}"), classOf[java.util.Map[String, Any]]))
    prov.put("workload", b.primary); prov.put("seed", opts("seed")); prov.put("trace", opts("trace"))
    prov.put("run_seconds", opts("seconds")); prov.put("measured_s", measuredS)
    prov.put("nproc", b.nproc); prov.put("heap_max_bytes", Runtime.getRuntime.maxMemory)
    prov.put("spark", org.apache.spark.SPARK_VERSION)
    prov.put("scala", scala.util.Properties.versionNumberString)
    prov.put("jdk", System.getProperty("java.version"))
    prov.put("sizes", Map("read_panel_rows" -> b.oracle.rows, "read_assets" -> Sizes.readAssets,
      "read_days" -> Sizes.readDays, "wide_queries" -> Sizes.wideQueries, "narrow_queries" -> Sizes.narrowQueries,
      "narrow_repeats" -> Sizes.narrowRepeats,
      "setup_builds" -> Sizes.setupBuilds,
      "points_per_round" -> b.pointsPerRound, "batches_per_round" -> b.batchesPerRound,
      "batch_rows" -> b.batchRows,
      "rounds" -> Sizes.rounds(opts("seconds").toInt), "warm_point_reads" -> Sizes.warmPoints,
      "tick_point_reads" -> b.samples.get("point_ms").map(_.size).getOrElse(0),
      "findb_point_reads" -> b.samples.get("findb_point_ms").map(_.size).getOrElse(0),
      "join_trades" -> Sizes.joinTrades, "ingest_assets" -> Sizes.ingestAssets, "ingest_days" -> Sizes.ingestDays,
      "stream_trades_per_batch" -> Sizes.streamTrades, "stream_refs_per_batch" -> Sizes.asofRows,
      "corpus_docs" -> Option(b.docs).map(_.length).getOrElse(0)).asJava)
    val detail = new java.util.LinkedHashMap[String, Any]()
    detail.put("provenance", prov)
    detail.put("result", result)
    detail.put("setup_rounds_s", rounds.asJava); detail.put("session_s", sessionS)
    detail.put("attempted_by_layer", b.attempted.toMap.asJava); detail.put("failed_by_layer", b.failed.toMap.asJava)
    detail.put("failures", b.failures.asJava)
    detail.put("samples", b.samples.map { case (k, v) => k -> v.asJava }.toMap.asJava)
    if (b.tracer.spans.nonEmpty) detail.put("spans", b.tracer.spansJson)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(resultFile), detail)

    b.failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: no value for ${missing.mkString(", ")}")
      return 4
    }
    println("provenance " + mapper.writeValueAsString(prov))
    println(mapper.writeValueAsString(result))
    0
  }
}
