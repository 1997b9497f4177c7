package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.tools.ScaleCorpus

/** The gate workload: the streaming sink/eviction gates and the
  * LLM-curation gates, called through `SparkEntry.queries` on a seeded
  * corpus derived from `ScaleCorpus`.
  */
object Gates {

  /** Corpus scale factor. The gates are mostly bound by per-job fixed
    * costs at this size; it is the largest that keeps a run (one cold
    * pass and the warm passes) inside the benchmark's time budget on four
    * cores.
    */
  val CorpusSf = 0.01

  val streamGates: Seq[String] = Seq(
    // the sink bundle: the first member runs all four queries
    "stream_interval_join_sink", "stream_similarity_topk_sink",
    "stream_dedup_sink", "stream_quality_route_sink",
    "stream_session_eviction", "stream_late_eviction", "stream_eviction_append")

  val bundleHead = "stream_interval_join_sink"

  /** Warm passes per unit. Each gate's warm latency is the mean of its
    * warm calls: with one call per gate, the median and the tail across
    * gates moved by 15-25% between runs.
    */
  val WarmPasses = 2

  /** Ordered so that each shared artifact is built by its first reader
    * in the cold pass and only read afterwards.
    */
  val curationGates: Seq[(String, String)] = Seq(
    "dedup_exact" -> "Dedup",
    "dedup_minhash_lsh" -> "Dedup",
    "dedup_span_coverage" -> "Dedup",
    "dedup_span_scrub" -> "Dedup",
    "text_quality" -> "TextAnalysis",
    "lm_doc_score" -> "TextAnalysis",
    "lm_doc_novelty" -> "TextAnalysis",
    "bm25_era_drift" -> "TextAnalysis",
    "dedup_semantic_keep" -> "Similarity",
    "decontamination_semantic_ivf" -> "Sampling",
    "hybrid_rrf_ivfpq" -> "Similarity",
    "multimodal_phash_dedup" -> "Multimodal",
    "sample_hash_splits" -> "Sampling",
    "curation_pipeline" -> "Curation")

  val modules: Seq[String] = curationGates.map(_._2).distinct

  /** Run every public memo reset the engine offers, then prove from
    * outside that nothing survived it.
    */
  def resetCold(spark: SparkSession): Option[String] = {
    graft.sources.Tables.invalidate()
    graft.streaming.StreamGate.invalidate()
    graft.operators.Dedup.invalidate()
    graft.operators.IvfIndex.invalidate()
    graft.operators.PqIndex.invalidate()
    graft.operators.Similarity.invalidate()
    graft.operators.Sampling.invalidate()
    graft.operators.RelationalQueries.invalidate()
    graft.operators.TextAnalysis.invalidate()
    graft.operators.Multimodal.invalidate()
    val left = cachedArtifacts(spark)
    val active = spark.streams.active
    if (left.nonEmpty) Some(s"artifacts still cached after reset: ${left.toSeq.sorted.mkString(",")}")
    else if (active.nonEmpty) Some(s"streaming queries still active after reset: ${active.map(_.name).mkString(",")}")
    else None
  }

  /** Cached `graft_*` temp views: the engine's named artifacts. */
  def cachedArtifacts(spark: SparkSession): Set[String] =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_"))
      .map(_.name).filter(n => spark.catalog.isCached(n)).toSet

  /** The seeded corpus: `ScaleCorpus` tables over a larger id range,
    * thinned to a seed-chosen four fifths and relabelled to dense ids.
    * The engine only sees the written parquet.
    */
  def writeCorpus(spark: SparkSession, seed: Long, dir: String): Unit = {
    def rows(base: Long) = math.max(1L, math.round(base * CorpusSf))
    def seeded(df: DataFrame, idCol: String): DataFrame =
      df.filter(pmod(xxhash64(col(idCol), lit(seed)), lit(5L)) =!= 0)
        .withColumn(idCol, (row_number().over(Window.orderBy(idCol)) - 1).cast("long"))
    val over = 1.25
    val tables = Seq(
      "events" -> seeded(ScaleCorpus.events(spark, math.round(rows(1000000) * over), rows(15000)), "event_id"),
      "documents" -> seeded(ScaleCorpus.documents(spark, math.round(rows(50000) * over)), "doc_id"),
      "embeddings" -> seeded(ScaleCorpus.embeddings(spark, math.round(rows(20000) * over)), "vec_id"))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** Corpus generation, repeated three times for a median; the first
    * also warms the session's scan, shuffle and write paths.
    */
  private def setUp(spark: SparkSession, a: Main.Args, sessionS: Double,
      trace: Option[Trace], out: Main.Outcome): String = {
    val dir = a.work.resolve("corpus").toString
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      writeCorpus(spark, a.seed, dir)
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s") = sessionS + Main.median(gens)
    trace.foreach(_ => out.layers("generator.s") = Main.median(gens))
    out.corpusDir = Some(dir)
    dir
  }

  /** Time one gate call, result written to parquet, as its own span. */
  private def call(spark: SparkSession, gate: String, dir: String, path: Path, pass: String,
      trace: Option[Trace]): Either[String, Double] = {
    def run(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(gate)(spark, dir).write.mode("overwrite").parquet(path.toString)
      (System.nanoTime() - t0) / 1e9
    }
    def traced(t: Trace): Double = t.span(gate, "gate", Map("pass" -> pass)) {
      // tags every Spark job the call starts, streaming queries' included
      spark.sparkContext.setJobGroup(gate, s"$pass $gate")
      try run() finally spark.sparkContext.clearJobGroup()
    }
    try Right(trace.fold(run())(traced))
    catch { case e: Throwable => Left(s"$gate threw: $e") }
  }

  /** One unit: a full reset, the stream gates and the curation gates
    * cold, then the curation gates [[WarmPasses]] times warm.
    */
  def run(spark: SparkSession, a: Main.Args, sessionS: Double,
      trace: Option[Trace], out: Main.Outcome): Unit = {
    val dir = setUp(spark, a, sessionS, trace, out)
    (streamGates ++ curationGates.map(_._1)).foreach(g => out.oracleSql(g) = SparkEntry.oracleSql(g))
    val curation = curationGates.map(_._1)
    val coldPasses, curationCold, curationWarm, artifactBytes = mutable.ArrayBuffer.empty[Double]
    val streamCalls, coldCalls, warmCalls = mutable.ArrayBuffer.empty[(String, Double)]
    var built = 0

    /** The pass's total seconds, or None if a call failed. Warm pass `j`
      * of unit `i` writes beside the others; each is checked against the
      * unit's cold output.
      */
    def pass(i: Int, kind: String, gates: Seq[String], j: Int = 0): Option[Double] = {
      out.attempted += gates.size
      val times = gates.flatMap { g =>
        val before = if (trace.isDefined) cachedArtifacts(spark) else Set.empty[String]
        val path = a.work.resolve(s"out/$g/$kind$i-$j")
        val r = call(spark, g, dir, path, kind, trace) match {
          case Right(s) =>
            kind match {
              case "stream" => streamCalls += ((g, s))
              case "cold" => coldCalls += ((g, s))
              case _ => warmCalls += ((g, s * 1000.0))
            }
            out.gateOutputs += Main.GateOutput(g, path.toString, s"$kind$i")
            Some(s)
          case Left(why) => out.fail(1, why); None
        }
        // a cached graft_* view that is new after a call is an artifact that call built
        if (trace.isDefined) built += (cachedArtifacts(spark) -- before).size
        r
      }
      if (trace.isDefined && kind == "cold")
        artifactBytes += spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble
      if (times.size == gates.size) Some(times.sum) else None
    }

    def unit(i: Int): Unit = resetCold(spark) match {
      case Some(why) =>
        val n = streamGates.size + (1 + WarmPasses) * curation.size
        out.attempted += n
        out.fail(n, s"unit $i: $why")
      case None =>
        val s = pass(i, "stream", streamGates)
        val c = pass(i, "cold", curation)
        c.foreach(curationCold += _)
        for (x <- s; y <- c) coldPasses += x + y
        (0 until WarmPasses).foreach(j => pass(i, "warm", curation, j).foreach(curationWarm += _))
    }
    // units until `seconds` have elapsed, at least one
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      trace.fold(unit(i))(_.unit(s"unit $i")(unit(i)))
      i += 1
    }
    if (coldPasses.nonEmpty && warmCalls.nonEmpty) {
      out.e2e("work_s") = Main.median(coldPasses.toSeq)
      // one sample per gate: the mean of its warm calls
      val perGate = warmCalls.groupBy(_._1).values.map(cs => cs.map(_._2).sum / cs.size).toSeq
      out.e2e("latency_p50_ms") = Main.quantile(perGate, 0.5)
      out.e2e("latency_p95_ms") = Main.quantile(perGate, 0.95)
    }
    trace.foreach { t =>
      out.layers ++= t.layerMetrics()
      streamGates.foreach { g =>
        val xs = streamCalls.filter(_._1 == g).map(_._2).toSeq
        if (xs.nonEmpty) out.layers(s"stream_gates.$g.s") = Main.median(xs)
      }
      // the bundle's first member runs all four of its queries
      out.layers.get(s"stream_gates.$bundleHead.s").foreach(out.layers("stream_gates.bundle.s") = _)
      val n = math.max(1, curationCold.size).toDouble
      val coldSpans = t.spansOf("gate").filter(_.tags.get("pass").contains("cold"))
      modules.foreach { m =>
        val gs = curationGates.filter(_._2 == m).map(_._1).toSet
        out.layers(s"operators.$m.s") = coldCalls.filter(c => gs(c._1)).map(_._2).sum / n
        out.layers(s"operators.$m.executor_cpu_ms") =
          coldSpans.filter(s => gs(s.name)).map(s => t.cpuMsBetween(s.start, s.end)).sum / n
      }
      out.layers("util.artifacts_built") = built / n
      if (artifactBytes.nonEmpty) out.layers("util.artifact_bytes") = Main.median(artifactBytes.toSeq)
      if (curationCold.nonEmpty) out.layers("util.cold_pass_s") = Main.median(curationCold.toSeq)
      if (curationWarm.nonEmpty) out.layers("util.warm_pass_s") = Main.median(curationWarm.toSeq)
      out.e2e.get("work_s").foreach(out.layers("trace.work_s") = _)
    }
  }
}
