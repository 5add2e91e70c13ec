package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Metrics, ParquetWarehouse, Retry, SriPipeline, Warehouse}

/** The benchmark's JVM half: drives graft through its public entry points on
  * inputs that `run.py` generated, times the workload for `--seconds`,
  * checks every output, and prints one `PERFBENCH {json}` line with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * One process, one client thread, `local[n]` with n = min(4, cores).
  *
  * Usage: perfbench.Main --workload W --inputs <inputs.properties>
  *          --seconds S --trace 0|1 --seed N --work <dir> --trace-out <file>
  *          --generate-s <seconds run.py spent generating the inputs>
  */
object Main {

  // ---------------------------------------------------------------- timing

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Seconds the JVM has spent in garbage collection and in JIT compilation
    * (summed over compiler threads), and the classes Spark's code generator
    * has compiled.
    */
  def jvmBusy(): (Double, Double, Long) =
    (ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      org.apache.spark.perfbench.Codegen.compiles())

  final case class Timed[T](value: T, wallS: Double, cpuS: Double, startMs: Long, endMs: Long)

  def timed[T](body: => T): Timed[T] = {
    val (ms0, t0, c0) = (System.currentTimeMillis(), System.nanoTime(), osBean.getProcessCpuTime)
    val v = body
    Timed(v, (System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9,
      ms0, System.currentTimeMillis())
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // ------------------------------------------------------------ per batch

  /** One client-visible request inside a batch (a query, a mart, a read-back). */
  final case class Query(name: String, ms: Double, ok: Boolean)

  /** What one batch reports: its timed section, the requests issued after
    * it, its output checks, and exact counters for the trace.
    */
  final case class Outcome(t: Timed[Unit], queries: Seq[Query], checks: Seq[(String, Boolean)],
                           counters: Map[String, Double] = Map.empty) {
    def ok: Boolean = checks.forall(_._2)
  }

  def trySpan[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Time one request: build its plan and collect it. */
  def query(tr: Option[Tracer], layer: String, name: String)(df: => DataFrame)(
      check: Array[Row] => Boolean): Query = {
    val t0 = System.nanoTime()
    val (rows, err) = try (trySpan(tr, s"$layer.$name")(df.collect()), None)
    catch { case NonFatal(e) => (Array.empty[Row], Some(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    err.foreach(e => System.err.println(s"[perfbench] $layer.$name failed: $e"))
    Query(name, ms, err.isEmpty && check(rows))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
    all.reverse.foreach(Files.delete)
  }

  def countFiles(p: Path): Int =
    scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .count(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")))

  // ------------------------------------------------------------ workloads

  val Clock: java.time.LocalDate = java.time.LocalDate.of(2024, 6, 30)
  val FactTable = "fact_registro_vehiculos"
  val DimTables = Seq("dim_tiempo", "dim_vehiculo", "dim_transaccion", "dim_ubicacion")

  /** Predicted SRI shape, from the generator's bookkeeping. */
  final case class SriExpect(rows: Long, dims: Map[String, Long], fact: Long)

  /** The four `etl.Metrics` marts over a loaded star; `registrosPorAnio`
    * must account for every fact row.
    */
  def marts(res: SriPipeline.Result, factRows: Long): Seq[(String, () => DataFrame, Array[Row] => Boolean)] = {
    val any = (_: Array[Row]) => true
    Seq(
      ("registros_por_anio", () => Metrics.registrosPorAnio(res.fact, res.dimTiempo),
        (rs: Array[Row]) => rs.map(_.getAs[Long]("total_registros")).sum == factRows),
      ("top_marcas", () => Metrics.topMarcas(res.fact, res.dimVehiculo), any),
      ("top_provincias", () => Metrics.topProvincias(res.fact, res.dimUbicacion), any),
      ("dashboard", () => Metrics.dashboard(res.fact, res.dimTiempo, res.dimVehiculo, res.dimUbicacion), any))
  }

  /** q01-q19 of the engine's query registry. */
  def starQueries: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|1[0-9])_.*")).toSeq.sorted

  /** Per-layer values and checked requests of the traced work that follows
    * a traced batch, outside its timing.
    */
  final case class Extra(metrics: Map[String, Double], requests: Seq[Query])

  abstract class Workload(val spark: SparkSession, val in: Map[String, String], val work: Path) {
    private val fingerprints = mutable.Map.empty[String, String]

    /** Every answer must equal the first one seen for that request. */
    def sameAnswer(name: String, rows: Array[Row]): Boolean = {
      val fp = fingerprint(rows)
      fingerprints.getOrElseUpdate(name, fp) == fp
    }

    def batch(i: Int, tr: Option[Tracer]): Outcome
    def afterTraced(i: Int, tr: Tracer): Extra = Extra(Map.empty, Nil)

    /** The warm-up: one untraced batch, which pays the cold JVM's class
      * loading, code generation and first JIT compilations. Returns its
      * output checks.
      */
    def setup(): Seq[(String, Boolean)] = Seq(-1).flatMap { i =>
      val o = batch(i, None)
      o.checks :+ (s"warm-up batch $i requests" -> o.queries.forall(_.ok))
    }
  }

  /** A batch is `readCsv` + `runRaw` into a fresh `Anio`-partitioned
    * ParquetWarehouse, wired as SriMain wires it (parallel dims), with a
    * fixed clock and no retries; traced, the warehouse is wrapped in
    * [[TracedWarehouse]]. After it, one client reads the four marts over the
    * fresh warehouse once, in a seeded order. Every answer must match the
    * first one of the run.
    */
  final class SriEtl(spark: SparkSession, in: Map[String, String], work: Path, seed: Long)
      extends Workload(spark, in, work) {
    private val expect = SriExpect(in("sri.rows").toLong,
      DimTables.map(d => d -> in(s"sri.$d").toLong).toMap, in("sri.fact_rows").toLong)

    def batch(i: Int, tr: Option[Tracer]): Outcome = {
      val root = work.resolve(s"warehouse-$i")
      deleteTree(root)
      val wh: Warehouse = ParquetWarehouse(spark, root.toString, Map(FactTable -> Seq("Anio")))
      var result: SriPipeline.Result = null
      val t = timed {
        def run(w: Warehouse) = SriPipeline.runRaw(spark, SriPipeline.readCsv(spark, in("sri.csv")), w,
          clock = Clock, parallelDims = true, retry = Retry.Policy(retries = 0))
        tr match {
          case None => result = run(wh)
          case Some(tracer) =>
            val h = tracer.open("etl")
            tracer.root = h.id
            val traced = new TracedWarehouse(wh, tracer, DimTables.last, FactTable)
            try result = run(traced)
            finally { traced.finish(); tracer.close(h); tracer.root = -1 }
        }
      }
      val v = result.validation
      val rows = v.profiles.map(p => p.table -> p.rows).toMap
      val checks = Seq("validation passed" -> v.passed,
        s"fact rows ${v.factRows} == ${expect.fact}" -> (v.factRows == expect.fact),
        s"integrity join ${v.integrityJoinCount} == fact rows" -> (v.integrityJoinCount == v.factRows)) ++
        DimTables.map(d => s"$d ${rows.get(d)} == ${expect.dims(d)}" -> rows.get(d).contains(expect.dims(d)))
      val counters = Map(
        "etl.fact_write.files" -> countFiles(root.resolve(FactTable)).toDouble,
        "etl.fan_out" -> v.factRows.toDouble / expect.rows)

      val qs = new scala.util.Random(seed * 7919 + i).shuffle(marts(result, v.factRows)).map {
        case (n, df, check) => query(tr, "marts", n)(df())(rs => check(rs) && sameAnswer(n, rs))
      }
      deleteTree(root)
      Outcome(t, qs, checks, counters)
    }

    /** q01-q19 over the TPC-H-shaped tables, in a seeded order: one
      * untraced round (whose answers the traced round must reproduce),
      * then the traced round that gives `queries.<q>.{p50_ms,jobs}`.
      */
    override def afterTraced(i: Int, tr: Tracer): Extra = {
      val order = new scala.util.Random(seed * 7919 + i).shuffle(starQueries)
      def round(t: Option[Tracer]) = order.map(n =>
        query(t, "queries", n)(graft.SparkEntry.queries(n)(spark, in("tables")))(rs => sameAnswer(n, rs)))
      val untraced = round(None)
      val traced = round(Some(tr))
      Extra(traced.map(q => s"queries.${q.name}.p50_ms" -> q.ms).toMap,
        untraced ++ traced :+ Query("q01-q19 registered", 0, starQueries.size == 19))
    }
  }

  /** A batch is CurateMain.main's body: `CurateMain.curate`, the
    * split/shard-partitioned write and the manifest. After it, the client
    * reads the curated output back six ways.
    */
  final class CurateDocs(spark: SparkSession, in: Map[String, String], work: Path)
      extends Workload(spark, in, work) {
    import graft.CurateMain
    import graft.operators.{Curriculum, Dedup, Sampling, Sharding}

    val numShards = 8
    private var firstCounts: Option[Map[String, Long]] = None
    private var lastCounts: Map[String, Long] = Map.empty
    private def out(i: Int) = work.resolve(s"curated-$i")
    private def docs = spark.read.parquet(in("docs"))


    def batch(i: Int, tr: Option[Tracer]): Outcome = {
      val dir = out(i)
      deleteTree(dir)
      var counts: Map[String, Long] = Map.empty
      val t = timed {
        val (sharded, c) = trySpan(tr, "curate")(CurateMain.curate(spark, docs, numShards))
        counts = c
        trySpan(tr, "curate.write")(
          sharded.write.mode("overwrite").partitionBy("split", "shard").parquet(s"$dir/curated"))
        Files.writeString(dir.resolve("manifest.json"), counts.toSeq.sorted
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}\n"))
        ()
      }
      val kept = counts.getOrElse("kept", -1L)
      val curated = () => spark.read.parquet(s"$dir/curated")
      val perSplit = Seq("train", "validation", "test").map { split =>
        // a training loader's first page of one split, in training order
        query(tr, "readback", s"first_page_$split")(curated().where(col("split") === split)
          .orderBy("phase", "shuffle_key", "doc_id").limit(100))(rs => rs.nonEmpty && sameAnswer(s"first_page_$split", rs))
      }
      val qs = Seq(
        query(tr, "readback", "curated_rows")(curated().agg(count(lit(1))))(
          rs => rs.head.getLong(0) == kept),
        query(tr, "readback", "rows_per_split")(curated().groupBy("split").count())(
          rs => rs.map(_.getLong(1)).sum == kept),
        query(tr, "readback", "rows_per_phase")(curated().groupBy("phase").count())(
          rs => rs.map(_.getLong(1)).sum == kept)) ++ perSplit
      val input = counts.getOrElse("input", -1L)
      if (firstCounts.isEmpty) firstCounts = Some(counts)
      lastCounts = counts
      val checks = Seq(
        s"input $input == ${in("docs.rows")}" -> (input == in("docs.rows").toLong),
        "kept + dropped == input" ->
          (counts.filter(_._1.startsWith("dropped_")).values.sum + kept == input),
        "counts identical across runs" -> firstCounts.contains(counts))
      if (tr.isEmpty) deleteTree(dir)
      // curate leaves its judged frame cached; each batch starts cold
      spark.catalog.clearCache()
      Outcome(t, qs, checks)
    }

    /** The operators `CurateMain.curate` composes, called one at a time with
      * its arguments, each forced by a noop sink; each consumes its
      * predecessor's persisted output, so a span holds one operator's work.
      * Their outputs must reproduce the traced batch's manifest, so the
      * chain measured here is the chain `curate` runs.
      */
    override def afterTraced(i: Int, tr: Tracer): Extra = {
      def step(name: String)(op: => DataFrame): DataFrame = tr.span(s"operators.$name") {
        val df = op.persist()
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val input = docs.persist()
      input.count()
      val cand = step("minhash_candidates")(
        Dedup.minhashCandidatePairsMd5(input, "text", "doc_id", numHashes = 64, bands = 16))
      val confirmed = step("jaccard_confirm")(
        Dedup.jaccardOnPairsByContent(cand, input, "text", "doc_id", k = 5)
          .where(col("jaccard") >= 0.8).select(col("id_a"), col("id_b")))
      val canonical = step("retain_canonical")(Dedup.retainCanonical(input, confirmed, "doc_id",
        preference = Seq(col("n_chars").desc, col("doc_id"))))
      val exact = step("exact_dedup")(Dedup.exactDedup(input, "text", "doc_id"))
      val kept = spark.read.parquet(s"${out(i)}/curated")
        .drop("split", "shard", "phase", "shuffle_key").persist()
      kept.count()
      val sharded = step("split_phase_shard") {
        val withSplit = Sampling.assignSplits(kept, "doc_id",
          Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05))
        val withPhase = Curriculum.curriculumOrder(withSplit.select("doc_id", "n_chars"),
          "doc_id", "n_chars", nPhases = 4).join(withSplit, Seq("doc_id"))
        Sharding.assignShards(withPhase, "doc_id", numShards)
      }
      val (nCand, nConfirmed) = (cand.count(), confirmed.count())
      val c = lastCounts.withDefaultValue(0L)
      val chain = Seq(
        "exact_dedup keeps input - dropped_exact_dup" ->
          (exact.count() == c("input") - c("dropped_exact_dup")),
        "retain_canonical drops dropped_near_dup of the exact survivors" ->
          (exact.select("doc_id").join(canonical.select("doc_id"), Seq("doc_id"), "left_anti")
            .count() == c("dropped_near_dup")),
        "split_phase_shard rows == kept" -> (sharded.count() == c("kept")))
      chain.filterNot(_._2).foreach(k => System.err.println(s"[perfbench] operator chain check failed: ${k._1}"))
      spark.catalog.clearCache()
      deleteTree(out(i))
      Extra(Map("operators.jaccard_confirm.useful_ratio" -> (if (nCand == 0) 0.0 else nConfirmed.toDouble / nCand)),
        chain.map { case (n, ok) => Query(n, 0, ok) })
    }
  }

  // ----------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traceOn = opts("trace") == "1"
    val seed = opts("seed").toLong
    val work = Paths.get(opts("work")).toAbsolutePath
    val in: Map[String, String] = {
      val p = new java.util.Properties()
      scala.util.Using.resource(Files.newBufferedReader(Paths.get(opts("inputs"))))(p.load)
      p.asScala.toMap
    }
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)

    def newSession(): SparkSession = graft.Sessions.acquire(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))._1

    def make(spark: SparkSession): Workload = workload match {
      case "sri_etl" => new SriEtl(spark, in, work, seed)
      case "curate_docs" => new CurateDocs(spark, in, work)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: JVM and session start, input generation (timed by
    // run.py), warm-up (one untraced batch, with its output checks)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val wl = make(spark)
    val warm = timed(wl.setup())
    val setupChecks = warm.value
    val generateS = opts("generate-s").toDouble
    System.err.println(f"[perfbench] set-up: session $sessionS%.3fs generate $generateS%.3fs warm-up ${warm.wallS}%.3fs")
    setupChecks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] set-up check failed: ${c._1}"))

    // ---- measured loop; traced runs alternate untraced and traced batches
    val listener = new LayerListener
    val tracer = new Tracer(spark.sparkContext)
    // at least two batches: the medians are never one sample, and a traced
    // run gets an untraced and a traced batch
    val minBatches = 2
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val outcomes = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spansOut = mutable.ArrayBuffer.empty[(Int, Span)]
    val extraRequests = mutable.ArrayBuffer.empty[Query]
    val runStart = System.nanoTime()
    var failures = 0
    var i = 0
    while ((i < minBatches || System.nanoTime() < deadline) && failures < 3) {
      val isTraced = traceOn && i % 2 == 1
      if (isTraced) spark.sparkContext.addSparkListener(listener)
      val tr = if (isTraced) Some(tracer) else None
      try {
        val (gc0, jit0, cg0) = jvmBusy()
        val o = wl.batch(i, tr)
        val (gc1, jit1, cg1) = jvmBusy()
        System.err.println(f"[perfbench] batch $i${if (isTraced) " (traced)" else ""}: " +
          f"${o.t.wallS}%.3fs, cpu ${o.t.cpuS}%.2fs, gc ${gc1 - gc0}%.2fs, jit ${jit1 - jit0}%.2fs, codegen ${cg1 - cg0} classes, " +
          f"${o.queries.size} requests ${o.queries.map(_.ms).sum / 1e3}%.3fs")
        if (!o.ok) o.checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] batch $i check failed: ${c._1}"))
        outcomes += ((o, isTraced))
        tr.foreach { trace =>
          org.apache.spark.perfbench.BusDrain(spark.sparkContext)
          val spans = tracer.drain()
          val window = listener.take()
          val extra = wl.afterTraced(i, trace)
          extraRequests ++= extra.requests
          org.apache.spark.perfbench.BusDrain(spark.sparkContext)
          val spans2 = tracer.drain()
          val window2 = listener.take()
          spansOut ++= (spans ++ spans2).map(i -> _)
          val jvm = Map("driver.gc_s" -> (gc1 - gc0), "driver.jit_s" -> (jit1 - jit0),
            "driver.codegen_classes" -> (cg1 - cg0).toDouble)
          traced += layerMetrics(o, spans, window, spans2, window2) ++ o.counters ++ extra.metrics ++ jvm
        }
      } catch {
        case NonFatal(e) =>
          failures += 1
          System.err.println(s"[perfbench] batch $i failed: $e")
          e.printStackTrace()
          outcomes += ((Outcome(Timed((), 0, 0, 0, 0), Nil, Seq(s"batch $i raised" -> false)), isTraced))
      } finally if (isTraced) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        listener.take()
      }
      i += 1
    }

    // ---- results
    val good = outcomes.filter(_._1.ok)
    val untraced = good.filterNot(_._2).map(_._1)
    val queries = outcomes.flatMap(_._1.queries)
    val attempted = outcomes.size + queries.size + extraRequests.size
    val failed = outcomes.count(!_._1.ok) + queries.count(!_.ok) + extraRequests.count(!_.ok)
    val correct = failed == 0 && setupChecks.forall(_._2)
    val sample = if (untraced.nonEmpty) untraced else good.map(_._1)
    val qms = queries.filter(_.ok).map(_.ms).toSeq
    val endToEnd = Map(
      "setup_s" -> (sessionS + generateS + warm.wallS),
      "batch_s" -> (if (sample.isEmpty) Double.NaN else median(sample.map(_.t.wallS).toSeq)),
      "cpu_s" -> (if (sample.isEmpty) Double.NaN else median(sample.map(_.t.cpuS).toSeq)),
      "query_p50_ms" -> (if (qms.isEmpty) Double.NaN else quantile(qms, 0.5)),
      "query_p90_ms" -> (if (qms.isEmpty) Double.NaN else quantile(qms, 0.9)))
    val summary = Map(
      "batches" -> outcomes.size.toDouble, "queries" -> queries.size.toDouble,
      "failed_ratio" -> failed.toDouble / attempted)

    val metrics: Map[String, Double] = if (!traceOn) endToEnd else {
      val perLayer = traced.flatMap(_.keys).distinct.map(n => n -> median(traced.flatMap(_.get(n)).toSeq)).toMap
      val tracedBatch = outcomes.filter(o => o._2 && o._1.ok).map(_._1.t.wallS).toSeq
      val untracedBatch = untraced.map(_.t.wallS).toSeq
      val qByName = queries.filter(_.ok).groupBy(_.name).map { case (n, qs) => n -> median(qs.map(_.ms).toSeq) }
      val qMetrics = qByName.map { case (n, ms) => s"marts.$n.p50_ms" -> ms }
      perLayer ++ qMetrics ++ Map(
        "setup.session_s" -> sessionS,
        "setup.generate_s" -> generateS,
        "setup.warmup_s" -> warm.wallS,
        "trace.overhead_ratio" ->
          (if (tracedBatch.isEmpty || untracedBatch.isEmpty) 0.0 else median(tracedBatch) / median(untracedBatch)))
    }

    if (traceOn) writeTrace(Paths.get(opts("trace-out")), workload, seed, runStart, spansOut.toSeq,
      traced.toSeq, metrics, endToEnd ++ summary)
    System.err.println(s"[perfbench] $workload seed=$seed " +
      (endToEnd ++ summary).toSeq.sorted.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    graft.Sessions.release(spark, owned = true)
    println("PERFBENCH " + json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
  }

  /** Per-layer values of one traced batch (window 1) and the traced work
    * after it (window 2).
    */
  def layerMetrics(o: Outcome, spans: Seq[Span], w: JobWindow, spans2: Seq[Span],
                   w2: JobWindow): Map[String, Double] = {
    val times = Tracer.layerTimes(spans ++ spans2)
    val counts = (w.layers.toSeq ++ w2.layers.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val mb = 1024.0 * 1024.0
    val perLayer = (times.keySet ++ counts.keySet).toSeq.flatMap { l =>
      val (wall, self) = times.getOrElse(l, (0.0, 0.0))
      val c = counts.getOrElse(l, LayerCounts())
      Seq(s"$l.wall_s" -> wall, s"$l.self_s" -> self, s"$l.cpu_s" -> c.cpuNs / 1e9,
        s"$l.jobs" -> c.jobs.toDouble, s"$l.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
        s"$l.spill_mb" -> c.spillBytes / mb, s"$l.input_mb" -> c.inputBytes / mb)
    }.toMap
    val etlLeaves = spans.filter(s => s.name.startsWith("etl.")).map(s => (s.start, s.end))
    val batchIv = Seq((o.t.startMs, o.t.endMs))
    val batchJobs = w.jobs.filter(j => j._3 > o.t.startMs && j._2 < o.t.endMs)
    val jobIv = batchJobs.map(j => (j._2, j._3))
    perLayer ++ Map(
      "etl.unattributed_s" -> (if (etlLeaves.isEmpty) 0.0 else o.t.wallS - Tracer.measure(etlLeaves) / 1e9),
      "driver.job_gap_s" -> (o.t.wallS - Tracer.overlap(batchIv, jobIv) / 1e3),
      "driver.jobs" -> batchJobs.size.toDouble,
      "driver.task_failures" -> w.taskFailures.toDouble)
  }

  def writeTrace(path: Path, workload: String, seed: Long, origin: Long, spans: Seq[(Int, Span)],
                 batches: Seq[Map[String, Double]], perLayer: Map[String, Double],
                 endToEnd: Map[String, Double]): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val spanJson = spans.map { case (b, s) =>
      json(Map("batch" -> b, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9))
    }
    Files.writeString(path, "{" + Seq(
      s""""workload":${json(workload)}""", s""""seed":$seed""",
      s""""end_to_end":${json(endToEnd)}""", s""""per_layer":${json(perLayer)}""",
      s""""traced_batches":${batches.map(json).mkString("[", ",", "]")}""",
      s""""spans":${spanJson.mkString("[\n", ",\n", "]")}""").mkString(",\n") + "}\n")
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) -> json(x) }
      .sortBy(_._1).map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case other => json(other.toString)
  }
}
