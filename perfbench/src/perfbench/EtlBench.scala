package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.ZipFile

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
import org.apache.spark.storage.StorageLevel

import graft.etl.{Clean, Load, Pipeline, SchemaSetup, Schemas}
import graft.source.XlsxParser

import Main._

object EtlBench {
  /** `rows` generated rows (about 5% duplicate keys) sharded over
    * `files` workbooks; every operation imports them into an empty sink. */
  final case class Spec(name: String, rows: Int, files: Int)

  val Specs: Map[String, Spec] = Seq(
    Spec("upload_1k2", 1200, 1),
    Spec("bulk_50k", 50000, 8),
  ).map(s => s.name -> s).toMap

  /** The corpus every run warms up on, whatever its workload. */
  val Warmup: Spec = Specs("upload_1k2")
  /** Warm-up imports of the [[Warmup]] corpus. After the first, cold
    * import (4–5 times the warm time) import times fall for a few more
    * while the JIT compiles; more warm-up would not fit the run budget. */
  val WarmupImports = 4
  /** Timed imports per untraced run, at the least, however long they
    * take: with one, the median would be the first timed import, which
    * is still a little slower than the next ones. */
  val MinTimedImports = 2
  /** Imports of the warm-up corpus into sinks left at Derby's defaults,
    * per traced run. */
  val DefaultSinkImports = 4

  val LoadStages = Seq("planos", "clientes", "contratos", "contatos")
}

/** The import workloads: `Pipeline.run` from generated workbooks into an
  * in-memory Derby sink, checked against [[Model]] after every
  * operation. */
final class EtlBench(a: Args, spec: EtlBench.Spec) {
  import EtlBench._

  /** A generated corpus, the `Pipeline.run` input that reads it, and the
    * model's answer for it. */
  private final class Input(s: Spec) {
    val rows = Corpus.rows(a.seed, s.rows, dupRate = 0.05)
    val files: Seq[Path] = {
      val dir = a.work.resolve(s"corpus/${s.name}-${a.seed}")
      if (Files.exists(dir)) Files.list(dir).iterator.asScala.foreach(Files.delete)
      Corpus.writeShards(dir, rows, s.files)
    }
    /** One workbook is passed as a file, shards as their directory. */
    val path: String = if (files.size == 1) files.head.toString else files.head.getParent.toString
    val expected = Model.expected(rows)
    val want = Map(
      "tbl_planos" -> expected.planosDigest, "tbl_clientes" -> expected.clientesDigest,
      "tbl_cliente_contratos" -> expected.contratosDigest,
      "tbl_cliente_contatos" -> expected.contatosDigest)
  }

  private val job = new Input(spec)
  private val warm = if (spec == Warmup) job else new Input(Warmup)

  private var dbSeq = 0
  /** A new in-memory database with the sink schema; `setup` wraps the
    * schema creation. `workaround` = false leaves Derby's identity
    * settings at their defaults. */
  private def freshDb(setup: (=> Unit) => Unit = f => f, workaround: Boolean = true): String = {
    dbSeq += 1
    val db = s"pb_${spec.name}_$dbSeq"
    setup(SchemaSetup(Sink.url(db)))
    if (workaround) Sink.avoidIdentityContention(Sink.url(db))
    db
  }

  /** Sink contents and the job's own summary against the model. */
  private def check(db: String, in: Input, s: Option[Pipeline.Summary]): Boolean = {
    val got = Sink.digests(Sink.url(db))
    val bad = in.want.collect { case (t, d) if got(t) != d => s"$t: got ${got(t)}, want $d" }
    val summaryBad = s.toSeq.flatMap { s =>
      val pairs = Seq(
        "planos" -> (s.planos, in.expected.planos.size.toLong),
        "clientes" -> (s.clientes, in.expected.clientes.size.toLong),
        "contratos" -> (s.contratos, in.expected.contratos.size.toLong),
        "contatos" -> (s.contatos, in.expected.contatos.size.toLong),
        "contratosRejeitados" -> (s.contratosRejeitados, 0L),
        "contatosRejeitados" -> (s.contatosRejeitados, 0L))
      pairs.collect { case (n, (g, w)) if g != w => s"summary.$n: got $g, want $w" }
    }
    (bad ++ summaryBad).foreach(m => log(s"${spec.name} mismatch: $m"))
    bad.isEmpty && summaryBad.isEmpty
  }

  /** One checked import of `in` into a fresh sink. Returns its
    * `Pipeline.run` wall time, or None when it threw or its output was
    * wrong. */
  private def importOnce(spark: SparkSession, in: Input = job, tracer: Option[Tracer] = None,
      workaround: Boolean = true): Option[Double] = {
    val db = freshDb(workaround = workaround)
    try {
      val t0 = now
      val what = if (workaround) s"${spec.name} import" else "import into a sink at Derby's defaults"
      val summary = attempt(what) {
        tracer.fold(Pipeline.run(spark, in.path, Sink.url(db)))(
          _.span("pipeline.run")(Pipeline.run(spark, in.path, Sink.url(db))))
      }
      val dt = secs(t0)
      if (summary.isDefined && check(db, in, summary)) Some(dt) else None
    } finally Sink.drop(db)
  }

  def run(): Result = if (a.trace) traced() else untraced()

  /** The imports before the first timed one: [[WarmupImports]] of the
    * warm-up corpus, then one of the workload's own. The first import of
    * a larger corpus still takes about 1.3 times as long as the next
    * ones, while the JIT compiles for it. */
  private def warmUp(spark: SparkSession): Seq[Option[Double]] =
    (Seq.fill(WarmupImports)(warm) :+ job).map(importOnce(spark, _))

  /** End-to-end run: one cold set-up, then a closed loop for the
    * measurement window. */
  private def untraced(): Result = {
    val t0 = now
    val spark = session(a)
    Sink.drop(freshDb())
    val started = secs(t0)
    // the warm-up imports' Pipeline.run counts as set-up; their own sinks
    // and correctness checks do not
    val warmups = warmUp(spark)
    val setup = started + warmups.flatten.sum
    log(f"${spec.name}: set-up $setup%.3f s (session and schema $started%.3f s, " +
      s"warm-up imports ${warmups.flatten.map(x => f"$x%.3f").mkString(" ")})")

    val lat = ArrayBuffer[Double]()
    val steal, cpu = ArrayBuffer[Double]()
    var heapMb = Double.NaN
    var attempted = 0
    val rdd0 = persistedRdds(spark)
    var w0 = now
    while (attempted < MinTimedImports || secs(w0) < a.seconds) {
      attempted += 1
      val (s0, t0) = cpuTicks()
      val c0 = processCpuSeconds
      val r = importOnce(spark)
      val c1 = processCpuSeconds
      val (s1, t1) = cpuTicks()
      r.foreach { x => lat += x; steal += (s1 - s0).toDouble / math.max(1L, t1 - t0); cpu += c1 - c0 }
      if (attempted == 1) {
        // after the set-up and one timed import, a fixed amount of work:
        // the heap grows with every import, so a reading at the end of the
        // window would make a faster program look worse. The collection
        // is kept out of the window.
        val g0 = now
        heapMb = liveHeapMb
        w0 += now - g0
      }
    }
    val leaked = (persistedRdds(spark) - rdd0).toDouble / attempted
    val failed = attempted - lat.size
    log(f"${spec.name}: $attempted ops, failed_ratio ${failed.toDouble / attempted}%.3f, " +
      f"leaked_rdds_per_op $leaked%.2f, live heap $heapMb%.1f MB after the first import and " +
      f"$liveHeapMb%.1f MB at the end, " +
      s"latencies ${lat.map(x => f"$x%.3f").mkString(" ")}, " +
      s"JVM CPU s ${cpu.map(x => f"$x%.2f").mkString(" ")}, " +
      s"host steal ${steal.map(x => f"$x%.3f").mkString(" ")}")
    val ok = warmups.forall(_.isDefined) && failed == 0
    val p50 = if (lat.isEmpty) Double.NaN else median(lat.toSeq)
    Result(ok, attempted, failed, Seq(
      Metric("setup_s", setup, "s"),
      Metric("latency_p50_s", p50, "s"),
      Metric("rows_per_s", spec.rows / p50, "rows/s"),
      Metric("live_heap_mb", heapMb, "MB")))
  }

  /** Traced run: warm-up, alternating untraced/traced imports for the
    * window (their difference is the tracing overhead), one replay of the
    * layer calls, the registry layer's pass, then imports into sinks at
    * Derby's defaults. */
  private def traced(): Result = {
    val spark = session(a)
    val tracer = new Tracer(spark.sparkContext)
    val (etl, etlAttempted, etlFailed) = layerMetrics(spark, tracer)
    val (registry, registryFailed) = RegistryLayer.measure(spark, tracer,
      a.data.resolve("sf0.001").toString, a.work.resolve("registry-dump"))
    tracer.write(a.work.resolve(s"spans-${spec.name}-${a.seed}.tsv"))
    val defaults = derbyDefaultsFailedRatio(spark)
    val attempted = etlAttempted + RegistryLayer.names.size
    val failed = etlFailed + registryFailed
    Result(failed == 0, attempted, failed, etl ++ registry ++ Seq(
      Metric("sink.derby_defaults_failed_ratio", defaults, "ratio"),
      Metric("failed_ratio", failed.toDouble / attempted, "ratio")))
  }

  /** Share of imports of the warm-up (upload-sized) corpus that fail into
    * sinks left at Derby's defaults, without
    * [[Sink.avoidIdentityContention]]: the identity-range contention of
    * `Load`'s parallel appends, which every other import of the benchmark
    * works round. These imports are not counted in `failed`, which is
    * about the benchmark's own operations. */
  private def derbyDefaultsFailedRatio(spark: SparkSession): Double = {
    val failed = Seq.fill(DefaultSinkImports)(importOnce(spark, warm, workaround = false)).count(_.isEmpty)
    log(s"${spec.name}: $failed of $DefaultSinkImports imports failed into sinks at Derby's defaults")
    failed.toDouble / DefaultSinkImports
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_per_s")) "rows/s"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("ratio")) "ratio"
    else "count"

  /** Per-layer metrics of the import on this workload's corpus, with the
    * (attempted, failed) operation counts. */
  private def layerMetrics(spark: SparkSession, tracer: Tracer): (Seq[Metric], Int, Int) = {
    val sc = spark.sparkContext
    // the untraced run's warm-up and one more import: the first import
    // after it is still the slowest, and would fall to whichever side of
    // the first pair goes first
    val warmups = warmUp(spark) :+ importOnce(spark)
    var attempted = warmups.size
    var failed = warmups.count(_.isEmpty)
    val plain, traced, gc, cpu = ArrayBuffer[Double]()
    val rdd0 = persistedRdds(spark)
    val w0 = now
    def plainOnce() = {
      sc.removeSparkListener(tracer.listener)
      try importOnce(spark) finally sc.addSparkListener(tracer.listener)
    }
    val (steal0, ticks0) = cpuTicks()
    def tracedOnce() = {
      val g0 = gcSeconds
      val c0 = processCpuSeconds
      val t = importOnce(spark, tracer = Some(tracer))
      gc += gcSeconds - g0
      cpu += processCpuSeconds - c0
      t
    }
    // pairs alternate which side goes first, and there are at least two:
    // the first import after the warm-up is the slower one
    var pairs = 0
    while (pairs < 2 || secs(w0) < a.seconds) {
      val (p, t) =
        if (pairs % 2 == 0) { val p = plainOnce(); (p, tracedOnce()) }
        else { val t = tracedOnce(); (plainOnce(), t) }
      pairs += 1
      attempted += 2
      failed += Seq(p, t).count(_.isEmpty)
      p.foreach(plain += _); t.foreach(traced += _)
    }
    val leaked = (persistedRdds(spark) - rdd0).toDouble / (attempted - warmups.size)
    val (steal1, ticks1) = cpuTicks()
    tracer.drain()
    val runs = tracer.named("pipeline.run")
    def runStat(f: SpanStats => Long) = median(runs.map(s => f(tracer.stats(s)).toDouble))

    val (replay, replayOk) = replayLayers(spark, tracer)
    attempted += 1
    if (!replayOk) failed += 1
    val runMedian = if (traced.isEmpty) Double.NaN else median(traced.toSeq)
    val replaySum = replay("source.materialize_s") + replay("clean.s") +
      LoadStages.map(st => replay(s"load.$st.s")).sum
    val pipeline = Seq(
      Metric("pipeline.jobs", runStat(_.jobs), "count"),
      Metric("pipeline.stages", runStat(_.stages), "count"),
      Metric("pipeline.tasks", runStat(_.tasks), "count"),
      Metric("pipeline.overhead_s", runMedian - replaySum, "s"),
      Metric("pipeline.gc_s", median(gc.toSeq), "s"),
      Metric("pipeline.cpu_s", median(cpu.toSeq), "s"),
      Metric("host.steal_ratio", (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0), "ratio"),
      Metric("trace.overhead_s",
        if (plain.isEmpty) Double.NaN else runMedian - median(plain.toSeq), "s"),
      Metric("leaked_rdds_per_op", leaked, "count"))
    val layer = replay.toSeq.filter(_._1 != "source.materialize_s").sortBy(_._1).map { case (n, v) =>
      Metric(n, v, unitOf(n))
    }
    (layer ++ pipeline, attempted, failed)
  }

  /** The layer calls of one import, replayed one by one in
    * `Pipeline.run`'s order, each in its own span. */
  private def replayLayers(spark: SparkSession, tr: Tracer): (Map[String, Double], Boolean) = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    // source, without Spark: the shared-string table, then row decode
    val zips = job.files.map(f => new ZipFile(f.toFile))
    try {
      val ss = tr.span("source.shared_strings")(zips.map(XlsxParser.sharedStrings))
      m("source.shared_strings_s") = tr.named("source.shared_strings").last.seconds
      m("source.shared_strings_count") = ss.map(_.size).sum
      val cells = tr.span("source.rows_decode") {
        zips.zip(ss).map { case (z, shared) =>
          XlsxParser.rows(z, XlsxParser.sheetRefs(z).head.entry, shared).map(_.size.toLong).sum
        }.sum
      }
      require(cells > 0)
      m("source.rows_decode_s") = tr.named("source.rows_decode").last.seconds
      val entries = zips.flatMap(_.entries.asScala.toSeq)
      m("source.compressed_bytes") = entries.map(_.getCompressedSize).sum
      m("source.inflated_bytes") = entries.map(_.getSize).sum
    } finally zips.foreach(_.close())

    def read() = spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(job.path)
    // source through Spark: every column consumed by a checksum
    val scan = tr.span("source.scan") {
      val df = read()
      df.agg(bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))).collect()
    }
    require(scan.length == 1)
    m("source.scan_s") = tr.named("source.scan").last.seconds
    tr.drain()
    m("source.tasks") = tr.stats(tr.named("source.scan").last).tasks

    // the replayed sequence: raw frame cached, clean over it, four loads
    val raw = read().persist(StorageLevel.MEMORY_AND_DISK)
    val rowsIn = tr.span("source.materialize")(raw.count())
    m("source.materialize_s") = tr.named("source.materialize").last.seconds
    val (clean, rowsOut) = tr.span("clean") {
      val c = Clean.dedupDeterministic(Clean.transform(raw)).persist(StorageLevel.MEMORY_AND_DISK)
      (c, c.count())
    }
    m("clean.s") = tr.named("clean").last.seconds
    m("clean.rows_in") = rowsIn
    m("clean.rows_out") = rowsOut

    val db = freshDb(setup => tr.span("sink.schema_setup")(setup))
    m("sink.schema_setup_s") = tr.named("sink.schema_setup").last.seconds
    val url = Sink.url(db)
    val ok = try {
      val load = new Load(spark, url)
      // rows each stage offers to the sink (see perfbench/README.md)
      val candidates = Map("planos" -> job.expected.planos.size.toDouble,
        "clientes" -> rowsOut.toDouble, "contratos" -> rowsOut.toDouble,
        "contatos" -> 3.0 * rowsOut)
      val table = Map("planos" -> "tbl_planos", "clientes" -> "tbl_clientes",
        "contratos" -> "tbl_cliente_contratos", "contatos" -> "tbl_cliente_contatos")
      var written = 0.0; var appendS = 0.0
      LoadStages.foreach { st =>
        val before = Sink.count(url, table(st))
        tr.span(s"load.$st") {
          st match {
            case "planos" => load.upsertPlanos(clean)
            case "clientes" => load.upsertClientes(clean)
            case "contratos" => load.loadContratos(clean)
            case "contatos" => load.loadContatos(clean)
          }
        }
        val rowsWritten = (Sink.count(url, table(st)) - before).toDouble
        tr.drain()
        val s = tr.named(s"load.$st").last
        val stats = tr.stats(s)
        m(s"load.$st.s") = s.seconds
        m(s"load.$st.readback_s") = stats.jobMsByKind("readback") / 1e3
        m(s"load.$st.append_s") = stats.jobMsByKind("append") / 1e3
        m(s"load.$st.jobs") = stats.jobs
        m(s"load.$st.rows_written") = rowsWritten
        m(s"load.$st.useful_ratio") = rowsWritten / candidates(st)
        written += rowsWritten; appendS += stats.jobMsByKind("append") / 1e3
      }
      m("sink.rows_written_per_s") = written / appendS
      tr.drain()
      val cleanStats = tr.stats(tr.named("clean").last)
      m("clean.shuffle_write_bytes") = cleanStats.shuffleWrite
      m("clean.shuffle_read_bytes") = cleanStats.shuffleRead
      check(db, job, None)
    } finally {
      Sink.drop(db)
      clean.unpersist(); raw.unpersist()
    }
    (m.toMap, ok)
  }
}
