package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.sources.SnapshotStore

/** One sample: a fresh JVM that starts a session, makes the cold run, checks
  * it, then repeats the run warm on fresh inputs. Writes one JSON object of
  * measurements to `--out`.
  *
  *   --workload pls_cold|pls_nightly|curate|prepare  --seed S  --dir D  --out F
  *   --trace 0|1  --warm K  --addresses N  --latency-ms L  --snapshot P
  *
  * `pls_cold` run k scans the sources of seed S+k. `prepare` writes the
  * committed cold snapshot of seed S under D; `pls_nightly` run k restores a
  * fresh copy of that snapshot P and applies nightly delta 16*S+k+1.
  * `curate` run k reads the corpus D/corpus-k that corpus.py wrote.
  */
object Main {
  private val metrics = mutable.LinkedHashMap[String, Double]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val dir = Paths.get(a("dir")).toAbsolutePath
    val trace = a.getOrElse("trace", "0") == "1"
    val warm = a.getOrElse("warm", "0").toInt

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession.configureLocal(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus).getOrCreate()
    val sessionAt = System.currentTimeMillis()
    spark.range(1).count()
    val readyAt = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    metrics("setup_s") = (readyAt - jvmStart) / 1000.0
    metrics("setup.jvm_s") = (mainAt - jvmStart) / 1000.0
    metrics("setup.session_s") = (sessionAt - mainAt) / 1000.0
    metrics("setup.first_job_s") = (readyAt - sessionAt) / 1000.0

    try workload match {
      case "prepare" | "pls_cold" | "pls_nightly" =>
        pls(spark, workload, seed, a("addresses").toInt, a("latency-ms").toInt, dir,
          a.get("snapshot").map(Paths.get(_)), trace, warm)
      case "curate" => curate(spark, seed, dir, trace, warm)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        errors += s"${e.getClass.getName}: ${e.getMessage}"
        failed = attempted.max(1); attempted = attempted.max(1)
    } finally {
      Files.writeString(Paths.get(a("out")), json())
      spark.stop()
    }
  }

  /** Time one run; a throw or a failed check counts the run as failed. */
  private def timed(label: String)(run: => Unit)(check: => Seq[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try { run; true } catch {
      case e: Exception => errors += s"$label raised ${e.getClass.getName}: ${e.getMessage}"; false
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    val errs = if (ok) check else Nil
    metrics(s"check_s.${attempted - 1}") = (System.nanoTime() - c0) / 1e9
    errs.foreach(m => errors += s"$label: $m")
    if (!ok || errs.nonEmpty) { failed += 1; None } else Some(secs)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private final class Traced(spark: SparkSession) {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new SpanTracer(spark, java.util.UUID.randomUUID().toString)
    val probe = new JvmProbe
    var fromMs = 0L; var toMs = 0L

    private var jit = 0.0; private var classes = 0L; private var heap = 0L

    /** The run under the root span; collectors stop when it returns, so the
      * output checks that follow are not counted.
      */
    def root[T](body: => T): T = {
      fromMs = System.currentTimeMillis()
      try tracer.span("run")(body) finally {
        toMs = System.currentTimeMillis()
        jit = probe.jitSeconds; classes = probe.classesLoaded; heap = probe.maxLiveHeap
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    /** Listener, JVM and span totals over the traced run. */
    def report(dir: Path): Unit = {
      val l = listener
      metrics("spark.jobs") = l.jobs.size
      metrics("spark.stages") = l.stages.toDouble
      metrics("spark.tasks") = l.tasks.toDouble
      metrics("spark.task_s") = l.taskNs / 1e9
      metrics("spark.cpu_s") = l.cpuNs / 1e9
      metrics("spark.shuffle_write_mb") = l.shuffleWrite / 1e6
      metrics("spark.shuffle_read_mb") = l.shuffleRead / 1e6
      metrics("spark.spill_mb") = l.spill / 1e6
      metrics("spark.gc_s") = l.gcMs / 1000.0
      l.jobMsByFile.foreach { case (f, ms) => metrics(s"spark.job_s.$f") = ms / 1000.0 }
      metrics("driver.gap_s") = (toMs - fromMs - l.jobUnionMs(fromMs, toMs)) / 1000.0
      metrics("jvm.jit_s") = jit
      metrics("jvm.classes_loaded") = classes.toDouble
      metrics("jvm.max_live_heap_mb") = heap / 1e6
      val t = tracer
      t.spans.map(_.name).distinct.foreach { name =>
        metrics(s"span.$name.self_s") = t.selfTotal(name)
        val ids = t.spans.indices.filter(t.spans(_).name == name).map(_.toString).toSet
        metrics(s"span.$name.task_s") = ids.toSeq.map(l.taskNsByGroup(_)).sum / 1e9
      }
      Files.writeString(dir.resolve("spans.json"), t.toJson)
    }
  }

  // ------------------------------------------------------------------ PLS

  private def pls(spark: SparkSession, workload: String, seed: Long, addresses: Int,
                  latencyMs: Int, dir: Path, snapshot: Option[Path], trace: Boolean,
                  warm: Int): Unit = {
    val nightly = workload == "pls_nightly"
    val prepared = snapshot.map(p => new SnapshotStore(p.resolve("snapshots").toString))
      .map(s => (s, s.latestRun(spark).getOrElse(
        throw new IllegalStateException(s"no committed snapshot under $snapshot"))))
    if (nightly && prepared.isEmpty) throw new IllegalArgumentException("pls_nightly needs --snapshot")
    val baseSeed = if (nightly) Files.readString(snapshot.get.resolve("seed.txt")).trim.toLong else seed

    def once(k: Int, tr: Tracer, traced: Option[Traced]): Option[(Double, Pls.Outcome, Prediction)] = {
      val gen =
        if (nightly) PlsGen(baseSeed, addresses, latencyMs, delta = (seed & 0xffffffffL) * 16 + k + 1)
        else PlsGen(seed + k, addresses, latencyMs)
      if (workload == "prepare") Files.writeString(dir.resolve("seed.txt"), s"$seed\n")
      val root = if (workload == "prepare") dir else dir.resolve(s"run-$k")
      snapshot.filter(_ => nightly).foreach(p => Fs.copy(p.resolve("snapshots"), root.resolve("snapshots")))
      val expected = gen.predict()
      var outcome: Pls.Outcome = null
      val secs = timed(s"$workload run $k") {
        outcome = traced match {
          case Some(t) => t.root(Pls.run(spark, gen, root, tr))
          case None => Pls.run(spark, gen, root, tr)
        }
      } {
        Pls.check(spark, outcome, expected, prepared.filter(_ => nightly))
      }
      secs.map(s => (s, outcome, expected))
    }

    val traced = if (trace) Some(new Traced(spark)) else None
    val cold = once(0, traced.map(_.tracer).getOrElse(NoTrace), traced)
    cold.foreach { case (secs, o, expected) =>
      metrics("run_s") = secs
      val (bytes, files) = Pls.snapshotSize(o.store, o.result.runId)
      metrics("output_mb") = bytes / 1e6
      val (entries, cachedMb) = Caches.status(spark)
      metrics("util.caching.entries") = entries.toDouble
      metrics("util.caching.cached_mb") = cachedMb
      val st = o.stats
      metrics("sources.pages") = st.pages.value.toDouble
      metrics("sources.rows_fetched") = st.rows.value.toDouble
      metrics("sources.mb_served") = st.bytes.value / 1e6
      metrics("sources.fetch_wait_s") = st.waitNs.value / 1e9
      metrics("sources.fetch_busy_s") = st.busyNs.value / 1e9
      metrics("sources.token_refreshes") = st.refreshes.value.toDouble
      metrics("sources.retries") = st.retries.value.toDouble
      metrics("sources.keep_ratio") = expected.keptFetched.toDouble / math.max(st.rows.value, 1L)
      metrics("sources.snapshot.write_mb") = bytes / 1e6
      metrics("sources.snapshot.files") = files.toDouble
      metrics("sources.snapshot.read_mb") =
        prepared.filter(_ => nightly).map { case (s, r) => Pls.snapshotSize(s, r)._1 / 1e6 }.getOrElse(0.0)
      val newIds = expected.newIds.values.sum
      metrics("operators.idmap.keys_scanned") = expected.keysScanned.toDouble
      metrics("operators.idmap.new_ids") = newIds.toDouble
      metrics("operators.idmap.new_ratio") = newIds.toDouble / expected.keysScanned
      metrics("operators.relops.carried_rows") = expected.carriedRows.toDouble
      metrics("operators.relops.addresses_dropped") = expected.addressesDropped.toDouble
      metrics("operators.relops.geocodes_pruned") = expected.geocodesPruned.toDouble
      metrics("sinks.records") = o.records.size
      metrics("sinks.header_duration_s") =
        o.records.headOption.flatMap(_._3.get("etl-duration-seconds")).map(_.toDouble).getOrElse(-1.0)
      traced.foreach { t =>
        val tr = t.tracer
        t.report(dir)
        metrics("sources.scan_s") = tr.total("sources.sparql") + tr.total("sources.esri.iri_pid")
        metrics("sources.snapshot.restore_s") = tr.total("sources.snapshot.restore")
        metrics("sources.snapshot.write_s") = tr.total("sources.snapshot.write")
        metrics("pipeline.geocode_import_s") = tr.total("pipeline.geocode_import")
        metrics("pipeline.pls_run_s") = tr.total("pipeline.pls_run")
        metrics("pipeline.etl_run_self_s") = tr.total("pipeline.etl_run") -
          tr.total("pipeline.stages") - tr.total("sources.snapshot.write")
        metrics("operators.idmap.encode_s") = tr.total("operators.idmap")
        metrics("sinks.publish_s") = tr.total("sinks.publish")
        tr.release()
      }
    }
    if (workload != "prepare") warmRuns(warm) { k =>
      once(k, NoTrace, None).map(_._1)
    }
  }

  /** A long-lived session runs with compiled code and a collected heap:
    * before a warm run, wait (at most 2 s) until the JIT has compiled
    * nothing for 300 ms, then collect.
    */
  private def settle(): Unit = {
    val comp = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 2000000000L
    var last = -1L
    while (comp.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = comp.getTotalCompilationTime
      Thread.sleep(300)
    }
    System.gc()
  }

  private def warmRuns(warm: Int)(run: Int => Option[Double]): Unit = {
    val secs = (1 to warm).flatMap { k =>
      graft.SparkEntry.releaseSharedCaches()
      settle()
      run(k)
    }
    if (secs.nonEmpty) metrics("warm_run_s") = median(secs)
    secs.zipWithIndex.foreach { case (s, i) => metrics(s"warm_run_s.$i") = s }
  }

  // ------------------------------------------------------------------ curate

  private def curate(spark: SparkSession, seed: Long, dir: Path, trace: Boolean, warm: Int): Unit = {
    def once(k: Int, tr: Tracer, traced: Option[Traced]): Option[Double] = {
      val corpus = dir.resolve(s"corpus-$k")
      val out = dir.resolve(s"out-$k")
      var ratio = 0.0
      val secs = timed(s"curate run $k") {
        traced match {
          case Some(t) => t.root(Curate.run(spark, corpus, out, tr))
          case None => Curate.run(spark, corpus, out, tr)
        }
      } {
        val (errs, r) = Curate.check(spark, corpus, out)
        ratio = r
        errs
      }
      if (k == 0) {
        metrics("operators.dedup.survivor_ratio") = ratio
        if (secs.isDefined) metrics("output_mb") = Fs.size(out)._1 / 1e6
      }
      secs
    }
    val traced = if (trace) Some(new Traced(spark)) else None
    once(0, traced.map(_.tracer).getOrElse(NoTrace), traced).foreach { secs =>
      metrics("run_s") = secs
      val (entries, cachedMb) = Caches.status(spark)
      metrics("util.caching.entries") = entries.toDouble
      metrics("util.caching.cached_mb") = cachedMb
      traced.foreach { t =>
        t.report(dir)
        metrics("pipeline.curation_s") = t.tracer.total("pipeline.curation")
        t.tracer.release()
      }
    }
    warmRuns(warm)(k => once(k, NoTrace, None))
  }

  private def json(): String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val ms = metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    s"""{"attempted": $attempted, "failed": $failed, "errors": [${errors.map(str).mkString(", ")}], "metrics": {$ms}}""" + "\n"
  }
}
