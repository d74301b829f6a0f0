package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark: runs one workload and writes its raw
  * samples, checks and layer metrics as one JSON file. `run.py` prepares
  * the inputs, starts this, checks results against DuckDB and prints the
  * metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --out DIR`. One client thread drives a
  * closed loop of rounds until `--seconds` have passed; every round is
  * completed. With `--trace 1` the fixture builds are traced and the
  * rounds alternate between untraced and traced, so the trace's overhead
  * is measured in the same process. */
object Main {

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors

    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (traceOn) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var code = 0
    try run(spark, workload, seed, seconds, traceOn, data, work, out, cores)
    catch { case NonFatal(e) => e.printStackTrace(); code = 1 }
    finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traceOn: Boolean, data: String, work: String, out: String, cores: Int): Unit = {
    val w: Workload = workload match {
      case "query_mix" => new Workloads.QueryMix(spark, data, work, seed, writeOut = traceOn)
      case "table_dml" => new Workloads.TableDml(spark, data, work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val trace = new Trace
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val rounds = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var tracedGc = 0.0

    def runOp(r: Int, op: Op, traced: Boolean): OpRec = {
      val fs0 = CountingFs.snapshot()
      val files0 = CountingFs.parquetFiles.get
      val bytes0 = CountingFs.bytesWritten()
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var composeEndMs = s0
      var composeSecs = 0.0
      var analyzeMs = 0L
      val (ok, changed) =
        try {
          val c = op.compose()
          composeSecs = (System.nanoTime() - n0) / 1e9
          composeEndMs = System.currentTimeMillis()
          // a frame composed afresh was analyzed eagerly, inside compose; a
          // memoized one was analyzed before this op began
          c match {
            case df: org.apache.spark.sql.classic.Dataset[_] =>
              analyzeMs = df.queryExecution.tracker.phases.get("analysis")
                .filter(_.startTimeMs >= s0)
                .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
            case _ =>
          }
          (true, op.exec(c))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            (false, -1L)
        }
      val secs = (System.nanoTime() - n0) / 1e9
      val endMs = System.currentTimeMillis()
      val fs1 = CountingFs.snapshot()
      OpRec(r, op.name, op.kind, op.module, s0, composeEndMs, endMs, secs, composeSecs,
        ok, traced, fs1._1 - fs0._1, fs1._2 - fs0._2, fs1._3 - fs0._3,
        CountingFs.bytesWritten() - bytes0, CountingFs.parquetFiles.get - files0, changed,
        analyzeMs)
    }

    // a collection before each round op, outside its time: the context
    // cleaner then frees the shuffles and broadcasts of earlier ops before
    // the op starts, not while it runs. A traced round's collector time
    // includes these collections, which free the garbage its ops left.
    def settled(r: Int, op: Op, traced: Boolean): OpRec = {
      System.gc()
      Thread.sleep(20)
      runOp(r, op, traced)
    }

    // set-up: the fixture builds (traced on traced runs, so the trace can
    // split them by layer), then the untimed correctness pass and warm-up
    if (traceOn) trace.install(spark)
    val fixtureOps = (1 to w.fixtureRepeats).flatMap(_ => w.fixture().map(runOp(-1, _, traceOn)))
    if (traceOn) trace.uninstall(spark)
    val perBuild = fixtureOps.size / w.fixtureRepeats max 1
    val fixtureSecs = fixtureOps.grouped(perBuild).map(_.map(_.secs).sum).toSeq
    val c0 = System.nanoTime()
    val checks = fixtureOps.filterNot(_.ok).map(o => Check(s"fixture:${o.name}", ok = false)) ++
      w.check(out)
    val warm = (0 until w.warmRounds).flatMap(i => w.round(i).map(settled(-1, _, traced = false)))
    val checkSecs = (System.nanoTime() - c0) / 1e9
    val warmFailures = warm.filterNot(_.ok).map(o => Check(s"warm-up:${o.name}", ok = false))

    // traced runs measure untraced and traced rounds in the order
    // U T T U, U T T U, ... so warm-up drift cancels in the overhead ratio
    val minRounds = if (traceOn) 4 max 2 * w.cycle else 2 * w.cycle
    val bytesBefore = CountingFs.bytesWritten()
    val timedStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r < minRounds || r % w.cycle != 0 || System.nanoTime() < deadline) {
      val traced = traceOn && (r % 4 == 1 || r % 4 == 2)
      if (traced) trace.install(spark)
      val gc0 = gcMs()
      val recs = w.round(w.warmRounds + r).map(settled(r, _, traced))
      if (traced) {
        tracedGc += (gcMs() - gc0) / 1000.0
        trace.uninstall(spark)
      }
      ops ++= recs
      rounds += ((r, recs.map(_.secs).sum, traced))
      r += 1
    }
    val timedWriteMb = (CountingFs.bytesWritten() - bytesBefore) / (1024.0 * 1024.0)
    val finalChecks = w.finalChecks()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traceOn) {
      layers ++= Trace.summarize(trace, ops.toSeq, fixtureOps, w.fixtureRepeats, cores,
        tracedGc, Workloads.dmlKinds, Workloads.dmlWrites, Workloads.operatorModules)
      val dml = ops.filter(o => o.module == "Manifests" && Workloads.dmlRowWrites(o.name))
      layers("manifest.noop_op_ratio") =
        if (dml.isEmpty) 0.0 else dml.count(_.rowsChanged == 0).toDouble / dml.size
      layers ++= Map("manifest.table_mb" -> 0.0, "manifest.live_files" -> 0.0) ++ w.tableState()
      val sc = spark.sparkContext
      layers("cache.cached_rdds") = sc.getPersistentRDDs.size.toDouble
      layers("cache_mb") =
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      layers("cache.timed_write_mb") = timedWriteMb
      def roundMedian(t: Boolean) = Trace.median(rounds.filter(_._3 == t).map(_._2).toSeq)
      layers("cache.trace_overhead") = roundMedian(true) / roundMedian(false)
    }

    def num(d: Double) = Json.num(d)
    def bool(x: Boolean) = x.toString
    Json.writeFile(s"$out/result.json", Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "timed_start_ms" -> timedStartMs.toString,
      "fixture_secs" -> Json.arr(fixtureSecs.map(num)),
      "check_secs" -> num(checkSecs),
      "checks" -> Json.arr((checks ++ warmFailures ++ finalChecks).map(c => Json.obj(
        "name" -> Json.str(c.name), "ok" -> bool(c.ok), "detail" -> Json.str(c.detail)))),
      "rounds" -> Json.arr(rounds.map { case (i, s, t) => Json.obj(
        "round" -> i.toString, "secs" -> num(s), "traced" -> bool(t)) }),
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "name" -> Json.str(o.name), "kind" -> Json.str(o.kind),
        "module" -> Json.str(o.module), "secs" -> num(o.secs),
        "ok" -> bool(o.ok), "traced" -> bool(o.traced)))),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> num(v) }: _*)))
  }
}
