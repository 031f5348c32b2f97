package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, SparkEntry}
import graft.etl.{KeyMap, ParquetSink, PipelineSpec, Upsert}
import graft.streaming.StreamingOps

/** JVM side of the benchmark: builds the session the way users do, runs one
  * workload's passes in a closed loop (one client, each op issued after the
  * previous one completes) and writes the raw timings, and in a traced run
  * the per-layer counters and spans, to JSON for `run.py`.
  *
  * Usage: Harness <config.json> <launch epoch ms>
  */
object Harness {
  private implicit val formats: Formats = DefaultFormats

  final case class OpRecord(name: String, pass: Int, secs: Double, ok: Boolean, err: String,
      counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val up = epochUs()
    val cfg = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val launchUs = args(1).toLong
    val kind = (cfg \ "kind").extract[String]
    val data = (cfg \ "data").extract[String]
    val work = (cfg \ "work").extract[String]
    val cores = (cfg \ "cores").extract[Int]
    val seconds = (cfg \ "seconds").extract[Double]
    val traced = (cfg \ "trace").extract[Boolean]
    val minWarm = (cfg \ "min_warm_passes").extract[Int]
    val checkPass = (cfg \ "check_pass").extract[Int]
    val inputs = (cfg \ "inputs").extract[Seq[Map[String, JValue]]]

    // Set-up, timed from process launch: JVM start, the session from
    // GraftSession.builder, and the inputs' row counts against the
    // generator's manifest (run.py checked the file digests before launch).
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]").getOrCreate()
    val t1 = System.nanoTime()
    verifyInputs(spark, inputs)
    val setup = Map("jvm_start_s" -> (up - launchUs) / 1e6, "build_s" -> (t1 - t0) / 1e9,
      "verify_s" -> (System.nanoTime() - t1) / 1e9, "setup_s" -> (epochUs() - launchUs) / 1e6)
    System.err.println(s"[harness] set-up $setup")
    if ((cfg \ "setup_only").extract[Boolean]) {
      writeJson(work, "result.json", Map("setup" -> setup))
      spark.stop()
      return
    }

    val trace = if (traced) Some(new Trace(spark)) else None
    val wl: Workload = kind match {
      case "queries" => new QueryWorkload(spark, data, (cfg \ "ops").extract[Seq[String]], work)
      case "etl" => new EtlWorkload(spark, (cfg \ "increments").extract[Seq[String]], work)
    }
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var opId = 0L
    val passOfOp = mutable.HashMap.empty[Long, Int]

    def runPass(p: Int, withTrace: Boolean): Unit = {
      val tr = trace.filter(_ => withTrace)
      tr.foreach(_.attach())
      if (!withTrace) trace.foreach(_.detach())
      val t0 = System.nanoTime()
      wl.beginPass(p)
      for (name <- wl.ops) {
        opId += 1
        passOfOp(opId) = p
        val cg0 = Codegen.snapshot()
        val cache0 = if (withTrace) Dirs.cacheStats() else (0L, 0L)
        val held0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val root = tr.map(_.begin(opId, 0L, "harness", name)).getOrElse(0L)
        val s0 = System.nanoTime()
        val (ok, err) = try { wl.runOp(name, p, p == checkPass, tr, opId, root); (true, "") }
          catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val secs = (System.nanoTime() - s0) / 1e9
        // What the op still holds at its end, released before the next op
        // (graft.Bench's protocol), so every op starts from the same
        // block-manager state.
        val held = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !held0(id) }
        val mat = if (withTrace) Dirs.materialized(spark, held.keySet) else (0, 0L)
        def release(): Unit = held.values.foreach(_.unpersist(blocking = true))
        tr match {
          case Some(t) => t.timed(opId, root, "materialize", "release")(_ => release())
          case None => release()
        }
        tr.foreach(_.end(root))
        val counters = mutable.LinkedHashMap.empty[String, Double]
        val cg1 = Codegen.snapshot()
        counters("codegen.compiles") = (cg1._1 - cg0._1).toDouble
        counters("codegen.compile_ms") = cg1._2 - cg0._2
        counters("codegen.classes") = (cg1._3 - cg0._3).toDouble
        tr.foreach { t =>
          counters ++= t.claim(opId, root, cores).m
          counters ++= wl.spanCounters(opId, t)
          val cache1 = Dirs.cacheStats()
          counters("caches.dirs_created") = (cache1._1 - cache0._1).toDouble
          counters("caches.bytes_written") = math.max(0L, cache1._2 - cache0._2).toDouble
          counters("materialize.rdds") = mat._1.toDouble
          counters("materialize.bytes") = mat._2.toDouble
        }
        counters ++= wl.opCounters()
        records += OpRecord(name, p, secs, ok, err, counters.toMap)
      }
      wl.endPass(p)
      passes += ((p, (System.nanoTime() - t0) / 1e9, withTrace))
    }

    // Cold pass: the first pass in this fresh JVM (JIT, codegen, Caches).
    // The unmeasured settle pass after it is the check pass, so the checked
    // outputs come from a warm pass (Caches hits included) and no metric
    // pays for writing them.
    runPass(0, withTrace = traced)
    // Warm passes until the measured window is used up. A traced run
    // alternates traced and untraced passes to measure tracing overhead.
    val w0 = System.nanoTime()
    var p = 1
    while (p <= minWarm || (System.nanoTime() - w0) / 1e9 < seconds) {
      runPass(p, withTrace = traced && p % 2 == 1)
      p += 1
    }
    trace.foreach(_.detach())
    val checks = wl.check()
    // Self time by layer, per pass.
    val selfByPass = trace.map(t => t.spans.toSeq.groupBy(s => passOfOp.getOrElse(s.op, -1))
      .map { case (p, ss) => p.toString -> Trace.selfByLayer(ss) }).getOrElse(Map.empty)
    trace.foreach { t =>
      writeJson(work, "spans.json", t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
    }
    writeJson(work, "result.json", Map(
      "setup" -> setup,
      "passes" -> passes.toSeq.map { case (i, s, t) => Map("pass" -> i, "secs" -> s, "traced" -> t) },
      "ops" -> records.toSeq.map(r => Map("name" -> r.name, "pass" -> r.pass, "secs" -> r.secs,
        "ok" -> r.ok, "err" -> r.err, "counters" -> r.counters)),
      "self_s_by_pass" -> selfByPass,
      "checks" -> checks,
      "peak_rss_mb" -> Dirs.peakRssMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0)))
    spark.stop()
  }

  private def epochUs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000L
  }

  private def writeJson(work: String, file: String, value: Any): Unit =
    Files.write(Paths.get(work, file),
      JsonMethods.compact(Extraction.decompose(value)).getBytes("UTF-8"))

  /** Parquet-footer row counts against the generator's manifest; a
    * mismatch fails the run before anything is timed. */
  private def verifyInputs(spark: SparkSession, inputs: Seq[Map[String, JValue]]): Unit =
    for (in <- inputs) {
      val paths = in("paths").extract[Seq[String]]
      val rows = paths.map(Dirs.parquetRows(spark, _)).sum
      val want = in("rows").extract[Long]
      require(rows == want, s"input ${paths.head}: $rows rows != manifest $want")
    }
}

/** One workload: the ops of a pass, how to run one, and its output check. */
trait Workload {
  /** The ops of a pass, in the order every pass runs them. */
  def ops: Seq[String]
  def beginPass(pass: Int): Unit = ()
  /** Runs one op; `checked` asks it to keep its output for the check. */
  def runOp(name: String, pass: Int, checked: Boolean, tr: Option[Trace], op: Long,
      root: Long): Unit
  def endPass(pass: Int): Unit = ()
  /** Counters derived from the op's claimed spans (traced runs only). */
  def spanCounters(op: Long, t: Trace): Map[String, Double]
  def opCounters(): Map[String, Double] = Map.empty
  def check(): Map[String, Any]
}

/** Registry queries run to the noop sink (the protocol of `graft.Bench`). */
final class QueryWorkload(spark: SparkSession, data: String, val ops: Seq[String], work: String)
    extends Workload {
  private val fns = SparkEntry.queries
  private val missing = ops.filterNot(fns.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

  // `ops` runs in the same order in every pass and every run: the order
  // decides which generated classes the codegen cache evicts, so a seeded
  // order would make warm passes differ by how much they recompile.

  private var buildS = 0.0

  def runOp(name: String, pass: Int, checked: Boolean, tr: Option[Trace], op: Long,
      root: Long): Unit = {
    val t0 = System.nanoTime()
    val df = tr match {
      case Some(t) => t.timed(op, root, "operators", "build")(_ => fns(name)(spark, data))
      case None => fns(name)(spark, data)
    }
    buildS = (System.nanoTime() - t0) / 1e9
    // The check pass writes each result to parquet for the output check;
    // every other pass uses the noop sink.
    def execute(): Unit =
      if (checked) df.write.mode("overwrite").parquet(s"$work/check/$name")
      else df.write.format("noop").mode("overwrite").save()
    tr match {
      case Some(t) => t.timed(op, root, "exec.driver", "execute")(_ => execute())
      case None => execute()
    }
  }

  override def opCounters(): Map[String, Double] = Map("operators.build_s" -> buildS)

  def spanCounters(op: Long, t: Trace): Map[String, Double] = Map("operators.build_jobs" ->
    t.spans.filter(s => s.op == op && s.name == "build").map(s => t.jobsUnder(s.id)).sum.toDouble)

  /** The check pass left each op's output under check/; the ops' DuckDB
    * oracle SQL goes beside them for run.py's oracle check. */
  def check(): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    new File(work, "check").mkdirs()
    Files.write(Paths.get(work, "check", "_oracle.json"), JsonMethods.compact(
      Extraction.decompose(oracles)(DefaultFormats)).getBytes("UTF-8"))
    Map.empty
  }
}

/** Seeded increments of lineitem through graft's ETL and streaming layers:
  * spec frame, surrogate keys, upsert against the current table version, a
  * parquet write, and the increment's documents as one dedup micro-batch. */
final class EtlWorkload(spark: SparkSession, increments: Seq[String], work: String)
    extends Workload {
  private val docSchema = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  private var dir = ""
  private var keymap: KeyMap = _
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private var lastPass = -1
  private var pending = Map.empty[String, Double]

  val ops: Seq[String] = increments.indices.map(i => f"inc$i%03d")

  private def path(p: Int) = s"$work/etl/pass$p"

  override def beginPass(pass: Int): Unit = {
    if (lastPass >= 0) Dirs.delete(new File(path(lastPass - 1)))
    dir = path(pass)
    new File(s"$dir/stream_in").mkdirs()
    keymap = KeyMap.empty(spark)
    stream = StreamingOps.dedupIngest(
        spark.readStream.schema(docSchema).parquet(s"$dir/stream_in"),
        s"$dir/index", s"$dir/dups")
      .option("checkpointLocation", s"$dir/ckpt").start()
  }

  override def endPass(pass: Int): Unit = {
    stream.stop()
    lastPass = pass
  }

  private def spec(inc: String): String =
    s"""{"source": {"format": "parquet", "path": "$inc/lineitem.parquet"},
       | "transforms": [
       |  {"op": "filter", "expr": "l_quantity > 0"},
       |  {"op": "withColumn", "name": "revenue", "expr": "l_extendedprice * (1 - l_discount)"},
       |  {"op": "select", "columns": ["li_id", "version", "part_ref", "l_orderkey",
       |    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "revenue", "l_shipdate"]}]}
       |""".stripMargin

  def runOp(name: String, pass: Int, checked: Boolean, tr: Option[Trace], op: Long,
      root: Long): Unit = {
    val i = name.drop(3).toInt
    val inc = increments(i)
    def step[T](layer: String, nm: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tr match {
        case Some(t) => t.timed(op, root, layer, nm)(_ => f)
        case None => f
      }
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (frame, specS) = step("etl.spec", "spec")(PipelineSpec.frame(spark, spec(inc)))
    val (facts, keymapS) = step("etl.keymap", "keymap") {
      val next = keymap.transact(frame.select("part_ref"))
      next.dim.write.mode("overwrite").parquet(s"$dir/keymap/v$i")
      keymap = KeyMap.fromDim(spark.read.parquet(s"$dir/keymap/v$i"), "key", "value")
      keymap.lookup(frame, "part_ref").withColumnRenamed("key", "part_sk")
    }
    val novel = Dirs.parquetRows(spark, s"$dir/keymap/v$i") -
      (if (i == 0) 0L else Dirs.parquetRows(spark, s"$dir/keymap/v${i - 1}"))
    val (merged, upsertS) = step("etl.upsert", "upsert") {
      val current =
        if (i == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], facts.schema)
        else spark.read.parquet(s"$dir/table/v${i - 1}")
      Upsert.mergeUpdate(current, facts, Seq("li_id"))
    }
    val (_, sinkS) = step("etl.sink", "sink")(ParquetSink(s"$dir/table/v$i").write(merged))
    if (i >= 2) Dirs.delete(new File(s"$dir/table/v${i - 2}"))
    val (progress, batchS) = step("streaming", "batch") {
      val src = Paths.get(s"$inc/documents.parquet")
      val tmp = Paths.get(s"$dir/stream_in/.inc$i.parquet")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(s"$dir/stream_in/inc$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
      Option(stream.lastProgress)
    }
    val dur = progress.map(_.durationMs).getOrElse(new java.util.HashMap[String, java.lang.Long]())
    def d(k: String): Double = Option(dur.get(k)).map(_.doubleValue).getOrElse(0.0)
    val tableDir = new File(s"$dir/table/v$i")
    pending = Map(
      "etl.spec_s" -> specS, "etl.keymap_s" -> keymapS, "etl.upsert_s" -> upsertS,
      "etl.sink_s" -> sinkS, "etl.novel_keys" -> novel.toDouble,
      "etl.out_bytes" -> Dirs.parquetBytes(tableDir).toDouble,
      "etl.out_files" -> Dirs.parquetCount(tableDir).toDouble,
      "streaming.batch_s" -> batchS, "streaming.trigger_ms" -> d("triggerExecution"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.input_rows" -> progress.map(_.numInputRows.toDouble).getOrElse(0.0),
      "streaming.index_bytes" -> Dirs.parquetBytes(new File(s"$dir/index")).toDouble)
  }

  override def opCounters(): Map[String, Double] = { val p = pending; pending = Map.empty; p }

  /** Jobs the surrogate-key step ran, and the sink's commit time: from its
    * last write job's end to the sink call's return. */
  def spanCounters(op: Long, t: Trace): Map[String, Double] = {
    val mine = t.spans.filter(_.op == op)
    val keymapJobs = mine.filter(_.layer == "etl.keymap").map(s => t.jobsUnder(s.id)).sum
    val commit = mine.find(_.layer == "etl.sink").map { s =>
      val ends = mine.filter(j => j.parent == s.id && j.layer == "exec.scheduler").map(_.endUs)
      (s.endUs - (if (ends.isEmpty) s.startUs else ends.max)) / 1e6
    }.getOrElse(0.0)
    Map("etl.keymap_jobs" -> keymapJobs.toDouble, "etl.commit_s" -> commit)
  }

  /** The last complete pass is left on disk for run.py's invariant checks. */
  def check(): Map[String, Any] = {
    val last = increments.size - 1
    Map("state" -> path(lastPass), "table" -> s"${path(lastPass)}/table/v$last",
      "keymap" -> s"${path(lastPass)}/keymap/v$last", "index" -> s"${path(lastPass)}/index")
  }
}

/** Whole-stage codegen counters, read as `graft.BenchFocus` reads them. */
object Codegen {
  def snapshot(): (Long, Double, Long) = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val h = cg.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount, cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}

object Dirs {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil

  private def parquetFiles(f: File): Seq[File] = walk(f).filter(_.getName.endsWith(".parquet"))
  def parquetBytes(f: File): Long = parquetFiles(f).map(_.length).sum
  def parquetCount(f: File): Int = parquetFiles(f).size

  /** Rows of a parquet file, or of every part file under a directory,
    * from the footers. */
  def parquetRows(spark: SparkSession, path: String): Long =
    parquetFiles(new File(path)).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** graft's write-once caches live under java.io.tmpdir/graft_cache:
    * (directories, bytes). */
  def cacheStats(): (Long, Long) = {
    val root = new File(System.getProperty("java.io.tmpdir"), "graft_cache")
    val dirs = Option(root.listFiles()).toSeq.flatten.count(_.isDirectory)
    (dirs.toLong, walk(root).map(_.length).sum)
  }

  /** The persisted RDDs `ids`, and their size in memory and on disk. */
  def materialized(spark: SparkSession, ids: collection.Set[Int]): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
    (ids.size, infos.map(i => i.memSize + i.diskSize).sum)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
