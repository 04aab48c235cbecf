package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{CuratedQuery, GraftSession, SchemaDdl, Serving}
import graft.ext.{Dedup, TrainingPipeline}

/** JVM side of the benchmark: runs one workload as a closed loop with
  * one client and writes a raw result file (per-operation seconds,
  * observed outputs, and in traced runs the spans and listener events).
  * `run.py` generates the inputs, checks the outputs and turns the raw
  * file into metrics.
  *
  * Usage: Harness --workload <etl_curated|catalog_sweep|llm_ingest>[,...]
  *   --data <generated inputs> --catalog-dir <catalog tables>
  *   --work <scratch dir> --out <result.json>
  *   --seconds <n> --seed <n> --trace 0|1 [--cores n] [--keys a,b,...]
  */
object Harness {
  final case class Args(workload: String, data: String, catalogDir: String,
      work: String, out: String, seconds: Double, seed: Long, trace: Boolean,
      cores: Int, keys: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m.getOrElse("catalog-dir", ""), m("work"), m("out"),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("seed", "0").toLong,
      m.getOrElse("trace", "0") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("keys", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(a.work))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    GraftSession.tuned(spark)
    AfterGc.install()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = new Trace(spark)
    val res = new Result
    res.setup("session_s") = sessionS
    // an untraced run measures one workload; a traced run may walk
    // several (each on its own inputs), so it reports all their layers
    try a.workload.split(",").foreach { w =>
      res.wl = w
      w match {
      case "etl_curated" => new Etl(spark, a, trace, res).run()
      case "catalog_sweep" => new CatalogSweep(spark, a, trace, res).run()
      case "llm_ingest" => new LlmIngest(spark, a, trace, res).run()
      case _ => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      val body = Map(
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "env" -> Map("spark_version" -> spark.version,
          "java_version" -> System.getProperty("java.version"),
          "java_vm" -> System.getProperty("java.vm.name"),
          "master" -> s"local[${a.cores}]", "cores" -> a.cores,
          "shuffle_partitions" -> a.cores),
        "setup" -> res.setup, "peak_rss_kb" -> peakRssKb(),
        "after_gc_bytes" -> AfterGc.used.asScala.map(_.longValue).toSeq,
        "samples" -> res.samples.toSeq,
        "observed" -> res.observed, "errors" -> res.errors.toSeq,
        "trace_data" -> (if (a.trace) trace.toJson else Map.empty[String, Any]))
      spark.stop()
      Files.write(Paths.get(a.out), Json.render(body).getBytes("UTF-8"))
    }
  }

  /** What a run hands back to run.py. `samples` holds one entry per
    * timed operation ({"kind", "name", "seconds", ...}); `observed`
    * holds output values for the checks; `errors` operations that threw.
    */
  final class Result {
    val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val errors = ArrayBuffer.empty[Map[String, Any]]

    /** Workload being run: prefixes every key it records. */
    var wl = ""
    def key(k: String): String = s"$wl.$k"

    /** Record one timed operation (and log it, for the run's log). */
    def sample(kind: String, name: String, seconds: Double, more: (String, Any)*): Unit = {
      samples += Map("workload" -> wl, "kind" -> kind, "name" -> name,
        "seconds" -> seconds) ++ more
      val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      System.err.println(f"[perfbench] $up%.1f $wl $kind $name $seconds%.3f s")
    }

    def fail(kind: String, name: String, e: Throwable): Unit =
      errors += Map("workload" -> wl, "kind" -> kind, "name" -> name,
        "error" -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
  }

  /** VmHWM of this JVM (peak resident set), from /proc/self/status. */
  def peakRssKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** Memory in use right after each garbage collection of the run:
    * heap plus non-heap pools (metaspace, code cache). Live data and
    * retained garbage, not the heap size the collector chose. */
  object AfterGc {
    val used = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val after = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
                .getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              used.add(after)
            }, null, null)
        case _ =>
      }
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (value, wall seconds, CPU seconds of the whole JVM) of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val (v, s) = secs(body)
    (v, s, (os.getProcessCpuTime - c0) / 1e9)
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Call `op` until `budgetS` seconds of wall time have passed, at
    * least `minOps` times, and return the number of calls. `op` returns
    * whether it succeeded; a failed call ends the loop, so a broken
    * program reports its failure instead of spinning until a timeout. */
  def loop(budgetS: Double, minOps: Int)(op: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    var i = 0
    var ok = true
    while (ok && (i < minOps || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      ok = op(i)
      i += 1
    }
    i
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

import Harness._

/** The paper's dataflow: 8× CSV→Parquet, the curated query with its
  * cached single-file write, the DDL conform, and the catalog table
  * write plus its count check. */
final class Etl(spark: SparkSession, a: Args, trace: Trace, res: Result) {
  private val data = s"${a.data}/etl"
  private val proc = s"${a.work}/etl/processing"
  private val cur = s"${a.work}/etl/curated"
  private val table = "curated_sales"

  /** One pass; every public call is a span, so a traced pass runs
    * exactly the code an untraced one does. */
  private def pass(kind: String, i: Int): Unit = {
    def call[T](fn: String)(body: => T): T = trace.span(s"engine.$fn", kind)(body)
    val (df, s, cpu) = timed(trace.span("pass", kind) {
      val df = call("CuratedQuery.runPipeline")(
        CuratedQuery.runPipeline(spark, data, proc, cur))
      call("Serving.saveCatalogTable")(
        Serving.saveCatalogTable(SchemaDdl.conform(df), table))
      res.observed(res.key(s"$kind.catalog_count.$i")) =
        call("Serving.catalogCount")(Serving.catalogCount(spark, table))
      df
    })
    // output checks, outside the timed region
    res.observed(res.key(s"$kind.curated_rows.$i")) = df.count()
    df.unpersist()
    res.observed(res.key(s"$kind.schema_ok.$i")) = schemaOk()
    res.sample(kind, s"pass$i", s, "cpu_s" -> cpu)
  }

  private def schemaOk(): Boolean = {
    val got = spark.table(table).schema.fields.map(f => f.name -> f.dataType.simpleString)
    val want = SchemaDdl.curatedSchema.fields.map(f => f.name -> f.dataType.simpleString)
    got.sameElements(want)
  }

  private def guarded(kind: String, i: Int): Boolean =
    try { pass(kind, i); true }
    catch { case e: Exception => res.fail(kind, s"pass$i", e); false }

  def run(): Unit =
    if (!a.trace) {
      // like the reference's one-job-per-run deployment, the first pass
      // runs in a fresh JVM; further passes while under the budget
      loop(a.seconds, 1)(i => guarded("pass", i))
    } else {
      // a warm-up pass, then the same pass untraced and traced: the
      // tracing overhead
      guarded("warmup", 0) && guarded("untraced", 0) && {
        trace.listen(true)
        try guarded("traced", 0) finally trace.listen(false)
      }
      res.observed(res.key("traced.parquet_bytes")) = dirBytes(proc)
    }
}

/** Analyst-session traffic: registered catalog keys over the generated
  * tables, in a seed-permuted order, each sweep starting from empty
  * session memos. */
final class CatalogSweep(spark: SparkSession, a: Args, trace: Trace, res: Result) {
  // the catalog tables are seed-independent: generated and converted
  // once per checkout into a cache directory that later runs reuse
  private val data = a.catalogDir
  private val sf = s"$data/parquet"

  /** Key → module, from the per-module registries Catalog.all joins. */
  private val modules: Seq[(String, Seq[graft.GraftQuery])] = Seq(
    "CuratedQuery" -> graft.engine.CuratedQuery.queries,
    "RelationalOps" -> graft.operators.RelationalOps.queries,
    "WindowOps" -> graft.operators.WindowOps.queries,
    "TopK" -> graft.operators.TopK.queries,
    "AsOfJoin" -> graft.operators.AsOfJoin.queries,
    "RangeJoin" -> graft.operators.RangeJoin.queries,
    "ScaleOps" -> graft.operators.ScaleOps.queries,
    "TextOps" -> graft.functions.TextOps.queries,
    "Dedup" -> graft.ext.Dedup.queries,
    "Cleaning" -> graft.ext.Cleaning.queries,
    "TrainingPrep" -> graft.ext.TrainingPrep.queries,
    "TimeSeries" -> graft.ext.TimeSeries.queries,
    "RevenueOps" -> graft.ext.RevenueOps.queries,
    "Similarity" -> graft.ext.Similarity.queries,
    "GraphOps" -> graft.ext.GraphOps.queries,
    "MiningOps" -> graft.ext.MiningOps.queries,
    "WebOps" -> graft.ext.WebOps.queries,
    "Multimodal" -> graft.ext.Multimodal.queries,
    "EventOps" -> graft.streaming.EventOps.queries)

  private def convert(): Unit = {
    val schemas = schemasOf(s"$data/schemas.tsv")
    schemas.foreach { case (name, cols) =>
      val raw = spark.read.option("header", "true").option("escape", "\"")
        .csv(s"$data/$name.csv")
      val typed = raw.select(cols.map { case (c, t) =>
        if (name == "embeddings" && c == "embedding")
          expr(s"transform(split($c, ';'), x -> CAST(x AS FLOAT))").as(c)
        else col(c).cast(t).as(c)
      }: _*)
      typed.coalesce(1).write.mode("overwrite").parquet(s"$sf/$name.parquet")
    }
  }

  // schemas.tsv: "<table>\t<col> <type>, <col> <type>, ..." per line
  private def schemasOf(p: String): Seq[(String, Seq[(String, String)])] =
    scala.io.Source.fromFile(p, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(t, s) = l.split("\t", 2)
      t -> s.split(",").map(_.trim.split(" ", 2)).map(x => x(0) -> x(1)).toSeq
    }.toSeq

  def run(): Unit = {
    val done = Paths.get(s"$sf/_CONVERTED")
    if (!Files.exists(done)) {
      res.setup(res.key("cache_convert_s")) = secs(convert())._2
      Files.write(done, Array.emptyByteArray)
    }
    val all = graft.Catalog.byName
    val keys: Seq[String] = a.keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    res.observed(res.key("modules")) = modules.flatMap { case (m, qs) =>
      qs.map(q => q.name -> m) }.toMap.filter { case (k, _) => keys.contains(k) }

    /** One sweep; false when any key failed (every key still runs).
      * `digest`: also record each key's output digest. */
    def sweep(kind: String, s: Int, order: Seq[String], digest: Boolean): Boolean = {
      Dedup.clearSessionMemos()
      order.map { k =>
        try {
          val ((rows, qe), t, cpu) = timed {
            trace.span("key", k) {
              val df = all(k).build(spark, sf)
              val n = df.queryExecution.toRdd.count()
              if (a.trace) trace.recordPlanning(df.queryExecution)
              (n, df.queryExecution)
            }
          }
          // output digest, outside the timed region: a second action on
          // the same RDD, so only its final stage runs again
          val digested = if (!digest) Nil else {
            val (dRows, d) = Digest.of(qe)
            Seq("digest_rows" -> dRows, "digest" -> d)
          }
          res.sample(kind, k, t, Seq("cpu_s" -> cpu, "sweep" -> s, "rows" -> rows) ++ digested: _*)
          true
        } catch { case e: Throwable => res.fail(kind, k, e); false }
      }.forall(identity)
    }
    val rng = new scala.util.Random(a.seed)
    // session warm-up outside any key's timing: the first measured sweep
    // still pays the JIT of a fresh analyst session, as users do
    res.setup(res.key("warmup_s")) = secs {
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("q_join_chain", "q_group_agg").foreach(k =>
        all(k).build(spark, sf).queryExecution.toRdd.count())
      Dedup.clearSessionMemos()
    }._2
    if (!a.trace) loop(a.seconds, 1)(s => sweep("key", s, rng.shuffle(keys), digest = true))
    else {
      // a warm-up sweep, then the same order untraced and traced: the
      // tracing overhead (only the traced sweep's outputs are digested)
      val order = rng.shuffle(keys)
      sweep("warmup", 0, order, digest = false) &&
        sweep("untraced", 0, order, digest = false) && {
          trace.listen(true)
          try sweep("traced", 0, order, digest = true) finally trace.listen(false)
        }
    }
    Dedup.clearSessionMemos()
  }
}

/** Order-insensitive digest of a result: the sum (mod 2^64) of one
  * 64-bit md5 prefix per row. Floating values are rendered with 6
  * significant digits (|x| < 1e-9 as 0), so a reordered floating-point
  * sum does not change the digest. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => num(d.doubleValue)
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def rowHash(r: Row): Long = java.nio.ByteBuffer.wrap(
    java.security.MessageDigest.getInstance("MD5")
      .digest(render(r).getBytes("UTF-8"))).getLong

  /** (rows, digest) of an executed query, from its already-computed
    * RDD (re-running only the final stage). */
  def of(qe: org.apache.spark.sql.execution.QueryExecution): (Long, String) = {
    val schema = qe.analyzed.schema
    val parts = qe.toRdd.mapPartitions { it =>
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      var n = 0L
      var acc = 0L
      it.foreach { r => acc += rowHash(conv(r).asInstanceOf[Row]); n += 1 }
      Iterator((n, acc))
    }.collect()
    (parts.map(_._1).sum, java.lang.Long.toUnsignedString(parts.map(_._2).sum, 16))
  }
}

/** Corpus ingest, walked by traced runs only: one
  * `TrainingPipeline.streamingIngest` query against the generated
  * corpus, fed one arrival batch at a time. */
final class LlmIngest(spark: SparkSession, a: Args, trace: Trace, res: Result) {
  private val data = s"${a.data}/llm"
  private val base = s"${a.work}/llm"
  private val corpusPath = s"$base/corpus.parquet"
  private val cfg = TrainingPipeline.Config(urlDedupCol = Some("url"))
  private val schema = "doc_id BIGINT, text STRING, lang STRING, " +
    "source STRING, n_chars BIGINT, url STRING"
  private var staged = Seq.empty[Path]

  private def convert(): Unit = {
    spark.read.schema(schema).json(s"$data/corpus.jsonl")
      .write.mode("overwrite").parquet(corpusPath)
    val batchFiles = new java.io.File(data).listFiles()
      .filter(f => f.getName.startsWith("batch_") && f.getName.endsWith(".jsonl"))
      .sortBy(_.getName.stripPrefix("batch_").stripSuffix(".jsonl").toInt)
    staged = batchFiles.toSeq.map { f =>
      val dir = s"$base/staged/${f.getName.stripSuffix(".jsonl")}"
      spark.read.schema(schema).json(f.getPath).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
  }

  /** One ingest query fed the arrival batches one at a time (the next
    * goes in after processAllAvailable returns); its survivors per batch
    * are recorded under `kind`. */
  private def stream(kind: String): Unit = {
    val dir = s"$base/$kind/in"
    val out = s"$base/$kind/out"
    deleteTree(s"$base/$kind")
    Files.createDirectories(Paths.get(dir))
    try {
      val corpus = spark.read.parquet(corpusPath)
      val q = TrainingPipeline.streamingIngest(corpus, dir, out, s"$base/$kind/ckpt", cfg)
      try staged.zipWithIndex.foreach { case (file, b) =>
        Files.copy(file, Paths.get(s"$base/staging_tmp.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.move(Paths.get(s"$base/staging_tmp.parquet"),
          Paths.get(s"$dir/batch_$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        val (_, s) = secs(trace.span("batch", s"$kind$b")(q.processAllAvailable()))
        res.sample(kind, s"batch$b", s)
      } finally {
        q.stop()
        TrainingPipeline.releaseIngestState(out)
      }
    } catch { case e: Exception => res.fail(kind, "stream", e) }
    // survivors per micro-batch, outside the timed region
    res.observed(res.key(s"$kind.survivors")) =
      try spark.read.parquet(out).groupBy("batch_id").count().collect()
        .map(r => r.get(0).toString.toLong -> r.getLong(1)).sortBy(_._1).map(_._2).toSeq
      catch { case e: Exception => res.fail(kind, "survivors", e); Seq.empty[Long] }
  }

  def run(): Unit = {
    res.setup(res.key("convert_s")) = secs(convert())._2
    trace.listen(true)
    try stream("traced") finally trace.listen(false)
  }
}
