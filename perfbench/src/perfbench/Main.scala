package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{AnnSubstrate, GraftExtensions, OracleCtx, SparkEntry}
import graft.expressions.Md5TokenHash64
import graft.pipeline.{IngestPipeline, Validation}
import graft.streaming.{CorpusStateStream, FileWatch}

/** The benchmark's JVM side: sets up a session, runs one workload against
  * the public entry points of the graft layers for a fixed time, checks
  * what it can check inside Spark, and writes a JSON record.
  *
  * Usage: Main key=value ... with keys workload, input, work, out, seconds,
  * cores, seed, trace (0|1), setups, plus the workload's own parameters
  * (see each workload). Inputs are written beforehand by gen.py.
  */
object Main {
  private var opts: Map[String, String] = Map.empty
  private def opt(k: String): String =
    opts.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
  private def optInt(k: String): Int = opt(k).toInt
  private def optD(k: String): Double = opt(k).toDouble

  private val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val trace = new Trace

  def main(args: Array[String]): Unit = {
    opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val seconds = optD("seconds")
    val w: Workload = workload match {
      case "ingest-trickle" => new Trickle
      case "analytics-mix"  => new Analytics
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up, several times: session, extension registration and the
    // workload's untimed warm-up; the last session is kept for the window
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until optInt("setups")) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(optInt("cores"))
      w.warmUp(spark, i)
      setups += (System.nanoTime() - t0) / 1e9
    }
    if (traced) trace.attach(spark)
    record("setup_s") = setups.toSeq
    val t0 = System.nanoTime()
    trace.span("window")(w.run(spark, seconds))
    record("window_s") = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    w.check(spark)
    record("check_s") = (System.nanoTime() - c0) / 1e9
    spark.stop()
    val body = Json.obj(record.toSeq: _*)
    val out = opt("out")
    Files.writeString(Paths.get(out), body + "\n")
    if (traced) Files.write(Paths.get(out + ".trace"), trace.lines.asJava)
  }

  /** `graft.Bench`'s session settings. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark
  }

  private def path(p: String): String = Paths.get(p).toAbsolutePath.toString
  private def listNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq).getOrElse(Nil)
      .filter(n => n.endsWith(".csv") || n.endsWith(".json")).sorted

  trait Workload {
    def warmUp(spark: SparkSession, rep: Int): Unit
    def run(spark: SparkSession, seconds: Double): Unit
    def check(spark: SparkSession): Unit
  }

  // ------------------------------------------------------------ ingest

  /** The reference's pipeline configuration (Main.py rules, parquet sink). */
  def watchConfig(work: String, schemaDir: String): FileWatch.Config =
    FileWatch.Config(
      dataDir = s"$work/watch", schemaDir = schemaDir,
      processedDir = s"$work/processed",
      quarantineFileDir = s"$work/quarantined_files",
      pipeline = IngestPipeline.Config(
        validation = Validation.Config(
          keyFields = Seq("sensor_id", "timestamp", "temperature_C"),
          numericFields = Seq("temperature_C"),
          ranges = Seq(Validation.InRange("temperature_C", -50, 50)),
          heavyNullThreshold = 0.5),
        sink = IngestPipeline.ParquetSink(s"$work/sink"),
        auditDir = s"$work/audit",
        quarantineDir = s"$work/quarantine"),
      triggerSeconds = 0,
      checkpointDir = s"$work/checkpoint")

  /** Move `names` from `from` into the watch dir, atomically each. */
  private def release(from: String, names: Seq[String], cfg: FileWatch.Config): Unit =
    names.foreach(n => Files.move(Paths.get(from, n), Paths.get(cfg.dataDir, n),
      StandardCopyOption.ATOMIC_MOVE))

  /** Open loop: a generator thread renames pre-written files into the
    * watch dir at their due times (rate files/s) while a FileWatch query
    * with trigger 0 runs; a poller stamps each file's arrival in
    * processed/, which FileWatch does only after the SUCCESS audit row.
    * Params: rows (per file), drain (s to wait for the backlog after the
    * last release). */
  class Trickle extends Workload {
    val input = path(opt("input"))
    val work = path(opt("work"))
    val schemaDir = s"$input/schema"
    lazy val cfg = watchConfig(s"$work/run", schemaDir)

    /** Warm-up: drain two small files (one CSV, one JSON) through a
      * throw-away watcher with availableNow. */
    def warmUp(spark: SparkSession, rep: Int): Unit = {
      val wcfg = watchConfig(s"$work/warm$rep", schemaDir)
      FileWatch.bootstrap(spark, wcfg)
      val src = s"$input/warm$rep"
      release(src, listNames(src), wcfg)
      FileWatch.start(spark, wcfg, availableNow = true).awaitTermination()
    }

    /** Sink-side counts compared with the generator's ground truth. */
    def check(spark: SparkSession): Unit = {
      val p = cfg.pipeline
      val fs = new java.io.File(cfg.processedDir)
      val audit = spark.read.json(p.auditDir)
      val ok = audit.filter(col("status") === "SUCCESS")
      val sums = ok.agg(
        coalesce(sum("total_rows"), lit(0L)), coalesce(sum("good_rows"), lit(0L)),
        coalesce(sum("bad_rows"), lit(0L))).head()
      val auditedFiles = ok.select(explode(split(col("file_name"), ",")))
        .distinct().count()
      def count(dir: String, read: String => DataFrame): Long =
        if (Files.exists(Paths.get(dir))) read(dir).count() else 0L
      record("check") = Map(
        "audit_success_rows" -> ok.count(),
        "audit_failure_rows" -> audit.filter(col("status") =!= "SUCCESS").count(),
        "audit_total" -> sums.getLong(0), "audit_good" -> sums.getLong(1),
        "audit_bad" -> sums.getLong(2), "audited_files" -> auditedFiles,
        "fact_rows" -> count(s"$work/run/sink/public_sensors_transformed",
          spark.read.parquet(_)),
        "agg_rows" -> count(s"$work/run/sink/public_sensors_agg", spark.read.parquet(_)),
        "quarantine_rows" -> count(s"${p.quarantineDir}/public.sensors",
          spark.read.json(_)),
        "processed_files" -> listNames(fs.getPath).size)
      record("processed_names") = listNames(fs.getPath)
      record("files_written") = Seq(s"$work/run/sink", p.auditDir, p.quarantineDir)
        .map(d => Paths.get(d)).filter(Files.exists(_))
        .map(d => Files.walk(d).iterator().asScala
          .count(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
            f.getFileName.toString.startsWith("part-"))).sum
    }

    def run(spark: SparkSession, seconds: Double): Unit = {
      FileWatch.bootstrap(spark, cfg)
      val staged = s"$input/trickle"
      val names = listNames(staged)
      val due = names.map(n => n -> n.split('.')(2).drop(1).toLong).toMap
      val done = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val released = new java.util.concurrent.atomic.AtomicInteger(0)
      val lateness = ArrayBuffer.empty[Double]
      @volatile var stop = false
      @volatile var backlogMax = 0
      val poller = new Thread(() => {
        while (!stop) {
          val now = System.nanoTime()
          val rel = released.get()
          listNames(cfg.processedDir).foreach(n => done.putIfAbsent(n, now))
          backlogMax = math.max(backlogMax, rel - done.size)
          Thread.sleep(5)
        }
      }, "perfbench-poller")
      val query = FileWatch.start(spark, cfg)
      poller.start()
      val t0 = System.nanoTime()
      val gen = new Thread(() => {
        names.foreach { n =>
          val at = t0 + due(n) * 1000000L
          var now = System.nanoTime()
          while (now < at) {
            Thread.sleep(math.max(1L, (at - now) / 1000000L))
            now = System.nanoTime()
          }
          release(staged, Seq(n), cfg)
          lateness += (System.nanoTime() - at) / 1e6
          released.incrementAndGet()
        }
      }, "perfbench-generator")
      trace.span("ingest.window") {
        gen.start(); gen.join()
        val deadline = System.nanoTime() + (optD("drain") * 1e9).toLong
        while (done.size < names.size && System.nanoTime() < deadline &&
            query.isActive) Thread.sleep(5)
      }
      stop = true; poller.join()
      query.stop()
      val lat = names.flatMap(n => Option(done.get(n))
        .map(c => (c - t0 - due(n) * 1000000L) / 1e9))
      record("files") = names.size
      record("completed") = lat.size
      record("latency_s") = lat
      record("rows_per_file") = optInt("rows")
      record("generator_lateness_ms") = lateness.toSeq
      record("backlog_max_files") = backlogMax
      record("exception") = query.exception.map(_.toString)
    }
  }

  // ------------------------------------------------------------ analytics

  /** Closed loop, one client. Each cycle runs, in a seeded order, every
    * query of the mix twice through the noop sink (as `graft.Bench` times
    * them) and one corpus-state step as two operations: `state.update` appends
    * the next document slice to the maintained vocabulary and bigram state,
    * then `state.serve` runs the served unigram and bigram LM reads of the
    * slice after it against that state. The window runs one cycle per 10 s
    * of `seconds`, so every run times the same operations. Then both delta
    * logs fold, and one forget batch removes `forget_frac` of the counted
    * documents (both timed, outside the operations).
    * Params: queries (comma list), forget_frac. */
  class Analytics extends Workload {
    val input = path(opt("input"))
    val tables = s"$input/tables"
    val docsPath = s"$input/docs.parquet"
    val work = path(opt("work"))
    val stateDir = s"$work/state"
    lazy val names = opt("queries").split(",").toSeq
    lazy val qs = {
      val byName = SparkEntry.all.map(q => q.name -> q).toMap
      names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"no query $n")))
    }
    private var steps = 0

    /** Between queries, drop what the previous one left persisted,
      * sparing the shared ANN substrate (`graft.Bench`'s sweep). */
    private def sweep(spark: SparkSession): Unit = {
      val keep = AnnSubstrate.protectedRddIds(spark)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = false) }
    }

    private def query(spark: SparkSession, q: graft.Q): Unit = {
      sweep(spark)
      trace.span("query", "query" -> q.name) {
        q.run(spark, tables).write.format("noop").mode("overwrite").save()
      }
    }

    private def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsPath)
    private def slice(spark: SparkSession, i: Int): DataFrame =
      docs(spark).filter(col("slice") === i).drop("slice", "forget_rank")

    /** One state step as two operations: `state.update` appends slice i
      * to the vocabulary and bigram state, then `state.serve` runs the
      * served LM reads of slice i + 1 against it. Each call is a span. */
    private def stateOps(spark: SparkSession, dir: String, i: Int)
        : Seq[(String, () => Unit)] = {
      def call(name: String)(body: => Unit): Unit = trace.span(name, "batch" -> i)(body)
      def serve(df: => DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      Seq(
        "state.update" -> (() => {
          call("state.update_vocab")(CorpusStateStream.updateVocab(dir)(slice(spark, i), i))
          call("state.update_bigrams")(
            CorpusStateStream.updateBigrams(dir)(slice(spark, i), i))
        }),
        "state.serve" -> (() => {
          call("state.serve_lm")(
            serve(CorpusStateStream.lmScoreAgainstState(dir, slice(spark, i + 1))))
          call("state.serve_nll")(
            serve(CorpusStateStream.bigramNllAgainstState(dir, slice(spark, i + 1))))
        }))
    }

    private def fold(spark: SparkSession, dir: String): Long =
      CorpusStateStream.foldVocab(spark, dir)._1 + CorpusStateStream.foldBigrams(spark, dir)._1

    def warmUp(spark: SparkSession, rep: Int): Unit = {
      // the auto-nlist oracles read this count: it must be set before
      // SparkEntry is first touched
      if (rep == 0) OracleCtx.setEmbeddingsCount(
        spark.read.parquet(s"$tables/embeddings.parquet").count())
      stateOps(spark, s"$work/warm$rep", 0).foreach(_._2())
      qs.foreach(query(spark, _))
    }

    def run(spark: SparkSession, seconds: Double): Unit = {
      val rng = new scala.util.Random(opt("seed").toLong)
      val slices = docs(spark).agg(max("slice")).head().getInt(0)
      val ops = ArrayBuffer.empty[(String, Double)]
      def timed(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        ops += name -> (System.nanoTime() - t0) / 1e9
      }
      val cycles = math.max(1, math.round(seconds / 10).toInt)
      require(cycles + 1 < slices, s"$slices slices hold no $cycles cycles")
      for (i <- 0 until cycles) {
        val (update, serve) = stateOps(spark, stateDir, i).splitAt(1)
        // the served reads follow this step's update
        val passes = Seq.fill(2)(qs).flatten
        val order = rng.shuffle(passes.map(q => q.name -> (() => query(spark, q))) ++ update) ++
          serve
        order.foreach { case (name, body) => timed(name)(body()) }
        steps += 1
      }
      record("cycles") = cycles
      record("ops") = ops.map { case (n, s) => Seq(n, s) }.toSeq
      val f0 = System.nanoTime()
      record("fold_rows_before") = trace.span("state.fold")(fold(spark, stateDir))
      record("fold_s") = (System.nanoTime() - f0) / 1e9
      val g0 = System.nanoTime()
      trace.span("state.forget", "batch" -> steps) {
        val gone = forgotten(spark)
        CorpusStateStream.forgetVocab(stateDir)(gone, steps)
        CorpusStateStream.forgetBigrams(stateDir)(gone, steps)
      }
      record("forget_s") = (System.nanoTime() - g0) / 1e9
      record("docs") = docs(spark).filter(col("slice") < steps).count()
      record("state_bytes") = Files.walk(Paths.get(stateDir)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      record("ledger_files") = Seq("vocab_ledger", "bigrams_ledger").map(t =>
        Option(new java.io.File(s"$stateDir/$t").list())
          .map(_.count(_.endsWith(".parquet"))).getOrElse(0)).sum
    }

    /** The forgotten documents: the `forget_frac` of those counted, at
      * least one, with the lowest seeded rank. */
    private def forgotten(spark: SparkSession): DataFrame = {
      val counted = docs(spark).filter(col("slice") < steps)
      val k = math.max(1L, math.round(counted.count() * optD("forget_frac")))
      counted.orderBy("forget_rank").limit(k.toInt).drop("slice", "forget_rank")
    }

    /** Each query's result as parquet plus its DuckDB oracle SQL, for the
      * oracle compare; and the served net vocabulary and bigram counts
      * after the forget against a batch recount over the surviving
      * documents (its own token and pair derivation, not the state
      * family's). */
    def check(spark: SparkSession): Unit = {
      val out = s"$work/check"
      qs.foreach(q => q.run(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/${q.name}"))
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(oracle))
      record("check_dir") = out
      val survivors = docs(spark).filter(col("slice") < steps)
        .join(forgotten(spark).select("doc_id"), Seq("doc_id"), "left_anti")
      val toks = survivors.select(Md5TokenHash64.words(lower(col("text"))).as("hs"))
      val vocab = toks.select(explode(col("hs")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val n1 = greatest(size(col("hs")) - lit(1), lit(0))
      val bigrams = toks.select(explode(zip_with(
          org.apache.spark.sql.functions.slice(col("hs"), lit(1), n1),
          org.apache.spark.sql.functions.slice(col("hs"), lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2")).agg(count(lit(1)).as("cnt"))
      /** (served rows, keys whose served count differs from the recount) */
      def compare(served: DataFrame, recount: DataFrame, keys: Seq[String]): (Long, Long) = {
        val r = served.join(recount.withColumnRenamed("cnt", "recount"), keys, "full_outer")
          .agg(count(col("cnt")),
            coalesce(sum(when(col("cnt") <=> col("recount"), 0L).otherwise(1L)), lit(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val (vRows, vDiff) = compare(CorpusStateStream.vocabState(spark, stateDir), vocab, Seq("w"))
      val (bRows, bDiff) = compare(CorpusStateStream.bigramLmState(spark, stateDir), bigrams,
        Seq("w1", "w2"))
      record("check") = Map("vocab_rows" -> vRows, "vocab_diff" -> vDiff,
        "bigram_rows" -> bRows, "bigram_diff" -> bDiff,
        "forgotten_docs" -> forgotten(spark).count())
    }
  }
}
