package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{Dedup, Graph}
import graft.ingest.RawZoneGen
import graft.sources.{Changelog, Sinks}
import graft.transform.{Financials, Summary}

/** The fact-pipeline benchmark: one JVM, one closed-loop client thread,
  * three workloads (`build`, `maintain`, `curate`) driving the public
  * functions of `graft.transform`, `graft.sources` and `graft.ext` on
  * inputs generated from `--seed`. Every operation's output is checked
  * against a value derived here, independently of the program.
  *
  * The JVM writes one raw record (header, set-up times, one entry per
  * operation, and in traced mode the job, task and planning spans) to
  * `--out`; `perfbench/run.py` turns it into metrics. Usage:
  *
  *   perfbench.PerfBench --workload build --seed 1 --seconds 20
  *     --trace 0 --root <scratch dir> --out <record.json>
  */
object PerfBench {

  /** Symbol universe the seed draws from: the sf0.1 raw zone. */
  val Universe = 5500
  /** Scale of the fact table build and maintain work on: 275 symbols,
    * 396,000 rows.
    */
  val Sf = 0.005
  val Symbols: Int = RawZoneGen.symbolCount(Sf)
  val RowsPerSymbol = 1440
  val Buckets = 32
  /** Set-ups per run: the median is `setup_s`. maintain's set-up is the
    * full table build plus changelog commit 0, so it runs once.
    */
  val Setups = Map("build" -> 5, "maintain" -> 1, "curate" -> 5)
  /** A unit of work is one build, one maintain fold cycle or one curate
    * pass. A run measures at least this many: one ~8 s curate pass is too
    * short to average out other load on a shared host, so curate takes
    * two. build and curate first run a warm-up on small inputs;
    * maintain's set-up (a full build and commit) serves as its warm-up.
    */
  val MinUnits = Map("build" -> 1, "maintain" -> 1, "curate" -> 2)
  /** maintain: symbols bumped per day, lookups per day, fold period. */
  val DaySymbols = 4
  val DayLookups = 10
  val FoldEvery = 2
  /** Symbols of the build warm-up; docs and lineitems of the curate one. */
  val WarmSymbols = 10
  val WarmDocs = 200
  val WarmLineitems = 2000
  /** curate: corpus and graph sizes. */
  val Docs = 5000
  val Suppliers = 1000
  val Parts = 20000
  val Lineitems = 30000
  val RankIters = 10

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: String, out: String)

  /** A curate input: the corpus and edge tables plus their references. */
  final case class CurateInput(docs: DataFrame, edges: DataFrame, ids: Seq[Long],
                               clusters: Map[Long, Long], mass: Long)

  final class CheckFailed(msg: String) extends Exception(msg)
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  final case class OpRecord(seq: Int, kind: String, startMs: Long, endMs: Long, wallS: Double,
                            fsOps: Long, extra: Map[String, Double],
                            failure: Option[(String, String)])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("root"), kv("out"))
    require(Set("build", "maintain", "curate")(a.workload),
      s"unknown workload ${a.workload}")
    // a set-up failure ends the JVM at once, with its cause, even while
    // Spark's threads are alive
    try new PerfBench(a).run()
    catch {
      case e: Throwable =>
        System.err.println(s"ABORTED workload=${a.workload} seed=${a.seed}: $e")
        e.printStackTrace()
        sys.exit(1)
    }
  }
}

final class PerfBench(a: PerfBench.Args) {
  import PerfBench._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val rng = new java.util.Random(a.seed)

  private val spark: SparkSession = {
    val b = graft.Tuning.localIo(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.root}/hadoop")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", "perfbench.CountingLocalFileSystem")
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  private val jobTrace = new JobTrace
  private val planTrace = new PlanTrace
  if (a.trace) {
    spark.sparkContext.addSparkListener(jobTrace)
    spark.listenerManager.register(planTrace)
  }

  private val setupS = ArrayBuffer[Double]()
  private val ops = ArrayBuffer[OpRecord]()
  private val units = ArrayBuffer[Double]()
  private val notes = scala.collection.mutable.LinkedHashMap[String, Double]()
  private var seq = 0

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up runs `Setups(workload)` times into fresh directories; the
    * median wall is `setup_s`, the last copy is the one the operations
    * use. Any set-up failure aborts the run.
    */
  private def setup[T](body: String => T): T = {
    var last: Option[T] = None
    for (k <- 1 to Setups(a.workload)) {
      val dir = s"${a.root}/setup$k"
      val (r, s) = timed(body(dir))
      setupS += s
      last = Some(r)
    }
    last.get
  }

  /** One measured operation. `body` is timed; `verify` runs after the
    * clock stops. A thrown exception is a failed operation, recorded
    * with its phase and cause; the run goes on.
    */
  private def op[T](kind: String)(body: => T)
                   (verify: T => Map[String, Double]): Unit = {
    seq += 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$seq", s"${a.workload}/$kind")
    val fs0 = FsCounter.ops.get()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var failure: Option[(String, String)] = None
    var extra = Map.empty[String, Double]
    var result: Option[T] = None
    try result = Some(body)
    catch { case NonFatal(e) => failure = Some("run" -> e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val fsOps = FsCounter.ops.get() - fs0
    sc.clearJobGroup()
    result.foreach { r =>
      try extra = verify(r)
      catch { case NonFatal(e) => failure = Some("check" -> e.toString) }
    }
    failure.foreach { case (phase, cause) =>
      System.err.println(s"FAILED workload=${a.workload} op=$kind seq=$seq " +
        s"phase=$phase cause=$cause")
    }
    ops += OpRecord(seq, kind, startMs, endMs, wall, fsOps, extra, failure)
  }

  /** A warm-up pass on small inputs of the same shape: it compiles the
    * same generated code and runs the same code paths as the measured
    * units, so they start warm. Not measured; a failure aborts the run.
    */
  private def warmUp(body: => Unit): Unit = {
    body
    ops.find(_.failure.nonEmpty).foreach { o =>
      throw new IllegalStateException(s"warm-up ${o.kind} failed: ${o.failure.get}")
    }
    ops.clear()
  }

  /** Runs `unit()` until `a.seconds` have passed and at least
    * `MinUnits(workload)` units are done.
    */
  private def measure(unit: () => Unit): Unit = {
    val t0 = System.nanoTime()
    notes("prepare_s") = (t0 - started) / 1e9
    while (units.size < MinUnits(a.workload) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val (_, s) = timed(unit())
      units += s
    }
    notes("measure_s") = (System.nanoTime() - t0) / 1e9
  }

  private val started = System.nanoTime()
  notes("session_s") = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def run(): Unit = {
    val runRoot = new File(a.root)
    runRoot.mkdirs()
    try {
      a.workload match {
        case "build"    => build()
        case "maintain" => maintain()
        case "curate"   => curate()
      }
      if (a.trace) org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
      notes("rss_peak_mb") = rssPeakMb()
      // the committed heap: fixed and pre-touched, so all of it resident
      notes("heap_mb") = Runtime.getRuntime.totalMemory / 1048576.0
      Files.writeString(Paths.get(a.out), record(), UTF_8)
    } finally spark.stop()
  }

  // ---------------------------------------------------------------- inputs

  /** Seeded symbol subset of the universe, stratified so that exactly
    * one in ten chosen symbols carries a stale payload (the sf0.1 ratio).
    */
  private lazy val symbolIds: IndexedSeq[Int] = {
    def pick(pool: IndexedSeq[Int], n: Int): IndexedSeq[Int] = {
      val buf = new java.util.ArrayList[Integer]()
      pool.foreach(i => buf.add(i))
      java.util.Collections.shuffle(buf, rng)
      (0 until n).map(buf.get(_).intValue())
    }
    val (tens, rest) = (0 until Universe).partition(_ % 10 == 0)
    (pick(tens, Symbols / 10) ++ pick(rest, Symbols - Symbols / 10)).sorted
  }

  private def sym(i: Int): String = f"S$i%05d"

  /** The raw zone of `ids`: one fresh payload each, plus a stale older
    * payload for every symbol id divisible by ten, staged with
    * `Sinks.writeRawZone`.
    */
  private def rawZone(ids: Seq[Int])(dir: String): String = {
    val specs = ids.map(i => (i, false)) ++ ids.filter(_ % 10 == 0).map(i => (i, true))
    val rows = spark.sparkContext.parallelize(specs, cores).map(RawPayloads.row)
    Sinks.writeRawZone(spark.createDataFrame(rows, RawPayloads.schema), dir)
    dir
  }

  // --------------------------------------------------------- expected facts

  /** The fact rows of symbol `i` as (statement, metric, date) → value,
    * from the generator's value law: yearly and quarterly panes, the
    * quarterly one winning the shared 2024-12-31 date.
    */
  private def expectedFacts(i: Int, bump: Double): Map[(String, String, String), Option[Double]] = {
    val out = scala.collection.mutable.Map[(String, String, String), Option[Double]]()
    for {
      ((stmt, _), s) <- RawZoneGen.Statements.zipWithIndex
      (dates, f) <- Seq(RawZoneGen.YearlyDates, RawZoneGen.QuarterlyDates).zipWithIndex
      (date, d) <- dates.zipWithIndex
      m <- 0 until RawZoneGen.MetricsPerStatement
    } {
      out((stmt, f"${stmt}_M$m%02d", date.take(10))) =
        RawPayloads.value(i, s, f, d, m, stale = false).map(_ + bump)
    }
    out.toMap
  }

  private def factKey(r: Row): (String, String, String) =
    (r.getAs[String]("statement_type"), r.getAs[String]("metric"),
      r.getAs[Any]("date").toString.take(10))

  private def factValue(r: Row): Option[Double] =
    Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue())

  // ------------------------------------------------------------------ build

  private def build(): Unit = {
    val raw = spark.read.parquet(setup(rawZone(symbolIds)))
    def buildOp(raw: DataFrame, layout: String, nSymbols: Int): Unit =
      op("build") {
        Financials.normalizeInto(raw, layout, Buckets)
        val n = spark.read.parquet(layout).count()
        Summary.normalize(raw).write.format("noop").mode("overwrite").save()
        n
      } { n =>
        val law = nSymbols.toLong * RowsPerSymbol
        check(n == law, s"fact rows $n != $nSymbols x $RowsPerSymbol = $law")
        Map("rows" -> n.toDouble)
      }
    val few = symbolIds.take(WarmSymbols)
    warmUp(buildOp(spark.read.parquet(rawZone(few)(s"${a.root}/warm/raw")),
      s"${a.root}/warm/layout", few.size))
    measure(() => buildOp(raw, s"${a.root}/layout", Symbols))
  }

  // --------------------------------------------------------------- maintain

  private def maintain(): Unit = {
    val pk = Financials.Pk
    val (rawDir, layout, log) = setup { dir =>
      val rawDir = rawZone(symbolIds)(s"$dir/raw")
      Financials.normalizeInto(spark.read.parquet(rawDir), s"$dir/layout", Buckets)
      Changelog.commit(spark.read.parquet(s"$dir/layout").drop("bucket"), s"$dir/log", 0L)
      (rawDir, s"$dir/layout", s"$dir/log")
    }
    val raw = spark.read.parquet(rawDir)
    val law = Symbols.toLong * RowsPerSymbol
    // latest bump applied to each symbol id, by commit version
    val bumps = scala.collection.mutable.Map[Int, Double]()
    var version = 0L

    def day(): Unit = {
      version += 1
      val v = version
      val today = {
        val buf = scala.util.Random.javaRandomToRandom(rng).shuffle(symbolIds)
        buf.take(DaySymbols).sorted
      }
      val bump = 1000.0 * v + 0.5
      val before = today.map(i => i -> bumps.getOrElse(i, 0.0)).toMap
      // the day's delta, built and materialized before the clock starts,
      // with the bucket column upsertFactDelta(materialized = true) needs
      val delta = Financials.normalize(raw.filter(col("symbol").isin(today.map(sym): _*)))
        .withColumn("value", col("value") + lit(bump))
        .withColumn("bucket", Sinks.factBucket(Buckets))
        .localCheckpoint()
      op("upsert") {
        Sinks.upsertFactDelta(spark, layout, delta, Buckets, materialized = true)
      } { _ =>
        // read the touched symbols back from the layout: all their rows,
        // each with today's bump
        val rows = spark.read.parquet(layout)
          .filter(col("stock").isin(today.map(sym): _*)).collect()
        val got = rows.map(r => (r.getAs[String]("stock"), factKey(r)) -> factValue(r)).toMap
        val want = today.flatMap(i => expectedFacts(i, bump).map { case (k, x) => (sym(i), k) -> x })
          .toMap
        check(rows.length == DaySymbols * RowsPerSymbol && got == want,
          s"layout after upsert: ${rows.length} rows of ${today.map(sym).mkString(",")} " +
            s"(want ${DaySymbols * RowsPerSymbol}), " +
            s"${want.count { case (k, x) => got.get(k) != Some(x) }} values off today's bump")
        Map.empty
      }
      op("commit")(Changelog.commit(delta.drop("bucket"), log, v)) { _ =>
        check(Changelog.headVersion(log).contains(v), s"head version is not $v")
        Map.empty
      }
      today.foreach(i => bumps(i) = bump)
      for (j <- 0 until DayLookups) {
        val i = if (j % 2 == 0) today(j / 2 % today.size) else symbolIds(rng.nextInt(symbolIds.size))
        op("lookup") {
          Financials.latestFactsAt(spark, layout, sym(i), 10).collect()
        } { rows =>
          check(rows.length == 10, s"lookup ${sym(i)} returned ${rows.length} rows, not 10")
          val want = expectedFacts(i, bumps.getOrElse(i, 0.0)).toSeq
            .sortBy { case ((st, m, d), _) => (d, st, m) }(
              Ordering.Tuple3(Ordering.String.reverse, Ordering.String, Ordering.String))
            .take(10)
          val got = rows.toSeq.map(r => factKey(r) -> factValue(r))
          check(got == want, s"lookup ${sym(i)}: got ${got.take(2)}, want ${want.take(2)}")
          Map.empty
        }
      }
      val probe = today.head
      op("asof") {
        Changelog.snapshotAt(spark, log, pk, v - 1)
          .filter(col("stock") === sym(probe)).collect()
      } { rows =>
        val want = expectedFacts(probe, before(probe))
        val got = rows.map(r => factKey(r) -> factValue(r)).toMap
        check(rows.length == RowsPerSymbol && got == want,
          s"as-of ${v - 1} ${sym(probe)}: ${rows.length} rows, values differ " +
            s"from the pre-bump law: ${got.count { case (k, x) => want.get(k) != Some(x) }} keys")
        Map.empty
      }
      if (v % FoldEvery == 0) {
        op("fold")(Changelog.checkpoint(spark, log, pk, v))(_ => Map.empty)
        op("snapshot") {
          Changelog.snapshotAt(spark, log, pk, v).count()
        } { n =>
          check(n == law, s"snapshot rows $n != $law")
          Map.empty
        }
      }
    }

    // one unit of maintain work is a full fold cycle, so every unit
    // carries the same mix of operations
    def cycle(): Unit = (1 to FoldEvery).foreach(_ => day())
    measure(() => cycle())
    notes("store_mb") = (dirBytes(layout) + dirBytes(log)) / 1e6
  }

  private def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(path))
  }

  // ----------------------------------------------------------------- curate

  /** Seeded corpus: random word sequences of 120–199 words over a
    * 5,000-word vocabulary, with one doc in eight a copy of an earlier
    * doc plus one appended word. A copy shares all but one 3-shingle
    * with its source (Jaccard ≥ 0.99, so banded MinHash with 4 bands of
    * 4 misses such a pair with probability below 1e-6), while unrelated
    * docs share at most a stray shingle (Jaccard far below 0.5). The
    * exact-Jaccard clusters at 0.5 are therefore the copy trees, which
    * the generator knows: returns the rows and each doc's copy source.
    */
  private def corpus(n: Int): (Seq[Row], Seq[(Long, Long)]) = {
    val vocab = 5000
    val texts = ArrayBuffer[String]()
    val copies = ArrayBuffer[(Long, Long)]()
    for (j <- 0 until n) {
      val t =
        if (j > 0 && rng.nextInt(8) == 0) {
          val src = rng.nextInt(j)
          copies += ((src + 1L, j + 1L))
          texts(src) + s" w${rng.nextInt(vocab)}"
        } else (0 until 120 + rng.nextInt(80)).map(_ => s"w${rng.nextInt(vocab)}").mkString(" ")
      texts += t
    }
    (texts.zipWithIndex.map { case (t, j) => Row(j.toLong + 1, t) }.toSeq, copies.toSeq)
  }

  /** Seeded lineitem-style supplier → part edges (parallel edges kept,
    * as lineitems repeat pairs).
    */
  private def lineitemEdges(n: Int): Seq[Row] =
    (0 until n).map { _ =>
      Row(1L + rng.nextInt(Suppliers), Suppliers + 1L + rng.nextInt(Parts))
    }

  /** Component-minimum labels of an undirected pair list. */
  private def clusters(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** Total rank mass of `Graph.pageRankPpm`'s integer law, computed on
    * the driver from the edge list.
    */
  private def rankMass(edges: Seq[(Long, Long)], iters: Int): Long = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val m = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      e.foreach { case (s, d) => m(d) += rank(s) / outdeg(s) }
      rank = nodes.map(n => n -> (150000L + 85L * m(n) / 100L)).toMap
    }
    rank.values.sum
  }

  private def curate(): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val edgeSchema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    def stage(nDocs: Int, nEdges: Int, staged: (String => (String, String)) => (String, String))
        : CurateInput = {
      val (docRows, copies) = corpus(nDocs)
      val edgeRows = lineitemEdges(nEdges)
      val (docDir, edgeDir) = staged { dir =>
        spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema)
          .write.mode("overwrite").parquet(s"$dir/documents")
        spark.createDataFrame(java.util.Arrays.asList(edgeRows: _*), edgeSchema)
          .write.mode("overwrite").parquet(s"$dir/edges")
        (s"$dir/documents", s"$dir/edges")
      }
      val ids = docRows.map(_.getLong(0))
      CurateInput(spark.read.parquet(docDir), spark.read.parquet(edgeDir), ids,
        clusters(ids, copies),
        rankMass(edgeRows.map(r => (r.getLong(0), r.getLong(1))), RankIters))
    }

    def curateOp(in: CurateInput): Unit = {
      op("dedup") {
        val pairs = Dedup.minhashLshPairs(in.docs, "doc_id", "text", 3, 16, 4, 0.5)
        Graph.connectedComponents(pairs.select("id_a", "id_b"), in.docs.select("doc_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { got =>
        val wrong = in.ids.count(i => got.get(i) != in.clusters.get(i))
        check(wrong == 0, s"$wrong of ${in.ids.size} docs are not in their copy cluster")
        Map("docs" -> in.ids.size.toDouble)
      }
      op("rank") {
        Graph.pageRankPpm(in.edges, RankIters).agg(sum("rank_ppm")).first().getLong(0)
      } { mass =>
        check(mass == in.mass, s"rank mass $mass != reference ${in.mass}")
        Map.empty
      }
    }

    val measured = stage(Docs, Lineitems, setup)
    warmUp(curateOp(stage(WarmDocs, WarmLineitems, f => f(s"${a.root}/warm"))))
    measure(() => curateOp(measured))
    // the LSH pair count is a traced-run layer metric: one more pass,
    // after the measured units
    if (a.trace) notes("dedup_pairs") =
      Dedup.minhashLshPairs(measured.docs, "doc_id", "text", 3, 16, 4, 0.5).count().toDouble
  }

  // ----------------------------------------------------------------- output

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  private def record(): String = {
    val header = obj(Seq(
      "workload" -> str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "traced" -> a.trace.toString,
      "cores" -> cores.toString, "sf" -> num(Sf), "symbols" -> Symbols.toString,
      "docs" -> Docs.toString, "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> str(spark.version)))
    val opJson = ops.toSeq.map { o =>
      obj(Seq("seq" -> o.seq.toString, "kind" -> str(o.kind),
        "start_ms" -> o.startMs.toString,
        "end_ms" -> o.endMs.toString, "wall_s" -> num(o.wallS),
        "fs_meta_ops" -> o.fsOps.toString,
        "extra" -> obj(o.extra.toSeq.map { case (k, v) => k -> num(v) }),
        "failure" -> o.failure.map { case (p, c) =>
          obj(Seq("phase" -> str(p), "cause" -> str(c))) }.getOrElse("null")))
    }
    val trace =
      if (!a.trace) "null"
      else {
        val jobs = jobTrace.jobs.toSeq.map(j => obj(Seq("id" -> j.id.toString,
          "group" -> str(j.group), "start_ms" -> j.start.toString, "end_ms" -> j.end.toString)))
        val totals = jobTrace.totals.toSeq.map { case (g, t) => g -> obj(Seq(
          "tasks" -> t.tasks.toString, "task_ms" -> t.runMs.toString,
          "cpu_ns" -> t.cpuNs.toString, "shuffle_write_bytes" -> t.shuffleWrite.toString,
          "spill_bytes" -> t.spill.toString, "output_bytes" -> t.output.toString)) }
        val queries = planTrace.queries.toSeq.map(q => obj(Seq(
          "start_ms" -> q.start.toString, "exchanges" -> q.exchanges.toString,
          "phases" -> arr(q.phases.map(p => obj(Seq("phase" -> str(p.phase),
            "start_ms" -> p.start.toString, "end_ms" -> p.end.toString)))))))
        obj(Seq("jobs" -> arr(jobs), "groups" -> obj(totals), "queries" -> arr(queries)))
      }
    obj(Seq("header" -> header, "setup_s" -> arr(setupS.toSeq.map(num)),
      "units_s" -> arr(units.toSeq.map(num)), "ops" -> arr(opJson),
      "notes" -> obj(notes.toSeq.map { case (k, v) => k -> num(v) }),
      "trace" -> trace)) + "\n"
  }
}

/** Raw payload documents in the shape of `graft.ingest.RawZoneGen`:
  * an `info` profile object plus 3 statements x {yearly, quarterly}
  * panes of {date -> {metric -> value}}, with the same value law, so
  * the expected fact rows follow from the symbol id alone. They are
  * built here, as plain JSON text, so the program receives only the
  * generated inputs.
  */
object RawPayloads {
  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("payload", StringType),
    StructField("loaded_at", org.apache.spark.sql.types.TimestampType)))

  def value(i: Int, s: Int, f: Int, d: Int, m: Int, stale: Boolean): Option[Double] = {
    val k = i.toLong * 31 + s * 17 + f * 13 + d * 7 + m * 3
    if (stale) Some((k % 1000).toDouble + 0.75)
    else if (k % 97 == 0) None
    else Some((k % 1000).toDouble + (k % 7) * 0.25)
  }

  def row(spec: (Int, Boolean)): Row = {
    val (i, stale) = spec
    val sb = new StringBuilder
    def q(x: String): Unit = sb.append('"').append(x).append('"')
    val prefix = if (stale) "Stale Corp " else "Synth Corp "
    val hq = Seq(" It is headquartered in Austin, Texas, United States.",
      " It is headquartered in Paris, France.", " It is headquartered in Singapore.", "")(i % 4)
    val former = if (i % 3 == 0) s", formerly known as Old Synth $i," else ""
    val info = Seq(
      "symbol" -> f"S$i%05d", "longName" -> s"$prefix$i",
      "currency" -> Seq("USD", "EUR", "JPY", "GBP")(i % 4), "financialCurrency" -> "USD",
      "fullTimeEmployees" -> ((i.toLong * 37) % 90000 + 10).toString,
      "sector" -> Seq("Technology", "Energy", "Healthcare", "Financials", "Utilities")(i % 5),
      "industry" -> s"Industry ${i % 7}", "website" -> s"https://synth$i.example",
      "longBusinessSummary" -> s"$prefix$i$former was founded in ${1900 + i % 120}.$hq")
    sb.append("{\"info\":{")
    info.zipWithIndex.foreach { case ((k, v), n) =>
      if (n > 0) sb.append(','); q(k); sb.append(':'); q(v)
    }
    sb.append('}')
    for (((code, field), s) <- RawZoneGen.Statements.zipWithIndex) {
      sb.append(','); q(field); sb.append(":{")
      for (((freq, dates), f) <- Seq("yearly" -> RawZoneGen.YearlyDates,
             "quarterly" -> RawZoneGen.QuarterlyDates).zipWithIndex) {
        if (f > 0) sb.append(',')
        q(freq); sb.append(":{")
        for ((date, d) <- dates.zipWithIndex) {
          if (d > 0) sb.append(',')
          q(date); sb.append(":{")
          for (m <- 0 until RawZoneGen.MetricsPerStatement) {
            if (m > 0) sb.append(',')
            q(f"${code}_M$m%02d"); sb.append(':')
            sb.append(value(i, s, f, d, m, stale).map(_.toString).getOrElse("null"))
          }
          sb.append('}')
        }
        sb.append('}')
      }
      sb.append('}')
    }
    sb.append('}')
    val day = if (stale) 14 else 15 + i % 2
    Row(f"S$i%05d", sb.toString, java.sql.Timestamp.valueOf(f"2025-08-$day%02d 00:00:00"))
  }
}
