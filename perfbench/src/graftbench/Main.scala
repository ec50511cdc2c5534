package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, GraftCheckpoints, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs.{CorpusDedupJob, KnnJob, PyramidJob, SpatialJoinJob, WarcPipeline}
import graft.lake.LakeTable
import graft.model.Pages

/** The benchmark's JVM side: sets up one workload from its seed, runs its
  * timed calls through graft's public entry points with one closed-loop
  * client, checks every call, and writes raw samples to a JSON file that
  * `perfbench/run.py` reduces to the reported metrics.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cpus C --work DIR --out FILE
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, out: String)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Accounting of one run: timed calls, failures and the raw samples. */
  final class Run(val spark: SparkSession, val trace: Trace, val opts: Opts) {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    val calls = mutable.ArrayBuffer[Map[String, Any]]()
    val detail = mutable.LinkedHashMap[String, Any]()
    val perLayer = mutable.LinkedHashMap[String, Double]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()

    /** Seconds measured so far: the summed walls of the timed calls. */
    def measured: Double = calls.map(_("wall_s").asInstanceOf[Double]).sum

    /** Run `unit` (one pass over the workload's calls) with unit numbers
      * 1, 2, ... until at least `--seconds` have been measured; returns the
      * number of units run. */
    def units(unit: Int => Unit): Int = {
      var u = 0
      while (u == 0 || measured < opts.seconds) { u += 1; unit(u) }
      detail("units") = u
      u
    }

    def fail(msg: String): Unit = {
      failed += 1
      failures += msg
      System.err.println(s"graftbench: FAIL $msg")
    }

    /** One timed call. The wall covers `body` only; `check` runs after the
      * clock stops and returns the broken invariants, if any. */
    def call[A](unit: Int, name: String, leg: String)(body: => A)(
        check: A => Seq[String]): Option[A] = {
      attempted += 1
      val c0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val res = try Right(trace.span(name, leg)(body)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      calls += Map("unit" -> unit, "name" -> name, "leg" -> leg, "wall_s" -> wall, "cpu_s" -> cpu)
      System.err.println(f"graftbench: unit $unit $name%-28s $wall%8.3f s")
      res match {
        case Left(e) =>
          fail(s"$name (unit $unit) threw ${e.getClass.getName}: ${e.getMessage}")
          None
        case Right(a) =>
          val errs = try check(a) catch { case e: Throwable => Seq(s"check threw $e") }
          if (errs.nonEmpty) fail(s"$name (unit $unit): ${errs.mkString("; ")}")
          Some(a)
      }
    }

    /** Between calls: free checkpointed blocks and registered shuffles so no
      * call pays for an earlier one's state. */
    def settle(): Unit = {
      GraftCheckpoints.releaseAll()
      org.apache.spark.graft.BenchProbes.purgeShuffles(spark.sparkContext)
    }
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("--selftest") => SelfTest.main(args.drop(1)); return
      case Some("--warmup") => Warmup.main(args.drop(1)); return
      case _ =>
    }
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.sql.GraftSession.builder(s"local[${o.cpus}]", o.cpus * 2)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = new Trace(o.trace, s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}",
      spark.sparkContext)
    val run = new Run(spark, trace, o)
    run.detail("session_s") = sessionS
    val k0 = Host.kernelS(o.cpus)
    o.workload match {
      case "analytics-tiles" => Analytics.run(run)
      case "crawl-to-store" => Crawl.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val k1 = Host.kernelS(o.cpus)
    run.detail("host_kernel_s") = Seq(k0, k1)
    run.perLayer("host.kernel_s") = (k0 + k1) / 2
    trace.drain()
    if (o.trace) trace.write(s"${o.out}.spans.jsonl")
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cpus" -> o.cpus,
      "attempted" -> run.attempted, "failed" -> run.failed, "failures" -> run.failures,
      "calls" -> run.calls, "detail" -> run.detail, "per_layer" -> run.perLayer,
      "checks" -> run.checks, "peak_rss_mb" -> Host.peakRssMb,
      "spans" -> (if (o.trace) s"${o.out}.spans.jsonl" else null))
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** Setup: `reps` times, generate the workload's inputs into a fresh
    * directory and run one throwaway job on them. Returns the directories
    * and records `setup_s` = session start + the median repetition. */
  def setup(run: Run, reps: Int)(gen: String => Map[String, Any])(warm: String => Unit): Seq[String] = {
    val walls = mutable.ArrayBuffer[Double]()
    val dirs = (1 to reps).map { i =>
      val dir = s"${run.opts.work}/input-$i"
      val t0 = System.nanoTime()
      val stats = run.trace.span("setup.generate", "setup")(gen(dir))
      run.trace.span("setup.throwaway", "setup")(warm(dir))
      run.settle()
      walls += (System.nanoTime() - t0) / 1e9
      if (i == 1) run.detail("inputs") = stats
      dir
    }
    run.detail("setup_rep_s") = walls.toSeq
    run.detail("setup_s") = run.detail("session_s").asInstanceOf[Double] + Stats.median(walls.toSeq)
    dirs
  }

  /** Engine counters of each leg, per pass of that leg (traced run only). */
  def legMetrics(run: Run, legs: Seq[(String, Int)]): Unit = if (run.trace.enabled) {
    run.trace.drain()
    legs.foreach { case (leg, passes) =>
      val m = run.trace.leg(leg)
      val n = math.max(1, passes).toDouble
      Seq("jobs", "stages", "executor_cpu_s", "shuffle_write_mb", "spill_mb").foreach { k =>
        run.perLayer(s"$leg.$k") = m(k).asInstanceOf[Number].doubleValue / n
      }
      run.perLayer(s"$leg.task_skew") = m("task_skew").asInstanceOf[Double]
    }
  }

  /** ns per row of one Catalyst expression over a cached input, written to
    * the noop sink (median of 3 after one warm-up). */
  def kernelNs(input: DataFrame, e: org.apache.spark.sql.Column, rows: Long): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      input.select(e).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    once()
    Stats.median(Seq.fill(3)(once())) / rows
  }

  /** Sum of `wall_ms` over every committed version's lineage of every stage
    * under a lake root, and the number of committed versions. */
  def lakeCommits(spark: SparkSession, root: String): (Int, Double) = {
    val stages = Option(new File(root).listFiles()).getOrElse(Array()).filter(_.isDirectory)
    var commits = 0
    var ms = 0.0
    stages.foreach { st =>
      val lins = Option(st.listFiles()).getOrElse(Array())
        .filter(f => f.isDirectory && f.getName.startsWith("lineage_v"))
      commits += Option(st.listFiles()).getOrElse(Array())
        .count(f => f.getName.startsWith("_manifest_v") && f.getName.endsWith(".json"))
      lins.foreach { l =>
        val r = spark.read.parquet(l.getPath).agg(max(col("wall_ms"))).head()
        if (!r.isNullAt(0)) ms += r.getLong(0)
      }
    }
    (commits, ms / 1000.0)
  }

  /** `wall_ms` of a stage's current version, in seconds (0 if absent). */
  def stageWall(spark: SparkSession, root: String, stage: String): Double = {
    val lake = new LakeTable(root)
    if (!lake.isCommitted(stage)) 0.0
    else {
      val r = lake.readLineage(spark, stage).agg(max(col("wall_ms"))).head()
      if (r.isNullAt(0)) 0.0 else r.getLong(0) / 1000.0
    }
  }
}

/** MD5 of a result's rows in sorted text form: a row-order-free digest of
  * a collected result. */
object Digest {
  def rows(xs: Seq[Any]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(xs.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** Host-weather control: a fixed-size plain-thread ray-cast sample at the
  * run's thread count, taken at the start and end of every run. */
object Host {
  val Calls = 10000000L

  def kernelS(threads: Int): Double = {
    val ring = (0 until 64).map { k =>
      val a = 2 * math.Pi * k / 64
      graft.core.Geom.Pt(math.cos(a) * 10, math.sin(a) * 10)
    }.toArray
    val per = Calls / threads
    @volatile var sink = false
    val ts = (0 until threads).map { tid =>
      new Thread(() => {
        var acc = false
        var i = 0L
        var px = -9.99 + tid * 0.01
        while (i < per) {
          acc ^= graft.core.Geom.rayCastInRing(px, px * 0.7, ring)
          px += 1e-7
          i += 1
        }
        if (acc) sink = true
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set (VmHWM) of this JVM in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** analytics-tiles: selected `SparkEntry.queries` entries over a generated
  * pages input, a pass against an empty StageCache and then a warm pass,
  * each in a seed-permuted order, followed by the spatial-tiles calls. */
object Analytics {
  import Main._

  val Scale = 1
  val OracleChecks = 3
  /** Queries of seven `SparkEntry.queries` objects, ROADMAP's named
    * queries (q40, q46, q59, q84, q99) where an object has one. */
  val Selected = Seq("q02_pip_join", "q05_tiles_explode", "q40_shuffle_pip",
    "q46_ngram_jaccard", "q59_span_dedup", "q84_cm_heavy", "q99_jl_project",
    "q100_degree_census")

  private def stageCache: File =
    new File(System.getProperty("java.io.tmpdir"), "graft-stage-cache")

  private def cacheEntries: Seq[File] =
    Option(stageCache.listFiles()).getOrElse(Array()).filter(f =>
      f.isDirectory && !f.getName.contains(".tmp-")).toSeq

  def run(run: Run): Unit = {
    val spark = run.spark
    val seed = run.opts.seed
    val input = setup(run, 3) { d =>
      Map("sf" -> Gen.sfTables(spark, seed, s"$d/sf", Scale),
        "points" -> Gen.lineitemOnly(spark, seed, s"$d/points", Tiles.Points))
    } { d => Fingerprint.of(graft.Queries.cellsZ12(spark, s"$d/sf")); () }.last
    val dir = s"$input/sf"
    val tiles = new Tiles(run, s"$input/points")
    val missing = Selected.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")
    val queries = Selected.map(q => q -> SparkEntry.queries(q))
    val rnd = new Random(seed)
    val oracle = rnd.shuffle(Selected).take(OracleChecks).toSet
    var builds = (0, 0, 0.0)

    // one unit = a pass against an empty StageCache, then a warm pass
    val n = run.units { u =>
      Gen.rmTree(stageCache)
      val cold = mutable.Map[String, Fingerprint]()
      def pass(leg: String): Unit =
        rnd.shuffle(queries).foreach { case (name, fn) =>
          var df: DataFrame = null
          run.call(u, name, leg) {
            df = run.trace.span(s"$name.build")(fn(spark, dir))
            run.trace.span(s"$name.fingerprint")(Fingerprint.of(df))
          } { fp =>
            if (leg == "sweep.first") { cold(name) = fp; Nil }
            else cold.get(name) match {
              case Some(c) if c != fp => Seq(s"fingerprint $fp differs from the cold pass $c")
              case None => Seq("cold pass failed")
              case _ => Nil
            }
          }
          if (df != null && u == 1 && leg == "sweep.warm" && oracle(name)) {
            val out = s"${run.opts.work}/oracle/$name"
            try {
              df.coalesce(1).write.mode("overwrite").parquet(out)
              run.checks += Map("name" -> name, "kind" -> "parquet", "tables" -> dir,
                "sql" -> SparkEntry.oracleSql(name), "result" -> out)
            } catch { case e: Throwable => run.fail(s"$name: result write for the oracle threw $e") }
          }
          run.settle()
        }
      pass("sweep.first")
      val first = cacheEntries
      pass("sweep.warm")
      val warm = cacheEntries.size - first.size
      if (warm != 0) run.fail(s"the warm pass built $warm StageCache entries")
      builds = (first.size, warm, first.map(Gen.treeBytes).sum / 1048576.0)
      if (u == 1) run.detail("fingerprints") = cold.map { case (k, v) => k -> v.toString }.toMap
      tiles.round(u)
    }
    tiles.finish(n)
    run.perLayer("queries.StageCache.builds_first") = builds._1
    run.perLayer("queries.StageCache.builds_warm") = builds._2
    run.perLayer("queries.StageCache.mb") = builds._3
    run.detail("stage_cache") = Map("builds_first" -> builds._1, "builds_warm" -> builds._2,
      "mb" -> builds._3)
    legMetrics(run, Seq("sweep.first" -> n, "sweep.warm" -> n))
    if (run.trace.enabled) Kernels.vectors(run)
  }
}

/** crawl-to-store: a seeded multi-day crawl written as `.warc.gz` dumps,
  * driven through the dump→training-store pipeline, the corpus dedup job
  * and the streaming ingest. Every round uses fresh lake and store roots. */
object Crawl {
  import Main._

  val Days = 2
  val Day0Docs = 600
  val DayDocs = 300

  def run(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val seed = run.opts.seed
    val archives = run.opts.cpus
    var corpus: Seq[Gen.Doc] = Nil
    var ids: Map[String, Long] = Map.empty
    var warcBytes = 0L
    val evalMod = graft.queries.QualityQueries.EvalMod
    def docIds(urls: Seq[String]): Map[String, Long] =
      urls.toDF("u").select(col("u"), xxhash64(col("u")).bitwiseAND(lit(Long.MaxValue)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dir = setup(run, 3) { d =>
      ids = Map.empty
      corpus = Gen.crawl(seed, Days, Day0Docs, DayDocs, u => { ids = docIds(u); ids },
        id => id % evalMod == 0)
      val bytes = Gen.writeDumps(corpus, d, archives)
      warcBytes = bytes.values.sum
      val kinds = corpus.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble / corpus.size }
      val langs = corpus.groupBy(_.lang).map { case (k, v) => k -> v.size.toDouble / corpus.size }
      Map("docs" -> corpus.size, "days" -> Days, "archives_per_day" -> archives,
        "warc_bytes" -> warcBytes, "kind_shares" -> kinds, "lang_shares" -> langs)
    } { d =>
      Fingerprint.of(graft.queries.QualityQueries.scoreDocs(WarcPipeline.ingest(spark, s"$d/day0")))
      ()
    }.last

    // the per-url text identity invariant, once per run on every dump
    (0 until Days).foreach { d =>
      val want = corpus.filter(_.day == d).map(x => x.url -> x.text).toMap
      val got = WarcPipeline.ingest(spark, s"$dir/day$d").select("url", "text").as[(String, String)]
        .collect()
      val bad = got.count { case (u, t) => !want.get(u).contains(t) }
      if (got.length != want.size || bad > 0)
        run.fail(s"day$d extract: ${got.length} docs of ${want.size}, $bad texts differ")
    }
    val evalIds = ids.values.filter(_ % evalMod == 0).toSet
    val contaminated = corpus.filter(_.kind == "contaminated").map(d => ids(d.url)).toSet
    val records = corpus.size.toLong

    val storeFps = mutable.ArrayBuffer[String]()
    val dedupFps = mutable.ArrayBuffer[String]()
    var last = ""
    val rounds = run.units { round =>
      val r = s"${run.opts.work}/round-$round"
      last = r
      val (lake, store) = (s"$r/lake", s"$r/store")
      def storeRows(): Long =
        if (new File(store).exists()) spark.read.parquet(store).count() else 0L
      run.call(round, "store_init", "store_init") {
        WarcPipeline.initFromDump(spark, s"$dir/day0", lake, store); ()
      }(_ => if (storeRows() == 0) Seq("empty store") else Nil)
      run.settle()
      (1 until Days).foreach { d =>
        run.call(round, s"append_day$d", "append") {
          WarcPipeline.appendDump(spark, s"$dir/day$d", lake, store, Some(d.toLong)); ()
        }(_ => Nil)
        run.settle()
      }
      val before = storeRows()
      run.call(round, "replay", "replay") {
        WarcPipeline.appendDump(spark, s"$dir/day${Days - 1}", lake, store,
          Some((Days - 1).toLong)); ()
      } { _ =>
        val n = storeRows()
        if (n != before) Seq(s"redelivery appended ${n - before} rows") else Nil
      }
      run.settle()
      // store invariants
      val st = spark.read.parquet(store).select(col("doc_id"), col("text")).cache()
      val n = st.count()
      val distinctTexts = st.select(col("text")).distinct().count()
      val stIds = st.select(col("doc_id")).as[Long].collect().toSet
      val fp = Fingerprint.of(st)
      st.unpersist()
      storeFps += fp.toString
      if (distinctTexts != n) run.fail(s"round $round: store has ${n - distinctTexts} repeated texts")
      if (stIds.exists(evalIds)) run.fail(s"round $round: eval-wall docs reached the store")
      if (stIds.exists(contaminated)) run.fail(s"round $round: contaminated docs reached the store")
      if (round > 1 && fp.toString != storeFps.head)
        run.fail(s"round $round: store fingerprint $fp differs from round 1 ${storeFps.head}")

      run.call(round, "dedup_job", "dedup_job") {
        val docs = WarcPipeline.ingest(spark, s"$dir/day0")
          .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n_chars"))
        CorpusDedupJob.run(spark, docs, s"$r/dedup").select(col("text")).as[String].collect()
      } { texts =>
        dedupFps += Digest.rows(texts.toSeq)
        if (texts.distinct.length != texts.length) Seq("dedup output repeats a text")
        else if (texts.isEmpty) Seq("dedup output empty") else Nil
      }
      run.settle()
      run.call(round, "stream_ingest", "stream") {
        val q = graft.streaming.WarcStreams.ingestAvailableNow(spark, s"$dir/all",
          s"$r/stream", s"$r/stream-ckpt")
        q.awaitTermination()
        q
      } { q =>
        val rows = spark.read.parquet(s"$r/stream").count()
        if (q.exception.isDefined) Seq(s"stream failed: ${q.exception.get}")
        else if (rows != records) Seq(s"stream ingested $rows of $records records") else Nil
      }.foreach { q =>
        if (round == 1) {
          val ps = q.recentProgress.filter(_.numInputRows > 0)
          val ms = ps.map(_.durationMs.get("triggerExecution").longValue.toDouble).toSeq
          run.perLayer("streaming.batches") = ps.length
          run.perLayer("streaming.batch_ms_p50") = if (ms.isEmpty) 0.0 else Stats.median(ms)
          run.perLayer("streaming.input_rows_per_s") =
            if (ms.isEmpty) 0.0 else ps.map(_.numInputRows).sum / (ms.sum / 1000.0)
        }
      }
      run.settle()
    }
    run.detail("fingerprints") = Map("store" -> storeFps.head) ++
      dedupFps.headOption.map("dedup_job" -> _)

    if (run.trace.enabled) {
      val lakeRoots = Seq(s"$last/lake", s"$last/dedup")
      val cs = lakeRoots.map(lakeCommits(spark, _))
      run.perLayer("lake.commits") = cs.map(_._1).sum
      run.perLayer("lake.commit_s") = cs.map(_._2).sum
      val roots = lakeRoots :+ s"$last/store"
      run.perLayer("lake.files") = roots.map(p => Gen.treeFiles(new File(p))).sum
      run.perLayer("lake.write_amp") =
        roots.map(p => Gen.treeBytes(new File(p))).sum.toDouble / warcBytes
      Seq("exact_losers", "neardup_labels", "neardup_losers", "cleaned").foreach { s =>
        run.perLayer(s"jobs.dedup_job.${s}_s") = stageWall(spark, s"$last/dedup", s)
      }
      run.perLayer("jobs.dedup_job.cc_rounds") = Option(new File(s"$last/dedup").listFiles())
        .getOrElse(Array()).count(_.getName.startsWith("neardup_cc_round_"))
      legMetrics(run, Seq("store_init" -> rounds, "append" -> rounds * (Days - 1),
        "dedup_job" -> rounds))
      Kernels.io(run, dir, warcBytes)
      Kernels.signatures(run)
    }
  }
}

/** The spatial-tiles calls: the broadcast and the salted-shuffle PIP joins,
  * the tile pyramid and kNN over generated pages points with the 10% hot
  * cell. Every round gets fresh lake roots. */
final class Tiles(run: Main.Run, dir: String) {
  import Main._
  import Tiles._

  private val spark = run.spark
  import spark.implicits._
  private val probes = Gen.probes(run.opts.seed, Probes)
  private val probeDf = probes.toDF("qid", "qlon", "qlat")
  private val first = mutable.Map[String, Seq[Seq[Any]]]()
  private var last = ""
  private var tileRows = 0L

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def same(name: String, got: Seq[Seq[Any]]): Seq[String] = first.get(name) match {
    case None => first(name) = got; Nil
    case Some(w) => if (w.map(_.toString).sorted != got.map(_.toString).sorted)
      Seq("result differs from the first round") else Nil
  }

  def round(u: Int): Unit = {
    val r = s"${run.opts.work}/tiles-$u"
    last = r
    run.call(u, "spatial_join", "spatial_join") {
      rows(SpatialJoinJob.run(spark, dir, s"$r/sj"))
    }(same("spatial_join", _))
    run.settle()
    run.call(u, "shuffle_join", "shuffle_join") {
      rows(graft.queries.JoinQueries.shufflePip(spark, dir))
    }(same("shuffle_join", _))
    run.settle()
    run.call(u, "pyramid", "pyramid") {
      PyramidJob.run(spark, dir, s"$r/pyr").count()
    } { _ =>
      val lake = new LakeTable(s"$r/pyr")
      val levels = Seq(12, 10, 8, 6).map { z =>
        val t = lake.read(spark, s"pyramid_z$z")
        (t.count(), t.agg(sum(col("n"))).head().getLong(0))
      }
      tileRows = levels.map(_._1).sum
      if (levels.exists(_._2 != Points)) Seq(s"pyramid level sums ${levels.map(_._2)} != $Points")
      else Nil
    }
    run.settle()
    run.call(u, "knn", "knn") {
      rows(KnnJob.runProbes(spark, dir, probeDf, K, KnnZoom, s"$r/knn"))
    }(same("knn", _))
    run.settle()
  }

  /** Record the oracle checks, fingerprints and (traced) per-layer figures. */
  def finish(units: Int): Unit = {
    run.detail("tile_rows") = tileRows
    run.detail("points") = Points
    run.detail("fingerprints") = run.detail.getOrElse("fingerprints", Map.empty)
      .asInstanceOf[Map[String, String]] ++ first.map { case (k, v) => k -> Digest.rows(v) }
    // oracle checks, run by run.py in DuckDB over the same generated input
    def rowsCheck(name: String, cols: Seq[String], sql: String): Unit =
      first.get(name).foreach { got =>
        run.checks += Map("name" -> name, "kind" -> "rows", "tables" -> dir, "sql" -> sql,
          "columns" -> cols, "rows" -> got)
      }
    rowsCheck("spatial_join", Seq("poly_id", "n", "min_pid", "max_pid", "n_hot"),
      SparkEntry.oracleSql("q02_pip_join"))
    rowsCheck("shuffle_join", Seq("poly_id", "n", "min_pid", "max_pid"),
      SparkEntry.oracleSql("q40_shuffle_pip"))
    val values = probes.map { case (q, x, y) => s"($q, CAST($x AS DOUBLE), CAST($y AS DOUBLE))" }
      .mkString(", ")
    rowsCheck("knn", Seq("qid", "rank", "pid"),
      s"""WITH pages AS (${Pages.PagesSql.volumeCte("lineitem")}),
         |probes(qid, qlon, qlat) AS (VALUES $values)
         |SELECT qid, rank, pid FROM (
         |  SELECT qid, pid, row_number() OVER (PARTITION BY qid ORDER BY dsq, pid) AS rank
         |  FROM (SELECT qid, pid, (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS dsq
         |        FROM pages, probes))
         |WHERE rank <= $K""".stripMargin)

    if (run.trace.enabled) {
      Seq("s1_attach_cells", "s2_pip_join", "s3_agg").foreach { s =>
        run.perLayer(s"jobs.spatial_join.${s}_s") = stageWall(spark, s"$last/sj", s)
      }
      Seq(12, 10, 8, 6).foreach { z =>
        run.perLayer(s"jobs.pyramid.z${z}_s") = stageWall(spark, s"$last/pyr", s"pyramid_z$z")
      }
      run.trace.drain()
      run.perLayer("jobs.knn_jobs") =
        run.trace.leg("knn")("jobs").asInstanceOf[Number].doubleValue / units
      legMetrics(run, Seq("spatial_join" -> units, "shuffle_join" -> units, "pyramid" -> units))
      Kernels.spatial(run, dir)
    }
  }
}

object Tiles {
  val Points = 200000L
  val Probes = 8
  val K = 8
  val KnnZoom = 8
}

/** Kernel and single-layer rates measured in traced runs only. */
object Kernels {
  import Main._

  def vectors(run: Run): Unit = {
    val spark = run.spark
    val n = 200000L
    val in = spark.range(n).select(
      array((0 until 64).map(i => (rand(i) - 0.5).cast("float")): _*).as("a"),
      array((0 until 64).map(i => (rand(100 + i) - 0.5).cast("float")): _*).as("b"),
      array((0 until 64).map(i => (rand(200 + i) + 0.5).cast("double")): _*).as("s")).cache()
    in.count()
    run.perLayer("sql.vec_dot.ns_per_row") = kernelNs(in, expr("vec_dot(a, b)"), n)
    run.perLayer("sql.plane_dots.ns_per_row") = kernelNs(in, expr("plane_dots(a, 0, 16)"), n)
    run.perLayer("sql.jl_project.ns_per_row") = kernelNs(in, expr("jl_project(a, s)"), n)
    in.unpersist()
    signatures(run)
  }

  def signatures(run: Run): Unit = {
    val spark = run.spark
    val n = 100000L
    val sigs = spark.range(n).select(
      array((0 until 128).map(i => pmod(xxhash64(col("id"), lit(i)), lit(1000L))): _*).as("x"),
      array((0 until 128).map(i => pmod(xxhash64(col("id"), lit(i + 7)), lit(1000L))): _*).as("y"))
      .cache()
    sigs.count()
    run.perLayer("sql.sig_matches.ns_per_row") = kernelNs(sigs, expr("sig_matches(x, y)"), n)
    sigs.unpersist()
    val nt = 20000L
    val words = Gen.DocWords
    val texts = spark.range(nt).select(concat_ws(" ", (0 until 60).map(i =>
      element_at(typedLit(words.toSeq), (pmod(xxhash64(col("id"), lit(i)), lit(words.length.toLong)) + 1)
        .cast("int"))): _*).as("t")).cache()
    texts.count()
    run.perLayer("sql.minhash128.ns_per_row") = kernelNs(texts, expr("minhash128(t)"), nt)
    texts.unpersist()
  }

  def io(run: Run, dir: String, warcBytes: Long): Unit = {
    val spark = run.spark
    val day0 = s"$dir/day0"
    val mb0 = Gen.treeBytes(new File(day0)) / 1048576.0
    def timed(f: => Any): Double = {
      f
      Stats.median(Seq.fill(3) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
    }
    val readS = timed(graft.io.WarcIO.read(spark, day0, "*.warc*")
      .agg(sum(length(col("payload")))).head())
    run.perLayer("io.warc_read_mb_per_s") = mb0 / readS
    val docs = WarcPipeline.ingest(spark, day0).count()
    val ingS = timed(Fingerprint.of(WarcPipeline.ingest(spark, day0)))
    run.perLayer("io.ingest_docs_per_s") = docs / ingS
    val html = graft.io.WarcIO.read(spark, day0, "*.warc*")
      .select(decode(col("payload"), "UTF-8").as("h")).cache()
    val htmlMb = html.agg(sum(length(col("h")))).head().getLong(0) / 1048576.0
    run.perLayer("ops.extract_text_mb_per_s") =
      htmlMb / (kernelNs(html, graft.ops.ExtractText.extractText(col("h")), 1) / 1e9)
    html.unpersist()
  }

  def spatial(run: Run, dir: String): Unit = {
    val spark = run.spark
    val n = 400000L
    val poly = graft.model.PolygonLayer.polys.find(_._1 == 3).get._2
    val in = spark.range(n).select(
      (rand(1) * 360 - 180).as("lon"), (rand(2) * 170 - 85).as("lat"))
      .withColumn("cell", expr("st_tile(lon, lat, 12)"))
      .withColumn("poly", typedLit(graft.model.PolygonLayer.wkb(3)))
      .withColumn("xs", typedLit(poly.map(_._1)))
      .withColumn("ys", typedLit(poly.map(_._2)))
      .cache()
    in.count()
    run.perLayer("sql.st_tile.ns_per_row") = kernelNs(in, expr("st_tile(lon, lat, 12)"), n)
    run.perLayer("sql.st_contains_xy.ns_per_row") =
      kernelNs(in, expr("st_contains_xy(poly, lon, lat)"), n)
    run.perLayer("sql.st_contains_ring.ns_per_row") =
      kernelNs(in, expr("st_contains_ring(xs, ys, lon, lat)"), n)
    run.perLayer("sql.tile_parent.ns_per_row") = kernelNs(in, expr("tile_parent(cell, 4)"), n)
    val boxes = in.limit(50000).select(
      expr("st_makebbox(lon, lat, lon + 0.5, lat + 0.5)").as("g")).cache()
    boxes.count()
    run.perLayer("sql.tiles_for.ns_per_row") = kernelNs(boxes,
      graft.sql.functions.tiles_for(col("g"), array(lit(8))).as(Seq("cell", "x", "y", "z")),
      50000L)
    boxes.unpersist()
    in.unpersist()
    val ring = poly.map { case (x, y) => graft.core.Geom.Pt(x, y) }.toArray
    def rayOnce(): Double = {
      val calls = 20000000L
      var acc = 0L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < calls) {
        if (graft.core.Geom.rayCastInRing(60 + (i % 50000) * 0.001, -20 + (i % 40000) * 0.001, ring)) acc += 1
        i += 1
      }
      val ns = (System.nanoTime() - t0).toDouble / calls
      if (acc < 0) println(acc)
      ns
    }
    rayOnce()
    run.perLayer("core.ray_cast.ns_per_call") = Stats.median(Seq.fill(3)(rayOnce()))
    val vp = Pages.volumePages(spark, dir)
    val pts = vp.count()
    val vs = Stats.median(Seq.fill(3) {
      val t0 = System.nanoTime()
      vp.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    run.perLayer("model.volume_pages_rows_per_s") = pts / vs
  }
}
