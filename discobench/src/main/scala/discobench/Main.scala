package discobench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{CacheScope, DiscogsLoad, SparkEntry, operators}
import graft.operators.DiscogsQueries
import graft.sources.{DiscogsXml, IndexStore, PgBinaryCopy}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.{DataInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.GZIPInputStream
import scala.collection.mutable

/** One workload run in its own JVM: set up, drive one closed-loop
  * client for `--seconds`, then write the run record (operation walls
  * and statuses, set-up times, per-layer numbers when traced, and what
  * the output checks need) to `<work>/record.json`.
  *
  * Usage: `Main --workload load|star|suite --seed N --seconds S
  * --trace 0|1 --work DIR --cores C --labels L --data DIR`, or
  * `Main --gen --seed N --work DIR --labels L` to only write the dumps
  * and their manifest, or `Main --oracle-sql FILE` to only write the
  * suite's oracle SQL per entry.
  */
object Main {

  final case class Args(workload: String = "load", seed: Long = 1L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = "work", cores: Int = 4, labels: Int = 3000,
      data: String = "data", genOnly: Boolean = false, oracleSql: String = "")

  @annotation.tailrec
  def parse(as: List[String], a: Args = Args()): Args = as match {
    case Nil => a
    case "--workload" :: v :: r => parse(r, a.copy(workload = v))
    case "--seed" :: v :: r => parse(r, a.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, a.copy(trace = v == "1"))
    case "--work" :: v :: r => parse(r, a.copy(work = v))
    case "--cores" :: v :: r => parse(r, a.copy(cores = v.toInt))
    case "--labels" :: v :: r => parse(r, a.copy(labels = v.toInt))
    case "--data" :: v :: r => parse(r, a.copy(data = v))
    case "--gen" :: r => parse(r, a.copy(genOnly = true))
    case "--oracle-sql" :: v :: r => parse(r, a.copy(oracleSql = v))
    case bad :: _ => throw new IllegalArgumentException(s"unknown argument $bad")
  }

  /** Per-operation cap: a stuck operation is cancelled and counted as
    * a timeout instead of hanging the run. */
  val OpCapS = 60.0

  /** One operation: `detail` holds what a workload records beside the
    * wall (for `suite`: pass, module, construct time, rows). */
  final case class Op(name: String, status: String, wallS: Double, traced: Boolean,
      detail: Map[String, Any] = Map.empty)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    if (a.genOnly) {
      val d = DumpGen.generate(a.work, a.seed, a.labels)
      write(s"${a.work}/manifest.json", json(d.manifest))
      return
    }
    if (a.oracleSql.nonEmpty) {
      write(a.oracleSql, json(SparkEntry.oracleSql))
      return
    }
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("discobench")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "labels_scale" -> a.labels, "traced" -> a.trace, "session_s" -> sessionS)
    try {
      a.workload match {
        case "load" => new LoadRun(spark, a, rec).run()
        case "star" => new StarRun(spark, a, rec).run()
        case "suite" => new SuiteRun(spark, a, rec).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      rec("peak_rss_mb") = peakRssMb()
      write(s"${a.work}/record.json", json(rec))
      spark.stop()
    }
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8)): Unit

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return -1.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Fisher-Yates shuffle driven by `rng`. */
  def shuffle[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val order = xs.toArray[Any]
    var i = order.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val x = order(i); order(i) = order(j); order(j) = x
      i -= 1
    }
    order.toSeq.asInstanceOf[Seq[T]]
  }

  /** (path, (length, mtime)) of every file under `f`. */
  def listing(f: File): Seq[(String, (Long, Long))] =
    if (f.isFile) Seq(f.getPath -> ((f.length(), f.lastModified())))
    else Option(f.listFiles()).toSeq.flatMap(_.toSeq.flatMap(listing))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

}

/** Shared closed-loop machinery of the two workloads. */
abstract class WorkloadRun(spark: SparkSession, a: Main.Args,
    rec: mutable.LinkedHashMap[String, Any]) {
  import Main._

  val ops = mutable.ArrayBuffer[Op]()
  val layers = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val trace: Option[Trace] = if (a.trace) Some(new Trace(spark)) else None

  /** Runs `body` on its own thread in a cancellable job group; returns
    * (status, wall seconds). A failure or timeout never yields a wall
    * that is reported as a success. */
  def timed(name: String)(body: => Unit): (String, Double) = {
    @volatile var status = "failed"
    @volatile var error = ""
    val group = s"discobench-$name-${ops.size}"
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try { body; status = "ok" }
      catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    th.setDaemon(true)
    th.start()
    th.join((OpCapS * 1000).toLong)
    if (th.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      th.join(30000)
      status = "timeout"
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (status != "ok") System.err.println(s"[discobench] $name $status $error")
    (status, wall)
  }

  /** One closed-loop operation; `traced` attaches the collector to it.
    * By default, in a traced run every other call of each operation
    * carries it, so the same run also gives the untraced walls the
    * tracing overhead is measured against. */
  def op(name: String)(body: => Unit): (Op, Option[Trace.Window]) =
    op(name, a.trace && ops.count(_.name == name) % 2 == 0, Map.empty[String, Any])(body)

  def op(name: String, traced: Boolean, detail: => Map[String, Any])(
      body: => Unit): (Op, Option[Trace.Window]) = {
    val tr = trace.filter(_ => traced)
    tr.foreach(_.attach())
    val t0 = System.currentTimeMillis()
    val (status, wall) = timed(name)(body)
    val t1 = System.currentTimeMillis()
    val w = tr.map { t => t.detach(); t.window(t0, t1) }
    val o = Op(name, status, wall, tr.isDefined, detail)
    ops += o
    (o, w.filter(_ => status == "ok"))
  }

  def check(name: String, ok: Boolean, detail: Any): Unit = {
    if (!ok) System.err.println(s"[discobench] check $name failed: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Generates the seeded dumps once; `gen_s` is part of set-up. */
  def generateDumps(): DumpGen.Dumps = {
    val t0 = System.nanoTime()
    val d = DumpGen.generate(s"${a.work}/dumps", a.seed, a.labels)
    rec("gen_s") = (System.nanoTime() - t0) / 1e9
    d
  }

  /** Median of traced-op walls over median of untraced-op walls, minus
    * one, per operation name; the median over names. */
  def overhead(of: Op => Boolean = _ => true): Double = {
    val ok = ops.filter(o => o.status == "ok" && of(o))
    val ratios = ok.groupBy(_.name).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) Some(median(t.map(_.wallS).toSeq) / median(u.map(_.wallS).toSeq) - 1)
      else None
    }.toSeq
    median(ratios)
  }

  def finish(overheadOf: Op => Boolean = _ => true): Unit = {
    rec("ops") = ops.map(o => o.detail ++ Map("name" -> o.name, "status" -> o.status,
      "wall_s" -> o.wallS, "traced" -> o.traced))
    rec("checks") = checks
    if (a.trace) {
      layers("trace.overhead_frac") = overhead(overheadOf)
      layers("jvm.peak_rss_mb") = peakRssMb()
      rec("layers") = layers
    }
  }

  def run(): Unit
}

/** `load`: the paper's pipeline. Each operation loads the four dumps
  * with `DiscogsLoad.run` to parquet and streams all 7 tables through
  * `PgBinaryCopy.RowStream` into a null sink, partition by partition,
  * as the JDBC sink's binary COPY path does. */
final class LoadRun(spark: SparkSession, a: Main.Args,
    rec: mutable.LinkedHashMap[String, Any]) extends WorkloadRun(spark, a, rec) {
  import Main._
  import LoadRun._

  /** Streams one table through binary-COPY framing into a null sink:
    * (rows, bytes); with `verify`, a decoder takes the null sink's place:
    * (rows, tuples decoded). */
  def copyTable(path: String, verify: Boolean): (Long, Long) = {
    val df = spark.read.parquet(path)
    val schema = df.schema
    val rows = spark.sparkContext.longAccumulator
    val bytes = spark.sparkContext.longAccumulator
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      val stream = new PgBinaryCopy.RowStream(it.map { r => n += 1; r }, schema)
      bytes.add(if (verify) LoadRun.decode(stream, schema.length) else LoadRun.drain(stream))
      rows.add(n)
    }
    (rows.value, bytes.value)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val dumps = generateDumps()
    val files = Entities.map(dumps.files)
    val dumpBytes = files.map(f => new File(f).length()).sum
    val records = dumps.manifest("records").asInstanceOf[Long]
    rec("manifest") = dumps.manifest
    rec("records_per_op") = records
    // every load writes a fresh directory: an operation never pays for
    // deleting the output of the one before, and the run deletes
    // nothing while it measures
    var cycles = 0
    def out(i: Int) = s"${a.work}/out/$i"
    val copyRows = mutable.LinkedHashMap[String, Long]()
    val copyBytes = mutable.LinkedHashMap[String, Long]()
    var loadS = 0.0
    var copyS = 0.0
    def cycle(): Unit = {
      val l0 = System.nanoTime()
      DiscogsLoad.run(DiscogsLoad.Opts(files = files, out = out(cycles)), spark)
      val l1 = System.nanoTime()
      Tables.foreach { t =>
        val (r, b) = copyTable(s"${out(cycles)}/$t", verify = false)
        copyRows(t) = r; copyBytes(t) = b
      }
      loadS = (l1 - l0) / 1e9
      copyS = (System.nanoTime() - l1) / 1e9
    }
    // DiscogsLoad.run leaves its tables persisted in the caller's
    // session; a fresh CLI process starts without them, so every cycle
    // starts from an empty cache
    def reset(): Unit = {
      spark.catalog.clearCache()
      cycles += 1
    }

    // warm-up: full loads until the JIT has settled, i.e. the last two
    // walls agree within WarmTol, at least WarmMin and at most WarmMax
    // of them. The first load in a JVM takes about three times as long
    // as the fourth; the driver's planning and scheduling paths, which
    // run once per job, keep getting faster for about eight loads
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer[Double]()
    def settled = warm.length >= WarmMin &&
      warm.takeRight(2).max <= (1 + WarmTol) * warm.takeRight(2).min
    while (!settled && warm.length < WarmMax) {
      val c0 = System.nanoTime()
      cycle(); reset()
      warm += (System.nanoTime() - c0) / 1e9
    }
    rec("warm_walls_s") = warm.toSeq
    rec("warm_s") = (System.nanoTime() - w0) / 1e9
    rec("setup_s") = rec("session_s").asInstanceOf[Double] +
      rec("gen_s").asInstanceOf[Double] + rec("warm_s").asInstanceOf[Double]

    if (a.trace) probes(dumps, files, dumpBytes)

    val windows = mutable.ArrayBuffer[(Trace.Window, Double, Double)]()
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds) {
      val (_, w) = op("load")(cycle())
      w.foreach(x => windows += ((x, loadS, copyS)))
      reset()
    }
    rec("timed_s") = (System.nanoTime() - start) / 1e9

    // untimed: one more pass decodes every stream's framing
    val last = out(cycles - 1)
    Tables.foreach { t =>
      val (rows, tuples) = copyTable(s"$last/$t", verify = true)
      check(s"copy_framing.$t", rows == tuples && tuples == copyRows.getOrElse(t, -1L),
        Map("rows" -> copyRows.getOrElse(t, -1L), "decoded" -> tuples))
    }
    rec("copy_rows") = copyRows
    rec("out_dir") = new File(last).getAbsolutePath

    if (a.trace) {
      val copyTotalRows = copyRows.values.sum
      def med(f: ((Trace.Window, Double, Double)) => Double) = median(windows.map(f).toSeq)
      layers("load.DiscogsXml.input_read_ratio") = med(_._1.bytesScanned("xml").toDouble / dumpBytes)
      layers("load.Sinks.write_s") = med(_._1.jobWallS("Sinks.scala"))
      layers("load.Sinks.bytes_out_per_byte_in") =
        Tables.map(t => dirBytes(new File(s"$last/$t"))).sum.toDouble / dumpBytes
      layers("load.PgBinaryCopy.encode_s") = med(_._3)
      layers("load.PgBinaryCopy.bytes_per_row") =
        copyBytes.values.sum.toDouble / math.max(1L, copyTotalRows)
      layers("load.spark.cpu_s") = med(_._1.cpuS)
      layers("load.spark.core_busy_frac") = med(x => x._1.taskS / (x._1.wallS * a.cores))
      layers("load.spark.shuffle_write_mb") = med(_._1.shuffleWriteMb)
      layers("load.spark.spill_mb") = med(_._1.spillMb)
      layers("load.spark.jobs") = med(_._1.jobs.size.toDouble)
      layers("load.spark.driver_gap_s") = med(_._1.driverGapS)
      layers("load.load_s") = med(_._2)
      windows.headOption.foreach(w => rec("trace_jobs") = w._1.jobDetail)
    }
    rec("elapsed_s") = (System.nanoTime() - t0) / 1e9
    finish()
  }

  /** Traced-run probes of single layers, each through a public call:
    * the JDK gunzip floor, one parse per entity, and the reject and
    * dedup counts. */
  def probes(dumps: DumpGen.Dumps, files: Seq[String], dumpBytes: Long): Unit = {
    val drains = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      files.foreach(f => LoadRun.drain(new GZIPInputStream(new FileInputStream(f), 1 << 16)))
      (System.nanoTime() - t0) / 1e9
    }
    layers("load.gzip.drain_s") = median(drains)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val parse = Seq[(String, String => DataFrame)](
      "releases" -> (p => DiscogsXml.readReleases(spark, p).release),
      "artists" -> (p => DiscogsXml.readArtists(spark, p)),
      "labels" -> (p => DiscogsXml.readLabels(spark, p)),
      "masters" -> (p => DiscogsXml.readMasters(spark, p).master))
    var kept = 0L
    parse.foreach { case (entity, read) =>
      val t0 = System.nanoTime()
      noop(read(dumps.files(entity)))
      layers(s"load.DiscogsXml.parse_s.$entity") = (System.nanoTime() - t0) / 1e9
      kept += read(dumps.files(entity)).count()
    }
    val rejects = files.map(f => DiscogsXml.rejects(spark, f).count()).sum
    layers("load.DiscogsXml.rejects") = rejects.toDouble
    val records = dumps.manifest("records").asInstanceOf[Long]
    layers("load.DiscogsXml.dedup_keep_ratio") = kept.toDouble / math.max(1L, records - rejects)
  }
}

object LoadRun {
  val WarmMin = 6
  val WarmMax = 8
  val WarmTol = 0.05
  val Tables = Seq("release", "release_label", "release_video", "artist", "label",
    "master", "master_artist")
  val Entities = Seq("releases", "artists", "labels", "masters")

  /** Null sink: reads a stream to its end; returns bytes read. */
  def drain(in: java.io.InputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    var k = in.read(buf, 0, buf.length)
    while (k >= 0) { total += k; k = in.read(buf, 0, buf.length) }
    in.close()
    total
  }

  /** Walks binary-COPY framing (header, tuples of `fields` fields,
    * trailer) and returns the tuple count; throws on any framing error. */
  def decode(in: java.io.InputStream, fields: Int): Long = {
    val d = new DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
    val head = new Array[Byte](PgBinaryCopy.header.length)
    d.readFully(head)
    require(head.sameElements(PgBinaryCopy.header), "bad COPY header")
    var tuples = 0L
    var n = d.readShort().toInt
    while (n != -1) {
      require(n == fields, s"tuple with $n fields, expected $fields")
      var i = 0
      while (i < n) {
        val len = d.readInt()
        if (len > 0) d.skipNBytes(len.toLong)
        i += 1
      }
      tuples += 1
      n = d.readShort().toInt
    }
    require(d.read() == -1, "bytes after the COPY trailer")
    tuples
  }
}

/** `star`: read-only query rounds over the star schema a load of the
  * same seed wrote. Each round runs every operator once, in a
  * seed-shuffled order; an operator call is one closed-loop operation,
  * executed to a no-op sink. */
final class StarRun(spark: SparkSession, a: Main.Args,
    rec: mutable.LinkedHashMap[String, Any]) extends WorkloadRun(spark, a, rec) {
  import Main._

  /** A call reads the tables it uses, by name, as a user's query would. */
  type T = String => DataFrame

  def run(): Unit = {
    val t0 = System.nanoTime()
    val dumps = generateDumps()
    rec("manifest") = dumps.manifest
    val star = s"${a.work}/star"
    val l0 = System.nanoTime()
    DiscogsLoad.run(DiscogsLoad.Opts(files = LoadRun.Entities.map(dumps.files), out = star), spark)
    spark.catalog.clearCache()
    rec("load_s") = (System.nanoTime() - l0) / 1e9
    rec("out_dir") = new File(star).getAbsolutePath

    val tables: T = n => spark.read.parquet(s"$star/$n")
    val ids = dumps.releaseIds
    val words = dumps.titleWords.map(_.toLowerCase)
    val rng = new SplittableRandom(a.seed * 7919L + 17L)
    // (name, query builder); the Int argument picks the call's parameter
    val mix: Seq[(String, (T, Int) => DataFrame)] = Seq(
      "releaseById" -> ((t, k) => DiscogsQueries.releaseById(t("release"), ids(k % ids.length))),
      "searchTitles" -> ((t, k) => DiscogsQueries.searchTitles(t("release"), words(k % words.length))),
      "latestReleases" -> ((t, _) => DiscogsQueries.latestReleases(t("release"))),
      "releaseWithLabels" -> ((t, _) => DiscogsQueries.releaseWithLabels(t("release"), t("release_label"))),
      "releaseWithVideos" -> ((t, _) => DiscogsQueries.releaseWithVideos(t("release"), t("release_video"))),
      "releaseLabelDim" -> ((t, _) => DiscogsQueries.releaseLabelDim(t("release_label"), t("label"))),
      "releaseMasterArtists" -> ((t, _) => DiscogsQueries.releaseMasterArtists(t("release"),
        t("master"), t("master_artist"), t("artist"))),
      "releasesPerGenre" -> ((t, _) => DiscogsQueries.releasesPerGenre(t("release"))),
      "genreCooccurrence" -> ((t, _) => DiscogsQueries.genreCooccurrence(t("release"))),
      "labelCatalogStats" -> ((t, _) => DiscogsQueries.labelCatalogStats(t("release_label"))),
      "distinctCreditedArtists" -> ((t, _) => DiscogsQueries.distinctCreditedArtists(t("master_artist"))),
      "topReleasesPerLabel" -> ((t, _) => DiscogsQueries.topReleasesPerLabel(t("release"), t("release_label"))),
      "nearDuplicateArtists" -> ((t, _) => DiscogsQueries.nearDuplicateArtists(t("artist"))))
    val lookups = Set("releaseById", "searchTitles")

    def call(q: (T, Int) => DataFrame, k: Int): Unit =
      q(tables, k).write.format("noop").mode("overwrite").save()
    val plans = mutable.ArrayBuffer[Double]()
    val windows = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Trace.Window, Long)]]()
    def round(timed: Boolean): Unit = {
      val order = shuffle(mix, rng)
      order.foreach { case (name, q) =>
        val k = rng.nextInt(1 << 30)
        if (timed) {
          if (a.trace) {
            // optimization and physical planning of the call's query
            // (analysis ran when it was built), outside its wall; the
            // call plans it again
            val d = q(tables, k)
            val p0 = System.nanoTime()
            d.queryExecution.executedPlan
            plans += (System.nanoTime() - p0) / 1e9
          }
          val (_, w) = op(name)(call(q, k))
          w.foreach { x =>
            // rows returned, counted after the window closed
            val n = if (lookups(name)) q(tables, k).count() else 0L
            windows.getOrElseUpdate(name, mutable.ArrayBuffer()) += ((x, n))
          }
        } else call(q, k)
        CacheScope.releaseAll()
      }
    }

    // warm-up: three untimed rounds; the first in a JVM takes about
    // twice as long as the later ones
    val w0 = System.nanoTime()
    (1 to 3).foreach(_ => round(timed = false))
    rec("warm_s") = (System.nanoTime() - w0) / 1e9
    rec("setup_s") = rec("session_s").asInstanceOf[Double] +
      rec("gen_s").asInstanceOf[Double] + rec("load_s").asInstanceOf[Double] +
      rec("warm_s").asInstanceOf[Double]

    // whole rounds only, so every run weighs the operators alike
    val start = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - start) / 1e9 < a.seconds) { round(timed = true); rounds += 1 }
    rec("timed_s") = (System.nanoTime() - start) / 1e9
    rec("rounds") = rounds

    // untimed: one call per operator with a recorded parameter, its
    // result written as parquet for the DuckDB oracle
    val results = mutable.LinkedHashMap[String, Any]()
    mix.foreach { case (name, q) =>
      val k = 0
      val path = s"${a.work}/results/$name"
      val params: Map[String, Any] = name match {
        case "releaseById" => Map("id" -> ids(k % ids.length))
        case "searchTitles" => Map("needle" -> words(k % words.length))
        case _ => Map.empty
      }
      try {
        q(tables, k).write.mode("overwrite").parquet(path)
        results(name) = Map("path" -> new File(path).getAbsolutePath, "params" -> params)
      } catch {
        case e: Throwable => check(s"star_result.$name", ok = false, e.getMessage)
      }
      CacheScope.releaseAll()
    }
    rec("star_results") = results

    if (a.trace) {
      mix.foreach { case (name, _) =>
        layers(s"star.DiscogsQueries.${name}_s") =
          median(windows.getOrElse(name, Nil).map(_._1.wallS).toSeq)
      }
      val all = windows.values.flatten.map(_._1).toSeq
      def mean(f: Trace.Window => Double) = if (all.isEmpty) 0.0 else all.map(f).sum / all.size
      layers("star.spark.plan_s") = if (plans.isEmpty) 0.0 else plans.sum / plans.size
      layers("star.spark.exec_s") = mean(_.jobsS)
      layers("star.spark.shuffle_mb") = mean(_.shuffleMb)
      layers("star.spark.cpu_s") = mean(_.cpuS)
      layers("star.spark.jobs_per_query") = mean(_.jobs.size.toDouble)
      layers("star.spark.driver_gap_s") = mean(_.driverGapS)
      val lk = lookups.toSeq.flatMap(n => windows.getOrElse(n, Nil))
      layers("star.Sinks.rows_read_per_row_returned") =
        lk.map(_._1.recordsRead).sum.toDouble / math.max(1L, lk.map(_._2).sum)
    }
    rec("elapsed_s") = (System.nanoTime() - t0) / 1e9
    finish()
  }
}

/** `suite`: a fixed sample of the `SparkEntry.queries` entries
  * ([[SuiteRun.Sample]]) over the fixed sf0.01 data, in a seed-shuffled
  * order. Set-up runs one untimed pass at sf0.001 and then deletes the
  * index stores; the timed window is one cold pass (index-backed
  * entries build their stores) followed by warm passes that reuse
  * them. One call builds the entry's frame (eager checkpoints and index
  * builds run here) and counts its rows. */
final class SuiteRun(spark: SparkSession, a: Main.Args,
    rec: mutable.LinkedHashMap[String, Any]) extends WorkloadRun(spark, a, rec) {
  import Main._
  import SuiteRun._

  def run(): Unit = {
    val t0 = System.nanoTime()
    val timedDir = new File(s"${a.data}/sf0.01").getAbsolutePath
    val warmDir = new File(s"${a.data}/sf0.001").getAbsolutePath
    val stores = Seq(new File(s"${a.work}/index"), new File(s"${a.work}/warehouse"))
    IndexStore.root = stores.head.getAbsolutePath
    val entries = shuffle(SparkEntry.queries.toSeq.filter(e => Sample.contains(e._1)).sortBy(_._1),
      new SplittableRandom(a.seed * 7919L + 29L))
    rec("entry_order") = entries.map(_._1)
    rec("data_dir") = timedDir

    val released = mutable.ArrayBuffer[(String, Boolean, Double)]()
    val windows = mutable.ArrayBuffer[(Op, Trace.Window)]()
    val indexed = mutable.LinkedHashSet[String]()
    def pass(kind: String, tracedAt: Int => Boolean): Double = {
      val p0 = System.nanoTime()
      entries.zipWithIndex.foreach { case ((name, fn), i) =>
        val traced = tracedAt(i)
        spark.catalog.clearCache()
        val before = if (kind == "cold") stores.flatMap(listing).toMap else Map.empty
        var construct = 0.0
        var plan = 0.0
        var rows = -1L
        val (o, w) = op(name, traced, Map("pass" -> kind, "module" -> moduleOf(name),
            "construct_s" -> construct, "plan_s" -> plan, "rows" -> rows)) {
          val c0 = System.nanoTime()
          val df = fn(spark, timedDir)
          construct = (System.nanoTime() - c0) / 1e9
          if (traced) {
            val q0 = System.nanoTime()
            df.queryExecution.executedPlan
            plan = (System.nanoTime() - q0) / 1e9
          }
          rows = df.count()
        }
        w.foreach(x => windows += ((o, x)))
        if (kind == "cold" && stores.flatMap(listing).toMap != before) indexed += name
        val r0 = System.nanoTime()
        CacheScope.releaseAll()
        released += ((kind, traced, (System.nanoTime() - r0) / 1e9))
      }
      (System.nanoTime() - p0) / 1e9
    }

    // warm-up at sf0.001, untimed; its index keys differ from sf0.01's,
    // and the stores are deleted after it anyway
    val w0 = System.nanoTime()
    entries.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      timed(s"warmup-$name")(fn(spark, warmDir).count(): Unit)
      CacheScope.releaseAll()
    }
    stores.foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    rec("warm_s") = (System.nanoTime() - w0) / 1e9
    rec("setup_s") = rec("session_s").asInstanceOf[Double] + rec("warm_s").asInstanceOf[Double]

    // cold, then warm passes until `--seconds` have passed. A traced run
    // makes two warm passes and traces every entry in one of them, the
    // even positions in the first pass and the odd ones in the second,
    // so that the traced and the untraced calls see the same warm-up
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer[(String, Double)]()
    passes += (("cold", pass("cold", _ => a.trace)))
    if (a.trace) Seq(0, 1).foreach(r => passes += (("warm", pass("warm", _ % 2 == r))))
    else do passes += (("warm", pass("warm", _ => false)))
    while ((System.nanoTime() - start) / 1e9 < a.seconds)
    rec("timed_s") = (System.nanoTime() - start) / 1e9
    rec("passes") = passes.map { case (k, s) => Map("pass" -> k, "wall_s" -> s) }
    rec("index_backed") = indexed.toSeq

    if (a.trace) {
      def pass0(o: Op) = o.detail("pass").asInstanceOf[String]
      val ok = ops.filter(o => o.status == "ok" && o.traced)
      val cold = ok.filter(pass0(_) == "cold")
      val warm = ok.filter(pass0(_) == "warm")
      val warmW = windows.filter(x => pass0(x._1) == "warm").toSeq
      def d(o: Op, k: String) = o.detail(k).asInstanceOf[Double]
      Modules.foreach { case (m, keys) =>
        val ws = warmW.filter(x => keys(x._1.name)).map(_._2)
        layers(s"suite.$m.cold_s") = cold.filter(o => keys(o.name)).map(_.wallS).sum
        layers(s"suite.$m.warm_s") = warm.filter(o => keys(o.name)).map(_.wallS).sum
        layers(s"suite.$m.construct_s") = warm.filter(o => keys(o.name)).map(d(_, "construct_s")).sum
        layers(s"suite.$m.plan_s") = warm.filter(o => keys(o.name)).map(d(_, "plan_s")).sum
        layers(s"suite.$m.exec_s") = ws.map(_.jobsS).sum
        layers(s"suite.$m.cpu_s") = ws.map(_.cpuS).sum
        layers(s"suite.$m.shuffle_mb") = ws.map(_.shuffleMb).sum
        layers(s"suite.$m.spill_mb") = ws.map(_.spillMb).sum
        layers(s"suite.$m.driver_gap_s") = ws.map(_.driverGapS).sum
      }
      layers("suite.cold_s") = cold.map(_.wallS).sum
      layers("suite.warm_s") = warm.map(_.wallS).sum
      val warmOf = warm.map(o => o.name -> o.wallS).toMap
      layers("suite.IndexStore.build_s") = cold.filter(o => indexed(o.name))
        .flatMap(o => warmOf.get(o.name).map(o.wallS - _)).sum
      layers("suite.CacheScope.release_s") = released.filter(r => r._1 == "warm" && r._2).map(_._3).sum
      layers("suite.spark.max_task_skew") = (0.0 +: warmW.map(_._2.maxTaskSkew)).max
    }
    rec("elapsed_s") = (System.nanoTime() - t0) / 1e9
    finish(o => o.detail.get("pass").contains("warm"))
  }
}

object SuiteRun {
  /** The suite's modules, each with the keys of its public `queries`. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> operators.Relational.queries.keySet,
    "Relational2" -> operators.Relational2.queries.keySet,
    "Curation" -> operators.Curation.queries.keySet,
    "Dedup" -> operators.Dedup.queries.keySet,
    "Similarity" -> operators.Similarity.queries.keySet,
    "Retrieval" -> operators.Retrieval.queries.keySet,
    "TextAnalysis" -> operators.TextAnalysis.queries.keySet,
    "Multimodal" -> operators.Multimodal.queries.keySet,
    "DiscogsStar" -> operators.DiscogsStar.queries.keySet)

  /** Every `Stride`-th entry of each module in name order, and every
    * entry of DiscogsStar, the module of the paper's own star schema.
    * A pass over all 194 entries takes about 100 s cold and 75 s warm
    * on 4 cores, more than one run can hold; every 8th entry still
    * made a run take about a minute, more than the benchmark's total
    * time budget allows over all its runs. */
  val Stride = 16
  val Sample: Set[String] = Modules.flatMap { case (m, keys) =>
    val names = keys.toSeq.sorted
    if (m == "DiscogsStar") names else names.grouped(Stride).map(_.head)
  }.toSet

  def moduleOf(name: String): String = Modules.find(_._2(name)).map(_._1).getOrElse("")
}
